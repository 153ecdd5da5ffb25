"""Text-analysis functions: language ID, quality features, token
counts, fingerprints — including the cross-engine hash contract."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from py_data_pipeline_app_spark.functions import text as TXT


def _one(spark, s, expr):
    return (
        spark.createDataFrame([(s,)], ["text"]).select(expr.alias("v")).first().v
    )


def test_md5_long_matches_python(spark):
    for s in ("hello", "spark", "日本語"):
        want = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        assert _one(spark, s, TXT.md5_long(F.col("text"))) == want


def test_normalize_text(spark):
    got = _one(
        spark, "  Hello,  WORLD!! 42 ", TXT.normalize_text(F.col("text"))
    )
    assert got == "hello world 42"


def test_token_counts(spark):
    s = "Hello, world! This has 7 tokens?"
    assert _one(spark, s, TXT.token_count_ws(F.col("text"))) == 6
    # letters runs: Hello world This has tokens (5), digits: 7 (1),
    # marks: , ! ? (3)  => 9
    assert _one(spark, s, TXT.token_count_bpe(F.col("text"))) == 9


def test_lang_id_stopword_routing(spark):
    cases = {
        "the cat and the dog of it": "en",
        "le chat et la maison des gens": "fr",
        "el perro y la casa los gatos": "es",
        "der hund und das haus ist nicht": "de",
        "这是 中文 文本": "zh",
        "xyzzy plugh qwerty": "und",
    }
    for s, want in cases.items():
        assert _one(spark, s, TXT.lang_id(F.col("text"))) == want, s


def test_lang_id_tie_break_precedence(spark):
    # 'la' is in both fr and es lists; 'un'/'una' overlap too. A pure
    # tie must resolve by frozen order (en > fr > es > de).
    s = "la un"  # fr hits: la, un (2); es hits: la, un (2) -> fr wins
    assert _one(spark, s, TXT.lang_id(F.col("text"))) == "fr"


def test_quality_features_known_values(spark):
    s = "aa bb aa"
    feats = TXT.quality_features(F.col("text"))
    df = spark.createDataFrame([(s,)], ["text"]).select(
        *[e.alias(n) for n, e in feats.items()]
    )
    r = df.first()
    assert r.n_chars == 8
    assert r.n_tokens == 3
    assert r.n_types == 2
    assert r.punct_ratio == 0.0
    assert abs(r.type_token_ratio - round(2 / 3, 6)) < 1e-9
    assert 0.0 <= r.quality_score <= 1.0


def test_doc_fingerprint_stability_and_sensitivity(spark):
    df = TXT.with_doc_fingerprints(
        spark.createDataFrame(
            [(0, "Hello, World!"), (1, "hello   world"), (2, "goodbye world")],
            ["pos", "text"],
        ),
        "text",
    )
    rows = sorted(df.collect(), key=lambda r: r.pos)
    # normalization folds case/punct/whitespace -> same fingerprint
    assert rows[0].md5_fingerprint == rows[1].md5_fingerprint
    assert rows[0].md5_fingerprint != rows[2].md5_fingerprint
    assert rows[0].min_gram_hash <= rows[0].max_gram_hash


def test_perm_coeffs_deterministic_and_distinct():
    c1 = TXT.perm_coeffs(32)
    c2 = TXT.perm_coeffs(32)
    assert c1 == c2
    assert len(set(c1)) == 32
    for a, b in c1:
        assert 0 < a < TXT.HASH_PRIME
        assert 0 <= b < TXT.HASH_PRIME


def test_strip_html_blocks_tags_entities(spark):
    from py_data_pipeline_app_spark.functions.text import html_tag_count, strip_html

    rows = [
        (1, '<html><p class="a">hello <b>world</b></p></html>'),
        (2, 'no markup at all'),
        (3, '<script type="x">var a = "<p>hidden</p>";</script>after'),
        (4, '<STYLE>body { color: red }</STYLE>kept'),
        (5, 'a &amp;amp; b &lt;tag&gt; &nbsp; c &quot;q&quot; &#39;s&#39;'),
        (6, '  spaced   <br/>   out  '),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    out = {
        r.id: r
        for r in df.select(
            "id",
            strip_html("t").alias("clean"),
            html_tag_count("t").alias("n"),
        ).collect()
    }
    assert out[1].clean == "hello world" and out[1].n == 6
    assert out[2].clean == "no markup at all" and out[2].n == 0
    # script BODY (including its inner tag) is dropped wholesale
    assert out[3].clean == "after"
    # style is case-insensitive
    assert out[4].clean == "kept"
    # ordered entity chain: &amp;amp; -> &amp; ; &lt;tag&gt; -> <tag>
    assert out[5].clean == 'a &amp; b <tag> c "q" \'s\''
    assert out[6].clean == "spaced out"


def test_source_reputation_flags_junk_source(spark):
    """A source of OOV-heavy junk must land above the corpus-mean
    cross-entropy and lose reputation; the clean source keeps it."""
    from py_data_pipeline_app_spark.operators.curation import source_reputation

    clean = [(i, "the quick brown fox jumps over the lazy dog", "good")
             for i in range(20)]
    junk = [(100 + i, f"zzq{i}a wwx{i}b qqy{i}c vvz{i}d", "spamfarm")
            for i in range(5)]
    df = spark.createDataFrame(clean + junk, ["doc_id", "text", "source"])
    out = {r.source: r for r in source_reputation(df, vocab_size=8).collect()}
    assert out["good"].reputable
    assert not out["spamfarm"].reputable
    assert out["spamfarm"].mean_ce > out["good"].mean_ce
    assert out["good"].n_docs == 20 and out["spamfarm"].n_docs == 5
    assert out["good"].overall_ce == out["spamfarm"].overall_ce
