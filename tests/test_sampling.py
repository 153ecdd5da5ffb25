"""Deterministic sampling/splitting and skew-mitigation operators.

Properties under test (the contracts the 100 TB design leans on):
- split/sample membership is a pure function of the key: stable under
  repartitioning and under corpus growth (incremental re-runs);
- split is total and exclusive; proportions track the weights;
- salted join / salted agg are result-identical to their plain forms.
"""

import pytest
from pyspark.sql import functions as F

from py_data_pipeline_app_spark.operators.sampling import (
    hash_split,
    stratified_sample,
)
from py_data_pipeline_app_spark.operators.skew import salted_join
from py_data_pipeline_app_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, "documents", sf_dir).cache()


WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def test_split_total_and_exclusive(docs):
    split = hash_split(docs, "doc_id", WEIGHTS)
    rows = split.groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in rows}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == docs.count()
    total = sum(counts.values())
    assert abs(counts["train"] / total - 0.8) < 0.1


def test_split_stable_under_repartition(docs):
    a = hash_split(docs, "doc_id", WEIGHTS).select("doc_id", "split")
    b = hash_split(docs.repartition(7, "lang"), "doc_id", WEIGHTS).select(
        "doc_id", "split"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_split_stable_under_corpus_growth(docs):
    """A document's split must not change when the corpus grows — the
    property that lets an incremental pipeline re-run without leaking
    rows across the train/test boundary."""
    subset = docs.where(F.col("doc_id") % 3 == 0)
    full = hash_split(docs, "doc_id", WEIGHTS).where(F.col("doc_id") % 3 == 0)
    sub = hash_split(subset, "doc_id", WEIGHTS)
    assert (
        full.select("doc_id", "split")
        .exceptAll(sub.select("doc_id", "split"))
        .count()
        == 0
    )


def test_split_seed_independence(docs):
    """Different seeds draw independent assignments: the overlap of
    train(seed A) and train(seed B) is ~64%, not 100%."""
    a = hash_split(docs, "doc_id", WEIGHTS, seed="s1").where("split = 'train'")
    b = hash_split(docs, "doc_id", WEIGHTS, seed="s2").where("split = 'train'")
    inter = a.select("doc_id").intersect(b.select("doc_id")).count()
    assert inter < a.count()  # not the same set


def test_stratified_fractions(docs):
    kept = stratified_sample(docs, "doc_id", "lang", {"en": 0.25})
    n_en_all = docs.where("lang = 'en'").count()
    n_en_kept = kept.where("lang = 'en'").count()
    # 25% +- generous tolerance at sf0.001 cardinality
    assert 0.05 < n_en_kept / n_en_all < 0.5
    # non-listed strata keep default_fraction=1.0: untouched
    assert (
        kept.where("lang <> 'en'").count() == docs.where("lang <> 'en'").count()
    )


def test_stratified_is_subset(docs):
    kept = stratified_sample(docs, "doc_id", "lang", {"en": 0.25}, 0.5)
    assert kept.exceptAll(docs).count() == 0


def test_salted_join_parity(spark, sf_dir):
    orders = load_table(spark, "orders", sf_dir).withColumnRenamed(
        "o_custkey", "custkey"
    )
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment", "c_acctbal"
    )
    plain = orders.join(cust, "custkey")
    salted = salted_join(orders, cust, "custkey", salt_from="o_orderkey", n_salts=4)
    cols = sorted(plain.columns)
    assert salted.select(*cols).exceptAll(plain.select(*cols)).count() == 0
    assert plain.select(*cols).exceptAll(salted.select(*cols)).count() == 0


def test_approx_distinct_close_to_exact(spark, sf_dir):
    """The documented 100 TB swap for event_user_distinct: HLL++ sketch
    within 5% of the exact distinct count."""
    ev = load_table(spark, "events", sf_dir)
    rows = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    ).collect()
    for r in rows:
        assert abs(r["approx"] - r["exact"]) / r["exact"] <= 0.05


def test_source_cap_sample_caps_and_is_order_independent(spark):
    from py_data_pipeline_app_spark.operators.sampling import source_cap_sample

    rows = [(i, f"src{i % 3}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = source_cap_sample(df, cap=5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    assert set(by_src) == {"src0", "src1", "src2"}
    for src, kept in by_src.items():
        assert len(kept) == 5
        assert sorted(r.src_rank for r in kept) == [1, 2, 3, 4, 5]
        assert all(r.src_total in (13, 14) for r in kept)
    # determinism + order independence: shuffled input keeps the same ids
    ids = {r.doc_id for r in out}
    shuffled = df.orderBy(F.md5(F.col("doc_id").cast("string"))).repartition(7)
    ids2 = {r.doc_id for r in source_cap_sample(shuffled, cap=5).collect()}
    assert ids == ids2
    # a source under the cap is kept in full
    small = spark.createDataFrame([(100, "tiny"), (101, "tiny")], "doc_id long, source string")
    assert source_cap_sample(small, cap=5).count() == 2


def test_source_temperature_mix_quotas_and_determinism(spark):
    """Quotas follow floor(sqrt(n))-proportional integer arithmetic,
    never exceed the budget, and membership is a pure function of the
    id hash (re-partitioning the input changes nothing)."""
    import hashlib
    import math

    from py_data_pipeline_app_spark.operators.sampling import (
        source_temperature_mix,
    )

    sizes = {"big": 400, "mid": 100, "tiny": 4}
    rows, i = [], 0
    for src, n in sizes.items():
        for _ in range(n):
            rows.append((i, src))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = source_temperature_mix(df, total_target=60).collect()

    w = {s: math.isqrt(n) for s, n in sizes.items()}  # 20, 10, 2
    total_w = sum(w.values())
    expected_quota = {s: 60 * ws // total_w for s, ws in w.items()}
    got_quota = {}
    per_src = {}
    for r in out:
        got_quota[r.source] = r.quota
        per_src.setdefault(r.source, []).append(r)
    assert got_quota == {s: q for s, q in expected_quota.items() if q > 0}
    for s, rs in per_src.items():
        assert len(rs) == expected_quota[s]
        assert all(r.src_total == sizes[s] for r in rs)
    assert sum(len(rs) for rs in per_src.values()) <= 60

    # membership matches the python model of the hash rank
    def bucket(doc_id, seed="mix"):
        h = int(hashlib.md5(f"{doc_id}:{seed}".encode()).hexdigest()[:15], 16)
        return h % 10_000

    by_src = {}
    for doc_id, src in rows:
        by_src.setdefault(src, []).append(doc_id)
    for s, ids in by_src.items():
        want = set(
            sorted(ids, key=lambda d: (bucket(d), d))[: expected_quota[s]]
        )
        got = {r.doc_id for r in per_src.get(s, [])}
        assert got == want, s

    # stable under a different partitioning
    out2 = source_temperature_mix(df.repartition(7), total_target=60).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_source_temperature_mix_flattens_head(spark):
    """The α=0.5 mixture gives the head source a SMALLER corpus share
    than proportional sampling and the tail a larger one — the whole
    point of temperature flattening."""
    from py_data_pipeline_app_spark.operators.sampling import (
        source_temperature_mix,
    )

    rows = [(i, "head" if i < 900 else "tail") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = source_temperature_mix(df, total_target=100).collect()
    share = {}
    for r in out:
        share[r.source] = share.get(r.source, 0) + 1
    total = sum(share.values())
    assert share["head"] / total < 0.9  # proportional would be 0.9
    assert share["tail"] / total > 0.1


def test_epoch_oversample_ratios_and_stability(spark):
    """Copy counts hit the exact per-source expectation (hash-fraction,
    not RNG), rerunning is bit-stable, and epochs < 1 subsample."""
    from py_data_pipeline_app_spark.operators.sampling import epoch_oversample

    rows = [(i, f"s{i % 3}",) for i in range(3000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    import pyspark.sql.functions as F

    out = epoch_oversample(df, {"s0": 2.5, "s1": 0.25}, default_epochs=1.0)
    counts = {
        r.source: r.n
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # 1000 docs per source; hash-fraction keeps the ratio within a few %
    assert abs(counts["s0"] - 2500) < 100, counts
    assert abs(counts["s1"] - 250) < 60, counts
    assert counts["s2"] == 1000
    # every copy is addressable and contiguous from 1
    per_doc = out.groupBy("doc_id").agg(
        F.max("epoch_copy").alias("mx"), F.count("*").alias("n")
    )
    assert per_doc.filter(F.col("mx") != F.col("n")).count() == 0
    # determinism: same rows on a rerun
    again = epoch_oversample(df, {"s0": 2.5, "s1": 0.25}, default_epochs=1.0)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_epoch_oversample_rejects_negative(spark):
    import pytest as _pytest

    from py_data_pipeline_app_spark.operators.sampling import epoch_oversample

    df = spark.createDataFrame([(1, "a")], ["doc_id", "source"])
    with _pytest.raises(ValueError):
        epoch_oversample(df, {"a": -1.0})


def test_token_budget_mix_respects_quotas_and_flattens(spark):
    """Token-currency mixing (round 11): per-source kept tokens never
    exceed the integer quota, quotas sum ≤ the budget, membership is
    the strict hash-rank prefix (deterministic across runs), and the
    α = 0.5 flattening holds in TOKENS — a head source 16× the tail's
    token mass gets only ~4× the quota."""
    from py_data_pipeline_app_spark.functions.frames import local_rows_df
    from py_data_pipeline_app_spark.operators.sampling import (
        source_token_budget_mix,
    )

    rows = []
    for i in range(160):  # head: 160 docs x 10 tokens = 1600 tokens
        rows.append((i, "head", "tok " * 9 + "tok"))
    for i in range(10):  # tail: 10 docs x 10 tokens = 100 tokens
        rows.append((1000 + i, "tail", "tok " * 9 + "tok"))
    docs = local_rows_df(spark, "doc_id long, source string, text string", rows)
    out = source_token_budget_mix(docs, token_budget=500)
    got = [tuple(r) for r in out.collect()]
    assert got == [tuple(r) for r in source_token_budget_mix(
        docs, token_budget=500
    ).collect()]  # deterministic
    per_src: dict = {}
    quotas: dict = {}
    for doc_id, src, n, cum, total, quota in got:
        per_src[src] = per_src.get(src, 0) + n
        quotas[src] = quota
        assert cum <= quota
    assert sum(quotas.values()) <= 500
    for src, kept in per_src.items():
        assert kept <= quotas[src]
    # flattening: sqrt weights 40 vs 10 -> head quota = 4x tail quota,
    # though head has 16x the token mass
    assert quotas["head"] == 4 * quotas["tail"], quotas
    # strict prefix: kept set is exactly the hash-rank prefix that fits
    from py_data_pipeline_app_spark.operators.sampling import hash_bucket
    import pyspark.sql.functions as F

    order = [
        r.doc_id
        for r in docs.filter(F.col("source") == "tail")
        .select("doc_id", hash_bucket(F.col("doc_id"), "tokmix").alias("h"))
        .orderBy("h", "doc_id")
        .collect()
    ]
    kept_tail = {d for d, s, *_ in got if s == "tail"}
    want_tail = set(order[: quotas["tail"] // 10])  # 10 tokens per doc
    assert kept_tail == want_tail


# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

from py_data_pipeline_app_spark.functions.frames import local_rows_df  # noqa: E402
from py_data_pipeline_app_spark.operators.sampling import (  # noqa: E402
    dsir_select,
    dsir_weights,
)

_DSIR_SCHEMA = "doc_id long, lang string, text string"


@pytest.fixture(scope="module")
def dsir_docs(spark):
    """Target slice talks about telescopes; the raw corpus is mostly
    cooking. A held-out telescope doc should outscore a cooking doc."""
    rows = [
        (0, "tgt", "telescope mirror lens optics star telescope lens"),
        (1, "tgt", "star optics mirror telescope focal lens star"),
        (2, "raw", "flour butter sugar oven dough flour butter"),
        (3, "raw", "oven sugar dough butter flour oven sugar"),
        (4, "raw", "telescope optics star lens mirror focal optics"),
        (5, "raw", "dough oven flour sugar butter dough oven"),
    ]
    return local_rows_df(spark, _DSIR_SCHEMA, rows)


def test_dsir_target_affinity(dsir_docs):
    w = dsir_weights(dsir_docs, F.col("lang") == "tgt")
    got = {r.doc_id: r.dsir_weight_micro for r in w.collect()}
    # the telescope doc outside the target slice outscores every
    # cooking doc — the estimator generalizes past the literal slice
    assert got[4] > max(got[2], got[3], got[5])
    # and the cooking docs score negative (anti-target)
    assert got[2] < 0 and got[5] < 0


def test_dsir_weights_stable_under_repartition(dsir_docs):
    a = dsir_weights(dsir_docs, F.col("lang") == "tgt").select(
        "doc_id", "dsir_weight_micro"
    )
    b = dsir_weights(
        dsir_docs.repartition(5, "text"), F.col("lang") == "tgt"
    ).select("doc_id", "dsir_weight_micro")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_dsir_select_is_topk_of_weights(dsir_docs):
    sel = dsir_select(dsir_docs, F.col("lang") == "tgt", budget=3)
    w = dsir_weights(dsir_docs, F.col("lang") == "tgt")
    expect = [
        r.doc_id
        for r in sorted(
            w.collect(), key=lambda r: (-r.dsir_weight_micro, r.doc_id)
        )[:3]
    ]
    assert sorted(r.doc_id for r in sel.collect()) == sorted(expect)
    assert sel.count() == 3


def test_dsir_frozen_fit_scores_new_batch(spark, dsir_docs):
    """score= scores a NEW frame against the frozen fit: seen docs get
    the identical weight the in-corpus path gives; fully-unseen docs
    hit the add-one floor (per-gram constant, so two different unseen
    texts with the same gram count tie exactly)."""
    seen = dsir_weights(dsir_docs, F.col("lang") == "tgt").collect()
    seen_w = {r.doc_id: r.dsir_weight_micro for r in seen}
    batch = local_rows_df(
        spark,
        _DSIR_SCHEMA,
        [
            (0, "tgt", "telescope mirror lens optics star telescope lens"),
            (100, "raw", "zyx wvu tsr qpo nml kji hgf"),
            (101, "raw", "abc def ghi jkl mno pqr stu"),
        ],
    )
    scored = {
        r.doc_id: r.dsir_weight_micro
        for r in dsir_weights(
            dsir_docs, F.col("lang") == "tgt", score=batch
        ).collect()
    }
    assert scored[0] == seen_w[0]
    # both unseen docs: 7 unigrams + 6 bigrams, all floor-valued
    assert scored[100] == scored[101]


def test_dsir_empty_corpus_keeps_schema(spark):
    empty = local_rows_df(spark, _DSIR_SCHEMA, [])
    out = dsir_weights(empty, F.col("lang") == "tgt")
    assert out.columns == ["doc_id", "lang", "text", "dsir_weight_micro"]
    assert out.count() == 0


def test_dsir_scoring_is_zero_shuffle(dsir_docs):
    """The fit pays its one bounded-key groupBy at build time; the
    RETURNED scoring frame must be a pure projection — no Exchange. An
    input already at cluster parallelism (any real corpus scan) passes
    through the scorer's fan_out untouched; only the local one-task
    testdata pays its round-robin repartition (the bpe_encode_ids
    contract shape)."""
    import contextlib
    import io

    sc = dsir_docs.sparkSession.sparkContext
    docs = dsir_docs.repartition(sc.defaultParallelism)
    out = dsir_weights(docs, F.col("lang") == "tgt")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one Exchange: the explicit repartition above — fan_out adds none
    assert plan.count("Exchange") == 1, plan


# Pure-Python DSIR reference: same md5 bucketing, same add-one
# smoothing, same micro rounding (Spark round() is HALF_UP on the
# shortest-decimal repr — Python's round() is HALF_EVEN, so the
# reference formats through repr-equivalent decimal rounding the way
# both engines do; ln micro values land on .5 boundaries with
# probability ~0, which the engines' green cross-checks already lean
# on).
def _py_dsir_weights(docs, target_langs, n_buckets=1024, seed="dsir"):
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal
    import math

    def bucket(gram):
        h = hashlib.md5(f"{gram}:{seed}".encode()).hexdigest()[:15]
        return int(h, 16) % n_buckets

    def grams_of(text):
        ws = text.strip().split() if text.strip() else [""]
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    def micro(x):
        return int(
            Decimal(repr(math.log(x) * 1_000_000)).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )

    qc, pc = {}, {}
    for _, lang, text in docs:
        for g in grams_of(text):
            b = bucket(g)
            qc[b] = qc.get(b, 0) + 1
            if lang in target_langs:
                pc[b] = pc.get(b, 0) + 1
    qt, pt = sum(qc.values()), sum(pc.values())
    r = {
        b: micro((pc.get(b, 0) + 1) / (pt + n_buckets))
        - micro((qc[b] + 1) / (qt + n_buckets))
        for b in qc
    }
    return {
        doc_id: sum(r[bucket(g)] for g in grams_of(text))
        for doc_id, _, text in docs
    }


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_WORD = st.text(
    alphabet=st.characters(
        whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x2FF
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["tgt", "raw"]),
            st.lists(_WORD, min_size=0, max_size=8),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_dsir_matches_python_reference(spark, rows):
    docs = [
        (i, lang, " ".join(words)) for i, (lang, words) in enumerate(rows)
    ]
    df = local_rows_df(spark, _DSIR_SCHEMA, docs)
    got = {
        r.doc_id: r.dsir_weight_micro
        for r in dsir_weights(df, F.col("lang") == "tgt").collect()
    }
    assert got == _py_dsir_weights(docs, {"tgt"})


def test_dsir_cutoff_mode_agrees_away_from_boundary(spark, dsir_docs):
    """mode="cutoff" (the trainer-scale path: approx_percentile weight
    threshold + plain filter, nothing budget-sized on the driver) must
    select the same ids as TakeOrdered top-k when the boundary weight
    separates cleanly — on this fixture the telescope docs outscore
    the cooking docs by a wide margin. The returned plan must stay a
    zero-shuffle projection+filter (the threshold rides as a literal)."""
    import contextlib
    import io

    budget = 3
    topk = dsir_select(dsir_docs, F.col("lang") == "tgt", budget=budget)
    cutoff = dsir_select(
        dsir_docs, F.col("lang") == "tgt", budget=budget, mode="cutoff"
    )
    assert sorted(r.doc_id for r in cutoff.collect()) == sorted(
        r.doc_id for r in topk.collect()
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cutoff.explain(mode="formatted")
    plan = buf.getvalue()
    # the scorer's fan_out round-robins the local one-task fixture (a
    # no-op on an already-wide corpus scan); no keyed shuffle, no join
    assert "hashpartitioning" not in plan and "Join" not in plan

    # corpus at/under budget returns whole
    assert (
        dsir_select(
            dsir_docs, F.col("lang") == "tgt", budget=100, mode="cutoff"
        ).count()
        == dsir_docs.count()
    )
    with pytest.raises(ValueError, match="topk.*cutoff|cutoff"):
        dsir_select(dsir_docs, F.col("lang") == "tgt", budget=3, mode="bogus")


def test_dsir_fit_train_roundtrip_matches_in_session(spark, dsir_docs, tmp_path):
    """Persisted-fit scoring is bit-identical to the in-session
    frozen-fit mode (shared _dsir_apply arithmetic), across a NEW
    batch with unseen grams (floor-ratio path included)."""
    from py_data_pipeline_app_spark.operators.sampling import (
        dsir_fit_train,
        dsir_score_frozen,
    )

    fit = str(tmp_path / "dsir_fit")
    manifest = dsir_fit_train(dsir_docs, F.col("lang") == "tgt", fit)
    assert manifest["floor_micro"] != 0
    batch = local_rows_df(
        spark,
        _DSIR_SCHEMA,
        [
            (100, "raw", "telescope lens optics star"),
            (101, "raw", "flour oven dough sugar"),
            (102, "raw", "zebra quark umbrella xylophone"),  # unseen grams
        ],
    )
    want = {
        r.doc_id: r.dsir_weight_micro
        for r in dsir_weights(
            dsir_docs, F.col("lang") == "tgt", score=batch
        ).collect()
    }
    got = {
        r.doc_id: r.dsir_weight_micro
        for r in dsir_score_frozen(batch, fit).collect()
    }
    assert got == want
    # the telescope-y doc outscores the cooking doc against this fit
    assert got[100] > got[101]


def test_dsir_fit_manifest_guards(spark, dsir_docs, tmp_path):
    """Missing manifest (crashed train) and ratio-table drift both
    raise; verify=False skips the checksum job (the per-batch path)."""
    from py_data_pipeline_app_spark.operators.sampling import (
        DSIR_FIT_RATIOS,
        dsir_fit_train,
        dsir_score_frozen,
    )

    fit = str(tmp_path / "fit_guards")
    with pytest.raises(ValueError, match="no DSIR fit manifest"):
        dsir_score_frozen(dsir_docs, fit)
    dsir_fit_train(dsir_docs, F.col("lang") == "tgt", fit)
    # corrupt the ratio table under the committed manifest
    local_rows_df(spark, "_b long, _r long", [(0, 123456)]).write.mode(
        "overwrite"
    ).parquet(f"{fit}/{DSIR_FIT_RATIOS}")
    with pytest.raises(ValueError, match="drifted"):
        dsir_score_frozen(dsir_docs, fit)
    # the hot path trusts the first load - no checksum job, no raise
    dsir_score_frozen(dsir_docs, fit, verify=False).collect()

    empty = dsir_docs.filter(F.col("text") == "")
    with pytest.raises(ValueError, match="no non-empty tokens"):
        dsir_fit_train(empty, F.col("lang") == "tgt", str(tmp_path / "e"))
