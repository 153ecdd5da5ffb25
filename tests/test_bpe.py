"""Iterative BPE trainer: property-matched against a pure-Python
reference implementation (greedy left-to-right merge application,
count-desc/pair-asc tie-break), determinism, marker-char guard,
and the registered wrapper's schema."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.operators.curation import (
    bpe_merge_table,
    bpe_train,
)


def py_bpe(texts, n_merges):
    """Reference BPE over word symbols: count adjacent pairs, take the
    most frequent (ties lexicographic), merge greedily left-to-right,
    repeat."""
    docs = [t.split() for t in texts]
    merges = []
    for rank in range(1, n_merges + 1):
        counts = {}
        for d in docs:
            for a, b in zip(d, d[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, n))
        new_docs = []
        for d in docs:
            out, i = [], 0
            while i < len(d):
                if i + 1 < len(d) and d[i] == a and d[i + 1] == b:
                    out.append(a + " " + b)
                    i += 2
                else:
                    out.append(d[i])
                    i += 1
            new_docs.append(out)
        docs = new_docs
    return merges


def _df(spark, texts):
    return local_rows_df(
        spark, "doc_id long, text string", list(enumerate(texts))
    )


def test_matches_reference_with_overlaps(spark):
    texts = [
        "the cat sat on the mat",
        "the cat sat on the cat",
        "a cat a cat a cat a",
        "the the the the",  # self-overlapping run: greedy pairs floor(4/2)
        "on the mat sat the cat",
    ]
    assert bpe_train(_df(spark, texts), n_merges=6) == py_bpe(texts, 6)


def test_merged_symbols_remerge(spark):
    # round 2's winner contains round 1's merge — the iterative part
    texts = ["x y z"] * 4 + ["x y q"]
    got = bpe_train(_df(spark, texts), n_merges=2)
    assert got == [(1, "x", "y", 5), (2, "x y", "z", 4)]


def test_terminates_when_trained_out(spark):
    texts = ["a b", "c d"]
    got = bpe_train(_df(spark, texts), n_merges=10)
    # 2 merges collapse both docs to single symbols; loop stops loudly
    # short of n_merges instead of looping on nothing
    assert len(got) == 2


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=0, max_size=8
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
@pytest.mark.oracle
def test_property_matches_reference(spark, texts):
    assert bpe_train(_df(spark, texts), n_merges=4) == py_bpe(texts, 4)


@pytest.mark.oracle
def test_deterministic(spark):
    texts = ["p q p q r", "q p q p r", "r r r"]
    a = bpe_train(_df(spark, texts), n_merges=5)
    b = bpe_train(_df(spark, texts), n_merges=5)
    assert a == b


def test_marker_chars_refused(spark):
    with pytest.raises(ValueError, match="marker"):
        bpe_train(_df(spark, ["bad ‹token› here"]), n_merges=1)


def test_merge_table_frame(spark):
    df = bpe_merge_table(_df(spark, ["u v u v", "u v w"]), n_merges=2)
    assert df.columns == [
        "merge_rank",
        "left_sym",
        "right_sym",
        "n_occurrences",
    ]
    rows = [tuple(r) for r in df.collect()]
    assert rows[0] == (1, "u", "v", 3)


def test_apply_reproduces_training_fixpoint(spark):
    """Encoding the TRAINING corpus with the trained merge table must
    land exactly on the trainer's final state (the defining property
    of BPE application), including merged-symbol re-merges."""
    from py_data_pipeline_app_spark.operators.curation import bpe_apply

    texts = [
        "the cat sat on the mat",
        "the cat sat on the cat",
        "a cat a cat a cat a",
        "the the the the",
    ]

    def py_apply(texts, merges):
        out = []
        for t in texts:
            d = t.split()
            for _, a, b, _ in merges:
                nd, i = [], 0
                while i < len(d):
                    if i + 1 < len(d) and d[i] == a and d[i + 1] == b:
                        nd.append(a + " " + b)
                        i += 2
                    else:
                        nd.append(d[i])
                        i += 1
                d = nd
            out.append(d)
        return out

    df = _df(spark, texts)
    merges = bpe_train(df, n_merges=4)
    got = {
        r.doc_id: (list(r.symbols), r.n_symbols, r.n_tokens)
        for r in bpe_apply(df, merges).collect()
    }
    want = py_apply(texts, merges)
    for i, t in enumerate(texts):
        syms, n_syms, n_toks = got[i]
        assert syms == want[i], (i, syms, want[i])
        assert n_syms == len(want[i])
        assert n_toks == len(t.split())


def test_apply_to_unseen_text(spark):
    """The tokenizer use case: merges trained on one corpus encode NEW
    text; unseen symbols pass through unmerged."""
    from py_data_pipeline_app_spark.operators.curation import bpe_apply

    train = _df(spark, ["x y z"] * 3)
    merges = bpe_train(train, n_merges=2)  # (x,y) then (x y,z)
    new = _df(spark, ["x y z w x y", "w w"])
    got = {r.doc_id: list(r.symbols) for r in bpe_apply(new, merges).collect()}
    assert got[0] == ["x y z", "w", "x y"]
    assert got[1] == ["w", "w"]


def py_char_bpe(texts, n_merges):
    """Reference char-level BPE (Sennrich et al. 2016): symbols are
    characters within whitespace words, last char carries the
    end-of-word marker, merges concatenate and never cross words."""
    docs = []
    for t in texts:
        for w in t.split():
            syms = list(w)
            syms[-1] += "·"
            docs.append(syms)
    merges = []
    for rank in range(1, n_merges + 1):
        counts = {}
        for d in docs:
            for a, b in zip(d, d[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, n))
        new_docs = []
        for d in docs:
            out, i = [], 0
            while i < len(d):
                if i + 1 < len(d) and d[i] == a and d[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(d[i])
                    i += 1
            new_docs.append(out)
        docs = new_docs
    return merges


def test_char_level_matches_reference(spark):
    texts = [
        "low lower lowest",
        "new newer newest",
        "low new low new",
        "wider wide widest",
    ]
    assert bpe_train(_df(spark, texts), n_merges=8, level="char") == py_char_bpe(
        texts, 8
    )


def test_char_level_multibyte(spark):
    # multi-byte (incl. astral-plane) chars split by code point, never
    # by UTF-16 unit — a broken surrogate half would corrupt symbols
    texts = ["héllo héllo", "日本 日本 日本語", "a🦀 b🦀 c🦀"]
    got = bpe_train(_df(spark, texts), n_merges=5, level="char")
    assert got == py_char_bpe(texts, 5)


def test_char_level_never_crosses_word_boundary(spark):
    # 'ab' is frequent INSIDE words; the cross-boundary bigram b|a
    # (".b a.") is even more frequent as adjacent chars but must never
    # be proposed because the left symbol is word-final
    texts = ["xb ab xb ab xb ab", "ab xb ab xb"]
    merges = bpe_train(_df(spark, texts), n_merges=3, level="char")
    for _, left, _r, _n in merges:
        assert not left.endswith("·"), merges
    assert merges == py_char_bpe(texts, 3)


def test_char_level_apply_reproduces_training_fixpoint(spark):
    from py_data_pipeline_app_spark.operators.curation import bpe_apply

    texts = ["low lower newest", "new newer lowest", "low low low"]
    df = _df(spark, texts)
    merges = bpe_train(df, n_merges=6, level="char")
    enc = {
        r.doc_id: (list(r.symbols), r.n_symbols, r.n_tokens)
        for r in bpe_apply(df, merges, level="char").collect()
    }
    # replay the trained merges over the python reference state
    docs = {}
    for i, t in enumerate(texts):
        syms = []
        for w in t.split():
            cs = list(w)
            cs[-1] += "·"
            syms.extend(cs)
        docs[i] = syms
    for _, a, b, _n in merges:
        for i, d in docs.items():
            out, j = [], 0
            while j < len(d):
                if j + 1 < len(d) and d[j] == a and d[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(d[j])
                    j += 1
            docs[i] = out
    for i, t in enumerate(texts):
        assert enc[i] == (docs[i], len(docs[i]), len(t.split()))


def test_char_level_eow_marker_refused(spark):
    with pytest.raises(ValueError, match="marker"):
        bpe_train(_df(spark, ["mid·dot here"]), n_merges=1, level="char")
    # word level does not reserve the middle dot
    assert bpe_train(_df(spark, ["mid·dot here"]), n_merges=1) == [
        (1, "mid·dot", "here", 1)
    ]


def test_apply_refuses_marker_in_unseen_text(spark):
    """bpe_apply's guard rides the consumer's action: encoding unseen
    text containing a reserved marker char must raise, not fabricate
    symbol boundaries."""
    from py_data_pipeline_app_spark.operators.curation import bpe_apply

    merges = bpe_train(_df(spark, ["a b a b"]), n_merges=1)
    bad = _df(spark, ["fresh ‹text›"])
    with pytest.raises(Exception, match="reserved marker"):
        bpe_apply(bad, merges).collect()


def test_train_guard_costs_no_extra_job(spark):
    """The marker guard is folded into the first-round state
    projection (raise_error under when), not a dedicated pre-loop
    count action: a 1-merge train is {fan_out+checkpoint, pair-count,
    rewrite-checkpoint} = 4 jobs (+ possible AQE probes), where the
    old pre-scan made it 5+. The r15 fan_out repartition adds exactly
    ONE job (the shuffle stage of the initial state materialization)
    and parallelizes every round past the one-task unsplittable scan;
    it must never add per-round jobs."""
    df = _df(spark, ["a b a b", "a b c"])
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    bpe_train(df, n_merges=1)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= 5
    # per-round cost is unchanged: one more merge adds at most 3 jobs
    # (pair-count collect [+ its AQE shuffle-stage job] +
    # rewrite-checkpoint), no fan_out re-probe, no guard scan
    before = len(tracker.getJobIdsForGroup(None) or [])
    bpe_train(df, n_merges=2)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= 8


# ---------------------------------------------------------------------------
# Token-ID surface (round 11): bpe_vocab ids, bpe_encode_ids round-trip,
# OOV handling, and sequence packing over REAL id sequences.
# ---------------------------------------------------------------------------

from py_data_pipeline_app_spark.operators.curation import (  # noqa: E402
    bpe_encode_ids,
    bpe_vocab,
)

_CORPUS = ["low lower lowest", "new newer lower", "low low new"]


def _trained(spark):
    docs = _df(spark, _CORPUS)
    merges = bpe_train(docs, n_merges=4, level="char")
    vocab = sorted(
        (r.symbol, r.token_id)
        for r in bpe_vocab(docs, merges, level="char").collect()
    )
    return docs, merges, vocab


def test_vocab_ids_are_alphabet_then_merges(spark):
    """Base alphabet gets 0..B-1 in lexicographic order; each merge's
    output symbol gets B+rank-1 — the GPT-2 encoder id layout."""
    docs, merges, vocab = _trained(spark)
    d = dict(vocab)
    # recompute the expected base alphabet in pure Python
    alpha = set()
    for t in _CORPUS:
        for w in t.split():
            chars = list(w)
            alpha.update(chars[:-1])
            alpha.add(chars[-1] + "·")
    base = {s: i for i, s in enumerate(sorted(alpha))}
    for s, i in base.items():
        assert d[s] == i, (s, i, d[s])
    merged_syms = []
    for rank, left, right, _ in sorted(merges):
        sym = left + right
        assert d[sym] == len(base) + rank - 1 or sym in base
        merged_syms.append(sym)
    assert len(d) == len(base) + len(set(merged_syms) - set(base))


def test_encode_ids_round_trip_through_vocab(spark):
    """Decoding the id sequence through the inverted vocab must
    reproduce bpe_apply's symbol sequence exactly, for every doc."""
    from py_data_pipeline_app_spark.operators.curation import bpe_apply

    docs, merges, vocab = _trained(spark)
    inv = {i: s for s, i in vocab}
    got = {
        r.doc_id: [inv[i] for i in r.token_ids]
        for r in bpe_encode_ids(docs, merges, vocab, level="char").collect()
    }
    want = {
        r.doc_id: list(r.symbols)
        for r in bpe_apply(docs, merges, level="char").collect()
    }
    assert got == want
    # trained-on-same-corpus: zero OOV by construction
    oov = {
        r.doc_id: r.n_oov
        for r in bpe_encode_ids(docs, merges, vocab, level="char").collect()
    }
    assert set(oov.values()) == {0}


def test_encode_ids_oov_null_vs_unk(spark):
    """A symbol missing from the vocab nulls (default) or maps to
    unk_id, and n_oov counts it either way."""
    docs, merges, vocab = _trained(spark)
    unseen = _df(spark, ["low qow"])  # q never appears in the corpus
    out = bpe_encode_ids(unseen, merges, vocab, level="char").collect()[0]
    assert out.n_oov == 1 and None in out.token_ids
    out2 = bpe_encode_ids(
        unseen, merges, vocab, level="char", unk_id=9999
    ).collect()[0]
    assert out2.n_oov == 1 and 9999 in out2.token_ids and None not in out2.token_ids


def test_encode_ids_empty_vocab_all_oov(spark):
    """An empty vocab list must keep the map literal typed
    (map<string,int>, not map<null,null> which fails analysis at
    element_at): every symbol is OOV, nulled or unk-mapped."""
    docs, merges, _ = _trained(spark)
    out = bpe_encode_ids(docs, merges, [], level="char").collect()[0]
    assert out.n_oov == out.n_ids > 0
    assert all(i is None for i in out.token_ids)
    out2 = bpe_encode_ids(docs, merges, [], level="char", unk_id=0).collect()[0]
    assert all(i == 0 for i in out2.token_ids)


def test_encode_ids_plan_is_zero_shuffle(spark):
    """The 100-TB contract: the encode is ONE pure projection — no
    Exchange anywhere in the plan (no explode/join/re-agg path). An
    input already at cluster parallelism (any real corpus scan) must
    pass through fan_out untouched; only the local one-task testdata
    pays its round-robin repartition."""
    docs, merges, vocab = _trained(spark)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    plan = (
        bpe_encode_ids(docs, merges, vocab, level="char")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one Exchange: the explicit repartition above — fan_out adds none
    assert plan.count("Exchange") == 1, plan


def test_sequence_packing_over_real_ids(spark):
    """pack_sequences fed n_ids from the REAL id sequences (token_col)
    must bin exactly like a pure-Python concat-and-chop over the same
    sequences — ids, not whitespace estimates, drive the offsets."""
    import pyspark.sql.functions as F

    from py_data_pipeline_app_spark.operators.curation import pack_sequences

    docs, merges, vocab = _trained(spark)
    enc = bpe_encode_ids(docs, merges, vocab, level="char")
    packed = {
        r.doc_id: (r.shard, r.seq_bin, r.n_tokens, r.offset)
        for r in pack_sequences(
            enc, seq_len=8, n_shards=2, token_col=F.col("n_ids"), id_col="doc_id"
        ).collect()
    }
    seqs = {
        r.doc_id: r.token_ids
        for r in enc.collect()
    }
    # pure-Python packing over the id sequences
    want = {}
    streams = {}
    for doc_id in sorted(seqs):
        shard = doc_id % 2
        off = streams.get(shard, 0)
        want[doc_id] = (shard, off // 8, len(seqs[doc_id]), off)
        streams[shard] = off + len(seqs[doc_id])
    assert packed == want


# ---------------------------------------------------------------------------
# Pure-Python heap trainer: the reference that reproduces bpe_train's
# exact distributed loop, and the source of tokenizer-scale (>200-merge)
# tables for the Arrow-batched encode path.
# ---------------------------------------------------------------------------

from py_data_pipeline_app_spark.operators.curation import (  # noqa: E402
    _BPE_EOW,
    _bpe_guard_chars,
    _bpe_merged_symbol,
)


def _py_bpe_sequences(texts, level: str):
    """The pure-Python twin of ``curation._bpe_state_expr``'s state machine,
    collapsed to frequency-keyed symbol sequences: char level keys on
    DISTINCT WORDS (pairs never cross a word boundary, so per-word
    training state is exact — Sennrich's reference trainer's own
    representation), word level keys on whole-document token tuples.
    Tokenization mirrors ``tokens()`` exactly (trim spaces, split on
    the Java-regex ``\\s`` class, drop empties) and the reserved-marker
    guard raises the same ValueError the projection guard does."""
    import re
    from collections import Counter

    guard = re.compile("[‹›·]" if level == "char" else "[‹›]")
    seqs: Counter = Counter()
    for t in texts:
        if t is None:
            continue
        if guard.search(t):
            raise ValueError(
                "bpe: corpus text contains a reserved marker character "
                f"{_bpe_guard_chars(level)} - pre-scrub or re-tokenize: "
                f"{t[:40]}"
            )
        toks = [
            x for x in re.split("[ \t\n\x0b\f\r]+", t.strip(" ")) if x != ""
        ]
        if level == "word":
            if toks:
                seqs[tuple(toks)] += 1
        else:
            for w in toks:
                cs = list(w)
                cs[-1] += _BPE_EOW
                seqs[tuple(cs)] += 1
    return seqs


def _py_bpe_train(seqs, n_merges: int, level: str):
    """Heap-based incremental BPE over frequency-keyed sequences —
    O(affected sequences) per merge instead of a full recount, which
    is what makes 1k+ merges tractable. Selection semantics are
    bit-identical to ``bpe_train``'s Spark loop: count every
    adjacent (overlapping) pair occurrence, pick max count with
    lexicographic (left, right) tie-break — the heap orders on
    (-count, pair) and UTF-8 byte order equals code-point order, so
    Python tuple comparison reproduces Spark's ORDER BY n DESC, l, r —
    then merge greedily left-to-right (non-overlapping), the same
    result as the JVM literal replace. Stale heap entries are handled
    by lazy validation; every count CHANGE pushes a fresh entry, so a
    decremented pair can still win later rounds."""
    import heapq
    from collections import defaultdict

    seq_list = [(list(s), f) for s, f in sorted(seqs.items())]
    counts: dict = defaultdict(int)
    index: dict = defaultdict(set)
    for si, (syms, f) in enumerate(seq_list):
        for p in zip(syms, syms[1:]):
            counts[p] += f
            index[p].add(si)
    heap = [(-c, p) for p, c in counts.items()]
    heapq.heapify(heap)

    def bump(p, delta, si):
        counts[p] += delta
        if delta > 0:
            index[p].add(si)
        heapq.heappush(heap, (-counts[p], p))

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = None
        while heap:
            negc, p = heap[0]
            if -negc <= 0:
                break
            if counts.get(p, 0) != -negc:
                heapq.heappop(heap)
                continue
            best = p
            break
        if best is None:
            break
        merges.append((rank, best[0], best[1], int(counts[best])))
        new_sym = _bpe_merged_symbol(best[0], best[1], level)
        left, right = best
        for si in sorted(index[best]):
            syms, f = seq_list[si]
            hit = False
            out: list = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(new_sym)
                    hit = True
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            if not hit:  # stale index entry from an earlier rewrite
                continue
            for p in zip(syms, syms[1:]):
                bump(p, -f, si)
            seq_list[si] = (out, f)
            for p in zip(out, out[1:]):
                bump(p, f, si)
        counts.pop(best, None)
        index.pop(best, None)
    return merges



@pytest.mark.parametrize("level", ["word", "char"])
def test_heap_reference_matches_exact_loop(spark, level):
    """The heap trainer must reproduce bpe_train EXACTLY — same pairs,
    ranks, occurrence counts and tie-breaks — at both symbol levels
    (this is what licenses its tables as stand-ins for bpe_train's)."""
    texts = [
        "the cat sat on the mat",
        "the cat ate the hat",
        "a cat and a hat and a mat",
        "low lower lowest low low",
        "newer lower fewer",
    ]
    df = _df(spark, texts)
    want = bpe_train(df, n_merges=12, level=level)
    got = _py_bpe_train(_py_bpe_sequences(texts, level), 12, level)
    assert got == want


def test_arrow_encode_tokenizer_scale_zero_oov(spark):
    """A tokenizer-scale table (>1000 char-level merges from a
    synthetic 2k-word corpus) dispatches bpe_apply to the Arrow-batched
    encode, and encoding the corpus with its own vocab has zero OOV."""
    import random

    from py_data_pipeline_app_spark.operators.curation import (
        bpe_encode_ids,
        bpe_vocab,
    )

    rng = random.Random(7)
    words = [
        "".join(rng.choice("abcdefghijklmnop") for _ in range(rng.randint(5, 12)))
        for _ in range(2000)
    ]
    texts = [
        " ".join(rng.choice(words) for _ in range(40)) for _ in range(300)
    ]
    df = _df(spark, texts)
    merges = _py_bpe_train(_py_bpe_sequences(texts, "char"), 1500, "char")
    assert len(merges) == 1500
    assert [m[0] for m in merges] == list(range(1, 1501))
    small = _df(spark, texts[:20])
    vocab = [
        (r.symbol, r.token_id)
        for r in bpe_vocab(df, merges, level="char").collect()
    ]
    enc = bpe_encode_ids(small, merges, vocab, level="char")
    assert enc.agg(F.sum("n_oov")).first()[0] == 0


@pytest.mark.parametrize("level", ["word", "char"])
def test_arrow_encode_matches_literal_chain(spark, level):
    """The two encode paths must be ROW-IDENTICAL — including the
    literal chain's empty-text split quirk (symbols=[""]) and null
    text — so the dispatch threshold is invisible to consumers; and
    the Arrow plan must stay Exchange-free (zero shuffle)."""
    from py_data_pipeline_app_spark.operators.curation import (
        _arrow_bpe_encode,
        bpe_apply,
        bpe_encode_ids,
        bpe_vocab,
    )

    texts = [
        "the cat sat on the mat",
        "low lower lowest low low",
        "",
        "   ",
        None,
        "one",
        "a a a a b a a",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    train = _df(spark, [t for t in texts if t])
    merges = bpe_train(train, n_merges=6, level=level)
    lit_rows = sorted(
        map(tuple, bpe_apply(df, merges, level=level).collect())
    )
    arrow = _arrow_bpe_encode(
        df, merges, text_col="text", id_col="doc_id", level=level
    )
    assert sorted(map(tuple, arrow.collect())) == lit_rows
    assert "Exchange" not in (
        arrow._jdf.queryExecution().executedPlan().toString()
    )
    # id path parity too (unk + n_oov bookkeeping)
    vocab = [
        (r.symbol, r.token_id)
        for r in bpe_vocab(train, merges, level=level).collect()
    ]
    lit_ids = sorted(
        map(tuple, bpe_encode_ids(df, merges, vocab, level=level, unk_id=0).collect())
    )
    arrow_ids = _arrow_bpe_encode(
        df, merges, text_col="text", id_col="doc_id", level=level,
        vocab=vocab, unk_id=0,
    )
    assert sorted(map(tuple, arrow_ids.collect())) == lit_ids
