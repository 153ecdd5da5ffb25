"""Incremental LSH index (operators/dedup_incremental.py): two-batch
replay parity against the batch path, index idempotency, and the
band_buckets contract both paths share."""

import pathlib
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import ExitStack

import pytest
from pyspark.sql import functions as F

from py_data_pipeline_app_spark.functions.frames import local_rows_df
from py_data_pipeline_app_spark.operators.dedup import (
    band_buckets,
    minhash_dedup_pairs,
    minhash_signatures,
)
from py_data_pipeline_app_spark.operators.dedup_incremental import (
    _acquire_index_lock,
    compact_index,
    incremental_lsh_fold,
    index_delete,
)


@pytest.fixture()
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "sphinx of black quartz judge my vow",
        "how vexingly quick daft zebras jump",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i * 10, t))
        rows.append((i * 10 + 1, t))  # exact word-set dup of each base doc
        rows.append((i * 10 + 2, t + " extra trailing words appended here"))
    return local_rows_df(spark, "doc_id long, text string", rows)


def _pairs(df):
    return sorted((r.id_a, r.id_b, r.jaccard) for r in df.collect())


def test_band_buckets_schema_and_determinism(spark, docs):
    """Direct contract test for the shared bucket generator: schema is
    (id, band, bucket), every doc emits exactly `bands` rows, and
    identical signatures produce identical (band, bucket) rows."""
    sigs = minhash_signatures(docs).cache()
    bk = band_buckets(sigs)
    assert bk.columns == ["doc_id", "band", "bucket"]
    per_doc = bk.groupBy("doc_id").count().collect()
    assert per_doc and all(r["count"] == 8 for r in per_doc)
    # docs 0 and 1 share a word set -> identical signatures -> every
    # band bucket identical
    b0 = sorted((r.band, r.bucket) for r in bk.filter(F.col("doc_id") == 0).collect())
    b1 = sorted((r.band, r.bucket) for r in bk.filter(F.col("doc_id") == 1).collect())
    assert b0 == b1
    # a different word set must not collide in all 8 bands
    b20 = sorted((r.band, r.bucket) for r in bk.filter(F.col("doc_id") == 20).collect())
    assert b0 != b20


@pytest.mark.parametrize("threshold", [1.0, 0.5])
def test_two_batch_replay_matches_batch_lsh(spark, docs, tmp_path, threshold):
    """Folding batch A then batch B emits exactly the pairs of one
    batch LSH run over A∪B: within-A at fold 1, within-B plus B×A at
    fold 2, nothing twice, nothing missed."""
    index = str(tmp_path / "index")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    p1 = incremental_lsh_fold(
        spark, index, a, threshold=threshold, max_bucket_size=None, batch_token="a"
    )
    got1 = _pairs(p1)
    p2 = incremental_lsh_fold(
        spark, index, b, threshold=threshold, max_bucket_size=None, batch_token="b"
    )
    got = sorted(got1 + _pairs(p2))

    if threshold >= 1.0:
        # batch path short-circuits to the exact fingerprint groupBy at
        # 1.0; LSH recall is provably 1.0 there, so parity still holds
        expected = _pairs(minhash_dedup_pairs(docs, threshold=1.0))
    else:
        expected = _pairs(minhash_dedup_pairs(docs, threshold=0.5))
    assert got == expected
    # fold-1 pairs involve only batch-A ids (no history yet)
    a_ids = {r.doc_id for r in a.collect()}
    assert all(x in a_ids and y in a_ids for x, y, _ in got1)
    # cross-batch dups were found at fold 2 without re-running LSH on A
    assert any((x in a_ids) != (y in a_ids) for x, y, _ in _pairs(p2))


def test_fold_result_is_pinned_against_later_appends(spark, docs, tmp_path):
    """The pairs frame a fold returns is LAZY but pinned: collecting
    it after later folds have appended to the index must not absorb
    the newer batches (the plan lists the concrete subdirectories
    present at fold time)."""
    index = str(tmp_path / "index")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    p1 = incremental_lsh_fold(
        spark, index, a, threshold=0.5, max_bucket_size=None, batch_token="a"
    )
    # fold B BEFORE collecting p1 — then p1 must still see only A
    incremental_lsh_fold(
        spark, index, b, threshold=0.5, max_bucket_size=None, batch_token="b"
    ).collect()
    a_ids = {r.doc_id for r in a.collect()}
    late = _pairs(p1)
    assert late, "expected within-A pairs"
    assert all(x in a_ids and y in a_ids for x, y, _ in late)


@pytest.mark.oracle
def test_compaction_preserves_fold_results(spark, docs, tmp_path):
    """compact_index merges batch subdirectories without changing any
    subsequent fold's emissions, is a no-op on a single batch, and
    converges when re-run (crash-recovery contract)."""
    import os

    from py_data_pipeline_app_spark.operators.dedup_incremental import (
        compact_index,
    )

    index = str(tmp_path / "index")
    thirds = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    got = _pairs(
        incremental_lsh_fold(
            spark, index, thirds[0], threshold=0.5,
            max_bucket_size=None, batch_token="a",
        )
    )
    got += _pairs(
        incremental_lsh_fold(
            spark, index, thirds[1], threshold=0.5,
            max_bucket_size=None, batch_token="b",
        )
    )
    # keep_newest=False = full consolidation (valid because no producer
    # can replay here); the default replay-safe mode is tested below
    assert compact_index(spark, index, keep_newest=False) > 0
    # post-compaction: exactly one consolidated subdir per table
    for sub in ("bands", "toksets"):
        subdirs = os.listdir(os.path.join(index, sub))
        assert len([d for d in subdirs if d.startswith("batch-")]) == 1
    # re-run converges as a no-op
    assert compact_index(spark, index, keep_newest=False) == 0
    got += _pairs(
        incremental_lsh_fold(
            spark, index, thirds[2], threshold=0.5,
            max_bucket_size=None, batch_token="c",
        )
    )
    assert sorted(got) == _pairs(minhash_dedup_pairs(docs, threshold=0.5))


@pytest.mark.oracle
def test_fold_is_idempotent_under_retry(spark, docs, tmp_path):
    """Replaying a fold with the same batch token overwrites its index
    subdirectory instead of double-counting history (the streaming
    foreachBatch retry contract)."""
    index = str(tmp_path / "index")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    incremental_lsh_fold(spark, index, a, threshold=0.5, batch_token="a").collect()
    # retry batch a (crash-replay): same token, same content
    incremental_lsh_fold(spark, index, a, threshold=0.5, batch_token="a").collect()
    p2 = incremental_lsh_fold(spark, index, b, threshold=0.5, batch_token="b")
    # each cross pair appears once despite the replay
    pairs = [(r.id_a, r.id_b) for r in p2.collect()]
    assert len(pairs) == len(set(pairs))
    expected = _pairs(minhash_dedup_pairs(docs, threshold=0.5))
    all_pairs = sorted(
        _pairs(
            incremental_lsh_fold(
                spark, str(tmp_path / "other"), docs, threshold=0.5, batch_token="x"
            )
        )
    )
    assert all_pairs == expected


def test_config_drift_fails_loudly(spark, docs, tmp_path):
    """A fold with a different (num_perms, bands, exact) than the index
    was built with must raise — mismatched band keys would silently
    miss every historical near-dup otherwise."""
    index = str(tmp_path / "index")
    incremental_lsh_fold(
        spark, index, docs, threshold=0.5, bands=8, batch_token="a"
    ).collect()
    with pytest.raises(ValueError, match="never match"):
        incremental_lsh_fold(
            spark, index, docs, threshold=0.5, bands=4, batch_token="b"
        )
    with pytest.raises(ValueError, match="never match"):
        incremental_lsh_fold(  # exact-mode flip is also drift
            spark, index, docs, threshold=1.0, batch_token="c"
        )
    # matching config still folds fine
    incremental_lsh_fold(
        spark, index, docs, threshold=0.5, bands=8, batch_token="d"
    ).collect()


@pytest.mark.oracle
def test_compaction_keep_newest_protects_replayable_batch(spark, docs, tmp_path):
    """Default compaction leaves the most recently written batch
    subdirectory untouched — the only batch a crashed micro-batch
    producer could still replay — so the replay's own-token exclusion
    keeps working (no self-pairs, no permanent duplication)."""
    import os

    from py_data_pipeline_app_spark.operators.dedup_incremental import (
        compact_index,
    )

    index = str(tmp_path / "index")
    thirds = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    fold_out = {}
    for tok, batch in zip(("a", "b", "c"), thirds):
        fold_out[tok] = _pairs(
            incremental_lsh_fold(
                spark, index, batch, threshold=0.5,
                max_bucket_size=None, batch_token=tok,
            )
        )
    assert compact_index(spark, index) > 0
    for sub in ("bands", "toksets"):
        names = [
            d for d in os.listdir(os.path.join(index, sub))
            if d.startswith("batch-")
        ]
        assert "batch-c" in names  # newest untouched
        assert len(names) == 2  # older batches consolidated
    # replaying the newest batch AFTER the compaction is still clean:
    # its own dir is excluded by token, history is the consolidated
    # rest, so the replay re-emits exactly the original fold-c pairs —
    # no self-pairs, no duplication
    replay = _pairs(
        incremental_lsh_fold(
            spark, index, thirds[2], threshold=0.5,
            max_bucket_size=None, batch_token="c",
        )
    )
    assert all(a != b for a, b, _ in replay)
    assert len(replay) == len(set(replay))
    assert replay == fold_out["c"]


def test_index_lock_blocks_concurrent_mutators(spark, docs, tmp_path):
    """A second mutator (fold or compaction) racing a live one fails
    loudly via the lock marker instead of reading mid-delete state or
    silently missing the other fold's documents."""
    from py_data_pipeline_app_spark.operators.dedup_incremental import (
        compact_index,
    )

    index = tmp_path / "index"
    incremental_lsh_fold(
        spark, str(index), docs.filter(F.col("doc_id") < 20),
        threshold=0.5, batch_token="a",
    ).collect()
    (index / "_index.lock").touch()  # simulate a mutator mid-flight
    with pytest.raises(RuntimeError, match="locked"):
        incremental_lsh_fold(
            spark, str(index), docs, threshold=0.5, batch_token="b"
        )
    with pytest.raises(RuntimeError, match="locked"):
        compact_index(spark, str(index))
    (index / "_index.lock").unlink()  # operator removes the stale lock
    incremental_lsh_fold(
        spark, str(index), docs.filter(F.col("doc_id") >= 20),
        threshold=0.5, batch_token="b",
    ).collect()


def test_index_lock_is_exclusive(spark, tmp_path):
    """Of 6 mutators racing for the lock of a fresh index, exactly one
    holds it. Each winner keeps the lock until every thread has tried,
    so a second holder can only come from a create that is not
    exclusive (a check-then-create marker lets several threads in)."""
    threads, rounds = 6, 100
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=threads) as pool:
            for r in range(rounds):
                index = str(tmp_path / f"idx{r}")
                go = threading.Barrier(threads)
                tried = threading.Barrier(threads)

                def contend():
                    go.wait(timeout=60)
                    with ExitStack() as held:
                        try:
                            held.enter_context(
                                _acquire_index_lock(spark, index, "race")
                            )
                            won = 1
                        except RuntimeError as e:
                            if "locked" not in str(e):
                                raise
                            won = 0
                        tried.wait(timeout=60)
                        return won

                futs = [pool.submit(contend) for _ in range(threads)]
                holders = [f.result(timeout=120) for f in futs]
                assert sum(holders) == 1, (r, holders)
    finally:
        sys.setswitchinterval(switch)


def test_index_on_explicit_file_uri(spark, docs, tmp_path):
    """Index files are managed through fsio, so an index rooted at a
    scheme-qualified ``file://`` URI folds, tombstones and compacts
    exactly like one at the bare local path: same pairs, same band rows
    left after a full compaction."""

    def run(index, local):
        a = docs.filter(F.col("doc_id") % 2 == 0)
        b = docs.filter(F.col("doc_id") % 2 == 1)
        pairs = _pairs(
            incremental_lsh_fold(spark, index, a, threshold=0.5, batch_token="a")
        ) + _pairs(
            incremental_lsh_fold(spark, index, b, threshold=0.5, batch_token="b")
        )
        gone = docs.filter(F.col("doc_id") == 0).select("doc_id")
        assert index_delete(spark, index, gone, batch_token="d") == "d"
        assert compact_index(spark, index, keep_newest=False) > 0
        (compacted,) = [p for p in (local / "bands").iterdir() if p.is_dir()]
        bands = sorted(
            tuple(r) for r in spark.read.parquet(str(compacted)).collect()
        )
        assert not (local / "_index.lock").exists()
        return sorted(pairs), bands

    plain = run(str(tmp_path / "plain"), tmp_path / "plain")
    uri = run(f"file://{tmp_path}/uri", tmp_path / "uri")
    assert uri == plain
    assert plain[0] and plain[1]
    assert all(r[0] != 0 for r in plain[1])  # the tombstoned doc is gone


def test_one_filesystem_layer():
    """Static: fsio is the package's only filesystem layer. No other
    module reaches the Hadoop FileSystem API, so a second set of file
    helpers (and with it a second, non-exclusive lock) cannot come
    back unnoticed."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "py_data_pipeline_app_spark"
    needles = ("org.apache.hadoop", "getFileSystem(", "hadoopConfiguration(")
    callers = sorted(
        str(f.relative_to(pkg))
        for f in pkg.rglob("*.py")
        if any(n in f.read_text(encoding="utf-8") for n in needles)
    )
    assert callers == ["fsio.py"]


def test_refold_same_doc_id_identical_content_no_fanout(spark, tmp_path):
    """A doc_id present in both the batch and the index (re-ingest of
    identical content) must not fan the verification joins out into
    duplicate pair rows — token sets are latest-wins per doc_id."""
    index = str(tmp_path / "index")
    b1 = local_rows_df(
        spark,
        "doc_id long, text string",
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
    )
    incremental_lsh_fold(
        spark, index, b1, threshold=0.5, batch_token="one"
    ).collect()
    b2 = local_rows_df(
        spark,
        "doc_id long, text string",
        [(1, "alpha beta gamma delta"), (3, "alpha beta gamma delta zeta")],
    )
    out = incremental_lsh_fold(
        spark, index, b2, threshold=0.5, batch_token="two"
    ).collect()
    pairs = [(r.id_a, r.id_b) for r in out]
    assert len(pairs) == len(set(pairs))  # one row per pair, no fan-out
    assert all(a != b for a, b in pairs)  # no self-pairs
    # the re-folded doc still pairs against history and its batch
    assert (1, 2) in pairs and (1, 3) in pairs


def test_exact_mode_within_batch_emission_is_sum_of_group_pairs(spark, tmp_path):
    """Exact-mode (threshold 1.0) folds never cap within-batch pair
    expansion: the TRUE answer for an identical-content group of size s
    is all C(s,2) pairs, so a pathological batch must emit exactly
    Σ C(s_g, 2) rows — the quadratic-per-group cost is the CONTRACT
    (same as the batch path), visible here so it can't regress into a
    silent cap that breaks batch parity."""
    from math import comb

    sizes = [1, 2, 5, 10]
    rows, next_id = [], 0
    for g, s in enumerate(sizes):
        text = f"group {g} payload words alpha beta gamma {g}"
        for _ in range(s):
            rows.append((next_id, text))
            next_id += 1
    batch = local_rows_df(spark, "doc_id long, text string", rows)
    out = incremental_lsh_fold(
        spark, str(tmp_path / "index"), batch, threshold=1.0, batch_token="a"
    ).collect()
    expected_n = sum(comb(s, 2) for s in sizes)
    assert len(out) == expected_n
    pairs = {(r.id_a, r.id_b) for r in out}
    assert len(pairs) == expected_n  # all distinct, id_a < id_b
    assert all(a < b for a, b in pairs)
    assert all(r.jaccard == 1.0 for r in out)
    # and every emitted pair really is an identical-content pair
    text_of = dict(rows)
    assert all(text_of[a] == text_of[b] for a, b in pairs)


@pytest.mark.parametrize("threshold", [1.0, 0.5])
def test_index_delete_stops_future_matches(spark, tmp_path, threshold):
    """Tombstoned documents stop matching FUTURE folds immediately; a
    full compaction scrubs their rows physically and consumes the
    tombstones; matches between live documents are unaffected. Runs in
    both the banded and the exact (fingerprint) regime."""
    import os

    from py_data_pipeline_app_spark.operators.dedup_incremental import (
        compact_index,
        index_delete,
    )

    index = str(tmp_path / f"idx{threshold}")
    t = "the quick brown fox jumps over the lazy dog"
    u = "pack my box with five dozen liquor jugs"
    b1 = local_rows_df(spark, "doc_id long, text string", [(1, t), (2, u)])
    incremental_lsh_fold(
        spark, index, b1, threshold=threshold, batch_token="b1"
    ).collect()

    assert index_delete(spark, index, b1.filter(F.col("doc_id") == 1)) is not None
    # empty tombstone set: no directory, None token
    assert index_delete(spark, index, b1.limit(0)) is None

    b2 = local_rows_df(spark, "doc_id long, text string", [(3, t), (4, u)])
    got = _pairs(
        incremental_lsh_fold(
            spark, index, b2, threshold=threshold, batch_token="b2"
        )
    )
    # doc 3 (dup of tombstoned 1) finds nothing; doc 4 still matches 2
    assert [(a, b) for a, b, _ in got] == [(2, 4)]

    # keep-newest (streaming) compaction retains the tombstones
    compact_index(spark, index, keep_newest=True)
    assert os.path.isdir(f"{index}/deletes")

    # full compaction scrubs doc 1 physically and consumes them
    assert compact_index(spark, index, keep_newest=False) > 0
    assert not os.path.isdir(f"{index}/deletes")
    import glob

    # read the batch subdirs explicitly (the readers' own access shape
    # — a bare dir read does not traverse non-partition subdirectories)
    subs = glob.glob(f"{index}/bands/batch-*")
    band_ids = {r.doc_id for r in spark.read.parquet(*subs).collect()}
    assert 1 not in band_ids and {2, 3, 4} <= band_ids

    # post-consumption folds still never pair against the scrubbed doc
    b3 = local_rows_df(spark, "doc_id long, text string", [(5, t)])
    got3 = _pairs(
        incremental_lsh_fold(
            spark, index, b3, threshold=threshold, batch_token="b3"
        )
    )
    assert [(a, b) for a, b, _ in got3] == [(3, 5)]


def test_index_delete_full_compact_single_batch_dir(spark, tmp_path):
    """A FULL compaction with pending tombstones forces the rewrite
    even when a subdirectory holds just ONE batch (normally a no-op):
    consumption is only safe because no unfiltered row can remain."""
    import glob
    import os

    from py_data_pipeline_app_spark.operators.dedup_incremental import (
        compact_index,
        index_delete,
    )

    index = str(tmp_path / "idx")
    b1 = local_rows_df(
        spark,
        "doc_id long, text string",
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
    )
    incremental_lsh_fold(spark, index, b1, threshold=0.5, batch_token="b1").collect()
    assert index_delete(spark, index, b1.filter(F.col("doc_id") == 1)) is not None

    # one batch dir per subdir + tombstones -> full pass must rewrite
    assert compact_index(spark, index, keep_newest=False) > 0
    assert not os.path.isdir(f"{index}/deletes")
    subs = glob.glob(f"{index}/bands/batch-*")
    ids = {r.doc_id for r in spark.read.parquet(*subs).collect()}
    assert ids == {2}

    # and converges: nothing left to do
    assert compact_index(spark, index, keep_newest=False) == 0


def test_history_probe_partition_prunes(spark, docs, tmp_path):
    """The fold's band-table probe reaches the parquet scan as a
    PARTITION filter on the batch's own prefix set (pb = band-key hash
    % part_buckets) — per-fold history I/O follows the batch's touched
    prefixes, not the index size (plan-asserted, the IVF
    PartitionFilters discipline)."""
    import contextlib
    import io
    import re

    index = str(tmp_path / "idx")
    incremental_lsh_fold(
        spark, index, docs.filter(F.col("doc_id") >= 10), batch_token="a"
    )
    pairs = incremental_lsh_fold(
        spark, index, docs.filter(F.col("doc_id") < 10), batch_token="b"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain(mode="formatted")
    plan = buf.getvalue()
    assert re.search(r"PartitionFilters: \[[^]]*pb#\d+ (IN|=)", plan), plan[:2000]
