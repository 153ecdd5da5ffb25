"""Structured Streaming: foreachBatch SCD folding from a landing dir,
and windowed aggregations (batch-equivalence + a real stream run)."""

from __future__ import annotations

import ast
import os
import pathlib

import pyspark.sql.functions as F
import pytest

from py_data_pipeline_app_spark import schemas
from py_data_pipeline_app_spark.sources.parquet import load_table
from py_data_pipeline_app_spark.streaming.pipeline import (
    start_customer_stream,
    start_windowed_event_stream,
)
from py_data_pipeline_app_spark.streaming.windows import (
    session_windows,
    sliding_counts,
    tumbling_counts,
)
from py_data_pipeline_app_spark.warehouse import Warehouse

SF_DIR = "/root/testdata/sf0.001"


def _blob(cid: str, addr: str) -> str:
    return "{" + f"{cid}_Name {cid}_u{cid}@x.com_1990-01-01_{addr}_43000.5" + "}"


def test_customer_stream_folds_batches_in_order(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    wh = Warehouse(spark, str(tmp_path / "wh"))

    b1 = spark.createDataFrame(
        [(_blob("C1", "addr one"), 0), (_blob("C2", "addr two"), 1)],
        schemas.CUSTOMERS_RAW,
    )
    b1.coalesce(1).write.parquet(landing + "/batch1")
    q = start_customer_stream(spark, wh, landing + "/*", ckpt)
    q.awaitTermination(120)

    dim = {r.customer_id: r.address for r in wh.read("customers").collect()}
    assert dim == {"C1": "addr one", "C2": "addr two"}
    assert wh.read("address_changes") is None or wh.read("address_changes").count() == 0

    # second landed file: C1 moves, C3 appears
    b2 = spark.createDataFrame(
        [(_blob("C1", "addr moved"), 0), (_blob("C3", "addr three"), 1)],
        schemas.CUSTOMERS_RAW,
    )
    b2.coalesce(1).write.parquet(landing + "/batch2")
    q2 = start_customer_stream(spark, wh, landing + "/*", ckpt)
    q2.awaitTermination(120)

    dim = {r.customer_id: r.address for r in wh.read("customers").collect()}
    assert dim["C1"] == "addr moved" and len(dim) == 3
    changes = wh.read("address_changes").collect()
    assert len(changes) == 1
    assert (changes[0].old_address, changes[0].new_address) == ("addr one", "addr moved")


def test_checkpoint_prevents_refolding(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spark.createDataFrame(
        [(_blob("C1", "a1"), 0)], schemas.CUSTOMERS_RAW
    ).coalesce(1).write.parquet(landing + "/b1")

    start_customer_stream(spark, wh, landing + "/*", ckpt).awaitTermination(120)
    n1 = wh.read("uploads").count()
    # restart with same checkpoint and no new files: nothing re-folds
    start_customer_stream(spark, wh, landing + "/*", ckpt).awaitTermination(120)
    assert wh.read("uploads").count() == n1


def test_replayed_customer_batch_keeps_its_change_log(spark, tmp_path):
    """Checkpoint replay of the last micro-batch (its commit deleted, so
    a restart re-runs it with the same id — Structured Streaming's crash
    recovery) must leave the warehouse as the first attempt left it. The
    retry reads the snapshot its first attempt wrote, so re-deriving
    the change set would find nothing and overwrite the logged move
    with an empty append."""
    landing = str(tmp_path / "landing")
    ckpt = tmp_path / "ckpt"
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for name, rows in (
        ("b1", [(_blob("C1", "addr one"), 0), (_blob("C2", "addr two"), 1)]),
        ("b2", [(_blob("C1", "addr moved"), 0)]),
    ):
        spark.createDataFrame(rows, schemas.CUSTOMERS_RAW).coalesce(1).write.parquet(
            f"{landing}/{name}"
        )
        start_customer_stream(spark, wh, landing + "/*", str(ckpt)).awaitTermination(120)
    assert wh.read("address_changes").count() == 1

    commits = ckpt / "commits"
    os.remove(commits / "1")
    if (commits / ".1.crc").exists():
        os.remove(commits / ".1.crc")
    start_customer_stream(spark, wh, landing + "/*", str(ckpt)).awaitTermination(120)
    assert (commits / "1").exists()  # batch 1 ran again and committed

    changes = wh.read("address_changes").collect()
    assert [(r.customer_id, r.old_address, r.new_address) for r in changes] == [
        ("C1", "addr one", "addr moved")
    ]
    dim = {r.customer_id: r.address for r in wh.read("customers").collect()}
    assert dim == {"C1": "addr moved", "C2": "addr two"}
    assert sorted(r.id for r in wh.read("uploads").collect()) == [1, 2]


PKG = pathlib.Path(__file__).resolve().parents[1] / "py_data_pipeline_app_spark"


def test_one_micro_batch_driver():
    """Static: streaming.fold is the package's only foreachBatch, so the
    replay contract is written and kept in one place."""
    callers = sorted(
        str(f.relative_to(PKG))
        for f in PKG.rglob("*.py")
        if "foreachBatch(" in f.read_text(encoding="utf-8")
    )
    assert callers == ["streaming/fold.py"]


def test_query_registry_not_imported_by_the_engine():
    """Static: no engine module outside plans/ imports the query
    registry; shared constants live with their operators."""
    registry = "py_data_pipeline_app_spark.plans"

    def imports_registry(node):
        if isinstance(node, ast.Import):
            return any(a.name.startswith(registry) for a in node.names)
        if isinstance(node, ast.ImportFrom) and node.module:
            return node.module.startswith(registry) or (
                node.module == "py_data_pipeline_app_spark"
                and any(a.name == "plans" for a in node.names)
            )
        return False

    importers = sorted(
        str(f.relative_to(PKG))
        for f in PKG.rglob("*.py")
        if f.parent.name != "plans"
        and any(
            imports_registry(n)
            for n in ast.walk(ast.parse(f.read_text(encoding="utf-8")))
        )
    )
    assert importers == []


def test_tumbling_counts_batch(spark):
    events = load_table(spark, "events", SF_DIR)
    out = tumbling_counts(events, window_dur="1 hour")
    rows = out.collect()
    assert sum(r.n_events for r in rows) == events.count()
    for r in rows:
        assert (r.window_end - r.window_start).total_seconds() == 3600


def test_sliding_counts_batch(spark):
    events = load_table(spark, "events", SF_DIR)
    tumb = tumbling_counts(events, window_dur="1 hour")
    slid = sliding_counts(events, window_dur="1 hour", slide="30 minutes")
    # each event lands in dur/slide = 2 windows
    assert sum(r.n_events for r in slid.collect()) == 2 * events.count()
    assert slid.count() >= tumb.count()


def test_session_windows_batch(spark):
    events = load_table(spark, "events", SF_DIR)
    out = session_windows(events, gap="5 minutes", key="user_id")
    rows = out.collect()
    assert sum(r.n_events for r in rows) == events.count()
    for r in rows:
        assert r.session_end > r.session_start


def test_windowed_event_stream_matches_batch(spark, tmp_path):
    landing = str(tmp_path / "events_landing")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, "events", SF_DIR)
    events.write.parquet(landing, mode="overwrite")

    q = start_windowed_event_stream(
        spark, landing, ckpt, window_dur="1 hour", watermark="10 minutes",
        query_name="stream_counts_t",
    )
    q.awaitTermination(180)
    got = spark.table("stream_counts_t")

    want = tumbling_counts(events, window_dur="1 hour")
    # append-mode emits only windows closed by the final watermark; every
    # emitted window must match the batch result exactly.
    joined = got.alias("g").join(
        want.alias("w"),
        ["window_start", "window_end", "event_type"],
        "left",
    )
    assert got.count() > 0
    mismatches = joined.filter(
        (F.col("g.n_events") != F.col("w.n_events"))
        | F.col("w.n_events").isNull()
    ).count()
    assert mismatches == 0


@pytest.mark.oracle
def test_stream_auto_maintenance_bounds_warehouse_layout(spark, tmp_path):
    """With maintain_every=2, a 5-batch replay must leave the append
    logs compacted (bounded subdir count), the dimension vacuumed to 2
    snapshots, and every row value identical to the unmaintained fold."""
    import os

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for i in range(5):
        spark.createDataFrame(
            [(_blob("C1", f"addr {i}"), 0), (_blob(f"C{i + 2}", f"new {i}"), 1)],
            schemas.CUSTOMERS_RAW,
        ).coalesce(1).write.parquet(f"{landing}/b{i}")
    q = start_customer_stream(spark, wh, landing + "/*", ckpt, maintain_every=2)
    q.awaitTermination(180)

    # semantics: C1 moved 4 times; one change row per move
    changes = wh.read("address_changes").collect()
    assert len(changes) == 4
    assert {r.customer_id for r in changes} == {"C1"}
    dim = {r.customer_id: r.address for r in wh.read("customers").collect()}
    assert dim["C1"] == "addr 4" and len(dim) == 6
    uploads = wh.read("uploads").collect()
    assert len(uploads) == 5

    # layout: logs compacted (fewer subdirs than batches), snapshots bounded
    def live_subdirs(table):
        d = wh._append_log_dir(table)
        return [e for e in os.listdir(d) if not e.startswith(".")]

    assert len(live_subdirs("uploads")) < 5
    assert len(live_subdirs("address_changes")) < 5
    assert len(wh._versions("customers")) == 2
