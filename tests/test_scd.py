"""S6 SCD/CDC invariants (SURVEY.md §5.2.2-3).

The shipped reference state DB encodes the invariant: k duplicate ids in
the workbook ⇒ k change rows on first load, 2k on every reload (addresses
ping-pong), and the dimension always holds the LAST occurrence per key —
39 uploads of the sample (k=4) produced exactly 4 + 38×8 = 308 change
rows (reference upload_logs.db; loop at app.py:110-123).
"""

from pyspark.sql import Row

from py_data_pipeline_app_spark.operators.scd import apply_scd_batch


def _batch(spark, rows):
    return spark.createDataFrame(
        [Row(customer_id=k, address=a, _sheet_pos=i) for i, (k, a) in enumerate(rows)],
        "customer_id string, address string, _sheet_pos long",
    )


def _replay(spark, batches):
    """Replay uploads sequentially, accumulating dim state + change count."""
    dim = None
    total_changes = 0
    for rows in batches:
        res = apply_scd_batch(dim, _batch(spark, rows), key="customer_id", tracked="address")
        total_changes += res.changes.count()
        # materialize state like a warehouse write would
        dim = spark.createDataFrame(res.new_state.collect(), res.new_state.schema)
    return dim, total_changes


def test_first_load_logs_one_change_per_dup_id(spark):
    rows = [("C1", "a1"), ("C2", "b1"), ("C1", "a2"), ("C3", "c1")]
    res = apply_scd_batch(None, _batch(spark, rows))
    changes = {(r.customer_id, r.old_address, r.new_address) for r in res.changes.collect()}
    assert changes == {("C1", "a1", "a2")}
    state = {r.customer_id: r.address for r in res.new_state.collect()}
    assert state == {"C1": "a2", "C2": "b1", "C3": "c1"}


def test_same_address_reoccurrence_logs_nothing(spark):
    rows = [("C1", "a1"), ("C1", "a1")]
    res = apply_scd_batch(None, _batch(spark, rows))
    assert res.changes.count() == 0


def test_reload_ping_pong_formula(spark):
    """k dup ids ⇒ k changes on first load, 2k per reload (308-formula)."""
    k = 3
    upload = [(f"D{i}", "first") for i in range(k)] + [("S1", "static")] + [
        (f"D{i}", "second") for i in range(k)
    ]
    n_reloads = 4
    dim, total = _replay(spark, [upload] * (1 + n_reloads))
    assert total == k + 2 * k * n_reloads
    state = {r.customer_id: r.address for r in dim.collect()}
    assert all(state[f"D{i}"] == "second" for i in range(k))


def test_change_compares_against_existing_dim_state(spark):
    first = [("C1", "old")]
    second = [("C1", "new")]
    dim, total = _replay(spark, [first, second])
    assert total == 1
    assert dim.collect()[0].address == "new"

