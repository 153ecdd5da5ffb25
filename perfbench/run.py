"""The pipeline engine's benchmark.

    python3 perfbench/run.py --workload upload_loop --seed 1 --seconds 5 --trace 0

Runs one seeded workload closed-loop with one client against Spark
``local[<cores>]``, checks every output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the Spark event
log is on, every span is a Spark job group, and the metrics are the
per-layer ones. See perfbench/README.md for what each metric means and
which layer should move it.

Each run works in its own directory under ``perfbench/out`` (own
``TMPDIR``, Spark local dirs, warehouse and inputs), removed at the
end; only the run summary and its spans are kept in
``perfbench/out/results``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "py_data_pipeline_app_spark"
OUT = os.path.join(HERE, "out")
RESULTS = os.path.join(OUT, "results")

sys.path.insert(0, HERE)

from oracles import result_key  # noqa: E402
from tables import write_tables  # noqa: E402
from spans import Tracer, read_event_log, span_accounting  # noqa: E402
from workbooks import Expected, UploadStream, write_workbook  # noqa: E402

# Rows of the query workload: relational operators (broadcast enrich
# joins, ranking, temporal as-of join, salted skew aggregation) over the
# star schema, then corpus rows that write and probe a persisted index
# and run k-means plus a similarity self-join. The list is sized so a
# cold verified pass and a timed pass fit in one run of under a minute.
RELATIONAL_ROWS = [
    "enrich_strict_vs_dedup",
    "customer_spend_deciles",
    "asof_last_click_before_purchase",
    "salted_segment_revenue",
]
CURATION_ROWS = [
    "dedup_incremental_lsh",
    "semantic_dedup",
]
QUERY_ROWS = RELATIONAL_ROWS + CURATION_ROWS
TABLE_SEED = 42  # the query inputs are fixed; the run seed orders the rows
TABLE_SF = 0.01

WARMUP_UPLOADS = 1
RETENTION_EVERY = 2  # uploads between retention passes
DRIVER_MEMORY = "3g"
WATCHDOG_S = 170
ORACLE_TIMEOUT_S = 90

UPLOAD_CALLS = (
    "sources.ingest_workbook",
    "pipeline.process_upload",
    "pipeline.write_excel_report",
)
SPARK_METRICS = [
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("empty_task_frac", "fraction"),
    ("driver_gap_s", "s"),
    ("scheduler_delay_s", "s"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("input_bytes", "bytes"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("output_bytes", "bytes"),
    ("failed_tasks", "count"),
]


def end_to_end_units() -> dict[str, str]:
    return {
        "setup_s": "s",
        "mix_s": "s",
        "call_geomean_s": "s",
        "stored_bytes_per_input_byte": "ratio",
        "driver_py_peak_mb": "MB",
    }


def per_layer_units() -> dict[str, str]:
    units = {"session.get_spark_s": "s", "session.jvm_peak_rss_mb": "MB", "session.jvm_live_heap_mb": "MB"}
    for call in UPLOAD_CALLS + ("pipeline.list_views",):
        units[f"{call}_s"] = "s"
        units[f"{call}_jobs"] = "count"
    units.update(
        {
            "warehouse.retention_s": "s",
            "warehouse.log_dirs": "count",
            "warehouse.snapshot_versions": "count",
            "warehouse.bytes_written_per_upload": "bytes",
            "plans.build_s": "s",
            "plans.build_jobs": "count",
            "plans.execute_s": "s",
            "plans.execute_jobs": "count",
        }
    )
    for q in QUERY_ROWS:
        units[f"plans.{q}.s"] = "s"
        units[f"plans.{q}.jobs"] = "count"
    for name, unit in SPARK_METRICS:
        units[f"spark.{name}"] = unit
    return units


# -- process environment ------------------------------------------------------


def prepare_environment(run_dir: str) -> dict[str, str]:
    """The tier-1 test environment, plus per-run scratch: cores from the
    affinity mask, Spark local dirs and TMPDIR inside the run directory,
    and the repository root on PYTHONPATH so executor Python workers can
    import the engine."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "wh", "inputs", "reports", "events")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None  # re-read TMPDIR
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    return dirs


def proc_status_mb(pid: int | str, key: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    raise KeyError(key)


def jvm_live_heap_mb(jvm) -> float:
    """Heap in use after a forced full GC, the least of three reads.
    Python's collector runs first so dropped DataFrames release their
    JVM handles, the pauses let Spark's context cleaner free what they
    held, and the least read drops what other threads allocate between
    a collection and its read."""
    gc.collect()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    reads = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
        reads.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
    return min(reads)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait()


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


# -- runs -------------------------------------------------------------------


class Run:
    """One benchmark run: the session, the tracer and the op ledger."""

    def __init__(self, args, dirs: dict[str, str]):
        self.args = args
        self.dirs = dirs
        self.attempted = 0
        self.failed = 0
        self.tracer: Tracer | None = None
        self.timed_passes: list = []

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED: {what}", file=sys.stderr)

    def prepare(self) -> None:
        """Work done before the session starts."""

    def stop(self) -> None:
        """Stop any process the workload started."""

    def start_session(self):
        from py_data_pipeline_app_spark.session import get_spark

        conf = {}
        if self.args.trace:
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.dirs["events"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}", extra_conf=conf)
        self.get_spark_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark.sparkContext if self.args.trace else None)

    def timed_loop(self) -> None:
        """Closed loop: the next pass starts when the previous ends,
        until ``--seconds`` have passed; at least one pass."""
        t0 = time.perf_counter()
        passes = 0
        while passes == 0 or time.perf_counter() - t0 < self.args.seconds:
            self.one_pass(timed=True)
            passes += 1


class UploadLoop(Run):
    """Sequential workbook uploads folding into one growing warehouse;
    the history views after each upload; retention every few uploads."""

    def setup(self) -> None:
        from py_data_pipeline_app_spark.warehouse import Warehouse

        self.stream = UploadStream(seed=self.args.seed)
        self.wh = Warehouse(self.spark, self.dirs["wh"])
        self.input_bytes = 0
        self.k = 0
        for _ in range(WARMUP_UPLOADS):
            self.one_pass(timed=False)

    def one_pass(self, timed: bool) -> None:
        from py_data_pipeline_app_spark import pipeline
        from py_data_pipeline_app_spark.sources.ingest import ingest_workbook

        span, k = self.tracer.span, self.k
        self.k += 1
        sheets, expected = self.stream.next_workbook()
        path = os.path.join(self.dirs["inputs"], f"upload_{k:04d}.xlsx")
        write_workbook(path, sheets)
        self.input_bytes += os.path.getsize(path)
        report = os.path.join(self.dirs["reports"], f"report_{k:04d}.xlsx")
        run_ts = f"2024-01-01T{k // 3600:02d}:{k // 60 % 60:02d}:{k % 60:02d}"
        stage = "upload"
        try:
            with span("pass", op=f"pass{k}") as p:
                with span("sources.ingest_workbook"):
                    sheet_dfs = ingest_workbook(self.spark, path)
                with span("pipeline.process_upload"):
                    result = pipeline.process_upload(
                        self.spark, self.wh, sheet_dfs, filename=os.path.basename(path), run_ts=run_ts
                    )
                with span("pipeline.write_excel_report"):
                    pipeline.write_excel_report(result, report)
                stage = "views"
                with span("pipeline.list_views"):
                    uploads = pipeline.list_uploads(self.wh).collect()
                    changes = pipeline.list_address_changes(self.wh).collect()
        except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
            traceback.print_exc()
            self.op(False, f"{stage} {k}")
            return
        p.attrs["timed"] = timed
        if timed:
            self.timed_passes.append(p)
        with span("verify", op=f"verify{k}"):
            self.verify(k, result, report, uploads, changes, expected)
        if self.k % RETENTION_EVERY == 0:
            self.retention(k, timed)

    def verify(self, k, result, report, uploads, changes, exp: Expected) -> None:
        import pandas as pd

        base = report.rsplit(".", 1)[0]
        problems = []
        n_rejects = result.rejects.count()
        if n_rejects != exp.rejects:
            problems.append(f"rejects {n_rejects} != {exp.rejects}")
        summary = pd.read_parquet(f"{base}_CategoryTotalsSummary.parquet")
        got = {r.customer_id: r.amount for r in summary.itertuples()}
        want = {c: float(v) for c, v in exp.customer_totals.items()}
        if set(got) != set(want) or any(abs(got[c] - want[c]) > 1e-6 for c in want):
            problems.append("customer totals differ")
        top = pd.read_parquet(f"{base}_TopSpenders.parquet")
        got_top = {r.category: (r.customer_id, r.amount) for r in top.itertuples()}
        for cat, (amount, cids) in exp.top_spenders.items():
            cid, amt = got_top.get(cat, (None, None))
            if cid not in cids or amt is None or abs(amt - float(amount)) > 0.005:
                problems.append(f"top spender {cat}: {cid} {amt} != {sorted(cids)} {amount}")
        self.op(not problems, f"upload {k}: {'; '.join(problems)}")

        n_changes = sum(1 for r in changes if r.upload_id == result.upload_id)
        view_ok = (
            len(uploads) == k + 1
            and uploads[0].id == result.upload_id
            and n_changes == exp.changes
        )
        self.op(view_ok, f"views {k}: {len(uploads)} uploads, {n_changes} != {exp.changes} changes")

    def retention(self, k: int, timed: bool) -> None:
        span = self.tracer.span
        try:
            with span("warehouse.retention", op=f"retention{k}") as r:
                with span("warehouse.compact_log"):
                    self.wh.compact_log("uploads")
                    self.wh.compact_log("address_changes")
                with span("warehouse.vacuum"):
                    self.wh.vacuum("customers")
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            self.op(False, f"retention {k}")
            return
        r.attrs["timed"] = timed
        self.op(True)

    def end_to_end(self) -> dict[str, float]:
        passes = self.timed_passes
        calls = [[self._child(p, n).dur for n in UPLOAD_CALLS + ("pipeline.list_views",)] for p in passes]
        return {
            "mix_s": median([p.dur for p in passes]),
            "call_geomean_s": median([geomean(c) for c in calls]),
            "stored_bytes_per_input_byte": dir_bytes(self.dirs["wh"]) / self.input_bytes,
        }

    def _child(self, parent, name: str):
        return next(s for s in self.tracer.spans if s.parent == parent.id and s.name == name)

    def per_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for call in UPLOAD_CALLS + ("pipeline.list_views",):
            spans = [self._child(p, call) for p in self.timed_passes]
            out[f"{call}_s"] = median([s.dur for s in spans])
            out[f"{call}_jobs"] = median([s.attrs["jobs"] for s in spans])
        retention = [s for s in self.tracer.spans if s.name == "warehouse.retention" and s.attrs.get("timed")]
        out["warehouse.retention_s"] = median([s.dur for s in retention])
        out["warehouse.log_dirs"] = sum(
            len(os.listdir(os.path.join(self.dirs["wh"], t, "log"))) for t in ("uploads", "address_changes")
        )
        customers = os.path.join(self.dirs["wh"], "customers")
        out["warehouse.snapshot_versions"] = sum(
            os.path.exists(os.path.join(customers, v, "_SUCCESS")) for v in os.listdir(customers)
        )
        out["warehouse.bytes_written_per_upload"] = median(
            [self._child(p, "pipeline.process_upload").attrs["output_bytes"] for p in self.timed_passes]
        )
        return out


class QueryMix(Run):
    """Passes over the query rows in a seeded order: each row is built
    (the query call, including any eager index writes) and then
    executed into the noop sink. The warm-up pass collects instead and
    checks each result against its DuckDB oracle."""

    def prepare(self) -> None:
        """Write the tables and start their DuckDB oracles in a process
        of their own, which runs while the session starts and warms up."""
        self.tables = os.path.join(self.dirs["inputs"], "tables")
        self.input_bytes = write_tables(self.tables, TABLE_SEED, TABLE_SF)
        self.oracle_keys = os.path.join(self.dirs["inputs"], "oracle_keys.json")
        self.child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "oracles.py"), self.tables, self.oracle_keys, *QUERY_ROWS],
            stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL,
            cwd=self.dirs["tmp"],  # DuckDB spills below its working directory
        )

    def setup(self) -> None:
        from py_data_pipeline_app_spark.plans.queries import QUERIES

        self.queries = QUERIES
        self.rng = random.Random(self.args.seed)
        self.k = 0
        self.verify_pass()

    def verify_pass(self) -> None:
        """The warm-up pass: collect every row's result and compare its
        key with the DuckDB oracle's."""
        got = {}
        for name in self.order():
            try:
                with self.tracer.span(f"plans.{name}", op=f"verify.{name}"):
                    with self.tracer.span("plans.build"):
                        df = self.queries[name](self.spark, self.tables)
                    with self.tracer.span("plans.collect"):
                        got[name] = result_key(df.columns, [tuple(r) for r in df.collect()])
            except Exception:  # noqa: BLE001 - a failed row is counted, the run goes on
                traceback.print_exc()
                got[name] = None
        if self.child.wait(timeout=ORACLE_TIMEOUT_S) != 0:
            raise RuntimeError(f"oracle process exited with {self.child.returncode}")
        with open(self.oracle_keys) as f:
            want = json.load(f)
        for name, key in got.items():
            self.op(key is not None and key == want[name], f"{name}: result differs from its DuckDB oracle")

    def stop(self) -> None:
        child = getattr(self, "child", None)
        if child is not None and child.poll() is None:
            child.kill()
            child.wait()

    def order(self) -> list[str]:
        return self.rng.sample(QUERY_ROWS, len(QUERY_ROWS))

    def one_pass(self, timed: bool) -> None:
        span = self.tracer.span
        k = self.k
        self.k += 1
        with span("pass", op=f"pass{k}") as p:
            for name in self.order():
                try:
                    with span(f"plans.{name}"):
                        with span("plans.build"):
                            df = self.queries[name](self.spark, self.tables)
                        with span("plans.execute"):
                            df.write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001
                    traceback.print_exc()
                    self.op(False, name)
                    continue
                self.op(True)
        self.timed_passes.append(p)

    def _queries(self, p) -> list:
        return [s for s in self.tracer.spans if s.parent == p.id]

    def _steps(self, p, step: str) -> list:
        ids = {s.id for s in self._queries(p)}
        return [s for s in self.tracer.spans if s.parent in ids and s.name == step]

    def end_to_end(self) -> dict[str, float]:
        passes = self.timed_passes
        return {
            "mix_s": median([p.dur for p in passes]),
            "call_geomean_s": median([geomean([q.dur for q in self._queries(p)]) for p in passes]),
            "stored_bytes_per_input_byte": dir_bytes(self.dirs["tmp"]) / self.input_bytes,
        }

    def per_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for step in ("build", "execute"):
            per_pass = [self._steps(p, f"plans.{step}") for p in self.timed_passes]
            out[f"plans.{step}_s"] = median([sum(s.dur for s in ss) for ss in per_pass])
            out[f"plans.{step}_jobs"] = median([sum(s.attrs["jobs"] for s in ss) for ss in per_pass])
        for q in QUERY_ROWS:
            spans = [s for p in self.timed_passes for s in self._queries(p) if s.name == f"plans.{q}"]
            out[f"plans.{q}.s"] = median([s.dur for s in spans])
            out[f"plans.{q}.jobs"] = median([s.attrs["jobs"] for s in spans])
        return out


WORKLOADS = {"upload_loop": UploadLoop, "query_mix": QueryMix}


def spark_per_pass(run: Run) -> dict[str, float]:
    """The spark.* metrics of a timed pass (its spans and their jobs),
    median over the timed passes."""
    per_pass = []
    for p in run.timed_passes:
        a = dict(p.attrs)
        a["empty_task_frac"] = a["empty_tasks"] / a["tasks"] if a["tasks"] else 0.0
        per_pass.append(a)
    return {f"spark.{name}": median([a[name] for a in per_pass]) for name, _ in SPARK_METRICS}


def tracing_overhead(workload: str, seed: int, traced: dict[str, float]) -> dict[str, float]:
    """Traced minus untraced end-to-end numbers, against the untraced
    run of the same workload and seed (or the median of all untraced
    runs of the workload) kept in perfbench/out/results."""
    same, other = [], []
    for name in os.listdir(RESULTS):
        if not (name.startswith(f"{workload}-") and name.endswith("-t0.json")):
            continue
        with open(os.path.join(RESULTS, name)) as f:
            res = json.load(f)
        (same if res["seed"] == seed else other).append(res["end_to_end"])
    base = same or other
    if not base:
        return {}
    return {k: v - median([b[k] for b in base]) for k, v in traced.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE} package next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2

    def expire(*_):
        raise TimeoutError(f"run exceeded {WATCHDOG_S}s")

    signal.signal(signal.SIGALRM, expire)
    signal.alarm(WATCHDOG_S)

    os.makedirs(RESULTS, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=OUT)
    run = spark = None
    try:
        run = WORKLOADS[args.workload](args, prepare_environment(run_dir))
        sys.path.insert(0, ROOT)
        run.prepare()
        run.start_session()
        spark = run.spark
        run.setup()
        setup_s = time.perf_counter() - T_PROCESS
        run.timed_loop()

        e2e = {
            "setup_s": setup_s,
            **run.end_to_end(),
            "driver_py_peak_mb": proc_status_mb("self", "VmHWM"),
        }
        jvm_mb: dict[str, float] = {}
        if args.trace:
            jvm = spark._jvm
            jvm_mb = {
                "session.jvm_peak_rss_mb": proc_status_mb(jvm.java.lang.ProcessHandle.current().pid(), "VmHWM"),
                "session.jvm_live_heap_mb": jvm_live_heap_mb(jvm),
            }
        layer: dict[str, float] = {}
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)
        spark = None

        summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "end_to_end": e2e}
        tag = f"{args.workload}-s{args.seed}-t{args.trace}"
        if args.trace:
            log = read_event_log(os.path.join(run.dirs["events"], app_id))  # one uncompressed file
            span_accounting(run.tracer.spans, log)
            layer = {
                "session.get_spark_s": run.get_spark_s,
                **jvm_mb,
                **run.per_layer(),
                **spark_per_pass(run),
            }
            summary["per_layer"] = layer
            summary["tracing_overhead"] = tracing_overhead(args.workload, args.seed, e2e)
        run.tracer.write(os.path.join(RESULTS, f"{tag}-spans.json"))
        with open(os.path.join(RESULTS, f"{tag}.json"), "w") as f:
            json.dump(summary, f, indent=1)

        units = per_layer_units() if args.trace else end_to_end_units()
        values = {**{k: 0 for k in units}, **(layer if args.trace else e2e)}
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        if run is not None:
            run.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
