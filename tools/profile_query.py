"""Per-job wall-time profiler for registered queries (guide §1).

Runs one or more registered queries into a noop sink, warmup first,
with the Spark event log enabled, then
attributes wall time job-by-job using each job's call site — which
separates eager index-build writes, driver collects, localCheckpoints,
and the final noop sink inside one "query" timing.

Usage:
    python tools/profile_query.py [--sf-dir DIR] [--runs N] name [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    event_dir = tempfile.mkdtemp(prefix="spark_events_")

    from py_data_pipeline_app_spark.plans.queries import QUERIES as qs
    from py_data_pipeline_app_spark.session import get_spark

    spark = get_spark(
        "profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sf_dir = args.sf_dir

    # warmup
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    for name in args.names:
        fn = qs.get(name)
        if fn is None:
            print(f"!! unknown query {name}")
            continue
        for run in range(args.runs):
            spark.sparkContext.setJobDescription(f"{name}#run{run}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            print(f"== {name} run{run}: {dt:.3f}s wall")
        spark.sparkContext.setJobDescription(None)

    # flush the event log and parse it
    app_id = spark.sparkContext.applicationId
    spark.stop()
    path = os.path.join(event_dir, app_id)
    if not os.path.isfile(path):  # Spark 4 rolling layout: a directory
        d = os.path.join(event_dir, f"eventlog_v2_{app_id}")
        parts = sorted(
            os.path.join(d, p) for p in os.listdir(d) if p.startswith("events")
        )
    else:
        parts = [path]
    lines: list[str] = []
    for p in parts:
        if p.endswith(".zstd"):
            import zstandard

            with open(p, "rb") as f:
                data = zstandard.ZstdDecompressor().stream_reader(f).read()
            lines.extend(data.decode("utf-8").splitlines())
        else:
            with open(p) as f:
                lines.extend(f)
    jobs: dict[int, dict] = {}
    if True:
        for line in lines:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"],
                    "desc": props.get("spark.job.description", ""),
                    "site": props.get("callSite.short", ""),
                    "stages": len(ev.get("Stage IDs", [])),
                }
            elif et == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["t1"] = ev["Completion Time"]

    by_desc: dict[str, list] = {}
    for jid in sorted(jobs):
        j = jobs[jid]
        if "t1" not in j:
            continue
        dur = (j["t1"] - j["t0"]) / 1000.0
        by_desc.setdefault(j["desc"] or "<none>", []).append(
            (jid, dur, j["site"], j["stages"])
        )
    for desc, rows in by_desc.items():
        total = sum(r[1] for r in rows)
        print(f"\n### {desc}: {len(rows)} jobs, {total:.3f}s summed job time")
        for jid, dur, site, nst in rows:
            print(f"  job {jid:4d}  {dur:7.3f}s  stages={nst:2d}  {site}")
    print(f"\n(event log: {path})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
