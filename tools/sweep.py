#!/usr/bin/env python
"""Round-11 optimization sweep: time EVERY declared query at
$SPARK_GRAFT_SF_DIR (default sf0.1) with the noop sink (guide §1.4 —
forces every column of every row, no sink cost, no column pruning).

Two timed evaluations per query: the first ("cold") includes plan
analysis + Python-worker spin-up for that query's kernels; the second
("warm") is the steady-state number. Jobs are labelled (guide §1.5).

r12: ``SWEEP_REPS=N`` (default 1) times N warm evaluations and keeps
the MEDIAN as "warm" (all reps in "reps") — the r11 checklist carried
phantom regressions from single-run neighbor noise (queries timed right
after a heavy one inherit its GC/worker churn; VERDICT r11 item 9).

One fixed order: one untimed warm-up query (the first name) absorbs the
slow first query after JVM start, then every name is timed in sorted
order, so two sweeps of the same names compare the same positions
whatever order ``queries()`` returns them in (it follows the gate).

Output: one JSON line per query on stdout + a summary file
(tools/sweep_<tag>.json) sorted slowest-first. Usage:

    python tools/sweep.py [only_these_query_names...]
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
TAG = os.environ.get("SWEEP_TAG", "before")
REPS = max(1, int(os.environ.get("SWEEP_REPS", "1")))


def build_spark():
    from pyspark.sql import SparkSession
    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("r11-sweep")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def steal_ticks():
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) if parts[0] == "cpu" and len(parts) > 8 else 0
    except Exception:
        return 0


def main():
    import __spark_entry__ as entrymod
    spark = build_spark()
    spark.sparkContext.setLogLevel("ERROR")

    qmap = entrymod.queries()
    only = set(sys.argv[1:])
    names = sorted(k for k in qmap if k in only or not only)
    if names:
        spark.sparkContext.setJobDescription("sweep:warm-up")
        try:
            qmap[names[0]](spark, SF_DIR).write.format("noop") \
                .mode("overwrite").save()
        except Exception:  # noqa: BLE001 — its timed run records it
            pass

    results = {}
    for name in names:
        fn = qmap[name]
        spark.sparkContext.setJobDescription(f"sweep:{name}")
        row = {"err": None}
        try:
            st0 = steal_ticks()
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            reps = []
            for _ in range(REPS):
                r0 = time.perf_counter()
                fn(spark, SF_DIR).write.format("noop") \
                    .mode("overwrite").save()
                reps.append(round(time.perf_counter() - r0, 3))
            row["cold"] = round(t1 - t0, 3)
            row["warm"] = round(statistics.median(reps), 3)
            if REPS > 1:
                row["reps"] = reps
            row["steal"] = steal_ticks() - st0
        except Exception as e:  # noqa: BLE001 — record and continue
            row["err"] = f"{type(e).__name__}: {e}"[:300]
        results[name] = row
        print(json.dumps({"q": name, **row}), flush=True)
        spark.sparkContext.setJobDescription(None)

    ordered = dict(sorted(results.items(),
                          key=lambda kv: -(kv[1].get("warm") or 1e9)))
    out = os.path.join(HERE, "tools", f"sweep_{TAG}.json")
    with open(out, "w") as fh:
        json.dump({"sf_dir": SF_DIR, "cpus": CPUS, "queries": ordered},
                  fh, indent=1)
    errs = [k for k, v in results.items() if v["err"]]
    print(json.dumps({"sweep_done": TAG, "n": len(results),
                      "errors": errs,
                      "total_warm_sec": round(sum(
                          v.get("warm") or 0 for v in results.values()), 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
