"""bench.py telemetry contract (r7 verdict item 2): the counters the
bench JSON's per-query deltas and session block are built from must
populate in a live local session — if a Spark upgrade breaks the
management-bean or status-store reflection, this catches it at test
time instead of silently degrading the r8+ bench telemetry to None."""

from pathlib import Path

import bench

#: the checkout root (tests/conftest.py puts it first on sys.path)
ROOT = Path(__file__).resolve().parents[1]


def test_jvm_counters_populate(spark):
    c = bench.jvm_counters(spark)
    assert c["gc_ms"] is not None and c["gc_ms"] >= 0
    assert c["uptime_ms"] is not None and c["uptime_ms"] > 0
    assert c["heap_used_mb"] is not None and c["heap_used_mb"] > 0
    # task_ms comes from the app status store; run one job so the
    # executor summary exists, then the counter must be readable
    spark.range(10).count()
    c2 = bench.jvm_counters(spark)
    assert c2["task_ms"] is not None and c2["task_ms"] >= 0
    # counters are cumulative: a later read never goes backwards
    assert c2["gc_ms"] >= c["gc_ms"]
    assert c2["uptime_ms"] >= c["uptime_ms"]


def test_force_counts_rows(spark):
    df = spark.range(0, 123).toDF("x")
    assert bench.force(df) == 123


def test_last_stdout_line_is_compact_summary():
    """The driver machine-reads the LAST stdout line within a bounded
    tail-capture window (round 8: the 3 KB single-line telemetry object
    front-truncated there → BENCH_r08 "parsed": null). Contract: the
    final print is a standalone compact summary under ~1.5 KB with the
    driver-required keys; telemetry rides an earlier line."""
    import ast
    import json

    src = (ROOT / "bench.py").read_text()
    tree = ast.parse(src)
    main = next(n for n in ast.walk(tree)
                if isinstance(n, ast.FunctionDef) and n.name == "main")
    prints = [n for n in ast.walk(main)
              if isinstance(n, ast.Call)
              and isinstance(n.func, ast.Name) and n.func.id == "print"]
    last = max(prints, key=lambda n: n.lineno)
    # the last print's json.dumps argument is a dict literal — rebuild
    # its key set and a worst-case-size rendering without running Spark
    dumped = last.args[0]
    assert isinstance(dumped, ast.Call) and dumped.func.attr == "dumps"
    keys = {k.value for k in dumped.args[0].keys}
    assert {"metric", "value", "unit", "queries", "spread",
            "sf", "cpus", "runs"} <= keys
    assert "telemetry" not in keys and "runs_all" not in keys \
        and "session" not in keys
    # worst-case size: 8 headline queries x (name + 2 floats) + scalars
    fake = {"metric": "spatial_queries_total_sec", "value": 9999.9999,
            "unit": "sec",
            "queries": {f"q_{i:02d}_long_query_name": 9999.9999
                        for i in range(8)},
            "spread": {f"q_{i:02d}_long_query_name": [9999.9999, 9999.9999]
                       for i in range(8)},
            "sf": 0.1, "cpus": 32, "runs": 5, "loadavg_max": 99.99}
    assert len(json.dumps(fake)) < 1200


def test_steal_retry_policy():
    """r10 verdict item 1: a timed window whose hypervisor steal
    exceeds the threshold is re-run (bounded at MAX_ATTEMPTS) and the
    least-stolen attempt is published."""
    thr = bench.STEAL_RETRY_TICKS
    assert thr > 0 and bench.MAX_ATTEMPTS >= 2
    # trips only on measurable steal above threshold with budget left
    assert bench.retry_needed(thr + 1, 1)
    assert not bench.retry_needed(thr, 1)          # at threshold: keep
    assert not bench.retry_needed(None, 1)         # unmeasurable: keep
    assert not bench.retry_needed(thr + 1, bench.MAX_ATTEMPTS)  # budget
    # cleanest = least steal, tie-broken by fastest median
    a = {"median": 5.0, "steal_ticks": 9000}
    b = {"median": 9.0, "steal_ticks": 12}
    c = {"median": 8.0, "steal_ticks": 12}
    assert bench.cleanest([a, b, c]) is c
    assert bench.cleanest([a]) is a
    # None steal ranks as 0 (nothing to rank on) and never raises
    d = {"median": 1.0, "steal_ticks": None}
    assert bench.cleanest([a, d]) is d


def test_steal_ticks_readable_and_monotone():
    """/proc/stat steal must read as a non-negative cumulative int on
    this platform (or None on exotic kernels — never an exception)."""
    s1 = bench.steal_ticks()
    s2 = bench.steal_ticks()
    if s1 is None:
        assert s2 is None
        return
    assert isinstance(s1, int) and s1 >= 0
    assert s2 >= s1
