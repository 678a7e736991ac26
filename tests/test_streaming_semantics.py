"""Multi-micro-batch streaming semantics: watermark late-data drops and
append-mode window finalization.

The driver-checked streaming queries run the bounded fixture in ONE
availableNow batch, which never exercises what watermarks exist for.
These tests feed a file stream one file per micro-batch
(maxFilesPerTrigger=1) and pin the contract a production stream relies
on — including the subtlety that Spark's drop is LAZY: a record behind
the watermark is only guaranteed dropped once its window's state has
been evicted (which happens when the window is emitted in append mode);
until then it still merges. Both sides of that contract are asserted.
"""

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F


CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     ".cache", "stream_semantics")

US = 1_000_000
H = 3600 * US
# hour-aligned epoch anchor so F.window starts land exactly on BASE+k·H
BASE = (1_700_000_000 // 3600) * 3600 * US


def _write_events(path: str, rows, mtime: float) -> None:
    ids, ts = zip(*rows)
    tbl = pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array([int(t) for t in ts], pa.timestamp("us")),
    })
    pq.write_table(tbl, path)
    os.utime(path, (mtime, mtime))


def _run_windowed_count(spark, d: str):
    """1h-window count with 1h watermark, one file per micro-batch;
    returns ({window_start_offset_us: count}, recentProgress)."""
    schema = spark.read.parquet(d).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(d)
              .withColumn("ts", F.col("ts").cast("timestamp")))
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"))
           .agg(F.count(F.lit(1)).alias("n")))
    name = "wm_" + uuid.uuid4().hex[:8]
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = {r["w0"] - BASE: r["n"] for r in spark.table(name)
            .select(F.unix_micros("w.start").alias("w0"), "n").collect()}
    return rows, q.recentProgress


def test_watermark_drops_late_row_after_eviction(spark):
    shutil.rmtree(CACHE, ignore_errors=True)
    os.makedirs(CACHE, exist_ok=True)
    now = time.time()
    # batch 0: three rows in hour-0, one at +5h → watermark ends at +4h
    _write_events(os.path.join(CACHE, "a.parquet"),
                  [(1, BASE + 300 * US), (2, BASE + 600 * US),
                   (3, BASE + 900 * US), (4, BASE + 5 * H)],
                  mtime=now - 60)
    # batch 1: fresh row — hour-0 (end 1h < wm 4h) is emitted + evicted
    _write_events(os.path.join(CACHE, "b.parquet"),
                  [(5, BASE + 5 * H + 60 * US)], mtime=now - 30)
    # batch 2: late hour-0 row — state evicted ⇒ guaranteed dropped
    _write_events(os.path.join(CACHE, "c.parquet"),
                  [(6, BASE + 1200 * US)], mtime=now)

    rows, progress = _run_windowed_count(spark, CACHE)
    assert len(progress) >= 3, "stream did not run 3 micro-batches"
    # hour-0 finalized once, with only batch-0 rows; the +5h window
    # never passes the watermark so append mode never emits it
    assert rows == {0: 3}
    dropped = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"]
                  for p in progress if p["stateOperators"])
    assert dropped == 1, "late row was not dropped by the watermark"


def test_late_row_merges_while_state_alive(spark):
    """The other half of the lazy-drop contract: a behind-watermark row
    arriving BEFORE its window is evicted still merges into the state
    and is counted in the single append emission."""
    d = CACHE + "_alive"
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    now = time.time()
    _write_events(os.path.join(d, "a.parquet"),
                  [(1, BASE + 300 * US), (2, BASE + 5 * H)], mtime=now - 60)
    # behind the 4h watermark, but hour-0 state not yet evicted (no
    # batch has run with the advanced watermark) → merges
    _write_events(os.path.join(d, "b.parquet"),
                  [(3, BASE + 600 * US)], mtime=now)

    rows, progress = _run_windowed_count(spark, d)
    assert rows == {0: 2}
    dropped = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"]
                  for p in progress if p["stateOperators"])
    assert dropped == 0
