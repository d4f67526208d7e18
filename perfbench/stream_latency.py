"""``stream_latency``: open-loop events over TCP into a sliding-window
aggregate in update mode.

A separate feeder process (``feeder.py``) sends ``RATE`` events/s over
one connection to ``sources.readers.socket_source``, each stamped with
its due time. The events feed ``streaming_windowed_agg`` (window
``SIZE_S``/``SLIDE_S`` over the feeder's ``KEYS`` keys); each micro-batch's updated
rows go through ``sinks.to_files`` into a per-batch directory, and
``sinks.read_upsert_state`` reads the final per-window values back.

One latency sample per micro-batch: the batch's end minus the stamp of
its oldest event (queue wait included, window length excluded). The
first ``WARMUP_S`` seconds of the schedule are sent but not sampled.
After the feeder is done the run waits until Spark has ingested every
sent event, then compares the final per-window values with values
recomputed from the feeder's record of what it sent.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import numpy as np
from pyspark.sql import functions as F

from lightsaber_spark.sources.readers import socket_source
from lightsaber_spark.sources.sinks import read_upsert_state, to_files
from lightsaber_spark.streaming import streaming_windowed_agg

from common import Run, median, percentile
from feeder import RATE, WARMUP_S
from streams import ProgressListener, batch_metrics, end_ms, events_per_s, save_progress, start_ms, trace_batches

SIZE_S, SLIDE_S = 10, 2
DRAIN_TIMEOUT_S = 60.0
US = 1_000_000


def reference(rec) -> dict[tuple[int, int], tuple[int, int]]:
    """``{(window_start_s, key): (sum_cents, count)}`` from the feeder's
    record, with the engine's window rule: start s (a multiple of the
    slide) holds ts iff s <= ts < s + size."""
    ts, keys, cents = rec["due_us"], rec["keys"], rec["cents"]
    last = (ts // (SLIDE_S * US)) * SLIDE_S
    out: dict[tuple[int, int], list[int]] = {}
    for j in range(SIZE_S // SLIDE_S):
        starts = last - j * SLIDE_S
        combo = np.stack([starts, keys], axis=1)
        uniq, inv = np.unique(combo, axis=0, return_inverse=True)
        sums = np.bincount(inv.ravel(), weights=cents, minlength=len(uniq))
        cnts = np.bincount(inv.ravel(), minlength=len(uniq))
        for (s, k), sm, c in zip(uniq.tolist(), sums.tolist(), cnts.tolist()):
            acc = out.setdefault((s, k), [0, 0])
            acc[0] += int(sm)
            acc[1] += int(c)
    return {k: (v[0], v[1]) for k, v in out.items()}


def run(r: Run) -> dict:
    record = os.path.join(r.dir, "feeder.npz")
    feeder = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "feeder.py"),
         "--seconds", str(r.seconds), "--seed", str(r.seed), "--record", record],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        return _run(r, feeder, record)
    finally:
        if feeder.stdin:
            feeder.stdin.close()
        try:
            feeder.wait(timeout=10)
        except subprocess.TimeoutExpired:
            feeder.kill()
            feeder.wait()


def _run(r: Run, feeder: subprocess.Popen, record: str) -> dict:
    port = int(_expect(feeder, "PORT"))
    r.setup(lambda spark: socket_source(spark, "127.0.0.1", port))
    spark = r.spark
    raw = socket_source(spark, "127.0.0.1", port)
    parts = F.split("value", ",")
    ev = raw.select(
        parts[0].cast("bigint").alias("ts_us"),
        parts[1].cast("int").alias("key"),
        parts[2].cast("bigint").alias("value_c"),
    ).withColumn("ts", F.timestamp_micros("ts_us"))
    ev = ev.observe("lat", F.min("ts_us").alias("min_ts_us"), F.count(F.lit(1)).alias("rows"))
    agg = streaming_windowed_agg(
        ev, "ts", SIZE_S, SLIDE_S, [("sum", "value_c", "sum_c"), ("count", None, "n")], ["key"]
    )
    out = os.path.join(r.dir, "sink")
    write_ms: list[float] = []

    def sink(batch_df, batch_id):
        t0 = time.perf_counter()
        to_files(batch_df, f"{out}/_batch={batch_id}")
        write_ms.append(1000.0 * (time.perf_counter() - t0))

    listener = ProgressListener()
    spark.streams.addListener(listener)
    q = (agg.writeStream.foreachBatch(sink).outputMode("update")
         .option("checkpointLocation", os.path.join(r.dir, "checkpoint")).start())
    try:
        _expect(feeder, "WARM")
        with r.rss_sampler() as rss:
            gc0 = r.gc_ms()
            n_sent = int(_expect(feeder, "DONE"))
            deadline = time.time() + DRAIN_TIMEOUT_S
            while listener.total_rows < n_sent and time.time() < deadline:
                ex = q.exception()
                if ex is not None:
                    raise RuntimeError(f"stream failed: {ex}")
                time.sleep(0.1)
            gc_ms = r.gc_ms() - gc0
    finally:
        q.stop()
        spark.streams.removeListener(listener)
    state = {
        (int(row["window_start"]), int(row["key"])): (int(row["sum_c"]), int(row["n"]))
        for row in read_upsert_state(spark, out, ["window_start", "key"]).collect()
    }

    rec = dict(np.load(record))
    ingested = listener.total_rows
    want = reference(rec)
    mismatched = sum(state.get(k) != v for k, v in want.items()) + len(set(state) - set(want))
    if mismatched:
        print(f"[stream_latency] {mismatched} of {len(want)} windows differ from the reference")
    if ingested != n_sent:
        print(f"[stream_latency] ingested {ingested} of {n_sent} sent events")

    measured_from_us = int(rec["t0_us"]) + int(WARMUP_S * US)
    every = [p for p in listener.progress if p["numInputRows"] > 0]
    steady = [
        p for p in every
        if p["observedMetrics"]["lat"]["min_ts_us"] >= measured_from_us
    ]
    lat = [end_ms(p) - p["observedMetrics"]["lat"]["min_ts_us"] / 1000.0 for p in steady]
    due = rec["due_us"]
    backlog, seen, steady_ids = [], 0, {p["batchId"] for p in steady}
    for p in listener.progress:
        if p["batchId"] in steady_ids:
            due_by = int(np.searchsorted(due, start_ms(p) * 1000.0, side="right"))
            backlog.append(max(0, due_by - seen))
        seen += p["numInputRows"]
    layer = batch_metrics(steady, every)
    layer.update({
        "session.peak_rss_mb": max(rss),
        "sources.backlog_rows": median(backlog),
        "sources.gen_lag_ms": percentile(rec["lag_us"].tolist(), 99) / 1000.0,
        "session.gc_ms": gc_ms,
        "sinks.write_ms": median(write_ms),
        "sinks.output_rows": _rows_written(out),
    })
    save_progress(r, listener.progress)
    if r.trace:
        r.shutdown()
        trace_batches(r, listener.progress)
    return {
        "e2e": {
            "events_per_s": events_per_s(steady),
            "latency_p50_ms": percentile(lat, 50),
            "latency_p90_ms": percentile(lat, 90),
        },
        "layer": layer,
        "attempted": len(every) + n_sent,
        "failed": (n_sent - ingested) + mismatched,
        "notes": {"rate": RATE, "latency_samples": len(lat), "batches": len(every),
                  "windows_checked": len(want)},
    }


def _expect(feeder: subprocess.Popen, word: str) -> str:
    """Block until the feeder prints ``word [arg]``; returns the arg."""
    line = feeder.stdout.readline().split()
    if not line or line[0] != word:
        raise RuntimeError(f"feeder said {line!r}, expected {word}")
    return line[1] if len(line) > 1 else ""


def _rows_written(out: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for d in os.listdir(out):
        for f in os.listdir(os.path.join(out, d)):
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(out, d, f)).metadata.num_rows
    return n
