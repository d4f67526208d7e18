"""``stream_saturated``: closed-loop bounded batches into a high-cardinality
keyed sliding window in append mode, state evicted by the watermark.

``sources.readers.rate_micro_batch_source`` admits exactly
``ROWS_PER_BATCH`` rows per trigger; row ``v`` of batch ``b`` carries
event time ``T0 + b * ADVANCE_MS``. A seeded affine map turns ``v`` into
``key = (A*v + B) mod KEYS`` and ``cents = (C*v) mod 9973 + 1``.
``streaming_windowed_agg`` sums cents per key over window
``SIZE_S``/``SLIDE_S``; each batch advances event time by one slide, so
every batch closes one window, which append mode emits into Spark's
parquet file sink (no Python callback in the batch path).

The first ``WARMUP_BATCHES`` batches fill the state and are not
measured; batches then run for ``--seconds``. Every window of a
committed batch is compared with a reference built in NumPy from the
same row map.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

from lightsaber_spark.sources.readers import rate_micro_batch_source
from lightsaber_spark.streaming import streaming_windowed_agg

from common import Run, median, percentile
from streams import ProgressListener, batch_metrics, events_per_s, save_progress, trace_batches

ROWS_PER_BATCH = 500_000
KEYS = 50_000
SIZE_S, SLIDE_S = 30, 10
ADVANCE_MS = SLIDE_S * 1000
T0_MS = 1_704_067_200_000
WARMUP_BATCHES = 8
MOD = 9973
RUN_TIMEOUT_S = 120.0


def row_map(seed: int) -> tuple[int, int, int]:
    """Seeded (A, B, C); A is coprime with KEYS so every key gets the
    same number of rows per batch."""
    rng = np.random.default_rng([seed, 0x5A])
    while True:
        a = int(rng.integers(1, KEYS))
        if np.gcd(a, KEYS) == 1:
            return a, int(rng.integers(0, KEYS)), int(rng.integers(1, MOD))


def batch_sums(b: int, a: int, off: int, c: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-key (sum of cents, count) of batch ``b``."""
    v = np.arange(b * ROWS_PER_BATCH, (b + 1) * ROWS_PER_BATCH, dtype=np.int64)
    keys = (a * v + off) % KEYS
    cents = (c * v) % MOD + 1
    return (np.bincount(keys, weights=cents, minlength=KEYS).astype(np.int64),
            np.bincount(keys, minlength=KEYS))


def check(emitted, a: int, off: int, c: int) -> tuple[int, int]:
    """``(windows checked, windows wrong)``. Each emitted window must
    equal the sum of the batches whose event time falls inside it, and
    the emitted windows must run without a gap from the first one."""
    first_s = T0_MS // 1000 - (SIZE_S - SLIDE_S)
    windows = sorted(set(emitted["window_start"].tolist()))
    expected = range(first_s, first_s + SLIDE_S * len(windows), SLIDE_S)
    wrong = len(set(expected) - set(windows))
    cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    by_window = emitted.groupby("window_start")
    for s in windows:
        sums, cnts = np.zeros(KEYS, np.int64), np.zeros(KEYS, np.int64)
        for t in range(max(s, T0_MS // 1000), s + SIZE_S, SLIDE_S):
            b = (t * 1000 - T0_MS) // ADVANCE_MS
            if b not in cache:
                cache[b] = batch_sums(b, a, off, c)
            sums += cache[b][0]
            cnts += cache[b][1]
        got = by_window.get_group(s).sort_values("key")
        want_keys = np.nonzero(cnts)[0]
        ok = (len(got) == len(want_keys)
              and np.array_equal(got["key"].to_numpy(), want_keys)
              and np.array_equal(got["sum_c"].to_numpy(), sums[want_keys])
              and np.array_equal(got["n"].to_numpy(), cnts[want_keys]))
        wrong += not ok
    return len(windows), wrong


def run(r: Run) -> dict:
    a, off, c = row_map(r.seed)
    parts = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))

    def attach(spark):
        return rate_micro_batch_source(
            spark, ROWS_PER_BATCH, num_partitions=parts,
            start_timestamp_ms=T0_MS, advance_ms_per_batch=ADVANCE_MS,
        )

    src = r.setup(attach)
    spark = r.spark
    ev = src.select(
        F.col("timestamp").alias("ts"),
        ((F.col("value") * a + off) % KEYS).alias("key"),
        ((F.col("value") * c) % MOD + 1).alias("value_c"),
    )
    agg = streaming_windowed_agg(
        ev, "ts", SIZE_S, SLIDE_S, [("sum", "value_c", "sum_c"), ("count", None, "n")], ["key"]
    )
    out = os.path.join(r.dir, "sink")
    listener = ProgressListener()
    spark.streams.addListener(listener)
    q = (agg.writeStream.format("parquet").outputMode("append").option("path", out)
         .option("checkpointLocation", os.path.join(r.dir, "checkpoint")).start())
    try:
        _wait(q, lambda: len(listener.progress) >= WARMUP_BATCHES)
        with r.rss_sampler() as rss:
            gc0, measured_from = r.gc_ms(), time.time()
            _wait(q, lambda: time.time() - measured_from >= r.seconds)
            gc_ms = r.gc_ms() - gc0
    finally:
        q.stop()
        spark.streams.removeListener(listener)
    # through Spark's reader, which lists only the files of committed
    # batches (the sink's _spark_metadata log)
    emitted = spark.read.parquet(out).toPandas()

    every = [p for p in listener.progress if p["numInputRows"] > 0]
    steady = every[WARMUP_BATCHES:]
    checked, wrong = check(emitted, a, off, c)
    if wrong:
        print(f"[stream_saturated] {wrong} of {checked} emitted windows differ")
    # each measured batch closes one window; far fewer means lost output
    if checked < len(steady):
        print(f"[stream_saturated] {checked} windows from {len(every)} batches")
        wrong += len(steady) - checked
    lat = [p["durationMs"]["triggerExecution"] for p in steady]
    layer = batch_metrics(steady, every)
    layer.update({
        "session.peak_rss_mb": max(rss),
        "session.gc_ms": gc_ms,
        "sinks.output_rows": len(emitted),
        "sinks.write_ms": median([p["durationMs"].get("addBatch", 0) for p in steady]),
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
        "attempted": len(every) + checked,
        "failed": wrong,
        "notes": {"steady_batches": len(steady), "windows_checked": checked,
                  "emitted_rows": len(emitted)},
    }


def _wait(q, done) -> None:
    deadline = time.time() + RUN_TIMEOUT_S
    while not done():
        ex = q.exception()
        if ex is not None:
            raise RuntimeError(f"stream failed: {ex}")
        if time.time() > deadline:
            raise RuntimeError("stream_saturated: run did not finish in time")
        time.sleep(0.05)
