"""Shared pieces of the two streaming workloads: progress capture, the
per-batch phase and state metrics, and the traced run's batch spans."""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from lightsaber_spark.monitoring import ThroughputListener

from common import Run, job_table, median

# micro-batch phases in the order MicroBatchExecution runs them; a
# progress event gives their durations only, so the traced run lays
# them out back to back from the batch start
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets")


class ProgressListener(ThroughputListener):
    """``ThroughputListener`` that also keeps every raw progress event."""

    def __init__(self):
        super().__init__()
        self.progress: list[dict] = []

    def onQueryProgress(self, event) -> None:  # noqa: N802 (Spark API)
        super().onQueryProgress(event)
        self.progress.append(json.loads(event.progress.json))


def start_ms(p: dict) -> float:
    """Wall-clock start of a micro-batch, epoch milliseconds."""
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def end_ms(p: dict) -> float:
    return start_ms(p) + p["durationMs"].get("triggerExecution", 0)


def batch_metrics(steady: list[dict], every: list[dict]) -> dict[str, float]:
    """Per-layer medians over the steady batches (dropped-late rows are
    summed over every batch)."""
    def dur(key):
        return median([p["durationMs"].get(key, 0) for p in steady])

    def state(key):
        return median([
            sum(op.get(key, 0) or 0 for op in p.get("stateOperators", []))
            for p in steady
        ])

    return {
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.rows_per_batch": median([p["numInputRows"] for p in steady]),
        "streaming.state.rows_total": state("numRowsTotal"),
        "streaming.state.updates_ms": state("allUpdatesTimeMs"),
        "streaming.state.removals_ms": state("allRemovalsTimeMs"),
        "streaming.state.commit_ms": state("commitTimeMs"),
        "streaming.state.memory_bytes": state("memoryUsedBytes"),
        "streaming.state.dropped_late": sum(
            op.get("numRowsDroppedByWatermark", 0) or 0
            for p in every for op in p.get("stateOperators", [])
        ),
    }


def events_per_s(steady: list[dict]) -> float:
    """Median per-batch processing rate: input rows over the batch's
    trigger-to-commit time."""
    return median([
        p["numInputRows"] * 1000.0 / p["durationMs"]["triggerExecution"]
        for p in steady if p["durationMs"].get("triggerExecution")
    ])


def save_progress(r: Run, progress: list[dict]) -> None:
    """Keep every progress event of the run."""
    with open(os.path.join(r.dir, "progress.jsonl"), "w") as f:
        for p in progress:
            f.write(json.dumps(p) + "\n")


def trace_batches(r: Run, progress: list[dict]) -> None:
    """Batch and phase spans from the progress events, stage spans from
    the event log parented to their batch through the job's
    ``streaming.sql.batchId`` property."""
    batch_span = {}
    for p in progress:
        t = start_ms(p) / 1000.0
        sid = r.tracer.add(f"batch.{p['batchId']}", t, end_ms(p) / 1000.0, None,
                           rows=p["numInputRows"])
        batch_span[str(p["batchId"])] = sid
        for ph in PHASES:
            d = p["durationMs"].get(ph, 0) / 1000.0
            r.tracer.add(f"streaming.{ph}", t, t + d, sid)
            t += d
    events = r.event_log()
    batch_of_job = {
        e["Job ID"]: (e.get("Properties") or {}).get("streaming.sql.batchId")
        for e in events if e.get("Event") == "SparkListenerJobStart"
    }
    _, stages = job_table(events)
    for stage_id, s in sorted(stages.items()):
        r.tracer.add(f"stage.{stage_id}", s["start"], s["end"],
                     batch_span.get(batch_of_job.get(s["job"])), job=s["job"],
                     shuffle_bytes=s["shuffle_bytes"])
