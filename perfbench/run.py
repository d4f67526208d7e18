#!/usr/bin/env python3
"""Window-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload replay_canonical --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Every end-to-end metric (``--trace 0``)
or every per-layer metric (``--trace 1``) is printed by name with its
unit on stderr; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Outputs are checked
against a reference computed outside Spark; a mismatch exits 1. See
``perfbench/NOTES.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from common import CANONICAL  # noqa: E402

WORKLOADS = ("replay_canonical", "stream_latency", "stream_saturated")

# name → (unit, better); mirrored in BENCHMARK.json
END_TO_END = {
    "setup_s": ("s", "lower"),
    "events_per_s": ("1/s", "higher"),
    "latency_p50_ms": ("ms", "lower"),
    "latency_p90_ms": ("ms", "lower"),
}

PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "session.load_tables_s": ("s", "lower"),
    "session.gc_ms": ("ms", "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "sources.scan_bytes": ("bytes", "lower"),
    "sources.latest_offset_ms": ("ms", "lower"),
    "sources.rows_per_batch": ("rows", "lower"),
    "sources.backlog_rows": ("rows", "lower"),
    "sources.gen_lag_ms": ("ms", "lower"),
    **{
        f"operators.{q}.{m}": spec
        for q in CANONICAL
        for m, spec in (
            ("build_s", ("s", "lower")),
            ("exec_s", ("s", "lower")),
            ("jobs", ("count", "lower")),
            ("shuffle_bytes", ("bytes", "lower")),
            ("spill_bytes", ("bytes", "lower")),
        )
    },
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.commit_offsets_ms": ("ms", "lower"),
    "streaming.state.rows_total": ("rows", "lower"),
    "streaming.state.updates_ms": ("ms", "lower"),
    "streaming.state.removals_ms": ("ms", "lower"),
    "streaming.state.commit_ms": ("ms", "lower"),
    "streaming.state.memory_bytes": ("bytes", "lower"),
    "streaming.state.dropped_late": ("rows", "lower"),
    "sinks.output_rows": ("rows", "higher"),
    "sinks.write_ms": ("ms", "lower"),
    # the traced run's own end-to-end figures: compared with the
    # untraced medians they give the tracing overhead
    "trace.events_per_s": ("1/s", "higher"),
    "trace.latency_p50_ms": ("ms", "lower"),
}


def _workload(name: str):
    if name == "replay_canonical":
        import replay as mod
    elif name == "stream_latency":
        import stream_latency as mod
    else:
        import stream_saturated as mod
    return mod


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # stdout carries only the final JSON line; Spark, py4j and our own
    # progress prints go to stderr
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    import lightsaber_spark  # noqa: F401 — fail fast outside a full checkout
    from common import Run

    r = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        res = _workload(args.workload).run(r)
    except Exception:  # noqa: BLE001 — report, then exit without a result
        traceback.print_exc()
        return 1
    finally:
        r.shutdown()

    setup = r.setup_metrics()
    e2e = {"setup_s": setup.pop("setup_s"), **res["e2e"]}
    layer = {k: 0 for k in PER_LAYER}
    layer.update(setup)
    layer.update(res["layer"])
    if r.trace:
        layer["trace.events_per_s"] = e2e["events_per_s"]
        layer["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
        r.tracer.write(os.path.join(r.dir, "spans.jsonl"))
    spec, values = (PER_LAYER, layer) if r.trace else (END_TO_END, e2e)
    attempted, failed = res["attempted"], res["failed"]
    correct = failed == 0
    for k, (unit, _) in spec.items():
        print(f"{k} {values[k]:.6g} {unit}")
    print(f"failed_frac {failed / max(attempted, 1):.6g} ({failed}/{attempted})")
    for k, v in res.get("notes", {}).items():
        print(f"note.{k} {v}")
    result = {
        "correct": correct,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(values[k]), "unit": unit} for k, (unit, _) in spec.items()
        },
    }
    with open(os.path.join(r.dir, "result.json"), "w") as f:
        json.dump({**result, "e2e": e2e, "layer": layer, "notes": res.get("notes", {})},
                  f, indent=1)
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
