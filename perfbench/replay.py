"""``replay_canonical``: a seeded in-order event history replayed in batch
through the 13 canonical queries, every output checked on DuckDB.

One pass builds each query's plan (``SPARK_QUERIES[q](spark, dir)``,
including any eager bound jobs) and executes it into a parquet file
sink (``sinks.to_files``). An untimed, multi-threaded pass over a
smaller input warms the JVM and the codegen cache; timed passes over
the full input follow until ``--seconds`` have passed (at least one). The last pass's files are compared with
``ORACLE_SQL[q]`` run by DuckDB over the same input files, exactly and
order-insensitively, without collecting results into Python.
"""

from __future__ import annotations

import os
import time

from common import CACHE, CANONICAL, Run, job_table, median, percentile, scan_bytes
from gen import ensure_inputs

EVENTS = 1_500_000
WARMUP_EVENTS = 20_000
WARMUP_THREADS = 4


def _pass(run: Run, queries, data_dir: str, out_dir: str, tag: str, timings: dict):
    from lightsaber_spark.queries import SPARK_QUERIES
    from lightsaber_spark.sources.sinks import to_files

    sc = run.spark.sparkContext
    errors = {}
    for q in queries:
        sc.setJobGroup(f"{tag}:{q}", q)
        with run.tracer.span(f"query.{q}", tag=tag):
            t0 = time.perf_counter()
            try:
                with run.tracer.span("operators.build"):
                    df = SPARK_QUERIES[q](run.spark, data_dir)
                t1 = time.perf_counter()
                with run.tracer.span("operators.exec"):
                    to_files(df, os.path.join(out_dir, q))
                t2 = time.perf_counter()
            except Exception as ex:  # noqa: BLE001 — a failed query is counted, not fatal
                errors[q] = repr(ex)[:300]
                continue
        timings.setdefault(q, []).append((t1 - t0, t2 - t1))
    return errors


def _warm(run: Run, queries, data_dir: str, out_dir: str) -> dict[str, str]:
    """Untimed pass over a much smaller input that fills the codegen cache
    and gets the JIT going; queries run on WARMUP_THREADS threads, which
    roughly halves the pass (much of it is per-job latency, not core
    time)."""
    from concurrent.futures import ThreadPoolExecutor

    from lightsaber_spark.queries import SPARK_QUERIES
    from lightsaber_spark.sources.sinks import to_files

    def one(q):
        run.spark.sparkContext.setJobGroup(f"warm:{q}", q)
        to_files(SPARK_QUERIES[q](run.spark, data_dir), os.path.join(out_dir, q))

    errors = {}
    with ThreadPoolExecutor(WARMUP_THREADS) as pool:
        futures = {q: pool.submit(one, q) for q in queries}
        for q, fut in futures.items():
            try:
                fut.result()
            except Exception as ex:  # noqa: BLE001 — counted as a failed query
                errors[q] = repr(ex)[:300]
    return errors


def _duck_check(data_dir: str, out_dir: str, queries) -> dict[str, str]:
    """``{query: problem}`` for every query whose Spark output differs
    from its DuckDB oracle: same columns, same row count, and an empty
    multiset difference in both directions (EXCEPT ALL compares doubles
    exactly, as the repo's parity check does)."""
    import duckdb

    from lightsaber_spark.queries import ORACLE_SQL

    con = duckdb.connect(config={"threads": "4", "memory_limit": "2GB"})
    for t in ("events", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    problems = {}
    for q in queries:
        got = f"read_parquet('{out_dir}/{q}/*.parquet')"
        try:
            oracle_cols = [r[0] for r in con.execute(f"DESCRIBE ({ORACLE_SQL[q]})").fetchall()]
            spark_cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall()]
            if sorted(oracle_cols) != sorted(spark_cols):
                problems[q] = f"columns spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}"
                continue
            cols = ", ".join(f'"{c}"' for c in sorted(oracle_cols))
            con.execute(f"CREATE OR REPLACE TEMP TABLE o AS SELECT {cols} FROM ({ORACLE_SQL[q]})")
            con.execute(f"CREATE OR REPLACE TEMP VIEW s AS SELECT {cols} FROM {got}")
            n_o, = con.execute("SELECT count(*) FROM o").fetchone()
            n_s, = con.execute("SELECT count(*) FROM s").fetchone()
            only_o, = con.execute(
                "SELECT count(*) FROM (SELECT * FROM o EXCEPT ALL SELECT * FROM s)"
            ).fetchone()
            only_s, = con.execute(
                "SELECT count(*) FROM (SELECT * FROM s EXCEPT ALL SELECT * FROM o)"
            ).fetchone()
        except duckdb.Error as ex:
            problems[q] = f"check error: {ex}"[:300]
            continue
        if n_o == 0 or n_o != n_s or only_o or only_s:
            problems[q] = (f"rows spark={n_s} oracle={n_o}; "
                           f"oracle-only={only_o} spark-only={only_s}")
    con.close()
    return problems


def run(r: Run) -> dict:
    queries = list(CANONICAL)
    data_dir = ensure_inputs(CACHE, r.seed, EVENTS)
    warm_dir = ensure_inputs(CACHE, r.seed, WARMUP_EVENTS)

    def attach(spark):
        from lightsaber_spark.session import load_tables

        return load_tables(spark, data_dir, ("events", "customer"))

    r.setup(attach)
    out_dir = os.path.join(r.dir, "out")
    with r.tracer.span("warmup"):
        errors = _warm(r, queries, warm_dir, os.path.join(r.dir, "warm"))

    timings: dict = {}
    pass_s, pass_gc, t_start = [], [], time.perf_counter()
    n_pass = 0
    with r.rss_sampler() as rss:
        while n_pass == 0 or time.perf_counter() - t_start < r.seconds:
            gc0, t0 = r.gc_ms(), time.perf_counter()
            with r.tracer.span("pass", n=n_pass):
                errors.update(_pass(r, queries, data_dir, out_dir, f"p{n_pass}", timings))
            pass_s.append(time.perf_counter() - t0)
            pass_gc.append(r.gc_ms() - gc0)
            n_pass += 1
    last_tag = f"p{n_pass - 1}"
    r.shutdown()

    with r.tracer.span("check"):
        mismatches = _duck_check(data_dir, out_dir, [q for q in queries if q not in errors])
    failed = len(errors) + len(mismatches)
    for q, why in {**errors, **mismatches}.items():
        print(f"[replay] FAIL {q}: {why}")

    latencies = [1000.0 * (b + e) for q in queries for b, e in timings.get(q, [])]
    e2e = {
        "events_per_s": EVENTS * len(queries) / median(pass_s),
        "latency_p50_ms": percentile(latencies, 50),
        "latency_p90_ms": percentile(latencies, 90),
    }
    layer = {
        "session.gc_ms": median(pass_gc),
        "session.peak_rss_mb": max(rss),
        "sinks.write_ms": 1000.0 * median([
            sum(timings[q][i][1] for q in queries if len(timings.get(q, [])) > i)
            for i in range(n_pass)
        ]),
    }
    for q in queries:
        ts = timings.get(q, [])
        layer[f"operators.{q}.build_s"] = median([b for b, _ in ts])
        layer[f"operators.{q}.exec_s"] = median([e for _, e in ts])
    if r.trace:
        layer.update(_trace_layers(r, queries, last_tag, out_dir))
    return {
        "e2e": e2e,
        "layer": layer,
        "attempted": len(queries) * (n_pass + 1),
        "failed": failed,
        "notes": {"passes": n_pass, "events": EVENTS, "latency_samples": len(latencies)},
    }


def _trace_layers(r: Run, queries, tag: str, out_dir: str) -> dict:
    """Per-query job/shuffle/spill counts and the scan volume of the
    last timed pass, from the event log; stage spans are parented to
    their query's span through the job group."""
    import pyarrow.parquet as pq

    events = r.event_log()
    jobs, stages = job_table(events)
    q_span = {
        (s.attrs.get("tag"), s.name[len("query."):]): s.id
        for s in r.tracer.spans if s.name.startswith("query.")
    }
    warm_span = next(s.id for s in r.tracer.spans if s.name == "warmup")
    out = {}
    for q in queries:
        mine = [s for s in stages.values() if s["group"] == f"{tag}:{q}"]
        out[f"operators.{q}.jobs"] = sum(g == f"{tag}:{q}" for g in jobs.values())
        out[f"operators.{q}.shuffle_bytes"] = sum(s["shuffle_bytes"] for s in mine)
        out[f"operators.{q}.spill_bytes"] = sum(s["spill_bytes"] for s in mine)
    for sid, s in sorted(stages.items()):
        s_tag, _, s_query = (s["group"] or "").partition(":")
        parent = warm_span if s_tag == "warm" else q_span.get((s_tag, s_query))
        r.tracer.add(f"stage.{sid}", s["start"], s["end"], parent,
                     job=s["job"], shuffle_bytes=s["shuffle_bytes"])
    out["sources.scan_bytes"] = sum(
        n for g, n in scan_bytes(events).items() if (g or "").startswith(f"{tag}:")
    )
    out["sinks.output_rows"] = sum(
        pq.ParquetFile(os.path.join(out_dir, q, f)).metadata.num_rows
        for q in queries for f in os.listdir(os.path.join(out_dir, q))
        if f.endswith(".parquet")
    )
    return out
