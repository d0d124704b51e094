"""``analytics_mix``: a closed loop of one client running one registry
query per operator module.

The generator writes the ten source tables from the seed
(``gen.TABLE_SCALE`` of the TPC-H scale-factor-1 row counts). A set-up
stages them into a fresh directory and runs the layout ``prepare`` hook
of every query that has one. After the set-ups, one pass runs every
query and compares its result with its registry ``oracle`` on DuckDB,
and a second runs every query to the ``noop`` sink; both are the
warm-up and run ``WARMUP_CLIENTS`` queries at a time. Then one client
runs timed passes for about ``--seconds``, one pass at the least: each
query is built (``builder(spark, tables)``) and executed to
the ``noop`` sink, in the fixed order of ``MIX``.

Latency is one query's build plus execution; the throughput is queries
completed per second of the timed passes. A query that throws counts as
a failed operation.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from check import compare_oracle, oracle_connection
from common import Generator, fresh_dir, nproc, percentile
from tracing import median

# One query per module, pinned by name: (module, query name).
MIX = (
    ("operators.relational", "q06_forecast_revenue"),
    ("operators.advanced", "q42_salted_agg"),
    ("operators.subqueries", "q49_order_count_distribution"),
    ("operators.analytics", "q84_trending"),
    ("operators.series", "q73_ewma"),
    ("operators.statistics", "emb_dim_stats"),
    ("operators.graph", "q86_pagerank"),
    ("operators.pipeline", "q69_merge_upsert"),
    ("operators.similarity", "sim_topk_bruteforce"),
    ("operators.dedup", "dedup_minhash_pairs"),
    ("operators.text", "text_quality"),
    ("operators.temporal", "q52_sessionize"),
    ("operators.layout", "q55_bucketed_join"),
    ("streaming.queries", "q30_tumbling_window"),
    ("streaming.stateful", "stream_first_seen"),
)
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
# Concurrent clients of the untimed warm-up and output check.
WARMUP_CLIENTS = nproc()
# Per-layer metrics of the streaming pipeline, which this workload does
# not run.
NOT_RUN = ("streaming.sinks.", "streaming.traffic.", "spark.", "source.", "bench.generator.")


def _tables(run) -> str:
    return os.path.join(run.work, "analytics_mix", "tables")


def _specs(run) -> list:
    return [(module, run.queries[name]) for module, name in MIX]


def once(run) -> float:
    return 0.0


def setup(run, last: bool) -> None:
    """Stage the seeded tables and lay out the ones a query prepares."""
    t = time.perf_counter()
    tables = fresh_dir(_tables(run))
    Generator("tables", "--src", tables, "--seed", str(run.seed)).wait()
    for _, spec in _specs(run):
        if spec.prepare is not None:
            spec.prepare(run.spark, tables)
    run.phase("stage_s", time.perf_counter() - t)


def _pass(run, tables: str, traced: bool = False) -> list[tuple[str, float, float]]:
    """Build and execute every query once; ``(module, build_s, exec_s)``
    of each query that completed."""
    span = run.span if traced else (lambda name: contextlib.nullcontext())
    out = []
    for module, spec in _specs(run):
        run.attempted += 1
        try:
            t = time.perf_counter()
            with span(f"{module}.build"):
                df = spec.builder(run.spark, tables)
            t_built = time.perf_counter()
            with span(f"{module}.exec"):
                df.write.format("noop").mode("overwrite").save()
            out.append((module, t_built - t, time.perf_counter() - t_built))
        except Exception:
            run.failed += 1
            print(f"analytics_mix: {spec.name} failed", file=sys.stderr)
            traceback.print_exc()
    return out


def measure(run, _state) -> dict:
    tables = _tables(run)
    specs = _specs(run)

    # Warm-up: every query once, checked against its oracle, then once
    # more to the noop sink; WARMUP_CLIENTS queries at a time.
    t = time.perf_counter()
    con = oracle_connection(tables, list(TABLES))

    def check(spec) -> dict:
        try:
            with con.cursor() as cur:
                return compare_oracle(spec.builder(run.spark, tables), cur, spec.oracle)
        except Exception:
            traceback.print_exc()
            return {"rows": 0, "expected": -1, "mismatched": 1}

    def warm(spec) -> None:
        # A query that throws here fails its check and its timed runs.
        try:
            spec.builder(run.spark, tables).write.format("noop").mode("overwrite").save()
        except Exception:
            traceback.print_exc()

    try:
        with ThreadPoolExecutor(WARMUP_CLIENTS) as pool:
            results = list(pool.map(check, [spec for _, spec in specs]))
            list(pool.map(warm, [spec for _, spec in specs]))
    finally:
        con.close()
    for (_, spec), result in zip(specs, results):
        run.attempted += 1
        run.check(f"analytics_mix {spec.name}", result, operations=1)
    run.phase("warmup_s", time.perf_counter() - t)

    samples, pass_s = [], []
    t0 = time.perf_counter()
    # Passes until the next one would end further from ``--seconds``
    # than stopping now.
    while not pass_s or time.perf_counter() - t0 + median(pass_s) / 2 < run.seconds:
        t = time.perf_counter()
        samples += _pass(run, tables)
        pass_s.append(time.perf_counter() - t)
    elapsed = time.perf_counter() - t0
    if not samples:
        raise RuntimeError("analytics_mix: no query completed")
    lat = [b + e for _, b, e in samples]
    out = {
        "latency_p50_s": percentile(lat, 50),
        "latency_p99_s": percentile(lat, 99),
        "throughput_per_s": len(samples) / elapsed,
    }
    run.info["analytics_mix"] = {
        "queries": len(samples), "passes": len(pass_s), "pass_s": pass_s,
        "query_s": {m: round(b + e, 4) for m, b, e in samples[-len(specs):]},
    }
    if run.tracer:
        # One traced pass between untraced ones; the tracing overhead is
        # its time against theirs.
        t = time.perf_counter()
        traced = _pass(run, tables, traced=True)
        traced_s = time.perf_counter() - t
        t = time.perf_counter()
        _pass(run, tables)
        pass_s.append(time.perf_counter() - t)
        for module, _, _ in traced:
            for part in ("build", "exec"):
                out[f"{module}.{part}_s"] = median(run.tracer.durations(f"{module}.{part}"))
        out["bench.trace.overhead_frac"] = traced_s / median(pass_s) - 1.0
        out["bench.trace.own_s"] = run.tracer.own_s
    return out
