"""Per-layer metrics of a traced ``live_aged`` run (the operator mix
times its own spans in ``mix.py``).

Spans wrap the program's public entry points from outside (the sink's
methods and the pipeline's plan builders); Spark's micro-batch engine
and state store are read from the ``StreamingQueryProgress`` events a
listener collected and from the status tracker's job/stage counts.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.readwriter import DataFrameWriter
from spark_stream_kudu_spark.streaming import traffic
from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

from tracing import median

SINK_SPANS = {
    "compute": "streaming.sinks.compute",
    "read": "streaming.sinks.read",
    "_merge": "streaming.sinks.merge_plan",
    "commit": "streaming.sinks.commit",
}
# The Spark calls inside ``UpsertParquetSink.compute``: the empty-batch
# probe and the store write, each of which executes the batch's plan.
SPARK_SPANS = {
    (ClassicDataFrame, "isEmpty"): "streaming.sinks.probe",
    (DataFrameWriter, "parquet"): "streaming.sinks.write",
}
PLAN_SPANS = {
    "parse_traffic": "streaming.traffic.parse_traffic",
    "windowed_traffic_aggregate": "streaming.traffic.windowed_traffic_aggregate",
}
PIPELINE_SPAN = "streaming.traffic.run_traffic_pipeline"

# Progress ``durationMs`` keys, by metric name.
DURATIONS = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "latest_offset_ms": "latestOffset",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "trigger_ms": "triggerExecution",
}
# State operator progress keys, by metric name.
STATE = {
    "rows_total": "numRowsTotal",
    "rows_updated": "numRowsUpdated",
    "memory_bytes": "memoryUsedBytes",
    "commit_ms": "commitTimeMs",
    "all_updates_ms": "allUpdatesTimeMs",
}


def patch_plan(tracer) -> None:
    """Spans around the plan builders ``run_traffic_pipeline`` calls."""
    for attr, name in PLAN_SPANS.items():
        tracer.patch(traffic, attr, name)


def patch_sink(tracer) -> None:
    """Spans around the sink's methods, for every sink instance, and
    around the Spark calls it makes."""
    for attr, name in SINK_SPANS.items():
        tracer.patch(UpsertParquetSink, attr, name)
    for (owner, attr), name in SPARK_SPANS.items():
        tracer.patch(owner, attr, name)


def store_rows(store: str) -> int:
    return UpsertParquetSink(store, key="as_of_time").num_rows() or 0


def store_bytes(store: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(store, "data", "*.parquet")))


def layer_metrics(
    run,
    base_batches: list[dict],
    traced_batches: list[dict],
    new_jobs: dict[int, int],
    store: str,
) -> dict[str, float]:
    """Per-layer metrics over ``traced_batches`` (progress dicts of the
    traced part of the run). ``base_batches`` are the untraced batches of
    the same run, for the tracing overhead; ``new_jobs`` the stage count
    of each job the traced batches ran."""
    tr = run.tracer
    m: dict[str, float] = {}
    for name in [*SINK_SPANS.values(), *SPARK_SPANS.values()]:
        m[f"{name}_s"] = median(tr.durations(name))
    m["streaming.sinks.compute_self_s"] = median(tr.self_times(SINK_SPANS["compute"]))
    calls = tr.calls.get(SINK_SPANS["compute"], 0)
    m["streaming.sinks.written_frac"] = tr.hits.get(SINK_SPANS["compute"], 0) / calls if calls else 0.0
    m["streaming.sinks.store_rows"] = float(store_rows(store))
    m["streaming.sinks.store_bytes"] = float(store_bytes(store))

    # Plan time: the part of each pipeline start spent in the plan
    # builders (its child spans). The builders are patched before the
    # first set-up and restored after the last pipeline start, so every
    # pipeline span has them as children.
    own = tr.self_times(PIPELINE_SPAN)
    m["streaming.traffic.plan_s"] = median(
        [d - o for d, o in zip(tr.durations(PIPELINE_SPAN), own)]
    )
    m["streaming.traffic.run_traffic_pipeline_self_s"] = median(own)

    n = len(traced_batches)
    m["spark.microbatch.batches"] = float(n)
    m["spark.microbatch.jobs_per_batch"] = len(new_jobs) / n
    m["spark.microbatch.stages_per_batch"] = sum(new_jobs.values()) / n
    m["spark.microbatch.rows_per_batch"] = median([p["numInputRows"] for p in traced_batches])
    for metric, key in DURATIONS.items():
        m[f"spark.microbatch.{metric}"] = median(
            [p["durationMs"].get(key, 0) for p in traced_batches]
        )
    for metric, key in STATE.items():
        m[f"spark.state.{metric}"] = median(
            [sum(op[key] for op in p["stateOperators"]) for p in traced_batches]
        )

    base = median([p["durationMs"]["triggerExecution"] for p in base_batches])
    traced = m["spark.microbatch.trigger_ms"]
    m["bench.trace.overhead_frac"] = traced / base - 1.0
    m["bench.trace.own_s"] = tr.own_s
    return m
