"""Single-threaded baseline of the traffic pipeline, for the traced run.

The generator stages a backlog of ``gen.BACKLOG_FILES`` files of
``gen.BACKLOG_RECORDS`` records. It is drained twice by
``run_traffic_pipeline(..., trigger_available_now=True)`` on a file source
with ``maxFilesPerTrigger=1``, from a fresh checkpoint into a fresh store:
once on ``local[nproc]``, then on ``local[1]`` in the same (warm) JVM.
``spark.microbatch.scaling_x`` is the ratio of the two drain rates (events
over the time from the query's start to the end of ``availableNow``).
Each drain's store is checked against the DuckDB recomputation.
"""

from __future__ import annotations

import os
import time

from spark_stream_kudu_spark.session import get_spark
from spark_stream_kudu_spark.streaming import traffic

from check import committed_files, compare_store, last_committed_batch
from common import Generator, fresh_dir, query_progress


def _drain(run, src: str, out: str) -> float:
    """Drain the backlog in ``src`` once; check the store it leaves;
    return the drain rate in events per second."""
    fresh_dir(out)
    store, ckpt = os.path.join(out, "store"), os.path.join(out, "ckpt")
    raw = (
        run.spark.readStream.schema(traffic.TRAFFIC_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .text(src)
    )
    t0 = time.time()
    q = traffic.run_traffic_pipeline(raw, store, ckpt, trigger_available_now=True)
    q.awaitTermination()
    seconds = time.time() - t0
    progress = query_progress(q)
    data = [p for p in progress if p["numInputRows"] > 0]
    run.attempted += len(data)
    run.check(
        f"backlog drain {os.path.basename(out)}",
        compare_store(store, committed_files(ckpt, progress, last_committed_batch(store))),
        operations=len(data),
    )
    return sum(p["numInputRows"] for p in data) / seconds


def scaling_x(run) -> float:
    """Drain rate on ``local[nproc]`` over the rate on ``local[1]``. Leaves
    ``run.spark`` on a ``local[1]`` session."""
    base = os.path.join(run.work, "scaling")
    src = fresh_dir(os.path.join(base, "src"))
    Generator("backlog", "--src", src, "--seed", str(run.seed)).wait()
    rate_n = _drain(run, src, os.path.join(base, "local_n"))
    run.stop_spark()
    run.spark = get_spark(master="local[1]")
    run.spark.sparkContext.setLogLevel("ERROR")
    rate_1 = _drain(run, src, os.path.join(base, "local_1"))
    run.info["scaling_rates"] = {"local_n": rate_n, "local_1": rate_1}
    return rate_n / rate_1
