"""``live_aged``: an open loop of 20,000 events/s into the product's 5 s
trigger, upserting into a ``traffic_conditions`` store that already
holds ~2M rows (116 days of 5 s windows).

The history is written through the pipeline itself on the same
checkpoint the live stream then continues from. It is built once per
version of the program: the cache is keyed on a hash of the program's
sources and the history's parameters, so a changed sink layout or state
schema seeds its own history through its own pipeline. Each set-up
restores a copy of that store and checkpoint to the same absolute path
(the file-source log records absolute paths). The history is fixed; the
seed drives the live vehicle counts.

A set-up restores the aged store, writes one warm-up file, restarts the
pipeline on it and waits until the restart batch (state store load,
first rewrite of the aged store) has upserted that file. The last set-up's query then takes
the open loop, which settles on the trigger grid before the window opens.

Per-event latency is the end of the micro-batch that upserted the event
(progress ``timestamp`` plus ``triggerExecution``) minus the time its
file was due at the generator, so it includes the wait for the trigger.
Every file holds the same number of events, so percentiles over files
are percentiles over events. The throughput is the window's events over
the time its batches ran: the pipeline's capacity at this store size,
above the offered 20,000/s while it keeps up.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time

from spark_stream_kudu_spark.streaming import traffic

import gen
from check import committed_files, compare_store, file_batches, last_committed_batch
from common import (
    Generator,
    fresh_dir,
    percentile,
    progress_end_s,
    progress_start_s,
    query_progress,
)
from layers import PIPELINE_SPAN, layer_metrics, patch_sink
from scaling import scaling_x

# Per-layer metrics of the operator mix, which this workload does not run.
NOT_RUN = ("operators.", "streaming.queries.", "streaming.stateful.")

TRIGGER_S = 5.0
# How late after its grid point a trigger may start and count as on it.
GRID_SLACK_S = 0.1
# Open-loop batches that must fit the trigger grid before measuring.
WARM_BATCHES = 1

HISTORY = {
    "seed": gen.HISTORY_SEED,
    "end_ms": gen.HISTORY_END_MS,
    "span_ms": gen.HISTORY_SPAN_MS,
    "step_ms": gen.HISTORY_STEP_MS,
}


def _paths(run) -> dict[str, str]:
    base = os.path.join(run.work, "live_aged")
    return {
        "base": base,
        "cache": os.path.join(run.work, "live_aged_history"),
        **{d: os.path.join(base, d) for d in ("src", "store", "ckpt")},
        "manifest": os.path.join(base, "manifest.json"),
    }


def _stream(spark, src: str):
    return spark.readStream.schema(traffic.TRAFFIC_RAW_SCHEMA).text(src)


def _program_hash(root: str) -> str:
    """Hash of the program's Python sources, paths included."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "spark_stream_kudu_spark")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def once(run) -> float:
    """Build the aged store through the pipeline unless the cache holds
    one built by this program for this work directory. Returns the time
    spent, which is left out of ``setup_s``."""
    t = time.perf_counter()
    paths = _paths(run)
    base, cache = paths["base"], paths["cache"]
    meta = {**HISTORY, "base": base, "program": _program_hash(run.root)}
    try:
        with open(os.path.join(cache, "meta.json")) as f:
            if json.load(f) == meta:
                run.info["history_build_s"] = 0.0
                return time.perf_counter() - t
    except (OSError, ValueError):
        pass
    shutil.rmtree(cache, ignore_errors=True)
    fresh_dir(base)
    Generator("history", "--src", paths["src"]).wait()
    q = traffic.run_traffic_pipeline(
        _stream(run.spark, paths["src"]), paths["store"], paths["ckpt"],
        trigger_available_now=True,
    )
    q.awaitTermination()
    store = paths["store"]
    result = compare_store(
        store, committed_files(paths["ckpt"], query_progress(q), last_committed_batch(store))
    )
    if result["mismatched"] or result["rows"] != result["expected"]:
        raise RuntimeError(f"aged history store is wrong: {result}")
    shutil.rmtree(cache + ".tmp", ignore_errors=True)
    shutil.copytree(base, cache + ".tmp")
    with open(os.path.join(cache + ".tmp", "meta.json"), "w") as f:
        json.dump(meta, f)
    os.rename(cache + ".tmp", cache)
    run.info["history_build_s"] = time.perf_counter() - t
    return run.info["history_build_s"]


def _generator(run, paths: dict, *extra: str) -> Generator:
    return Generator("live", "--src", paths["src"], "--seed", str(run.seed), *extra)


def setup(run, last: bool):
    """Restore the aged store and restart the pipeline on it; return the
    running query after the last set-up."""
    paths = _paths(run)
    t = time.perf_counter()
    shutil.rmtree(paths["base"], ignore_errors=True)
    shutil.copytree(paths["cache"], paths["base"], ignore=shutil.ignore_patterns("meta.json"))
    # Warm-up file: one file, in place before the pipeline starts, so the
    # restart batch (state store load, first read and rewrite of the aged
    # store) is the query's first trigger, not one up to 5 s later.
    _generator(
        run, paths, "--max-files", "1", "--prefix", "warm",
        "--manifest", paths["manifest"] + ".warm",
    ).wait()
    run.phase("stage_s", time.perf_counter() - t)

    t = time.perf_counter()
    with run.span(PIPELINE_SPAN):
        q = traffic.run_traffic_pipeline(
            _stream(run.spark, paths["src"]), paths["store"], paths["ckpt"],
            trigger_available_now=False,
        )
    _wait_data_batches(q, 1)
    run.phase("warmup_s", time.perf_counter() - t)
    if not last:
        q.stop()
        return None
    return q


def _wait_batch(query, since_s: float, deadline_s: float) -> None:
    """Wait until a batch whose trigger started at or after ``since_s``
    has completed."""
    while True:
        if any(progress_start_s(p) >= since_s - GRID_SLACK_S for p in query_progress(query)):
            return
        if query.exception() is not None:
            raise RuntimeError(f"query failed: {query.exception()}")
        if time.time() > deadline_s:
            raise TimeoutError(f"no batch started after {since_s}")
        time.sleep(0.05)


def _fits_grid(p: dict) -> bool:
    """True for a batch that started on the trigger grid and ended
    within the trigger interval."""
    start = progress_start_s(p)
    on_grid = start - TRIGGER_S * int(start // TRIGGER_S) < GRID_SLACK_S
    return on_grid and p["durationMs"]["triggerExecution"] < TRIGGER_S * 1000


def _wait_data_batches(query, n: int) -> list[dict]:
    """Wait until ``n`` batches with data completed; return those batches."""
    deadline = time.time() + 120
    while True:
        data = [p for p in query_progress(query) if p["numInputRows"] > 0]
        if len(data) >= n:
            return data
        if query.exception() is not None:
            raise RuntimeError(f"query failed: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"fewer than {n} batches with data")
        time.sleep(0.05)


def _window_batches(progress: list[dict], lo_s: float, hi_s: float) -> list[dict]:
    """Data batches whose trigger started in ``(lo_s, hi_s]``; a trigger
    starts a few milliseconds after its grid point."""
    return [
        p for p in progress
        if lo_s + GRID_SLACK_S < progress_start_s(p) <= hi_s + GRID_SLACK_S
        and p["numInputRows"] > 0
    ]


def measure(run, q) -> dict:
    spark = run.spark
    paths = _paths(run)
    store, ckpt, manifest = paths["store"], paths["ckpt"], paths["manifest"]
    gen_proc = None
    try:
        # Let the trigger after the restart batch (and any no-data batch
        # that evicts state) finish, so the open loop's first file lands
        # in a batch on the trigger grid.
        t_settle = time.perf_counter()
        idle_since = time.time()
        while time.time() - idle_since < 0.3:
            if q.status["isTriggerActive"] or q.status["isDataAvailable"]:
                idle_since = time.time()
            time.sleep(0.02)
        gen_proc = _generator(run, paths, "--manifest", manifest)
        # Settled once the last WARM_BATCHES batches started on the
        # trigger grid and fitted the trigger; later batches then stay on
        # the grid. On a host too slow for that, measure after a minute.
        deadline = time.time() + 60
        while True:
            last = _wait_data_batches(q, 1 + WARM_BATCHES)[-WARM_BATCHES:]
            if all(_fits_grid(p) for p in last) or time.time() > deadline:
                run.info["settled"] = all(_fits_grid(p) for p in last)
                break
            time.sleep(0.05)
        run.info["settle_s"] = time.perf_counter() - t_settle

        # Window 1 (untraced): files due in [w0, w1). Its batches are the
        # triggers at w0 + 5 s .. w1.
        now = time.time()
        w0 = (int(now // TRIGGER_S) + 1) * TRIGGER_S
        w1 = w0 + max(1, run.seconds // int(TRIGGER_S)) * TRIGGER_S
        windows = [(w0, w1)]
        _wait_batch(q, w1, w1 + 120)
        traced = None
        if run.tracer:
            # Window 2 (traced) and window 3 (untraced again), each as
            # long as window 1; the tracing overhead is window 2's batch
            # time against windows 1 and 3.
            w2, w3 = w1 + (w1 - w0), w1 + 2 * (w1 - w0)
            windows += [(w1, w2), (w2, w3)]
            patch_sink(run.tracer)
            spark.streams.addListener(run.listener)
            jobs_before = run.job_stages(q)
            _wait_batch(q, w2, w2 + 120)
            run.tracer.close()
            traced = {"jobs_before": jobs_before, "jobs_after": run.job_stages(q)}
            _wait_batch(q, w3, w3 + 120)
        gen_proc.stop()
        while q.status["isTriggerActive"]:
            time.sleep(0.02)
        q.stop()
    finally:
        if gen_proc is not None:
            gen_proc.kill()
    with open(manifest) as f:
        files = json.load(f)["files"]

    # Which batch upserted each file, and when that batch ended.
    marker = last_committed_batch(store)
    progress = query_progress(q)
    file_batch = {os.path.basename(p): b for p, b in file_batches(ckpt, progress).items()}
    batch_end = {p["batchId"]: progress_end_s(p) for p in progress if p["numInputRows"] > 0}

    lat = []
    missing = 0
    for fi in files:
        due = fi["due_ms"] / 1000.0
        if not (w0 <= due < w1):
            continue
        b = file_batch.get(fi["name"])
        if b is None or b not in batch_end or b > marker:
            missing += 1
            continue
        lat.append(batch_end[b] - due)
    win1 = _window_batches(progress, w0, w1)
    run.attempted += sum(len(_window_batches(progress, *w)) for w in windows)
    if missing:
        run.failed += missing
        print(f"live_aged: {missing} window files never upserted", flush=True)
    if not lat:
        raise RuntimeError("live_aged: no event in the measure window was upserted")
    events = sum(p["numInputRows"] for p in win1)
    busy = sum(p["durationMs"]["triggerExecution"] for p in win1) / 1000.0

    # Output check over history and every committed live file.
    run.check(
        "live_aged store",
        compare_store(store, committed_files(ckpt, progress, marker)),
        operations=len(win1),
    )
    out = {
        "latency_p50_s": percentile(lat, 50),
        "latency_p99_s": percentile(lat, 99),
        "throughput_per_s": events / busy,
    }
    run.info["live_aged"] = {
        "window_s": [w0, w1], "batches": len(win1), "events": events,
        "files_in_window": len(lat),
        "batches_run": [
            [p["batchId"], round(progress_start_s(p) - w0, 3), p["durationMs"]["triggerExecution"],
             p["numInputRows"]]
            for p in progress
        ],
    }
    if traced:
        ids = [p["batchId"] for p in _window_batches(progress, *windows[1])]
        heard = run.listener_batches(str(q.runId), ids)
        new_jobs = {
            j: n for j, n in traced["jobs_after"].items() if j not in traced["jobs_before"]
        }
        # How far the committed input trails the newest input when the
        # generator stopped.
        committed = [fi["due_ms"] / 1000.0 for fi in files if fi["name"] in file_batch]
        newest_written = max(fi["written"] for fi in files)
        late = [fi["written"] - fi["due_ms"] / 1000.0 for fi in files]
        base_batches = win1 + _window_batches(progress, *windows[2])
        out.update(layer_metrics(run, base_batches, heard, new_jobs, store))
        out["source.lag_end_s"] = newest_written - max(committed)
        out["bench.generator.late_p99_s"] = percentile(late, 99)
        out["bench.generator.late_max_s"] = max(late)
        out["bench.generator.events"] = float(sum(fi["records"] for fi in files))
        out["spark.microbatch.scaling_x"] = scaling_x(run)
    return out
