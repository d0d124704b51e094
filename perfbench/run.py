"""Benchmark of the traffic streaming pipeline and the batch operator mix.

Usage (from the repository root)::

    python3 perfbench/run.py --workload live_aged --seed 1 --seconds 20 --trace 0

Workloads:

``live_aged``      (``live.py``) open loop of 20,000 events/s into the
                   product's 5 s trigger, upserting into a store aged to
                   ~2M rows.
``analytics_mix``  (``mix.py``) closed loop of one client running one
                   registry query per operator module, each built and
                   executed to the ``noop`` sink, in a fixed order.

Both run on ``local[nproc]`` (``SPARK_GRAFT_CPUS`` is set to the number of
usable cores). Inputs come from ``gen.py`` in its own process, seeded by
``--seed``; every run checks the program's outputs independently with
DuckDB. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
run. A line before it (``{"info": ...}``) records the host, the set-up
phases, sample counts and the output checks.

Set-up (session start, registry load, staging, warm-up) runs
``SETUP_REPS`` times, the session restarted in between; ``setup_s`` is the
median. The first set-up pays the JVM launch. A one-off build a workload
caches in the working directory (the aged store of ``live_aged``) is
timed apart and left out of ``setup_s``.

Everything the benchmark writes goes under ``.perfbench/`` in the
current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("live_aged", "analytics_mix")
SETUP_REPS = 3


def _environment(work: str) -> None:
    """Pin Spark to the usable cores and keep every scratch file inside
    the working directory. Must run before pyspark starts the JVM."""
    from common import nproc

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _set_up(run, workload, session, registry) -> object:
    """Set the workload up ``SETUP_REPS`` times; return the state of the
    last set-up, which the measurement continues from."""
    reps = []
    state = None
    for i in range(SETUP_REPS):
        last = i == SETUP_REPS - 1
        t = time.perf_counter()
        run.stop_spark()
        with run.span("session.get_spark"):
            run.spark = session.get_spark()
        run.spark.sparkContext.setLogLevel("ERROR")
        run.phase("session_s", time.perf_counter() - t)
        t_reg = time.perf_counter()
        with run.span("registry.load_all"):
            run.queries = registry.load_all()
        run.phase("registry_s", time.perf_counter() - t_reg)
        once_s = workload.once(run) if i == 0 else 0.0
        state = workload.setup(run, last)
        reps.append(time.perf_counter() - t - once_s)
    run.info["setup_reps_s"] = reps
    run.setup_s = statistics.median(reps)
    return state


def _on_term(signum, frame) -> None:
    # Unwind through every ``finally``, so the session is stopped and
    # every child process ended and waited for.
    raise SystemExit(128 + signum)


def main() -> int:
    p = argparse.ArgumentParser(description="traffic pipeline and operator mix benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    sys.path.insert(0, HERE)
    sys.path.insert(1, root)
    from common import adopt_descendants, end_descendants

    signal.signal(signal.SIGTERM, _on_term)
    adopt_descendants()
    try:
        lines = _main(args, root)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        end_descendants()
    if lines is None:
        return 2
    # The result is the last line, printed once every child has ended.
    for line in lines:
        print(json.dumps(line))
    return 0


def _main(args, root: str) -> tuple[dict, dict] | None:
    """Run the benchmark; return the info and result lines, or None if
    the program is not in the working directory."""
    from common import Run

    run = Run(root, args.seed, args.seconds, bool(args.trace))
    _environment(run.work)
    try:
        from spark_stream_kudu_spark import registry, session
    except ImportError as e:
        print(f"cannot import the program from {root}: {e}", file=sys.stderr)
        return None

    import tracing
    from layers import patch_plan

    if args.workload == "live_aged":
        import live as workload
    else:
        import mix as workload

    if run.trace:
        run.tracer = tracing.Tracer()
        run.listener = tracing.ProgressCollector()
        patch_plan(run.tracer)

    try:
        state = _set_up(run, workload, session, registry)
        run.info["registry_queries"] = len(run.queries)
        metrics = workload.measure(run, state)
        metrics["setup_s"] = run.setup_s
        if run.trace:
            metrics["peak_rss_mb"] = run.peak_rss_mb()
            for name, key in (
                ("session.start_s", "session_s"),
                ("registry.load_s", "registry_s"),
                ("warmup_s", "warmup_s"),
                ("bench.stage_s", "stage_s"),
            ):
                metrics[name] = statistics.median(run.setup[key])
    finally:
        if run.tracer:
            run.tracer.close()
        run.stop_spark()

    run.info["setup_phases_s"] = run.setup
    run.info["loadavg_end"] = list(os.getloadavg())
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {m["name"]: m["unit"] for m in spec["per_layer" if run.trace else "end_to_end"]}
    if run.trace:
        # Layers of the other workload read 0.
        for n in names:
            if n.startswith(workload.NOT_RUN):
                metrics.setdefault(n, 0.0)
    missing = [n for n in names if n not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    run.info["checks"] = run.checks
    return {"info": run.info}, {
        "correct": run.failed == 0 and bool(run.checks),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in names.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
