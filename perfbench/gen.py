"""Seeded load generator for the benchmark, run as its own process.

Every traffic record is one well-formed CSV line
``"<epoch_millis>,<vehicle_count>"`` (the pipeline's input contract),
with ``vehicle_count`` in 0..99 drawn from the seed. Every file is
written to a staging directory beside its destination and renamed into
place, so a reader never lists a partial file.

Modes:

``live``     open loop: one file of ``LIVE_RECORDS`` records every
             ``LIVE_INTERVAL_S`` seconds, on a wall-clock grid offset by
             ``LIVE_PHASE_S``. Every record is stamped with the time its
             file was due. Runs until SIGTERM or until ``--max-files``
             files are written, then writes a manifest (file name, due
             time, write time, record count) as JSON.
``backlog``  ``BACKLOG_FILES`` files of ``BACKLOG_RECORDS`` records, each
             covering ``BACKLOG_SPAN_MS`` of event time, consecutive in
             event time, with ascending modification times so a file
             source with ``maxFilesPerTrigger=1`` replays them in order.
``history``  one file with one record every ``HISTORY_STEP_MS`` for
             ``HISTORY_SPAN_MS``, ending at ``HISTORY_END_MS``, from the
             fixed seed ``HISTORY_SEED``.
``tables``   the ten source tables the registry's queries read (a
             TPC-H-like star schema plus ``events``, ``documents`` and
             ``embeddings``), one parquet file each, ``TABLE_SCALE``
             times the TPC-H scale-factor-1 row counts.

Usage::

    python3 gen.py live --src DIR --seed N --manifest FILE [--max-files K --prefix P]
    python3 gen.py backlog --src DIR --seed N
    python3 gen.py history --src DIR
    python3 gen.py tables --src DIR --seed N
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import time

import numpy as np

LIVE_RECORDS = 10_000
LIVE_INTERVAL_S = 0.5
# Files are due a quarter second off the 5 s trigger grid, so no file
# races the listing at a trigger boundary.
LIVE_PHASE_S = 0.25

# The backlog starts at a seed-chosen minute of the day after this instant.
BACKLOG_BASE_MS = 1_700_000_000_000
BACKLOG_FILES = 2
BACKLOG_RECORDS = 200_000
BACKLOG_SPAN_MS = 20_000

HISTORY_SEED = 0
HISTORY_END_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
HISTORY_SPAN_MS = 116 * 86_400_000
# One record a minute fills every 5 s window of a 60 s slide.
HISTORY_STEP_MS = 60_000

TABLE_SCALE = 0.02


def _write_atomic(src: str, name: str, lines: str, mtime: float | None = None) -> str:
    stage = os.path.join(os.path.dirname(os.path.abspath(src)), "_stage")
    os.makedirs(stage, exist_ok=True)
    tmp = os.path.join(stage, name)
    with open(tmp, "w") as f:
        f.write(lines)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    dest = os.path.join(src, name)
    os.rename(tmp, dest)
    return dest


def _csv(times_ms: np.ndarray, counts: np.ndarray) -> str:
    return "".join(f"{t},{c}\n" for t, c in zip(times_ms.tolist(), counts.tolist()))


def live(args: argparse.Namespace) -> None:
    rng = np.random.default_rng(args.seed)
    stop = False

    def on_term(signum, frame):
        nonlocal stop
        stop = True

    signal.signal(signal.SIGTERM, on_term)
    os.makedirs(args.src, exist_ok=True)
    files = []
    # First due time: the next grid point at least 0.2 s away.
    now = time.time()
    due = (
        int((now + 0.2 - LIVE_PHASE_S) / LIVE_INTERVAL_S) + 1
    ) * LIVE_INTERVAL_S + LIVE_PHASE_S
    k = 0
    while not stop and k != args.max_files:
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
            if stop:
                break
        due_ms = int(round(due * 1000))
        counts = rng.integers(0, 100, size=LIVE_RECORDS)
        stamps = np.full(LIVE_RECORDS, due_ms, dtype=np.int64)
        name = f"{args.prefix}_{args.seed}_{k:06d}.csv"
        _write_atomic(args.src, name, _csv(stamps, counts))
        files.append(
            {"name": name, "due_ms": due_ms, "written": time.time(), "records": LIVE_RECORDS}
        )
        k += 1
        due += LIVE_INTERVAL_S
    with open(args.manifest + ".tmp", "w") as f:
        json.dump({"files": files}, f)
    os.rename(args.manifest + ".tmp", args.manifest)


def backlog(args: argparse.Namespace) -> None:
    rng = np.random.default_rng(args.seed)
    os.makedirs(args.src, exist_ok=True)
    # Event time starts on a seed-chosen minute inside one day.
    start = BACKLOG_BASE_MS + int(rng.integers(0, 1440)) * 60_000
    for k in range(BACKLOG_FILES):
        lo = start + k * BACKLOG_SPAN_MS
        times = np.sort(rng.integers(lo, lo + BACKLOG_SPAN_MS, size=BACKLOG_RECORDS))
        counts = rng.integers(0, 100, size=BACKLOG_RECORDS)
        _write_atomic(args.src, f"backlog_{k:04d}.csv", _csv(times, counts), 1_000_000.0 + k)


def history(args: argparse.Namespace) -> None:
    rng = np.random.default_rng(HISTORY_SEED)
    os.makedirs(args.src, exist_ok=True)
    times = np.arange(
        HISTORY_END_MS - HISTORY_SPAN_MS, HISTORY_END_MS, HISTORY_STEP_MS, dtype=np.int64
    )
    counts = rng.integers(0, 100, size=len(times))
    _write_atomic(args.src, "history.csv", _csv(times, counts))


WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query filter "
    "stream big group"
).split()
COLORS = "red blue green small large black white".split()
NOUNS = "ring widget bolt gear valve spring nut".split()


def _tables(rng: np.random.Generator) -> dict:
    """The source tables as pyarrow tables, by name."""
    import pyarrow as pa

    def n(rows_at_sf1: int) -> int:
        return max(1, int(rows_at_sf1 * TABLE_SCALE))

    def money(lo: float, hi: float, size: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, size), 2)

    def pick(choices, size: int) -> np.ndarray:
        return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), size)]

    def days(start: str, lo: np.ndarray | int, hi: np.ndarray | int, size: int) -> np.ndarray:
        base = np.datetime64(start, "us")
        return base + rng.integers(lo, hi, size).astype("timedelta64[D]").astype("timedelta64[us]")

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n(150_000)
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc),
    })
    ns = n(10_000)
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, ns),
    })
    npart = n(200_000)
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{c} {w}" for c, w in zip(pick(COLORS, npart), pick(NOUNS, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
    })
    no = n(1_500_000)
    orderdate = days("1995-01-01", 0, 2404, no)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": pick(["F", "O", "P"], no),
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": orderdate,
        "o_orderpriority": pick(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    order_of_line = np.repeat(np.arange(no), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    quantity = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": order_of_line.astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": (np.arange(nl) - first + 1).astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900.0, 3000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], nl),
        "l_linestatus": pick(["F", "O"], nl),
        "l_shipdate": orderdate[order_of_line]
        + rng.integers(1, 122, nl).astype("timedelta64[D]").astype("timedelta64[us]"),
    })
    ne = n(1_000_000)
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, ne)
    ).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, ne // 66), ne),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.clip(np.round(rng.lognormal(2.5, 1.0, ne), 2), 0.01, 490.02),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n(50_000)
    texts = [
        " ".join(pick(WORDS, int(k))) for k in rng.integers(8, 100, nd)
    ]
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    nv = n(20_000)
    labels = rng.integers(0, 10, nv)
    centres = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centres[labels] + rng.normal(0.0, 0.05, (nv, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def tables(args: argparse.Namespace) -> None:
    import pyarrow.parquet as pq

    os.makedirs(args.src, exist_ok=True)
    stage = os.path.join(os.path.dirname(os.path.abspath(args.src)), "_stage")
    os.makedirs(stage, exist_ok=True)
    for name, table in _tables(np.random.default_rng(args.seed)).items():
        tmp = os.path.join(stage, f"{name}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(args.src, f"{name}.parquet"))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("mode", choices=["live", "backlog", "history", "tables"])
    p.add_argument("--src", required=True)
    p.add_argument("--seed", type=int)
    p.add_argument("--manifest")
    p.add_argument("--max-files", type=int, default=-1)
    p.add_argument("--prefix", default="live")
    args = p.parse_args()
    if args.mode != "history" and args.seed is None:
        p.error(f"{args.mode} needs --seed")
    if args.mode == "live" and args.manifest is None:
        p.error("live needs --manifest")
    {"live": live, "backlog": backlog, "history": history, "tables": tables}[args.mode](args)


if __name__ == "__main__":
    main()
