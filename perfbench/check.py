"""Independent output checks with DuckDB.

Streaming: the expected store is the 60 s / 5 s sliding-window
aggregate of every event the generator wrote into a file the stream
committed, keyed by window end in epoch millis. It is compared with the parquet store the
sink left behind: the key sets must be equal, min/max/first/last must
match exactly, and the stored ``avg_num_veh`` (rounded to 2 places by
the pipeline) must lie within 0.005 of the exact average.

Operator mix: a query's Spark result is compared with its registry
``oracle`` SQL run by DuckDB over the same tables.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import json
import math
import os
from collections import Counter
from decimal import Decimal

import duckdb

WINDOW_MS = 60_000
SLIDE_MS = 5_000


def source_log(checkpoint: str) -> dict[str, int]:
    """Log offset of every file the file source took, by local path, read
    from the checkpoint's file-source log (batch and compacted files).
    A micro-batch takes the files with offsets in its progress's
    ``(startOffset, endOffset]``."""
    log = os.path.join(checkpoint, "sources", "0")
    batches = {}
    for entry in os.listdir(log):
        if entry.startswith(".") or entry.endswith(".crc"):
            continue
        with open(os.path.join(log, entry)) as f:
            for line in f:
                if line.startswith("{"):
                    rec = json.loads(line)
                    batches[rec["path"].removeprefix("file://")] = rec["batchId"]
    return batches


def log_offset(offset) -> int:
    """The ``logOffset`` of a file-source offset from a progress event."""
    if isinstance(offset, str):
        offset = json.loads(offset)
    return -1 if offset is None else int(offset["logOffset"])


def _offsets(p: dict) -> tuple[int, int]:
    source = p["sources"][0]
    return log_offset(source["startOffset"]), log_offset(source["endOffset"])


def committed_files(checkpoint: str, progress: list[dict], batch_id: int) -> list[str]:
    """Files the file source took up to and including batch ``batch_id``."""
    end = next(_offsets(p)[1] for p in progress if p["batchId"] == batch_id)
    return sorted(p for p, o in source_log(checkpoint).items() if o <= end)


def file_batches(checkpoint: str, progress: list[dict]) -> dict[str, int]:
    """Batch id of every file taken by a batch in ``progress``, by path."""
    ranges = [(*_offsets(p), p["batchId"]) for p in progress if p["numInputRows"] > 0]
    out = {}
    for path, offset in source_log(checkpoint).items():
        for lo, hi, batch_id in ranges:
            if lo < offset <= hi:
                out[path] = batch_id
    return out


def last_committed_batch(store: str) -> int:
    with open(os.path.join(store, "_last_batch")) as f:
        return int(f.read())


def compare_store(store: str, event_files: list[str]) -> dict:
    """Compare the store with the windowed aggregate of ``event_files``.

    Returns ``{"rows": <store rows>, "expected": <expected rows>,
    "mismatched": <rows missing, extra or with different values>}``."""
    data = glob.glob(os.path.join(store, "data", "*.parquet"))
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        con.execute(
            "CREATE TEMP TABLE ev AS SELECT t, v FROM read_csv(?, header=false, "
            "auto_detect=false, delim=',', columns={'t': 'BIGINT', 'v': 'INTEGER'})",
            [event_files],
        )
        con.execute(
            f"""
            CREATE TEMP TABLE expected AS
            SELECT (t // {SLIDE_MS}) * {SLIDE_MS} - {SLIDE_MS} * j + {WINDOW_MS} AS k,
                   avg(v) AS a, min(v) AS lo, max(v) AS hi, min(t) AS f, max(t) AS l
            FROM ev, range({WINDOW_MS // SLIDE_MS}) AS r(j)
            GROUP BY 1
            """
        )
        rows, expected, mismatched = con.execute(
            """
            WITH got AS (
                SELECT as_of_time AS k, avg_num_veh AS a, min_num_veh AS lo,
                       max_num_veh AS hi, first_meas_time AS f, last_meas_time AS l
                FROM read_parquet(?)
            )
            SELECT count(g.k), count(e.k),
                   count(*) FILTER (WHERE g.k IS NULL OR e.k IS NULL
                       OR abs(g.a - e.a) > 0.005 + 1e-9
                       OR g.lo <> e.lo OR g.hi <> e.hi OR g.f <> e.f OR g.l <> e.l)
            FROM got g FULL OUTER JOIN expected e ON g.k = e.k
            """,
            [data],
        ).fetchone()
    finally:
        con.close()
    return {"rows": rows, "expected": expected, "mismatched": mismatched}


def _canon(v):
    """One result cell in a form both engines agree on: integral floats
    as ints, other floats to 10 significant digits, containers as tuples."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return int(v) if v.is_integer() and abs(v) < 2**53 else float(f"{v:.10g}")
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted(((str(k), _canon(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _canon_rows(columns: list[str], rows: list) -> list[str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [repr(tuple(_canon(r[i]) for i in order)) for r in rows]


def compare_oracle(df, con: duckdb.DuckDBPyConnection, oracle: str) -> dict:
    """Compare a query's Spark result with its DuckDB oracle by row count
    and a hash of the canonical rows (columns sorted by name, rows
    sorted); on a hash mismatch, count the rows in one result only."""
    got = _canon_rows(list(df.columns), df.collect())
    cur = con.execute(oracle)
    want = _canon_rows([d[0] for d in cur.description], cur.fetchall())

    def digest(rows: list[str]) -> str:
        return hashlib.sha256("\n".join(sorted(rows)).encode()).hexdigest()

    same_cols = sorted(df.columns) == sorted(d[0] for d in cur.description)
    if same_cols and digest(got) == digest(want):
        mismatched = 0
    else:
        diff = (Counter(got) - Counter(want)) + (Counter(want) - Counter(got))
        mismatched = max(1, sum(diff.values()))
    return {"rows": len(got), "expected": len(want), "mismatched": mismatched}


def oracle_connection(tables_dir: str, names: list[str]) -> duckdb.DuckDBPyConnection:
    """DuckDB with every table of ``tables_dir`` as a view."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in names:
        path = os.path.join(tables_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con
