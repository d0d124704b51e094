"""Keyed upsert sink — the engine's replacement for the Kudu upsert.

The reference demonstrates the same upsert three ways per batch
(KuduContext.upsertRows KafkaToKuduJava.java:117-119; datasource writer
with Kudu UPSERT-on-append semantics kafka_to_kudu.py:44-45,
KafkaToKuduScala.scala:53-56; SQL INSERT kafka_to_kudu.py:48-51) and
documents the contract in comments (java:113-115): idempotent,
last-writer-wins on the primary key ``as_of_time``, safe to re-run.

This engine reproduces that contract sink-side (Spark's parquet writer
has no upsert; Kudu's did — SURVEY.md §2.3.4):

- ``merge_by_key``: pure DataFrame-level keyed merge — the unit the
  oracle checks. Last-writer-wins by default (new rows win); with a
  ``combine`` map each non-key column merges through an aggregate
  instead (``F.sum`` for additive rollups, ``F.hll_union_agg`` for
  sketches, ``F.bit_or`` for bitmaps).
- ``UpsertParquetSink``: a ``foreachBatch`` target maintaining a keyed
  parquet table with hash layout on the key (mirrors the DDL's
  ``PARTITION BY HASH PARTITIONS 4``, ddl/create_impala_kudu_table.sql:14)
  under either merge policy.

Scale note: the merge implementation is merge-on-read-free — it
rewrites the whole table per batch, so each batch costs O(store), not
O(batch). That only suits the reference's parity cardinality (one row
per 5 s batch). The event-time pipeline keeps one row per window
forever: after 116 days of 5 s windows the store holds about 2M rows,
and the rewrite is most of each batch's time. High-cardinality keyed
state needs a store that rewrites only the buckets a batch touches, or
a format with real MERGE (Delta/Iceberg/Hudi or Kudu itself), behind
the same ``merge_by_key`` semantics; this sink is that seam.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Hash buckets of the store layout (ddl/create_impala_kudu_table.sql:14,
#: ``PARTITION BY HASH PARTITIONS 4``).
NUM_BUCKETS = 4

# One sub-batch marker column used to disambiguate replays.
_BATCH_COL = "__batch_id"

# Sentinel distinguishing "caller did not pre-read the store" from "the
# caller read it and it was missing (None)" in UpsertParquetSink.__call__.
_READ_STORE = object()


def merge_by_key(
    current: DataFrame | None,
    updates: DataFrame,
    key: str | list[str],
    num_buckets: int | None = None,
    combine: dict[str, Callable[[str], Column]] | None = None,
) -> DataFrame:
    """Keyed merge of ``updates`` into ``current``.

    ``combine=None`` is last-writer-wins, row-for-row equivalent to Kudu
    UPSERT (java:117-119): every key in ``updates`` replaces its row in
    ``current``; unknown keys insert.
    If ``updates`` itself carries duplicate keys, the *last* occurrence
    wins, matching sequential upserts (requires a deterministic order
    column ``__batch_id`` if present, else arbitrary-but-single).

    ``combine`` maps each non-key column to the aggregate that merges
    it (``{"n": F.sum}``): ``updates`` then carries PARTIAL aggregates
    per key, and the merge folds them into ``current`` instead of
    replacing rows — the maintenance step of an incrementally-updated
    rollup, sketch or bitmap store. With a commutative, associative
    aggregate the result is independent of micro-batch boundaries.
    Columns outside ``keys`` and ``combine`` are dropped.

    Shape: either policy is ONE keyed aggregate. Last-writer-wins
    unions both sides with a priority tag (current 0, updates 1) and
    keeps, per key, the max of ``struct(priority, non_keys...)``: a key
    only in one side keeps that side's (deduped) row, a key in both
    keeps the updates row regardless of content, and duplicate update
    keys resolve to the lexicographically-largest non-key tuple
    (struct comparison is field-order left-to-right, priority first).
    With ``num_buckets`` set the key shuffle is issued as
    ``repartition(num_buckets, keys)`` before the aggregate — its
    clustered-distribution requirement is satisfied by that
    partitioning — so the merged output already carries the store's
    hash layout and needs no second exchange. Last-writer-wins requires
    orderable non-key columns (no maps), which holds for every sink
    schema here.
    """
    keys = [key] if isinstance(key, str) else list(key)

    def _bucketed(df: DataFrame) -> DataFrame:
        return df if num_buckets is None else df.repartition(num_buckets, *keys)

    if combine is not None:
        both = updates if current is None else current.unionByName(updates)
        return _bucketed(both).groupBy(*keys).agg(
            *[merge(c).alias(c) for c, merge in combine.items()]
        )
    had_batch_col = _BATCH_COL in updates.columns
    if had_batch_col:
        # Explicit arrival order: keep the row of the LATEST batch per
        # key (window dedup, unchanged pre-round-11 semantics).
        w = Window.partitionBy(*keys).orderBy(F.col(_BATCH_COL).desc())
        updates = (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", _BATCH_COL)
        )
    non_keys = [c for c in updates.columns if c not in keys]
    # Output column order replicates the pre-round-11 form exactly: the
    # surviving-current union put current's order first; the first-batch
    # struct-max dedup emitted keys-first; the first-batch window dedup
    # kept updates' own order. The order is load-bearing — it becomes
    # the store's parquet schema, which later batches read back.
    if current is not None:
        out_cols = current.columns
    elif had_batch_col or not non_keys:
        out_cols = updates.columns
    else:
        out_cols = [*keys, *non_keys]

    if not non_keys:
        # Key-only rows: the merge degenerates to a distinct union.
        both = updates if current is None else current.unionByName(updates)
        return _bucketed(both).dropDuplicates(keys)
    tagged = updates.withColumn("__prio", F.lit(1))
    if current is not None:
        tagged = current.withColumn("__prio", F.lit(0)).unionByName(tagged)
    packed = (
        _bucketed(tagged)
        .groupBy(*keys)
        .agg(
            F.max(
                F.struct(F.col("__prio"), *[F.col(c) for c in non_keys])
            ).alias("__r")
        )
    )
    merged = packed.select(
        *keys, *[F.col(f"__r.{c}").alias(c) for c in non_keys]
    )
    return merged.select(*out_cols)


class UpsertParquetSink:
    """``foreachBatch`` sink: keyed parquet table with upsert semantics.

    Usage::

        sink = UpsertParquetSink(path, key="as_of_time")
        q = (df.writeStream.outputMode("update")
               .foreachBatch(sink).start())

    ``combine`` selects the merge policy (see :func:`merge_by_key`):
    ``None`` keeps last-writer-wins; a map such as
    ``{"n_events": F.sum}`` folds each batch's partial aggregates into
    the stored ones.

    Idempotency: the sink records the last committed batch id in the
    table directory; replaying an already-committed batch is a no-op,
    reproducing the reference's replay-safety (java:113-115). For a
    ``combine`` store this is what keeps a replay from double-counting.
    """

    def __init__(
        self,
        path: str,
        key: str | list[str],
        combine: dict[str, Callable[[str], Column]] | None = None,
    ):
        self.path = path
        self.key = [key] if isinstance(key, str) else list(key)
        self.combine = combine
        self._data = os.path.join(path, "data")
        self._marker = os.path.join(path, "_last_batch")
        # Read-back schema, cached after the first inference (round-11):
        # every merge preserves the column set (unionByName would fail
        # otherwise), so the store's read schema is fixed for the life
        # of the sink and re-inferring it per read pays one footer-scan
        # job per micro-batch for nothing. Cached from an actual
        # read-back (not from the written DataFrame) so nullability
        # matches parquet inference exactly.
        self._schema = None

    def _last_batch(self) -> int:
        try:
            with open(self._marker) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return -1

    def _restore_aside(self) -> None:
        """Undo a promotion cut short between its two renames: the
        previous table sits in ``data.old`` and ``data`` is missing.
        Reading on would see no table and the next commit would delete
        ``data.old`` — the whole store lost. The replay marker was not
        advanced, so the interrupted batch replays onto the restored
        table."""
        old = self._data + ".old"
        if not os.path.isdir(self._data) and os.path.isdir(old):
            os.rename(old, self._data)

    def num_rows(self) -> int | None:
        """Exact row count of the live store from its parquet footers
        (driver-side metadata, no Spark job) — None when the store is
        missing. The cheap source for row bounds fed to size-gated
        joins over the store (a ``count()`` would cost a scan job)."""
        self._restore_aside()
        if not os.path.isdir(self._data):
            return None
        import glob

        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(f).num_rows
            for f in glob.glob(os.path.join(self._data, "*.parquet"))
        )

    def read(self, spark) -> DataFrame | None:
        self._restore_aside()
        # Only a MISSING table reads as empty. Transient read failures
        # must propagate: swallowing them would make the next merge
        # treat the table as empty and silently drop all upserted state.
        if not os.path.isdir(self._data):
            return None
        if self._schema is not None:
            return spark.read.schema(self._schema).parquet(self._data)
        df = spark.read.parquet(self._data)
        self._schema = df.schema
        return df

    def _merge(self, current: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        """Merge this batch into the store. The key shuffle is issued as
        ``repartition(NUM_BUCKETS, key)`` feeding the merge aggregate, so
        the merged output already carries the store's hash layout
        (reference ddl:14, HASH PARTITIONS 4)."""
        return merge_by_key(
            current, batch_df, self.key, num_buckets=NUM_BUCKETS, combine=self.combine
        )

    def compute(
        self, batch_df: DataFrame, batch_id: int, current=_READ_STORE
    ) -> bool:
        """Stage this batch's merged store into the side directory —
        the Spark job, WITHOUT touching the live table. Returns True
        iff a staged table is ready for :meth:`commit`.

        Compute/commit separation (round-12, guide §2.6): a stream
        that maintains several stores per batch has data-independent
        write jobs, but promoting a store mid-flight would yank files
        out from under any concurrent job still READING it (the
        credits plan of the semantic-dedup stream reads the member
        store while the dominator store writes). Staging only reads
        live directories and writes a private side directory, so any
        number of sinks may compute concurrently (driver thread pool);
        the renames happen afterwards, in :meth:`commit`, when no job
        is in flight."""
        if self.combine is not None:
            # A combine store's batch inputs are partial aggregates — a
            # shuffle runs before the first output row — so the
            # empty-batch probe would execute the aggregation once and
            # the merge would execute it AGAIN (round-11). A lazy
            # lineage cut makes the probe the materializer and the
            # merge a read-back. Last-writer-wins inputs stay uncut:
            # they are often raw or narrow scan-local plans whose
            # limit-1 probe is cheaper than a full materialization
            # (callers with expensive plans cut at the call site).
            batch_df = batch_df.localCheckpoint(eager=False)
        # Empty-batch guard (reference O7, kafka_to_kudu.py:23).
        if batch_df.isEmpty():
            return False
        if batch_id <= self._last_batch():
            return False  # replayed batch: idempotent no-op
        spark = batch_df.sparkSession
        # ``current`` (round-11): a caller that already read this
        # store's CURRENT version for its own batch logic (e.g. the
        # incremental-dedup streams join new arrivals against the
        # accumulated store before upserting into it) passes that
        # DataFrame here, so the store is listed/planned once per batch
        # instead of twice. Must be the unmodified result of
        # ``self.read(spark)`` taken in the same micro-batch, with no
        # intervening write to this sink.
        if current is _READ_STORE:
            current = self.read(spark)
        merged = self._merge(current, batch_df)
        # Write to a side directory then swap — the merge plan reads the
        # current directory, so an in-place overwrite would corrupt its
        # input.
        tmp = self._data + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        self._staged_batch = batch_id
        return True

    #: Batch id staged by :meth:`compute` and not yet promoted.
    _staged_batch: int | None = None

    def commit(self) -> None:
        """Promote the staged table (renames + replay marker). No-op
        when nothing is staged. Driver-side only — safe to call while
        OTHER sinks' jobs run, but every job reading THIS store must
        have finished."""
        if self._staged_batch is None:
            return
        import shutil

        tmp = self._data + ".tmp"
        # Promote via rename-aside: the previous table is moved to .old
        # (not deleted) before tmp takes its place, so a crash anywhere
        # in the window leaves a recoverable copy instead of no table
        # (restored by ``_restore_aside`` on the next read).
        old = self._data + ".old"
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(self._data):
            os.rename(self._data, old)
        os.rename(tmp, self._data)
        if os.path.exists(old):
            shutil.rmtree(old)
        os.makedirs(self.path, exist_ok=True)
        # Replace the marker atomically: truncating it in place could
        # leave an empty file after a crash, which reads as -1 and
        # would re-apply (for a combine store, double-count) a replayed
        # batch.
        marker_tmp = self._marker + ".tmp"
        with open(marker_tmp, "w") as f:
            f.write(str(self._staged_batch))
        os.replace(marker_tmp, self._marker)
        self._staged_batch = None

    def __call__(
        self, batch_df: DataFrame, batch_id: int, current=_READ_STORE
    ) -> None:
        if self.compute(batch_df, batch_id, current):
            self.commit()
