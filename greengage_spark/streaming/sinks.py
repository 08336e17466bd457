"""Streaming sinks: micro-batches into manifest-backed engine tables.

The reference's continuous-ingest path is gpfdist external tables + COPY
(fileam.c, cdbsreh.c) fed by external loaders; the Spark-first analog is
Structured Streaming ``foreachBatch`` writing into the engine's
copy-on-write ``WritableTable``.  Two modes:

- **append**: each micro-batch becomes a new immutable segment
  (ExecInsert shape — untouched files carry by reference);
- **upsert**: per-key MERGE — ``WritableTable``'s finder prunes the
  table to the files that hold the batch's keys (one scan that collects
  file NAMES only), those files are rewritten without the matched
  keys, and the batch appends in the same commit.  The streaming
  sibling of ModifyTable/SplitUpdate (nodeModifyTable.c).

Exactly-once: Spark replays a failed micro-batch under the SAME
``batch_id``; the sink stores the last applied batch id INSIDE the
committed manifest (one atomic ``os.replace`` with the data commit), so
a replayed batch is dropped before any write.  Work per batch is
O(batch size + touched files) — independent of table size — which is
the property that survives a 100 TB table.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from greengage_spark.operators.dml import WritableTable

_BATCH_KEY = "stream_batch_id"


def _latest_per_key(
    rows: DataFrame, keys: list[str], order_cols: list[str]
) -> DataFrame:
    """One surviving row per key within a batch: max by ``order_cols``
    (ties impossible when the caller includes a unique column).  A batch
    may carry several updates for one key; MERGE applies the newest."""
    w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_cols])
    return (
        rows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def append_batch(
    st: WritableTable, rows: DataFrame, *, extra: dict | None = None
) -> WritableTable:
    """Append one batch as a new segment (existing files by reference)."""
    if st.version < 0:
        return st.create(rows, extra=extra)
    return st.rewrite_files([], rows, extra=extra)


def upsert_batch(
    st: WritableTable,
    rows: DataFrame,
    keys: list[str],
    order_cols: list[str],
    *,
    extra: dict | None = None,
) -> WritableTable:
    """MERGE one batch into ``st`` by ``keys``: delete matching keys from
    the files that hold them, append the batch.  Idempotent for a given
    batch (replay reaches the same final state)."""
    rows = _latest_per_key(rows, keys, order_cols)
    if st.version < 0:
        return st.create(rows, extra=extra)
    # "the batch holds this row's key": a correlated EXISTS over the
    # batch's keys, planned as a broadcast semi join in the finder and an
    # anti join for the survivors
    batch_keys = F.broadcast(rows.select(*keys).distinct()).alias("__batch")
    matched = batch_keys.where(
        reduce(
            operator.and_,
            [F.col(f"__batch.{k}") == F.col(f"`{st.name}`.{k}").outer() for k in keys],
        )
    ).exists()
    touched = st._touched_files(matched)
    new_rows = st._coerce(rows)
    if touched:
        new_rows = st._read_files(touched).filter(~matched).unionByName(new_rows)
    return st.rewrite_files(touched, new_rows, extra=extra)


class TableStreamSink:
    """``foreachBatch`` callable with exactly-once batch tracking.

    >>> q = (stream.writeStream
    ...      .foreachBatch(TableStreamSink(st, keys=[...], order_cols=[...]))
    ...      .trigger(availableNow=True).start())
    """

    def __init__(
        self,
        st: WritableTable,
        *,
        keys: list[str] | None = None,
        order_cols: list[str] | None = None,
    ):
        if keys and not order_cols:
            raise ValueError("upsert mode requires order_cols for determinism")
        self.st = st
        self.keys = keys or []
        self.order_cols = order_cols or []

    def _last_batch(self) -> int:
        if self.st.version < 0:
            return -1
        return int(self.st._manifest().get(_BATCH_KEY, -1))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self._last_batch():
            return  # replayed micro-batch: already committed
        extra = {_BATCH_KEY: batch_id}
        if self.keys:
            upsert_batch(
                self.st, batch_df, self.keys, self.order_cols, extra=extra
            )
        else:
            append_batch(self.st, batch_df, extra=extra)
