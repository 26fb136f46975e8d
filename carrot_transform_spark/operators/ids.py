"""Dense sequential ID assignment over value-determined buckets.

The reference assigns ids with mutable driver-side counters in write order
(run.py:126-132, person_helpers.py:129-151). The Spark equivalent is
``offset + row_number() OVER (ORDER BY order_cols)``; ``with_dense_ids``
computes exactly that without sorting a large input in one partition:

1. the caller names a bucket: one integer expression per leading order
   column whose value order agrees with the row order, e.g.
   ``(file, line >> 16)`` for the order ``(file, line, ...)``;
2. the input is persisted, one aggregation collects each bucket's row
   count and the range of those leading order columns, the ranges are
   checked against the bucket-key order, and consecutive buckets merge
   into window groups of at least ``_MIN_GROUP_ROWS`` rows;
3. id = the group's start (the count before it) + row_number() over
   ``Window.partitionBy(group start)``, the start picked by a CASE chain
   over the groups' first bucket keys.

Buckets and groups are functions of row values, so a recompute after cache
loss, a different partition count or an AQE re-plan hands out the same ids.
With one group (a small input, one bucket, or buckets whose ranges overlap)
step 3 is the plain global window, which is correct for any input.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window

_GROUP = "__ct_group"

# A hash-partitioned window only beats the single-partition one once each
# of its sorts is large: cold local[4] runs over a cached input took 1.2 s
# global vs 1.6-2.2 s bucketed at 240k rows, 4.1-4.5 s vs 3.9 s at 4M rows.
_MIN_GROUP_ROWS = 1 << 20


def with_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str,
    offset: int = 0,
    *,
    bucket: list[Column],
    persist_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """Add ``id_col`` = offset + dense rank 1..N in ascending (order_cols)
    order, ids equal to Spark's ``row_number() OVER (ORDER BY order_cols)``.

    bucket: one integer expression per leading order column whose value
    order agrees with the row order (see the module docstring). A constant
    is one bucket.

    persist_registry: optional list the caller owns; the input cache this
    function leaves persisted is appended so the caller can unpersist it
    after the result is materialized.
    """
    src = df.persist(StorageLevel.MEMORY_AND_DISK)
    if persist_registry is not None:
        persist_registry.append(src)
    key = _key(bucket)
    groups = _groups(src, key, order_cols[: len(bucket)], offset)
    if len(groups) <= 1:
        return _numbered(src, Window.orderBy(*order_cols), F.lit(offset), id_col)
    # a row belongs to the last group whose first key is not above its own
    start = F.when(key < _key(map(F.lit, groups[1][0])), groups[0][1])
    for (first, _), (_, prev_start) in zip(groups[2:], groups[1:]):
        start = start.when(key < _key(map(F.lit, first)), prev_start)
    grouped = src.withColumn(_GROUP, start.otherwise(groups[-1][1]).cast("long"))
    w = Window.partitionBy(_GROUP).orderBy(*order_cols)
    return _numbered(grouped, w, F.col(_GROUP), id_col).drop(_GROUP)


def _numbered(df: DataFrame, w: Window, start: Column, id_col: str) -> DataFrame:
    return df.withColumn(id_col, (F.row_number().over(w) + start).cast("long"))


def _key(parts) -> Column:
    return F.struct(*[c.cast("long").alias(f"b{i}") for i, c in enumerate(parts)])


def _groups(src: DataFrame, key: Column, lead: list[str], offset: int) -> list[tuple[tuple, int]]:
    """(first bucket key, first id - 1) per window group in bucket-key
    order, or [] when the buckets cannot number the rows: a NULL key, or
    ranges of the leading order columns that do not follow the key order."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(lead):
        aggs += [F.min(c).alias(f"lo{i}"), F.max(c).alias(f"hi{i}"), F.count(c).alias(f"nn{i}")]
    stats = src.groupBy(key.alias("key")).agg(*aggs).collect()
    if any(v is None for r in stats for v in r["key"]):
        return []
    groups: list[tuple[tuple, int]] = []
    acc, rows, prev = offset, _MIN_GROUP_ROWS, None
    for r in sorted(stats, key=lambda r: tuple(r["key"])):
        # min() skips NULLs, which sort first: a column with any NULL starts at NULL
        cur = [
            (_order_key(None if r[f"nn{i}"] < r["n"] else r[f"lo{i}"]), _order_key(r[f"hi{i}"]))
            for i in range(len(lead))
        ]
        if prev is not None and not _before(prev, cur):
            return []
        prev = cur
        if rows >= _MIN_GROUP_ROWS:
            groups.append((tuple(r["key"]), acc))
            rows = 0
        acc += r["n"]
        rows += r["n"]
    return groups


def _before(a: list[tuple], b: list[tuple]) -> bool:
    """Whether every row of a bucket with per-column (lo, hi) ranges ``a``
    sorts before every row of one with ranges ``b``: the first column where
    the ranges are not one shared value must separate them strictly."""
    for (alo, ahi), (blo, bhi) in zip(a, b):
        if ahi < blo:
            return True
        if not alo == ahi == blo == bhi:
            return False
    return False


def _order_key(v) -> tuple:
    """Python sort key that agrees with Spark's ascending order: NULL before
    every value, NaN after every number."""
    return (0,) if v is None else (2,) if v != v else (1, v)
