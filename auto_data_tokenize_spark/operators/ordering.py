"""Stable ordering operators (SortCsvRow analogue,
common/SortCsvRow.java:85-95 — group by primary column, external
secondary sort).

Spark's UnsafeExternalSorter gives the spill-to-disk behavior the
reference needed a NATIVE BufferedExternalSorter for; we only choose
*where* to sort:

- ``cluster_sorted``: range-repartition on the primary key then sort
  within partitions — total order across output files WITHOUT a
  single-reducer bottleneck; the scalable write path.
- ``cluster_sorted_through``: ``cluster_sorted`` of a row-wise
  transform's output, ordered BEFORE the transform when the keys allow
  it, so the range-bounds sampling job never runs the transform.
- ``globally_sorted``: plain ``orderBy`` for small golden comparisons.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def cluster_sorted(
    df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    num_partitions: int | None = None,
) -> DataFrame:
    if num_partitions:
        ranged = df.repartitionByRange(num_partitions, *keys)
    else:
        ranged = df.repartitionByRange(*keys)
    return ranged.sortWithinPartitions(*keys)


def _attributes(df: DataFrame) -> dict[str, int]:
    """Column name → exprId of the analyzed plan's output attributes."""
    out = df._jdf.queryExecution().analyzed().output()
    return {a.name(): a.exprId().id() for a in (out.apply(i) for i in range(out.size()))}


def cluster_sorted_through(
    df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    keys: tuple[str, ...],
    num_partitions: int | None,
) -> DataFrame:
    """``cluster_sorted(transform(df), keys, num_partitions)``.

    ``repartitionByRange`` runs a job that samples range bounds from its
    whole child plan, and the shuffle then computes that child again; a
    Python UDF in ``transform`` would run twice per row. So when every
    key is an input column that ``transform`` passes through untouched
    (its output exposes the same analyzed attribute, same exprId, as
    ``df``), the order is computed first and the transform applied to
    the ordered rows: ``transform(cluster_sorted(df, keys,
    num_partitions))``. A column the transform rewrites, renames or
    writes gets a new exprId, so no list of such columns is kept.

    Both plans give the same rows in the same order provided
    ``transform`` works row by row, is deterministic and keeps row order
    (every tokenize/encrypt transform here does): the range bounds are
    sampled from the same key values of the same input partitions.
    Spark seeds that sample with the RDD id, so where the partitions are
    cut varies from run to run for either plan; the concatenated order
    does not. Otherwise (a key is missing from ``df`` or not passed
    through) the transform runs first, as the key only exists after it."""
    out = transform(df)
    before, after = _attributes(df), _attributes(out)
    if all(k in before and after.get(k) == before[k] for k in keys):
        return transform(cluster_sorted(df, keys, num_partitions))
    return cluster_sorted(out, keys, num_partitions)


def globally_sorted(df: DataFrame, keys: tuple[str, ...] = ("conv_id", "turn_idx")) -> DataFrame:
    return df.orderBy(*keys)
