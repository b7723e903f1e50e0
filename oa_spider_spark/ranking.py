"""Scale-safe global rank: the one home of the two-level offsets pattern.

A rank or running sum over a total order is never one window without a
partition over data (that sends every row through ONE task). Instead:

  * cells — columns whose ascending order is a monotone coarsening of a
    prefix of the caller's order key (a clamp, `div` or string prefix of
    the leading key), so every row of an earlier cell comes first. A
    second cell key preserves the order only when the first one is
    EXACT: two leading values sharing a coarse first cell would be
    interleaved by the second key;
  * `cell_offsets` — the exclusive running sum of cell sizes over a
    METADATA frame, one row per cell: the only window allowed to run
    without a partition, because its input is cell-sized;
  * `cell_rank` — offset + `row_number` (or a running sum of a weight)
    inside each cell over the caller's FULL order key.

The rank equals a flat sort's row for row only when the order key is
total (ends in an id or hash, as every caller's here does): each rank is
then a *certain* answer in the sense of "Certain and Possible Answers
for Ranking and Window Queries" (VLDB 2023). Cell size bounds the
in-cell window task, so a cell that can hold a mass of ties gets a finer
second key under an exact first one: the one-hot-cell straggler that DS2
(ICDE 2021) breaks up at run time is avoided by construction.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def cell_offsets(
    meta: DataFrame, cells: Sequence[str], size: str, by: Sequence[str] = ()
) -> DataFrame:
    """`meta` (one row per cell, per `by` group) plus `_off`: the sum of
    `size` over every cell before this one in ascending `cells` order,
    within the row's `by` group (0 for the first cell)."""
    spec = Window.partitionBy(*by).orderBy(*cells) if by else Window.orderBy(*cells)
    before = spec.rowsBetween(Window.unboundedPreceding, -1)
    return meta.withColumn("_off", F.coalesce(F.sum(size).over(before), F.lit(0)))


def cell_rank(
    df: DataFrame,
    offsets: DataFrame,
    cells: Sequence[str],
    order: Sequence[Column | str],
    name: str,
    by: Sequence[str] = (),
    weight: str | None = None,
) -> DataFrame:
    """`df` plus `name` = the cell's `_off` from `offsets` + the 1-based
    `row_number` over `order` inside the (`by`, `cells`) cell — or, with
    `weight`, + the running sum of `weight` through the row. The other
    columns of `offsets` ride along; rows whose cell is missing from
    `offsets` are dropped.

    With no `by` group the offsets frame is small by construction: the
    in-cell window runs first and the offsets are broadcast onto it.
    With a `by` group the offsets grow with the groups, so they join by a
    plain equi-join on (`by`, `cells`) whose partitioning the in-cell
    window then reuses — and cells cut from `offsets` are never sorted."""
    keys = [*by, *cells]
    w = Window.partitionBy(*keys).orderBy(*order)
    if weight is None:
        inner = F.row_number().over(w)
    else:
        inner = F.sum(weight).over(w.rowsBetween(Window.unboundedPreceding, 0))
    if by:
        out = df.join(offsets, keys).withColumn(name, F.col("_off") + inner)
    else:
        out = (
            df.withColumn("_in", inner)
            .join(F.broadcast(offsets), keys)
            .withColumn(name, F.col("_off") + F.col("_in"))
            .drop("_in")
        )
    return out.drop("_off")
