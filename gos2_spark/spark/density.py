"""Adaptive density tiling: choose a per-region S2 cell level so every
emitted tile holds at most ``threshold`` points (or sits at ``max_level``).

This is the "adaptive cell-level splitting" primitive: instead of splitting
hot join keys (AQE's skew-join splitting does that at run time), it
materializes the variable-resolution tile set itself (dense urban areas
get fine cells, oceans get coarse ones), the standard web-scale heatmap /
load-balancing primitive.

Scale shape (the reason this is NOT an iterative job over the raw points):

* the raw table is touched ONCE — a single map-side-combined ``groupBy`` to
  per-cell counts at ``max_level`` (output is bounded by the number of
  distinct occupied cells, not by rows);
* every coarser level's counts roll up from the next finer level's
  *aggregated* table — shuffles operate on strictly shrinking data, never
  on the input again;
* tile selection is a per-level equi-join of a level's counts against its
  parent level's hot cells (count > threshold). Counts are nested
  (parent n >= child n), so "emit at the coarsest level where n <=
  threshold" reduces to the local condition (parent hot) AND (self cold or
  at max_level) — no recursion, no driver loop over data.

All keys are the bias-encoded int64 cell ids; parent extraction is the
codegen bitwise expression ``s2_parent_sql`` (cellid.go:168-171) — the
whole job is native Catalyst, zero Python.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pages import s2_parent_sql


def level_counts(
    points: DataFrame,
    min_level: int,
    max_level: int,
    cell_col: str = "cell_id",
) -> dict[int, DataFrame]:
    """Per-cell point counts at every level in [min_level, max_level].

    One shuffle over the raw table (at ``max_level``); each coarser level
    aggregates the previous level's counts (map-side combine on already
    tiny data). Returns {level: DataFrame(cell, n)}.
    """
    if not 0 <= min_level <= max_level <= 30:
        raise ValueError("need 0 <= min_level <= max_level <= 30")
    out: dict[int, DataFrame] = {
        max_level: (
            points.groupBy(
                s2_parent_sql(F.col(cell_col), max_level).alias("cell")
            ).agg(F.count("*").alias("n"))
        )
    }
    for lvl in range(max_level - 1, min_level - 1, -1):
        out[lvl] = (
            out[lvl + 1]
            .groupBy(s2_parent_sql(F.col("cell"), lvl).alias("cell"))
            .agg(F.sum("n").cast("long").alias("n"))
        )
    return out


def adaptive_density_tiles(
    points: DataFrame,
    threshold: int,
    min_level: int,
    max_level: int,
    cell_col: str = "cell_id",
) -> DataFrame:
    """Variable-resolution tile set: (cell, level, n) where the tiles are
    disjoint, cover every input point, and each tile's count is
    <= ``threshold`` unless it sits at ``max_level`` (irreducibly hot).

    A cell is emitted at level L iff its parent at L-1 is hot
    (n > threshold — so a coarser tile could not hold it) and it is itself
    cold (n <= threshold) or L == max_level. At ``min_level`` the parent
    condition is vacuous. Count nesting (parent n >= child n) makes this
    local rule equivalent to "the coarsest level whose tile is cold".

    The per-level hot-parent join sides are aggregate tables bounded by
    total_points / threshold rows — AQE picks broadcast automatically once
    they fall under the broadcast threshold.
    """
    counts = level_counts(points, min_level, max_level, cell_col)
    lvl_i = lambda lvl: F.lit(lvl).cast("int")  # noqa: E731
    parts = [
        counts[min_level]
        .where((F.col("n") <= threshold) | F.lit(min_level == max_level))
        .select("cell", lvl_i(min_level).alias("level"), "n")
    ]
    for lvl in range(min_level + 1, max_level + 1):
        hot = (
            counts[lvl - 1]
            .where(F.col("n") > threshold)
            .select(F.col("cell").alias("_hot_parent"))
        )
        cond = (F.col("n") <= threshold) | F.lit(lvl == max_level)
        parts.append(
            counts[lvl]
            .withColumn("_parent", s2_parent_sql(F.col("cell"), lvl - 1))
            .join(hot, F.col("_parent") == F.col("_hot_parent"))
            .where(cond)
            .select("cell", lvl_i(lvl).alias("level"), "n")
        )
    return reduce(DataFrame.unionByName, parts)
