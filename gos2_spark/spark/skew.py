"""Skew handling: per-cell histograms, adaptive cell splitting, salting.

Dense urban regions put 20-50% of rows into a handful of cells
(FIXTURES.md §1). Three complementary mechanisms (SURVEY §2.6 "skew
handling"; the reference is single-machine so all of this is engine-new):

1. ``cell_histogram`` — one cheap aggregation pass to find hot cells.
2. ``split_hot_cells`` — re-cover hot covering cells one or more levels
   deeper via Children() (cellid.go:192-201) so no single build-side cell
   matches a disproportionate row count (adaptive cell-level splitting).
3. ``salted_group_count`` — two-phase salted aggregation for per-cell /
   per-tile counts where a plain groupBy would funnel a hot key into one
   reducer.

AQE skew-join splitting (spark.sql.adaptive.skewJoin) is enabled in the
session factory as the runtime backstop.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import hilbert as H
from .pages import s2_parent_sql


def cell_histogram(points: DataFrame, level: int, cell_col: str = "cell_id") -> DataFrame:
    """Row counts per level-``level`` cell (map-side partial agg is free)."""
    return (
        points.groupBy(s2_parent_sql(F.col(cell_col), level).alias("cell"))
        .agg(F.count("*").alias("n"))
    )


def split_hot_cells(covering_ids: list[int], hot: set[int], extra_levels: int = 2) -> list[int]:
    """Replace hot covering cells with descendants ``extra_levels`` deeper.

    Input/output are RAW uint64 ids (driver-side, pre-broadcast). Splitting
    the build side means each (smaller) cell range matches fewer probe rows,
    so AQE can parallelize the refine stage across the hot region.
    """
    out: list[int] = []
    for cid in covering_ids:
        if cid not in hot:
            out.append(cid)
            continue
        frontier = [cid]
        for _ in range(extra_levels):
            nxt: list[int] = []
            for c in frontier:
                arr = np.array([c], dtype=np.uint64)
                if H.is_leaf(arr)[0]:
                    nxt.append(c)
                else:
                    nxt.extend(int(x) for x in H.children(arr)[0])
            frontier = nxt
        out.extend(frontier)
    return out


def salted_group_count(
    df: DataFrame, group_col: str, n_salts: int = 16, salt_source: str = "url"
) -> DataFrame:
    """Two-phase count: groupBy((key, salt)) partial -> groupBy(key) final.

    Spark's hash agg already does map-side partial aggregation, which makes
    plain counts skew-safe; the salted form matters for high-cardinality
    aggregation states (collect_set, approx distinct) where a single hot key
    would still concentrate one reducer. Exposed for those cases and used by
    the bench to demonstrate the pattern.
    """
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_source)), F.lit(n_salts)))
    partial = salted.groupBy(group_col, "_salt").agg(F.count("*").alias("_partial"))
    return partial.groupBy(group_col).agg(F.sum("_partial").alias("count"))

