"""Distributed 2-D convex hull per key (Andrew monotone chain).

Two-level reduction, the same shape as the engine's rect/cap bound
aggregates: stage 1 computes a PARTIAL hull per (key, salt) slice inside
one ``applyInPandas``; stage 2 unions the partials per key and runs the
chain once more. Correctness of the split: hull(hull(A) ∪ hull(B)) ==
hull(A ∪ B) — a point interior to a slice is interior to the union, so
partial hulls only discard points the final hull could never use. This
bounds stage-2 group size by O(salt * hull_size), not the raw key group
size, which is what makes monster keys (one city's points on one key)
safe at cluster scale.

INCLUSIVE boundary contract: points lying ON a hull edge (exactly
collinear in IEEE double arithmetic) are kept as vertices. That makes
the vertex set a pure function of cross-product SIGNS — multiply and
subtract only, no transcendentals — so any engine evaluating the same
expression (numpy here, the O(n^3) all-sides SQL edge test in the
DuckDB oracle) produces the identical set, bit-for-bit, with no
tie-break or orientation-order exposure.

The per-group chain is an O(n log n) stack loop over an Arrow batch
(the bounded-group applyInPandas pattern trajectory.py::simplify uses);
nothing here is a row-at-a-time Python UDF in a Spark hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .functions import dropping_zip_importers


def _half_hull(xs: np.ndarray, ys: np.ndarray) -> list[int]:
    """Indices of one monotone-chain half over points sorted by (x, y).

    Pops only on STRICTLY clockwise turns (cross < 0), keeping collinear
    boundary points — the inclusive contract above.
    """
    out: list[int] = []
    for i in range(len(xs)):
        while len(out) >= 2:
            j, k = out[-2], out[-1]
            cross = (xs[k] - xs[j]) * (ys[i] - ys[j]) - (ys[k] - ys[j]) * (
                xs[i] - xs[j]
            )
            if cross < 0.0:
                out.pop()
            else:
                break
        out.append(i)
    return out


def _hull_indices(xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Indices of all boundary points (inclusive hull) of the input."""
    if len(xs) <= 2:
        return np.arange(len(xs))
    order = np.lexsort((ys, xs))
    xs, ys = xs[order], ys[order]
    lower = _half_hull(xs, ys)
    upper = _half_hull(xs[::-1], ys[::-1])
    n = len(xs)
    idx = set(lower) | {n - 1 - i for i in upper}
    return order[sorted(idx)]


def convex_hull_vertices(
    df: DataFrame,
    key_col: str,
    id_col: str,
    x_col: str,
    y_col: str,
    n_salt: int = 16,
) -> DataFrame:
    """Per-``key_col`` inclusive convex hull: returns (key, id, x, y) rows
    for every input point on its group's hull boundary.

    ``n_salt`` slices each key for the stage-1 partial hulls; the salt is
    a deterministic function of ``id_col`` so replays are identical.
    """
    schema = df.select(key_col, id_col, x_col, y_col).schema

    def chain(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = pdf[x_col].to_numpy(dtype=np.float64)
        ys = pdf[y_col].to_numpy(dtype=np.float64)
        keep = _hull_indices(xs, ys)
        return pdf.iloc[keep][[key_col, id_col, x_col, y_col]]

    pts = df.select(
        key_col,
        id_col,
        x_col,
        y_col,
        (F.col(id_col) % F.lit(n_salt)).alias("_salt"),
    )
    # user repartition pins stage-1 width against AQE byte-size
    # coalescing (the chain is CPU-bound Python, not byte-bound; same
    # rationale as trajectory.simplify_trajectories)
    slots = df.sparkSession.sparkContext.defaultParallelism
    pts = pts.repartition(slots, F.col(key_col), F.col("_salt"))
    partial = pts.groupBy(key_col, "_salt").applyInPandas(
        dropping_zip_importers(chain), schema=schema
    )
    return partial.groupBy(key_col).applyInPandas(
        dropping_zip_importers(chain), schema=schema
    )
