"""Registry workload: a fixed list of driver-heavy registry queries.

One op is a query's DataFrame build (``queries()[name](spark, dir)``, where
iterative operators run most of their jobs) plus ``.count()``. One pass
runs every query once, in an order the seed shuffles (with the one query
kept, the seed changes nothing). Each query's output
is compared once per run with its DuckDB ``oracle_sql()`` twin over the
same parquet files, with the comparison helpers of ``tools/oracle_check.py``.

The input tables are byte-for-byte copies of the repository's sf0.1 test
fixture (TESTDATA.md; seed 42) in ``perfbench/sf0.1/``: a run reads
nothing outside its checkout. Their SHA-256 is checked before every run.
"""

from __future__ import annotations

import hashlib
import os
import random

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.1")
# SHA-256 of the fixture's tables, as shipped with the test data.
TABLES = {
    "documents": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
}
TABLE_ROWS = {"documents": 5_000}

# (query, input table). Start list: the 16 queries probed heaviest at
# sf0.1. Trim rule, fixed before any oracle comparison: keep those whose
# steady build + count on the fixture is at most 2 s on 4 cores (median of
# the 2nd-4th runs after a first one, local[4], 3g driver); of those, keep
# the one that launches the most jobs while its DataFrame is built (driver
# layer). One query only: a registry run has about 40 s of the benchmark's
# time budget, and the first execution plus the warm-up of a second query
# took 20 s more. Measured (steady s, build jobs, shuffle bytes written
# per op): weighted_sssp 1.88 s, 23 jobs, 8.7 kB.
# Under 2 s but dropped: knn_join_df 1.86 (16, 5.3 kB), idw_loo_cv 1.87
# (2, 1.17 MB), distance_join_pairs 1.30 (1, 0.80 MB), edit_distance_pairs
# 1.21 (6, 0.16 MB), pip_join 0.99 (1, 0.9 kB). Over 2 s:
# dedup_canonical_pick 2.8, semivariogram_bins 3.3, nn_gfunction 3.7,
# knox_spacetime 3.8, streaming_window_distinct 4.5, component_size_dist
# 4.7, cross_k_function 5.4, st_dbscan_clusters 5.4, hopkins_statistic 8.7,
# containment_pairs 8.8.
QUERIES = (
    ("weighted_sssp", "documents"),
)


def verify_tables() -> str:
    """Raise unless every table matches its fixture checksum; return one
    key for all of them (for caches of results computed from them)."""
    h = hashlib.sha256()
    for name, want in sorted(TABLES.items()):
        with open(os.path.join(DATA_DIR, f"{name}.parquet"), "rb") as fh:
            got = hashlib.sha256(fh.read()).hexdigest()
        if got != want:
            raise RuntimeError(f"{name}.parquet is not the sf0.1 fixture table")
        h.update(got.encode())
    return h.hexdigest()[:16]


def compare(spark_rows: list, spark_cols: list[str], oracle_df) -> str | None:
    """None when the Spark rows equal the oracle rows (columns sorted by
    name, rows sorted, floats to 1e-9 relative), else the first reason."""
    from tools.oracle_check import _norm, _rows_close

    scols = sorted(spark_cols)
    srows = [tuple(_norm(r[c]) for c in scols) for r in spark_rows]
    ocols = sorted(oracle_df.columns)
    if scols != ocols:
        return f"columns spark={scols} oracle={ocols}"
    orows = [tuple(_norm(v) for v in row)
             for row in oracle_df[ocols].itertuples(index=False, name=None)]
    if len(srows) != len(orows):
        return f"rows spark={len(srows)} oracle={len(orows)}"
    sx, ox = sorted(srows, key=repr), sorted(orows, key=repr)
    bad = [i for i, (a, b) in enumerate(zip(sx, ox)) if not _rows_close(a, b)]
    if bad:
        return f"{len(bad)} rows differ, first spark={sx[bad[0]]} oracle={ox[bad[0]]}"
    return None


class RegistryWorkload:
    # ``setup`` runs every query once: the first of the warm-up passes
    setup_passes = 1

    def __init__(self, name: str, ctx):
        self.name = name
        self.ctx = ctx
        self.order = [q for q, _ in QUERIES]
        random.Random(ctx.seed).shuffle(self.order)
        self.rows_per_pass = sum(TABLE_ROWS[t] for _, t in QUERIES)

    def build_tiles(self) -> None:
        pass

    def setup(self) -> None:
        """Check the tables and run every query once with ``collect`` (its
        first, slowest execution), keeping the rows for the oracle check."""
        import __spark_entry__ as entry

        self.data_key = verify_tables()
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.collected = {}
        for q in self.order:
            try:
                df = self.queries[q](self.ctx.spark, DATA_DIR)
                self.collected[q] = (df.collect(), df.columns)
            except Exception as e:  # noqa: BLE001 - a raise fails the check
                self.collected[q] = e

    def ops(self):
        return [(q, lambda tracer, q=q: self.op(tracer, q)) for q in self.order]

    def op(self, tracer, query: str) -> int:
        with tracer.span("build"):
            df = self.queries[query](self.ctx.spark, DATA_DIR)
        with tracer.span("action"):
            return df.count()

    def _oracle(self, con, query: str):
        """DuckDB result of the query's oracle, cached per (tables, SQL)."""
        import pandas as pd

        sql = self.oracles[query]
        key = hashlib.sha1((self.data_key + sql).encode()).hexdigest()[:16]
        path = os.path.join(self.ctx.cache_dir, "oracle", f"{query}-{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        df = con.execute(sql).fetch_df()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    def prepare_check(self) -> None:
        """Compare each query's collected rows with its oracle; keep the
        oracle row count of each query whose values matched."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads TO {self.ctx.cpus}")
        con.execute(f"SET temp_directory = '{os.environ['TMPDIR']}'")
        for t in TABLES:
            path = os.path.join(DATA_DIR, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.expected: dict[str, int] = {}
        for q in self.order:
            got = self.collected[q]
            if isinstance(got, Exception):
                why = f"spark raised {got!r}"
            else:
                try:
                    odf = self._oracle(con, q)
                    why = compare(got[0], got[1], odf)
                except Exception as e:  # noqa: BLE001 - a raise fails the check
                    why = f"oracle raised {e!r}"
            if why is None:
                self.expected[q] = len(odf)
            else:
                self.ctx.log(f"{q}: oracle mismatch: {why}")
        con.close()

    def check(self, name: str, result) -> bool:
        return name in self.expected and result == self.expected[name]

    # --- traced run only ------------------------------------------------

    def layers(self, tracer) -> dict[str, float]:
        return {}
