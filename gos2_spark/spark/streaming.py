"""Structured Streaming surface: continuous page tiling.

The reference is a static batch library (no incremental operators —
SURVEY §1), so streaming is an ENGINE extension, not a parity item: the
same geoparse → s2_cellid → covering-join → refine pipeline applied to an
unbounded pages stream. Design notes for 100 TB/day ingest:

- the tile side is static and broadcast: the stream-static inner join
  needs no stream-side state at all;
- the only stateful operator is the windowed count, bounded by the
  watermark (late pages beyond it are dropped deterministically);
- the refine pandas UDF is stateless per-batch, so Arrow batching and
  the one-thread-per-worker pinning behave exactly as in batch jobs;
- checkpointLocation + the source's exactly-once file tracking replace
  the batch checkpoint manifests of gos2_spark.spark.checkpoint.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import dropping_zip_importers
from .joins import TileSet, point_in_polygon_join
from .pages import geoparsed_pages


def streaming_tile_counts(
    pages_stream: DataFrame,
    tiles: TileSet,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Unbounded pages -> per-(event-time window, tile) page counts.

    ``pages_stream`` is any streaming DataFrame with the pages schema
    (``spark.readStream.schema(...).parquet(dir)``, Kafka + a parser, or
    an Iceberg streaming read). The result is an append/update stream
    keyed by (window, tile_id).
    """
    pts = geoparsed_pages(pages_stream, keep=("url", "warc_ts"))
    joined = point_in_polygon_join(pts, tiles, how="inner")
    win = (
        F.window("warc_ts", window, slide) if slide else F.window("warc_ts", window)
    )
    return (
        joined.withWatermark("warc_ts", watermark)
        .groupBy(win.alias("win"), "tile_id")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "tile_id",
            "n_pages",
        )
    )


def streaming_first_seen_dedup(
    pages_stream: DataFrame,
    key_cols: tuple[str, ...] = ("url",),
    watermark: str = "24 hours",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """First-seen streaming dedup: keep the first arrival per key, drop
    re-crawls/duplicates arriving within the watermark horizon.

    The streaming counterpart of pipeline.dedup.exact_dedup, built on the
    native stateful operator (dropDuplicatesWithinWatermark) so state is
    BOUNDED by event time — a plain dropDuplicates would grow state
    forever on an unbounded crawl. Dedup by content instead of url by
    adding a hash column first (e.g. md5(text)) and passing it here.
    """
    out = pages_stream.withWatermark(ts_col, watermark)
    # bounded-state variant (Spark >= 3.5); the unbounded fallback keeps
    # semantics for old runtimes but is not the 100-TB path
    if hasattr(out, "dropDuplicatesWithinWatermark"):
        return out.dropDuplicatesWithinWatermark(list(key_cols))
    return out.dropDuplicates(list(key_cols))


def run_to_memory(result: DataFrame, name: str = "tile_counts"):
    """Drive a streaming result into an in-memory table (tests/demos):
    returns the StreamingQuery; callers processAllAvailable() then read
    ``spark.table(name)``.

    Complete mode so a finite test batch emits every window (append mode
    only emits windows the watermark has closed — correct for production
    sinks, empty for a one-shot availableNow drain)."""
    return (
        result.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )


def fence_index_udf(tileset: TileSet, spark):
    """Vectorized which-fence labeler: tests EVERY fence per Arrow batch
    with the same bound-prefilter + crossing-parity kernels as the join
    refine, returning the matched tile index or -1 ('outside'). The right
    shape for geofence monitoring, where fence sets are dimension-sized
    (dozens, broadcast in one payload); use the covering JOIN path for
    thousands of tiles. Int output keeps strings off the Python channel.
    """
    from pyspark.sql.types import IntegerType

    from .functions import pandas_udf

    from ..kernels import predicates as PR
    from ..kernels import projection as PJ

    bc = tileset.spark_artifacts(spark)["bc"]

    @pandas_udf(IntegerType())
    def s2_fence_idx(lat: pd.Series, lng: pd.Series) -> pd.Series:
        tiles = bc.value
        lat_rad = np.radians(lat.to_numpy(np.float64))
        lng_rad = np.radians(lng.to_numpy(np.float64))
        x, y, z = PJ.latlng_to_xyz(lat_rad, lng_rad)
        pts = np.stack([x, y, z], axis=1)
        out = np.full(len(pts), -1, dtype=np.int32)
        for tid, t in tiles.items():
            todo = np.nonzero(out == -1)[0]  # fences are disjoint
            if len(todo) == 0:
                break
            lat_lo, lat_hi, lng_lo, lng_hi = t["bound"]
            in_bound = (lat_rad[todo] >= lat_lo) & (lat_rad[todo] <= lat_hi)
            if lng_lo <= lng_hi:
                in_bound &= (lng_rad[todo] >= lng_lo) & (lng_rad[todo] <= lng_hi)
            else:
                in_bound &= (lng_rad[todo] >= lng_lo) | (lng_rad[todo] <= lng_hi)
            live = todo[in_bound]
            if len(live) == 0:
                continue
            acc = np.zeros(len(live), dtype=bool)
            for verts, origin_inside in t["loops"]:
                acc ^= PR.contains_points_in_loop(pts[live], verts, origin_inside)
            out[live[acc]] = tid
        return pd.Series(out)

    return s2_fence_idx


def streaming_geofence_transitions(
    events_stream: DataFrame,
    tileset: TileSet,
    user_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Stateful streaming enter/exit detection: per-user fence-transition
    events over an unbounded stream, via ``applyInPandasWithState``.

    State is ONE int per user (the last fence index) — bounded by user
    cardinality, checkpointed by the state store, and RESTORED across
    query restarts, so the detector is resumable mid-stream. Rows are
    sorted by (ts, seq) within each micro-batch; cross-batch order is the
    source's responsibility (time-partitioned ingest — the standard
    contract for per-key event-time state machines).

    Output rows: (user, seq, from_idx, to_idx) in append mode — the first
    event of a user emits nothing (matches the batch window-lag op).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    spark = events_stream.sparkSession
    fidx = fence_index_udf(tileset, spark)
    labeled = events_stream.select(
        F.col(user_col), F.col(ts_col), F.col(seq_col),
        fidx(F.col(lat_col), F.col(lng_col)).alias("_fidx"),
    )
    # user/seq output types mirror the INPUT stream (string/UUID keys are
    # as valid as longs — nothing in the state machine needs integer ids)
    in_fields = {f.name: f.dataType.simpleString() for f in events_stream.schema}
    out_schema = (
        f"{user_col} {in_fields[user_col]}, {seq_col} {in_fields[seq_col]}, "
        "from_idx int, to_idx int"
    )

    def fn(key, pdfs, state):
        import pandas as pd

        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values([ts_col, seq_col])
        prev = state.get[0] if state.exists else None
        recs = []
        for eid, f in zip(pdf[seq_col], pdf["_fidx"]):
            f = int(f)
            if prev is not None and f != prev:
                recs.append((key[0], eid, prev, f))
            prev = f
        if prev is not None:
            state.update((int(prev),))
        if recs:
            yield pd.DataFrame(
                recs, columns=[user_col, seq_col, "from_idx", "to_idx"]
            )

    return labeled.groupBy(user_col).applyInPandasWithState(
        dropping_zip_importers(fn), out_schema, "last int", "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_ttl_dedup(
    events_stream: DataFrame,
    ttl_us: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Stateful streaming rate-gate / TTL dedup: per key, emit an event
    only if at least ``ttl_us`` microseconds of EVENT TIME passed since
    the last emitted event of that key. State is one int64 per key (the
    last kept event-time), checkpointed by the state store and restored
    across restarts — the same bounded-state contract as
    ``streaming_geofence_transitions``. Within a micro-batch rows sort by
    (ts, seq); cross-batch order is the source's responsibility.

    Semantically identical to the batch ordered fold the ``ttl_dedup``
    driver query runs (pure integer comparisons, so batch and stream
    agree exactly) — pytest pins the parity including a mid-stream
    restart.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    in_fields = {f.name: f.dataType.simpleString() for f in events_stream.schema}
    out_schema = (
        f"{user_col} {in_fields[user_col]}, {seq_col} {in_fields[seq_col]}, "
        "kept_us long"
    )
    us_expr = (
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        f" {ts_col})"
    )
    labeled = events_stream.select(
        F.col(user_col), F.col(seq_col), F.expr(us_expr).alias("_us")
    )

    def fn(key, pdfs, state):
        import pandas as pd

        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["_us", seq_col])
        last = state.get[0] if state.exists else None
        recs = []
        for eid, us in zip(pdf[seq_col], pdf["_us"]):
            us = int(us)
            if last is None or us - last >= ttl_us:
                recs.append((key[0], eid, us))
                last = us
        if last is not None:
            state.update((int(last),))
        if recs:
            yield pd.DataFrame(recs, columns=[user_col, seq_col, "kept_us"])

    return labeled.groupBy(user_col).applyInPandasWithState(
        dropping_zip_importers(fn), out_schema, "last long", "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_session_counts(
    events_stream: DataFrame,
    gap: str = "1 hour",
    watermark: str = "2 hours",
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Unbounded events -> per-(key, session) rollups with the NATIVE
    stateful session operator: sessions split when the key is silent
    longer than ``gap``; session_end = last event + gap (the batch
    ``aggregates.sessionize`` contract, so a batch backfill and the
    live stream produce identical rows).

    State is bounded by the watermark: closed sessions age out of the
    store instead of accumulating per key forever — the property that
    lets this run for months over a crawl event feed. Output one row per
    closed session: (key, session_start, session_end, n_events).
    """
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(ts_col, gap).alias("w"),
            F.col(key_col).alias("key"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "key",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_window_distinct(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window: str = "6 hours",
) -> DataFrame:
    """EXACT distinct-key counts per tumbling window on an unbounded
    stream: stateful dropDuplicates on (key, window) — each key counts
    once per window no matter how many times or in which micro-batch it
    arrives — then a windowed count. The streaming twin of the batch
    COUNT(DISTINCT) rollup, and the pattern to reach for when HLL error
    is not acceptable.

    State is one row per live (key, window) pair; with a watermark on
    ``ts_col`` upstream the expired windows age out. Output:
    (window_start, n_keys).
    """
    win = F.window(F.col(ts_col), window)
    deduped = events.select(
        F.col(key_col).alias("_k"), win.alias("_w")
    ).dropDuplicates(["_k", "_w"])
    return (
        deduped.groupBy("_w")
        .agg(F.count("*").alias("n_keys"))
        .select(
            F.unix_timestamp(F.col("_w.start")).alias("window_start"),
            "n_keys",
        )
    )
