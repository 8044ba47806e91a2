"""edit_distance_pairs blocking join + Holt pair-state fold sanity, and
the checkpoint-dir durability policy."""

import contextlib
import os

import pytest

from pyspark.sql import functions as F


def test_edit_distance_pairs_planted(spark):
    from gos2_spark.pipeline.dedup import edit_distance_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fax jumps"),  # dist 1 from 1
            (3, "the quack brown fox"),  # dist 1 (within 12-char title)
            (4, "completely different text"),
            (5, "th zzzzzzzzzzzzzz"),  # same 2-char prefix, far
        ],
        "doc_id long, text string",
    )
    out = edit_distance_pairs(
        docs, title_len=12, prefix_len=2, max_dist=3, bucket_cap=None
    )
    got = {(r.key_a, r.key_b): r.edit_dist for r in out.collect()}
    assert got[(1, 2)] == 0  # 'fox'->'fax' is beyond char 12; titles equal
    assert got[(1, 3)] == 1
    assert got[(2, 3)] == 1
    assert all(d <= 3 for d in got.values())
    assert not any(5 in k or 4 in k for k in got)


def test_edit_distance_pairs_broadcasts_only_bounded_sides(spark, monkeypatch):
    """Every side edit_distance_pairs broadcasts has at most as many rows
    as the input; with ``BROADCAST_MAX_ROWS`` below that count the plan
    carries no broadcast hint and the pairs are the same."""
    from gos2_spark.pipeline import graph
    from gos2_spark.pipeline.dedup import edit_distance_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fax jumps"),
            (3, "the quack brown fox"),
            (4, "the quick brown fox"),
            (5, "completely different text"),
        ],
        "doc_id long, text string",
    )

    def run():
        out = edit_distance_pairs(docs, title_len=12, prefix_len=2, max_dist=3)
        plan = out._jdf.queryExecution().analyzed().toString().lower()
        return sorted(tuple(r) for r in out.collect()), "broadcast" in plan

    hinted_rows, hinted = run()
    monkeypatch.setattr(graph, "BROADCAST_MAX_ROWS", 4)
    rows, hint = run()
    assert hinted and not hint
    assert rows == hinted_rows
    assert (1, 3, 1) in rows and (1, 4, 0) in rows


def test_edit_distance_length_lower_bound(spark):
    """|len(a)-len(b)| <= max_dist prunes nothing that could match."""
    from gos2_spark.pipeline.dedup import edit_distance_pairs

    docs = spark.createDataFrame(
        [(1, "abcdef"), (2, "abc")],  # length gap 3 == true distance
        "doc_id long, text string",
    )
    out = edit_distance_pairs(docs, title_len=12, prefix_len=2, max_dist=3)
    assert [(r.key_a, r.key_b, r.edit_dist) for r in out.collect()] == [(1, 2, 3)]


def test_edit_distance_bucket_cap_drops(spark):
    from gos2_spark.pipeline.dedup import edit_distance_pairs

    docs = spark.createDataFrame(
        [(i, "xx boilerplate") for i in range(10)] + [(100, "yy unique a"), (101, "yy unique b")],
        "doc_id long, text string",
    )
    out = edit_distance_pairs(docs, title_len=12, prefix_len=2, max_dist=3, bucket_cap=5)
    got = {(r.key_a, r.key_b) for r in out.collect()}
    assert got == {(100, 101)}  # over-cap 'xx' block dropped, 'yy' kept


def test_holt_fold_matches_python(spark):
    """The Spark struct-state F.aggregate fold == an explicit Python loop."""
    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    rows = [(1, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, value double")
    sts = F.transform(
        F.sort_array(F.collect_list(F.struct("event_id", "value"))),
        lambda e: F.struct(e.getField("value").alias("l"), F.lit(0.0).alias("b")),
    )
    g = df.groupBy("user_id").agg(sts.alias("sts"), F.count("*").alias("n"))

    def step(acc, x):
        lv, bv, xv = acc.getField("l"), acc.getField("b"), x.getField("l")
        l_new = xv * F.lit(0.25) + (lv + bv) * F.lit(0.75)
        b_new = (xv * F.lit(0.25) + (lv + bv) * F.lit(0.75) - lv) * F.lit(0.125) + bv * F.lit(0.875)
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    st = F.aggregate(
        F.slice("sts", 2, F.size("sts") - 1), F.element_at("sts", 1), step
    )
    row = g.select(st.alias("st")).collect()[0]["st"]
    l, b = vals[0], 0.0
    for x in vals[1:]:
        ln = x * 0.25 + (l + b) * 0.75
        bn = (x * 0.25 + (l + b) * 0.75 - l) * 0.125 + b * 0.875
        l, b = ln, bn
    assert row["l"] == pytest.approx(l, rel=0) and row["b"] == pytest.approx(b, rel=0)


def test_dedup_materialization_honors_checkpoint_dir(spark, tmp_path):
    """The tokenize-once materializations in the dedup family must route
    through the repo's durability policy (_default_materialize): with a
    checkpoint dir configured they take a RELIABLE checkpoint (files on
    disk, survivable on executor loss) instead of the local-only
    localCheckpoint, and results are unchanged."""
    from gos2_spark.pipeline.dedup import (
        containment_join,
        edit_distance_pairs,
        jaccard_join,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "totally different words here now ok"),
        ],
        "doc_id long, text string",
    )
    ckdir = str(tmp_path / "ck")
    with _checkpoint_dir(spark, ckdir):
        pairs = {
            (r.key_a, r.key_b)
            for r in edit_distance_pairs(
                docs, title_len=12, prefix_len=2, max_dist=3
            ).collect()
        }
        jj = jaccard_join(docs, threshold=0.5).collect()
        cj = containment_join(docs, threshold=0.5).collect()
        # the reliable checkpoint actually wrote to the configured dir
        assert _wrote(ckdir), "no reliable checkpoint files written"
    assert (1, 2) in pairs
    assert {(r.key_a, r.key_b) for r in jj} == {(1, 2)}
    assert any(r.key_a == 1 and r.key_b == 2 for r in cj)


@contextlib.contextmanager
def _checkpoint_dir(spark, path):
    sc = spark.sparkContext
    sc.setCheckpointDir(path)
    try:
        yield
    finally:
        # un-set so later tests keep the localCheckpoint default (the
        # scala setter name needs getattr because of the $ in it)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty()
        )


def _wrote(path):
    return any(files for _, _, files in os.walk(path))


def _hex_flow(spark):
    from gos2_spark.spark.hexgrid import hex_flow_accumulation

    cells = spark.createDataFrame(
        [(q, r, (7 * q + 3 * r) % 11) for q in range(3) for r in range(4)],
        "hq long, hr long, elev long",
    )
    return hex_flow_accumulation(cells, max_steps=4)


def _bfs(spark):
    from gos2_spark.pipeline.graph import bfs_hops

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(4)] + [(0, 2), (9, 10)],
        "src long, dst long",
    )
    return bfs_hops(
        edges, spark.createDataFrame([(0,)], "node long"), max_hops=5
    )


def _cc(spark):
    from gos2_spark.pipeline.graph import connected_components

    nodes = spark.range(12).withColumnRenamed("id", "key")
    edges = spark.createDataFrame(
        [(i, i + 3) for i in range(0, 8, 2)], "key_a long, key_b long"
    )
    return connected_components(nodes, edges)


@pytest.mark.parametrize(
    "build",
    [_hex_flow, _bfs, _cc],
    ids=["hex_flow_accumulation", "bfs_hops", "connected_components"],
)
def test_iterative_loops_honor_checkpoint_dir(spark, tmp_path, build):
    """The iterative loops take the same policy: with a checkpoint dir
    configured their rounds write reliable checkpoints there, and the
    rows equal the no-dir run's."""
    want = sorted(build(spark).collect())
    ckdir = str(tmp_path / "ck")
    with _checkpoint_dir(spark, ckdir):
        got = sorted(build(spark).collect())
        assert _wrote(ckdir), "no reliable checkpoint files written"
    assert want and got == want


def _jobs(spark, group, action):
    """Spark jobs ``action()`` launches, tagged by a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_broadcast_bounded_truncates_and_counts_in_one_action(spark):
    """Without a row count, the broadcast gate's count is the one action
    that also materializes the side table's checkpoint: it launches no
    job beyond a plain count's, and the frame it returns is cut from the
    caller's lineage."""
    from gos2_spark.pipeline.graph import _broadcast_bounded

    _, per_count = _jobs(spark, "plain-count", spark.range(10).count)
    fresh = spark.range(1000).withColumn("v", F.col("id") % 7)
    out, jobs = _jobs(spark, "broadcast-gate", lambda: _broadcast_bounded(fresh))
    assert jobs == per_count
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "Range" not in plan, plan
    assert out.count() == 1000
