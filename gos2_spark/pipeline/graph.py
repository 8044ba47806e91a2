"""Link-graph PageRank over web domains (host-level authority scoring for
crawl prioritization and quality weighting), and the other iterative
graph operators that share its round discipline.

Scale shape (10^9 domains, 10^11 edges):

* out-degrees are computed ONCE and joined into the edge table up front,
  so each power iteration is exactly one shuffle-join (ranks on src) plus
  one map-side-combined groupBy (contributions on dst);
* an iterative loop whose round reads its state more than once truncates
  its lineage every round through the round helpers below (``_truncate``
  for fixed-count loops, ``_checkpoint_any`` for loops that stop on a
  condition): a local checkpoint without a checkpoint dir, a reliable one
  with it — lineage stays O(1) deep (same policy as
  pipeline.dedup.minhash_dedup_groups); ``sssp_relax``, whose round reads
  it once, runs unrolled (see ``_truncate``);
* dangling mass (nodes with no out-edges) is folded into the contribution
  aggregate as a broadcast 1-row total (flowed mass == sum(contrib)) and
  redistributed uniformly — never a join, never a driver collect: with no
  checkpoint dir an iteration launches no job at all;
* iteration count is fixed (training-pipeline PageRank runs a handful of
  iterations, not to convergence), which keeps the whole computation a
  statically unrollable DAG — the DuckDB oracle replays it as chained CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _reset_huge_stats(df: DataFrame, bit_limit: int = 128) -> DataFrame:
    """Clamp runaway size estimates on a checkpointed DataFrame.

    ``Dataset.checkpoint``/``localCheckpoint`` copy the source plan's
    COMPUTED sizeInBytes onto the new LogicalRDD
    (LogicalRDD.rewriteStatsAndConstraints). In an iterative algorithm
    whose round plan references the previous round's result k times, that
    estimate is raised to the k-th power every round — pure join-size
    products, no data behind them — until Catalyst's stats visitor
    literally overflows BigInteger ("BigInteger would overflow supported
    range", seen in DBSCAN's component loop at sf0.1). Real sizes
    (checkpoint of a scanned/materialized relation) are tiny and useful
    for broadcast decisions, so keep them; only when the estimate is an
    astronomical product (> ``bit_limit`` bits ~ 3e38 bytes, beyond any
    physical meaning) rebuild the frame from the already-materialized
    internal RDD, which resets stats to the neutral default and stops the
    compounding."""
    try:
        jqe = df._jdf.queryExecution()
        size = int(str(jqe.optimizedPlan().stats().sizeInBytes()))
        if size.bit_length() <= bit_limit:
            return df
        jspark = df.sparkSession._jsparkSession
        new_jdf = jspark.internalCreateDataFrame(
            jqe.toRdd(), df._jdf.schema(), False
        )
        return DataFrame(new_jdf, df.sparkSession)
    except Exception:  # connect mode / API drift: keep the plain checkpoint
        return df


BROADCAST_MAX_ROWS = 4_000_000
# sssp_relax's cost table is ONE partition up to this many edges: 8 rounds
# on 4 cores won up to 3M edges on random graphs, and lost at 4M with every
# node reached (9.9 s vs 7.9 s for hash rounds). More cores move it lower.
SINGLE_PARTITION_MAX_EDGES = 2_000_000


def _default_materialize(spark, eager: bool = True):
    """Per-round lineage truncation for iterative algorithms: RELIABLE
    checkpoint when the SparkContext has a checkpoint dir configured (the
    cluster deployment path — executor loss replays from storage), else
    localCheckpoint (fine on local[*] where executor == driver). Either
    way the result's stats are clamped (see ``_reset_huge_stats``) so
    per-round estimates cannot compound across rounds. ``eager=False``
    makes the local checkpoint lazy; a reliable one is always eager."""
    reliable = spark.sparkContext.getCheckpointDir() is not None

    def _mat(df: DataFrame) -> DataFrame:
        ck = df.checkpoint(eager=True) if reliable else df.localCheckpoint(
            eager=eager
        )
        return _reset_huge_stats(ck)

    return _mat


def _truncate(df: DataFrame) -> DataFrame:
    """One round of a FIXED-COUNT loop (no per-round driver decision):
    without a checkpoint dir a LAZY localCheckpoint cuts the plan and the
    whole round chain materializes in the caller's single action; with
    one, the eager reliable checkpoint. The lazy form launches no job only
    for a plan with no exchange: producing the checkpoint's RDD runs the
    round's shuffle stages, one job each under AQE (a 3-round groupBy/join
    probe launched 2 jobs here with AQE, 3 without).

    A loop whose round reads its state ONCE and joins a bounded broadcast
    should not cut per round (``sssp_relax``): unrolled, its plan grows
    linearly, while each cut re-plans the query and rebuilds the
    broadcast (8 rounds over 1M edges: 6.5 s cut, 1.3-1.6 s unrolled)."""
    return _default_materialize(df.sparkSession, eager=False)(df)


def _checkpoint_any(df: DataFrame, cond=None) -> tuple[DataFrame, bool]:
    """One round of a loop that stops on a condition: the truncated frame,
    and whether any of its rows (matching ``cond``, if given) exists.
    Without a checkpoint dir this is ONE job — the lazy checkpoint is
    materialized by the full-scan count (no limit(1): an early-exit scan
    would leave partitions unmaterialized and the next round would
    recompute them from the pre-checkpoint lineage). On a graph small
    enough that per-job overhead dominates, that halves the per-round
    fixed cost; on a big one the count is a fused scan of data the
    checkpoint writes anyway."""
    ck = _truncate(df)
    probe = ck if cond is None else ck.where(cond)
    return ck, probe.count() > 0


def _broadcast_bounded(df: DataFrame, n: int | None = None) -> DataFrame:
    """``F.broadcast(df)`` while the side table is provably bounded (at
    most ``BROADCAST_MAX_ROWS`` rows), else ``df`` for a shuffle join. A
    checkpointed frame's stats are compound estimates Catalyst cannot
    trust, so the hint is explicit. ``n`` is a row count the caller
    already has. Without it the side table is truncated (``_truncate``)
    and counted: without a checkpoint dir the count is the only action,
    and it also materializes the lazy checkpoint every round then reads."""
    if n is None:
        df = _truncate(df)
        n = df.count()
    return F.broadcast(df) if n <= BROADCAST_MAX_ROWS else df


def _local_contract(sym: DataFrame) -> DataFrame:
    """Per-partition union-find contraction: (key, label) where label is
    the MIN node of the set of nodes provably connected by THIS
    partition's edge subset alone. Any edge partitioning is valid — the
    pass merges only endpoints of edges it actually saw, so every merge
    is real connectivity and the global fixpoint is unchanged; the
    cross-partition remainder graph (relabeled edges with differing
    endpoints) is what the shuffle rounds still have to stitch.

    This is the one imperative per-partition step the engine allows
    itself (union-find has no bounded-round DataFrame form): an
    Arrow-batched mapInPandas whose state is one dict per PARTITION —
    memory is bounded by the partition's distinct endpoints, and the pass
    replaces several full-graph shuffle rounds, which at cluster scale is
    the dominant term (each hash-to-min round is ~4 exchanges + a
    checkpoint barrier over ALL edges)."""
    kt = sym.schema["key_a"].dataType.simpleString()

    def uf(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["key_a"].tolist(), pdf["key_b"].tolist()):
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra == rb:
                    continue
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra  # min-root union: roots stay set minima

        if parent:
            ks = list(parent)
            yield pd.DataFrame({"key": ks, "label": [find(k) for k in ks]})

    from ..spark.functions import dropping_zip_importers

    return sym.where(F.col("key_a") < F.col("key_b")).mapInPandas(
        dropping_zip_importers(uf), schema=f"key {kt}, label {kt}"
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "key",
    src_col: str = "key_a",
    dst_col: str = "key_b",
    max_iterations: int = 25,
    initial_labels: DataFrame | None = None,
    edges_in_universe: bool = False,
) -> DataFrame:
    """(key, component): min-node label per connected component.

    ``initial_labels`` (node_col, label), optional: a caller-provided
    pre-contraction. Every row must map a node to the MIN node key of a
    set of nodes the caller KNOWS to be mutually connected (e.g. points
    sharing a cell whose diameter is below the eps of the eps-graph —
    a clique by the triangle inequality). Labels only shrink from there,
    so a valid seed cannot change the fixpoint — it just starts the
    geometric label collapse several rounds in. Each label value must
    itself be a seeded node (true for any min-of-group seeding), or the
    pointer chase would dead-end.

    Hash-to-min rounds (Rastogi et al.), ONE materialization each, fusing
    three label-shrinking steps in a single plan:

    1. **neighbor-min** — every node sees the min label across its graph
       edges (the only step that moves information across the graph);
    2. **stale-pointer chase** — one in-plan ``label := label(label)``
       hop through the previous round's mapping (free shortcuts);
    3. **fragment broadcast** — the min candidate grouped by each node's
       chased root spreads a discovery made at ANY boundary node to the
       WHOLE fragment within the same round, so fragments merge along
       every boundary every round and the distinct-label count drops
       geometrically.

    Step 3 is what makes wide flat graphs converge: without it the
    minimum enters a fragment one graph hop per round (the old
    neighbor-min + pointer-doubling schedule silently exhausted its
    budget on the sf0.1 eps-graph and split 23 true components into 29).

    At the fixpoint labels are equal across every edge and root-stable,
    hence exactly the component minimum; a non-converged exit logs a
    warning instead of passing silently.

    ``edges`` is an UNDIRECTED pair list (symmetrized internally and
    materialized once so upstream candidate generation never re-runs).
    Every round's labels are checkpointed (``_checkpoint_any``: reliable
    when the SparkContext has a checkpoint dir); the ``_changed`` flag
    rides the same checkpoint, so convergence detection is the count that
    materializes it, not a second join.
    """
    mat = _default_materialize(nodes.sparkSession)
    sym = mat(
        edges.select(F.col(src_col).alias("key_a"), F.col(dst_col).alias("key_b"))
        .union(
            edges.select(
                F.col(dst_col).alias("key_a"), F.col(src_col).alias("key_b")
            )
        )
    )
    # Right-size the edge table the rounds re-scan ~2x per round: an
    # upstream union of wide inputs can leave a TINY edge set spread over
    # 64+ partitions, and O(rounds) stages then pay per-task scheduling
    # on every scan. A narrow coalesce (no shuffle, no re-checkpoint)
    # caps partitions at ~1 per 100k edges; big graphs keep full width.
    label_tgt = None
    try:
        parts = sym.rdd.getNumPartitions()
        if parts > 8:
            tgt = max(2, min(parts, int(sym.count() // 100_000) + 1))
            if tgt < parts:
                sym = sym.coalesce(tgt)
                # labels are <= |nodes| <= 2|edges| rows: right-size every
                # round's checkpoint the same way, or O(rounds) stages pay
                # 32-task scheduling to move a few thousand labels
                label_tgt = tgt
    except Exception:
        pass
    keyed_nodes = nodes.select(F.col(node_col).alias("key"))
    if initial_labels is not None:
        # QUOTIENT pre-pass: a valid clique seeding lets the whole
        # machinery run on the quotient graph instead of merely seeding
        # labels over the full edge set. Relabel every edge endpoint to
        # its seed label, drop intra-clique edges, dedup to distinct
        # label pairs, and recurse on the (typically orders-of-magnitude
        # smaller) quotient: a dense region's clique edges collapse to
        # one node before any round — or the Python union-find
        # contraction — ever touches them. Same fixpoint: labels are
        # group-min node keys, components of the quotient are exactly
        # the original components' label sets, and min-over-labels =
        # min-over-nodes because every label is itself a member node.
        # Unseeded nodes keep their own key as label, so partial
        # seedings remain valid. A key seeded more than once keeps its
        # MIN label (every seed row names a clique the key belongs to, so
        # the min is as valid as any): one lmap row per key, or each
        # duplicate seed row would become a duplicate output row.
        lmap = _truncate(
            keyed_nodes.join(
                initial_labels.groupBy(F.col(node_col).alias("key")).agg(
                    F.min("label").alias("label")
                ),
                "key",
                "left",
            ).select(
                "key", F.coalesce(F.col("label"), F.col("key")).alias("label")
            )
        )
        # broadcast the label map while provably bounded; the count also
        # materializes the checkpoint
        n_lmap = lmap.count()
        ma = _broadcast_bounded(
            lmap.select(F.col("key").alias("key_a"), F.col("label").alias("_la")),
            n_lmap,
        )
        mb = _broadcast_bounded(
            lmap.select(F.col("key").alias("key_b"), F.col("label").alias("_lb")),
            n_lmap,
        )
        q_edges = (
            sym.join(ma, "key_a")
            .join(mb, "key_b")
            .where(F.col("_la") < F.col("_lb"))
            .select(F.col("_la").alias("key_a"), F.col("_lb").alias("key_b"))
            .distinct()
        )
        q_nodes = lmap.select(F.col("label").alias("key")).distinct()
        comps_q = connected_components(
            q_nodes,
            q_edges,
            max_iterations=max_iterations,
            edges_in_universe=True,
        )
        return lmap.join(
            comps_q.select(F.col("key").alias("label"), "component"), "label"
        ).select("key", "component")
    # LOCAL CONTRACTION pre-pass: one union-find sweep per partition
    # collapses everything each partition's edges connect, and the
    # shuffle rounds below run on the (much smaller) cross-partition
    # remainder graph. Edges are filtered to the node universe first —
    # the loop's inner joins did that implicitly, and the contraction
    # must not merge through endpoints the caller excluded.
    # ``edges_in_universe=True`` skips the two semi-joins when the
    # caller constructed the edges from the node set itself (they would
    # re-execute the caller's node plan against every edge).
    if edges_in_universe:
        sym_f = sym
    else:
        in_nodes_a = keyed_nodes.select(F.col("key").alias("key_a"))
        in_nodes_b = keyed_nodes.select(F.col("key").alias("key_b"))
        sym_f = sym.join(in_nodes_a, "key_a", "semi").join(
            in_nodes_b, "key_b", "semi"
        )
    # a node whose edges straddle partitions gets one mapping row PER
    # partition; keep the min — a single-valued mapping is all the
    # stitching needs, because every local merge is backed by physical
    # edges in sym and e2 relabels ALL of them (the dropped label's
    # group stays reachable through those edges)
    contract_map = mat(
        _local_contract(sym_f)
        .groupBy("key")
        .agg(F.min("label").alias("label"))
    )
    ma = contract_map.select(
        F.col("key").alias("_ka"), F.col("label").alias("_la")
    )
    mb = contract_map.select(
        F.col("key").alias("_kb"), F.col("label").alias("_lb")
    )
    e2 = (
        sym.join(ma, F.col("key_a") == F.col("_ka"))
        .join(mb, F.col("key_b") == F.col("_kb"))
        .where(F.col("_la") != F.col("_lb"))
        .select(F.col("_la").alias("key_a"), F.col("_lb").alias("key_b"))
        .distinct()
    )
    sym = mat(e2)
    # seed labels: the distinct label set of the (checkpointed, small)
    # contraction map. Left LAZY on purpose — round 1 references it 3x
    # (neighbor-min / chase mapping / candidate self) but each
    # reference is one tiny exchange over the checkpointed map, cheaper
    # than the extra checkpoint job a mat() here costs; _apply
    # truncates the lineage at the end of round 1 anyway.
    labels = (
        contract_map.select(F.col("label").alias("key"))
        .distinct()
        .withColumn("label", F.col("key"))
    )

    def _apply(new_labels: DataFrame) -> tuple[DataFrame, bool]:
        if label_tgt is not None:
            new_labels = new_labels.coalesce(label_tgt)
        m, changed = _checkpoint_any(new_labels, F.col("_changed"))
        return m.drop("_changed"), changed

    # One stale-pointer chase step (label of label, through the OLD
    # checkpointed mapping) rides each round in-plan. More in-plan
    # doubling (M^8) was measured SLOWER end-to-end: the fragment
    # broadcast below already spreads discoveries fragment-wide per
    # round, so extra chase joins only add shuffle stages (3 hops: 7
    # joins/round, 7.5s on the sf0.1 eps-graph; 1 hop: 5.6s; the round
    # count barely moves).
    def _chase_mapping(m: DataFrame) -> DataFrame:
        nxt = m.select(F.col("_lk").alias("_k2"), F.col("_ll").alias("_l2"))
        return m.join(nxt, m["_ll"] == nxt["_k2"], "left").select(
            "_lk", F.coalesce(F.col("_l2"), F.col("_ll")).alias("_ll")
        )

    def _one_round(cur: DataFrame, carry: tuple = ()) -> DataFrame:
        # ONE hash-to-min round (the docstring's three steps) as a lazy
        # plan over `cur` (key, label, *carry); `carry` columns ride
        # through untouched, and the chase takes up to 2 stale-pointer
        # steps through the in-plan composed mapping. Without step 3 the
        # sf0.1 eps-graph ran 25+ rounds without converging.
        mk = _chase_mapping(
            cur.select(F.col("key").alias("_lk"), F.col("label").alias("_ll"))
        )
        neighbor_min = (
            cur.join(sym, cur["key"] == sym["key_b"])
            .groupBy("key_a")
            .agg(F.min("label").alias("nbr_label"))
        )
        cand = (
            cur.join(
                neighbor_min, cur["key"] == neighbor_min["key_a"], "left"
            )
            .join(mk, cur["label"] == mk["_lk"], "left")
            .select(
                "key",
                *carry,
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                    F.coalesce(F.col("_ll"), F.col("label")),
                ).alias("_cand"),
                F.coalesce(F.col("_ll"), F.col("label")).alias("_root"),
            )
        )
        fmin = cand.groupBy("_root").agg(F.min("_cand").alias("_fmin"))
        return cand.join(fmin, "_root").select(
            "key", F.least(F.col("_cand"), F.col("_fmin")).alias("label"), *carry
        )

    # One round per materialization: fusing two rounds into one plan
    # (labels only shrink, so round(round(L)) is a valid schedule with the
    # same fixpoint) was measured 1.3x SLOWER at 2 and 3.5x at 3 on the
    # sf0.1 eps-graph — Spark re-executes an unmaterialized common subplan
    # once per reference, and each round references its input 3x (neighbor
    # min, chase mapping, candidate self), so k fused rounds run 3^(k-1)
    # copies of the inner round.
    converged = False
    rounds_left = max_iterations
    if sym.isEmpty():
        # every component was partition-local: nothing left to stitch
        converged = True
        rounds_left = 0
    while rounds_left > 0:
        rounds_left -= 1
        new_labels = _one_round(
            labels.withColumn("_old0", F.col("label")), carry=("_old0",)
        )
        labels, changed = _apply(
            new_labels.select(
                "key",
                "label",
                (F.col("label") < F.col("_old0")).alias("_changed"),
            )
        )
        if not changed:
            converged = True
            break
    if not converged:
        import logging

        logging.getLogger(__name__).warning(
            "connected_components: label fixpoint not reached within "
            "max_iterations=%d rounds — labels may be unconverged; raise "
            "the bound for graphs with astronomical diameter.",
            max_iterations,
        )
    # compose: node -> local label -> stitched component; isolated nodes
    # (no edges inside the node universe) keep their own key
    stitched = contract_map.join(
        labels.select(
            F.col("key").alias("_sl"), F.col("label").alias("_comp")
        ),
        contract_map["label"] == F.col("_sl"),
    ).select(F.col("key"), F.col("_comp"))
    return keyed_nodes.join(stitched, "key", "left").select(
        F.col("key"),
        F.coalesce(F.col("_comp"), F.col("key")).alias("component"),
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, rank) after ``iterations`` damped power iterations.

    ``edges`` is a DISTINCT (src, dst) edge list; the node set is the union
    of both endpoints; ranks start uniform at 1/N and sum to 1 after every
    iteration (dangling mass redistributed uniformly).

    Ranks are truncated per iteration (``_truncate``): without it the
    per-iteration dangling-mass aggregate would recompute the whole rank
    lineage from scratch (quadratic total work) and the plan would double
    per iteration.
    """
    mat = _default_materialize(edges.sparkSession)
    # materialize the deduped edge list ONCE: the node-set union, the
    # out-degree join and every iteration otherwise each re-run the
    # caller's edge derivation plus the distinct shuffle (for a corpus
    # co-occurrence graph that is the tokenize + explode of every doc)
    edges = mat(
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).distinct()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = mat(nodes)
    n = nodes.count()
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    # one join up front; every iteration reuses this weighted edge table
    weighted = edges.join(out_deg, "src").select(
        "src", "dst", (1.0 / F.col("out_deg")).alias("w")
    )
    weighted = mat(weighted)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        # the rank table is n rows: while bounded it rides the join as a
        # broadcast, so the big weighted-edge table never shuffles
        r = _broadcast_bounded(ranks, n)
        contrib = (
            weighted.join(r, weighted["src"] == r["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        # dangling mass = 1 - mass that flowed along edges (exact: ranks
        # sum to 1, and each src's edge weights sum to 1, so the flowed
        # mass is just sum(contrib)). Folding it in as a broadcast 1-row
        # aggregate removes the per-iteration driver .collect() round 2
        # ran. The contrib
        # subtree appears in both branches; Catalyst's ReusedExchange
        # makes the second branch a re-read of the same shuffle, not a
        # recompute.
        total = contrib.agg(F.sum("contrib").alias("_flowed"))
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(total))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping / n)
                    * (F.lit(1.0) - F.coalesce(F.col("_flowed"), F.lit(0.0)))
                    + damping * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        ranks = _truncate(ranks)
    return ranks


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, hub, authority) after ``iterations`` HITS rounds
    (Kleinberg's hubs-and-authorities — the classic link-analysis
    complement to PageRank for crawl frontier/quality scoring).

    Each half-step is one hash join + one map-side-combined aggregation
    over the distinct edge table; scores are L1-normalized via a
    broadcast single-row total (no driver collect), so per-iteration
    cost is two bounded shuffles. Same per-iteration truncation as
    :func:`pagerank` to keep lineage O(1)."""
    mat = _default_materialize(edges.sparkSession)
    edges = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = mat(nodes)
    edges = mat(edges)

    def _l1(df: DataFrame, col: str) -> DataFrame:
        total = df.agg(F.sum(col).alias("_t"))
        return df.crossJoin(F.broadcast(total)).select(
            "node", (F.col(col) / F.col("_t")).alias(col)
        )

    hubs = nodes.withColumn("hub", F.lit(1.0))
    auth = None
    for _ in range(iterations):
        a_raw = (
            edges.join(hubs, edges["src"] == hubs["node"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("auth"))
            .select(F.col("dst").alias("node"), "auth")
        )
        auth = _truncate(_l1(a_raw, "auth"))
        h_raw = (
            edges.join(auth, edges["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("auth").alias("hub"))
            .select(F.col("src").alias("node"), "hub")
        )
        hubs = _truncate(_l1(h_raw, "hub"))
    out = (
        nodes.join(hubs, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("auth"), F.lit(0.0)).alias("authority"),
        )
    )
    return out


def triangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """(node, degree, n_triangles, clustering_coeff): exact per-node
    triangle counts over the UNDIRECTED simple graph induced by ``edges``
    (self-loops dropped, direction and duplicates collapsed), plus the
    local clustering coefficient 2T / (d(d-1)).

    Plan — the degree-ordered orientation algorithm (the MapReduce
    triangle-counting standard; also how GraphX bounds it):

    1. canonicalize to undirected distinct edges (one exchange);
    2. orient every edge from its lower endpoint to its higher endpoint
       under the TOTAL order (degree, node) — the oriented out-degree is
       then O(sqrt(m)) even for a star graph, so the wedge self-join
       below never explodes on hubs (a hot page with 10^7 inlinks
       produces zero wedges from its own fan-in, instead of 10^14);
    3. wedges = oriented ⋈ oriented on the common lower endpoint with a
       struct-ordered (deg, node) tiebreak so each unordered neighbor
       pair appears once;
    4. triangles = wedges semi-matched against the oriented edge set on
       the (v, w) closing edge — every triangle is found exactly once;
    5. per-node counts via a 3-way explode of the triangle corners.

    The clustering coefficient divides by the UNDIRECTED degree, so
    isolated-direction duplicates in the input never inflate it.
    """
    a, b = F.col(src_col), F.col(dst_col)
    und = (
        edges.where(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("deg_b"))
    ranked = und.join(da, "a").join(db, "b")
    ka = F.struct(F.col("deg_a").alias("d"), F.col("a").alias("n"))
    kb = F.struct(F.col("deg_b").alias("d"), F.col("b").alias("n"))
    oriented = ranked.select(
        F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(ka < kb, kb).otherwise(ka).alias("vkey"),
    )
    e1 = oriented.select(
        F.col("u"), F.col("v").alias("w1"), F.col("vkey").alias("k1")
    )
    e2 = oriented.select(
        F.col("u"), F.col("v").alias("w2"), F.col("vkey").alias("k2")
    )
    wedges = e1.join(e2, "u").where(F.col("k1") < F.col("k2"))
    closing = oriented.select(
        F.col("u").alias("w1"), F.col("v").alias("w2")
    )
    tris = wedges.join(closing, ["w1", "w2"]).select("u", "w1", "w2")
    corner_counts = (
        tris.select(F.explode(F.array("u", "w1", "w2")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    d = F.col("degree").cast("double")
    return deg.join(corner_counts, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            2.0 * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
            / (d * (d - 1.0)),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    max_hops: int = 20,
) -> DataFrame:
    """(node, hops): multi-source BFS shortest hop distance over a directed
    edge table — crawl-frontier depth, link-distance-from-seeds quality
    signals, reachability gating.

    Level-synchronous frontier expansion: round ``h`` joins the current
    frontier against the edge table (ONE shuffle join keyed on the source
    column) and anti-joins the visited set to keep only first-time nodes,
    which become both the ``hops = h`` output rows and the next frontier.
    Hop labels are final the round a node is first reached (BFS invariant),
    so no min-agg or re-labelling round is needed.

    Scale shape (10^9 nodes, 10^11 edges):

    * the per-round cost is O(edges out of the frontier), not O(graph) —
      the anti-join against visited keys keeps every explored node out of
      all later rounds;
    * parallel edges are collapsed once up front (``distinct`` on the
      projected edge pair) so a hot page linked 10^4 times costs one row
      per round, not 10^4;
    * every round materializes only the (bounded) frontier and the visited
      set — lineage stays O(1) deep via the same reliable-checkpoint-or-
      localCheckpoint policy as ``connected_components``;
    * termination is a fixpoint test on the materialized frontier (empty ->
      done), one cheap driver scalar per round, same as the CC fixpoint.

    The fixed ``max_hops`` cap makes the computation statically unrollable,
    so a recursive-CTE oracle capped at the same depth replays it exactly.
    """
    # materialize the deduped edge projection ONCE: every level's plan
    # would otherwise re-run the caller's edge derivation AND the
    # distinct shuffle (measured: the dominant cost of small-graph BFS)
    e = _broadcast_bounded(
        edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
        .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .distinct()
    )
    dist = (
        sources.select(F.col(node_col).alias(node_col))
        .distinct()
        .withColumn("hops", F.lit(0).cast("int"))
    )
    return _bfs_levels(e, dist, [node_col], max_hops)


def _bfs_levels(
    e: DataFrame, dist: DataFrame, keys: list[str], max_hops: int
) -> DataFrame:
    """The level loop of ``bfs_hops`` and ``closeness_from_seeds``.

    ``e`` is the (_s, _d) edge table and ``dist`` the hop-0 rows
    (*keys, hops). The last key is the node; leading keys (closeness's
    ``seed``) tag independent searches that ride the same keyed join and
    anti-join. Each level is ONE job — the new frontier's checkpoint
    fused with its emptiness test — and the visited set truncates with
    no job, since no driver decision reads it.
    """
    *tag, node = keys
    frontier = dist.select(*keys)
    for h in range(1, max_hops + 1):
        reached = (
            frontier.join(e, frontier[node] == e["_s"])
            .select(*tag, F.col("_d").alias(node))
            .distinct()
        )
        new, nonempty = _checkpoint_any(
            reached.join(dist, keys, "left_anti").withColumn(
                "hops", F.lit(h).cast("int")
            )
        )
        if not nonempty:
            break
        dist = _truncate(dist.union(new))
        frontier = new.select(*keys)
    return dist


def sssp_relax(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    node_col: str = "node",
    rounds: int = 8,
) -> DataFrame:
    """(node, cost): multi-source shortest path cost after ``rounds``
    Bellman-Ford relaxation sweeps — weighted link distance, crawl cost
    budgeting, latency-bounded reachability.

    Each sweep is min-plus over ONE read of the cost table: a left join
    with the edges emits every node's standing cost and ``cost + w`` at
    each out-neighbour (``inline`` of a two-struct array), and a min-agg
    keyed on the node merges them. After ``k`` sweeps every node whose
    shortest path uses <= k edges holds its final cost (negative and null
    weights are dropped; a null node is no node).

    Scale shape: the edges are truncated and counted once, the count
    gating their broadcast; the sweeps form one linear plan with no
    checkpoint, in which ``ReuseExchange`` builds the broadcast once. Up
    to ``SINGLE_PARTITION_MAX_EDGES`` the cost table is one partition,
    which already satisfies the min-agg's clustering, so the sweeps add
    no exchange; above it each sweep hash-exchanges its messages. The
    FIXED round count keeps the computation a statically unrollable DAG,
    so a chained-CTE oracle replays it exactly, and integer weights
    compare exactly cross-engine.
    """
    e = _truncate(
        edges.select(
            F.col(src_col).alias("_s"),
            F.col(dst_col).alias("_d"),
            F.col(weight_col).alias("_w"),
        ).where(F.col("_w") >= 0)
    )
    n = e.count()
    e = _broadcast_bounded(e, n)
    dist = sources.select(F.col(node_col).alias(node_col)).distinct().select(
        node_col, F.lit(0).cast("long").alias("cost")
    )
    if n <= SINGLE_PARTITION_MAX_EDGES:
        dist = dist.coalesce(1)
    msgs = F.inline(F.array(
        F.struct(node_col, "cost"),
        F.struct(
            F.col("_d").alias(node_col),
            (F.col("cost") + F.col("_w")).cast("long").alias("cost"),
        ),
    ))
    for _ in range(rounds):
        dist = dist.join(e, F.col(node_col) == F.col("_s"), "left").select(
            msgs
        ).groupBy(node_col).agg(F.min("cost").alias("cost"))
    return dist.where(F.col(node_col).isNotNull())


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 3,
) -> DataFrame:
    """(node, label, community_size): synchronous label-propagation
    community detection over an undirected view of the edge table —
    topic/host-cluster discovery on link graphs, near-dup family grouping
    on similarity graphs.

    Labels start as the node id; each round every node adopts the MODE of
    its neighbors' labels, ties broken by the smallest label, nodes with
    no surviving neighbor keep their own. Synchronous updates + the
    total-order tie-break make every round a pure function of the
    previous labeling — fully deterministic, so a fixed ``rounds`` makes
    the whole computation a statically unrollable DAG that a chained-CTE
    oracle replays exactly (classic async LPA is order-dependent and
    therefore unverifiable; this is the deterministic variant).

    Scale shape (10^9 nodes, 10^11 edges): per round ONE shuffle join
    (labels onto edge sources) + one map-side-combined (node, label)
    count + one keyed max-by rank — all co-partitionable on the node key;
    lineage truncates per round (``_truncate``). The rank uses a
    two-column max-struct agg, not a window, so a hub node's votes
    aggregate tree-wise instead of funneling one partition.
    """
    mat = _default_materialize(edges.sparkSession)
    e0 = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).where(F.col(src_col) != F.col(dst_col))
    e = mat(e0.union(e0.select(F.col("_d"), F.col("_s"))).distinct())
    nodes = e.select(F.col("_s").alias("node")).distinct()
    labels = mat(nodes.withColumn("label", F.col("node")))
    for _ in range(rounds):
        msgs = labels.join(e, labels["node"] == e["_s"]).select(
            F.col("_d").alias("node"), "label"
        )
        votes = msgs.groupBy("node", "label").agg(F.count("*").alias("_c"))
        # mode with min-label tie-break == max over (count, -label):
        # aggregate a struct instead of ranking a window
        best = votes.groupBy("node").agg(
            F.max(F.struct(F.col("_c"), (-F.col("label")).alias("_nl"))).alias(
                "_b"
            )
        ).select("node", (-F.col("_b._nl")).alias("_new"))
        labels = _truncate(
            labels.join(best, "node", "left").select(
                "node", F.coalesce("_new", "label").alias("label")
            )
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
    return labels.join(sizes, "label").select("node", "label", "community_size")


def kcore(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, core_deg): iterative k-core peeling over an undirected view
    of the edge table — the standard dense-subgraph extractor (spam-farm
    and link-ring detection on host graphs, keeping only well-embedded
    nodes of a similarity graph).

    Each round recomputes degrees within the surviving subgraph (both
    endpoints still active) and drops nodes with degree < ``k``. A FIXED
    round count keeps the computation statically unrollable for the
    chained-CTE oracle; with ``rounds`` >= the peel depth the result is
    the exact k-core (peeling converges monotonically — once stable,
    further rounds are no-ops).

    Scale shape: per round two semi-joins of the edge table against the
    (shrinking) active set plus one map-side-combined degree count, all
    keyed on node ids; the active set only shrinks, so per-round cost is
    bounded by the surviving subgraph, and lineage truncates per round.
    """
    e0 = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).where(F.col(src_col) != F.col(dst_col))
    e = _default_materialize(edges.sparkSession)(
        e0.union(e0.select(F.col("_d"), F.col("_s"))).distinct()
    )
    active = e.select(F.col("_s").alias("node")).distinct()
    deg = None
    for _ in range(rounds):
        ea = e.join(
            active.select(F.col("node").alias("_s")), "_s", "left_semi"
        ).join(active.select(F.col("node").alias("_d")), "_d", "left_semi")
        deg = ea.groupBy(F.col("_s").alias("node")).agg(
            F.count("*").alias("core_deg")
        )
        active = _truncate(deg.where(F.col("core_deg") >= k).select("node"))
    ea = e.join(
        active.select(F.col("node").alias("_s")), "_s", "left_semi"
    ).join(active.select(F.col("node").alias("_d")), "_d", "left_semi")
    return ea.groupBy(F.col("_s").alias("node")).agg(
        F.count("*").alias("core_deg")
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Adamic-Adar link-prediction scores over an undirected graph —
    the standard 'which hosts SHOULD link' ranking a crawl-frontier or
    recommendation pass runs over the host link graph.

        AA(u, v) = sum over common neighbors w of 1 / ln(deg(w))

    for unordered non-adjacent pairs (u < v). A common neighbor has
    deg(w) >= 2 by construction, so ln(deg) > 0 always.

    Exactness: degrees and common-neighbor sets are exact; the score is
    a sum of 1/ln(int) doubles — per-pair neighbor lists are summed in
    a canonical order (sorted by w via sort-before-agg is NOT relied
    on; instead the score is aggregated from exact per-(pair, deg)
    BIGINT multiplicities: sum_d cnt_d / ln(d), with the degree
    histogram per pair bounded by the distinct-degree count — so both
    engines evaluate the identical fixed-order expression).

    Plan: symmetrize+distinct -> degree agg -> wedge self-join on the
    center w (the only shuffle that grows, bounded by sum_w deg(w)^2,
    the same cost envelope as triangle counting) -> per-(pair, deg)
    count -> fixed-order scalar sum -> anti-join existing edges.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
            .where(F.col("a") != F.col("b"))
        )
        .distinct()
    )
    # sym feeds FOUR downstream branches (degree, both wedge sides, the
    # anti-join); materialize once so the scan+distinct doesn't replay
    # per branch (23 -> ~14 exchanges; at scale this is one bounded edge
    # table reused, the same policy as the iterative graph ops)
    sym = _default_materialize(edges.sparkSession)(sym)
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    adj = sym.join(deg, "a").select(
        F.col("a").alias("w"), F.col("b").alias("u"), "deg"
    )
    wedges = (
        adj.alias("l")
        .join(adj.alias("r"), "w")
        .where(F.col("l.u") < F.col("r.u"))
        .select(
            F.col("l.u").alias("u"),
            F.col("r.u").alias("v"),
            F.col("l.deg").alias("wdeg"),
        )
    )
    # exact per-(pair, center-degree) multiplicities, then ONE
    # deterministic-order scalar reduction: terms ordered by degree via a
    # packed (wdeg << 32 | cnt) BIGINT and summed with a LEFT FOLD from
    # 0.0 — since 0.0 + x == x in IEEE, the association equals DuckDB's
    # list_reduce over the same sorted list, so the float result is
    # bit-identical cross-engine.
    hist = wedges.groupBy("u", "v", "wdeg").agg(F.count("*").alias("cnt"))
    packed = (
        F.shiftleft(F.col("wdeg").cast("long"), 32) + F.col("cnt")
    )
    per_pair = hist.groupBy("u", "v").agg(
        F.sort_array(F.collect_list(packed)).alias("_h"),
        F.sum("cnt").alias("common_neighbors"),
    )
    aa = F.aggregate(
        F.col("_h"),
        F.lit(0.0),
        lambda acc, v: acc
        + v.bitwiseAND(F.lit(4294967295)).cast("double")
        / F.log(F.shiftright(v, 32).cast("double")),
    )
    scored = per_pair.select(
        "u", "v", "common_neighbors", aa.alias("aa_score")
    )
    existing = sym.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).where(F.col("u") < F.col("v"))
    return scored.join(existing, ["u", "v"], "left_anti")


def personalized_pagerank(
    edges: DataFrame,
    seed,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Personalized PageRank: the teleport vector (and the dangling
    mass) concentrates on ``seed`` instead of spreading uniformly — the
    'importance relative to THIS host' ranking behind related-site and
    crawl-prioritization queries.

        r'(v) = (1-d) * [v == seed] + d * (sum_in contribs
                                           + dangling * [v == seed])

    Same plan shape as ``pagerank`` (one weighted edge table reused
    across iterations, per-iteration truncation, dangling mass folded
    in as a broadcast 1-row aggregate — no driver collect)."""
    mat = _default_materialize(edges.sparkSession)
    edges = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = mat(nodes)
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    weighted = edges.join(out_deg, "src").select(
        "src", "dst", (1.0 / F.col("out_deg")).alias("w")
    )
    weighted = mat(weighted)

    is_seed = (F.col("node") == F.lit(seed)).cast("double")
    ranks = nodes.withColumn("rank", is_seed)
    for _ in range(iterations):
        contrib = (
            weighted.join(ranks, weighted["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        total = contrib.agg(F.sum("contrib").alias("_flowed"))
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(total))
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * is_seed
                    + F.lit(damping)
                    * (F.lit(1.0) - F.coalesce(F.col("_flowed"), F.lit(0.0)))
                    * is_seed
                    + damping * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        ranks = _truncate(ranks)
    return ranks


def closeness_from_seeds(
    edges: DataFrame,
    seed_ids: list[int],
    max_hops: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, n_seeds_reached, total_hops, harmonic_e9, closeness):
    seed-anchored closeness / harmonic centrality — 'how close is every
    node to the curated seed set' (link-distance quality prior: pages
    near trusted hubs rank up, the TrustRank-style counterpart of
    PageRank's global prior).

    One level-synchronous BFS per seed (``bfs_hops``, the proven
    frontier/anti-join plan) over the directed edge table; the per-seed
    hop tables union (k·nodes rows, k = |seeds| is small and literal)
    into ONE node-keyed aggregation:

    - ``total_hops``: exact BIGINT sum of hop distances to the seeds
      that reach the node,
    - ``harmonic_e9``: harmonic centrality Σ 1/hops snapped per-seed to
      the 1e-9 integer grid BEFORE summation (the BM25 determinism
      trick) — invariant to partitioning and float order,
    - ``closeness``: n_seeds_reached / total_hops, one final division
      (the classic closeness normalization restricted to the seed set;
      0.0 when only hop-0 self rows reached the node).

    Scale shape: ONE seed-tagged level-synchronous BFS for all k seeds
    (frontier and visited keyed by (seed, node) — each seed's expansion
    is independent under the keyed join/anti-join, so the hop labels are
    identical to k sequential passes), O(edges out of the union
    frontier) per round with per-round lineage truncation; the hop
    table is k-bounded per node.
    """
    from ..spark.session import literal_frame

    e = _broadcast_bounded(
        edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
        .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .distinct()
    )
    dist = literal_frame(
        edges.sparkSession,
        [(int(s), int(s), 0) for s in seed_ids],
        "seed long, node long, hops int",
    )
    dist = _bfs_levels(e, dist, ["seed", "node"], max_hops)
    allh = dist.select("node", "hops")
    inv_e9 = F.when(
        F.col("hops") > 0,
        F.round(F.lit(1e9) / F.col("hops").cast("double"), 0).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    agg = allh.select("node", "hops", inv_e9.alias("inv_e9")).groupBy(
        "node"
    ).agg(
        F.count("*").alias("n_seeds_reached"),
        F.sum("hops").cast("long").alias("total_hops"),
        F.sum("inv_e9").alias("harmonic_e9"),
    )
    closeness = F.when(
        F.col("total_hops") > 0,
        F.col("n_seeds_reached").cast("double")
        / F.col("total_hops").cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "node",
        "n_seeds_reached",
        "total_hops",
        "harmonic_e9",
        F.round(closeness, 9).alias("closeness"),
    )


def ktruss_edges(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(a, b, support): the k-truss of an undirected graph — edges whose
    every survivor round keeps triangle support >= k-2 (every edge in a
    k-truss closes at least k-2 triangles within the truss). The
    triangle-density sibling of k-core: where k-core certifies degree,
    k-truss certifies MUTUAL embedding, the stronger spam-farm /
    community-core extractor (a star survives k-core but has zero
    triangles).

    Each round: (1) triangle support per surviving edge via one wedge
    join of the symmetric adjacency against itself + one semi-join
    closure check, all equi-joins on node keys; (2) drop edges below
    k-2. A FIXED round count keeps the computation statically
    unrollable for the chained-CTE oracle (peeling is monotone — once
    stable, extra rounds are no-ops, same contract as ``kcore``).

    All counts BIGINT; output is the canonical a < b edge list with the
    final-round support.
    """
    e0 = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).where(F.col(src_col) != F.col(dst_col))
    und = _default_materialize(edges.sparkSession)(
        e0.select(
            F.least("_s", "_d").alias("a"), F.greatest("_s", "_d").alias("b")
        ).distinct()
    )
    def _support(truss):
        # wedges around each edge (a,b): common neighbors w with
        # adj(a,w) and adj(b,w) both present in the surviving subgraph
        adj = truss.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            truss.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        wa = adj.select(F.col("u").alias("a"), F.col("v").alias("w"))
        wb = adj.select(F.col("u").alias("b"), F.col("v").alias("w"))
        tri = truss.join(wa, "a").join(wb, ["b", "w"])
        return tri.groupBy("a", "b").agg(F.count("*").alias("support"))

    for _ in range(rounds):
        sup = _support(und)
        und = _truncate(
            und.join(sup, ["a", "b"], "left")
            .where(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
            .select("a", "b")
        )
    # report support within the FINAL truss (post-drop), not the
    # pre-drop round's count
    return und.join(_support(und), ["a", "b"], "left").select(
        "a", "b", F.coalesce(F.col("support"), F.lit(0)).alias("support")
    )


def graph_mixing_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """One-row directed-graph mixing profile over distinct edges:

    - ``reciprocity``: fraction of directed edges whose reverse edge
      also exists (link-exchange / mutual-citation screen) — one
      self-semi-join, exact integer counts;
    - ``assortativity``: Pearson correlation of (out-degree(src),
      in-degree(dst)) across edges (Newman's degree assortativity, the
      directed out-in variant): hubs-link-hubs > 0, hubs-link-leaves
      < 0. All sufficient statistics (Σdu, Σdv, Σdu², Σdv², Σdu·dv and
      the edge count) are exact BIGINTs from one aggregation over the
      degree-joined edge table; r is ONE fixed float expression.

    Plan: distinct edges, two degree aggregations joined back (both
    broadcastable at host-graph cardinality), one global agg. No
    quadratic pass anywhere.
    """
    e = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .where(F.col(src_col) != F.col(dst_col))
        .distinct()
    )
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    recip = e.join(rev, ["s", "d"], "left_semi").select(
        F.lit(1).alias("one")
    )
    out_deg = e.groupBy("s").agg(F.count("*").alias("du"))
    in_deg = e.groupBy("d").agg(F.count("*").alias("dv"))
    joined = e.join(out_deg, "s").join(in_deg, "d")
    stats = joined.agg(
        F.count("*").alias("m"),
        F.sum("du").alias("sum_du"),
        F.sum("dv").alias("sum_dv"),
        F.sum(F.col("du") * F.col("dv")).alias("sum_dudv"),
        F.sum(F.col("du") * F.col("du")).alias("sum_du2"),
        F.sum(F.col("dv") * F.col("dv")).alias("sum_dv2"),
    )
    n_recip = recip.agg(F.count("*").alias("n_recip"))
    both = stats.crossJoin(F.broadcast(n_recip))
    m = F.col("m").cast("double")
    cov = m * F.col("sum_dudv").cast("double") - F.col("sum_du").cast(
        "double"
    ) * F.col("sum_dv").cast("double")
    var_u = m * F.col("sum_du2").cast("double") - F.col("sum_du").cast(
        "double"
    ) * F.col("sum_du").cast("double")
    var_v = m * F.col("sum_dv2").cast("double") - F.col("sum_dv").cast(
        "double"
    ) * F.col("sum_dv").cast("double")
    r = F.when(
        (var_u > 0.0) & (var_v > 0.0), cov / F.sqrt(var_u * var_v)
    ).otherwise(F.lit(0.0))
    return both.select(
        "m",
        "n_recip",
        "sum_du",
        "sum_dv",
        "sum_dudv",
        "sum_du2",
        "sum_dv2",
        F.round(F.col("n_recip").cast("double") / m, 9).alias("reciprocity"),
        F.round(r, 9).alias("assortativity"),
    )


def neighbor_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Jaccard neighbor-overlap link prediction over an undirected
    graph — the set-overlap sibling of ``adamic_adar``:

        J(u, v) = |N(u) & N(v)| / |N(u) | N(v)|

    for unordered NON-adjacent pairs (u < v) with at least one common
    neighbor. The union never needs a second pass:
    |union| = deg(u) + deg(v) - |common|.

    Exactness: common-neighbor counts and degrees are exact BIGINTs from
    the wedge join; the score is one final division — bit-identical
    cross-engine.

    Plan: symmetrize+distinct -> degree agg -> wedge self-join on the
    center (bounded by sum_w deg(w)^2, the triangle-counting envelope)
    -> one count per pair -> two degree hash joins -> anti-join existing
    edges. No all-pairs product anywhere.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
            .where(F.col("a") != F.col("b"))
        )
        .distinct()
    )
    sym = _default_materialize(edges.sparkSession)(sym)
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    adj = sym.select(F.col("a").alias("w"), F.col("b").alias("u"))
    wedges = (
        adj.alias("l")
        .join(adj.alias("r"), "w")
        .where(F.col("l.u") < F.col("r.u"))
        .select(F.col("l.u").alias("u"), F.col("r.u").alias("v"))
    )
    common = wedges.groupBy("u", "v").agg(
        F.count("*").alias("common_neighbors")
    )
    du = deg.select(F.col("a").alias("u"), F.col("deg").alias("_du"))
    dv = deg.select(F.col("a").alias("v"), F.col("deg").alias("_dv"))
    scored = (
        common.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            (
                F.col("_du") + F.col("_dv") - F.col("common_neighbors")
            ).alias("union_neighbors"),
        )
    )
    scored = scored.withColumn(
        "jaccard",
        F.round(
            F.col("common_neighbors").cast("double")
            / F.col("union_neighbors").cast("double"),
            9,
        ),
    )
    existing = sym.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).where(F.col("u") < F.col("v"))
    return scored.join(existing, ["u", "v"], "left_anti")


def katz_centrality(
    edges: DataFrame,
    iterations: int = 3,
    alpha: float = 0.125,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Katz centrality after ``iterations`` truncated power steps —
    the walk-counting member of the centrality family (PageRank
    normalizes by out-degree; Katz counts ALL inbound walks, attenuated
    by alpha per hop):

        x_0 = 1;   x_{t+1}(i) = 1 + alpha * sum_{j -> i} x_t(j)

    i.e. the degree-unnormalized truncation of (I - alpha*A^T)^-1 * 1.
    ``alpha`` should be < 1/lambda_max for the full series to converge;
    the fixed truncation used here is deterministic regardless.

    Exactness: with a binary alpha (default 1/8) every update is one
    multiply-add chain over exact dyadic doubles — the oracle's unrolled
    chained-CTE replay is bit-identical. Plan: one hash join + one
    map-side-combined aggregation per iteration on a reused edge table
    (the pagerank iteration shape), never a driver loop.
    """
    mat = _default_materialize(edges.sparkSession)
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).distinct()
    e = mat(e)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = mat(nodes)
    x = nodes.withColumn("katz", F.lit(1.0))
    a = float(alpha)
    for _ in range(iterations):
        inc = (
            e.join(x, e["src"] == x["node"])
            .groupBy("dst")
            .agg(F.sum("katz").alias("_in"))
        )
        x = (
            nodes.join(inc, nodes["node"] == inc["dst"], "left")
            .select(
                "node",
                (
                    F.lit(1.0)
                    + F.lit(a) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("katz"),
            )
        )
        x = _truncate(x)
    return x


def eigenvector_centrality(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Eigenvector centrality by truncated power iteration with the
    normalization DEFERRED to the end:

        x_0 = 1;   x_{t+1}(i) = sum_{j -> i} x_t(j);
        score = x_T / ||x_T||_2

    Keeping the iteration unnormalized makes every intermediate an exact
    BIGINT (t-step inbound-walk counts), so unlike a per-step-normalized
    power method there is NO float accumulated in engine-dependent order
    — the only floats are one division and one sqrt at the very end, and
    the direction of x_T is identical to the normalized iterate's.
    Overflow bound: max walk count ~ (max indegree)^T; with the default
    T=4 that is safe to indegree ~10^4 in int64 — cast to DECIMAL(38,0)
    upstream for pathological graphs.

    Plan: one hash join + one map-side-combined agg per iteration over a
    reused distinct edge table (the pagerank/katz shape), one broadcast
    scalar for the norm. Never a driver loop.

    Output: (node, walks, score).
    """
    mat = _default_materialize(edges.sparkSession)
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).distinct()
    e = mat(e)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = mat(nodes)
    x = nodes.withColumn("w", F.lit(1).cast("long"))
    for _ in range(iterations):
        inc = (
            e.join(x, e["src"] == x["node"])
            .groupBy("dst")
            .agg(F.sum("w").alias("_in"))
        )
        x = nodes.join(inc, nodes["node"] == inc["dst"], "left").select(
            "node", F.coalesce(F.col("_in"), F.lit(0)).cast("long").alias("w")
        )
        x = _truncate(x)
    norm = x.agg(F.sum(F.col("w") * F.col("w")).alias("_n2"))
    return (
        x.crossJoin(F.broadcast(norm))
        .select(
            "node",
            F.col("w").alias("walks"),
            F.when(
                F.col("_n2") > 0,
                F.col("w").cast("double")
                / F.sqrt(F.col("_n2").cast("double")),
            ).alias("score"),
        )
    )
