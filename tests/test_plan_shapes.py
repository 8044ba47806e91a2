"""Plan-shape guards for the round-2 driver queries: the scale claims in
their docstrings (codegen-only, bounded exchanges, no Python stages) are
asserted against the actual physical plans so regressions in plan shape
fail CI, not a future 100 TB run.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = entry.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan):
    return len(re.findall(r"Exchange (hash|range)partitioning", plan))


@pytest.mark.parametrize(
    "name",
    [
        "quality_classifier",
        "doc_length_quantiles",
        "data_mix_sample",
        "snapshot_diff",
        "geohash_counts",
        "webmercator_tiles",
        "bpe_token_counts",
        "ngram_contamination",
        "dup_span_coverage",
        "tfidf_top_terms",
        "cms_token_freq",
        "hll_distinct",
        "bloom_delta_gate",
        "bloom_semi_join",
        "gps_speed_outliers",
        "od_matrix",
        "colocation_pairs",
        "triangle_counts",
        "inverted_index_stats",
        "bm25_topk",
        "anchor_text_terms",
        "bigram_logprob",
    ],
)
def test_no_python_stage(spark, name):
    """These queries claim pure-Catalyst execution: no row-at-a-time or
    Arrow Python evaluation anywhere in the plan."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name


@pytest.mark.parametrize("name", ["cell_pyramid", "cell_hotspots"])
def test_only_the_encode_kernel_is_python(spark, name):
    """Cell queries are codegen EXCEPT the one vectorized s2_cellid Arrow
    kernel that encodes the input points — exactly one Arrow stage, and
    it must be the cellid encode."""
    plan = _plan(spark, name)
    arrows = re.findall(r"ArrowEvalPython \[(\w+)", plan)
    # cell_pyramid: just the encode. cell_hotspots: counts are
    # materialized first (encode not in THIS plan), leaving the neighbor
    # explode and the token emit.
    want = {
        "cell_pyramid": ["s2_cellid"],
        "cell_hotspots": ["s2_token", "s2_edge_neighbors"],
    }[name]
    assert sorted(arrows) == sorted(want), (name, arrows)
    assert "BatchEvalPython" not in plan


def test_cell_pyramid_single_wide_exchange(spark):
    """One Generate + one (level, cell) agg: at most the agg exchange and
    the final sort exchange — the ancestor explode must not shuffle."""
    plan = _plan(spark, "cell_pyramid")
    assert _exchanges(plan) <= 2, plan[:1500]
    assert plan.count("Generate") == 1


def test_geohash_counts_single_wide_exchange(spark):
    plan = _plan(spark, "geohash_counts")
    assert _exchanges(plan) <= 2, plan[:1500]


def test_snapshot_diff_no_python_and_bounded_exchanges(spark):
    # full-outer join on the key + final status agg (+ sort)
    plan = _plan(spark, "snapshot_diff")
    assert _exchanges(plan) <= 4, plan[:1500]


def test_bloom_gate_broadcast_only_probe(spark):
    """streaming-safe flat probe inside bloom_semi_join: the probe joins
    must all be broadcasts, never a shuffled join on word_idx."""
    plan = _plan(spark, "bloom_semi_join")
    assert "BroadcastHashJoin" in plan
    assert not re.search(r"Exchange hashpartitioning\(word_idx", plan), (
        plan[:1500]
    )


@pytest.mark.parametrize(
    "name",
    [
        "url_canonical_dedup",
        "host_link_graph",
        "robots_url_gate",
        "char_entropy_stats",
        "zipf_top_tokens",
        "asof_profile_join",
        "gc_destination",
        "gc_midpoints",
        "trajectory_bearings",
        "nearest_city_classify",
        "geo_language_mix",
        "spatiotemporal_rollup",
    ],
)
def test_round3_queries_pure_catalyst(spark, name):
    """The round-3 webtext/geodesy queries claim pure-Catalyst execution
    (native regexp/trig/window codegen, no Python worker anywhere)."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name


def test_char_entropy_single_projection(spark):
    """char_entropy is ONE codegen projection: the only exchange in the
    query is the final presentation orderBy."""
    assert _exchanges(_plan(spark, "char_entropy_stats")) <= 1


def test_gc_destination_single_projection(spark):
    assert _exchanges(_plan(spark, "gc_destination")) <= 1


def test_zipf_uses_distributed_topk(spark):
    """The Zipf table must take the TakeOrderedAndProject path (per-
    partition heaps), never a single-partition window over the full
    vocabulary."""
    plan = _plan(spark, "zipf_top_tokens")
    assert "TakeOrderedAndProject" in plan


def test_robots_gate_is_broadcast_nested_loop(spark):
    """The disallow table rides as a broadcast nested-loop anti join; the
    page table must not shuffle for the gate itself."""
    plan = _plan(spark, "robots_url_gate")
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_simplify_is_single_pandas_stage(spark):
    """Douglas-Peucker runs as exactly one pandas stage (the batched
    per-trajectory kernel over sorted partitions); everything around it
    is native, and the per-group FlatMapGroupsInPandas form (fixed cost
    per trajectory) must not come back."""
    plan = _plan(spark, "trajectory_simplify")
    assert plan.count("MapInPandas") == 1
    assert "FlatMapGroupsInPandas" not in plan


def test_asof_join_bounded_exchanges(spark):
    """asof join: right-side prep agg + ONE key window + presentation
    sort — no inequality-join blowup, no extra shuffles."""
    plan = _plan(spark, "asof_profile_join")
    assert _exchanges(plan) <= 3
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "vincenty_rhumb",
        "vincenty_direct",
        "solar_position",
        "line_of_sight",
        "mad_outliers",
        "holt_smoothing",
        "burst_viterbi",
        "cusum_changepoints",
        "theil_sen_slope",
        "ttl_dedup",
        "map_match_viterbi",
        "markov_transitions",
        "cohort_retention",
        "edit_distance_pairs",
        "stratified_split",
        "rolling_active_users",
        "scd2_history",
        "compaction_plan",
        "copurchase_pairs",
        "corpus_kl_drift",
        "rake_keywords",
        "spacetime_scan_llr",
        "bot_gap_regularity",
        "content_gini",
        "corpus_kl_drift",
        "solar_position",
        "copurchase_pairs",
        "compaction_plan",
    ],
)
def test_late_round3_queries_pure_catalyst(spark, name):
    """Every late-round-3 analytics query claims zero Python stages —
    folds run as JVM higher-order functions, geodesy/solar/LOS as
    codegen expression chains."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        ("vincenty_direct", 0),  # pure projection + sort only
        ("solar_position", 0),
        ("holt_smoothing", 1),  # one user-keyed agg
        ("burst_viterbi", 1),
        ("ttl_dedup", 1),
        ("mad_outliers", 1),
        ("theil_sen_slope", 1),
    ],
)
def test_fold_queries_single_keyed_exchange(spark, name, max_exchanges):
    """The ordered-fold family is ONE keyed shuffle (plus the final
    presentation sort, which is a range exchange and excluded by
    counting only hash exchanges here)."""
    plan = _plan(spark, name)
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= max_exchanges, (name, n, plan[:1200])


def test_user_tile_similarity_bounded_exchanges_no_python(spark):
    """The heaviest round-3 analytics query (exact PPJoin over dense
    mobility profiles): the whole pipeline — profile build, prefix
    explode, candidate equi-join, Jaccard verify — stays JVM-side, and
    its shuffle count is pinned so a refactor cannot silently add
    per-stage exchanges to the quadratic cohort section."""
    plan = _plan(spark, "user_tile_similarity")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= 12, (n, plan[:1200])


def test_dedup_canonical_pick_bounded_exchanges_no_python(spark):
    """MinHash -> LSH -> CC -> canonical window, end to end: the final
    plan (downstream of the CC materialization barrier) must stay
    JVM-side with a pinned exchange budget — the signature kernel's
    Python stage lives upstream of the checkpoint, not here."""
    plan = _plan(spark, "dedup_canonical_pick")
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= 6, (n, plan[:1200])


@pytest.mark.parametrize(
    "name",
    [
        "hexbin_counts",
        "cotravel_pairs",
        "cocitation_hosts",
        "kneser_ney_bigrams",
        "benford_digits",
        "skyline_spenders",
        "spatial_entropy_types",
    ],
)
def test_round4_queries_pure_catalyst(spark, name):
    """The round-4 analytics batch claims zero Python stages: hex
    binning and Benford are codegen column algebra; KN / co-citation /
    co-travel / skyline / entropy / k-anonymity are joins + keyed aggs
    over JVM expressions (the only Arrow kernel near them is the
    upstream s2_cellid encode, which these plans take as input columns
    via add_cellid_sql — the pure-SQL twin)."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name
    assert "CartesianProduct" not in plan, name


def test_k_anonymity_only_encode_kernel_is_python(spark):
    """k_anonymity_levels consumes the Arrow-encoded point table, so the
    ONLY Python stages allowed are the s2_cellid encode kernel itself
    (it appears once per reference to the point plan); everything
    downstream — explode, counts, join-back, max — is JVM."""
    plan = _plan(spark, "k_anonymity_levels")
    arrows = set(re.findall(r"ArrowEvalPython \[(\w+)", plan))
    assert arrows <= {"s2_cellid"}, arrows
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        ("hexbin_counts", 1),       # one count agg on the hex key
        ("benford_digits", 2),      # digit agg + broadcast total
        ("skyline_spenders", 3),    # per-cust agg, pair dedup, final sort
        ("spatial_entropy_types", 2),  # (grp, cell) agg + grp agg
        ("k_anonymity_levels", 4),  # level-cell count, join-back, max, hist
    ],
)
def test_round4_bounded_exchanges(spark, name, max_exchanges):
    plan = _plan(spark, name)
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= max_exchanges, (name, n, plan[:1200])


@pytest.mark.parametrize(
    "name",
    [
        "lisa_local_moran",
        "std_dev_ellipse",
        "mann_kendall_cells",
        "adamic_adar_links",
        "acf_daily_counts",
    ],
)
def test_round4c_queries_no_python_beyond_kernels(spark, name):
    """The third round-4 batch claims JVM execution for everything past
    the (Arrow) cell-encode / token kernels: the statistics are joins +
    keyed aggs over codegen expressions. SDE / ACF / Adamic-Adar consume
    no spatial kernel at all, so they must be FULLY Python-free."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name
    assert "CartesianProduct" not in plan, name
    if name in ("std_dev_ellipse", "acf_daily_counts", "adamic_adar_links"):
        assert "ArrowEvalPython" not in plan, name
    else:
        # only the engine's encode/topology/token kernels may appear
        arrows = set(re.findall(r"ArrowEvalPython \[(\w+)", plan))
        assert arrows <= {"s2_cellid", "s2_token", "s2_edge_neighbors"}, (
            name, arrows,
        )


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        # one partial+final agg pair resolves to a single hash exchange
        # per keyed agg; the sort at the end is a range exchange (not
        # counted by _exchanges' hash pattern below)
        ("std_dev_ellipse", 1),   # ONE keyed agg, no joins
        ("acf_daily_counts", 3),  # daily agg + window partition + final agg
    ],
)
def test_round4c_bounded_exchanges(spark, name, max_exchanges):
    plan = _plan(spark, name)
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= max_exchanges, (name, n, plan[:1200])


@pytest.mark.parametrize(
    "name",
    [
        "dtw_daily_counts",
        "frechet_traj_pairs",
        "bearing_circular_stats",
        "join_count_stats",
    ],
)
def test_round4d_queries_no_python_beyond_kernels(spark, name):
    """The nested-fold DP batch runs its O(m*n) dynamic programs INSIDE
    codegen (higher-order aggregate expressions) — zero Python stages
    beyond the engine's topology kernel in join_count_stats; the pair
    joins are cohort-bounded equi/θ-joins over pre-aggregated
    SERIES/TRAJECTORY tables (5 types / 10 users), not row-level
    cartesians, so a BroadcastNestedLoopJoin over those tiny aggregates
    is acceptable — but never over the raw event table."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name
    arrows = set(re.findall(r"ArrowEvalPython \[(\w+)", plan))
    assert arrows <= {"s2_edge_neighbors"}, (name, arrows)


@pytest.mark.parametrize(
    "name",
    [
        "hex_kring_smooth",
        "hex_flow_directions",
        "sitemap_urls",
        "weekday_chisq",
    ],
)
def test_round4e_queries_pure_catalyst(spark, name):
    """Hex-topology statistics, sitemap regex ingestion, and the weekday
    chi-square are pure JVM column algebra + joins/aggs: zero Python."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name", ["lcss_traj_pairs", "kendall_tau_types", "ppr_seed_host"]
)
def test_round4f_queries_pure_catalyst(spark, name):
    """LCSS's DP fold, the Kendall pairwise join, and PPR's iteration
    joins are all JVM-side — zero Python stages anywhere."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "hex_flow_accumulation",
        "edr_traj_pairs",
        "closeness_seeds",
        "dirichlet_ql_topk",
        "kmv_distinct_langs",
        "importance_resample",
        "ngram_novelty",
        "quadrat_vmr",
        "ktruss_edges",
        "graph_mixing_stats",
        "polyline_encode",
        "huff_market_share",
        "theil_index_cells",
        "seasonal_naive_mase",
        "snapshot_retention_plan",
    ],
)
def test_round4_late_batches_no_python_stage(spark, name):
    """The round-4 f/g/h operator batches all claim pure-Catalyst
    execution (higher-order folds, window algebra, hash/bit arithmetic,
    the pure-SQL Hilbert encode) — no Python stage of any kind."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        ("huff_market_share", 0),   # per-row codegen + one global agg
        ("quadrat_vmr", 1),         # one hex-cell agg, then global stats
        ("polyline_encode", 2),     # one keyed window + one keyed agg
        ("snapshot_retention_plan", 2),  # one keyed shuffle, 3 windows
        ("closeness_seeds", 2),     # per-round BFS shuffles truncate
        ("theil_index_cells", 3),   # cell agg + group agg + sort
        ("importance_resample", 3),  # the gate itself adds ZERO
    ],
)
def test_round4_late_batches_exchange_ceiling(spark, name, max_exchanges):
    """Exchange-count ceilings pinned at the measured plan shape: a
    regression that adds a shuffle to these tight plans fails here."""
    plan = _plan(spark, name)
    assert _exchanges(plan) <= max_exchanges, (name, _exchanges(plan))


@pytest.mark.parametrize(
    "name",
    [
        "semivariogram_bins",
        "nn_gfunction",
        "neighbor_jaccard_links",
        "bib_coupling_hosts",
        "recrawl_priority",
    ],
)
def test_round4i_queries_no_python_beyond_kernels(spark, name):
    """The ninth round-4 batch: graph/web/window ops are pure Catalyst;
    the two point-pattern ops may invoke only the S2 neighborhood /
    covering kernels (semivariogram's pair join, the kNN ladder) — never
    a grouped-pandas stage, a row-python stage, or a cartesian."""
    plan = _plan(spark, name)
    arrows = set(re.findall(r"ArrowEvalPython \[(\w+)", plan))
    assert arrows <= {"s2_neighborhood", "s2_cellid", "s2_covering"}, (
        name, arrows,
    )
    assert "BatchEvalPython" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        ("semivariogram_bins", 4),   # pair join + 2 value joins + bin agg
        ("neighbor_jaccard_links", 5),  # deg, wedge, 2 deg joins, anti
        ("recrawl_priority", 3),     # one keyed window + per-key agg
    ],
)
def test_round4i_exchange_ceiling(spark, name, max_exchanges):
    """Exchange ceilings pinned at the measured shapes of the 4i batch."""
    plan = _plan(spark, name)
    assert _exchanges(plan) <= max_exchanges, (name, _exchanges(plan))


@pytest.mark.parametrize(
    "name",
    [
        "erp_traj_pairs",
        "holt_winters_daily",
        "ams_f2_tokens",
        "weighted_sample_aes",
        "ab_conversion_ztest",
    ],
)
def test_round4j_queries_pure_catalyst(spark, name):
    """The tenth round-4 batch is pure Catalyst end-to-end: nested-fold
    DP, triple-state fold, sign-sum sketch, hash-order sampling, and the
    z-test are all JVM expressions — no Python stage, no cartesian
    (ERP's cohort pair join is the documented bounded exception)."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name
    if name != "erp_traj_pairs":
        assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        ("holt_winters_daily", 3),   # daily agg + type agg + sort
        ("ams_f2_tokens", 3),        # (lang, token) agg + lang agg + sort
        ("weighted_sample_aes", 0),  # projection + TakeOrderedAndProject
        ("ab_conversion_ztest", 2),  # per-user agg + single-row agg
    ],
)
def test_round4j_exchange_ceiling(spark, name, max_exchanges):
    plan = _plan(spark, name)
    assert _exchanges(plan) <= max_exchanges, (name, _exchanges(plan))


@pytest.mark.parametrize(
    "name", ["cross_k_function", "emerging_hotspots"]
)
def test_round4k_queries_kernel_only_python(spark, name):
    """Cross-K rides the blocked A-to-B distance join (neighborhood
    kernel only); emerging hotspots composes Gi* + Mann-Kendall over
    pure SQL cell encodes — no grouped pandas, no row Python, no
    cartesian anywhere."""
    plan = _plan(spark, name)
    arrows = set(re.findall(r"ArrowEvalPython \[(\w+)", plan))
    assert arrows <= {"s2_neighborhood", "s2_cellid", "s2_covering",
        "s2_edge_neighbors", "s2_token"}, (
        name, arrows,
    )
    assert "BatchEvalPython" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name", ["containment_pairs", "textrank_keywords"]
)
def test_round4l_queries_pure_catalyst(spark, name):
    """Shingle containment (window + equi-joins) and TextRank's
    iteration joins are pure JVM — no Python stage, no cartesian."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name
    assert "CartesianProduct" not in plan, name


def test_round4m_zonal_stats_kernel_only_python(spark):
    """Zonal statistics: the only Python stages are the rasterization
    kernels (cell decode + exact polygon refine); the zonal join + agg
    are JVM. Exchange ceiling pinned at the measured shape."""
    plan = _plan(spark, "zonal_stats")
    arrows = set(re.findall(r"ArrowEvalPython \[(\w+)", plan))
    assert arrows <= {"s2_cell_lat", "s2_cell_lng", "s2_cellid", "s2_refine"}, arrows
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert _exchanges(plan) <= 4


def test_round4m_katz_pure_catalyst(spark):
    """Katz centrality's iteration joins are pure JVM with one bounded
    exchange per step (truncated here by the per-iteration materialize)."""
    plan = _plan(spark, "katz_centrality")
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name", ["st_dbscan_clusters", "cell_term_affinity"]
)
def test_round4n_queries_kernel_only_python(spark, name):
    """ST-DBSCAN uses only the neighborhood/encode kernels inside the
    blocked eps-join; the PMI affinity map is pure SQL encodes + aggs."""
    plan = _plan(spark, name)
    arrows = set(re.findall(r"ArrowEvalPython \[(\w+)", plan))
    assert arrows <= {"s2_neighborhood", "s2_cellid", "s2_covering",
                      "s2_token"}, (name, arrows)
    assert "BatchEvalPython" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "spearman_daily",
        "ks_value_drift",
        "seasonal_decompose",
        "grubbs_outliers",
        "page_hinkley_drift",
        "gap_fill_daily",
    ],
)
def test_round4o_queries_pure_catalyst(spark, name):
    """The series-statistics batch is pure window/groupBy Catalyst: no
    Python stages anywhere."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        # daily rollup + rank/cum windows + pair agg; bounded fan-in joins
        ("spearman_daily", 8),
        ("ks_value_drift", 8),
        ("seasonal_decompose", 8),
        # two grouped scans + broadcast stat join only
        ("grubbs_outliers", 5),
        ("page_hinkley_drift", 6),
        # span agg + day explode + carry windows + neighbor value joins
        ("gap_fill_daily", 10),
    ],
)
def test_round4o_exchange_ceiling(spark, name, max_exchanges):
    plan = _plan(spark, name)
    assert _exchanges(plan) <= max_exchanges, (name, _exchanges(plan))


@pytest.mark.parametrize(
    "name",
    [
        "nation_diameter",
        "pair_correlation_rings",
        "traj_effective_area",
        "cross_track_route",
        "closest_pair_cells",
    ],
)
def test_round4p_queries_kernel_only_python(spark, name):
    """The spatial batch allows only the S2 encode/neighborhood Arrow
    kernels (point fixtures + the blocked pair join); everything else —
    xyz algebra, pair joins, max/min-struct argopt, window triangles —
    is codegen. No grouped-pandas, row-python, or cartesian anywhere."""
    plan = _plan(spark, name)
    arrows = set(re.findall(r"ArrowEvalPython \[(\w+)", plan))
    assert arrows <= {
        "s2_neighborhood", "s2_cellid", "s2_covering", "s2_token",
    }, (name, arrows)
    assert "BatchEvalPython" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        ("nation_diameter", 7),
        ("pair_correlation_rings", 9),
        ("traj_effective_area", 3),
        ("cross_track_route", 2),
        ("closest_pair_cells", 9),
    ],
)
def test_round4p_exchange_ceiling(spark, name, max_exchanges):
    plan = _plan(spark, name)
    assert _exchanges(plan) <= max_exchanges, (name, _exchanges(plan))


@pytest.mark.parametrize(
    "name",
    [
        "mw_value_shift",
        "kruskal_wallis_weekday",
        "cvm_value_drift",
        "km_second_event",
        "jump_length_hist",
        "rfm_segments",
        "event_skipgrams",
        "winsorized_values",
        "lexical_richness",
        "js_divergence_langs",
        "sax_daily_words",
        "eigenvector_centrality",
        "radius_of_gyration",
        "path_crossings",
        "self_intersections",
    ],
)
def test_session_batches_no_python_stage(spark, name):
    """The round-4 continuation batches (nonparametrics, survival,
    mobility scalars, crossings, SAX, RFM, diversity) claim pure-Catalyst
    plans — no Python evaluation of any kind."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name


def test_path_crossings_canonical_tile_dedup(spark):
    """The tile-blocked crossing join must dedup candidates with the
    canonical-tile FILTER (pair kept only in the smallest shared tile —
    no shuffle), never the old full-payload distinct (HashAggregate over
    12 doubles, an exchange ~100x the result), and no cartesian product
    anywhere."""
    plan = _plan(spark, "path_crossings")
    assert "CartesianProduct" not in plan
    # the canonical-tile rule compares the tile to a greatest() of the
    # two boxes' min tiles inside a plain Filter
    assert "greatest" in plan
    # no distinct over the candidate payload: the crossing query is a
    # pure join + filter + sort plan with zero aggregates
    assert plan.count("HashAggregate") == 0


def test_segment_crossing_bounded_exchanges(spark):
    """Blocked crossing joins: tile-key hash joins plus the dedup and
    final agg; exchange count stays small and fixed."""
    for name, cap in (("path_crossings", 8), ("self_intersections", 9)):
        plan = _plan(spark, name)
        assert _exchanges(plan) <= cap, (name, _exchanges(plan))


@pytest.mark.parametrize(
    "name",
    [
        "weighted_jaccard_hosts",
        "gumbel_weekly_maxima",
        "markov_entropy_rate",
        "sprt_conversion",
        "chapman_overlap",
        "good_turing_counts",
        "bootstrap_mean_ci",
        "jackknife_nation_mean",
        "zipf_slope_fit",
        "log_rank_test",
        "dunning_g2_bigrams",
        "fightin_words",
    ],
)
def test_late_batches_no_python_stage(spark, name):
    """Statistics/graph/text batches ee-ff claim pure-Catalyst plans."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "degree_assortativity",
        "local_clustering",
        "reciprocity_links",
        "nn_ffunction",
        "general_g",
        "central_feature",
        "welch_ttest",
        "fisher_exact",
        "cohens_kappa",
        "horn_slope_aspect",
        "hillshade_grid",
        "flow_direction_d8",
        "burrows_delta",
        "ccf_clicks_views",
        "hurst_rs",
        "home_work_cells",
        "gap_log_histogram",
        "dwell_time_cells",
        "albers_coordinates",
        "lcc_coordinates",
        "gc_intersections",
        "mrr_map_bm25",
        "pearson_daily_matrix",
        "min_enclosing_cap",
        "embedding_label_outliers",
        "perplexity_gate",
        "token_fertility",
        "token_bucket_gate",
        "trajectory_tortuosity",
        "bilinear_elevation",
    ],
)
def test_session2_batches_no_python_stage(spark, name):
    """Every batch ll-uu operator claims a pure-Catalyst plan — folds run
    as JVM higher-order functions, never Python."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name


def test_raster_ops_zero_exchange_past_distinct(spark):
    """The Horn/hillshade/D8/bilinear raster ops are scalar-expression
    plans: at most the occupancy-distinct (or band-agg) exchanges, no
    joins at all."""
    for name, cap in (
        ("horn_slope_aspect", 2),
        ("hillshade_grid", 2),
        ("flow_direction_d8", 2),
        ("bilinear_elevation", 2),
    ):
        plan = _plan(spark, name)
        assert "Join" not in plan, name
        assert _exchanges(plan) <= cap, (name, _exchanges(plan))


def test_mec_and_central_feature_broadcast_only(spark):
    """The two documented quadratic/cubic cohort-bounded enumerations
    must stay broadcast-nested-loop (one small broadcast side), never a
    shuffled cartesian."""
    for name in ("min_enclosing_cap", "central_feature"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "burstiness_memory",
        "ransac_trend",
        "needleman_wunsch",
        "smith_waterman",
        "bayes_ab",
        "hod_rayleigh",
        "zonal_overlay",
        "viewshed_grid",
        "terrain_curvature",
        "minhash_fidelity",
        "lsh_recall_audit",
        "readability_scores",
        "cumulative_incidence",
        "fellegi_sunter",
        "mutual_information",
        "cuped_adjusted",
        "diff_in_diff",
        "ipw_ate",
        "spatial_median",
        "mahalanobis_outliers",
        "line_density",
        "crawl_budget_lrm",
        "crawl_budget_dhondt",
        "atkinson_index",
        "two_step_fca",
        "degree_powerlaw",
        "theta_forecast",
    ],
)
def test_session3_batches_no_python_stage(spark, name):
    """Batches vv-ww (DP folds, Bayesian posterior, circular stats)
    claim pure-Catalyst plans — the NW/SW dynamic programs run as JVM
    higher-order aggregate expressions, never Python."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, name
    assert "FlatMapGroupsInPandas" not in plan, name


# --- geoparse on read ------------------------------------------------------

def _small_pages(spark):
    """synth_pages plus hand-made rows: an out-of-domain lat, an
    out-of-domain lng, two mentions (the first one counts) and none."""
    import datetime as dt

    from gos2_spark.spark.pages import synth_pages

    pages = synth_pages(spark, 400, 4)
    ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    extra = spark.createDataFrame(
        [
            (f"https://edge.example/{i}", ts, text.encode(), text, "en")
            for i, text in enumerate([
                "out of range 95.123456, 10.123456 here",
                "out of range -12.500000, 190.250000 here",
                "first 10.500000, -20.250000 then 30.125000, 40.750000",
                "no coordinates at all",
                "tight -0.001000,179.999000",
            ])
        ],
        pages.schema,
    )
    return pages.unionByName(extra)


def test_geoparsed_pages_parses_each_coordinate_once(spark):
    """The lat/lng string->double parse sits behind its own Generate
    barrier, so the pushed-down range filter cannot copy it: one cast per
    coordinate in the executed plan (the filter used to hold four more)."""
    from gos2_spark.spark.pages import geoparsed_pages

    df = geoparsed_pages(_small_pages(spark))
    plan = df._jdf.queryExecution().executedPlan().toString()
    casts = re.findall(r"cast\(trim\(split\(_m\S*, ,, -1\)\[(\d)\]", plan)
    assert sorted(casts) == ["0", "1"], plan


def test_add_cellid_sql_lookup_table_is_one_literal(spark):
    """The 1,024-entry Hilbert table enters the analyzed plan as an array
    Literal, never as a 1,024-child array(...) for the optimizer to fold."""
    from gos2_spark.spark.functions import add_cellid_sql

    pts = spark.createDataFrame([(40.7128, -74.006)], "lat double, lng double")
    qe = add_cellid_sql(pts, "lat", "lng")._jdf.queryExecution()
    # toJSON, not toString: the plan string truncates long argument lists
    arrays = re.findall(
        r'"class":"org\.apache\.spark\.sql\.catalyst\.expressions\.CreateArray",'
        r'"num-children":(\d+)',
        qe.analyzed().toJSON(),
    )
    assert max(map(int, arrays), default=0) < 1024, arrays
    assert "[0,1,682,683," in qe.analyzed().toString()
    assert "element_at([0,1,682,683," in qe.executedPlan().toString()


def test_geoparsed_pages_matches_arrow_regex_and_kernel(spark):
    """Rows of geoparsed_pages(keep=(url, warc_ts)) equal a pyarrow regex
    parse of the same text, and cell_id equals the s2_cellid kernel."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from gos2_spark.kernels import projection as PJ
    from gos2_spark.spark.functions import _GEO_RE
    from gos2_spark.spark.pages import geoparsed_pages

    named = r"(?P<lat>-?\d{1,2}\.\d{3,}),\s*(?P<lng>-?\d{1,3}\.\d{3,})"
    assert named.replace("?P<lat>", "").replace("?P<lng>", "") == _GEO_RE

    pages = _small_pages(spark)
    src = pa.Table.from_pylist(
        [r.asDict() for r in pages.select("url", "warc_ts", "text").collect()]
    )
    m = pc.extract_regex(src.column("text"), named)
    keep = pc.is_valid(m)
    m = m.filter(keep)
    lat = pc.cast(pc.struct_field(m, "lat"), "float64").to_numpy()
    lng = pc.cast(pc.struct_field(m, "lng"), "float64").to_numpy()
    ok = (lat >= -90) & (lat <= 90) & (lng >= -180) & (lng <= 180)
    urls = np.asarray(src.column("url").filter(keep).to_pylist(), dtype=object)[ok]
    tss = np.asarray(src.column("warc_ts").filter(keep).to_pylist(), dtype=object)[ok]
    lat, lng = lat[ok], lng[ok]
    cells = (PJ.cellid_from_latlng(lat, lng) ^ np.uint64(1 << 63)).view(np.int64)
    expected = sorted(zip(urls, tss, lat.tolist(), lng.tolist(), cells.tolist()))

    got = sorted(
        tuple(r)
        for r in geoparsed_pages(pages, keep=("url", "warc_ts")).collect()
    )
    assert len(expected) > 300
    assert "https://edge.example/0" not in {g[0] for g in got}
    assert "https://edge.example/1" not in {g[0] for g in got}
    assert ("https://edge.example/2", 10.5, -20.25) in {g[:1] + g[2:4] for g in got}
    assert got == expected


def test_widen_warns_once_per_session_when_its_size_gate_fails(
    monkeypatch, caplog
):
    """A size estimate that raises widens the input (it counts as large)
    and logs one warning per session, not one per call and not none."""
    import types
    import weakref

    from gos2_spark.spark import functions as fn

    monkeypatch.setattr(fn, "_WIDEN_GATE_WARNED", weakref.WeakSet())

    class _NoStats:
        def queryExecution(self):
            raise RuntimeError("no stats")

    class _Frame:
        rdd = types.SimpleNamespace(getNumPartitions=lambda: 1)
        _jdf = _NoStats()

        def __init__(self, session):
            self.sparkSession = session

        def repartition(self, n):
            return ("widened", n)

    class _Session:  # weakly referenceable, like a SparkSession
        sparkContext = types.SimpleNamespace(defaultParallelism=8)

    sessions = [_Session(), _Session()]
    with caplog.at_level("WARNING", logger=fn.__name__):
        got = [fn.widen_to_parallelism(_Frame(s)) for s in sessions * 2]
    assert got == [("widened", 8)] * 4
    warned = [r for r in caplog.records if "widen_to_parallelism" in r.message]
    assert len(warned) == 2
