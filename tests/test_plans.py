"""Physical-plan quality gates: the optimizations the engine claims
(SURVEY §4) must be visible in explain output, not just intended.

These assert on plan *structure* — pushed filters, pruned read
schemas, broadcast joins, top-k operators — so a refactor that
silently loses an optimization fails the suite."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from map2db_spark.registry import QUERIES, _ensure_loaded
from tests.conftest import SF_CORRECT

_ensure_loaded()


def plan_of(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_CORRECT)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "f3_selective_filter")
    assert "PushedFilters" in plan
    assert "o_orderstatus" in plan.split("PushedFilters")[1].splitlines()[0]


def test_column_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # the q1 scan must not read join keys it never uses
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema
    # and the date predicate is pushed
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "l_shipdate" in pushed


def test_dim_joins_broadcast(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    plan5 = plan_of(spark, "q5_local_supplier_volume")
    assert plan5.count("BroadcastHashJoin") >= 3


def test_topk_avoids_global_sort(spark):
    plan = plan_of(spark, "s_global_topk")
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_operators(spark):
    assert "LeftSemi" in plan_of(spark, "j_semi_join")
    assert "LeftAnti" in plan_of(spark, "j_anti_join")


def test_rollup_single_expand(spark):
    plan = plan_of(spark, "g_rollup_revenue")
    assert plan.count("Expand") >= 1  # one Expand, not one scan per level
    # formatted explain lists each scan twice (tree + detail): 3 tables max
    assert plan.count("Scan parquet") <= 6


def test_asof_join_is_single_shuffle(spark):
    """The as-of composition must not plan a nested-loop or cartesian
    join — one hash exchange on the key plus a window."""
    plan = plan_of(spark, "j_asof_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_decode_kernel_stays_arrow(spark):
    plan = plan_of(spark, "m2db_decode_sightings")
    # decode is mapInPandas (Arrow), never row-at-a-time python UDFs
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_q6_full_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read_schema and "l_extendedprice" in read_schema


def test_q19_broadcast_and_derived_pushdown(spark):
    plan = plan_of(spark, "q19_disjunctive_pushdown")
    assert "BroadcastHashJoin" in plan
    # Catalyst derives the single-side implication of the OR-of-ANDs
    # and pushes a p_brand filter into the part scan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("p_brand" in ln for ln in pushed)


def test_grouping_sets_single_expand(spark):
    plan = plan_of(spark, "g_grouping_sets_explicit")
    assert "Expand" in plan
    # 3 grouping sets from one pass over 3 tables, not 3 passes
    assert plan.count("Scan parquet") <= 6


def test_q22_anti_join_with_broadcast_threshold(spark):
    plan = plan_of(spark, "q22_idle_customers")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_minhash_signatures_rowlocal_no_shuffle(spark):
    """Row-local minhash signature generation must be a pure map stage
    over the scan — zero Exchange nodes before the LSH join."""
    from map2db_spark.functions import dedup as D

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        D.minhash_signatures_rowlocal(docs).explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_pii_redaction_pure_projection(spark):
    """PII scrub must be a map-only plan — no Exchange anywhere."""
    assert "Exchange" not in plan_of(spark, "c_pii_redaction")


def test_decontamination_broadcasts_benchmark(spark):
    """The benchmark shingle set must broadcast; the corpus side must
    never shuffle for the join itself."""
    plan = plan_of(spark, "c_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_span_dedup_single_span_shuffle(spark):
    """The corpus-wide span table must be exchanged on span exactly
    once (the occurrence count); shared spans broadcast into a
    semi-join, and per-doc aggregations ride the doc_id partitioning."""
    plan = plan_of(spark, "d_span_dedup")
    assert plan.count("hashpartitioning(span") == 1, plan
    assert "BroadcastHashJoin LeftSemi" in plan


def test_ivf_nprobe_broadcast_cell_join(spark):
    """IVF candidate generation is an equi-join on the cell id with
    the (tiny) probed query side broadcast — never a cartesian."""
    plan = plan_of(spark, "v_ann_ivf_nprobe")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_near_dup_prep_single_materialization(spark):
    """The prepared-vector pass (int vectors + norms + band buckets)
    feeds three plan branches; it must be persisted so the expensive
    Arrow kernel runs once — the branches read the cache
    (InMemoryTableScan / TableCacheQueryStage in the plan)."""
    plan = plan_of(spark, "d_cosine_near_dup")
    cache_reads = plan.count("InMemoryTableScan") + plan.count(
        "TableCacheQueryStage"
    )
    assert cache_reads >= 2, plan


def test_minhash_lsh_neighborhoods_persisted(spark):
    """d_minhash_lsh's candidate table and candidate-doc shingles each
    feed multiple verification branches; both must come from the cache
    (persist keeps lineage for fault recovery, unlike the previous
    executor-local localCheckpoint)."""
    plan = plan_of(spark, "d_minhash_lsh")
    cache_reads = plan.count("InMemoryTableScan") + plan.count(
        "TableCacheQueryStage"
    )
    assert cache_reads >= 3, plan


def test_cosine_near_dup_never_all_pairs(spark):
    """The registered near-dup query must candidate-generate via the
    banded LSH equi-join — an all-pairs (cartesian / nested-loop)
    self-join is the 100 TB scale-killer the bucketing exists to
    avoid."""
    plan = plan_of(spark, "d_cosine_near_dup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # candidate generation joins on the (band, bucket) equi-key
    assert "band" in plan and "bucket" in plan


def test_ngram_jaccard_df_cap_bounds_self_join(spark):
    """The shingle self-join input must be df-capped: the plan carries
    the countDistinct(sid) aggregate + semi-join ahead of the
    shingle-shingle join, so no shingle contributes more than cap^2
    join rows."""
    plan = plan_of(spark, "d_ngram_jaccard")
    assert "LeftSemi" in plan, plan
    # the df aggregate (count distinct sid per shingle) feeds the cap
    assert plan.count("hashpartitioning(shingle") >= 1, plan


@pytest.mark.parametrize(
    "name",
    [
        # exact-Jaccard sites whose edge plan is visible in the final
        # explain (no checkpoint between the self-join and the result):
        # the df-cap semi-join must sit ahead of the shingle join.
        "d_cross_source_matrix",
        "d_threshold_sweep",
    ],
)
def test_exact_jaccard_sites_are_df_capped(spark, name):
    """Visible-plan variant of the skew rail: LeftSemi against the
    rare-shingle set, partitioned on shingle — the same key as the
    join that follows, so the rail adds no extra shuffle pattern."""
    plan = plan_of(spark, name)
    assert "LeftSemi" in plan, f"{name}: no df-cap semi-join\n{plan}"
    assert plan.count("hashpartitioning(shingle") >= 1, name
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


@pytest.mark.parametrize(
    "name,max_single_partition_exchanges",
    [
        # r2 verdict item 3: corpus-scale queries must not run a
        # global ORDER BY window over the base table (one task for
        # every row).  All four now ride the two-pass range-
        # partitioned rank (operators/ids.py); the remaining
        # SinglePartition exchanges sit on collapsed series only
        # (10-row decile table / 30-row interleave head).
        ("w_ntile_buckets", 0),
        ("w_percent_rank_decile", 0),
        ("c_curriculum_order", 1),
        ("x_gains_deciles", 1),
        # r3 verdict item 4: the KS ECDF cumulative rides the two-pass
        # prefix sum (with_prefix_sums); the one remaining
        # SinglePartition exchange is the 1-row (na, nb) grand total.
        ("x_ks_two_sample", 1),
        # r4 verdict item 3: sequential ids over the part base table
        # ride ids.ranked (range partition + per-partition offset),
        # not row_number over one reducer.
        ("a5_rownum_ids", 0),
    ],
)
def test_no_global_window_over_base_table(
    spark, name, max_single_partition_exchanges
):
    plan = plan_of(spark, name)
    # the two-pass rank's range partitioning replaces the global sort
    assert "rangepartitioning" in plan, f"{name}: two-pass rank missing\n{plan}"
    # no window function over an unpartitioned corpus-sized exchange
    assert (
        plan.count("Exchange SinglePartition")
        <= max_single_partition_exchanges
    ), f"{name}: unexpected single-partition exchange\n{plan}"
    # ntile itself must be arithmetic now, not a window function
    if name != "w_percent_rank_decile":
        assert "ntile" not in plan, name


def test_unpartitioned_window_sites_are_audited():
    """SWEEP (r4 verdict item 3): an unpartitioned ``Window.orderBy``
    funnels its whole input through ONE reducer, so every such site in
    the package must be consciously audited as bounded-input.  The pin
    below counts the sites per module; adding a new one anywhere fails
    here until it is either routed through operators/ids.py (two-pass
    range-partitioned rank / prefix sum — the base-table-safe path) or
    audited and added with a justification.  Current audit (r4 verdict
    "What's wrong #5": each site's input is limit-k, O(days) or
    vocabulary-sized, never a base table):

    - queries_extra.py: 2 — top-pair / top-node lists, limit-k heads
    - queries_mleval.py: 5 — O(days) seasonal series (x2), 1-row-per-
      day cumulative, vocab-topk Zipf head, 10-row QQ decile table
    - queries_round5.py: 1 — BM25 rerank over a limit-20 survivor set
    - functions/sketches.py: 1 — Misra-Gries candidate set, O(k)
    - queries_round9.py: 1 — RRF final rank over the limit-10 fused
      head (the fusion itself joins two k-row leg tables)
    - queries_round10.py: 3 — x_gbdt_stumps' prefix-sum window runs
      over DISTINCT FEATURE VALUES (the LightGBM histogram trick),
      never the base table: its input is the (x, count, sum)
      aggregate, bounded by feature cardinality; c_length_bucketing's
      two ranking windows are the DELIBERATE, documented cost of
      EXACT global batching (its docstring names the salted-range
      per-partition variant as the production path)
    - queries_round11.py: 6 — x_bh_fdr ranks the HYPOTHESIS table
      (thousands of tests whose per-test statistics reduced the data
      upstream — never a base table); x_mann_whitney_u,
      c_best_of_n_reward, and x_wasserstein_1d window over DISTINCT
      VALUES of the metric (the value-grouped midrank/CDF trick —
      domain-bounded); the
      two x_hilbert_layout windows measure adjacent-position
      locality on the bounded synthetic fixture (the layout job
      itself range-partitions on the computed key, no window)
    - queries_round12.py: 1 — x_isotonic_calibration's cumulative
      window runs over the CHECKPOINTED {_ISO_BINS}-row score grid
      (bounded by bin cardinality, never the base table; the single
      events pass is the combinable rollup upstream)
    - queries_round14.py: 3 — x_obrien_fleming's cumulative window
      runs over the CHECKPOINTED K-row look table (K = 5 weekly
      looks); x_tdigest_quantiles' cum_n window runs over the
      <= delta = 32 centroid rows POST-aggregate (the global rank
      itself goes through operators/ids.ranked, the range-partitioned
      path); t_textrank_keywords ranks the limit-15 keyword head
    - queries_round15.py: 7 — x_benjamini_yekutieli ranks the
      hypothesis table (the x_bh_fdr shape: tests, not data rows);
      x_kruskal_wallis' mid-rank cumulative runs over DISTINCT
      VALUES (the x_mann_whitney_u trick — domain-bounded, swap in
      operators/ids.ranked for corpus-sized domains);
      x_ljung_box's cumulative touches <= 7 lag rows;
      x_nelson_aalen's two windows run over O(distinct-spans) rows
      (the x_survival_km shape); x_reservoir_merge's shared rank
      window runs POST-TakeOrdered over <= 64 rows;
      t_hill_tail_index ranks the limit-51 order-statistic head
    """
    import pathlib

    import map2db_spark

    audited = {
        "queries_extra.py": 2,
        "queries_mleval.py": 5,
        "queries_round5.py": 1,
        "queries_round9.py": 1,
        "queries_round10.py": 3,
        "queries_round11.py": 6,
        "queries_round12.py": 1,
        "queries_round14.py": 3,
        "queries_round15.py": 7,
        "functions/sketches.py": 1,
    }
    root = pathlib.Path(map2db_spark.__file__).parent
    found: dict[str, int] = {}
    for p in sorted(root.rglob("*.py")):
        n = sum(
            1
            for line in p.read_text().splitlines()
            if ("Window.orderBy" in line or "Window().orderBy" in line)
            and "partitionBy" not in line
        )
        if n:
            found[str(p.relative_to(root))] = n
    assert found == audited, (
        "unpartitioned Window.orderBy site count drifted — route new "
        "sites through operators/ids.py or audit them here: "
        f"{found} != {audited}"
    )


class _SpyAbort(Exception):
    """Raised by the jaccard_pairs spy to stop query construction the
    moment the call under test has been captured."""


@pytest.mark.parametrize(
    "name",
    [
        # EVERY registered query that calls jaccard_pairs (r2 verdict
        # item 1).  The components-based ones checkpoint their edges,
        # hiding the semi-join from the final explain — so this test
        # pins the CALL itself: each site must pass df_cap (the
        # rare-shingle rail) or candidates (the bucket-capped LSH
        # path).  d_minhash_recall_eval is deliberately absent: its
        # exact pair table IS the ground truth being measured (see its
        # docstring) and is sample-bounded at scale.
        "d_ngram_jaccard",
        "d_dup_clusters",
        "d_curation_pipeline",
        "d_cluster_canonical",
        "c_cluster_aware_split",
        "d_cross_source_matrix",
        "c_soft_dedup_weights",
        "d_threshold_sweep",
        "c_cross_split_leakage",
        # d_minhash_lsh left the list in r15: its verification is now
        # inline (sizes carried on shingle rows), candidate-capped by
        # construction — gated by
        # test_minhash_lsh_candidate_capped_verification below.
    ],
)
def test_registered_jaccard_calls_are_skew_railed(spark, name, monkeypatch):
    import map2db_spark.functions.dedup as dd

    seen: dict = {}

    def spy(shingles, threshold=0.5, candidates=None,
            docs_prefiltered=False, df_cap=None):
        seen["df_cap"] = df_cap
        seen["candidates"] = candidates
        raise _SpyAbort

    monkeypatch.setattr(dd, "jaccard_pairs", spy)
    with pytest.raises(_SpyAbort):
        QUERIES[name].fn(spark, SF_CORRECT)
    assert seen["df_cap"] is not None or seen["candidates"] is not None, (
        f"{name}: jaccard_pairs called with neither df_cap nor candidates "
        "— unbounded shingle self-join (hot-shingle d^2 blow-up at scale)"
    )


def test_q4_exists_is_semi_join_with_pushed_dates(spark):
    plan = plan_of(spark, "q4_order_priority")
    assert "LeftSemi" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln for ln in pushed)
    # lineitem side reads only the 2 columns the semi join needs
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert any(
        "l_orderkey" in ln and "l_shipdate" in ln and "l_extendedprice" not in ln
        for ln in schemas
    )


def test_q15_max_equality_is_broadcast_not_second_scan(spark):
    plan = plan_of(spark, "q15_top_supplier")
    # the scalar max joins back via broadcast; lineitem is scanned once
    assert "BroadcastHashJoin" in plan
    assert plan.count("lineitem.parquet") <= 2  # reused scan, not per-branch


def test_q16_not_in_is_broadcast_anti_join(spark):
    plan = plan_of(spark, "q16_parts_supplier_counts")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q21_decorrelation_no_cartesian(spark):
    plan = plan_of(spark, "q21_waiting_suppliers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # supplier-nation slice broadcasts; per-order stats join on orderkey
    assert "BroadcastHashJoin" in plan


def test_q11_threshold_is_broadcast_scalar(spark):
    plan = plan_of(spark, "q11_important_stock")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_int8_quantization_is_map_only(spark):
    plan = plan_of(spark, "v_int8_quantization")
    # one shuffle total: the tiny label aggregation (plus its sort for
    # the orderBy); quantization itself adds no exchange.  Formatted
    # explain prints each node twice (tree + details), so count the
    # tree form only.
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert tree.count("Exchange") <= 2


def test_semantic_dedup_single_cell_shuffle_no_cartesian(spark):
    plan = plan_of(spark, "d_semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_topk_no_global_sort_window(spark):
    plan = plan_of(spark, "t_bpe_top_merges")
    assert "TakeOrderedAndProject" in plan


def test_embedding_decontam_broadcast_no_corpus_shuffle(spark):
    plan = plan_of(spark, "c_embedding_decontam")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_text_normalize_map_only(spark):
    plan = plan_of(spark, "t_text_normalize")
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert "Exchange" not in tree


def test_interval_overlap_is_binned_equi_join(spark):
    """The interval-overlap join must run as an EQUI join on
    (user_id, bucket) — never a nested-loop/cartesian inequality
    join, which is quadratic per user at scale."""
    plan = plan_of(spark, "j_interval_overlap")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "bucket" in plan, plan


def test_linear_interp_single_user_shuffle(spark):
    """Both interpolation windows (previous + next event carry) must
    ride ONE user_id exchange — the union-sort trick run twice over
    the same partitioning, not an inequality join per direction."""
    plan = plan_of(spark, "w_linear_interp")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Window") >= 1, plan
    # exactly one exchange keyed on user_id feeds the windows (the
    # grid side adds its own small pre-union exchanges; the window
    # partitioning is the one that carries data volume)
    assert plan.count("hashpartitioning(user_id") <= 2, plan


def test_containment_dedup_df_capped(spark):
    """The overlap-coefficient self-join reuses the jaccard skew rail:
    shingles above the document-frequency cap are semi-joined away
    BEFORE the shingle-shingle join."""
    plan = plan_of(spark, "d_containment_dedup")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_image_ahash_stays_arrow(spark):
    """PNG encode + decode + perceptual hash must be mapInPandas
    stages (Arrow batches); hash grouping shuffles strings, never
    payloads."""
    plan = plan_of(spark, "m_image_ahash")
    assert plan.count("MapInPandas") >= 2, plan


def test_bigram_score_join_co_partitions_with_count(spark):
    """The score join keys on bigram — the same key as the count
    shuffle — so the plan shows bigram hash partitioning reused, and
    no nested-loop operator anywhere."""
    plan = plan_of(spark, "t_bigram_lm_score")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("hashpartitioning(bigram") >= 1, plan


def test_simhash_banded_no_cross_join(spark):
    """The banded simhash path must candidate-generate via the
    (band_idx, band_val) equi-join — the all-pairs cross join it
    replaces (d_simhash_hamming's baseline) must not appear."""
    plan = plan_of(spark, "d_simhash_banded")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "band_idx" in plan, plan


def test_funnel_stages_co_partition_on_user(spark):
    """Funnel stages chain user_id-keyed aggs and joins; no
    nested-loop operator except the final three 1-row stitches."""
    plan = plan_of(spark, "x_funnel_conversion")
    assert plan.count("hashpartitioning(user_id") >= 1, plan


def test_salted_join_is_shuffle_on_salted_keys(spark):
    """The salted join must actually shuffle on (k, salt) — a merge
    join with salt in its partitioning — not collapse back to a
    broadcast (which would bypass the technique being demonstrated)."""
    plan = plan_of(spark, "x_salted_join")
    assert "SortMergeJoin" in plan, plan
    assert "salt" in plan, plan


def test_scd2_windows_share_one_user_shuffle(spark):
    """lag, running-sum, and lead all partition on user_id; the plan
    must not add a second user-keyed exchange for the lead."""
    plan = plan_of(spark, "w_scd2_intervals")
    assert plan.count("hashpartitioning(user_id") <= 2, plan


def test_bucketed_join_no_join_exchange(spark):
    """Both scans consume the on-disk bucketing (Bucketed: true) and
    the merge join runs with NO shuffle on the join key — the only
    Exchange left is the final small groupBy."""
    plan = plan_of(spark, "x_bucketed_colocated_join")
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    assert "hashpartitioning(o_orderkey" not in plan, plan
    assert "hashpartitioning(l_orderkey" not in plan, plan
    assert plan.count("hashpartitioning(") == 1, plan  # groupBy only


def test_partition_pruning_reaches_directory_layout(spark):
    """The date-range predicate must resolve against partition
    directories (PartitionFilters), not per-row filtering."""
    plan = plan_of(spark, "x_partition_pruned_scan")
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "event_date" in pf and ">= 2024-01-08" in pf, pf


def test_bloom_probe_is_map_side(spark):
    """The Bloom pass is a pure map-side In-set filter; the only
    joins are the broadcast diagnostics flag — no shuffle join, one
    final agg exchange."""
    plan = plan_of(spark, "x_bloom_semi_join")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("hashpartitioning(") == 1, plan


def test_triangle_count_no_cartesian(spark):
    """Degree-ordered triangle counting must stay equi-join keyed:
    edge derivation joins on orderkey, the wedge join on the oriented
    source, and the closing-edge check is a LeftSemi on (v, w) — a
    CartesianProduct or nested-loop join anywhere means the O(E^1.5)
    guarantee is gone."""
    plan = plan_of(spark, "g_triangle_count")
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan
    # wedge + closing-edge + degree joins are all keyed hash/merge
    # joins (nested-loop joins appear ONLY as the 1x1-row stat
    # combiners at the top: every BNLJ the plan prints must be a
    # Cross over build sides, never an inner data-path join)
    keyed_joins = sum(
        plan.count(op)
        for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert keyed_joins >= 4, plan
    for ln in plan.splitlines():
        # tree lines carry the join type ("BroadcastNestedLoopJoin
        # Cross BuildRight (12)"); detail headers repeat the name bare
        if "BroadcastNestedLoopJoin" in ln and "Build" in ln:
            assert "Cross" in ln, ln


def test_weighted_sample_key_is_row_local(spark):
    """The Efraimidis-Spirakis key must come from a row-local
    higher-order function (transform + array_max), not an explode:
    no Generate operator before the single source-partitioned window
    shuffle."""
    plan = plan_of(spark, "c_weighted_sample")
    assert "Generate" not in plan, plan  # explode would appear as Generate
    assert plan.count("hashpartitioning(source") == 1, plan


def test_countmin_probe_broadcasts_sketch(spark):
    """The 16-cell-per-row sketch tables must broadcast to the probe
    side — a shuffle join against a 48-cell table would be absurd at
    corpus scale."""
    plan = plan_of(spark, "x_countmin_sketch")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_prefix_filter_join_no_cartesian(spark):
    """PPJoin must be keyed end-to-end: prefix join on token,
    verification restricted by the broadcast candidate semi-join —
    never an all-pairs product (the oracle brute-forces on purpose;
    the Spark side may not)."""
    plan = plan_of(spark, "d_prefix_filter_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftSemi" in plan, plan


def _exchange_count(plan: str) -> int:
    # formatted mode prints each Exchange once in the tree as
    # "Exchange (N)"; count tree lines, not the detail block
    return sum(
        1
        for ln in plan.splitlines()
        if ln.strip().lstrip("+-: ").startswith("Exchange (")
    )


def test_exact_quartiles_single_exchange(spark):
    """rank + per-group count + the final aggregate must all ride ONE
    group-keyed Exchange (the single-window-shuffle claim)."""
    plan = plan_of(spark, "g_exact_quartiles")
    assert _exchange_count(plan) == 1, plan


def test_gini_single_window_exchange(spark):
    """Gini's rank window and moment aggregate share the segment
    Exchange; the only other exchange is the small dim join side."""
    plan = plan_of(spark, "x_gini_concentration")
    assert _exchange_count(plan) <= 2, plan
    assert "CartesianProduct" not in plan


def test_domain_cap_single_exchange(spark):
    plan = plan_of(spark, "c_domain_cap")
    assert _exchange_count(plan) == 1, plan


def test_group_linreg_single_exchange(spark):
    """Five moment sums partial-aggregate map-side into one keyed
    Exchange; the min-ts scalar is a broadcast, not a shuffle."""
    plan = plan_of(spark, "x_group_linreg")
    assert _exchange_count(plan) <= 2, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_quantile_normalize_no_single_partition_sort(spark):
    """The pooled global rank must come from the two-pass
    range-partitioned path, not a single-reducer global window: no
    Exchange SinglePartition ahead of a Window/Sort in the plan."""
    plan = plan_of(spark, "c_quantile_normalize")
    # the two-pass global rank is in use...
    assert "rangepartitioning" in plan, plan
    # ...and the only SinglePartition exchanges are scalar aggregates:
    # no Sort node may sit directly above a SinglePartition exchange
    # (the single-reducer global-window signature)
    import re

    tree = [ln for ln in plan.splitlines() if re.search(r"\(\d+\)$", ln.strip())]
    single_ids = {
        m.group(1)
        for m in re.finditer(r"\((\d+)\) Exchange\b", plan)
        if "SinglePartition" in plan.split(f"({m.group(1)}) Exchange", 2)[-1][:200]
    }
    for i, ln in enumerate(tree):
        if " Sort (" in ln and i + 1 < len(tree):
            child = re.search(r"\((\d+)\)$", tree[i + 1].strip())
            assert child and child.group(1) not in single_ids, (ln, tree[i + 1])


def test_edit_blocked_join_no_cartesian(spark):
    """The SymSpell candidate join must be an equi-join on the
    deletion variant — brute-force all-pairs is exactly what the
    blocking exists to avoid."""
    plan = plan_of(spark, "d_edit_blocked_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_winnow_single_exchange(spark):
    """Winnowing: explode, hash, selection window, and the digest
    aggregate all ride the one doc_id repartition (dedup happens inside
    the aggregate via array_distinct, never a .distinct() shuffle)."""
    plan = plan_of(spark, "d_winnow_fingerprints")
    assert _exchange_count(plan) == 1, plan


def test_rake_stats_join_broadcast(spark):
    """RAKE: the vocabulary-sized (lang, word) stats side must
    broadcast back onto word occurrences, never shuffle the corpus."""
    plan = plan_of(spark, "t_rake_keywords")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pq_query_tables_broadcast(spark):
    """PQ ADC: the per-query distance tables join the code table via
    broadcast; no cartesian anywhere in the scoring."""
    plan = plan_of(spark, "v_pq_adc_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_mad_outliers_medians_broadcast_back(spark):
    """MAD gate: both median tables re-join the events scan as
    broadcasts (group-count-sized), never a corpus-to-corpus shuffle
    join."""
    plan = plan_of(spark, "w_mad_outliers")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_hll_register_agg_combines_map_side(spark):
    """Manual HLL: the (group, bucket) register max must partially
    aggregate before its Exchange — the sketch's mergeability is the
    whole point."""
    plan = plan_of(spark, "x_hll_manual")
    assert "CartesianProduct" not in plan
    assert _exchange_count(plan) <= 5, plan
    # partial_max(rho) on the map side of the register aggregate
    assert "partial_max" in plan or "Partial" in plan, plan


def test_itemset_counting_broadcasts_candidates(spark):
    """Apriori: candidate triples and L1/L2 join baskets as
    broadcasts; the only corpus shuffle is the basket pair count."""
    plan = plan_of(spark, "x_itemset_triples")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_label_prop_no_allpairs_graph(spark):
    """Label propagation: edges come from LSH-bucket equi-joins —
    the plan must not contain a cartesian similarity join."""
    plan = plan_of(spark, "g_label_prop")
    assert "CartesianProduct" not in plan


def test_auc_single_rank_exchange(spark):
    """Exact AUC: one Exchange for the segment rank window feeding a
    map-side-combinable aggregate — never an O(pos*neg) pair join."""
    plan = plan_of(spark, "x_auc_rank")
    assert "Join" not in plan, plan
    assert _exchange_count(plan) <= 2, plan


def test_mutual_information_broadcasts_marginals(spark):
    """PMI cells: marginal tables join back as broadcasts; the corpus
    shuffles only for the three count aggregates."""
    plan = plan_of(spark, "x_mutual_information")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_winsorize_cuts_broadcast_back(spark):
    """Winsorize: the O(groups) cuts table returns as a broadcast —
    the clip pass is a map stage, not a second sort of the data."""
    plan = plan_of(spark, "x_winsorize")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pca_covariance_single_pass_no_join(spark):
    """Distributed covariance: all d(d+1)/2 product sums come from ONE
    narrow aggregation pass — no self-join, no explode of the vector
    table (the oracle's unnest+join form is pedagogical, not the
    plan)."""
    plan = plan_of(spark, "v_pca_covariance")
    assert "Join" not in plan, plan
    assert "partial" in plan.lower() or "HashAggregate" in plan, plan


def test_cross_split_leakage_no_allpairs(spark):
    """Leakage detection rides the banded-LSH dataflow: candidates
    from equi-joins only, split columns broadcast onto the O(pairs)
    result."""
    plan = plan_of(spark, "c_cross_split_leakage")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_calibration_bins_single_exchange(spark):
    """Calibration: a pure projection feeding one map-side-combinable
    aggregate — a single Exchange of 10 bin rows."""
    plan = plan_of(spark, "x_calibration_bins")
    assert "Join" not in plan, plan
    assert _exchange_count(plan) <= 1, plan


def test_seasonal_decompose_series_scale_windows(spark):
    """Seasonal decomposition: the corpus shuffles once for the daily
    rollup; everything after runs over O(days) rows."""
    plan = plan_of(spark, "w_seasonal_decompose")
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan


def test_bpe_training_rounds_topk_and_broadcast(spark):
    """BPE training: each round's winner comes from
    TakeOrderedAndProject (top-1, no global sort) and applies as a
    broadcast onto the corpus — never a shuffle of the corpus strings."""
    plan = plan_of(spark, "t_bpe_train_rounds")
    assert plan.count("TakeOrderedAndProject") >= 3, plan
    assert "CartesianProduct" not in plan


def test_ab_test_two_aggregations_no_join(spark):
    """A/B z-test: per-user conversion then a 4-integer global
    aggregate — two map-side-combinable aggs, no join anywhere."""
    plan = plan_of(spark, "x_ab_test_proportions")
    assert "Join" not in plan, plan
    assert _exchange_count(plan) <= 3, plan


def test_zipf_topk_no_global_sort(spark):
    """Zipf fit: the top-100 vocabulary comes from
    TakeOrderedAndProject, not a global sort of the term table."""
    plan = plan_of(spark, "t_zipf_fit")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan


def test_survival_km_horizon_broadcast(spark):
    """K-M: the 1-row horizon and total broadcast onto the span
    table; the only data shuffle is the per-user span aggregate."""
    plan = plan_of(spark, "x_survival_km")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_markov_single_user_shuffle(spark):
    """Markov transitions: one Exchange on user_id feeds the lead
    window; everything downstream is O(types^2)."""
    plan = plan_of(spark, "x_markov_transitions")
    assert "Join" not in plan, plan


def test_did_broadcast_limits_single_agg(spark):
    """DiD: date limits broadcast, then ONE global aggregate over a
    map-side projection."""
    plan = plan_of(spark, "x_did_estimator")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_ann_recall_eval_no_corpus_shuffle_joins(spark):
    """Recall eval: brute side broadcasts queries, LSH side joins the
    probed bucket, recall joins are O(queries*k) broadcasts."""
    for q in ("v_ann_recall_eval", "v_ann_multiprobe_recall"):
        plan = plan_of(spark, q)
        assert "CartesianProduct" not in plan, q
        assert plan.count("BroadcastHashJoin") >= 2, q


def test_ks_filter_pushed_and_distinct_value_window(spark):
    """KS drift test: the two-sample filter reaches the parquet scan;
    the corpus collapses to distinct values via one map-side-combined
    Exchange before the (distinct-value-sized) cumulative window."""
    plan = plan_of(spark, "x_ks_two_sample")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "event_type" in pushed, pushed
    assert "CartesianProduct" not in plan  # totals join is broadcast
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_poisson_bootstrap_no_join_map_side_combine(spark):
    """Poisson bootstrap: 32x explode feeds ONE map-side-combined
    aggregate — no join anywhere, one Exchange carrying O(parts*R)."""
    plan = plan_of(spark, "x_poisson_bootstrap")
    assert "Join" not in plan, plan
    assert _exchange_count(plan) <= 2, plan  # agg + final orderBy


def test_welch_single_aggregate_no_join(spark):
    """Welch t-test: six moments from one aggregate over the pushed
    purchase filter; no join, single Exchange."""
    plan = plan_of(spark, "x_welch_ttest")
    assert "Join" not in plan, plan
    assert _exchange_count(plan) <= 1, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "event_type" in pushed, pushed


def test_entropy_totals_broadcast_back(spark):
    """Segment entropy: the O(sources) totals broadcast back onto the
    cells — the corpus shuffles once, as counts."""
    plan = plan_of(spark, "x_entropy_segments")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_adamic_adar_no_cartesian_topk(spark):
    """Adamic-Adar: wedges via center-keyed equi-joins with the
    deg-cap table broadcast; release is top-k, not a global sort."""
    plan = plan_of(spark, "g_adamic_adar")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_dsir_weight_table_broadcast_topk(spark):
    """DSIR: the 256-row bucket-weight table is broadcast back onto
    the bigram stream; top-20 release is TakeOrderedAndProject."""
    plan = plan_of(spark, "c_dsir_importance")
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan


def test_jpeg_dims_single_python_stage_no_shuffle(spark):
    """JPEG metadata: fixture build + marker walk are back-to-back
    Arrow kernels in one map-only stage — payload bytes never cross
    an Exchange."""
    plan = plan_of(spark, "m_jpeg_dims")
    assert _exchange_count(plan) == 0, plan
    assert "CartesianProduct" not in plan


def test_acf_series_scale_joins(spark):
    """ACF: the corpus collapses to the O(days) daily table in one
    aggregate; the lag expansion and shifted self-join are broadcast
    joins on series-scale data."""
    plan = plan_of(spark, "x_acf_lags")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_asof_nearest_no_join_operator(spark):
    """Nearest as-of: the union-sort composition — there must be NO
    join operator in the plan at all (the naive form is an
    inequality join; the oracle keeps that shape, the engine must
    not)."""
    plan = plan_of(spark, "j_asof_nearest")
    assert "Join" not in plan, plan


def test_cdc_chunking_map_only_then_one_shuffle(spark):
    """CDC chunking: boundary detection + chunk hashing are per-row
    HOFs; the only shuffle is the chunk-keyed count, released top-k."""
    plan = plan_of(spark, "d_cdc_chunks")
    assert "Join" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_hits_no_cartesian_edges_reused(spark):
    """HITS: four half-rounds of edge-keyed joins + broadcast max
    scalars — never a cartesian blowup."""
    plan = plan_of(spark, "g_hits_authorities")
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_cluster_canonical_narrow_metadata_join(spark):
    """Canonical selection: the doc-metadata join reads only n_chars
    (column pruning) next to the component assignment."""
    plan = plan_of(spark, "d_cluster_canonical")
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    doc_reads = [ln for ln in reads if "n_chars" in ln]
    assert doc_reads and all("text" not in ln for ln in doc_reads), reads


def test_ohlc_no_window_single_agg(spark):
    """OHLC: min_by/max_by make open/close aggregable — no Window
    operator over raw ticks; one map-side-combined Exchange."""
    plan = plan_of(spark, "w_ohlc_bars")
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan


def test_weighted_median_collapse_then_window(spark):
    """Weighted median: (group, price) aggregate BEFORE the
    cumulative window; no join anywhere."""
    plan = plan_of(spark, "x_weighted_median")
    assert "Join" not in plan, plan


def test_gini_split_no_join_distinct_value_scan(spark):
    """Gini split: distinct-value class histogram + cumulative
    windows; no join, and the release is top-1."""
    plan = plan_of(spark, "x_gini_split")
    assert "Join" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_target_encoding_category_table_broadcast(spark):
    """LOO target encoding: the O(categories) stats table broadcasts
    back; the encode is row-local."""
    plan = plan_of(spark, "w_target_encoding")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_media_dispatch_zero_shuffle(spark):
    """Media dispatch: fixture build + sniff/route are back-to-back
    Arrow kernels — payload bytes never cross an Exchange."""
    plan = plan_of(spark, "m_media_dispatch")
    assert _exchange_count(plan) == 0, plan


def test_binary_quantization_no_cartesian_rerank_windows(spark):
    """Binary quantization: query codes broadcast for the Hamming
    scan; shortlist + rerank are per-query windows, no cartesian."""
    plan = plan_of(spark, "v_binary_quantization")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ipw_single_aggregate_broadcast_total(spark):
    """IPW: one map-side-combined aggregate to O(segments); total is
    a broadcast scalar."""
    plan = plan_of(spark, "x_ipw_ate")
    # one corpus-sized Exchange (the seg aggregate); the others carry
    # O(segments) rows (total-scalar branch + ordered release)
    assert _exchange_count(plan) <= 4, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" not in plan, plan


def test_heaps_checkpoint_probes_are_small_side(spark):
    """Heaps: the checkpoint probes join the O(points) marks against
    collapsed aggregates — never a corpus-sized cartesian."""
    plan = plan_of(spark, "t_heaps_law")
    assert "CartesianProduct" not in plan, plan


def test_bm25_postings_prefilter_before_shuffle(spark):
    """BM25's tf aggregate must filter to query terms BEFORE its
    exchange — the shuffle carries only matching postings (the
    inverted-index access pattern), never the full token stream."""
    plan = plan_of(spark, "x_bm25_retrieval")
    assert "TakeOrderedAndProject" in plan or "rangepartitioning" not in plan
    # the term IN-filter must appear below an exchange
    assert plan.count("Exchange") >= 1
    assert "CartesianProduct" not in plan


def test_bloom_probe_broadcasts_bit_table(spark):
    """Bloom membership probing must broadcast the bounded distinct-
    position table — the probe stream never shuffles for the semi."""
    plan = plan_of(spark, "x_bloom_filter")
    assert "BroadcastHashJoin LeftSemi" in plan, plan
    assert "SortMergeJoin LeftSemi" not in plan, plan


def test_contamination_bloom_probe_broadcasts(spark):
    plan = plan_of(spark, "c_contamination_bloom")
    assert "BroadcastHashJoin LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semdedup_pairs_join_on_cluster_id(spark):
    """SemDeDup's verification join must be an equi-join on the
    cluster id — never an all-pairs cartesian over the corpus — and
    its input must be CAP-BOUNDED (r3 verdict item 1): a LeftSemi
    against the within-cap cluster set sits ahead of the pair join,
    with the cap literal visible in the size filter."""
    plan = plan_of(spark, "c_semdedup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftSemi" in plan, f"no cluster-cap semi-join\n{plan}"
    from map2db_spark.queries_round5 import _SEMDEDUP_CAP
    assert f"<= {_SEMDEDUP_CAP}" in plan, f"cap filter missing\n{plan}"


def test_semantic_near_dup_cell_cap_rail(spark):
    """d_semantic_dedup (semantic_near_dup with cell_cap): the pair
    join input rides a LeftSemi against the within-cap cell set."""
    plan = plan_of(spark, "d_semantic_dedup")
    assert "LeftSemi" in plan, f"no cell-cap semi-join\n{plan}"
    from map2db_spark.queries_extra import _SEM_CELL_CAP
    assert f"<= {_SEM_CELL_CAP}" in plan, f"cap filter missing\n{plan}"


def test_contamination_bloom_chained_semis_no_gram_shuffle(spark):
    """The k-position probe must be chained broadcast semi-joins: the
    gram stream never shuffles for a per-gram bit count (the only
    corpus-keyed exchange is the tiny flagged-doc distinct)."""
    plan = plan_of(spark, "c_contamination_bloom")
    assert plan.count("BroadcastHashJoin LeftSemi") >= 4, plan
    # the per-gram bit-count aggregate is gone (bench-side gram
    # distincts remain — those are benchmark-sized, not corpus-sized)
    assert "n_set" not in plan, plan


def test_round6_codec_queries_map_only_no_shuffle(spark):
    """The r6 codec rows (external-parity and round-trip kernels) are
    all single map-only mapInPandas stages: payload bytes never cross
    an Exchange, exactly as their docstrings claim."""
    for name in ("m_webp_libwebp_parity", "m_vp8_segmentation",
                 "m_tiff_pixels", "m_tiff_libtiff_parity",
                 "m_deflate_zlib_parity", "m_png_fromscratch",
                 "m_gif_pixels", "m_gif_giflib_parity"):
        plan = plan_of(spark, name)
        assert _exchange_count(plan) == 0, (name, plan)
        assert "CartesianProduct" not in plan, name


def test_vp8_and_png_parity_queries_stay_arrow_map_only(spark):
    """The r6 codec-parity queries decode fixture/derived payloads
    inside one Arrow kernel: the plan is a single MapInPandas over
    the documents scan with no join and no payload shuffle (the only
    Exchange allowed is m_vp8_pixels' 16-row result sort)."""
    for name in ("m_vp8_pixels", "m_png_libpng_parity"):
        plan = plan_of(spark, name)
        # formatted explain prints each node in the tree AND in the
        # detail section: one kernel == exactly 2 occurrences
        assert plan.count("MapInPandas") == 2, (name, plan)
        assert "Join" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_decode_native_dispatch_map_only(spark):
    """The r7 dispatch-certification query is a single map-only Arrow
    kernel over the documents scan: payloads never shuffle."""
    plan = plan_of(spark, "m_decode_native_dispatch")
    assert _exchange_count(plan) == 0, plan
    assert plan.count("MapInPandas") == 2, plan  # tree + detail section


def test_decode_corpus_bench_repartitions_and_partial_aggs(spark):
    """The r7 bench decode row, updated for the r15 gated scatter:
    (a) the payload scatter fires ONLY when the corpus scan arrives
    under-split (the r7 unconditional repartition(64) shuffled every
    payload byte even when the scan already ran at full parallelism
    — OPTIMIZATION_r15.md; the under-split guard itself is exercised
    by test_decode_corpus_scatter_fires_when_underspilt), (b) the
    per-format reduction is partial-agg'd map-side (HashAggregate
    below the key Exchange), (c) what crosses the shuffle is metadata
    rows, never payload bytes (no payload column above the kernel)."""
    plan = plan_of(spark, "m_decode_corpus_bench")
    assert plan.count("MapInPandas") == 2, plan
    # partial aggregate before the fmt hash Exchange: formatted plans
    # list nodes bottom-up with numbered headers; the first
    # HashAggregate must appear before the hashpartitioning Exchange
    first_hash_agg = plan.index("HashAggregate")
    fmt_exchange = plan.index("hashpartitioning(fmt")
    assert first_hash_agg < fmt_exchange, plan
    assert "payload" not in plan.split("hashpartitioning(fmt")[1], plan


def test_jpeg_libjpeg_parity_map_only(spark):
    """The r8 external-JPEG-parity query is, like its webp/png
    siblings, a single map-only Arrow kernel over the filtered
    documents scan: fixtures synthesize, encode, and coefficient-
    compare inside the kernel; nothing shuffles and no payload ever
    leaves an executor."""
    plan = plan_of(spark, "m_jpeg_libjpeg_parity")
    assert _exchange_count(plan) == 0, plan
    assert plan.count("MapInPandas") == 2, plan  # tree + detail section


def test_jpeg_quality_estimate_map_only(spark):
    """The r8 quality-estimation query: one map-only Arrow kernel —
    at 100 TB this is a header-only ingest pass (quant tables sit in
    the first ~200 bytes), so the plan must show no Exchange and no
    payload movement."""
    plan = plan_of(spark, "m_jpeg_quality_estimate")
    assert _exchange_count(plan) == 0, plan
    assert plan.count("MapInPandas") == 2, plan


def test_resize_exif_jpeg_broadcast_metadata_no_payload_shuffle(spark):
    """The r8 resize-chain e2e: payloads flow through map-only Arrow
    stages (synth -> resize -> feature sums); the only join is the
    30-row metadata join, which must BROADCAST (no hashpartitioning
    row shuffle anywhere — the sole row Exchange is the final
    orderBy's range partitioning, carrying metadata columns only)."""
    plan = plan_of(spark, "m_resize_exif_jpeg")
    assert "BroadcastHashJoin" in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning(media_id" in plan, plan
    # nothing above the feats kernel carries payload bytes
    assert "payload" not in plan.split("rangepartitioning")[1], plan


def test_phash_clusters_metadata_only_shuffles(spark):
    """The r8 pHash dedup: payloads are synthesized, decoded, and
    hashed INSIDE the Arrow kernel — no payload column exists
    anywhere in the plan; what shuffles is (group_id, phash) metadata
    and the 1-row totals side is broadcast, never a row-shuffled
    join."""
    plan = plan_of(spark, "d_phash_clusters")
    assert "payload" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_audio_fingerprint_metadata_only_shuffles(spark):
    """The r9 audio landmark dedup: WAV payloads are synthesized,
    container-round-tripped, and fingerprinted INSIDE the Arrow kernel
    — no payload column exists anywhere in the plan; matching is an
    inverted-index hash join over (doc_id, group_id, h) int rows,
    never a cartesian product; the stop-hash rail is a broadcast
    anti-join; the persisted kernel output (InMemoryRelation) feeds
    every branch so the decode kernel materializes once."""
    plan = plan_of(spark, "d_audio_fingerprint")
    assert "payload" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert "InMemoryTableScan" in plan, plan  # one persisted kernel
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin LeftAnti" in plan, plan  # stop-hash rail


def test_corpus_curation_single_decode_pass(spark):
    """The r9 curation e2e (decode -> quality filter -> AC-hash dedup
    -> domain cap) must run ONE decode pass: the kernel output is
    persisted (InMemoryRelation) and every downstream stage reads it
    — no payload column exists in the plan at all, the dedup window
    shuffles by ac_hash and the cap window by domain (metadata-only
    Exchanges), and the 4-row count joins broadcast."""
    plan = plan_of(spark, "m_corpus_curation_e2e")
    assert "payload" not in plan, plan
    assert "InMemoryTableScan" in plan, plan
    assert "hashpartitioning(ac_hash" in plan, plan
    assert "hashpartitioning(domain" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_unigram_viterbi_map_only(spark):
    """The r9 unigram-LM tokenization pass: vocabulary broadcast +
    map-only Arrow kernel — zero Exchange, the corpus never shuffles
    (the plan shape of a 100 TB tokenization pass)."""
    plan = plan_of(spark, "t_unigram_viterbi")
    assert _exchange_count(plan) == 0, plan
    assert plan.count("MapInPandas") == 2, plan  # tree + detail section


def test_hashed_classifier_broadcasts_model(spark):
    """The r9 hashed linear quality classifier: the weight table is
    the BROADCAST side (a model relation must never be a shuffle
    side), and the per-doc score partial-aggregates map-side before
    the doc-keyed Exchange (tokens are co-located per doc)."""
    plan = plan_of(spark, "t_quality_classifier_hashed")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    first_hash_agg = plan.index("HashAggregate")
    doc_exchange = plan.index("hashpartitioning(doc_id")
    assert first_hash_agg < doc_exchange, plan


def test_theta_sketch_topk_no_global_sort(spark):
    """The r9 KMV/theta sketch: each side's k-minimum-values sketch
    must be a TakeOrderedAndProject (map-side partial top-k, k rows
    to one reducer) — a global Sort+Exchange of the element table
    would defeat the sketch's entire point at scale."""
    plan = plan_of(spark, "x_theta_sketch_intersection")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_spatial_neighbor_join_is_cell_keyed(spark):
    """The r9 grid spatial join: the pair join must be an EQUI-join on
    the grid cell keys (hash-based — broadcast here, partitioned at
    scale), never a cartesian product with a distance filter; the
    only nested-loop joins are the two 3-row offset replications."""
    plan = plan_of(spark, "j_spatial_neighbor_join")
    assert "CartesianProduct" not in plan, plan
    assert "pcx" in plan, plan  # cell keys reached the join
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan), plan


def test_multipattern_scan_is_map_only(spark):
    """The r9 Aho-Corasick screening: document text enters the Arrow
    kernel and never appears above it — what shuffles is (pattern,
    count) metadata only."""
    plan = plan_of(spark, "c_multipattern_contamination")
    assert "MapInPandas" in plan, plan
    assert "text" not in plan.split("MapInPandas")[0], plan


def _exchange_blocks(plan: str) -> list[str]:
    """The formatted-explain detail blocks of every Exchange node."""
    return [
        b
        for b in plan.split("\n\n")
        if b.strip().startswith("(") and ") Exchange" in b.splitlines()[0]
    ]


def test_suffix_dedup_shuffles_fixed_width_rows_only(spark):
    """The r10 corpus-wide exact-substring dedup (VERDICT r9 #1 bar):
    every Exchange carries fixed-width (anchor-hash, doc_id, offset)
    rows — the text itself never shuffles and no stage forms text^2
    pairs.  r15 shape: the anchor-duplication test is a window count
    over ONE anchor-keyed exchange (no count aggregate, no positions
    checkpoint, no semi-join probe), so the position table crosses
    the network exactly once; the span merge is the second (per-doc)
    window exchange."""
    import contextlib
    import io

    from map2db_spark.operators.exact_substring import duplicate_spans
    from map2db_spark.tables import Tables

    df = duplicate_spans(Tables(spark, SF_CORRECT).documents, 25)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    blocks = _exchange_blocks(plan)
    # anchor-hash window clustering + per-doc merge window (plus the
    # gated input scatter when the scan is under-split)
    assert len(blocks) >= 2, plan
    # positions have ONE consumer: the gated text-bearing scatter of
    # the raw docs appears at most once, and every position/anchor
    # exchange stays text-free — no stage ever moves text
    # proportional to positions or pairs
    text_blocks = [b for b in blocks if "text#" in b]
    assert len(text_blocks) <= 1, plan
    for b in text_blocks:
        assert "off#" not in b and "h#" not in b, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the duplication floor is a window count over the anchor hash —
    # no separate count aggregate, no checkpoint barrier in the plan
    assert plan.count("Window") >= 2, plan
    assert "localCheckpoint" not in plan, plan
    # r16 (VERDICT r15 #3): the anchor is the 128-bit seeded xxhash64
    # PAIR — a single 64-bit anchor expects ~1e8 birthday collisions
    # at the 100 TB target (~1e14 windows), silently degrading the
    # EXACT-semantics claim; both halves must key the window exchange
    anchor_blocks = [b for b in blocks if "h#" in b]
    assert anchor_blocks, plan
    assert any("h2#" in b for b in anchor_blocks), plan


def test_novelty_filter_probe_broadcasts_bounded_bits(spark):
    """The r10 frozen-sketch novelty filter: membership is chained
    broadcast semi-joins against the bit table (bounded by the
    CONSTANT m, the one provably-broadcastable frame) — the new
    shard's gram stream never shuffles for membership; the only
    corpus-keyed exchanges are the per-doc rollups."""
    plan = plan_of(spark, "c_novelty_filter_frozen")
    assert plan.count("BroadcastHashJoin LeftSemi") >= 4, plan
    assert "CartesianProduct" not in plan, plan


def test_ivf_pq_residual_broadcasts_bounded_frames_only(spark):
    """The r10 IVF-PQ: seeds/codebook/distance tables are the bounded
    broadcast frames; candidate scoring is a (cell, s, code)-keyed
    hash join — never a cartesian over vectors."""
    plan = plan_of(spark, "v_ivf_pq_residual")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_gbdt_histogram_split_search(spark):
    """The r10 boosted stumps: the split search aggregates (x, count,
    sum) with map-side partials (the histogram trick) and the 1-row
    best-split frames ride broadcasts; nothing forms a cartesian."""
    plan = plan_of(spark, "x_gbdt_stumps")
    assert "partial_sum" in plan or "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_paragraph_dedup_single_chunk_window(spark):
    """The r10 paragraph dedup: first-occurrence is ONE window over
    the chunk key; reconstruction is one per-doc aggregate — no
    pairwise join anywhere."""
    plan = plan_of(spark, "d_paragraph_dedup")
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Join" not in plan, plan  # dedup+rebuild needs NO join at all


def test_logreg_newton_broadcasts_weights(spark):
    """The r10 Newton step: sufficient statistics aggregate with
    map-side partials; the 1-row weight frame broadcasts back for
    scoring (never a shuffle side)."""
    plan = plan_of(spark, "x_logreg_newton")
    assert "partial_sum" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_kneser_ney_no_forced_broadcast_no_cartesian(spark):
    """The r10 KN scorer: count-table joins stay UNHINTED (AQE picks;
    natural-language bigram cardinality can outgrow broadcast) and
    nothing is pairwise."""
    plan = plan_of(spark, "t_kneser_ney_bigram")
    assert "CartesianProduct" not in plan, plan
    assert "partial_count" in plan, plan


def test_truncated_recall_one_pass_two_scores(spark):
    """The r10 Matryoshka eval: the 4-query frame broadcasts into one
    dim-keyed join and BOTH scores come out of the same aggregate —
    no second corpus scan for the truncated ranking."""
    plan = plan_of(spark, "v_truncated_dim_recall")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("posexplode") <= 2, plan  # tree+detail of ONE explode


def test_coordinated_sample_semi_joins(spark):
    """The r10 coordinated sample: sampling is a map-side hash
    predicate (a Filter, never a join); the containment certificates
    are key-keyed semi-joins."""
    plan = plan_of(spark, "x_coordinated_sample")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_entity_resolution_block_keyed_join(spark):
    """The r10 ER: candidate pairs come from the block-key equi-join
    (never an all-pairs cartesian over records); matching is JVM
    levenshtein, no Python in the plan.  Asserted on the pre-CC half
    (the CC operator's internal checkpoint truncates lineage in the
    registered query's final plan, which is checked for no-cartesian
    separately)."""
    import contextlib
    import io

    from map2db_spark.queries_round10 import _er_records_and_edges

    _recs, _pairs, edges = _er_records_and_edges(spark, SF_CORRECT)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        edges.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "levenshtein" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan_of(spark, "j_entity_resolution")


def test_pinball_forecast_frame_broadcasts(spark):
    """The r10 pinball eval: the 7-row per-DOW forecast frame
    broadcasts onto eval days; train ranking windows run over
    O(train days), and nothing is pairwise."""
    plan = plan_of(spark, "x_quantile_pinball")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


# ---------------------------------------------------------------------------
# round-10 continuation operators (session 2)
# ---------------------------------------------------------------------------


def test_dq_audit_one_agg_scan_per_table_and_anti_joins(spark):
    """Column checks share per-table aggregate scans and FK orphans are
    anti-joins; nothing in the audit is a cartesian or a sort-merge."""
    plan = plan_of(spark, "r_dq_constraint_audit")
    assert plan.count("LeftAnti") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # 12 checks compile to ~16 scans (each listed twice in formatted
    # output), NOT one scan per check per table
    assert plan.count("Scan parquet") <= 32, plan.count("Scan parquet")


def test_span_corruption_single_int_shuffle(spark):
    """The island merge is ONE doc_id exchange over fixed-width
    (doc_id, s, e) rows; the text column never reaches an exchange
    (positions are generated from token counts, text is dropped at the
    scan projection)."""
    plan = plan_of(spark, "t_span_corruption_masks")
    assert plan.count("hashpartitioning(doc_id") == 1, plan
    assert "SortMergeJoin" not in plan
    # the exchanged attribute set is numeric only: the shuffle's
    # producer projects exactly doc_id/n/s/e (no string column)
    exch = plan.split("Arguments: hashpartitioning(doc_id")[0]
    kernel_proj = exch.rsplit("Project", 1)[-1]
    assert "text" not in kernel_proj


def test_pps_sample_two_pass_prefix_sum_and_broadcast_probes(spark):
    """The weight line rides the range-partitioned two-pass prefix sum
    (no single-reducer window) and the constant probe table joins as a
    broadcast nested-loop on the containment predicate."""
    plan = plan_of(spark, "c_pps_systematic_sample")
    assert "rangepartitioning" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_bradley_terry_pairs_materialized_once(spark):
    """The 28-row pair table is checkpointed before the unrolled MM
    steps: without truncation the lineage re-derives it (and re-scans
    events) exponentially in iteration depth.  The final plan must
    read NO parquet at all — only the materialized bounded frames."""
    plan = plan_of(spark, "x_bradley_terry_mm")
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")
    assert "SortMergeJoin" not in plan


def test_hard_negative_two_corpus_passes_no_self_shuffle(spark):
    """Queries broadcast against the corpus (non-equi -> nested loop
    with the BOUNDED side as build), the conditional-argmin pass is
    materialized once, and the corpus is never sort-merge-joined or
    cartesian-joined with itself."""
    plan = plan_of(spark, "v_hard_negative_mining")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # one corpus pass remains in the final plan (the margin count);
    # the argmin pass ran at checkpoint time: 2 scans x2 listings
    assert plan.count("Scan parquet") <= 4, plan.count("Scan parquet")


def test_nfc_scrub_map_only_kernel(spark):
    """The scrub is one Arrow kernel over the scan — no exchange of
    any kind before the kernel (the final orderBy's range partition is
    the only exchange in the query)."""
    plan = plan_of(spark, "t_unicode_nfc_scrub")
    assert "MapInPandas" in plan
    assert "hashpartitioning" not in plan
    assert plan.count("rangepartitioning") == 1


def test_shard_manifest_rank_is_range_partitioned(spark):
    """The global shuffle order rides the two-pass range-partitioned
    rank — no single-reducer window over the corpus — and the
    manifest aggregate is the only hash exchange."""
    plan = plan_of(spark, "c_shard_shuffle_manifest")
    assert "rangepartitioning" in plan
    assert "Exchange SinglePartition" not in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# round-11 operators
# ---------------------------------------------------------------------------


def test_bipartite_projection_caps_before_self_join(spark):
    """g_bipartite_projection's hub rail: the degree-cap filter must
    sit UNDER the part-pair self-join (cost is sum d_c^2 without it),
    and the pair join must be keyed on the customer (an equi-join,
    never a cartesian)."""
    plan = plan_of(spark, "g_bipartite_projection")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the cap predicate itself survives into the physical plan as a
    # filter on the degree column (ADVICE r11: match the predicate,
    # not a bare '50' that any plan id would satisfy)
    assert re.search(r"\bd#\d+L? <= 50\b", plan), plan
    assert "Join" in plan
    # top-k by weight avoids a global sort
    assert "TakeOrderedAndProject" in plan


def test_hilbert_index_is_straightline_projection(spark):
    """x_hilbert_layout's 8 unrolled reflect-and-swap steps must
    collapse into straight-line projection work directly over the
    Range source — NO Exchange between the steps (the index is
    map-side arithmetic; the only Exchanges in the plan are the
    locality-measurement windows and scalar-fold broadcasts)."""
    import re

    plan = plan_of(spark, "x_hilbert_layout")
    # a run of >= 8 consecutive Project nodes ending at Range, with
    # no Exchange/Sort interleaved
    chain = re.search(
        r"(?:\+- Project \(\d+\)\s*\n\s*:*\s*)+\+- Range", plan
    )
    assert chain is not None, "step chain did not fuse over Range"
    assert chain.group(0).count("Project") >= 8
    assert "Exchange" not in chain.group(0)


def test_pass_at_k_is_two_aggregates_no_join(spark):
    """x_pass_at_k: samples fold to (task, n, c) in one combinable
    aggregate (map-side partials visible as partial_count/sum) and
    the rollup is a second aggregate — no joins anywhere."""
    plan = plan_of(spark, "x_pass_at_k")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x 2


def test_mann_whitney_windows_over_values_not_rows(spark):
    """x_mann_whitney_u: the rank window must consume the
    VALUE-GROUPED aggregate (HashAggregate under Window), never the
    raw orders rows — the key scale claim of the midrank trick."""
    plan = plan_of(spark, "x_mann_whitney_u")
    assert "Window" in plan
    win_pos = plan.index("Window")
    agg_before_window = plan[:win_pos].count("HashAggregate")
    assert agg_before_window >= 1, "window must sit above the value aggregate"


def test_tar_ingest_parses_executor_side(spark):
    """f_tar_shard_ingest: the read-back path must show the
    binaryFile scan feeding a Python map kernel (mapInPandas) — the
    parse happens in executor tasks, not on the driver."""
    plan = plan_of(spark, "f_tar_shard_ingest")
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()


# ---------------------------------------------------------------------------
# round-12 operators
# ---------------------------------------------------------------------------


def test_cochran_q_is_one_combinable_aggregate(spark):
    """x_cochran_q: the entire test is ONE map-side combinable
    aggregate over events (partial sums visible), no join, no window,
    no shuffle of row data (only the single-partition final fold)."""
    plan = plan_of(spark, "x_cochran_q")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "partial_sum" in plan or "partial_count" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_isotonic_lattice_never_retouches_events(spark):
    """x_isotonic_calibration: the 20-row grid materializes ONCE
    (eager localCheckpoint — the single events pass happens there);
    the minimax lattice plan reads only the checkpointed grid, so the
    base table appears NOWHERE in the final plan despite four grid
    references."""
    plan = plan_of(spark, "x_isotonic_calibration")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "ExistingRDD" in plan, plan


def test_shapley_lattice_never_retouches_events(spark):
    """x_shapley_attribution: the 8-row coalition-value table
    materializes once (eager localCheckpoint after the single
    user-keyed events rollup); the v(S)/v(S|c) self-join reads only
    the checkpoint."""
    plan = plan_of(spark, "x_shapley_attribution")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "ExistingRDD" in plan, plan


def test_mattr_prunes_text_before_exchanges(spark):
    """t_mattr_diversity: only token rows shuffle — the text column
    is projected away before the first Exchange (tokenize-then-
    explode happens map-side over the scan)."""
    plan = plan_of(spark, "t_mattr_diversity")
    blocks = _exchange_blocks(plan)
    assert blocks, plan  # the lag window needs a (doc, tok) exchange
    for b in blocks:
        assert "text#" not in b, b
    # the lag runs as a real distributed window keyed on (doc, tok)
    assert "Window" in plan


# --- round-14 registrations -----------------------------------------------


def test_good_turing_lattice_never_retouches_documents(spark):
    """t_good_turing: the frequency-of-frequencies table materializes
    ONCE (eager localCheckpoint — the corpus explode+aggregate happens
    there); the totals/shifted-join lattice reads only the checkpoint,
    broadcast both ways, so documents appears NOWHERE in the final
    plan despite three fof references."""
    plan = plan_of(spark, "t_good_turing")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "ExistingRDD" in plan
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2


def test_page_hinkley_two_scans_partitioned_windows(spark):
    """x_page_hinkley: events is scanned exactly twice overall — the
    per-series scalar pass (one conditional aggregate, materialized
    by the eager localCheckpoint so the final plan reads ExistingRDD)
    plus the one monitoring scan visible here; the scalar table
    broadcasts back; every window is partitioned by the series key —
    no global window over data."""
    plan = plan_of(spark, "x_page_hinkley")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan
    # the running-sum/min windows ride the event_type partitioning
    assert "SinglePartition" not in plan, plan


def test_tost_is_one_combinable_aggregate_no_join(spark):
    """x_tost_equivalence: the whole test is ONE map-side combinable
    aggregate over events (six integer sufficient statistics per
    segment); everything downstream is row-local expressions."""
    plan = plan_of(spark, "x_tost_equivalence")
    assert "Join" not in plan
    assert "partial_sum" in plan or "partial_count" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_label_propagation_linear_lineage(spark):
    """g_label_propagation: edges (with self-loops) localCheckpoint
    once; each of the 6 rounds references the label frame exactly
    ONCE (min over neighbours-including-self), so the plan grows
    linearly in rounds — 6 join+agg pairs, not 2^6 self-join copies —
    and the base table appears nowhere in the final plan."""
    plan = plan_of(spark, "g_label_propagation")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "ExistingRDD" in plan
    joins = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert joins <= 2 * 6, plan  # linear, with slack for join strategy
    assert "TakeOrderedAndProject" in plan


def test_obrien_fleming_lattice_never_retouches_events(spark):
    """x_obrien_fleming: the K-row look table materializes once
    (eager localCheckpoint after the single conditional aggregate);
    the cumulative windows and boundary expressions run on the K-row
    checkpoint only."""
    plan = plan_of(spark, "x_obrien_fleming")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "ExistingRDD" in plan


def test_hll_sparse_pairs_materialize_once(spark):
    """x_hll_sparse: the sparse (idx, rho) pair table materializes
    once (eager localCheckpoint after the map-side-combinable max);
    the fingerprint rollup AND the dense downgrade read the
    checkpoint, so orders is scanned exactly once more (the exact
    side)."""
    plan = plan_of(spark, "x_hll_sparse")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "ExistingRDD" in plan


def test_textrank_iterates_over_checkpointed_edges(spark):
    """t_textrank_keywords: edges and degrees localCheckpoint once
    (the doc-local adjacency self-join happens there); the 3 rank
    iterations read only checkpoints, and top-k is TakeOrdered —
    never a full sort of the vocabulary."""
    plan = plan_of(spark, "t_textrank_keywords")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "ExistingRDD" in plan
    assert "TakeOrderedAndProject" in plan


def test_tdigest_rank_is_range_partitioned(spark):
    """x_tdigest_quantiles: the global rank comes from the two-pass
    range-partitioned rank (repartitionByRange + mapInPandas offsets),
    NOT a single-task global window; the only unpartitioned window is
    the cum_n pass over <= 32 centroid rows (post-aggregate)."""
    plan = plan_of(spark, "x_tdigest_quantiles")
    assert "rangepartitioning" in plan, plan
    assert "MapInPandas" in plan, plan
    # the digest rollup is a real combinable aggregate
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_by_fdr_windows_over_checkpointed_hypotheses(spark):
    """x_benjamini_yekutieli: the ranked hypothesis table
    localCheckpoints once (the only global window runs there, over
    the TINY hypothesis table); the final plan reads the checkpoint
    and broadcasts the two scalar tables back — part is never
    re-scanned."""
    plan = plan_of(spark, "x_benjamini_yekutieli")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_kruskal_wallis_windows_over_values_not_rows(spark):
    """x_kruskal_wallis: the corpus collapses through the
    checkpointed (grp, value) aggregate; the mid-rank window runs
    over DISTINCT VALUES only (also checkpointed), so the final plan
    reads ExistingRDDs, broadcasts the value-rank table into the
    group join, and never re-scans events."""
    plan = plan_of(spark, "x_kruskal_wallis")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan


def test_ljung_box_lattice_never_retouches_events(spark):
    """x_ljung_box: events collapses to the checkpointed O(days)
    daily table; the lag expansion and shifted self-join are
    broadcasts of that table, the cumulative window runs over <= 7
    rows — no corpus re-scan anywhere in the final plan."""
    plan = plan_of(spark, "x_ljung_box")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan


def test_nelson_aalen_windows_over_checkpointed_spans(spark):
    """x_nelson_aalen: the O(users) span table localCheckpoints once
    (its consumers — the risk aggregate and the total — would each
    re-scan events otherwise, the double-scan this gate caught on the
    first cut); both cumulative windows run over the
    O(distinct-spans) risk table, never over event rows."""
    plan = plan_of(spark, "x_nelson_aalen")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "ExistingRDD" in plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_fleiss_kappa_is_two_combinable_aggregates(spark):
    """x_fleiss_kappa: the (doc, cat) count table localCheckpoints
    once (the subject and category marginals would each replay the
    documents scan + rater explode otherwise — caught by this gate on
    the first cut); both downstream aggregates are map-side
    combinable and the marginal scalar joins back by broadcast."""
    plan = plan_of(spark, "x_fleiss_kappa")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "ExistingRDD" in plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_sgt_regression_reads_checkpointed_fof(spark):
    """t_simple_good_turing: the fof table localCheckpoints once (the
    two corpus-collapsing aggregates run there); the OLS moments and
    the smoothed output both read the checkpoint — documents is never
    re-scanned."""
    plan = plan_of(spark, "t_simple_good_turing")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_reservoir_global_path_is_takeordered(spark):
    """x_reservoir_merge: the priority table localCheckpoints once;
    BOTH sample paths compile to TakeOrderedAndProject (distributed
    top-k — per-partition heaps, k rows out, never a global sort);
    the shard window partitions by the shard key (no SinglePartition
    window over the corpus)."""
    plan = plan_of(spark, "x_reservoir_merge")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "ExistingRDD" in plan
    assert "TakeOrderedAndProject" in plan, plan


def test_hill_estimator_reads_checkpointed_topk(spark):
    """t_hill_tail_index: the top-(k+1) order-statistic table (a
    TakeOrdered over the token-frequency aggregate) localCheckpoints
    once; the estimator's joins and aggregate run over <= 51 rows —
    documents is never re-scanned in the final plan."""
    plan = plan_of(spark, "t_hill_tail_index")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert "ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# ---------------------------------------------------------------------------
# r15 optimization-round gates (OPTIMIZATION_r15.md)
# ---------------------------------------------------------------------------


def test_minhash_lsh_signature_pass_cached_no_sort(spark):
    """r15: the d_minhash_lsh signature aggregate must stay a no-sort
    HashAggregate (int minhash chunks — min(string) would plan
    Sort+SortAggregate over the exploded shingle table) and the
    multi-consumer intermediates (capped band buckets, candidate
    shingles) must come from the cache — unpersisted, the corpus-wide
    explode+md5 signature pass re-executed once per consumer."""
    plan = plan_of(spark, "d_minhash_lsh")
    assert "SortAggregate" not in plan, plan
    assert "InMemoryRelation" in plan, plan


def test_minhash_lsh_candidate_capped_verification(spark):
    """r15 restructure gate: candidate generation is the one-exchange
    capped_band_buckets + inline bucket_pairs shape —

    - the bucket cap is a Window count applied BEFORE the member
      collect_list (bounded aggregation buffers; collecting first
      would buffer a degenerate bucket's full membership),
    - pairs explode from the bucket arrays (no band-key self-join, no
      bucket-count broadcast build),
    - exact-Jaccard verification is candidate-capped via a LeftSemi
      on (id_a, id_b) and carries per-doc sizes on the shingle rows
      (no separate sizes aggregate, no n_a/n_b joins)."""
    plan = plan_of(spark, "d_minhash_lsh")
    # window-capped collect: Window node present, and the collect_list
    # aggregate (ObjectHashAggregate) exists with NO band-key self-join
    assert "collect_list" in plan, plan
    assert "ObjectHashAggregate" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the only equi-joins are the broadcast semi/inner of the
    # verification half; the band-key self-join is gone: every
    # BroadcastHashJoin must mention shingle/doc/id keys, none bk
    for blk in re.findall(r"\(\d+\) BroadcastHashJoin.*", plan):
        assert "bk" not in blk, blk
    # candidate-capped verification: LeftSemi filter on the pair keys
    assert "LeftSemi" in plan, plan
    # sizes ride the shingle rows: no countDistinct-style sizes
    # aggregate feeding a broadcast join (count(1) windows instead)
    assert plan.count("count(distinct") == 0, plan


def test_decode_corpus_no_payload_shuffle(spark):
    """r15: the decode bench row must not shuffle payloads when the
    corpus scan is already well-split — the former unconditional
    repartition(64) moved every payload byte through an Exchange and
    paid 64 Python dispatches for a 2.6 MB corpus."""
    plan = plan_of(spark, "m_decode_corpus_bench")
    assert "RoundRobinPartitioning" not in plan, plan
    for block in re.findall(r"\(\d+\) Exchange\n(?:.+\n)+?(?=\n)", plan):
        assert "payload" not in block, block


def test_decode_corpus_scatter_fires_when_underspilt(spark):
    """r15 (r16: ONE shared definition, functions/partitioning.py —
    VERDICT r15 #7): the gated scatter's under-split branch — a
    1-split frame fans out to ``par`` round-robin partitions before
    the decode kernel, or hash-partitions when key columns are given
    (skipping round-robin's local pre-sort of heavy rows); a
    well-split frame passes through untouched (no Exchange added).
    The old queries_round7 name must stay importable and BE the
    shared definition."""
    from map2db_spark.functions.partitioning import scatter_if_underspilt
    from map2db_spark.queries_round7 import _scatter_if_underspilt

    assert _scatter_if_underspilt is scatter_if_underspilt

    one_split = spark.range(100).coalesce(1)
    fanned = scatter_if_underspilt(one_split, 8)
    assert fanned.rdd.getNumPartitions() == 8
    assert "RoundRobinPartitioning" in fanned._jdf.queryExecution().toString()

    keyed = scatter_if_underspilt(one_split, 8, "id")
    assert keyed.rdd.getNumPartitions() == 8
    ktxt = keyed._jdf.queryExecution().toString()
    assert "hashpartitioning" in ktxt and "RoundRobinPartitioning" not in ktxt

    well_split = spark.range(100).repartition(8)
    passed = scatter_if_underspilt(well_split, 4)
    assert passed is well_split


def test_linemerge_probe_is_codegen(spark):
    """r15: merge_lines' part-count probe is a WKB-header column
    expression; the pandas_udf form was duplicated by Catalyst into
    both filter branches (guide §4.4), costing two Python passes over
    every consolidated line row.  The only Python node allowed in the
    line branch is the merge kernel itself (MapInPandas)."""
    plan = plan_of(spark, "m2db_pipeline_throughput")
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_pq_code_assignment_no_sort_aggregate(spark):
    """r15: PQ code assignment (argmin centroid per subspace) must be
    a no-sort HashAggregate — min(dist * K + c) long encoding, the
    same lexicographic order as the former min(struct(dist, c)) whose
    immutable buffer planned Sort + SortAggregate over the full code
    table."""
    for name in ("v_pq_adc_topk", "v_ivf_pq_residual"):
        plan = plan_of(spark, name)
        assert "SortAggregate" not in plan, (name, plan)


def test_sprt_llr_final_no_sort_aggregate(spark):
    """r15: x_sprt_sequential_test's llr_final is max_by(llr, rk) —
    value-identical to the former max(struct(rk, llr))['llr'] because
    rk is a per-arm row_number (unique) — and the (long, long) max_by
    buffer is mutable, so the crossing aggregate plans a no-sort
    HashAggregate (plan evidence:
    plans/r15/x_sprt_sequential_test_{before,after}.txt)."""
    plan = plan_of(spark, "x_sprt_sequential_test")
    assert "SortAggregate" not in plan, plan


def test_minhash_eval_family_no_sort_aggregate(spark):
    """r15: the minhash EVALUATION queries ride the numeric signature
    path (hex->int chunk bijection, minhash_signatures numeric=True),
    so their min-per-chunk aggregate plans a no-sort partial
    HashAggregate instead of Sort + SortAggregate over the exploded
    shingle table — the same fix the d_minhash_lsh bench row got
    (plan evidence: plans/r15/d_minhash_recall_eval_*,
    d_minhash_estimate_error_*, d_incremental_dedup_*).
    d_minhash_recall_skewed truncates its signature frame behind a
    localCheckpoint (the aggregate runs but is invisible to the final
    explain), so its gate asserts the PRE-checkpoint helper frame."""
    for name in (
        "d_minhash_recall_eval",
        "d_minhash_estimate_error",
        "d_incremental_dedup",
    ):
        plan = plan_of(spark, name)
        assert "SortAggregate" not in plan, (name, plan)

    from map2db_spark.functions import dedup as D
    from map2db_spark.tables import Tables

    docs = Tables(spark, SF_CORRECT).documents.where("doc_id < 300")
    sigs = D.minhash_signatures(
        D.shingle_table(docs), num_hashes=8, numeric=True
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sigs.explain("formatted")
    plan = buf.getvalue()
    assert "SortAggregate" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_string_extrema_family_no_sort_aggregate(spark):
    """r16: the md5/tag min(string) family rides functions/extrema.py —
    fixed-width aggregates hash-aggregate (no sort), and the string
    extremum is a WindowGroupLimit top-1 window (grouped) or a
    TakeOrderedAndProject top-1 (global) over a PERSISTED narrow
    projection (single-parse under the split aggregate's two
    consumers).  min(string)'s immutable buffer had dragged every
    aggregate in the groupBy through Sort + SortAggregate (plan
    evidence: plans/r16/<name>_{before,after}.txt).
    f_collated_grouping is deliberately NOT here: grouping on a
    non-binary-collated key is sort-based by Spark 4.1 engine design,
    and the split form only added a second sorted pass (adjudicated —
    plans/r16/f_collated_grouping_split_attempt.txt)."""
    grouped = ("f_csv_roundtrip", "f_jsonl_roundtrip", "f_from_json_typed")
    for name in grouped:
        plan = plan_of(spark, name)
        assert "SortAggregate" not in plan, (name, plan)
        assert "WindowGroupLimit" in plan, (name, plan)
        assert "InMemoryRelation" in plan, (name, plan)
    for name in ("f_text_source", "m_binaryfile_ingest"):
        plan = plan_of(spark, name)
        assert "SortAggregate" not in plan, (name, plan)
        assert "TakeOrderedAndProject" in plan, (name, plan)
        assert "InMemoryRelation" in plan, (name, plan)


def test_random_walk_argmax_no_sort_aggregate(spark):
    """r16: g_random_walk's per-step neighbor argmax is a
    WindowGroupLimit top-1 window ordered by the md5 walk key DESC —
    max_by(x, md5key)'s string-keyed buffer is immutable, so each of
    the 3 steps had planned Sort + SortAggregate over the
    frontier-x-neighbors table (12 nodes total with Catalyst's
    per-consumer duplication; plans/r16/g_random_walk_*)."""
    plan = plan_of(spark, "g_random_walk")
    assert "SortAggregate" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_label_prop_argmax_no_sort_aggregate(spark, monkeypatch):
    """r16: g_label_prop's per-round majority vote is a
    WindowGroupLimit top-1 window ordered (c DESC, label ASC) — the
    former min(struct(-c, label)) planned Sort + SortAggregate over
    the votes table EVERY round, hidden behind the per-round
    localCheckpoint (executed but invisible to the final explain).
    The gate therefore captures the PRE-checkpoint plan by patching
    localCheckpoint to identity — asserting the query body itself,
    not a rebuilt helper frame (plans/r16/g_label_prop_* carry the
    same capture)."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    monkeypatch.setattr(_CDF, "localCheckpoint", lambda self, eager=True: self)
    plan = plan_of(spark, "g_label_prop")
    assert "SortAggregate" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_minhash_recall_skewed_query_body_no_sort_aggregate(spark, monkeypatch):
    """ADVICE r15: d_minhash_recall_skewed's signature aggregate hides
    behind a localCheckpoint (executed but invisible to the final
    explain), and the r15 gate asserted a freshly-built helper frame
    that would not catch the query body dropping numeric=True.  This
    gate captures the query's ACTUAL pre-checkpoint plan by patching
    localCheckpoint to identity (committed capture:
    plans/r16/d_minhash_recall_skewed_prechkpt.txt)."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    monkeypatch.setattr(_CDF, "localCheckpoint", lambda self, eager=True: self)
    plan = plan_of(spark, "d_minhash_recall_skewed")
    assert "SortAggregate" not in plan, plan


def test_codegen_class_cache_sized_past_bench_working_set(spark):
    """r16 (guide §1 measured, §7.2): Spark's generated-class cache
    defaults to 100 entries, which the 12-row bench sequence thrashes
    — tools/bench_codegen_probe.py measured EVERY timed sample paying
    Janino recompilation (d_minhash_lsh 214-263 ms/sample, ~1.26 s of
    pure compile per bench pass); at 1000 entries the same timed
    passes compile 0 ms and the pass total fell 11.57 -> 9.48 s
    same-session.  The knob is per-JVM and scale-independent (any
    long-lived multi-query app exceeds 100 units), so the session sets
    a fixed 1000."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1000


def _consolidate_exchanges(spark, src):
    """The (count, shuffle origin) of every (ftype, fid) exchange in
    consolidate's plan, and the executed frame's partition count."""
    from map2db_spark.operators.consolidate import consolidate
    from map2db_spark.pipeline import load_features
    from map2db_spark.sources.header import read_header

    cons = consolidate(load_features(spark, src), read_header(src))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cons.explain("formatted")
    exchanges = re.findall(
        r"hashpartitioning\(ftype#\d+, fid#\d+L?, (\d+)\), (\w+)",
        buf.getvalue(),
    )
    return exchanges, cons.rdd.getNumPartitions()


def test_consolidate_shuffle_keeps_every_partition(spark, tmp_path):
    """consolidate's (ftype, fid) exchange has an explicit count, the
    session's shuffle.partitions capped at the default parallelism:
    without one, AQE coalesces a small shuffle into one task, which
    put the whole union kernel on one core."""
    from map2db_spark.sources.sample_maps import dbl_map

    src = str(tmp_path / "dbl.map")
    dbl_map().write(src)
    n = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    assert n > 1
    exchanges, parts = _consolidate_exchanges(spark, src)
    assert exchanges == [(str(n), "REPARTITION_BY_NUM")]
    assert parts == n


def test_consolidate_shuffle_capped_at_default_parallelism(spark, tmp_path):
    """A session left at Spark's default of 200 shuffle partitions runs
    one consolidate task per core, not 200 short Python tasks."""
    from map2db_spark.sources.sample_maps import dbl_map

    src = str(tmp_path / "dbl.map")
    dbl_map().write(src)
    cores = spark.sparkContext.defaultParallelism
    assert cores < 200
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        exchanges, parts = _consolidate_exchanges(spark, src)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert exchanges == [(str(cores), "REPARTITION_BY_NUM")]
    assert parts == cores


def test_dbl_parquet_conversion_job_budget(spark, tmp_path):
    """A parquet map2db() of a dbl map is one pass: the decode that
    fills the feature cache (for the vtag key order), the (ftype, fid)
    exchange, one consolidate-and-merge Python stage and one write of
    all three tables.  At most 7 Spark jobs, counted with the status
    tracker around the call, and none of them a localCheckpoint (the
    former shape ran 15, two of them checkpoints)."""
    from map2db_spark.pipeline import map2db
    from map2db_spark.sources.sample_maps import dbl_map

    src = str(tmp_path / "dbl.map")
    dbl_map().write(src)
    sc = spark.sparkContext
    group = "dbl-parquet-job-budget"
    sc.setJobGroup(group, "dbl parquet conversion")
    try:
        map2db(spark, src, str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 7, sorted(jobs)
    stages = [
        tracker.getStageInfo(s) for j in jobs for s in tracker.getJobInfo(j).stageIds
    ]
    assert stages and all(s is not None for s in stages)
    names = [s.name for s in stages]
    assert not any(n.startswith("localCheckpoint") for n in names), names


def test_dbl_final_features_one_python_stage(spark, tmp_path):
    """The dbl final frame runs ONE MapInPandas above the (ftype, fid)
    REPARTITION_BY_NUM exchange — consolidation and the line merge
    share the task — and no line/non-line branch union."""
    from pyspark.sql import functions as F

    from map2db_spark.pipeline import _final_features, load_features
    from map2db_spark.sources.header import read_header
    from map2db_spark.sources.sample_maps import dbl_map

    src = str(tmp_path / "dbl.map")
    dbl_map().write(src)
    header = read_header(src)
    feats = load_features(spark, src, header).where(F.col("ftype") != "reject")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _final_features(feats, header).explain()
    lines = buf.getvalue().splitlines()
    exchanges = [
        i for i, ln in enumerate(lines)
        if re.search(
            r"Exchange hashpartitioning\(ftype#\d+, fid#\d+L?, \d+\), REPARTITION_BY_NUM",
            ln,
        )
    ]
    assert len(exchanges) == 1, lines
    above = lines[: exchanges[0]]
    assert sum("MapInPandas" in ln for ln in above) == 1, lines
    assert not any("Union" in ln for ln in lines), lines


def _conversion_jobs(spark, src, out, sink, group):
    """The job ids a map2db() call ran, counted in a job group."""
    from map2db_spark.pipeline import map2db

    sc = spark.sparkContext
    sc.setJobGroup(group, f"{sink} conversion")
    try:
        map2db(spark, src, out, sink=sink)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("name", ["nondbl_map", "dbl_map"])
def test_sqlite_conversion_job_budget(spark, tmp_path, name):
    """A SQLite map2db() is the traversal-summary pass that decodes into
    the feature cache, then one shard-writing pass over the final frame
    (plus AQE's per-shuffle-stage jobs): at most 5 Spark jobs, where
    the vtag aggregate, the per-ftype window and the temp parquet ran 6."""
    from map2db_spark.sources import sample_maps

    src = str(tmp_path / f"{name}.map")
    getattr(sample_maps, name)().write(src)
    jobs = _conversion_jobs(
        spark, src, str(tmp_path / "out.db"), "sqlite", f"sqlite-job-budget-{name}"
    )
    assert 0 < len(jobs) <= 5, sorted(jobs)


def test_nondbl_final_features_no_window(spark, tmp_path):
    """Non-dbl ids are per-tile offsets plus the decoder's seq, joined
    as a broadcast: no Window and no exchange keyed by ftype, which
    numbered each whole table on one reducer."""
    from pyspark.sql import functions as F

    from map2db_spark.pipeline import _final_features, load_features
    from map2db_spark.sources.header import read_header
    from map2db_spark.sources.sample_maps import nondbl_map

    src = str(tmp_path / "nondbl.map")
    nondbl_map().write(src)
    header = read_header(src)
    feats = load_features(spark, src, header).where(F.col("ftype") != "reject")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _final_features(feats, header).explain()
    plan = buf.getvalue()
    assert "Window" not in plan, plan
    assert not re.search(r"hashpartitioning\(ftype#", plan), plan
    assert "BroadcastHashJoin" in plan, plan


def _final_plan_tree(description: str) -> str:
    """The executed (AQE final) plan tree of a physical plan
    description from the SQL status store."""
    tree = description.split("\n\n")[0].splitlines()
    start = tree.index("+- == Final Plan ==")
    end = tree.index("+- == Initial Plan ==")
    return "\n".join(tree[start + 1:end])


def test_sqlite_export_one_map_in_arrow(spark, tmp_path):
    """The SQLite export runs one MapInArrow (the shard writer) over the
    final frame and no ArrowEvalPython: the tags-to-JSON pandas UDF is
    gone, the shard kernel serializes them."""
    import time

    from map2db_spark.pipeline import map2db
    from map2db_spark.sources.sample_maps import nondbl_map

    src = str(tmp_path / "nondbl.map")
    nondbl_map().write(src)
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    seen = {e.executionId() for e in executions()}
    map2db(spark, src, str(tmp_path / "out.db"), sink="sqlite")
    deadline = time.time() + 30
    while True:  # the status store fills asynchronously
        export = [
            e for e in executions()
            if e.executionId() not in seen and "sqlite_sink.py" in e.description()
        ]
        if export and export[0].completionTime().isDefined() or time.time() > deadline:
            break
        time.sleep(0.2)
    assert len(export) == 1, [e.description() for e in export]
    tree = _final_plan_tree(export[0].physicalPlanDescription())
    assert len(re.findall(r"\bMapInArrow \(\d+\)", tree)) == 1, tree
    assert "ArrowEvalPython" not in tree, tree
