"""Physical-plan assertions — the scale properties the wall-clock tests
can't see at sf0.001: predicate pushdown reaching the parquet scan, small
dims broadcast, relational paths staying inside whole-stage codegen (no
row-at-a-time Python), and no accidental cartesian in the non-equi joins."""

from __future__ import annotations

import contextlib
import io

import pyspark.sql.functions as F

import __spark_entry__ as entry_mod
from tests.conftest import SF_DIR

QUERIES = entry_mod.queries()


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark):
    p = plan_str(QUERIES["filtered_search"](spark, SF_DIR))
    assert "PushedFilters:" in p
    # the lang/source must-filters belong in the scan, not a post-filter
    assert "EqualTo(lang,en)" in p, p
    assert "In(source" in p, p


def test_column_pruning_reads_only_needed_columns(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_str(docs.select("doc_id").filter(F.col("doc_id") < 10))
    assert "ReadSchema: struct<doc_id:bigint>" in p, p


def test_small_dims_are_broadcast(spark):
    p = plan_str(QUERIES["top_nation_revenue"](spark, SF_DIR))
    assert p.count("BroadcastHashJoin") >= 2, p  # nation and region at least
    assert "CartesianProduct" not in p


def test_relational_aggregates_stay_jvm_side(spark):
    for name in ("pricing_summary", "collect_event_types", "time_rollup",
                 "asof_enrich", "moving_avg"):
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in p, name  # no row-at-a-time Python
        assert "PythonUDF" not in p, name
        assert "CartesianProduct" not in p, name
    # positive codegen check on one representative agg (pre-execution AQE
    # plans hide WholeStageCodegen markers in formatted mode)
    c = plan_str(QUERIES["pricing_summary"](spark, SF_DIR), mode="codegen")
    assert "WholeStageCodegen" in c, c[:500]


def test_asof_join_shuffle_budget(spark):
    """The as-of join must stay a union+window plan: at most 3 exchanges
    (right-side dedup agg, the single window shuffle, and the query's
    presentation orderBy) and no join operator at all."""
    import re

    p = plan_str(QUERIES["asof_enrich"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 3, p
    assert "Join" not in p, p
    assert "CartesianProduct" not in p


def test_interval_joins_are_not_cartesian(spark):
    for name in ("interval_argmax", "interval_labels"):
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_interval_joins_use_bucketized_equi_join(spark):
    """The big×big scale path must actually be planned: the join key set
    includes the time-bucket column, so the shuffle spreads a hot user key
    over its time buckets instead of pinning the whole per-key cartesian
    expansion on one task (VERDICT r1: the one scale seam)."""
    for name in ("interval_argmax", "interval_labels"):
        p = plan_str(QUERIES[name](spark, SF_DIR))
        # formatted mode prints the key set as "Left keys [n]: [...]"
        # (broadcast at tiny SF is fine — the key set, not the physical
        # strategy, is what spreads the hot key once the side outgrows the
        # broadcast threshold)
        key_lines = [ln for ln in p.splitlines() if "Left keys" in ln]
        assert key_lines, p
        assert all("_bk" in ln for ln in key_lines), p


def test_dedup_scale_paths_stay_bounded(spark):
    """The LSH/SimHash scale paths must never degenerate: no cartesian or
    nested-loop join (every shuffle is an equi-join on a content-derived
    key), no Python in the plan (pure column expressions), and a pinned
    exchange budget so a refactor can't silently add shuffles. The
    bounded-range exact-verify queries (ngram_jaccard_pairs,
    embedding_near_dup_exact) are exempt — their all-pairs BNLJ over a
    bounded id range is the documented oracle-verification path."""
    import re

    budgets = {"minhash_near_dups": 5, "simhash_near_dups": 9,
               "near_dup_clusters": 5,
               # r5 engine-portable md5-lane twins: same scale discipline,
               # same exchange shapes as the xxhash paths (+1 for the
               # _ensure_parallel spread, a no-op at real input widths)
               "minhash_near_dups_md5": 6, "simhash_near_dups_md5": 9,
               "near_dup_clusters_md5": 6}
    for name, max_exchanges in budgets.items():
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "BatchEvalPython" not in p and "PythonUDF" not in p, name
        n = len(re.findall(r"\(\d+\) Exchange", p))
        assert n <= max_exchanges, (name, n)


def test_link_edges_plan_stays_bounded(spark, triples_df, tmp_path_factory):
    """Entity linking on the fixture corpus, plan-pinned: an exchange
    budget, ONE name-featurization pass (the shared persisted name table,
    read by both the exact and the fuzzy branch), no Python evaluation or
    cartesian, and exactly one nested-loop join — the one-row
    head-threshold broadcast in name_features."""
    import re

    from raptor_spark.link import link_edges, name_features

    # plan over a fresh parquet scan: a relation another test left cached
    # (already materialized, so printed with its final AQE plan) would
    # otherwise stand in for part of this plan and change its shape
    d = str(tmp_path_factory.mktemp("link_plan") / "triples")
    triples_df.write.parquet(d)
    triples = spark.read.parquet(d)
    feats = name_features(triples).persist()
    p = plan_str(link_edges(triples, feats=feats))
    feats.unpersist()
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 7, p
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) <= 1, p
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 1, p
    for node in ("CartesianProduct", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in p, node


def test_materialized_layout_prunes_partitions(spark, triples_df, tmp_path_factory):
    """The nodes/edges partition spec (lang, repo_bucket) must turn a lang
    filter into PartitionFilters on the scan — the read-path payoff of the
    write-time layout (≙ Qdrant payload indexes, SURVEY.md §2.1)."""
    from raptor_spark.functions import repo_bucket_col

    d = str(tmp_path_factory.mktemp("part") / "nodes")
    df = triples_df.withColumn("repo_bucket", repo_bucket_col("repo"))
    df.write.partitionBy("lang", "repo_bucket").parquet(d)
    some_lang = df.select("lang").first().lang
    rd = (
        spark.read.parquet(d)
        .filter(F.col("lang") == some_lang)
        .select("subj", "pred")
    )
    p = plan_str(rd)
    assert "PartitionFilters" in p, p
    import re

    assert re.search(rf"\(lang#\d+ = {some_lang}\)", p), p


def test_extraction_is_arrow_vectorized(spark):
    p = plan_str(QUERIES["kg_triples"](spark, SF_DIR))
    # mapInPandas (Arrow batches), never row-at-a-time BatchEvalPython
    assert "MapInPandas" in p, p
    assert "BatchEvalPython" not in p, p


def test_round2_analytics_plans_stay_clean(spark):
    """The round-2 read-side additions: equi/broadcast joins only, no
    row-at-a-time Python, and the intended broadcast on the stats/df
    joins (a shuffle of the big side on a stats key would be wrong)."""
    for name in (
        "fuzzy_prefix_pairs", "event_outliers", "tfidf_top_terms",
        "rolling_range_sum", "sliding_window_counts", "event_streaks",
        "order_status_history", "event_type_pivot", "pricing_unpivot",
        "order_percentiles", "event_props_json",
    ):
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "BatchEvalPython" not in p, name
    for name in ("event_outliers", "tfidf_top_terms"):
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in p, name


def test_curation_flagship_plans_stay_bounded(spark):
    """span_dedup and semdedup_prune scale claims, pinned: every join is an
    equi-join (span hash / cell id / doc id — never cartesian or
    nested-loop), no Python in the plan, and an exchange budget so a
    refactor can't silently re-shuffle document text or vectors."""
    import re

    budgets = {"span_dedup": 6, "semdedup_prune": 6, "embedding_clusters": 2}
    for name, max_exchanges in budgets.items():
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "BatchEvalPython" not in p and "PythonUDF" not in p, name
        n = len(re.findall(r"\(\d+\) Exchange", p))
        assert n <= max_exchanges, (name, n)


def test_round2_audit_query_plans_stay_clean(spark):
    """New audit/curation queries, plan-pinned: the co-occurrence vocab is
    broadcast (never a shuffled join against a 40-row table), weighted
    sampling is a TakeOrderedAndProject top-k (never a global sort), the
    shard manifest spends at most 2 exchanges (shard agg + output order),
    and nothing drops into row-at-a-time Python."""
    import re

    from raptor_spark.operators.graph import cooccurrence_edges

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # checkpoint=False: the graded query localCheckpoints (hiding the plan);
    # assert on the lazy form the checkpoint materializes
    p = plan_str(
        cooccurrence_edges(docs, "doc_id", "text", checkpoint=False)
    )
    assert "BroadcastHashJoin" in p, p[:800]
    assert "CartesianProduct" not in p

    p = plan_str(QUERIES["weighted_sample"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p, p[:800]

    p = plan_str(QUERIES["corpus_shards"](spark, SF_DIR))
    n = len(re.findall(r"\(\d+\) Exchange", p))
    assert n <= 2, (n, p[:800])

    for name in ("term_cooccurrence", "corpus_shards", "lang_temperature_mix",
                 "source_caps", "fk_integrity", "weighted_sample"):
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in p and "PythonUDF" not in p, name


def test_bloom_and_novelty_plans(spark):
    """The Bloom probe side is a broadcast lookup (the bitmap is <=16k rows
    by construction — never a shuffled join), and both curation queries
    stay JVM-side end to end."""
    p = plan_str(QUERIES["bloom_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p[:800]
    assert "BatchEvalPython" not in p and "PythonUDF" not in p
    assert "CartesianProduct" not in p

    p = plan_str(QUERIES["shingle_novelty"](spark, SF_DIR))
    assert "BatchEvalPython" not in p and "PythonUDF" not in p
    assert "CartesianProduct" not in p


def test_lm_perplexity_and_keep_best_plans(spark):
    """LM scoring stays JVM-side with no cartesian expansion (the vocab
    scalar arrives via a 1-row broadcast, never a shuffle), and the
    keep-best window query never self-joins the corpus."""
    p = plan_str(QUERIES["lm_perplexity"](spark, SF_DIR))
    assert "BatchEvalPython" not in p and "PythonUDF" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p, p[:800]  # the vocab scalar

    p = plan_str(QUERIES["dedup_keep_best"](spark, SF_DIR))
    assert "BatchEvalPython" not in p and "PythonUDF" not in p
    assert "CartesianProduct" not in p
    assert "Window" in p, p[:800]


def test_quality_gate_and_psi_plans(spark):
    """The per-group threshold and the decile grid are broadcast (tiny by
    construction); neither query falls into CartesianProduct or
    row-at-a-time Python."""
    p = plan_str(QUERIES["quality_gate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p[:800]
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "PythonUDF" not in p

    p = plan_str(QUERIES["source_drift_psi"](spark, SF_DIR))
    assert "CartesianProduct" not in p, p[:800]
    assert "BatchEvalPython" not in p and "PythonUDF" not in p


def test_session_additions_plans_stay_clean(spark):
    """This session's additions, plan-pinned: everything stays JVM-side
    (the EWMA fold is a higher-order function, never a Python UDF), no
    cartesian/nested-loop joins anywhere, the transition row-normalizer
    and the MAD stats tables are broadcast back onto the stream, the CDC
    diff is a single full-outer equi-join (exchange budget 3: two sides +
    output order), and the histogram is one aggregation (budget 2)."""
    import re

    for name in (
        "event_transitions", "value_histogram", "order_diff", "user_ewma",
        "robust_outliers", "revenue_growth", "value_trends",
        "type_hour_chi2", "user_twap", "benford_prices", "top_paths",
        "embedding_norms", "k_anonymity", "source_sample", "join_fanout",
        "conversion_latency", "revenue_gini", "source_budget",
    ):
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in p and "PythonUDF" not in p, name
        assert "CartesianProduct" not in p, name
        if name in ("benford_prices", "join_fanout", "source_budget"):
            # their only nested-loops are 1-row aggregate cross joins
            # (the scalar-subquery pattern) — benign at any scale;
            # formatted plans print each node twice (tree + detail), so
            # count the numbered detail entries
            import re as _re

            n_bnlj = len(_re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p))
            assert n_bnlj <= 2, (name, n_bnlj)
        else:
            assert "BroadcastNestedLoopJoin" not in p, name

    for name in ("event_transitions", "robust_outliers"):
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in p, (name, p[:800])

    p = plan_str(QUERIES["order_diff"](spark, SF_DIR))
    assert "FullOuter" in p, p[:800]
    n = len(re.findall(r"\(\d+\) Exchange", p))
    assert n <= 3, (n, p[:800])

    p = plan_str(QUERIES["value_histogram"](spark, SF_DIR))
    n = len(re.findall(r"\(\d+\) Exchange", p))
    assert n <= 2, (n, p[:800])

    p = plan_str(QUERIES["user_ewma"](spark, SF_DIR))
    n = len(re.findall(r"\(\d+\) Exchange", p))
    assert n <= 2, (n, p[:800])


def test_round3_addition_plans_stay_clean(spark):
    """rrf_search's channel cutoffs must be TakeOrderedAndProject (a
    distributed partial top-k), never a full-set single-partition window
    sort; graph_hits/bpe_pair_stats/source_boilerplate stay JVM-side with
    no cartesian."""
    for name in ("rrf_search", "bpe_pair_stats", "source_boilerplate", "graph_hits"):
        p = plan_str(QUERIES[name](spark, SF_DIR))
        if name == "rrf_search":
            assert "TakeOrderedAndProject" in p, p[:800]
        assert "BatchEvalPython" not in p, name
        assert "PythonUDF" not in p, name
        assert "CartesianProduct" not in p, name


def test_tpch_analog_plans(spark):
    """The round-3 TPC-H family keeps its scale shape: filters pushed into
    the parquet scans (dates/segment/brand prune the fact input before any
    join), dims broadcast, no cartesian, no Python in the plan, and the
    top-N queries use TakeOrderedAndProject (never a global Sort+Limit)."""
    p = plan_str(QUERIES["shipping_priority"](spark, SF_DIR))
    assert "EqualTo(c_mktsegment,BUILDING)" in p, p
    assert "LessThan(o_orderdate" in p, p
    assert "GreaterThan(l_shipdate" in p, p
    assert "TakeOrderedAndProject" in p, p
    assert "CartesianProduct" not in p

    p = plan_str(QUERIES["returned_items"](spark, SF_DIR))
    assert "EqualTo(l_returnflag,R)" in p, p
    assert "TakeOrderedAndProject" in p, p

    p = plan_str(QUERIES["brand_filtered_revenue"](spark, SF_DIR))
    # the OR-of-ANDs disjunction still pushes an Or() filter to the scan
    assert "Or(And(" in p, p

    for name in (
        "nation_trade_volume", "promo_revenue_share",
        "large_volume_customers", "order_priority_check",
        "customer_order_distribution", "dormant_high_balance",
    ):
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name
        assert "PythonUDF" not in p, name


def test_tpch_family_completion_plans(spark):
    """The eleven analogs that complete the 22-query TPC-H family keep the
    same scale shape as the first half: every selective predicate is pushed
    into the parquet scan, dims ride broadcast joins, the scalar-subquery
    shapes never degenerate into a cartesian, and nothing drops to Python."""
    # Q6: pure scan-and-aggregate — all four predicates in the scan, no join
    p = plan_str(QUERIES["revenue_forecast"](spark, SF_DIR))
    assert "GreaterThanOrEqual(l_shipdate" in p, p
    assert "LessThan(l_quantity,24.0)" in p, p
    assert "Join" not in p, p

    # Q2: the part/region prune reaches the scan before the correlated-min
    p = plan_str(QUERIES["min_cost_supplier"](spark, SF_DIR))
    assert "EqualTo(p_type,STANDARD)" in p, p
    assert "EqualTo(r_name,EUROPE)" in p, p
    assert "CartesianProduct" not in p

    # Q9/Q17/Q20: LIKE prunes push down as StringContains / StringStartsWith
    p = plan_str(QUERIES["product_type_profit"](spark, SF_DIR))
    assert "StringContains(p_name,widget)" in p, p
    p = plan_str(QUERIES["dominant_part_suppliers"](spark, SF_DIR))
    assert "StringStartsWith(p_name,red )" in p, p
    p = plan_str(QUERIES["small_quantity_revenue"](spark, SF_DIR))
    assert "EqualTo(p_brand,Brand#12)" in p, p

    # Q16: the NOT IN complaint set is a broadcast anti-join, and the size
    # IN-list reaches the part scan
    p = plan_str(QUERIES["supplier_part_variety"](spark, SF_DIR))
    assert "In(p_size" in p, p
    assert "LeftAnti" in p, p

    # Q21: EXISTS/NOT EXISTS are hash semi/anti joins, and the top-N is a
    # TakeOrderedAndProject, never a global sort
    p = plan_str(QUERIES["suppliers_kept_waiting"](spark, SF_DIR))
    assert "LeftSemi" in p, p
    assert "LeftAnti" in p, p
    assert "TakeOrderedAndProject" in p, p
    assert "CartesianProduct" not in p

    for name in (
        "nation_market_share", "important_part_values",
        "late_shipment_priority", "top_supplier",
    ):
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name
        assert "PythonUDF" not in p, name


def test_tpch_scalar_branches_reuse_or_cache(spark):
    """The three Q11/Q15/Q20-style scalar-threshold branches must not scan
    the fact twice: the non-broadcast threshold joins get a runtime
    ReusedExchange from AQE, and top_supplier (whose max lives in a
    broadcast subquery AQE can't share) persists the per-supplier view."""
    import re

    for name in ("important_part_values", "dominant_part_suppliers"):
        df = QUERIES[name](spark, SF_DIR)
        df.collect()
        p = plan_str(df)
        assert len(re.findall(r"\(\d+\) ReusedExchange", p)) >= 1, (name, p)

    df = QUERIES["top_supplier"](spark, SF_DIR)
    df.collect()
    p = plan_str(df)
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p, p


def test_session3_audit_plans_stay_clean(spark):
    """The third-session audit family stays JVM-side (zero Python in any
    plan), never goes cartesian, and keeps its broadcast discipline:
    keyness/divergence broadcast their slice-total tables; basket_lift
    broadcasts the item marginals; the KS grid join and winnowing bucket
    join stay equi-joins."""
    names = (
        "source_keyness", "source_divergence", "basket_lift",
        "event_burstiness", "rate_changepoint", "source_ks_drift",
        "lexical_diversity", "winnow_pairs", "graph_clustering",
        "lsh_blocking_audit", "rfm_segments", "event_acf", "fd_audit",
        "markov_entropy", "source_diversity", "heaps_fit",
        "session_type_lift", "weighted_jaccard", "label_confusability",
        "value_spearman", "order_consistency", "window_pmi",
        "source_stylometry",
    )
    for name in names:
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in p, name
        assert "PythonUDF" not in p, name
        assert "CartesianProduct" not in p, name
    # broadcast discipline spot-checks
    p = plan_str(QUERIES["basket_lift"](spark, SF_DIR))
    assert p.count("BroadcastHashJoin") >= 2, p[:800]
    p = plan_str(QUERIES["source_divergence"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p[:800]


def test_session5_6_addition_plans_stay_clean(spark):
    """Sessions 5-6 additions: zero Python anywhere, no cartesians;
    more_like_this broadcasts the pruned idf table into the posting join;
    pareto_parts carries the two-phase shape (a range exchange for the
    local prune, then a single-partition exact pass); graph_ppr keeps the
    per-round join + vertex agg shape with no cartesian."""
    names = (
        "pareto_parts", "more_like_this", "length_bias_auc",
        "filter_rule_kappa", "l_diversity", "graph_ppr", "graph_walks",
        "lm_generate",
        "conversion_survival", "golden_record", "zorder_skipping",
        "pq_codes", "textrank_keywords",
    )
    for name in names:
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in p, name
        assert "PythonUDF" not in p, name
        assert "CartesianProduct" not in p, name
    p = plan_str(QUERIES["more_like_this"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p[:800]
    p = plan_str(QUERIES["pareto_parts"](spark, SF_DIR))
    assert "rangepartitioning" in p.lower(), p[:800]
    # the exact pass runs on the coalesced survivor set — Coalesce(1)
    # already satisfies the global window's SinglePartition requirement,
    # so no extra exchange is (or should be) planned
    assert "Coalesce" in p, p[:800]


def test_bucketed_tables_join_and_aggregate_without_exchange(spark, tmp_path_factory):
    """write_bucketed_table's whole point, pinned at the plan level: two
    tables bucketed by the same key/count sort-merge-join with ZERO Exchange
    operators (each scan's output partitioning already satisfies the join),
    and a groupBy on the bucket key aggregates exchange-free too. Broadcast
    is disabled so the test exercises the big×big path the layout exists
    for; each bucket must land in exactly one file (the repartition-aligned
    write) so readers may also trust per-bucket sort order."""
    import os

    from raptor_spark.operators.layout import write_bucketed_table

    root = tmp_path_factory.mktemp("bucketed")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    a = write_bucketed_table(
        orders.select("o_custkey", "o_totalprice"),
        "bk_orders_t", str(root / "a"), 8, ["o_custkey"], ["o_custkey"],
    )
    b = write_bucketed_table(
        cust.select(F.col("c_custkey").alias("o_custkey"), "c_name"),
        "bk_cust_t", str(root / "b"), 8, ["o_custkey"], ["o_custkey"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = a.join(b, "o_custkey")
        p = plan_str(j)
        assert "Exchange" not in p, p[:1200]
        assert "SortMergeJoin" in p, p[:1200]
        agg = a.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
        pa = plan_str(agg)
        assert "Exchange" not in pa, pa[:1200]
        # correctness didn't move: same counts as the unbucketed join
        assert j.count() == orders.join(
            cust, orders.o_custkey == cust.c_custkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_orders_t")
        spark.sql("DROP TABLE IF EXISTS bk_cust_t")
    files = [f for f in os.listdir(root / "a") if f.endswith(".parquet")]
    assert len(files) == 8, files


def test_session7_addition_plans_stay_clean(spark):
    """Session-7 additions: zero Python, no cartesians anywhere; ivfpq_topk
    broadcasts the probe side into the cell equi-join (candidates never
    all-pairs); adamic_adar is wedge-join shaped (equi-join on the wedge
    center + a LeftAnti back to the edge set)."""
    names = ("ivfpq_topk", "graph_adamic_adar", "graph_dag_layers")
    for name in names:
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in p, name
        assert "PythonUDF" not in p, name
        assert "CartesianProduct" not in p, name
    p = plan_str(QUERIES["ivfpq_topk"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p[:800]
    p = plan_str(QUERIES["graph_adamic_adar"](spark, SF_DIR))
    assert "LeftAnti" in p, p[:800]


def test_session8_9_addition_plans_stay_clean(spark):
    """Sessions 8-9 additions: zero Python, no cartesians; t_closeness's
    two 1-row/small-domain cross joins must plan as broadcast NLJs and the
    class-cell completion join as a broadcast hash join (the fact table
    shuffles only on the class key)."""
    names = (
        "graph_msf", "single_linkage_clusters", "taxonomy_closure",
        "ndcg_audit", "t_closeness", "bpe_merge_pairs",
        "record_linkage_census", "frequent_sequences", "cluster_silhouette",
        "calibration_audit", "zipf_audit", "landmark_distances",
        "diverse_exemplars", "wasserstein_drift", "conformal_coverage",
        "theilsen_trends", "label_spreading", "cdc_chunks", "graph_ktruss",
        "link_training_pairs", "runs_test",
    )
    for name in names:
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in p, name
        assert "PythonUDF" not in p, name
        assert "CartesianProduct" not in p, name
    p = plan_str(QUERIES["t_closeness"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p, p[:800]
    assert "BroadcastHashJoin" in p, p[:800]
    p = plan_str(QUERIES["ndcg_audit"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p, p[:800]


def test_session10_addition_plans_stay_clean(spark):
    """Session-10 additions: zero Python, no cartesians anywhere; the SNM
    rank composition must NOT contain a single-partition Exchange (the
    distributed-rank point of the operator), and the kNN agreement must
    broadcast its query side."""
    names = (
        "graph_mis", "graph_coloring", "graph_diameter", "mann_kendall",
        "snm_pairs", "retrieval_eval", "event_xcorr", "cross_source_dups",
        "vocab_coverage", "knn_label_agreement", "span_corruption",
        "causal_windows", "mlm_masking", "harmonic_centrality",
        "supplier_price_tau", "bloom_join_orders", "hub_robustness",
        "order_trimmed_stats", "length_quantile_norm",
        "incremental_event_counts", "embedding_mips", "brier_score",
        "mann_kendall", "touch_attribution", "dedup_threshold_sweep",
        "weekday_seasonality", "source_containment",
        "part_recommendations", "graph_bridges", "event_gap_percentiles",
        "degree_powerlaw",
    )
    for name in names:
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in p, name
        assert "PythonUDF" not in p, name
        assert "CartesianProduct" not in p, name
    # SNM: ranks come from per-range-partition row_numbers + broadcast
    # offsets — never a SinglePartition exchange over the corpus
    p = plan_str(QUERIES["snm_pairs"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in p, p[:1200]
    assert "BroadcastHashJoin" in p, p[:1200]
    # kNN agreement: query side broadcast, scoring map-side
    p = plan_str(QUERIES["knn_label_agreement"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p[:1200]
    # bloom join: the bitmap probes are broadcast joins; the final exact
    # semi-join survives
    p = plan_str(QUERIES["bloom_join_orders"](spark, SF_DIR))
    assert p.count("BroadcastHashJoin") >= 3, p[:1500]
    assert "LeftSemi" in p, p[:1500]


def test_round4_addition_plans_stay_clean(spark):
    """Round-4 additions: the oracle-backed KG pair keeps extraction as ONE
    Arrow mapInPandas stage over JVM-built content (content synthesis is
    concat/split expressions, never Python); the sketch exact twins are
    JVM-only, and the heavy-hitter top-k plans as TakeOrderedAndProject
    (map-side partial top-k, no global sort)."""
    p = plan_str(QUERIES["kg_code_triples"](spark, SF_DIR))
    assert "MapInPandas" in p, p[:1200]
    assert "BatchEvalPython" not in p, p[:1200]
    import re

    # formatted mode prints every node twice (tree + detail section):
    # count the detail headers, not substring occurrences
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 1, p[:1200]
    p = plan_str(QUERIES["kg_code_fanin"](spark, SF_DIR))
    assert "MapInPandas" in p and "BatchEvalPython" not in p, p[:1200]
    assert "TakeOrderedAndProject" in p, p[:1200]
    for name in ("exact_distinct_rollup", "exact_heavy_hitters"):
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in p, name
        assert "PythonUDF" not in p, name
        assert "CartesianProduct" not in p, name
    p = plan_str(QUERIES["exact_heavy_hitters"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p, p[:1200]
    # r4: link_training_pairs vertex ranks now come from global_ranks —
    # no single-partition exchange at any |V|
    p = plan_str(QUERIES["link_training_pairs"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in p, p[:1500]
    # the canonicalize/materialize chain queries: Python only in the two
    # production Arrow stages (extract + featurize), never row-at-a-time,
    # no cartesian; the mention joins of the tiny canonical map broadcast.
    # r5: the chain localCheckpoints triples/feats (ADVICE r4 — blocks are
    # GC-cleaned instead of accumulating across the 259-query driver run),
    # which truncates the lineage, so the Arrow MapInPandas stages run
    # eagerly BEFORE the final plan and no longer appear in it — their
    # vectorization is plan-gated on the un-checkpointed kg_code_triples
    # below instead.
    for name in ("kg_code_canonical", "kg_code_nodes", "kg_code_edges"):
        p = plan_str(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in p, name
        assert "CartesianProduct" not in p, name
    p = plan_str(QUERIES["kg_code_triples"](spark, SF_DIR))
    assert "MapInPandas" in p, p[:1200]
    p = plan_str(QUERIES["kg_code_nodes"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p[:1500]
