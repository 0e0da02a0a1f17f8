"""Physical-plan assertions: the scale properties the engine promises.

These make the 100 TB design checkable: filters/projections must reach
the parquet scan, constant-size dims must broadcast, global top-k must
not global-sort. A regression that silently de-optimizes a plan fails
here even though results stay correct.
"""

import re

import pytest

from orca_spark.queries import queries
from orca_spark.session import conf_scope
from tests.conftest import SF_DIR

_Q = queries()


def plan_str(spark, name: str) -> str:
    import contextlib
    import io

    df = _Q[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_filter_project_pushdown(spark):
    p = plan_str(spark, "filter_project")
    assert "PushedFilters" in p
    assert "l_quantity" in p.split("PushedFilters")[1][:300]
    # column pruning: untouched wide columns never leave the scan
    read_schema = p.split("ReadSchema")[1][:400]
    assert "l_shipdate" not in read_schema
    assert "l_returnflag" not in read_schema or True  # filter col may be read


def test_broadcast_join_for_constant_dims(spark):
    p = plan_str(spark, "join_broadcast_nation")
    assert "BroadcastHashJoin" in p
    p5 = plan_str(spark, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in p5  # nation/region sides


def test_sort_limit_is_topk_not_global_sort(spark):
    p = plan_str(spark, "sort_limit")
    assert "TakeOrderedAndProject" in p


def test_semi_and_anti_join_operators(spark):
    assert "LeftSemi" in plan_str(spark, "semi_join_active_customers")
    assert "LeftAnti" in plan_str(spark, "anti_join_inactive_customers")


def test_q1_partial_aggregation(spark):
    """Grouped agg must map-side combine (partial_ functions) before the
    exchange — at scale this is the difference between shuffling 6 rows
    per partition and shuffling the table."""
    p = plan_str(spark, "q1_pricing_summary")
    assert "partial_sum" in p or "partial_count" in p


def test_bucketed_join_has_no_exchange(spark):
    """The whole point of bucketing: the fact-fact join must not shuffle
    either side."""
    from orca_spark.operators.bucketing import bucketed_tables

    pair = bucketed_tables(spark, SF_DIR)
    assert pair is not None, "catalog could not persist bucketed tables"
    # at tiny SF Catalyst prefers broadcast (also shuffle-free); disable it
    # to expose the bucketed sort-merge path the plan relies on at scale
    with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        p = plan_str(spark, "bucketed_join_orders_lineitem")
    assert "Bucketed: true" in p
    assert "SortMergeJoin" in p
    # no Exchange may feed the join inputs (scan → sort → join directly)
    assert "hashpartitioning(o_orderkey" not in p
    assert "hashpartitioning(l_orderkey" not in p


def test_bucketed_pair_generators_have_no_cartesian(spark):
    """The scale-path candidate generators must pair within buckets via
    equi-joins only — a cartesian-class join here is the exact failure
    mode they exist to avoid."""
    for name in [
        "embedding_near_dup_pairs_ivf",
        "embedding_near_dup_pairs_gram",
        "semantic_vs_lexical_dedup_bucketed",
        "dedup_simhash_pairs",
        "dedup_ngram_jaccard",
        "range_join_view_attribution",
    ]:
        p = plan_str(spark, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_window_distribution_scalable_no_single_partition(spark):
    """The two-phase global ranking must never funnel the table through
    one partition — that is the single-reducer pattern the exact
    window_distribution is documented to have and this one replaces."""
    p = plan_str(spark, "window_distribution_scalable")
    assert "SinglePartition" not in p
    # the exact form really does single-reduce (the contrast this guards)
    assert "SinglePartition" in plan_str(spark, "window_distribution")


def test_text_pipeline_scans_prune_columns(spark):
    """The chunking/fingerprint/packing passes touch only (doc_id, text)
    — a scan reading lang/source/n_chars for them would ship the whole
    table at 100 TB."""
    for name in [
        "text_winnowing_fingerprints",
        "text_chunk_windows",
        "text_greedy_pack",
        "dedup_ngram_jaccard",
    ]:
        p = plan_str(spark, name)
        assert "doc_id" in p and "text" in p, name
        for col in ["lang", "source", "n_chars"]:
            assert f"{col}:" not in p, f"{name} scan reads {col}"


def test_whole_stage_codegen_everywhere_hot(spark):
    """Scalar/text pipelines must stay inside whole-stage codegen (no
    Python row loop in the hot path)."""
    for name in [
        "scalar_string_math",
        "text_token_counts",
        "text_fingerprint",
        "text_pii_scrub",
        "documents_quality_filter",
    ]:
        p = plan_str(spark, name)
        # formatted mode marks codegen'd operators with a '* ' prefix
        assert "* Project" in p or "* HashAggregate" in p, name
        assert "BatchEvalPython" not in p, f"{name} fell back to a Python UDF"


def test_tpch_pattern_queries_broadcast_dims(spark):
    """The adapted TPC-H patterns must broadcast their constant-size
    sides: dims in q9, the scalar thresholds in q11/q20 (a one-row
    broadcast, never a shuffle-side join), and q21's supplier dim."""
    for name in ["q9_product_profit", "q11_important_suppliers",
                 "q20_part_supply_candidates", "q21_multi_supplier_orders"]:
        p = plan_str(spark, name)
        assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, name
    # the semi-join forms must stay semi (no row multiplication)
    assert "LeftSemi" in plan_str(spark, "q20_part_supply_candidates")
    assert "LeftSemi" in plan_str(spark, "q21_multi_supplier_orders")


def test_bucketed_agg_has_no_exchange(spark):
    """groupBy on the bucket key of a bucketed table must not shuffle —
    the storage layout already satisfies the agg's distribution."""
    p = plan_str(spark, "bucketed_agg_orders")
    assert "Bucketed: true" in p
    assert "hashpartitioning(l_orderkey" not in p


def test_term_weighting_plans_stay_jvm_side(spark):
    """TF-IDF / BM25 / unigram-LM must map-side combine their counts,
    keep scalar corpus statistics as broadcasts, never fall back to
    Python, and prune the untouched document columns from the scan."""
    for name in [
        "text_tfidf_top_terms",
        "text_bm25_query_scores",
        "text_unigram_logprob",
    ]:
        p = plan_str(spark, name)
        assert "partial_count" in p or "partial_sum" in p, name
        assert "BatchEvalPython" not in p, f"{name} fell back to a Python UDF"
        assert "Broadcast" in p, f"{name} shuffles its scalar statistics"
        for col in ["lang", "source", "n_chars"]:
            assert f"{col}:" not in p, f"{name} scan reads {col}"


def test_round5_small_sides_broadcast(spark):
    """The r05 operators' pruning sets (frequent segments, bloom bitmap,
    vocabulary) are model-sized and must ride as broadcast build sides —
    a shuffled anti-join here would move the corpus to prune it."""
    for name in ["dedup_line_level", "text_vocab_oov"]:
        p = plan_str(spark, name)
        assert "BroadcastExchange" in p, name
        # the anti-join against the broadcast set must be a broadcast join
        assert "BroadcastHashJoin" in p and "LeftAnti" in p, name
    p = plan_str(spark, "dedup_bloom_decontaminate")
    assert "BroadcastExchange" in p
    # the bloom probe itself is a filter over a broadcast nested-loop
    # (single-row bitmap join); the exact confirm is broadcast too
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_round5_no_python_in_hot_paths(spark):
    """Segment dedup, bloom probing, vocab/OOV, PSI, resampling and the
    A-ES sampler are pure codegen'd SQL — no Python evaluation node may
    appear in their plans."""
    for name in [
        "dedup_line_level",
        "dedup_bloom_decontaminate",
        "text_vocab_oov",
        "source_length_psi",
        "sample_weighted_per_lang",
        "events_resample_ffill",
    ]:
        p = plan_str(spark, name)
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, name


def test_bloom_fast_path_filters_without_join_on_big_side(spark):
    """The clean-row fast path must be: scan -> broadcast bitmap ->
    filter. No Exchange (shuffle) of the corpus may occur before the
    bloom test prunes it."""
    import contextlib
    import io as _io

    from pyspark.sql import functions as F

    from orca_spark.operators.dedup3 import bloom_build, bloom_might_contain
    from orca_spark.tables import load

    d = load(spark, SF_DIR, "documents")
    corpus = d.select("doc_id", F.md5("text").alias("k"))
    contam = d.limit(50).select(F.md5("text").alias("k"))
    probed = corpus.join(F.broadcast(bloom_build(contam, "k")))
    fast = probed.where(~bloom_might_contain("bloom", "k"))
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        fast.explain(mode="formatted")
    p = buf.getvalue()
    # the build side legitimately contains exchanges (the bitmap agg is
    # position-set-sized); the contract is about the STREAMED corpus
    # side: its subtree (the ':-' branch of the join) must go scan ->
    # project -> join with no Exchange
    tree = p.split("== Physical Plan ==")[1].split("\n\n")[0]
    streamed = [ln for ln in tree.splitlines() if ln.lstrip().startswith(":")]
    assert streamed, tree
    assert not any("Exchange" in ln for ln in streamed), (
        "corpus shuffled before bloom pruning:\n" + tree
    )


def test_kmeans_literal_assign_is_shuffle_free(spark):
    """The k<=64 assignment pass must be a codegen'd literal argmin over
    the scan — no Exchange, no join; the whole per-iteration corpus cost
    is one map-side pass."""
    import contextlib
    import io as _io

    from orca_spark.operators.similarity import (
        ivf_assign_literal,
        kmeans_centroids,
        load_embeddings,
    )

    emb = load_embeddings(spark, SF_DIR)
    cents = kmeans_centroids(emb, k=8, cache_key=SF_DIR)
    assigned = ivf_assign_literal(emb, cents, nprobe=1)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        assigned.explain(mode="formatted")
    p = buf.getvalue()
    assert "Exchange" not in p
    assert "Join" not in p


def test_contrastive_broadcasts_anchors(spark):
    """Hard-negative mining must stream the corpus once against
    broadcast anchors — same contract as similarity_brute_topk."""
    p = plan_str(spark, "contrastive_hard_negatives")
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p


def test_diagnostics_and_retrieval_plans(spark):
    """The r05 diagnostics must keep their scale shapes: heavy-hitter
    top-k via TakeOrdered (never a global sort), partial aggregation
    before every exchange, fused retrieval's final top-k likewise, and
    no Python nodes anywhere."""
    p = plan_str(spark, "skew_key_profile")
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p
    for name in [
        "join_cardinality_estimate",
        "embedding_dimension_stats",
        "retrieval_hybrid_rrf",
    ]:
        p = plan_str(spark, name)
        assert "partial_" in p, name
        assert "BatchEvalPython" not in p, name
    p = plan_str(spark, "retrieval_hybrid_rrf")
    # TWO TakeOrdered nodes: the semantic candidate list truncates to
    # its top-_SEM_LIST BEFORE its rank window (RRF fuses truncated
    # lists — the r09 verdict's corpus-sized-window fix), and the fused
    # top-10 compiles to TakeOrdered as well.  The only remaining
    # unpartitioned windows run on list-sized inputs (BM25-matched
    # docs; the truncated semantic list).  Formatted explain prints
    # each node twice (tree + detail section), so 2 nodes -> count 4.
    assert p.count("TakeOrderedAndProject") >= 4
    assert "BroadcastExchange" in p  # query vector + BM25 scalars
    # Batched form: the per-query semantic rank filter must compile to
    # a map-side PARTIAL WindowGroupLimit so no corpus-sized partition
    # ever reaches the rank window's exchange.
    p = plan_str(spark, "retrieval_hybrid_rrf_batch")
    assert "WindowGroupLimit" in p
    assert ", Partial" in p


def test_linkage_and_sequence_plans(spark):
    """r05 batch-2 operators keep their scale shapes: the edit-distance
    blocker joins on (lang, bucket) hash keys — never a nested-loop or
    cartesian over documents; the winsorize pass broadcasts its tiny
    per-type cuts frame back over the stream; all stay JVM-side."""
    p = plan_str(spark, "dedup_edit_distance")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p
    p = plan_str(spark, "events_value_winsorized")
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p
    for name in [
        "events_markov_transitions",
        "orders_pareto_classes",
        "text_nucleus_vocab",
        "events_value_histogram",
        "events_value_deciles",
    ]:
        p = plan_str(spark, name)
        assert "partial_" in p, name  # counts partial-agg before the exchange
        assert "BatchEvalPython" not in p, name


def test_lm_and_graph_plans(spark):
    """r05 batch-3 operators keep their scale shapes: the bigram LM's
    vocab scalar and PMI's doc-count scalar ride one-row broadcasts,
    every count partial-aggregates before its exchange, the EWMA band
    self-join and the near-dup token join are hash-keyed (never a
    cartesian over rows), and everything stays JVM-side."""
    for name in ["text_bigram_logprob", "text_pmi_pairs"]:
        p = plan_str(spark, name)
        assert "partial_" in p, name
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name
        # the single-row scalar (vocab size / corpus doc count) must be
        # the broadcast side, never a shuffled join input
        assert "BroadcastExchange" in p, name
    for name in ["events_ewma_smoothed", "graph_neardup_degree"]:
        p = plan_str(spark, name)
        assert "partial_" in p, name
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name


def test_batch4_plans(spark):
    """r05 batch-4 scale shapes: the phrase probe's one-row top bigram
    is a TakeOrderedAndProject broadcast back over the stream (never a
    global sort); association cells window over the model-sized
    contingency table; tfidf blocking and the quantile explode stay
    hash-partitioned and JVM-side."""
    p = plan_str(spark, "text_phrase_topbigram_docs")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastExchange" in p
    for name in [
        "text_phrase_topbigram_docs",
        "events_type_hour_association",
        "similarity_tfidf_cosine_pairs",
    ]:
        p = plan_str(spark, name)
        assert "partial_" in p, name
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name
    # pure explode→window pipeline: no aggregate at all, one Exchange
    # on the dimension key, sort inside the window only
    p = plan_str(spark, "embedding_quantile_normalized")
    assert "Window" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_batch5_plans(spark):
    """r05 batch-5 scale shapes: trigram lags share one user_id sort
    (a single Window node with both lag frames); rolling-DAU broadcasts
    the day table over the deduped (day, user) stream; MAD broadcasts
    the model-sized median tables; all partial-aggregate and stay
    JVM-side."""
    p = plan_str(spark, "events_trigram_sequences")
    assert p.count("Window") >= 1
    assert "partial_count" in p
    p = plan_str(spark, "events_rolling_dau_7d")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "partial_" in p
    for name in ["events_mad_robust", "orders_rfm_scores",
                 "dedup_containment_pairs"]:
        p = plan_str(spark, name)
        assert "partial_" in p, name
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name


def test_pipeline_and_ivm_plans(spark):
    """The composed corpus pipeline must fuse its quality gates into the
    scan (filters, no extra pass) and partial-aggregate both shuffles;
    the IVM merge must partial-aggregate the state union; the brand
    affinity must broadcast the part dim."""
    p = plan_str(spark, "pipeline_pretrain_corpus")
    assert "partial_" in p
    assert "BatchEvalPython" not in p
    p = plan_str(spark, "ivm_incremental_agg")
    assert "partial_" in p
    assert "CartesianProduct" not in p
    p = plan_str(spark, "orders_brand_affinity")
    assert "BroadcastHashJoin" in p  # part dim build side
    assert "partial_" in p


def test_covariance_agg_plan_is_join_free(spark):
    """The d x d moment accumulation must come from row-local pair
    generation (posexplode + slice), ONE aggregation, and NO join —
    the r06 version self-joined the n·d exploded stream, shuffling
    data rows instead of d^2 partials."""
    import contextlib
    import io

    from orca_spark.operators.similarity import load_embeddings
    from orca_spark.operators.whitening import covariance_agg

    df = covariance_agg(load_embeddings(spark, SF_DIR))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    p = buf.getvalue()
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2 or "partial" in p.lower(), p  # map-side combine


def test_triangle_census_plan_has_no_cartesian(spark):
    """The wedge/closure joins must be keyed (hash) joins; the only
    nested-loop joins allowed are the final single-row scalar combines
    (nodes x triangles x edges), which broadcast one row each."""
    p = plan_str(spark, "graph_triangle_census")
    assert "CartesianProduct" not in p
    assert "HashJoin" in p or "SortMergeJoin" in p  # the data-path joins
    # every nested-loop occurrence is a cross of 1-row aggregates: both
    # appear above the final Project, never under a per-row operator
    # (formatted mode prints each node twice: tree + detail section)
    assert p.count("BroadcastNestedLoopJoin") <= 4


def test_sequence_pack_window_is_partitioned(spark):
    """The packing cumsum must be a PARTITIONED window — a global
    (empty partition spec) running total would serialize the corpus
    through one task."""
    p = plan_str(spark, "corpus_sequence_pack")
    import re

    for m in re.finditer(r"partitionBy=\[(.*?)\]", p):
        assert m.group(1).strip(), "window with EMPTY partition spec in plan"
    assert "Window" in p


def test_graph_link_prediction_topk_no_cartesian(spark):
    """The suggestion surface must end in a top-k (never a global sort)
    and the candidate generation must stay join-keyed (no cartesian)."""
    p = plan_str(spark, "graph_link_prediction_jaccard")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_budget_pack_prunes_scan_to_needed_columns(spark):
    """The curation window needs text/lang/doc_id only — n_chars and
    source must never leave the parquet scan."""
    p = plan_str(spark, "corpus_budget_pack")
    read_schema = p.split("ReadSchema")[1][:400]
    assert "n_chars" not in read_schema
    assert "source" not in read_schema


def test_acf_aggregates_partially_before_exchange(spark):
    """The hourly count and the per-lag moment sums must map-side
    combine — at scale the shuffle carries hour/lag rows, not events."""
    p = plan_str(spark, "events_acf_hourly")
    assert "partial_count" in p or "partial_sum" in p


def test_jsd_broadcasts_model_sized_sides(spark):
    """Per-source totals and the pair table are source-count-sized and
    must broadcast; only the vocab-sized count table may shuffle."""
    p = plan_str(spark, "source_unigram_jsd")
    assert "BroadcastHashJoin" in p


def test_t_closeness_broadcasts_global_distribution(spark):
    p = plan_str(spark, "privacy_t_closeness_audit")
    assert "BroadcastHashJoin" in p
    assert "partial_count" in p or "partial_sum" in p


def test_sla_breach_partial_agg_and_pruned_scan(spark):
    """The fact-to-dim join must aggregate with map-side partials, and
    the lineitem scan must not read money columns the query ignores."""
    p = plan_str(spark, "orders_shipping_sla_breach")
    assert "partial_count" in p or "partial_sum" in p
    read_schema = p.split("ReadSchema")[1][:600]
    assert "l_extendedprice" not in read_schema


def test_shuffle_hash_hint_changes_physical_strategy(spark):
    """The hint must actually produce a ShuffledHashJoin (the default
    for two large sides is sort-merge) — a silently-ignored hint would
    still pass the oracle."""
    p = plan_str(spark, "join_hinted_shuffle_hash")
    assert "ShuffledHashJoin" in p


def test_r08_pair_generators_have_no_cartesian(spark):
    """Round-8 pair/join paths: the interval-overlap self-join must key
    on custkey with the range predicates as post-join filters (never a
    cartesian class), the phash band join on (band, key), and the RAG
    composition's survivor join on its equality keys."""
    for name in [
        "orders_interval_overlap_pairs",
        "multimodal_phash_neardup",
        "pipeline_rag_corpus",
    ]:
        p = plan_str(spark, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "BatchEvalPython" not in p, f"{name} fell back to a Python UDF"


def test_null_safe_join_still_plans_as_hash_join(spark):
    """The entire point of <=>: NULL-keeping semantics WITHOUT giving up
    the hash-join physical strategy."""
    p = plan_str(spark, "join_null_safe_eq")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_r08_aggregates_partial_combine(spark):
    """The new scan-bound aggregates must map-side combine — at scale
    the shuffle carries partials (digit/dim/group rows), not the table."""
    for name in [
        "orders_benford_deviation",
        "embedding_dimension_profile",
        "corpus_sqrt_mix_weights",
        "orders_running_distinct_customers",
    ]:
        p = plan_str(spark, name)
        assert "partial_sum" in p or "partial_count" in p, name
        assert "BatchEvalPython" not in p, name


def test_parameterized_sql_pushes_param_filter_to_scan(spark):
    """Named parameters must bind as literals visible to pushdown: the
    priority equality must reach the parquet scan's PushedFilters."""
    p = plan_str(spark, "sql_parameterized_query")
    assert "PushedFilters" in p
    assert "o_orderpriority" in p.split("PushedFilters")[1][:300]


def test_curation_trio_partial_combine_no_cartesian_no_python(spark):
    """The r08 batch-8 curation trio is explode -> term/doc-keyed
    groupBys: every agg must map-side combine, the scalar totals must
    ride as broadcasts (BroadcastNestedLoop over ONE-row sides only —
    never a CartesianProduct), and nothing falls back to Python."""
    for name in [
        "corpus_dsir_importance",
        "corpus_ccnet_perplexity_buckets",
        "retrieval_inverted_index",
    ]:
        p = plan_str(spark, name)
        assert "partial_count" in p or "partial_sum" in p, name
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name


def test_inverted_index_argmax_is_aggregated_not_windowed(spark):
    """The top-posting arg-max must be the partial-aggregable
    max(struct), not a per-term row_number window (a window would sort
    the full postings stream at scale)."""
    p = plan_str(spark, "retrieval_inverted_index")
    assert "Window" not in p
    assert "partial_max" in p or "max(top" in p or "max(struct" in p


def test_q2_broadcasts_dims_no_cartesian(spark):
    """q2's part filter and the region-restricted supplier dim must be
    broadcast sides; the min-cost join-back shuffles on partkey only —
    never a CartesianProduct, never Python."""
    p = plan_str(spark, "q2_min_cost_supplier")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_robust_stats_stay_jvm_side(spark):
    """Theil-Sen and Kaplan-Meier are pure DataFrame plans: the hourly /
    per-t pre-aggregations partial-combine, nothing drops to Python, and
    the Theil-Sen pair stage is an equi-join on event_type (hash or
    sort-merge), not a cartesian."""
    for name in ["events_theilsen_trend", "orders_survival_km"]:
        p = plan_str(spark, name)
        assert "partial_count" in p or "partial_sum" in p, name
        assert "BatchEvalPython" not in p, name
    assert "CartesianProduct" not in plan_str(spark, "events_theilsen_trend")


def test_c4_rules_shuffle_free(spark):
    """The C4 scorecard is a row-local map: no exchange at all, no
    Python fallback."""
    p = plan_str(spark, "text_c4_filter_rules")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p


def test_chi2_broadcasts_marginals_no_cartesian(spark):
    """The chi2 marginals and the scalar N are one-row/dim-sized
    broadcasts; the only BroadcastNestedLoop allowed is the one-row
    total — never a CartesianProduct, never Python."""
    p = plan_str(spark, "customer_segment_nation_chi2")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_span_scrub_never_pairwise_no_python(spark):
    """The scrub action keeps the diagnostic sibling's shape: gram- and
    (doc,idx)-keyed hash shuffles only — a cartesian/nested-loop pair
    join or a Python row loop creeping in would be the scale killer the
    family forbids."""
    p = plan_str(spark, "dedup_span_scrub")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p


def test_prefix_suffix_join_is_equi_hash_not_cartesian(spark):
    """The boundary join must be an equality join on the boundary key
    (hash or sort-merge), never all-pairs."""
    p = plan_str(spark, "dedup_prefix_suffix_overlap")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p
    assert "Join" in p


def test_audio_video_kernels_are_arrow_batched_maps(spark):
    """The modality kernels are single mapInPandas passes: Arrow
    batched (never row-at-a-time BatchEvalPython), no shuffle. The
    roundtrip forms (synthesize -> production kernel) must keep the
    same shape — a shuffle or Python row loop creeping into a
    per-document pass would be a scale regression at any corpus size."""
    for name in [
        "multimodal_audio_features",
        "multimodal_video_scene_cuts",
        "multimodal_wav_roundtrip_features",
        "multimodal_y4m_roundtrip_cuts",
        "multimodal_phash_dct_roundtrip",
    ]:
        p = plan_str(spark, name)
        assert "MapInPandas" in p, name
        assert "BatchEvalPython" not in p, name
        assert "Exchange" not in p, name


def test_full_curation_pipeline_composes_without_cartesian_or_python(spark):
    """The r09 composed pipeline (gate -> exact dedup -> prefix
    near-dedup -> DSIR -> mix -> pack) must keep each stage's scale
    shape when fused into one plan: hash-keyed dedup shuffles, map-side
    combinable aggregates, scalar totals as one-row broadcasts (never a
    CartesianProduct), the weight window over the model-sized manifest
    only, and zero Python in the plan."""
    p = plan_str(spark, "pipeline_full_curation")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "MapInPandas" not in p
    assert "partial_count" in p or "partial_sum" in p
    # survivor selection groups on the 8-byte hash, never raw text
    assert "xxhash64" in p
    # the only Window is the per-lang weight normalization over the
    # (lang, source) manifest — exactly one in the whole composite
    tree = p.split("\n(1)")[0]
    # whole-node match: a raw substring count would also hit nodes like
    # WindowGroupLimit that Spark may introduce in future plan shapes
    windows = re.findall(r"\bWindow\b", tree)
    assert len(windows) == 1, tree


def test_incremental_curation_keeps_delta_path_hash_keyed(spark):
    """pipeline_curation_incremental's delta pass must stay on the IVM
    contract: both history-index anti-joins are hash-keyed (never a
    nested-loop over texts), dedup groups on xxhash64 (never raw text),
    the frozen-model scalars ride broadcasts, and no Python reaches the
    plan. The only nested-loop joins are the 1-row broadcast scalars
    (threshold / totals) — the house-accepted crossJoin shape."""
    p = plan_str(spark, "pipeline_curation_incremental")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "MapInPandas" not in p
    assert "xxhash64" in p
    assert "LeftAnti" in p
    assert "BroadcastExchange" in p
    # anti-joins against the history indexes are HASH joins on the
    # 8-byte key, not nested loops: every BNLJ in this plan must be a
    # Cross (1-row broadcast scalar), never an anti over the index
    assert "BroadcastNestedLoopJoin BuildRight, LeftAnti" not in p
    assert "BroadcastNestedLoopJoin BuildLeft, LeftAnti" not in p


def test_mix_schedule_and_apportionment_window_over_manifests(spark):
    """The CCNet schedule's only windows are the per-lang document-level
    ntile (what CCNet itself runs) and the per-lang weight
    normalization over the model-sized manifest; the apportionment's
    global (SinglePartition) windows run over the (lang, source)
    manifest AFTER aggregation — never over the corpus. Neither plan
    may contain a cartesian product or Python."""
    for name in ["corpus_ccnet_mix_schedule", "corpus_token_budget_allocation"]:
        p = plan_str(spark, name)
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name
        assert "partial_count" in p or "partial_sum" in p, name
    p = plan_str(spark, "corpus_token_budget_allocation")
    # the global window's exchange is SinglePartition (detail section)...
    assert "SinglePartition" in p
    # ...and in the tree (parents print first) an Exchange sits ABOVE
    # the shard aggregate: the window consumes the manifest, not rows
    tree = p.split("\n(1)")[0].splitlines()
    ex = next((i for i, l in enumerate(tree) if "Exchange" in l), None)
    ag = max((i for i, l in enumerate(tree) if "HashAggregate" in l), default=None)
    assert ex is not None, "no Exchange in the plan tree"
    assert ag is not None, "no HashAggregate in the plan tree"
    assert ex < ag, "global window does not sit above the shard aggregate"


def _has_join_below(tree: list[str], node_id: str) -> bool:
    """Whether the subtree of tree node ``node_id`` holds a join: the
    subtree is every following line indented deeper than the node."""
    i = next(i for i, l in enumerate(tree) if l.endswith(f" ({node_id})"))
    depth = re.search(r"[A-Za-z]", tree[i]).start()
    for line in tree[i + 1:]:
        if re.search(r"[A-Za-z]", line).start() <= depth:
            return False
        if "Join" in line:
            return True
    return False


def test_pair_scan_scoring_is_stage_split(spark):
    """The embedding pair scans score through
    ``similarity.threshold_pairs``: threshold inside the join, cosine
    rescored behind an exchange keyed on BOTH pair ids (the split is
    load-bearing; the measurements are in that docstring). The exchange
    must survive every shuffle width, so the plans are checked at the
    two widths that let Spark drop a barrier keyed on ``vec_a`` alone:
    ``2 x defaultParallelism`` (the exact scans' spread count) and
    ``max(2 x defaultParallelism, 16)`` (the IVF spread count)."""
    dp = spark.sparkContext.defaultParallelism
    for parts in sorted({2 * dp, max(2 * dp, 16)}):
        with conf_scope(spark, {"spark.sql.shuffle.partitions": str(parts)}):
            for name in [
                "embedding_near_dup_pairs",
                "embedding_near_dup_pairs_ivf",
                "semantic_vs_lexical_dedup",
            ]:
                p = plan_str(spark, name)
                at = f"{name} @ {parts} shuffle partitions"
                # the barrier partitions by the survivor key (detail section)
                assert "hashpartitioning(vec_a" in p, (
                    f"{at}: survivor-rescore exchange missing — the dot "
                    "chain is fused back into the join stage"
                )
                # tree lines end where the per-node details begin
                tree = p.split("\n(1)")[0].splitlines()
                if name != "semantic_vs_lexical_dedup":
                    # a single pair scan: in the tree (parents print
                    # first) an Exchange sits ABOVE the pair join
                    ex = next((i for i, l in enumerate(tree) if "Exchange" in l), None)
                    jn = next((i for i, l in enumerate(tree) if "Join" in l), None)
                    assert ex is not None, f"{at}: no Exchange in the plan tree"
                    assert jn is not None, f"{at}: no Join in the plan tree"
                    assert ex < jn, f"{at}: rescore exchange not above the join"
                keyed = re.findall(
                    r"^\((\d+)\) Exchange\nInput \[\d+\]: .*\nArguments: "
                    r"hashpartitioning\(vec_a#\d+L?, vec_b#\d+L?, \d+\)",
                    p,
                    re.M,
                )
                assert keyed, f"{at}: no exchange keyed on (vec_a, vec_b)"
                for node in keyed:
                    assert _has_join_below(tree, node), (
                        f"{at}: (vec_a, vec_b) exchange ({node}) not above the pair join"
                    )


def test_span_scrub_hashed_shuffles_only_on_longs(spark):
    """dedup_span_scrub_hashed exists to shuffle on xxhash64(gram)
    LONGS instead of gram strings (r10 verdict item 6): no exchange in
    its plan may be keyed on the gram text — keys must be gram_h /
    (doc_id, idx) / doc_id only — and the hash must be computed
    (xxhash64 present) before the first exchange."""
    import re

    p = plan_str(spark, "dedup_span_scrub_hashed")
    exchanges = re.findall(r"hashpartitioning\([^)]*\)", p)
    assert exchanges, "no exchanges found — plan shape changed?"
    assert any("gram_h#" in e for e in exchanges), exchanges  # LONG key
    for e in exchanges:
        assert not re.search(r"\bgram#", e), e  # gram string never a key
    # the xxhash64 computation itself lives above the localCheckpoint
    # (lineage truncation hides it from the downstream plan), so assert
    # it on the checkpointed stream's own logical plan: gram_h must be
    # a LONG, which only xxhash64 produces in this pipeline
    assert re.search(r"gram_h#\d+L", p), "gram_h is not a long column"


def test_exactsubstr_never_pairwise_no_python(spark):
    """The paper-exact ExactSubstr form inherits the family's scale
    contract: the extra canonical-copy logic is a min(pk) partial
    inside the existing gram-keyed aggregate plus a filter on the
    join-back — NOT a new join, and certainly not a pair join. Same
    forbidden-node list as dedup_span_scrub."""
    p = plan_str(spark, "dedup_span_exactsubstr")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    # min(pk) rides the same gram-keyed exchange as the count — a
    # separate window/sort over the gram stream would double the cost
    assert "partial_min" in p, "canonical-copy min is not map-side partial"


def test_sq8_topk_broadcasts_queries_streams_corpus_once(spark):
    """similarity_sq8_topk's scale shape: quantization is a narrow map
    at the scan (no exchange below the scoring join), the bounded query
    side broadcasts (non-equi join => BroadcastNestedLoop is the
    CORRECT node here, with the tiny side broadcast), and the only hash
    exchange is the per-query top-k window. No Python anywhere — the
    quantizer is transform()/floor(), JVM-side codegen."""
    p = plan_str(spark, "similarity_sq8_topk")
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # queries broadcast, corpus streamed
    import re

    exchanges = re.findall(r"hashpartitioning\([^)]*\)", p)
    # the window's per-query shuffle is the ONLY hash exchange
    assert all("query_id#" in e for e in exchanges), exchanges


def test_sq8_incremental_probes_persisted_index_not_history(spark):
    """similarity_sq8_incremental's scale contract: the history side of
    the probe plan is the PERSISTED parquet index — the embeddings
    table is scanned exactly once (the new batch); history's bands and
    codes are never recomputed. The index equi-join is a plain hash
    join on (band, key); no Python, no cartesian."""
    p = plan_str(spark, "similarity_sq8_incremental")
    assert "sq8_srp_index" in p, "probe must read the persisted index"
    assert p.count("embeddings.parquet") == 1, (
        "history must come from the index, not a second corpus scan"
    )
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_exactsubstr_hashed_shuffles_only_on_longs(spark):
    """dedup_span_exactsubstr_hashed exists to shuffle on xxhash64(gram)
    LONGS instead of gram strings (r11 verdict item 6): no exchange may
    be keyed on gram text, the canonical-copy min(pk) must ride the
    same hashed-gram aggregate as the count (map-side partial), and the
    family's forbidden nodes stay absent."""
    import re

    p = plan_str(spark, "dedup_span_exactsubstr_hashed")
    exchanges = re.findall(r"hashpartitioning\([^)]*\)", p)
    assert exchanges, "no exchanges found — plan shape changed?"
    assert any("gram_h#" in e for e in exchanges), exchanges
    for e in exchanges:
        assert not re.search(r"\bgram#", e), e
    assert re.search(r"gram_h#\d+L", p), "gram_h is not a long column"
    assert "partial_min" in p, "canonical-copy min is not map-side partial"
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p


def test_multimodal_curation_composes_banded_no_allpairs(spark):
    """pipeline_multimodal_curation's stage contract: the only Python
    in the plan is the one Arrow phash kernel (row-local map); the
    phash pair search is the banded 2-byte-key equi-join, never a
    cartesian; exact dedup and the drop anti-join shuffle longs; no
    exchange is keyed on document text."""
    import re

    p = plan_str(spark, "pipeline_multimodal_curation")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p  # row-at-a-time Python forbidden
    for e in re.findall(r"hashpartitioning\([^)]*\)", p):
        assert not re.search(r"\btext#", e), e


def test_decontaminate_scrub_broadcasts_bench_hashes_grams(spark):
    """pipeline_decontaminate_scrub's scale contract: the benchmark
    gram set reaches the corpus through a BROADCAST join (eval sets are
    never corpus-scale); gram keys are xxhash64 longs — no exchange
    keyed on gram or document text; no Python anywhere."""
    import re

    p = plan_str(spark, "pipeline_decontaminate_scrub")
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # bench hash set + gram set broadcast
    for e in re.findall(r"hashpartitioning\([^)]*\)", p):
        # no escape hatch: \bgram# cannot match gram_h# (underscore is a
        # word char), so a hashed-key exchange passes on its own merits —
        # and a wide key riding alongside gram_h must still fail
        assert not re.search(r"\btext#|\bgram#|\btok#", e), e


def test_span_string_fanouts_run_wide_hashed_form_does_not(spark):
    """The un-checkpointed string-keyed span queries re-run the
    tokenize + gram fan-out per consumer, so the single-split scan must
    be widened (round-robin exchange below the Generate). The hashed
    form checkpoints its gram stream — there the fan-out is paid once
    and the A/B measured the extra exchange + wider checkpointed RDD as
    a NET LOSS at sf0.1 (2.11 -> 2.69 s), so it must stay unwidened
    (the function's NOTE records the measurement)."""
    import pytest

    from orca_spark.tables import load
    from tests.conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents")
    # widen() is a deliberate no-op when the scan already has >= core
    # splits (1-core runners, multi-file test parquets) — assert the
    # POLICY only where it applies, not the environment (ADVICE r12)
    if len(docs.inputFiles()) >= spark.sparkContext.defaultParallelism:
        pytest.skip("scan already at executor width: widen is a no-op here")
    for name in ["dedup_span_coverage", "dedup_span_scrub"]:
        assert "roundrobinpartitioning" in plan_str(spark, name).lower(), name
    assert (
        "roundrobinpartitioning"
        not in plan_str(spark, "dedup_span_scrub_hashed").lower()
    )
