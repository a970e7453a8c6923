"""Plan-shape regression tests: pushdown, pruning, and join strategies
must stay what the scale design intends — results being right is not
enough."""

from __future__ import annotations

from levi_spark.plans.inspect import plan_summary, pushed_filters, read_schemas
from levi_spark.queries import (
    customer_order_presence,
    ivf_ann_topk,
    q1_pricing_summary,
    q5_local_supplier,
    q6_forecast_revenue,
    q9_profit_by_nation_year,
)

SF = "/root/testdata/sf0.001"


def test_q6_pushdown_and_pruning(spark):
    df = q6_forecast_revenue(spark, SF)
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), pf
    assert any("l_discount" in f for f in pf), pf
    assert any("l_quantity" in f for f in pf), pf
    (schema,) = read_schemas(df)
    # projection pruned to exactly the 4 referenced columns
    assert schema.count(":") == 4, schema


def test_q1_scan_prunes_columns(spark):
    (schema,) = read_schemas(q1_pricing_summary(spark, SF))
    # 7 of lineitem's 11 columns are referenced
    assert schema.count(":") == 7, schema


def test_q5_broadcasts_dimensions(spark):
    s = plan_summary(q5_local_supplier(spark, SF))
    # nation + region are explicit broadcasts; AQE may broadcast more
    assert s["broadcast_exchanges"] >= 2, s
    assert s["scans"] == 6, s


def test_q9_broadcasts_three_dims(spark):
    s = plan_summary(q9_profit_by_nation_year(spark, SF))
    assert s["broadcast_exchanges"] >= 3, s


def test_semi_anti_join_operators_used(spark):
    from levi_spark.plans.inspect import executed_plan

    plan = executed_plan(customer_order_presence(spark, SF))
    assert "LeftSemi" in plan, plan[:500]
    assert "LeftAnti" in plan, plan[:500]


def test_ivf_scoring_is_one_mapside_pass(spark):
    """r12: coarse assignment + probe membership + candidate scoring
    run in ONE numpy map-side pass (the centroids are a bounded
    driver-side collect); the only exchange left is the final
    per-query top-k window — no centroid cross join at all."""
    from levi_spark.plans.inspect import executed_plan

    df = ivf_ann_topk(spark, SF)
    plan = executed_plan(df)
    assert "MapInPandas" in plan, plan[:800]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    s = plan_summary(df)
    assert s["exchanges"] <= 1, s


def test_q7_broadcasts_prefiltered_nations(spark):
    from levi_spark.queries import q7_volume_shipping

    s = plan_summary(q7_volume_shipping(spark, SF))
    # both nation copies ride broadcasts; the date filter reaches the scan
    assert s["broadcast_exchanges"] >= 2, s
    pf = pushed_filters(q7_volume_shipping(spark, SF))
    assert any("l_shipdate" in f for f in pf), pf


def test_q19_envelope_pushdown(spark):
    from levi_spark.queries import q19_disjunctive_revenue

    pf = pushed_filters(q19_disjunctive_revenue(spark, SF))
    # the factored quantity/size envelopes push even though the
    # disjunction itself cannot
    assert any("l_quantity" in f for f in pf), pf
    assert any("p_size" in f for f in pf), pf


def test_q14_part_broadcast(spark):
    from levi_spark.queries import q14_promo_revenue

    s = plan_summary(q14_promo_revenue(spark, SF))
    assert s["broadcast_exchanges"] >= 1, s


def test_q22_anti_join_shape(spark):
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import q22_idle_customers

    plan = executed_plan(q22_idle_customers(spark, SF))
    assert "LeftAnti" in plan, plan[:500]


def test_funnel_event_type_filters_pushed(spark):
    from levi_spark.queries import events_funnel

    pf = pushed_filters(events_funnel(spark, SF))
    assert any("event_type" in f for f in pf), pf


def test_q21_self_join_semi_anti_and_pruning(spark):
    """Q21's EXISTS/NOT EXISTS self-joins must run as semi/anti joins,
    and column pruning must reach *through* the aliased self-join: the
    semi-probe copy of lineitem reads only (orderkey, suppkey) — at
    100 TB each self-join side ships minimal columns."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import q21_waiting_suppliers

    df = q21_waiting_suppliers(spark, SF)
    plan = executed_plan(df)
    assert "LeftSemi" in plan, plan[:500]
    assert "LeftAnti" in plan, plan[:500]
    schemas = [s for s in read_schemas(df) if "l_orderkey" in s]
    assert sorted(s.count(":") for s in schemas) == [2, 3, 3], schemas


def test_q2_dimension_broadcasts_and_pushdown(spark):
    from levi_spark.queries import q2_min_cost_supplier

    s = plan_summary(q2_min_cost_supplier(spark, SF))
    # part/supplier/nation/region all ride broadcasts
    assert s["broadcast_exchanges"] >= 4, s
    pf = pushed_filters(q2_min_cost_supplier(spark, SF))
    assert any("p_size" in f for f in pf), pf


def test_q4_semi_join_with_date_pushdown(spark):
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import q4_order_priority

    df = q4_order_priority(spark, SF)
    assert "LeftSemi" in executed_plan(df)
    pf = pushed_filters(df)
    assert any("o_orderdate" in f for f in pf), pf


def test_q11_single_fact_scan(spark):
    """The scalar-subquery total must come from the already-aggregated
    per-part frame, not a second lineitem scan."""
    from levi_spark.queries import q11_important_parts

    s = plan_summary(q11_important_parts(spark, SF))
    # lineitem + supplier + nation + region (+1 would mean a re-scan
    # of the fact for the grand total; the reused subplan may or may
    # not surface as an extra scan node depending on AQE, so bound it)
    assert s["scans"] <= 8, s
    assert s["broadcast_exchanges"] >= 3, s


def test_dv_scan_stays_pushdown_clean(spark, tmp_path):
    """A DV-filtered scan must still push data predicates to parquet —
    the anti-join rides above the scan, never blocks it."""
    from levi_spark.delta.dv import soft_delete
    from levi_spark.delta.log import DeltaLog
    from levi_spark.delta.writer import write_delta
    import pyspark.sql.functions as F

    p = str(tmp_path / "t")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    write_delta(li.repartition(4), p, mode="error")
    soft_delete(spark, p, "l_quantity > 45")
    df = DeltaLog(spark, p).snapshot().to_df().where(F.col("l_orderkey") == 7)
    pf = pushed_filters(df)
    assert any("l_orderkey" in f for f in pf), pf


def test_pack_sequences_avoids_global_window(spark):
    """The packing prefix sum must stay range-partitioned — a naive
    sum() over (order by doc_id) would plan an Exchange SinglePartition
    under the Window and serialize the corpus through one task."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import doc_pack_sequences

    plan = executed_plan(doc_pack_sequences(spark, SF))
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan, plan[:800]


def test_eval_contamination_broadcasts_eval_shingles(spark):
    from levi_spark.queries import eval_contamination

    s = plan_summary(eval_contamination(spark, SF))
    assert s["broadcast_exchanges"] >= 1, s


def test_regex_scrub_prunes_scan(spark):
    from levi_spark.queries import doc_regex_scrub

    (schema,) = read_schemas(doc_regex_scrub(spark, SF))
    # only lang + text are referenced
    assert schema.count(":") == 2, schema


def test_pq_trained_encode_is_map_side_only(spark):
    """Trained-PQ encoding must be a pure projection: codebooks return
    as literal arrays, so the plan may contain no join and no exchange
    at all — at 100 TB the encode pass is embarrassingly parallel."""
    from levi_spark.queries import pq_trained_codes

    s = plan_summary(pq_trained_codes(spark, SF))
    assert s["broadcast_hash_joins"] == 0, s
    assert s["sort_merge_joins"] == 0, s
    assert s["exchanges"] == 0, s
    assert s["scans"] == 1, s


def test_domain_mix_rate_table_broadcasts(spark):
    """The per-source rate table is |sources| rows — it must broadcast
    back onto the corpus, never shuffle the documents side."""
    from levi_spark.queries import domain_mix_rebalance

    s = plan_summary(domain_mix_rebalance(spark, SF))
    # the corpus-side join must be the broadcast one (the remaining
    # SMJ joins two |sources|-row aggregates — AQE folds it at runtime)
    assert s["broadcast_hash_joins"] >= 1, s
    assert s["broadcast_exchanges"] >= 1, s


def test_repetition_filters_prune_scan(spark):
    from levi_spark.queries import doc_repetition_filters

    for schema in read_schemas(doc_repetition_filters(spark, SF)):
        # every scan branch reads only doc_id + text
        assert schema.count(":") == 2, schema


def test_bigram_lm_prunes_scan_and_broadcasts_vocab_size(spark):
    from levi_spark.queries import doc_bigram_lm_scores

    df = doc_bigram_lm_scores(spark, SF)
    for schema in read_schemas(df):
        # unigram branch prunes all the way down to text alone
        assert schema.count(":") <= 2 and "text" in schema, schema
    s = plan_summary(df)
    assert s["broadcast_exchanges"] >= 1, s


def test_segment_dedup_two_keyed_exchanges_no_window(spark):
    from levi_spark.queries import segment_dedup_docs

    df = segment_dedup_docs(spark, SF)
    s = plan_summary(df)
    # first-occurrence via groupBy + join back, NOT a global-sort window;
    # shuffles: segment-hash agg (+AQE-planned join sides) and doc rollup
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in p, "survivor choice must not use a window"
    # only doc_id + text reach the scan (both join legs of the
    # segment frame read the same pruned pair)
    for schema in read_schemas(df):
        assert schema.count(":") == 2, schema


def test_dsir_lm_sides_broadcast(spark):
    from levi_spark.queries import doc_dsir_weights

    df = doc_dsir_weights(spark, SF)
    s = plan_summary(df)
    # bucket LM + 1-row totals + final lr probe all ride broadcasts:
    # the token stream itself is never reshuffled for the scoring pass
    assert s["broadcast_exchanges"] >= 2, s


def test_kmeans_assignment_is_shuffle_free(spark):
    """Small-codebook cluster assignment must be a pure map-side
    expression: no join of any kind, no exchange beyond the scan."""
    from levi_spark.operators.kmeans import assign_clusters
    from levi_spark.plans.inspect import executed_plan

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").selectExpr(
        "vec_id", "CAST(embedding AS array<double>) AS v"
    )
    cents = [[0.0] * 64, [1.0] * 64, [2.0] * 64, [3.0] * 64]
    plan = executed_plan(assign_clusters(emb, "vec_id", "v", cents))
    assert "Join" not in plan, plan[:800]
    s = plan_summary(assign_clusters(emb, "vec_id", "v", cents))
    assert s["exchanges"] == 0 and s["broadcast_exchanges"] == 0, s


def test_token_budget_prefix_sum_not_single_task_window(spark):
    """The ranking prefix sum must range-partition, never plan the
    single-task global window (Exchange SinglePartition feeding a
    Window with no partitioning)."""
    import re

    from levi_spark.operators.packing import with_prefix_sum
    from levi_spark.plans.inspect import executed_plan

    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "n_chars AS w", "doc_id % 7 AS g"
    )
    plan = executed_plan(with_prefix_sum(docs, ["g", "doc_id"], "w", "cum"))
    assert "rangepartitioning" in plan, plan[:800]
    # every Window in the plan is partitioned (by __pid), none global
    assert not re.search(r"Exchange SinglePartition[\s\S]{0,400}?Window", plan), (
        plan[:800]
    )


def test_corpus_funnel_single_aggregate_pass(spark):
    """The funnel is ONE conditional aggregate over the flag frame:
    exactly one final single-partition aggregate, no per-stage
    re-scans of documents (documents is scanned once per flag input,
    not once per funnel stage)."""
    from levi_spark.queries import corpus_filter_funnel

    s = plan_summary(corpus_filter_funnel(spark, SF))
    # the flag inputs scan documents 7x (quality 1, repetition 3,
    # hash + first-occurrence 2, base 1) — the 5 funnel stages must
    # NOT multiply that (a per-stage re-aggregate would plan ~35)
    assert s["scans"] <= 7, s


def test_chunker_is_shuffle_free(spark):
    """doc_chunk_overlap: split/explode/slice/md5 are all map-side —
    a shuffle here would mean the chunker re-partitions 100 TB of
    documents for no reason."""
    from levi_spark.plans.inspect import plan_summary
    from levi_spark.queries import doc_chunk_overlap

    s = plan_summary(doc_chunk_overlap(spark, SF))
    assert s["exchanges"] == 0, s
    assert s["scans"] == 1, s


def test_sq8_encode_reads_corpus_once(spark):
    """embedding_sq8_codes: after the (collected) stats pass, encode is
    one scan with literal min/max arrays — no join, no shuffle."""
    from levi_spark.plans.inspect import plan_summary
    from levi_spark.queries import embedding_sq8_codes

    s = plan_summary(embedding_sq8_codes(spark, SF))
    assert s["exchanges"] == 0, s
    assert s["scans"] == 1, s


def test_ivfpq_serve_is_one_mapside_pass(spark):
    """r12: the IVFPQ serve path (coarse assignment + PQ encode + ADC
    against a driver-computed LUT) runs in ONE numpy map-side pass —
    no centroid cross join, no staged checkpoint scan, and the only
    exchange left is the final per-query top-k window."""
    from levi_spark.plans.inspect import executed_plan, plan_summary
    from levi_spark.queries import ivf_pq_adc_topk

    df = ivf_pq_adc_topk(spark, SF)
    plan = executed_plan(df)
    assert "MapInPandas" in plan, plan[:800]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    s = plan_summary(df)
    assert s["exchanges"] <= 1, s


def test_pagerank_rounds_have_no_cartesian(spark):
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import event_type_pagerank

    plan = executed_plan(event_type_pagerank(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_broadcasts_df_relation(spark):
    from levi_spark.queries import doc_bm25_topk

    s = plan_summary(doc_bm25_topk(spark, SF))
    # the query-terms-sized df relation must broadcast, never shuffle-join
    assert s["broadcast_exchanges"] >= 1, s


def test_pii_redaction_is_single_rollup(spark):
    from levi_spark.queries import doc_pii_redaction

    df = doc_pii_redaction(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # regex path is JVM regexp_replace
    # exactly one aggregation exchange: map-side partials + final rollup
    s = plan_summary(df)
    assert s["exchanges"] <= 2, s


def test_substring_dedup_salted_no_window_no_cartesian(spark):
    """Round-8 (VERDICT r07 ask #5): the exact-substring dedup's
    multiplicity decision must be the SALTED two-stage aggregate, not
    a window over the raw gram hash — a window sends every occurrence
    of a hot gram (stock phrases at 100 TB) to one task. Pin: no
    Window node anywhere, the salt key (xxhash64 pmod) present in the
    partial aggregate, never a cartesian/all-pairs stage."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import doc_substring_dedup

    df = doc_substring_dedup(spark, SF)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan, "hot-gram single-task window is back"
    assert "xxhash64" in plan and "pmod" in plan, "salt key missing"
    # SINGLE evaluation under AQE: stage reuse only materializes in
    # the runtime-final plan, so execute THIS DataFrame's plan and
    # assert on the section before "== Initial Plan ==" — the gram
    # posexplode must appear once, with the second consumer reading a
    # ReusedExchange (canonical-equal subtrees; the explicit
    # isnotnull(doc_id) in the query keeps them equal)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("posexplode") <= 1, final.count("posexplode")
    assert "ReusedExchange" in final, "gram exchange must be shared"
    # salted exchange + merge(h) + probe-side re-key + per-doc aggs —
    # bounded (counted on the FINAL section only: after collect() the
    # plan string appends the pre-AQE "Initial Plan", which would
    # double-count), and no stage carries unaggregated gram rows keyed
    # by the RAW hash into a window buffer
    import re as _re

    n_ex = len(_re.findall(
        r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
        final,
    ))
    assert n_ex <= 7, n_ex


def test_gif_and_codec_gates_have_no_data_shuffle(spark):
    """Codec gates are two Arrow-batched map hops after the tiny
    input-spreading repartition: no join, no aggregation exchange."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import (
        multimodal_flac_lpc_decode,
        multimodal_gif_decode,
        multimodal_jpeg_prog_sa_decode,
    )

    for fn in (
        multimodal_gif_decode,
        multimodal_jpeg_prog_sa_decode,
        multimodal_flac_lpc_decode,
    ):
        plan = executed_plan(fn(spark, SF))
        assert "Join" not in plan, fn.__name__
        assert "HashAggregate" not in plan, fn.__name__


def test_variant_shredding_extraction_stays_jvm(spark):
    """Shredded-variant field extraction runs in the scan layer — no
    Python, no join; the final rollup is the only aggregation."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import variant_shredding_counts

    plan = executed_plan(variant_shredding_counts(spark, SF))
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_ingestion_and_media_container_gates_have_no_data_shuffle(spark):
    """The round-7 second-half container gates (video, compressed
    audio, WARC, archives) keep the codec-gate discipline: two
    Arrow-batched map hops after the input-spreading repartition —
    no join, no aggregation exchange."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import (
        archive_extract_members,
        multimodal_adpcm_decode,
        multimodal_g711_decode,
        multimodal_mjpeg_avi_decode,
        warc_extract_records,
    )

    for fn in (
        multimodal_mjpeg_avi_decode,
        multimodal_adpcm_decode,
        multimodal_g711_decode,
        warc_extract_records,
        archive_extract_members,
    ):
        plan = executed_plan(fn(spark, SF))
        assert "Join" not in plan, fn.__name__
        assert "HashAggregate" not in plan, fn.__name__


def test_url_canonicalization_stays_jvm_single_agg(spark):
    """URL canonicalization is pure built-in expressions: no Python
    operator anywhere in the plan, no join, and the dedup is one
    hash aggregate (partial + final) on the canonical key."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import url_canonical_dedup

    plan = executed_plan(url_canonical_dedup(spark, SF))
    assert "Python" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_robots_filter_broadcasts_rules_and_dedups_decisions(spark):
    """The rules relation rides a broadcast join (never a shuffle or
    cartesian against the combos), and rule matching runs on the
    deduped (domain, path) combos — the fact table is touched by
    exactly one aggregation before the join."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import robots_crawl_filter

    plan = executed_plan(robots_crawl_filter(spark, SF))
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_sitemap_extract_is_pure_jvm_single_agg(spark):
    """Round-8 crawl-hygiene leg: the sitemap build+parse must stay
    whole-stage-codegen JVM expressions — no Python workers, no
    explode-induced shuffle beyond the final sort."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import sitemap_url_extract

    df = sitemap_url_extract(spark, SF)
    plan = executed_plan(df)
    assert "Python" not in plan
    assert "Generate" not in plan  # aggregates ride the arrays directly
    s = plan_summary(df)
    assert s.get("scans", 1) == 1


def test_triangle_count_no_cartesian_and_equi_joins(spark):
    """Round-8 graph analytic: the degree-ordered wedge join must plan
    as equi-joins (hash/sort-merge/broadcast) — a cartesian or
    nested-loop stage means the orientation predicate fell out of the
    join keys and a hub node would explode at scale."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import user_triangle_counts

    df = user_triangle_counts(spark, SF)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_cdc_chunk_dedup_single_evaluation_no_python(spark):
    """Round-8 second half: LBFS-style content-defined chunking must
    stay pure JVM (the window-local boundary rule is the whole point
    — per-position independence keeps it inside codegen), and the
    chunking subtree must evaluate ONCE into an h-keyed exchange that
    both census and probe reuse (the countDistinct(doc_id) in the
    census keeps the branches column-identical; a count-only census
    gets doc_id pruned and the explode runs twice)."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import doc_cdc_chunk_dedup

    df = doc_cdc_chunk_dedup(spark, SF)
    plan = executed_plan(df)
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # census is partial-agg, never a window
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("explode") <= 1, "chunking evaluated twice"
    assert "ReusedExchange" in final, "census/probe exchange not shared"


def test_subtitle_ingest_pure_jvm_no_shuffle(spark):
    """Round-8 second half: SRT/VTT build+parse must stay inside
    WholeStageCodegen — no Python stage, no exchange at all (one
    map-side pass over the scan)."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import subtitle_ingest_stats

    df = subtitle_ingest_stats(spark, SF)
    plan = executed_plan(df)
    assert "Python" not in plan
    assert "Exchange" not in plan, "subtitle parse must be map-side only"


def test_html_extract_pure_jvm_single_scan(spark):
    from levi_spark.plans.inspect import executed_plan, plan_summary
    from levi_spark.queries import html_text_extract

    df = html_text_extract(spark, SF)
    plan = executed_plan(df)
    assert "Python" not in plan
    assert plan_summary(df).get("scans", 1) == 1


def test_gap_fill_no_python_two_windows_max(spark):
    """Gap fill: grid explode + two IGNORE-NULLS windows sharing one
    partition spec; no Python, no cartesian."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import events_gap_fill

    df = events_gap_fill(spark, SF)
    plan = executed_plan(df)
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_ewma_single_window_pass(spark):
    """All 16 lag() terms + row_number share one window partition
    spec: exactly ONE exchange on user_id feeds the window stage."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import events_ewma_smooth

    df = events_ewma_smooth(spark, SF)
    plan = executed_plan(df)
    assert "Python" not in plan
    assert plan.count("hashpartitioning(user_id") <= 1


def test_binary_quant_broadcasts_query_codes(spark):
    """The Hamming scan must broadcast the query code table — the
    corpus side never shuffles before the candidate cut."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import embedding_binary_quant_topk

    df = embedding_binary_quant_topk(spark, SF)
    plan = executed_plan(df)
    assert "Python" not in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_parquet_matrix_and_nested_gates_single_rollup(spark):
    """The round-9 parquet reader gates are map-side fan-outs: one
    Arrow-batched hop after the input-spreading repartition, then a
    single global rollup exchange — no join, no per-key shuffle."""
    import re as _re

    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import (
        parquet_codec_matrix_read,
        parquet_nested_read,
        zstd_lz4_roundtrip_stats,
    )

    for fn in (parquet_codec_matrix_read, parquet_nested_read):
        plan = executed_plan(fn(spark, SF))
        assert "Join" not in plan, fn.__name__
        n_ex = len(_re.findall(r"Exchange ", plan))
        # input-spreading round-robin + the single-row final agg
        assert n_ex <= 2, f"{fn.__name__}: {n_ex} exchanges\n{plan}"
    plan = executed_plan(zstd_lz4_roundtrip_stats(spark, SF))
    assert "Join" not in plan
    assert "HashAggregate" not in plan  # per-doc rows, no rollup


def test_span_report_reuses_gram_exchange_no_cartesian(spark):
    """doc_substring_span_report inherits the salted single-exchange
    gram pipeline; its only Window partitions by doc_id over the
    small dup-position subset (never the raw gram stream)."""
    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import doc_substring_span_report

    df = doc_substring_span_report(spark, SF)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("posexplode") <= 1, "gram subtree evaluated twice"
    assert "ReusedExchange" in final, "gram exchange must be shared"
    # the window runs on the filtered dup-position set partitioned by
    # doc_id — assert it is keyed by doc_id, not by raw gram hash
    import re as _re

    wins = _re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", final)
    for spec in wins:
        assert "doc_id" in spec, f"window keyed by {spec}"


def test_parquet_write_gate_single_rollup(spark):
    """The writer gate is the same map-side fan-out shape as the
    reader gates: no join, input-spreading repartition + one
    single-row rollup exchange."""
    import re as _re

    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import parquet_write_roundtrip

    plan = executed_plan(parquet_write_roundtrip(spark, SF))
    assert "Join" not in plan
    n_ex = len(_re.findall(r"Exchange ", plan))
    assert n_ex <= 2, f"{n_ex} exchanges\n{plan}"


def test_round10_parquet_gates_single_rollup(spark):
    """The round-10 gates — Dremel record assembly and bloom point
    lookup — keep the map-side fan-out shape: no join, the
    input-spreading repartition plus one single-row rollup exchange;
    all parquet work (write, assemble, plan, probe) stays inside the
    Arrow-batched map task."""
    import re as _re

    from levi_spark.plans.inspect import executed_plan
    from levi_spark.queries import (
        parquet_bloom_point_lookup,
        parquet_record_assembly,
    )

    for fn in (parquet_record_assembly, parquet_bloom_point_lookup):
        plan = executed_plan(fn(spark, SF))
        assert "Join" not in plan, fn.__name__
        n_ex = len(_re.findall(r"Exchange ", plan))
        assert n_ex <= 2, f"{fn.__name__}: {n_ex} exchanges\n{plan}"


def test_cpu_fanout_cap_is_size_adaptive(spark, monkeypatch):
    """The codec-gate fan-out cap is a SMALL-INPUT property: an
    explicit LEVI_CODEC_FANOUT always wins (even over a cap — without
    that, capped gates could never be A/B'd at another width), the
    cap holds at small inputs, and it yields once the capped width
    would hand each task more than the per-task byte budget (the r13
    100x-tier measurement: a constant cap cost up to 3.2x there)."""
    from levi_spark.queries import _FANOUT_BYTES_PER_TASK, _cpu_fanout

    cores = spark.sparkContext.defaultParallelism

    monkeypatch.setenv("LEVI_CODEC_FANOUT", "13")
    assert _cpu_fanout(spark) == 13
    assert _cpu_fanout(spark, cap=8) == 13  # override beats the cap

    monkeypatch.delenv("LEVI_CODEC_FANOUT")
    assert _cpu_fanout(spark) == cores
    assert _cpu_fanout(spark, cap=8) == min(cores, 8)
    # small input: the cap holds
    small = 8 * _FANOUT_BYTES_PER_TASK
    assert _cpu_fanout(spark, cap=8, input_bytes=small) == min(cores, 8)
    # big input: width grows with the data, bounded by the cores
    big = 1000 * _FANOUT_BYTES_PER_TASK
    assert _cpu_fanout(spark, cap=8, input_bytes=big) == max(
        min(cores, 8), min(cores, 1000))
    # in-between: ceil(bytes / per-task budget), never below the cap
    # and never above the cores
    mid = 12 * _FANOUT_BYTES_PER_TASK + 1
    assert _cpu_fanout(spark, cap=8, input_bytes=mid) == min(
        cores, max(8, 13))
    # unknown size (non-local URI): the cap is kept
    assert _cpu_fanout(spark, cap=8, input_bytes=None) == min(cores, 8)
