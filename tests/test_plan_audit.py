"""Plan-audit utility (plans/audit.py): hazard detection on known-good and
known-bad plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.plans.audit import audit_plan


def test_audit_flags_cartesian(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    out = audit_plan(a.crossJoin(b))
    assert out["cartesian"] or out["broadcast_nested_loop"]
    assert out["warnings"]


def test_audit_clean_on_equi_join_topk(spark, sf_dir):
    from week5_datingnlp_big_data_spark.sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    df = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.sum("o_totalprice").alias("rev"))
        .orderBy(F.desc("rev"))
        .limit(5)
    )
    out = audit_plan(df)
    assert not out["cartesian"] and not out["broadcast_nested_loop"]
    assert out["take_ordered"]
    assert out["n_broadcast_joins"] >= 1
    assert out["warnings"] == []


def test_audit_pushdown_and_pruning_visible(spark, sf_dir):
    from week5_datingnlp_big_data_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    out = audit_plan(df)
    assert any("l_quantity" in p for p in out["pushed_filters"])
    assert all(s.count(",") <= 2 for s in out["read_schemas"])  # pruned scan


def test_audit_exchange_budget(spark):
    df = spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count()
    ok = audit_plan(df, max_exchanges=1)
    assert ok["n_exchanges"] <= 1 and ok["warnings"] == []
    strict = audit_plan(df.repartition(7).groupBy("k").count(), max_exchanges=1)
    assert any("exceeds the declared budget" in w for w in strict["warnings"])


def test_audit_counts_one_plan_after_the_action(spark):
    # Once a DataFrame has run, explain("formatted") prints AQE's final
    # plan AND its initial plan; the node counts must cover one of them.
    df = spark.range(1000).selectExpr("id % 7 as k").groupBy("k").count()
    assert audit_plan(df)["n_exchanges"] == 1
    df.collect()
    assert audit_plan(df)["n_exchanges"] == 1
    joined = df.join(spark.range(100).withColumnRenamed("id", "k"), "k")
    joined.collect()
    out = audit_plan(joined)
    assert (out["n_exchanges"], out["n_broadcast_joins"]) == (1, 1)


def test_audit_counts_codegen_spans_after_the_action(spark):
    # explain("formatted") marks whole-stage codegen as "[codegen id : n]"
    # in the detail headers. The executed groupBy has two spans, the
    # partial and the final aggregate, on either side of its Exchange.
    df = spark.range(1000).selectExpr("id % 7 as k").groupBy("k").count()
    df.collect()
    assert audit_plan(df)["n_codegen_spans"] == 2


def test_audit_registered_flagships_are_clean(spark, sf_dir):
    from week5_datingnlp_big_data_spark.registry import QUERIES

    for name in ("wordcount_top100", "minhash_near_dups", "bm25_topk",
                 "exact_substr_spans", "media_phash_near_dups",
                 # round-9: the new self-join / interval-join shapes must
                 # never plan as cartesian products
                 "vocab_typo_pairs", "part_copurchase_pairs",
                 "session_error_exposure", "funnel_conversion",
                 "session_concurrency",
                 # round-10: join-free scan+window shapes stay clean
                 "embedding_coverage_sample", "source_quality_report",
                 "inference_batch_plan", "source_quality_drift",
                 # driver-round-4: the blocked margin (cell equi-join — no
                 # longer the BNLJ the round-10 note excused), the
                 # asymmetric batch-vs-base band join, and the components
                 # histogram must never plan cartesian
                 "embedding_margin_pairs", "batch_near_dup_novelty",
                 "near_dup_cluster_sizes",
                 # round-5: bin packing, resharding, and the Z-order
                 # audit are pure window/groupBy arithmetic — no joins
                 # beyond the AQE-planned bin/scalar attach
                 "shard_compaction_plan", "reshard_movement",
                 "events_zorder_buckets",
                 # round-6 continuation: the wedge/closure joins, the
                 # rarest-gram prefix + delete-neighborhood union, and
                 # the changelog anti-join must all stay equi-joins
                 "copurchase_triangles", "vocab_fuzzy_pairs",
                 "user_state_cdc_merge",
                 # round-7: the canonical-URL keeper join must stay an
                 # equi-join; host rollup and the boilerplate window are
                 # join-free scan shapes
                 "url_canonical_dedup", "host_quality_rollup",
                 "boilerplate_line_stats",
                 # round-7 continuation: the NB dense-model attach, the
                 # frontier host-dim join, and the phrase position
                 # chains must all stay equi-joins (the only cross joins
                 # are 1-row/handful-row broadcast attaches)
                 "nb_lang_predictions", "url_frontier_schedule",
                 "phrase_search_counts", "hashed_features_dfm",
                 "main_content_extract",
                 # round-8: charset scans, the anchor-edge builds feeding
                 # PageRank/HITS/communities, and the robots host join
                 # must all stay cartesian-free
                 "charset_mismatch_stats", "mojibake_repair_rewrite",
                 "host_link_pagerank", "robots_rules_parsed",
                 "frontier_robots_filter", "doc_readability_scores",
                 # late round-8: pointer-doubling joins, anchor explode +
                 # top-k window, salted two-stage host cap
                 "redirect_chain_resolution", "anchor_term_topk",
                 "host_doc_cap_sample", "warc_record_stats",
                 "url_surt_keys",
                 # round-8 continuation: the eval family's prefix-sum
                 # band joins, the chi2 marginal attaches, the DUST
                 # residual groupBy chain, and the trap scans must stay
                 # cartesian-free (cross joins are 1-row stat attaches)
                 "nb_margin_auc", "nb_pr_sweep", "nb_calibration_bins",
                 "nb_chi2_terms", "nb_gold_kappa", "url_trap_flags",
                 "host_trap_stats", "dust_param_rules",
                 "recrawl_lambda_estimates",
                 # late round-8: stratified pair-AUC windows, bounded
                 # top-k OLS, LSH-cell histogram compare, distinct-n
                 # aggregates — all cartesian-free
                 "nb_hand_till_auc", "wordcount_zipf_fit",
                 "embedding_label_divergence", "source_diversity_stats",
                 "bm25_retrieval_metrics"):
        out = audit_plan(QUERIES[name](spark, sf_dir))
        assert not out["cartesian"], name
        hard = [w for w in out["warnings"] if "Cartesian" in w]
        assert hard == [], (name, out["warnings"])


def test_symbol_pigeonhole_join_plans_equi(spark):
    # The round-6 audio fix routes near-dups through
    # dedup.symbol_near_dup_pairs: the candidate join MUST be an
    # equi-join on (group_idx, group hash) — never a cartesian/BNLJ —
    # and the mismatch verify must stay JVM-side (no Python stage
    # between the join and the filter).
    from week5_datingnlp_big_data_spark.operators import dedup
    from week5_datingnlp_big_data_spark.plans.audit import audit_plan

    sig = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.array(*[(F.col("id") * (i + 3) % 8).cast("int") for i in range(24)])
        .alias("syms"),
    )
    df = dedup.symbol_near_dup_pairs(sig, "syms", n_symbols=24, max_mismatch=2)
    out = audit_plan(df)
    assert not out["cartesian"] and not out["broadcast_nested_loop"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan.lower()
    assert "pythonudf" not in plan.lower().replace(" ", "")


def test_round6_media_queries_plan_clean(spark, sf_dir):
    # The new codec-seam queries (color JPEG, PNG) and the rewritten
    # audio near-dup must never plan cartesian; the media queries are
    # single mapInPandas passes with no join at all.
    from week5_datingnlp_big_data_spark.plans.audit import audit_plan
    from week5_datingnlp_big_data_spark.registry import QUERIES

    for name in ("media_jpeg_color_stats", "media_png_decode_stats",
                 "media_audio_dup_pairs"):
        out = audit_plan(QUERIES[name](spark, sf_dir))
        assert not out["cartesian"], name
        hard = [w for w in out["warnings"] if "Cartesian" in w]
        assert hard == [], (name, out["warnings"])


def test_lm_family_has_no_forced_vocab_broadcast(spark, sf_dir):
    # The unigram/bigram LM tables have one row per distinct corpus token
    # (pair) — unbounded at 100 TB. Their joins must carry NO broadcast
    # hint (AQE decides from measured size). The only hinted joins allowed
    # are the 1-row scalar-aggregate cross joins (corpus totals / V),
    # which appear as `Join Cross` nodes in the optimized plan.
    from week5_datingnlp_big_data_spark.registry import QUERIES

    for name in ("doc_unigram_logprob", "doc_bigram_logprob",
                 "doc_kn_bigram_logprob", "cross_lm_scores",
                 "lm_quality_buckets", "quality_ensemble_deciles"):
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        for line in plan.splitlines():
            if "strategy=broadcast" in line:
                assert "Join Cross" in line, (
                    f"{name}: forced broadcast on a keyed join: {line.strip()}"
                )


def test_round5_bnlj_sides_are_bounded(spark, sf_dir):
    # The two round-5 plans that DO carry a BroadcastNestedLoopJoin are
    # documented bounded shapes, not data-sized hazards:
    #  - events_distinct_kmv_running / streaming_kmv_distinct_parity:
    #    the `day <= day` sketch-merge range join runs over the SKETCH
    #    table (#days x k rows — calendar-sized);
    #  - shuffle_skew_profile: a 1-row scalar-aggregate cross join.
    # This test pins that the queries still produce their bounded
    # outputs and that no CARTESIAN product (the unbounded hazard)
    # appears — the BNLJ itself is the accepted plan for these shapes.
    from week5_datingnlp_big_data_spark.plans.audit import audit_plan
    from week5_datingnlp_big_data_spark.registry import QUERIES

    for name in ("events_distinct_kmv_running", "shuffle_skew_profile"):
        out = audit_plan(QUERIES[name](spark, sf_dir))
        assert not out["cartesian"], name
        hard = [w for w in out["warnings"] if "Cartesian" in w]
        assert hard == [], (name, out["warnings"])


def test_url_canonicalization_is_scan_speed(spark):
    # The canonicalizer must stay pure Catalyst string algebra: no
    # Python stage, no exchange — adding the canonical column to a scan
    # is a zero-shuffle map.
    from week5_datingnlp_big_data_spark.operators import web
    from week5_datingnlp_big_data_spark.plans.audit import audit_plan

    df = spark.range(100).select(
        F.concat(F.lit("https://WWW.Site"), F.col("id").cast("string"),
                 F.lit(".Example.COM:443/a//b/?z=1&utm_source=x#f")).alias("url")
    ).select(web.canonical_url("url").alias("c"))
    out = audit_plan(df, max_exchanges=0)
    assert out["n_exchanges"] == 0 and out["warnings"] == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "pythonudf" not in plan.lower().replace(" ", "")
