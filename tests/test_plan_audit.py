"""Physical-plan audits: the structural properties that make the engine
scale are pinned here so a refactor can't silently regress them —
filter/column pushdown into the parquet scan, no cartesian products in
any core operator, map-side partial aggregation, bounded top-k only
where k is bounded, and no row-at-a-time Python in the scoring path
(the only Python allowed is Arrow-batched kernels)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


SF = "/root/testdata/sf0.001"


def test_parquet_scan_gets_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id", "n_chars")
    )
    plan = _plan(df)
    # predicate reaches the scan...
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # ...and only the referenced columns are read
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema  # the wide column is pruned


def _doc_df(spark, n=60):
    rows = [
        (i, f"document number {i} with some shared tokens and tail {i * 13}")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_core_operators_have_no_cartesian_joins(spark):
    """Every candidate-generation path must join on computed equality keys
    — a cartesian/broadcast-nested-loop node means an all-pairs blow-up
    at corpus scale."""
    from record_linkage_spark.operators.blocking import candidate_pairs
    from record_linkage_spark.operators.curation import decontaminate
    from record_linkage_spark.operators.dedup import (
        minhash_near_duplicates,
        simhash_near_duplicates,
    )
    from record_linkage_spark.operators.rollup import rollup_conversations
    from record_linkage_spark.synth.transcripts import (
        generate_transcripts,
        transcripts_table,
    )

    docs = _doc_df(spark)
    profiles = rollup_conversations(
        transcripts_table(generate_transcripts(spark, n_entities=40, dup_rate=1.5))
    )
    plans = {
        "minhash": _plan(minhash_near_duplicates(docs)),
        "simhash": _plan(simhash_near_duplicates(docs)),
        "decontaminate": _plan(decontaminate(docs, docs.limit(5))),
        "blocking": _plan(candidate_pairs(profiles, "B1")),
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_frequent_ngrams_partial_agg_and_bounded_topk(spark):
    """The gram count must partial-aggregate map-side (combiner absorbs
    gram skew before the shuffle) and the top-k must be a bounded
    TakeOrdered — here k is small by contract, unlike the GT-sampling
    plan where TakeOrdered is banned."""
    from record_linkage_spark.operators.curation import frequent_ngrams

    plan = _plan(frequent_ngrams(_doc_df(spark), ngram=3, k=10))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_scoring_path_has_no_row_python(spark):
    """Featurize+score may contain ONLY Arrow-batched Python (the JW
    kernel); any BatchEvalPython node (row-at-a-time UDF) in the hot
    path is a 10-100x regression at pair scale."""
    from record_linkage_spark.operators.classifier import LinearModel, score_pairs
    from record_linkage_spark.operators.features import (
        FEATURE_INPUT_COLS,
        FEATURE_NAMES,
        add_features,
    )
    from record_linkage_spark.operators.ground_truth import hydrate_pairs
    from record_linkage_spark.operators.rollup import rollup_conversations
    from record_linkage_spark.synth.transcripts import (
        generate_transcripts,
        transcripts_table,
    )

    profiles = rollup_conversations(
        transcripts_table(generate_transcripts(spark, n_entities=40, dup_rate=1.5))
    )
    pa = profiles.select(F.col("conv_id").alias("id_A"))
    pb = profiles.select(F.col("conv_id").alias("id_B"))
    pairs = (
        pa.join(pb, F.col("id_A") < F.col("id_B"))
        .limit(200)
        .select("id_A", "id_B")
    )
    model = LinearModel(weights=[0.5] * len(FEATURE_NAMES), intercept=-1.0)
    scored = score_pairs(
        add_features(hydrate_pairs(pairs, profiles, FEATURE_INPUT_COLS)), model
    )
    plan = _plan(scored)
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "ArrowEvalPython" in plan  # the JW kernel IS Arrow-batched


def test_sessionization_shuffles_once_on_user(spark):
    """Gap sessionization must be one shuffle keyed on the session user,
    not a windowed global sort."""
    import __spark_entry__ as em

    df = em.q_event_sessions(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # exactly the groupBy-key exchanges; no rangepartitioning (global sort)
    assert "rangepartitioning" not in plan.lower()


def test_new_curation_operators_plan_shapes(spark):
    """span_overlap must pair via equality joins with map-side partial
    aggregation of the shared-span counts (never a cartesian);
    token_budget's two-stage pre-filter must broadcast the per-stratum
    totals (the bounded side) back to the map side; keep_best must stay
    cartesian-free through CC + the representative window."""
    from record_linkage_spark.operators.curation import (
        keep_best_per_cluster,
        token_budget_sample,
    )
    from record_linkage_spark.operators.dedup import span_overlap_pairs

    docs = _doc_df(spark)
    p1 = _plan(span_overlap_pairs(docs, window=4, min_shared=1))
    assert "CartesianProduct" not in p1
    assert "BroadcastNestedLoopJoin" not in p1
    assert "partial_count" in p1  # pair counts combine before the shuffle

    toks = docs.withColumn("n_tokens", (F.col("doc_id") % 7 + 1).cast("bigint"))
    toks = toks.withColumn("stratum", (F.col("doc_id") % 3).cast("string"))
    p2 = _plan(token_budget_sample(toks, ["stratum"], 20, "doc_id", "n_tokens"))
    assert "BroadcastExchange" in p2  # per-stratum token totals broadcast

    pairs = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    p3 = _plan(keep_best_per_cluster(docs, pairs, [F.col("doc_id")]))
    assert "CartesianProduct" not in p3
    assert "BroadcastNestedLoopJoin" not in p3


def test_golden_records_plan_shape(spark):
    """Survivorship fusion: one hash/sort-merge join for hydration, all
    mode columns riding ONE unpivoted aggregation (k mode columns must
    not add k shuffles), map-side partial aggregation everywhere, no
    cartesian node, no full-data window."""
    from record_linkage_spark.operators.survivorship import golden_records

    docs = _doc_df(spark).withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de")
    ).withColumn("src", F.concat(F.lit("s"), (F.col("doc_id") % 3).cast("string")))
    assignment = docs.select(
        "doc_id", (F.col("doc_id") % 10).alias("entity_id")
    )
    out = golden_records(
        docs,
        assignment,
        id_col="doc_id",
        mode_cols=("lang", "src"),
        longest_col="text",
        sum_cols=(),
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # partial (map-side) aggregation before every exchange
    assert "partial_count" in plan
    # no window operator: the representative pick is an aggregate
    assert "Window" not in plan
    # the unpivot keeps mode-column aggregation to ONE counts groupBy:
    # exactly one Generate (explode) node feeds it
    assert plan.count("Generate explode") == 1


def test_meta_blocking_plan_shape(spark):
    """Meta-blocking: postings pair via an equality bucket join (never a
    cartesian), block purging is an aggregate + semi-join (the counts
    side broadcast — it carries only key columns), and pair weights
    combine map-side before the shuffle."""
    from record_linkage_spark.operators.blocking import meta_block_prune

    docs = _doc_df(spark).withColumn(
        "k1", F.substring("text", 1, 8)
    ).withColumn("k2", (F.col("doc_id") % 5).cast("string"))
    out = meta_block_prune(
        docs,
        {"k1": F.col("k1"), "k2": F.col("k2")},
        id_col="doc_id",
        min_shared=1,
        max_block=40,
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan  # weights combine before the exchange


def test_pair_counting_metrics_plan_shape(spark):
    """ARI family: the contingency table is the ONLY record-sized
    aggregation (marginals re-aggregate from it), no window and no pair
    enumeration anywhere; the single-row combines are the only
    nested-loop joins."""
    from record_linkage_spark.operators.evaluate import pair_counting_metrics

    docs = _doc_df(spark)
    a = docs.select("doc_id", (F.col("doc_id") % 7).alias("entity_id"))
    t = docs.select("doc_id", (F.col("doc_id") % 5).alias("entity_key"))
    out = pair_counting_metrics(a, t, id_col="doc_id")
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    # map-side partial aggregation on the contingency/marginal groupBys
    assert "partial_sum" in plan or "partial_count" in plan


def test_roc_auc_window_runs_over_distinct_scores(spark):
    """The AUC cumulative window must consume the distinct-score
    aggregate, never the raw pair rows — the one structural property
    that makes it safe at 10^12 pairs."""
    from record_linkage_spark.operators.evaluate import roc_auc

    pairs = _doc_df(spark).select(
        (F.col("doc_id") % 2).cast("int").alias("label"),
        (F.col("doc_id") % 13 / 13.0).alias("score"),
    )
    plan = _plan(roc_auc(pairs))
    assert plan.count("Window") == 1
    # reading top-down: final agg, then the window, then the grouping
    # aggregate it consumes — a HashAggregate must appear BELOW Window
    below_window = plan[plan.index("Window"):]
    assert "HashAggregate" in below_window
    assert "partial_sum" in below_window  # grouping combines map-side


def test_cluster_cohesion_plan_shape(spark):
    """Cohesion diagnostics: endpoint mapping is two equality joins,
    per-entity stats aggregate with map-side combine, and the unscored
    count is arithmetic — no pair generation, no cartesian."""
    from record_linkage_spark.operators.evaluate import cluster_cohesion

    docs = _doc_df(spark)
    a = docs.select("doc_id", (F.col("doc_id") % 7).alias("entity_id"))
    pairs = docs.select(
        F.col("doc_id").alias("id_A"),
        (F.col("doc_id") + 1).alias("id_B"),
        (F.col("doc_id") % 10 / 10.0).alias("score"),
    )
    plan = _plan(cluster_cohesion(a, pairs, threshold=0.5, id_col="doc_id"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan


def test_average_precision_window_runs_over_distinct_scores(spark):
    """Like roc_auc: the descending cumulative window must consume the
    distinct-score aggregate, never raw pair rows."""
    from record_linkage_spark.operators.evaluate import average_precision

    pairs = _doc_df(spark).select(
        (F.col("doc_id") % 2).cast("int").alias("label"),
        (F.col("doc_id") % 13 / 13.0).alias("score"),
    )
    plan = _plan(average_precision(pairs))
    assert plan.count("Window") == 1
    below_window = plan[plan.index("Window"):]
    assert "HashAggregate" in below_window
    assert "partial_sum" in below_window


def test_soft_tfidf_plan_shape(spark):
    """SoftTFIDF: candidate hydration is equality joins (no cartesian);
    the only Python is the Arrow-batched kernel; weight aggregation is
    map-side partial."""
    from record_linkage_spark.operators.text_analysis import soft_tfidf_pairs

    docs = _doc_df(spark)
    pairs = docs.select(
        F.col("doc_id").alias("id_A"), (F.col("doc_id") + 1).alias("id_B")
    )
    plan = _plan(soft_tfidf_pairs(pairs, docs))
    assert "CartesianProduct" not in plan
    # (one BroadcastNestedLoopJoin IS expected: tfidf_weights broadcasts
    # the single-row corpus count — a free 1-row NLJ, not a cross product)
    assert "ArrowEvalPython" in plan       # the batched kernel
    assert "BatchEvalPython" not in plan   # never row-at-a-time Python
    assert "partial_sum" in plan           # tf-idf weight/norm aggs


def test_span_removal_plan_is_pure_catalyst(spark):
    """remove_duplicate_spans: postings-only shuffles, interval-merge
    cover test — zero Python of any kind, no cartesian."""
    from record_linkage_spark.operators.dedup import remove_duplicate_spans

    plan = _plan(remove_duplicate_spans(_doc_df(spark), window=8))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan  # neither Arrow nor row Python
    assert "partial_count" in plan   # span counts combine map-side


def test_semantic_dedup_pairs_join_on_cell(spark):
    """SemDeDup candidate pairs: within-cell equality self-join; the only
    nested-loop is the broadcast of the tiny centroid table (documented
    k x dim state). No CartesianProduct, no Python."""
    from record_linkage_spark.operators.similarity_search import (
        semantic_duplicate_pairs,
    )

    vecs = _doc_df(spark).select(
        F.col("doc_id").alias("vec_id"),
        F.array(
            *[(F.col("doc_id") % (i + 3)).cast("double") for i in range(8)]
        ).alias("embedding"),
    )
    plan = _plan(
        semantic_duplicate_pairs(vecs, cosine_threshold=0.9, n_clusters=2, iterations=1)
    )
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_explain_pairs_adds_no_shuffle_or_window(spark):
    """Match explanations: contribution array + array_sort comparator +
    bounded explode — ranking must NOT introduce a Window or an Exchange
    beyond what produced the features (here: none)."""
    from record_linkage_spark.operators.classifier import (
        LinearModel,
        explain_pairs,
    )

    feats = spark.createDataFrame(
        [("a", "b", 1.0, 0.5)], "id_A string, id_B string, f1 double, f2 double"
    )
    model = LinearModel(
        weights=[1.0, 2.0], intercept=0.0, threshold=0.5,
        feature_names=("f1", "f2"),
    )
    plan = _plan(explain_pairs(feats, model, top_k=2))
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_v_measure_single_contingency_shuffle(spark):
    """Entropy metrics: ONE shuffle builds the contingency frame; the
    marginals re-aggregate from the checkpointed frame and the three
    single-row aggregates combine by broadcast cross join — no sort, no
    window, no Python."""
    from record_linkage_spark.operators.evaluate import v_measure_metrics

    docs = _doc_df(spark)
    a = docs.select("doc_id", (F.col("doc_id") % 5).alias("entity_id"))
    t = docs.select("doc_id", (F.col("doc_id") % 3).alias("entity_key"))
    plan = _plan(v_measure_metrics(a, t, id_col="doc_id"))
    assert "Window" not in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan  # marginal sums combine map-side


def test_pq_paths_are_broadcast_equality_joins(spark):
    """PQ encode and ADC search: codebooks/LUT/probes ride broadcast
    equality joins — no CartesianProduct anywhere (the only allowed
    nested-loop is a broadcast of driver-sized quantizer state), no
    Python, and the ADC aggregation combines map-side."""
    from record_linkage_spark.operators.similarity_search import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    vecs = _doc_df(spark).select(
        F.col("doc_id").alias("vec_id"),
        F.array(
            *[((F.col("doc_id") + i) % 7).cast("double") for i in range(8)]
        ).alias("embedding"),
    )
    books = train_pq_codebooks(vecs, m_subspaces=2, k_codes=4, iterations=1)
    p1 = _plan(pq_encode(vecs, books))
    assert "CartesianProduct" not in p1
    assert "EvalPython" not in p1
    assert "BroadcastExchange" in p1  # codebooks broadcast to the argmin
    p2 = _plan(
        pq_topk(vecs, vecs.limit(2), k=3, m_subspaces=2, k_codes=4,
                iterations=1)
    )
    assert "CartesianProduct" not in p2
    assert "EvalPython" not in p2
    assert "partial_sum" in p2  # ADC sums combine map-side


def test_bucket_self_joins_carry_explicit_repartition(spark):
    """Every bucket-style candidate self-join must repartition both sides
    on its computed pair key with an EXPLICIT partition count
    (REPARTITION_BY_NUM): AQE sizes those exchanges by the tiny join
    input and is blind to the quadratic within-key pair blow-up, so on a
    duplicate-dense corpus the join output otherwise coalesces onto a
    handful of cores (measured 4.5x on ssjoin at sf0.1). AQE never
    coalesces user-numbered exchanges, which is exactly the point."""
    from record_linkage_spark.operators.blocking import meta_block_prune
    from record_linkage_spark.operators.dedup import (
        minhash_near_duplicates,
        ngram_jaccard_pairs,
        set_similarity_pairs,
        simhash_near_duplicates,
        span_overlap_pairs,
    )
    from record_linkage_spark.operators.similarity_search import (
        embedding_near_duplicates,
        semantic_duplicate_pairs,
    )

    docs = _doc_df(spark)
    vecs = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.array(
            *[((F.col("doc_id") + i) % 7).cast("double") for i in range(8)]
        ).alias("embedding"),
    )
    recs = docs.select(
        F.col("doc_id").alias("record_id"),
        F.col("text").alias("name"),
        F.col("text").alias("city"),
    )
    plans = {
        "minhash": _plan(minhash_near_duplicates(docs)),
        "simhash": _plan(simhash_near_duplicates(docs)),
        "ssjoin": _plan(set_similarity_pairs(docs, threshold=0.8)),
        "ngram_block": _plan(ngram_jaccard_pairs(docs)),
        "span_overlap": _plan(span_overlap_pairs(docs, window=4)),
        "embedding": _plan(embedding_near_duplicates(vecs)),
        "meta_blocking": _plan(
            meta_block_prune(
                recs,
                {"name": F.col("name"), "city": F.col("city")},
                id_col="record_id",
            )
        ),
    }
    for name, plan in plans.items():
        assert "REPARTITION_BY_NUM" in plan, name
        assert "CartesianProduct" not in plan, name


def test_semdedup_repartition_is_adaptive(spark):
    """semantic_duplicate_pairs sizes its within-cell self-join exchange
    from the EXACT per-cell blow-up (_cell_join_parts): a small corpus
    gets NO forced repartition (the r5 fix — the fixed 2x-parallelism
    repartition bought nothing at 16 tiny cells), while a corpus whose
    cell blow-up exceeds the budget carries REPARTITION_BY_NUM on both
    sides. Both arms of the adaptive contract pinned."""
    from record_linkage_spark.operators.similarity_search import (
        semantic_duplicate_pairs,
    )

    small = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") + i) % 7).cast("double") for i in range(8)]
        ).alias("embedding"),
    )
    plan_small = _plan(
        semantic_duplicate_pairs(small, n_clusters=2, iterations=1)
    )
    assert "REPARTITION_BY_NUM" not in plan_small
    assert "CartesianProduct" not in plan_small

    # 2 cells x ~450 vectors -> ~200k within-cell pairs > the 100k
    # budget -> the blow-up defense must fire
    big = spark.range(900).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") + i) % 7).cast("double") for i in range(8)]
        ).alias("embedding"),
    )
    plan_big = _plan(
        semantic_duplicate_pairs(big, n_clusters=2, iterations=1)
    )
    assert "REPARTITION_BY_NUM" in plan_big
    assert "CartesianProduct" not in plan_big


def test_collective_plans_are_equality_joins_with_explicit_repartition(spark):
    """Collective-ER evidence and the transitivity audit: the rel_key
    fan-out join and the wedge-center self-join are the module's two
    quadratic-within-key joins — both must carry REPARTITION_BY_NUM
    (AQE is blind to within-key output), and neither path may contain a
    cartesian or any Python node (the per-pair Jaccard is codegen array
    ops; wedges are pure joins)."""
    from record_linkage_spark.operators.collective import (
        neighborhood_jaccard,
        triangle_inconsistencies,
    )

    docs = _doc_df(spark)
    rel = docs.select(
        F.col("doc_id").cast("string").alias("record_id"),
        F.concat(F.lit("k"), (F.col("doc_id") % 9).cast("string")).alias(
            "rel_key"
        ),
    )
    asg = docs.select(
        F.col("doc_id").cast("string").alias("record_id"),
        (F.col("doc_id") % 11).cast("string").alias("entity_id"),
    )
    pairs = (
        docs.select(F.col("doc_id").alias("a"))
        .join(docs.select(F.col("doc_id").alias("b")), F.col("b") == F.col("a") + 1)
        .select(
            F.col("a").cast("string").alias("id_A"),
            F.col("b").cast("string").alias("id_B"),
            ((F.col("a") % 10) / 10.0).alias("score"),
        )
    )
    ev_plan = _plan(neighborhood_jaccard(pairs.select("id_A", "id_B"), rel, asg))
    tri_plan = _plan(triangle_inconsistencies(pairs, threshold=0.5))
    for name, plan in (("evidence", ev_plan), ("triangle", tri_plan)):
        assert "REPARTITION_BY_NUM" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "PythonUDF" not in plan and "ArrowEval" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_pagerank_iteration_plan_shape(spark):
    """PageRank: the edge-rank join and the dst aggregation must be
    equality hash joins with map-side partial sums; the ONLY
    nested-loop joins are the single-row attaches (node count and
    dangling mass — 1-row broadcasts, not cross products); zero Python
    anywhere."""
    from record_linkage_spark.operators.graph_rank import pagerank

    edges = _doc_df(spark).select(
        (F.col("doc_id") % 7).cast("string").alias("src"),
        (F.col("doc_id") % 5).cast("string").alias("dst"),
    )
    plan = _plan(pagerank(edges, num_iters=2, checkpoint_every=100))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "partial_sum" in plan  # contrib sums combine map-side


def test_bpe_plan_shapes(spark):
    """BPE: pair counting must combine map-side before its shuffle and
    contain zero Python (the distributed trainer is pure Catalyst);
    encoding must be a single Arrow-batched projection with no shuffle
    and no row-at-a-time Python."""
    from record_linkage_spark.operators.bpe import (
        bpe_pair_counts,
        encode_bpe,
        initial_symbols,
        word_frequencies,
    )

    docs = _doc_df(spark)
    p1 = _plan(bpe_pair_counts(initial_symbols(word_frequencies(docs))))
    assert "EvalPython" not in p1
    assert "partial_sum" in p1
    assert "CartesianProduct" not in p1

    p2 = _plan(encode_bpe(docs, [("t", "h"), ("th", "e")]))
    assert "ArrowEvalPython" in p2
    assert "BatchEvalPython" not in p2
    assert "Exchange" not in p2


def test_sketch_plan_shapes(spark):
    """Sketches (operators/sketches.py): HLL registers are one partial-agg
    groupBy with no Python node; Bloom build is one bit_or groupBy; Bloom
    membership is broadcast equality joins, pure Catalyst; only the
    Misra-Gries summaries may carry an Arrow (mapInPandas) node."""
    from record_linkage_spark.operators.sketches import (
        bloom_build,
        bloom_member_flags,
        heavy_hitters,
        hll_registers,
    )

    vals = spark.range(200).select(F.col("id").cast("string").alias("v"))

    regs_plan = _plan(hll_registers(vals, "v", p=8))
    assert "HashAggregate" in regs_plan
    assert "partial_max" in regs_plan  # map-side combine before the shuffle
    for tok in ("Python", "Arrow", "InPandas"):
        assert tok not in regs_plan

    filt = bloom_build(vals, "v", n_bits=1 << 13)
    build_plan = _plan(filt)
    assert "partial_bit_or" in build_plan or "bit_or" in build_plan
    for tok in ("Python", "Arrow", "InPandas", "CartesianProduct"):
        assert tok not in build_plan

    member_plan = _plan(bloom_member_flags(vals, "v", filt, n_bits=1 << 13))
    assert "BroadcastHashJoin" in member_plan
    for tok in ("Python", "Arrow", "InPandas", "CartesianProduct", "SortMergeJoin"):
        assert tok not in member_plan

    hh_plan = _plan(heavy_hitters(vals, "v", capacity=64))
    assert "MapInPandas" in hh_plan  # the bounded-state summaries
    # ...but the merge is a plain aggregate, and the n attach broadcasts
    assert "BroadcastNestedLoopJoin" in hh_plan or "BroadcastHashJoin" in hh_plan


def test_entity_safe_split_plan_is_projection_only(spark):
    """entity_safe_split must add zero shuffles on top of the assignment
    table: one hash projection, no exchange, no Python."""
    from record_linkage_spark.operators.ground_truth import entity_safe_split

    assign = spark.range(100).select(
        F.col("id").cast("string").alias("conv_id"),
        (F.col("id") % 10).cast("string").alias("entity_id"),
    )
    plan = _plan(entity_safe_split(assign))
    assert "Exchange" not in plan
    for tok in ("Python", "Arrow", "InPandas"):
        assert tok not in plan


def test_histogram_plan_shapes(spark):
    """HDR quantile histogram: the build is one partial-agg groupBy with
    zero Python (bucket math is codegen bit arithmetic); the readout
    touches only the bucket-bound state (one window cumsum), never the
    data."""
    from record_linkage_spark.operators.sketches import (
        histogram_quantiles,
        int_histogram,
    )

    vals = spark.range(5000).select((F.col("id") * 13 % 100000).alias("v"))
    hist = int_histogram(vals, "v", precision=6)
    build_plan = _plan(hist)
    assert "HashAggregate" in build_plan
    assert "partial_count" in build_plan
    for tok in ("Python", "Arrow", "InPandas", "CartesianProduct"):
        assert tok not in build_plan

    read_plan = _plan(histogram_quantiles(hist, [0.5, 0.9], precision=6))
    assert "Window" in read_plan
    for tok in ("Python", "Arrow", "InPandas", "CartesianProduct"):
        assert tok not in read_plan


def test_drift_plan_is_pure_catalyst_partial_agg(spark):
    """Drift (operators/drift.py): each snapshot reduces via ONE
    map-side-combined groupBy (explode of the per-row (feature, bin)
    struct array), the comparison is a join of two bins-sized frames,
    and no Python node appears anywhere."""
    from record_linkage_spark.operators.drift import (
        CatSpec,
        HistSpec,
        drift_report,
        snapshot_fractions,
    )

    df = spark.range(500).select(
        (F.col("id") % 97).alias("n"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("de").alias("lang"),
    )
    specs = [HistSpec("len", "n", (10, 40)), CatSpec("lang", "lang", ("en",))]
    frac_plan = _plan(snapshot_fractions(df, specs))
    assert "HashAggregate" in frac_plan
    assert "partial_count" in frac_plan  # map-side combine before the shuffle
    for tok in ("Python", "Arrow", "InPandas", "CartesianProduct"):
        assert tok not in frac_plan

    rep_plan = _plan(drift_report(df, df.filter(F.col("id") % 2 == 0), specs))
    for tok in ("Python", "Arrow", "InPandas", "CartesianProduct"):
        assert tok not in rep_plan


def test_zvalue_is_codegen_projection_no_shuffle(spark):
    """Z-order (operators/layout.py): the Morton code is a pure codegen
    projection riding the scan — zero Exchange, zero Python; the layout
    adds exactly the one range-partition exchange any sorted write pays."""
    from record_linkage_spark.operators.layout import (
        range_bucket,
        zorder_layout,
        zvalue,
    )

    df = spark.range(1000).select(
        F.col("id"),
        range_bucket((F.col("id") % 100).cast("double"), 0.0, 100.0, 4).alias("bx"),
        range_bucket((F.col("id") % 7).cast("double"), 0.0, 7.0, 4).alias("by"),
    )
    z = df.withColumn("zval", zvalue([F.col("bx"), F.col("by")], bits=4))
    zplan = _plan(z)
    assert "Exchange" not in zplan
    for tok in ("Python", "Arrow", "InPandas"):
        assert tok not in zplan

    lay_plan = _plan(zorder_layout(z, n_partitions=4))
    assert lay_plan.count("Exchange") == 1
    assert "rangepartitioning" in lay_plan.lower()
    for tok in ("Python", "Arrow", "InPandas"):
        assert tok not in lay_plan


def test_kmv_plan_bounded_state_then_window(spark):
    """KMV (operators/sketches.py): the only Python is the bounded
    per-partition k-min pre-prune (mapInPandas); the merge/estimate side
    is plain aggregates with no cartesian products."""
    from record_linkage_spark.operators.sketches import kmv_estimate, kmv_sketch

    vals = spark.range(2000).select(F.col("id").cast("string").alias("v"))
    sk = kmv_sketch(vals, "v", k=32)
    sk_plan = _plan(sk)
    assert "MapInPandas" in sk_plan  # the bounded-state pre-prune
    assert "Window" in sk_plan
    assert "CartesianProduct" not in sk_plan

    est_plan = _plan(kmv_estimate(sk, k=32))
    assert "HashAggregate" in est_plan


def test_skew_report_is_pure_catalyst_over_counts(spark):
    """Skew diagnosis (operators/skew.py): every report aggregates the
    counts table only — partial-agg groupBys, a 1-row broadcast attach,
    zero Python, no cartesian beyond the single-row crossJoin."""
    from record_linkage_spark.operators.skew import (
        key_frequencies,
        load_imbalance,
        partition_loads,
        skew_report,
    )

    df = spark.range(500).select((F.col("id") % 17).cast("string").alias("k"))
    counts = key_frequencies(df, ["k"])
    cplan = _plan(counts)
    assert "partial_count" in cplan
    rplan = _plan(skew_report(counts, 8))
    assert "BroadcastNestedLoopJoin" in rplan or "BroadcastHashJoin" in rplan
    for tok in ("Python", "Arrow", "InPandas", "CartesianProduct"):
        assert tok not in rplan
    lplan = _plan(load_imbalance(partition_loads(counts, 8)))
    for tok in ("Python", "Arrow", "InPandas", "CartesianProduct"):
        assert tok not in lplan


def test_chunking_plan_zero_shuffle(spark):
    """Chunking (operators/chunking.py): the whole stage is a codegen
    projection + generator riding the scan — no Exchange, no Python."""
    from record_linkage_spark.operators.chunking import chunk_documents

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(F.lit("tok"), 40)).alias("text"),
    )
    plan = _plan(chunk_documents(docs, 16, 8))
    assert "Exchange" not in plan
    for tok in ("Python", "Arrow", "InPandas"):
        assert tok not in plan
