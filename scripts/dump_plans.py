"""Regenerate PLANS.md: the physical-plan trees of the headline contract
queries with a note on what each plan's shape proves. Run after changing
an operator's plan-relevant code:

    python scripts/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as em  # noqa: E402
from record_linkage_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

COMMENTARY = {
    "blocking_cascades": (
        "Salted blocking generator (B1 + B2 cascades union-folded). "
        "Reading order: parquet scans feed a "
        "broadcast of per-key block sizes (the salt fan-out decision), the "
        "self-join is a hash join on (equality keys, salt) — never a "
        "cartesian — and ArrowEvalPython (the JW kernel) sits strictly "
        "ABOVE the join, so it only ever sees within-block pairs."
    ),
    "scored_pairs_portable": (
        "Flagship composition (blocking -> hydration -> 16-feature M1 "
        "vector -> LR sigmoid) end to end. The salted blocking join and "
        "the two hydration joins are all hash joins; the two JW "
        "ArrowEvalPython nodes sit above the hydration joins (kernels "
        "see only candidate pairs); every comparator/sigmoid expression "
        "is whole-stage codegen between them."
    ),
    "rl_minhash": (
        "MinHash-LSH near-dup. The band bucket self-join ships only "
        "(id, signature) tuples; the exact-Jaccard verify re-shingles only "
        "pairs that survived banding (semi-join reduction). No stage "
        "enumerates all pairs."
    ),
    "event_windows": (
        "Windowed rollup + gap sessionization: one Exchange on the session key (user_id), "
        "no global sort, no window over an unpartitioned frame; the tumbling branch is a plain two-phase agg on the window key."
    ),
    "a5_summary_stats": (
        "TPC-H-Q1-shaped aggregate: partial HashAggregate below the "
        "Exchange (map-side combine), final above — the canonical "
        "two-phase agg."
    ),
    "ann_brute_topk": (
        "Brute-force ANN baseline: per-partition top-k below the shuffle, "
        "global top-k above — the k-bounded pattern, not a global sort."
    ),
    "golden_records": (
        "Survivorship fusion. One hydration hash join, then all mode "
        "columns ride ONE unpivoted aggregation (a single Generate/explode "
        "feeding a two-phase counts agg); the base count/sum/longest agg "
        "and the winners pivot are map-side-combinable groupBys on "
        "entity_id. No Window node, no cartesian."
    ),
    "ssjoin_prefix": (
        "Prefix-filter set-similarity join. The df-annotation and the "
        "postings self-join are equality hash joins (never a cartesian); "
        "the per-doc prefix truncation is a two-phase groupBy (partial "
        "collect below the Exchange); length + positional filters prune "
        "before the only payload-carrying step, the hydration joins of "
        "surviving pairs' token arrays."
    ),
    "meta_blocking": (
        "Meta-blocking pruner. Postings pair via an equality hash join on "
        "(kname, kval); block purging is an aggregate + semi-join (the "
        "counts side is key-only and broadcasts); pair weights show "
        "partial_count below the Exchange (map-side combine). Never a "
        "cartesian."
    ),
    "transcript_integrity": (
        "Transcript structural QA. The lag window, the groupBy and the "
        "distinct-index rewrite all partition on conv_id, so the operator "
        "adds ONE Exchange (the lower Exchange here belongs to the "
        "contract derivation's violation-planting row_number, whose key "
        "is the pre-cast user_id); every check is a codegen'd built-in — "
        "no Python node anywhere. On a real transcripts table the whole "
        "pass is a single shuffle (pinned by "
        "test_integrity_single_shuffle_plan)."
    ),
    "prefix_dups": (
        "Prefix-duplicate conversations. The chained-md5 prefix hashes "
        "come from one rollup-shaped aggregation per conversation; "
        "candidates are an equality hash join on (32-char hash, length) "
        "with payload stripped to ids+lengths — no cartesian, no verify "
        "pass needed (hash-chain equality IS turn-for-turn equality)."
    ),
    "turn_boilerplate": (
        "Boilerplate-turn strip. The catalog is a two-phase md5-keyed "
        "aggregate (partial below the Exchange); the strip is a LEFT ANTI "
        "hash join probing the corpus against that small catalog — the "
        "corpus payload itself is never reshuffled."
    ),
    "rl_ann_candidates": (
        "ANN (vector-similarity) blocking. The bucket self-join ships "
        "only (id, 64-bit signature) — the vectors never enter the pair "
        "blow-up; the bit_count Hamming prefilter sits directly on the "
        "join output (codegen); both vector hydrations are "
        "BroadcastHashJoins (explicit hint — the vector table beats the "
        "10 MB auto threshold); the unit-dot verify runs only on "
        "deduped survivors. Pure Catalyst: no Python node anywhere."
    ),
    "entity_history": (
        "SCD2 attribute history. The lag change-detection window, the "
        "run cumsum, the run collapse and the lead close-out all key on "
        "entity_id, so the whole build is ONE Exchange of the "
        "observation stream (the windows and the groupBy reuse the same "
        "hash partitioning); every expression is codegen'd — no Python, "
        "no iteration, no driver state."
    ),
    "mixture_sample": (
        "Domain-mixture sampling. The |domains|-row plan broadcasts "
        "(BroadcastExchange under BroadcastHashJoin); the corpus side "
        "flows scan -> join -> sequence/explode -> project with NO hash "
        "Exchange — mixing never reshuffles the corpus, and the explode "
        "multiplicity is bounded by the plan's epoch cap."
    ),
    "collective_evidence": (
        "Collective-ER relational evidence (one neighborhood-Jaccard "
        "round). Every join is an equality hash join: the hub guard is a "
        "two-phase distinct-count agg whose kept-key set semi-joins back, "
        "the (rel_key x entity) fan-out join carries an explicit-N "
        "repartition on the key (quadratic within-key output, AQE-blind "
        "— the session-3 audit defense), and the per-pair score is "
        "codegen array_intersect/array_union over capped sorted arrays. "
        "No Python node, no cartesian, no Window."
    ),
    "triangle_audit": (
        "Transitivity audit. Strong edges symmetrize via unionByName; "
        "the degree guard is a two-phase agg + semi join; the wedge "
        "self-join keys on the center id with an explicit-N repartition "
        "(within-center output is quadratic in degree, bounded by the "
        "guard); the closing edge is ONE left hash join back to the "
        "canonical pair table. No Python node, no cartesian."
    ),
    "pagerank_iteration": (
        "One PageRank power iteration. The edge list joins the rank "
        "vector and the out-degree table by hash joins on src; the "
        "contribution sum partial-aggregates map-side on dst; the node "
        "count and dangling mass attach as 1-row BroadcastNestedLoopJoin "
        "nodes (single-row aggregates, not cross products). Zero Python, "
        "and the per-round shape repeats identically, so the loop's cost "
        "is num_iters x this tree."
    ),
    "bpe_pair_counts": (
        "BPE first merge round. The corpus collapses to the word table "
        "via one partial-aggregated groupBy; symbolization and the "
        "adjacent-pair explode are codegen projections; pair counts "
        "partial-aggregate map-side before their only shuffle. Zero "
        "Python — the distributed trainer path is pure Catalyst."
    ),
    "hll_sketch": (
        "HyperLogLog register table + estimate (operators/sketches.py). "
        "One partial-aggregated groupBy (map-side max per register) is "
        "the only data shuffle; the estimate is a second aggregate over "
        "<= 2^p register rows. Zero Python; the md5/shift/bin expressions "
        "are all codegen. Mergeable: epochs union + re-max."
    ),
    "bloom_membership": (
        "Bloom filter build + probe (operators/sketches.py). Build: one "
        "bit_or groupBy packs positions into ceil(n_bits/62) words. "
        "Probe: the word table is pinned once (localCheckpoint — the build "
        "aggregation is NOT re-run per hash), then per hash a "
        "BroadcastHashJoin + codegen bits&mask check — no UDF, no "
        "cartesian, and the probed data is never broadcast."
    ),
    "heavy_hitter_summaries": (
        "Misra-Gries heavy hitters (operators/sketches.py). The ONLY "
        "Python node is the bounded-state per-partition summary "
        "(MapInPandas, <= capacity counters); the merge is a plain "
        "partial-aggregated sum over <= capacity x partitions rows, and "
        "the total-count attach is a 1-row broadcast. Shuffle volume is "
        "capped by capacity, not by the data's distinct-value count."
    ),
    "entity_safe_split": (
        "Leakage-safe split (ground_truth.entity_safe_split): a single "
        "hash projection over the assignment table — zero exchanges, "
        "zero Python — so split routing is free at any scale."
    ),
    "cms_sketch": (
        "CountMin sketch build + point estimates (operators/sketches.py). "
        "Build: one partial-aggregated groupBy collapses the corpus to "
        "<= depth x width counter rows. Estimate: per depth row a "
        "BroadcastHashJoin of the query keys against the tiny counter "
        "table, then a codegen least(). Zero Python; mergeable by "
        "union + re-sum."
    ),
    "quantile_histogram": (
        "HDR quantile histogram build + readout (operators/sketches.py). "
        "Build: one partial-aggregated groupBy to the bucket-bound state "
        "(bit-arithmetic bucketing is codegen, zero Python). Readout: a "
        "window cumsum + ceil-rank selection over the state only — the "
        "data is never touched again. Mergeable by summed union."
    ),
    "quality_scorer": (
        "fastText-style quality scorer (operators/quality_classifier.py). "
        "Features partial-aggregate map-side (explode -> (id, feat) "
        "counts); the weight table (<= dim rows) attaches via "
        "BroadcastHashJoin; the margin is one more partial-aggregated "
        "sum per doc. Zero Python end to end — tokenize/hash/normalize "
        "are all codegen expressions."
    ),
    "drift_report": (
        "Corpus snapshot drift (operators/drift.py). Each snapshot "
        "reduces in ONE pass: the per-row (feature, bin) struct array "
        "explodes and partial-aggregates map-side, so the shuffle "
        "carries <= features x bins rows per partition; the window "
        "total and the full-outer comparison join run over bins-sized "
        "frames only. Zero Python; PSI/JSD/TV terms are codegen."
    ),
    "zorder_audit": (
        "Z-order layout audit (operators/layout.py). The Morton code "
        "is a codegen projection fused into the scan (zero exchanges); "
        "the audit's exact-ntile file assignment is the single "
        "global-order window (a report tool over samples/footer stats, "
        "never the data path); per-file min/max collapse via one "
        "partial-aggregated groupBy. The production write path "
        "(zorder_layout) adds exactly one range-partition exchange."
    ),
    "kmv_set_report": (
        "KMV / theta sketch set-operation report "
        "(operators/sketches.py). The only Python is the bounded "
        "per-partition k-min pre-prune (MapInPandas, <= k hashes per "
        "partition); everything downstream — the k-min window, the "
        "union, the semi-join rho, the estimator divisions — runs over "
        "<= k-row frames, so set-overlap questions never rescan data."
    ),
    "skew_salting_plan": (
        "Shuffle-skew diagnosis (operators/skew.py). Exact key counts "
        "partial-aggregate map-side; the report is aggregates of that "
        "counts table with a 1-row total attach (broadcast) — the data "
        "itself is never touched, and at corpus scale the counts input "
        "is a heavy-hitters/CMS sketch instead. Zero Python."
    ),
    "document_chunks": (
        "Document chunking (operators/chunking.py). split + sequence + "
        "posexplode + slice fuse into the scan: ZERO exchanges, zero "
        "Python — a map-only stage whose fan-out is bounded by each "
        "document's own length, pipelining straight into the "
        "embedding/batch-score pass."
    ),
    "cohort_funnel": (
        "Cohort retention (operators/agent_analytics.py). The distinct "
        "(user, day) projection is the only event-mass shuffle "
        "(partial-aggregated); the cohort anchor and the matrix are "
        "user-keyed joins + a cohorts x offsets-bounded aggregate. "
        "Zero Python, no raw-stream window."
    ),
}


def _q_transcript_integrity(spark, sf):
    return em.q_transcript_integrity(spark, sf)


def _q_prefix_dups(spark, sf):
    return em.q_prefix_dups(spark, sf)


def _q_turn_boilerplate(spark, sf):
    return em.q_turn_boilerplate(spark, sf)


def _q_entity_history(spark, sf):
    from record_linkage_spark.operators.entity_history import attribute_history
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf}/events.parquet").filter(
        F.col("ts").isNotNull()
    )
    obs = ev.select(
        F.col("user_id").cast("bigint").alias("entity_id"),
        "ts",
        F.col("event_type").alias("value"),
        "event_id",
    )
    return attribute_history(obs, tiebreak_col="event_id")


def _q_mixture_sample(spark, sf):
    from record_linkage_spark.operators.mixing import (
        plan_mixture,
        sample_mixture,
    )
    from record_linkage_spark.operators.text_analysis import token_count_ws
    from pyspark.sql import functions as F

    corpus = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .filter(F.col("lang").isNotNull())
        .select(
            "doc_id",
            F.col("lang").alias("domain"),
            token_count_ws("text").cast("bigint").alias("n_tokens"),
        )
    )
    plan = plan_mixture(
        corpus, {"en": 1.0, "de": 2.0, "fr": 4.0}, total_tokens=50_000
    ).localCheckpoint()
    return sample_mixture(corpus, plan)


# former standalone contract entries now folded into window composites,
# plus operators benched without a standalone entry — dumped via their
# underlying builders so the audited plan stays the OPERATOR's, not the
# union-tagged composite wrapper's
def _collective_inputs(spark, sf):
    from pyspark.sql import functions as F

    d = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .filter(F.col("lang").isNotNull())
        .select("doc_id")
    )
    rel = d.select(
        "doc_id",
        F.concat(F.lit("a"), F.floor(F.col("doc_id") / 3).cast("string")).alias(
            "rel_key"
        ),
    ).unionByName(
        d.select(
            "doc_id",
            F.concat(
                F.lit("b"), F.floor(F.col("doc_id") / 5).cast("string")
            ).alias("rel_key"),
        )
    )
    asg = d.select(
        "doc_id", F.floor(F.col("doc_id") / 7).cast("bigint").alias("entity_id")
    )
    offs = spark.range(1, 4).select(F.col("id").alias("off"))
    pairs = (
        d.select(F.col("doc_id").alias("id_A"))
        .crossJoin(offs)
        .select("id_A", (F.col("id_A") + F.col("off")).alias("id_B"))
        .join(d.select(F.col("doc_id").alias("id_B")), "id_B")
        .withColumn(
            "score", (F.col("id_A") % 100).cast("double") / F.lit(100.0)
        )
    )
    return rel, asg, pairs


def _q_collective_evidence(spark, sf):
    from record_linkage_spark.operators.collective import neighborhood_jaccard

    rel, asg, pairs = _collective_inputs(spark, sf)
    return neighborhood_jaccard(
        pairs.select("id_A", "id_B"), rel, asg, id_col="doc_id"
    )


def _q_triangle_audit(spark, sf):
    from record_linkage_spark.operators.collective import (
        triangle_inconsistencies,
    )

    _, _, pairs = _collective_inputs(spark, sf)
    return triangle_inconsistencies(pairs, threshold=0.8)


def _q_pagerank_iter(spark, sf):
    import pyspark.sql.functions as F

    from record_linkage_spark.operators.graph_rank import pagerank

    o = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return pagerank(edges, num_iters=1, checkpoint_every=100)


def _q_bpe_pair_counts(spark, sf):
    from record_linkage_spark.operators.bpe import (
        bpe_pair_counts,
        initial_symbols,
        word_frequencies,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return bpe_pair_counts(initial_symbols(word_frequencies(docs)))


def _q_hll_sketch(spark, sf):
    from pyspark.sql import functions as F

    from record_linkage_spark.operators.sketches import hll_estimate, hll_registers

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    regs = hll_registers(
        docs.select("lang", F.col("doc_id").cast("string").alias("v")),
        "v",
        ["lang"],
        p=8,
    )
    return hll_estimate(regs, ["lang"], p=8)


def _q_bloom_membership(spark, sf):
    from pyspark.sql import functions as F

    from record_linkage_spark.operators.sketches import (
        bloom_build,
        bloom_member_flags,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    members = docs.filter(F.col("doc_id") < 50).select(F.col("text").alias("v"))
    filt = bloom_build(members, "v", n_bits=1 << 13)
    return bloom_member_flags(
        docs.select("doc_id", F.col("text").alias("v")), "v", filt, n_bits=1 << 13
    )


def _q_heavy_hitters(spark, sf):
    from record_linkage_spark.operators.sketches import heavy_hitters

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return heavy_hitters(docs, "lang", capacity=64)


def _q_cms_sketch(spark, sf):
    from pyspark.sql import functions as F

    from record_linkage_spark.operators.sketches import cms_build, cms_estimate

    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        F.col("o_orderpriority").alias("v")
    )
    return cms_estimate(o.distinct(), "v", cms_build(o, "v"), depth=4, width=256)


def _q_quantile_histogram(spark, sf):
    from pyspark.sql import functions as F

    from record_linkage_spark.operators.sketches import (
        histogram_quantiles,
        int_histogram,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    hist = int_histogram(
        docs.select("lang", F.col("n_chars").cast("long").alias("v")),
        "v",
        ["lang"],
        precision=7,
    )
    return histogram_quantiles(hist, [0.5, 0.99], ["lang"], precision=7)


def _q_quality_scorer(spark, sf):
    from pyspark.sql import functions as F

    from record_linkage_spark.operators.quality_classifier import (
        hashed_ngram_features,
        nb_quality_weights,
        score_quality,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
        & (F.trim("text") != "")
    )
    feats = hashed_ngram_features(docs, dim=256)
    labels = docs.select(
        F.col("doc_id").alias("id"), (F.col("lang") == "en").cast("int").alias("y")
    )
    return score_quality(feats, nb_quality_weights(feats, labels, dim=256))


def _q_entity_safe_split(spark, sf):
    from pyspark.sql import functions as F

    from record_linkage_spark.operators.ground_truth import entity_safe_split

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    assign = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        (F.col("doc_id") % 100).cast("string").alias("entity_id"),
    )
    return entity_safe_split(assign)


def _q_drift_report(spark, sf):
    from pyspark.sql import functions as F

    from record_linkage_spark.operators.drift import (
        CatSpec,
        HistSpec,
        drift_report,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    specs = [
        HistSpec("n_chars", "n_chars", (50, 100, 200, 400, 800)),
        CatSpec("lang", "lang", ("en", "de", "fr")),
    ]
    return drift_report(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 3 != 0),
        specs,
    )


def _q_zorder_audit(spark, sf):
    from pyspark.sql import functions as F

    from record_linkage_spark.operators.layout import (
        file_stats,
        range_bucket,
        zvalue,
    )

    c = spark.read.parquet(f"{sf}/customer.parquet").select(
        F.col("c_custkey").alias("id"),
        range_bucket("c_nationkey", 0.0, 25.0, 4).alias("bn"),
        range_bucket("c_acctbal", -1000.0, 10000.0, 4).alias("bb"),
    )
    z = c.withColumn("zval", zvalue([F.col("bn"), F.col("bb")], bits=4))
    return file_stats(z, "id", ["bn", "bb"], n_files=8)


def _q_kmv_set_report(spark, sf):
    from pyspark.sql import functions as F

    from record_linkage_spark.operators.sketches import (
        kmv_set_report,
        kmv_sketch,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.col("doc_id"), F.col("doc_id").cast("string").alias("v")
    )
    a = kmv_sketch(docs.filter(F.col("doc_id") % 2 == 0), "v", k=64)
    b = kmv_sketch(docs.filter(F.col("doc_id") % 3 == 0), "v", k=64)
    return kmv_set_report(a, b, k=64)


def _q_skew_salting_plan(spark, sf):
    from record_linkage_spark.operators.skew import key_frequencies, skew_report

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return skew_report(key_frequencies(li, ["l_suppkey"]), 32)


def _q_document_chunks(spark, sf):
    from record_linkage_spark.operators.chunking import chunk_documents

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return chunk_documents(docs, chunk_tokens=32, stride=16)


def _q_cohort_funnel(spark, sf):
    from record_linkage_spark.operators.agent_analytics import cohort_retention

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return cohort_retention(ev, period_days=7)


FALLBACK = {
    "hll_sketch": _q_hll_sketch,
    "bloom_membership": _q_bloom_membership,
    "heavy_hitter_summaries": _q_heavy_hitters,
    "entity_safe_split": _q_entity_safe_split,
    "transcript_integrity": _q_transcript_integrity,
    "prefix_dups": _q_prefix_dups,
    "turn_boilerplate": _q_turn_boilerplate,
    "entity_history": _q_entity_history,
    "mixture_sample": _q_mixture_sample,
    "collective_evidence": _q_collective_evidence,
    "triangle_audit": _q_triangle_audit,
    "pagerank_iteration": _q_pagerank_iter,
    "bpe_pair_counts": _q_bpe_pair_counts,
    "cms_sketch": _q_cms_sketch,
    "quantile_histogram": _q_quantile_histogram,
    "quality_scorer": _q_quality_scorer,
    "drift_report": _q_drift_report,
    "zorder_audit": _q_zorder_audit,
    "kmv_set_report": _q_kmv_set_report,
    "skew_salting_plan": _q_skew_salting_plan,
    "document_chunks": _q_document_chunks,
    "cohort_funnel": _q_cohort_funnel,
}


def tree_only(formatted: str) -> str:
    """Keep the plan tree, drop the per-node detail blocks."""
    lines = formatted.splitlines()
    out = []
    for line in lines:
        if line.startswith("("):  # first detail block "(1) Scan ..."
            break
        out.append(line.rstrip())
    return "\n".join(out).strip()


def main() -> None:
    spark = get_spark("plans", master="local[8]", shuffle_partitions=8)
    qs = em.queries()
    sections = []
    for name, note in COMMENTARY.items():
        df = (qs.get(name) or FALLBACK[name])(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        sections.append(f"## {name}\n\n{note}\n\n```\n{tree_only(buf.getvalue())}\n```\n")
    spark.stop()
    header = (
        "# PLANS — physical-plan audit of the headline queries\n\n"
        "Generated by `python scripts/dump_plans.py` (sf0.001 inputs; plan\n"
        "shape is scale-invariant). The structural properties below are\n"
        "also pinned by `tests/test_plan_audit.py`, so they can't silently\n"
        "regress.\n\n"
    )
    with open(REPO / "PLANS.md", "w") as f:
        f.write(header + "\n".join(sections))
    print(f"wrote {REPO / 'PLANS.md'}")


if __name__ == "__main__":
    main()
