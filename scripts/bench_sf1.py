"""sf1.0 scale rehearsal (round-5 verdict item 1): run the headline
pipeline stages at 10x the per-round bench scale IN ONE SESSION at both
scales, so per-stage sf0.1-vs-sf1.0 ratios are same-boot, same-JVM
comparisons (no cross-boot substrate correction needed — the in-process
calibration number is recorded anyway).

Scales:
- sf0.1 equivalent: n_entities = 40,000 (the per-round bench scale)
- sf1.0 equivalent: n_entities = 400,000 (~4.1M turns, ~640k convs)

The transcript pipeline (rollup -> blocking -> featurize ->
score-candidates -> connected components -> golden records) runs on the
deterministic synth generator at each n_entities — the generator is the
engine's own scaling path, no external data.

The document dedup stages (minhash near-dup, recall-lossless ssjoin)
need a 10x corpus: built from sf0.1's documents.parquet as 10
token-renamed replicas (every token gets a replica-unique suffix, a
bijection on each replica's vocabulary). Renaming preserves every
within-replica Jaccard EXACTLY and makes cross-replica token sets
disjoint, so the true near-dup pair set of the 10x corpus is EXACTLY
10x the sf0.1 pair set — a built-in linearity oracle:
- ssjoin (prefix filter + exact verify, recall-lossless): output MUST
  be exactly 10x sf0.1's. Checked, not assumed.
- minhash (banded LSH, probabilistic recall): hash values differ per
  replica so banding noise differs; checked to within 2%.

Correctness spot-checks at sf1.0 (the "oracle spot-checks green"
criterion, adapted to the synthetic-GT domain where the true answer is
planted): blocking recall vs the hidden entity keys, exactly-once pair
emission, and the ssjoin == 10x identity above.

Output: one JSON line, plus a markdown table appended by hand to
BENCH/BASELINE.md (the per-round ledger).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402


def _timed(fn):
    t0 = time.time()
    out = fn()
    return out, round(time.time() - t0, 3)


def _timed_best2(fn):
    out, t1 = _timed(fn)
    out, t2 = _timed(fn)
    return out, min(t1, t2)


def _calib() -> float:
    import numpy as np

    a = np.arange(5_000_000, dtype=np.int64)
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        for _ in range(5):
            a = a * 6364136223846793005 + 1442695040888963407
        best = min(best, time.time() - t0)
    return round(25.0 / best, 1)


def replica_docs(docs, k: int):
    """Replica k of the corpus: doc_id offset + token-wise rename (a
    bijection on the vocabulary — every within-replica Jaccard is
    preserved exactly; cross-replica token sets are disjoint).

    Raises ValueError when a base token already ends in ``zq<digits>``:
    replica j's rename of its prefix would then equal it, the replicas
    would share tokens, and the exactly-10x pair count would not hold."""
    if not docs.filter(F.col("text").rlike(r"zq[0-9]+(\s|$)")).isEmpty():
        raise ValueError(
            "a base token ends in zq<digits>, which replica renames collide with"
        )
    if k == 0:
        return docs
    return docs.select(
        (F.col("doc_id") + F.lit(k * 10_000_000)).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"(\S+)", f"$1zq{k}").alias("text"),
        *[c for c in docs.columns if c not in ("doc_id", "text")],
    )


def run_scale(spark, n_entities: int) -> dict:
    """One full headline-pipeline pass at the given entity count.
    Returns {stage: seconds} plus the row counts and spot-checks."""
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
    from record_linkage_spark.operators.survivorship import golden_records
    from record_linkage_spark.synth.transcripts import (
        generate_transcripts,
        hidden_key_table,
        transcripts_table,
    )

    out: dict = {"n_entities": n_entities, "stages": {}, "counts": {}}
    raw = generate_transcripts(spark, n_entities=n_entities, dup_rate=1.6)
    transcripts = transcripts_table(raw).localCheckpoint()
    gt_keys = hidden_key_table(raw).localCheckpoint()
    out["counts"]["n_turns"] = transcripts.count()

    profiles, out["stages"]["rl_rollup"] = _timed_best2(
        lambda: rollup_conversations(transcripts).localCheckpoint()
    )
    out["counts"]["n_convs"] = profiles.count()

    cands, out["stages"]["rl_blocking_join"] = _timed_best2(
        lambda: candidate_pairs(profiles, "B1").localCheckpoint()
    )
    n_cands = cands.count()
    out["counts"]["n_candidate_pairs"] = n_cands

    # spot-check: exactly-once emission + blocking recall vs hidden keys
    out["counts"]["cands_exactly_once"] = bool(
        cands.select("id_A", "id_B").distinct().count() == n_cands
    )
    true_pairs = (
        gt_keys.alias("x")
        .join(gt_keys.alias("y"), F.col("x.entity_id") == F.col("y.entity_id"))
        .filter(F.col("x.conv_id") < F.col("y.conv_id"))
        .select(
            F.col("x.conv_id").alias("id_A"), F.col("y.conv_id").alias("id_B")
        )
        .localCheckpoint()
    )
    n_true = true_pairs.count()
    n_hit = true_pairs.join(
        cands.select("id_A", "id_B"), ["id_A", "id_B"], "left_semi"
    ).count()
    out["counts"]["n_true_pairs"] = n_true
    out["counts"]["blocking_recall"] = round(n_hit / n_true, 4) if n_true else None

    model = LinearModel(
        weights=[2.0, 1.0, 1.5, 0.8, 0.6, 0.3, 0.5, 1.2, 0.4, 0.3,
                 0.8, 0.8, 0.8, 0.4, 1.0, 2.0],
        intercept=-6.0,
        threshold=0.5,
    )
    cols = sorted(set(FEATURE_INPUT_COLS) | {"text_len_bucket"})

    # the bench's deterministic big-pair featurize workload (~40
    # profiles per hash bucket -> pair count scales linearly)
    n_convs = out["counts"]["n_convs"]
    n_groups = max(n_convs // 40, 1)
    bucket = F.pmod(F.xxhash64(F.lit(7), F.col("conv_id")), F.lit(n_groups))
    pa = profiles.select(F.col("conv_id").alias("id_A"), bucket.alias("b"))
    pb = profiles.select(F.col("conv_id").alias("id_B"), bucket.alias("b"))
    big_pairs = (
        pa.join(pb, "b").filter(F.col("id_A") < F.col("id_B"))
        .select("id_A", "id_B")
    )

    def _featurize():
        hyd = hydrate_pairs(big_pairs, profiles, FEATURE_INPUT_COLS)
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

    feats, out["stages"]["rl_featurize_pairs"] = _timed_best2(_featurize)
    out["counts"]["n_featurized_pairs"] = feats.count()

    scored_cands, out["stages"]["rl_score_candidates"] = _timed_best2(
        lambda: score_pairs(
            add_features(hydrate_pairs(cands.select("id_A", "id_B"), profiles, cols)),
            model,
        ).localCheckpoint()
    )
    out["counts"]["n_scored"] = scored_cands.count()

    edges = scored_cands.filter(F.col("pred") == 1).select(
        F.col("id_A").alias("src"), F.col("id_B").alias("dst")
    )
    assignment, out["stages"]["rl_connected_components"] = _timed_best2(
        lambda: assign_entities(profiles.select("conv_id"), edges).localCheckpoint()
    )
    out["counts"]["n_clusters"] = (
        assignment.select("entity_id").distinct().count()
    )

    _, out["stages"]["rl_golden_records"] = _timed_best2(
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
    return out


def run_doc_dedup(spark, docs, label: str) -> dict:
    from record_linkage_spark.operators.dedup import (
        minhash_near_duplicates,
        set_similarity_pairs,
    )

    out: dict = {"label": label, "n_docs": docs.count(), "stages": {}, "counts": {}}
    n_mh, out["stages"]["dedup_minhash"] = _timed_best2(
        lambda: minhash_near_duplicates(docs).count()
    )
    out["counts"]["n_minhash_pairs"] = n_mh
    n_ss, out["stages"]["ssjoin_prefix"] = _timed_best2(
        lambda: set_similarity_pairs(docs, threshold=0.95).count()
    )
    out["counts"]["n_ssjoin_pairs"] = n_ss
    return out


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    from record_linkage_spark.session import get_spark

    spark = get_spark(
        "bench_sf1", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    # same warmup as bench.py
    import pandas as pd  # noqa: F401
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def _warm(s):
        return s * 1.0

    spark.range(100_000).select(F.sum(_warm(F.col("id").cast("double")))).collect()

    report: dict = {"calib_mops_1t": _calib(), "cpus": cpus}

    report["sf01"] = run_scale(spark, 40_000)
    report["sf1"] = run_scale(spark, 400_000)

    docs01 = (
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .localCheckpoint()
    )
    docs10 = docs01
    for k in range(1, 10):
        docs10 = docs10.unionByName(replica_docs(docs01, k))
    docs10 = docs10.localCheckpoint()
    report["docs_sf01"] = run_doc_dedup(spark, docs01, "sf0.1")
    report["docs_sf1"] = run_doc_dedup(spark, docs10, "sf1.0-replicas")

    # linearity table: ratio-to-linear = t_sf1 / (10 * t_sf01)
    ratios = {}
    for k, t01 in report["sf01"]["stages"].items():
        t1 = report["sf1"]["stages"][k]
        ratios[k] = round(t1 / (10.0 * t01), 3) if t01 else None
    for k, t01 in report["docs_sf01"]["stages"].items():
        t1 = report["docs_sf1"]["stages"][k]
        ratios[k] = round(t1 / (10.0 * t01), 3) if t01 else None
    report["ratio_to_linear"] = ratios

    # the built-in linearity oracle on the replica corpus
    ss01 = report["docs_sf01"]["counts"]["n_ssjoin_pairs"]
    ss10 = report["docs_sf1"]["counts"]["n_ssjoin_pairs"]
    mh01 = report["docs_sf01"]["counts"]["n_minhash_pairs"]
    mh10 = report["docs_sf1"]["counts"]["n_minhash_pairs"]
    report["ssjoin_exactly_10x"] = bool(ss10 == 10 * ss01)
    report["minhash_10x_rel_err"] = (
        round(abs(mh10 - 10 * mh01) / (10 * mh01), 4) if mh01 else None
    )
    report["calib_mops_1t_end"] = _calib()

    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
