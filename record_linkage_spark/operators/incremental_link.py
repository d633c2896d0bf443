"""Incremental linkage: match NEW conversations against an existing
profile base without re-pairing the whole corpus.

The reference is a full-batch pipeline (SURVEY.md §3 E1); incremental
arrival is the production reality at 10^12-turn scale. Semantics here:
candidate pairs are every (new, base∪new) pair passing the strategy's
blocking cascade, scored with the same feature vector + broadcast model
weights as the batch path — so an increment run produces exactly the
edges the full batch run would produce for pairs touching the new ids.

The cascade is not restated here: the block records and verify legs
come from ``operators/blocking.py``, where each strategy is defined
once; only the new-vs-(base ∪ new) join is this module's own.

Cost scales with the increment: the base is first reduced by a
semi-join on the new side's block keys (with Iceberg partition-by-key
tables that becomes partition pruning at the scan), so only base
records sharing a block with some new record are paired and scored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from record_linkage_spark.operators.blocking import block_records, verify_legs
from record_linkage_spark.operators.classifier import LinearModel, score_pairs
from record_linkage_spark.operators.features import FEATURE_INPUT_COLS, add_features
from record_linkage_spark.operators.ground_truth import hydrate_pairs

HYDRATE_COLS = sorted(set(FEATURE_INPUT_COLS) | {"text_len_bucket"})


def increment_candidates(
    new_profiles: DataFrame,
    base_profiles: DataFrame,
    strategy: str = "B1",
) -> DataFrame:
    """Blocked candidate pairs touching at least one NEW record:
    new-vs-base (both orders collapse to one) plus new-vs-new
    (id_A < id_B). Returns (id_A, id_B) canonically ordered."""
    new_recs, key_names, payload = block_records(new_profiles, strategy)
    new_side = new_recs.withColumn("_new", F.lit(True))
    # reduce the base to blocks the increment actually touches
    touched = new_side.select(*key_names).distinct()
    base_side = (
        block_records(base_profiles, strategy)[0]
        .withColumn("_new", F.lit(False))
        .join(F.broadcast(touched), key_names, "left_semi")
    )
    all_side = base_side.unionByName(new_side)

    a = new_side.select(
        *key_names,
        F.col("conv_id").alias("id_A"),
        *[F.col(c).alias(f"{c}_A") for c in payload],
    )
    b = all_side.select(
        *key_names,
        F.col("conv_id").alias("id_B"),
        F.col("_new").alias("_new_B"),
        *[F.col(c).alias(f"{c}_B") for c in payload],
    )
    pairs = a.join(b, key_names).filter(
        # new-new pairs once (id_A < id_B); new-base pairs always
        F.when(F.col("_new_B"), F.col("id_A") < F.col("id_B")).otherwise(
            F.col("id_A") != F.col("id_B")
        )
    )
    for leg in verify_legs(strategy):
        pairs = pairs.filter(leg)
    return pairs.select(
        F.least("id_A", "id_B").alias("id_A"),
        F.greatest("id_A", "id_B").alias("id_B"),
    ).dropDuplicates(["id_A", "id_B"])


def link_increment(
    new_profiles: DataFrame,
    base_profiles: DataFrame,
    model: LinearModel,
    strategy: str = "B1",
) -> DataFrame:
    """Score the increment's candidate pairs; returns
    (id_A, id_B, score, pred) — pred==1 rows are the new match edges to
    append to the match-edge table. Entity ids are then refreshed with
    ``clustering.incremental_components`` (contracted entity-graph CC —
    O(touched entities) per increment, full batch CC stays a scheduled
    job)."""
    cands = increment_candidates(new_profiles, base_profiles, strategy)
    combined = base_profiles.select("conv_id", *HYDRATE_COLS).unionByName(
        new_profiles.select("conv_id", *HYDRATE_COLS)
    ).dropDuplicates(["conv_id"])
    hydrated = hydrate_pairs(cands, combined, HYDRATE_COLS)
    scored = score_pairs(add_features(hydrated), model)
    return scored.select("id_A", "id_B", "score", "pred")
