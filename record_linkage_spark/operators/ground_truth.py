"""Ground-truth construction: labeled match/non-match pairs from the hidden
exact key (the reference's VIN pipeline, ``src/preparation/ground_truth.py``).

Stages (all DataFrame-native, hash-deterministic, parallelism-invariant):
  1. key validation — format regex + placeholder filter + weighted checksum
     as pure column arithmetic (P15-P18, ``ground_truth.py:41-62,185-200``)
  2. positives — equi self-join on the exact key, ``id_A < id_B``
     (J1, ``ground_truth.py:303-309``); the skew-critical join — hot keys
     are bounded here by construction (an entity has few conversations),
     but the join helper still routes through AQE skew handling
  3. negatives — stratified hard (tight block key) / medium (loose key)
     pairs via capped within-block enumeration (J2/X2,
     ``ground_truth.py:210-279``): full enumeration for blocks <=
     MAX_FULL_BLOCK rows, hash-sampled to ~min(3n, 500) pairs above, with a
     row-level cap on pathological mega-blocks so the self-join can never
     blow up at scale
  4. split — 70/10/20 by hash bucket of the canonical pair key
     (X1, ``ground_truth.py:389-401``; hash-based instead of shuffled so
     N-core and 4N-core runs agree bit-for-bit)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from record_linkage_spark.config import (
    BLOCK_PAIR_CAP_ABS,
    BLOCK_PAIR_CAP_FACTOR,
    MAX_FULL_BLOCK,
    NEG_HARD_FRACTION,
    NEG_TO_POS_RATIO,
    RANDOM_SEED,
    SPLIT_TRAIN_PCT,
    SPLIT_VAL_PCT,
)

KEY_FORMAT_RE = r"^EK[0-9]{11}$"
# placeholder keys (all-same-digit payload), analogue of junk VINs
# ``ground_truth.py:195-196``
KEY_PLACEHOLDER_RE = r"^EK([0-9])\1{9}[0-9]$"
_CHECK_WEIGHTS = [7, 3, 1, 7, 3, 1, 7, 3, 1, 7]


def key_checksum_ok() -> F.Column:
    """Column predicate: weighted mod-10 checksum of the 10 key digits equals
    the trailing check digit — pure arithmetic over substrings (no UDF)."""
    total = F.lit(0)
    for i, w in enumerate(_CHECK_WEIGHTS):
        total = total + F.substring("entity_key", 3 + i, 1).cast("int") * F.lit(w)
    return F.pmod(total, F.lit(10)) == F.substring("entity_key", 13, 1).cast("int")


def validate_keys(keys: DataFrame) -> DataFrame:
    """(conv_id, entity_key) -> rows with structurally valid keys only."""
    k = F.regexp_replace(F.upper(F.col("entity_key")), r"[^A-Z0-9]", "")
    return (
        keys.withColumn("entity_key", k)
        .filter(F.col("entity_key").rlike(KEY_FORMAT_RE))
        .filter(~F.col("entity_key").rlike(KEY_PLACEHOLDER_RE))
        .filter(key_checksum_ok())
    )


def positive_pairs(valid_keys: DataFrame) -> DataFrame:
    """All within-key conversation pairs, canonical id_A < id_B, label 1."""
    a = valid_keys.select(
        F.col("conv_id").alias("id_A"), F.col("entity_key").alias("k")
    )
    b = valid_keys.select(
        F.col("conv_id").alias("id_B"), F.col("entity_key").alias("k")
    )
    return (
        a.join(b, "k")
        .filter(F.col("id_A") < F.col("id_B"))
        .select("id_A", "id_B", F.lit(1).alias("label"), F.lit("positive").alias("stratum"))
    )


def _pair_hash(a, b, tag: str):
    return F.xxhash64(F.lit(RANDOM_SEED), F.lit(tag), F.col(a), F.col(b))


def _capped_block_pairs(
    recs: DataFrame,
    block_cols: list,
    stratum: str,
    max_block_rows: int = 1000,
) -> DataFrame:
    """Within-block pair enumeration with the reference's size guard.

    recs: (conv_id, entity_key, <block cols>). Returns (id_A, id_B) pairs of
    *different* entity_key, deterministically capped:
      * mega-blocks (> max_block_rows rows) are row-sampled down first so
        the self-join is O(max_block_rows^2) worst case per block;
      * blocks with n <= MAX_FULL_BLOCK keep all pairs;
      * larger blocks keep ~min(BLOCK_PAIR_CAP_FACTOR*n, BLOCK_PAIR_CAP_ABS)
        pairs via a hash filter on the pair key.
    """
    bk = [F.col(c) if isinstance(c, str) else c for c in block_cols]
    r = recs.select(
        "conv_id", "entity_key", *[c.alias(f"_bk{i}") for i, c in enumerate(bk)]
    ).filter(F.concat_ws("", *[f"_bk{i}" for i in range(len(bk))]) != "")
    bcols = [f"_bk{i}" for i in range(len(bk))]

    sizes = r.groupBy(*bcols).agg(F.count("*").alias("_n"))
    r = r.join(F.broadcast(sizes), bcols)

    # row-level cap for mega-blocks (keeps the join bounded at any scale)
    keep_row = (F.col("_n") <= max_block_rows) | (
        F.pmod(F.xxhash64(F.lit(RANDOM_SEED), F.lit(stratum + ":rowcap"), F.col("conv_id")), F.lit(1_000_000))
        < (F.lit(max_block_rows) / F.col("_n") * 1_000_000).cast("long")
    )
    r = r.filter(keep_row)

    a = r.select(
        *[F.col(c) for c in bcols],
        F.col("conv_id").alias("id_A"),
        F.col("entity_key").alias("key_A"),
        F.col("_n"),
    )
    b = r.select(
        *[F.col(c) for c in bcols],
        F.col("conv_id").alias("id_B"),
        F.col("entity_key").alias("key_B"),
    )
    pairs = (
        a.join(b, bcols)
        .filter(F.col("id_A") < F.col("id_B"))
        .filter(F.col("key_A") != F.col("key_B"))
    )

    full_pairs = (F.col("_n") * (F.col("_n") - 1) / 2).cast("double")
    cap = F.least(
        F.col("_n").cast("double") * BLOCK_PAIR_CAP_FACTOR, F.lit(float(BLOCK_PAIR_CAP_ABS))
    )
    p_keep = F.when(F.col("_n") <= MAX_FULL_BLOCK, F.lit(1.0)).otherwise(
        F.least(cap / full_pairs, F.lit(1.0))
    )
    kept = pairs.filter(
        F.pmod(_pair_hash("id_A", "id_B", stratum + ":paircap"), F.lit(1_000_000))
        < (p_keep * 1_000_000).cast("long")
    )
    return kept.select("id_A", "id_B").dropDuplicates(["id_A", "id_B"])


def negative_pairs(
    profiles_with_keys: DataFrame,
    positives: DataFrame,
    n_positives: int,
    neg_ratio: float = NEG_TO_POS_RATIO,
) -> DataFrame:
    """Stratified negatives: NEG_HARD_FRACTION from the tight block key,
    rest from a loose key; quotas filled by deterministic hash-threshold
    sampling (reference's rng.choice quota, ``ground_truth.py:251-257``).

    Scale note: an ``orderBy(hash).limit(quota)`` here would compile to
    TakeOrderedAndProject — up to ``quota`` rows collected per partition
    onto the driver, an OOM at 10^12-turn scale where quota is huge.
    Instead each stratum counts its candidates (distributed aggregate,
    scalar result) and keeps pairs whose pair-hash bucket falls under
    quota/count — fully distributed, deterministic, and order-independent.
    The quota is met in expectation (binomial noise ~ sqrt(quota), i.e.
    <<1% relative at any realistic quota); tests assert labels/strata,
    not an exact count.
    """
    hard_cols = [
        F.col("text_len_bucket").cast("string"),
        F.substring("first_text_norm", 1, 3),
    ]
    medium_cols = [F.substring("first_text_norm", 1, 1)]

    total = int(n_positives * neg_ratio)
    hard_quota = int(total * NEG_HARD_FRACTION)
    med_quota = total - hard_quota

    def take(df: DataFrame, stratum: str, quota: int) -> DataFrame:
        cand = df.join(
            positives.select("id_A", "id_B"), ["id_A", "id_B"], "left_anti"
        )
        # distributed count (scalar to driver); the subsequent filter re-walks
        # the same plan object, so shuffle files are reused across the two jobs
        n_cand = cand.count()
        if n_cand > quota:
            thresh = min(1_000_000, int(quota / n_cand * 1_000_000) + 1)
            cand = cand.filter(
                F.pmod(
                    _pair_hash("id_A", "id_B", "quota:" + stratum),
                    F.lit(1_000_000),
                )
                < F.lit(thresh)
            )
        return cand.select(
            "id_A", "id_B", F.lit(0).alias("label"), F.lit(stratum).alias("stratum")
        )

    hard = take(
        _capped_block_pairs(profiles_with_keys, hard_cols, "hard"), "hard", hard_quota
    )
    med_raw = _capped_block_pairs(profiles_with_keys, medium_cols, "medium")
    med = take(
        med_raw.join(hard.select("id_A", "id_B"), ["id_A", "id_B"], "left_anti"),
        "medium",
        med_quota,
    )
    return hard.unionByName(med)


def with_split(pairs: DataFrame) -> DataFrame:
    """70/10/20 split by hash bucket of the canonical pair key."""
    bucket = F.pmod(_pair_hash("id_A", "id_B", "split"), F.lit(100))
    return pairs.withColumn(
        "split",
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test"),
    )


def entity_safe_split(
    assignments: DataFrame,
    train_pct: int = SPLIT_TRAIN_PCT,
    val_pct: int = SPLIT_VAL_PCT,
    salt: str = "esplit",
    entity_col: str = "entity_id",
) -> DataFrame:
    """Leakage-safe train/val/test split: the hash bucket is computed on
    the ENTITY id, so every record of an entity — and therefore every
    matching / near-duplicate pair — lands in the same split.

    Why record-level splits leak: with X1's per-record (or per-pair)
    hash, two near-duplicate records of one entity routinely straddle
    train and test, so a model memorizing train text scores its near-copy
    in test — the classic contamination failure of both ER benchmarks and
    LLM training corpora (the cluster-level split is the standard remedy,
    e.g. Lee et al. "Deduplicating Training Data Makes Language Models
    Better", ACL 2022, §6). ``split_leakage_audit`` measures exactly that
    failure for ANY split column.

    Input is an assignment table (record -> entity), e.g. from
    ``clustering.assign_entities``. The bucket hash is the portable
    ``md5_60`` so a SQL oracle replays the routing bit-for-bit. Zero
    extra shuffles: one projection on the assignment table.
    """
    from record_linkage_spark.functions.text import md5_60

    bucket = F.pmod(
        md5_60(F.concat(F.lit(salt + "\x01"), F.col(entity_col).cast("string"))),
        F.lit(100),
    )
    return assignments.withColumn(
        "split",
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def split_leakage_audit(
    splits: DataFrame,
    pairs: DataFrame,
    id_col: str = "conv_id",
    split_col: str = "split",
) -> DataFrame:
    """Contamination report for a split: of the given related pairs
    (match edges, near-dup pairs, ...), how many straddle two different
    splits?  Returns one row per (split_A, split_B) with n_pairs,
    split_A <= split_B canonicalized — the off-diagonal rows ARE the
    leakage (an ``entity_safe_split`` over the pairs' own components
    yields none; a record-hash split yields plenty — both pinned in
    ``tests/test_sketches.py``-style property tests).

    Scale shape: two equality joins of the pair list against the
    (record, split) table — the same hydration pattern as J3 — then a
    tiny groupBy; nothing is collected."""
    a = splits.select(F.col(id_col).alias("id_A"), F.col(split_col).alias("_sA"))
    b = splits.select(F.col(id_col).alias("id_B"), F.col(split_col).alias("_sB"))
    j = pairs.select("id_A", "id_B").join(a, "id_A").join(b, "id_B")
    return (
        j.select(
            F.least("_sA", "_sB").alias("split_A"),
            F.greatest("_sA", "_sB").alias("split_B"),
        )
        .groupBy("split_A", "split_B")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def hydrate_pairs(
    pairs: DataFrame, profiles: DataFrame, cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach both sides' attributes (J3, ``ground_truth.py:323-334``):
    two equi-joins against the profile table, flattened to _A/_B columns.
    A semi-join reduction of the profile table is applied first so only
    records that appear in some pair are shuffled (``dedupe.py:343-345``).

    The pair side is repartitioned to an explicit count first: pair rows
    are bytes-tiny, so AQE would otherwise coalesce them onto a few cores
    — and the downstream feature kernels inherit that parallelism."""
    n_parts = num_partitions or max(
        pairs.sparkSession.sparkContext.defaultParallelism * 2, 8
    )
    pairs = pairs.repartition(n_parts, "id_A")
    ids = (
        pairs.select(F.col("id_A").alias("conv_id"))
        .union(pairs.select("id_B"))
        .distinct()
    )
    prof = profiles.join(ids, "conv_id", "left_semi").select("conv_id", *cols)
    a = prof.select(
        F.col("conv_id").alias("id_A"), *[F.col(c).alias(f"{c}_A") for c in cols]
    )
    b = prof.select(
        F.col("conv_id").alias("id_B"), *[F.col(c).alias(f"{c}_B") for c in cols]
    )
    return pairs.join(a, "id_A").join(b, "id_B")


def build_ground_truth(
    profiles: DataFrame,
    keys: DataFrame,
    neg_ratio: float = NEG_TO_POS_RATIO,
) -> DataFrame:
    """Full GT: validated keys -> positives + stratified negatives + split.

    Returns (id_A, id_B, label, stratum, split).
    """
    valid = validate_keys(keys)
    pos = positive_pairs(valid).cache()
    n_pos = pos.count()
    pk = profiles.join(valid.select("conv_id", "entity_key"), "conv_id")
    neg = negative_pairs(pk, pos, n_pos, neg_ratio)
    return with_split(pos.unionByName(neg))
