"""Blocking: candidate-pair generation and pair-level filtering.

The reference defines two cascade strategies (``src/blocking/generate.py``):
  B1: year equal ∧ manufacturer[:3] equal ∧ JW(manufacturer) >= 0.95
  B2: B1 ∧ model[:3] equal ∧ JW(model) >= 0.85 ∧ fuel exact

Transcript analogues (profile columns from rollup):
  B1: text_len_bucket equal ∧ first_text_norm[:3] equal
      ∧ JW(first_text_norm) >= 0.95
  B2: B1 ∧ last_text_norm[:3] equal ∧ JW(last_text_norm) >= 0.85
      ∧ primary_tool exact

Each strategy is defined once, in ``STRATEGIES`` (key-equality legs,
JW legs, exact legs) over the key expressions of ``_KEY_EXPRS``, each
written once over a column suffix. Every blocking form — the two below,
the stream increment (``incremental_link``) and the compare overlay
(``plans/compare``) — is built from three helpers: :func:`block_records`
(the keyed records a join pairs), :func:`key_legs` (key equality over a
pair table) and :func:`verify_legs` (JW-then-exact legs over a pair
table).

Two forms, as in the reference (``SURVEY.md §3 E2``):
  * **filter form** — predicate over a labeled pair table (evaluation path,
    ``generate.py:99-106`` — but as one vectorized projection, not
    ``df.apply`` per row)
  * **generator form** — the production blocking join: the *equality* part
    of the cascade becomes the shuffle key of a salted hash self-join
    (skew-aware: per-key counts pick a salt fan-out; side A keeps one salt,
    side B is exploded to all salts, so every cross pair survives exactly
    once), and the JW part runs as an Arrow-batched post-filter only on
    within-block pairs. Cheap predicates first — the JW kernel never sees a
    pair that failed an equality check.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from record_linkage_spark.config import (
    JW_BLOCK_THRESHOLD_PRIMARY,
    JW_BLOCK_THRESHOLD_SECONDARY,
    RANDOM_SEED,
    SALT_TARGET_BLOCK,
)
from record_linkage_spark.functions.similarity import jaro_winkler_pairs
from record_linkage_spark.operators.skew import salting_plan

# block-key expressions, each written once over a column suffix: ""
# reads a profile table, "_A"/"_B" one side of a hydrated pair table.
# Builders, not Columns: building a Column requires an active
# SparkSession, so nothing is materialized at import time
_KEY_EXPRS = {
    "text_len_bucket": lambda s: F.col(f"text_len_bucket{s}").cast("string"),
    "first3": lambda s: F.substring(f"first_text_norm{s}", 1, 3),
    "last3": lambda s: F.substring(f"last_text_norm{s}", 1, 3),
    # phonetic key: American Soundex of the first token — classic RL
    # blocking that survives misspellings sharing the leading sound
    # (smith/smyth -> S530) where the first3 prefix key splits them
    "snd1": lambda s: F.soundex(
        F.regexp_extract(f"first_text_norm{s}", r"^\S+", 0)
    ),
}

# joins the key values of a record into its block_key
_KEY_SEP = "\x01"

# (block-equality key names, [(jw_col, threshold)], [exact extra cols])
STRATEGIES = {
    "B1": {
        "equality": ["text_len_bucket", "first3"],
        "jw": [("first_text_norm", JW_BLOCK_THRESHOLD_PRIMARY)],
        "exact": [],
    },
    "B2": {
        "equality": ["text_len_bucket", "first3", "last3"],
        "jw": [
            ("first_text_norm", JW_BLOCK_THRESHOLD_PRIMARY),
            ("last_text_norm", JW_BLOCK_THRESHOLD_SECONDARY),
        ],
        "exact": ["primary_tool"],
    },
    # P1: phonetic variant of B1 — same length bucket and JW verify,
    # but the string key is the Soundex of the first token, so typo'd
    # duplicates whose first words SOUND alike still share a block
    "P1": {
        "equality": ["text_len_bucket", "snd1"],
        "jw": [("first_text_norm", JW_BLOCK_THRESHOLD_PRIMARY)],
        "exact": [],
    },
}


def block_records(
    profiles: DataFrame, strategy: str
) -> tuple[DataFrame, list[str], list[str]]:
    """Block records of a profile table: ``(conv_id, *keys, *payload)``
    rows, one per profile whose block keys are all non-null, plus the
    key and payload column names. The payload is what the verify legs
    read (:func:`verify_legs`, over ``_A``/``_B`` copies); a join on the
    keys pairs records that share a block."""
    spec = STRATEGIES[strategy]
    keys = list(spec["equality"])
    payload = sorted({c for c, _ in spec["jw"]} | set(spec["exact"]))
    recs = profiles.select(
        F.col("conv_id"), *[_KEY_EXPRS[k]("").alias(k) for k in keys], *payload
    )
    for k in keys:
        recs = recs.filter(F.col(k).isNotNull())
    return recs, keys, payload


def key_legs(strategy: str) -> list[Column]:
    """Block-key equality legs over a hydrated (``_A``/``_B``) pair
    table: the filter-form twin of the join on :func:`block_records`
    keys."""
    legs = []
    for name in STRATEGIES[strategy]["equality"]:
        a, b = _KEY_EXPRS[name]("_A"), _KEY_EXPRS[name]("_B")
        legs.append(a.isNotNull() & a.eqNullSafe(b))
    return legs


def verify_legs(
    strategy: str, jw_cols: dict[str, Column] | None = None
) -> list[Column]:
    """The cascade's verify legs over ``_A``/``_B`` columns, JW legs then
    exact legs. Apply them after the key legs (or the key join), so the
    Arrow JW kernel only sees pairs that passed every equality check.
    ``jw_cols`` maps a JW column name to a precomputed JW score Column
    to compare instead of calling the kernel again."""
    spec = STRATEGIES[strategy]
    jw_cols = jw_cols or {}
    legs = [
        (
            jw_cols[c]
            if c in jw_cols
            else jaro_winkler_pairs(F.col(f"{c}_A"), F.col(f"{c}_B"))
        )
        >= F.lit(thr)
        for c, thr in spec["jw"]
    ]
    legs += [
        F.col(f"{c}_A").isNotNull() & (F.col(f"{c}_A") == F.col(f"{c}_B"))
        for c in spec["exact"]
    ]
    return legs


def candidate_pairs(
    profiles: DataFrame,
    strategy: str = "B1",
    salt_target: int = SALT_TARGET_BLOCK,
) -> DataFrame:
    """Generator form: all profile pairs passing the strategy's cascade.

    Returns (id_A, id_B, block_key). Equality keys drive a salted hash
    self-join; JW + exact legs filter the joined pairs (Arrow kernel runs
    only on within-block pairs — `.explain` shows ArrowEvalPython above
    the join, never below).

    NOTE: `profiles` appears three times in the plan (both join sides +
    the size aggregation). Feed a *materialized* table (checkpoint /
    parquet stage, as the pipeline does) so the rollup isn't recomputed
    per branch.

    ``strategy`` names a :data:`STRATEGIES` cascade; any other name
    raises ``KeyError``. Vector-similarity blocking has the same output
    contract but its own entry point, ``ann_blocking.ann_candidate_pairs``.
    """
    recs, key_names, payload_cols = block_records(profiles, strategy)

    # per-key sizes -> planner-driven salt fan-out: the skew planner's
    # proportional rule ceil(share * n_partitions) (operators/skew.py —
    # the same rule skew_report recommends) combined with the pair
    # generator's quadratic-work budget ceil(n / salt_target). One code
    # path sizes every salted self-join; exactly-once pair semantics are
    # salt-invariant (left takes one salt, right explodes all g).
    n_parts = max(profiles.sparkSession.sparkContext.defaultParallelism * 2, 8)
    sizes = recs.groupBy(*key_names).agg(F.count("*").alias("_n"))
    plan = salting_plan(
        sizes, n_partitions=n_parts, count_col="_n", salt_target=salt_target
    ).withColumnRenamed("salt", "_g")
    recs = recs.join(F.broadcast(plan), key_names)
    g = F.col("_g")

    left = recs.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(F.lit(RANDOM_SEED), F.lit("salt"), F.col("conv_id")), g
        ).cast("int"),
    )
    # explode must be a top-level select expression (generators can't nest
    # inside casts/arithmetic)
    right = recs.withColumn("_salts", F.sequence(F.lit(0), g - F.lit(1))).withColumn(
        "_salt", F.explode("_salts")
    ).drop("_salts")

    join_cols = key_names + ["_salt"]
    a = left.select(
        *[F.col(c) for c in join_cols],
        F.col("conv_id").alias("id_A"),
        *[F.col(c).alias(f"{c}_A") for c in payload_cols],
    )
    b = right.select(
        *[F.col(c) for c in join_cols],
        F.col("conv_id").alias("id_B"),
        *[F.col(c).alias(f"{c}_B") for c in payload_cols],
    )
    # explicit-N repartition on the join keys: the join reuses this exact
    # partitioning (no extra exchange) and the JW post-filter runs fused
    # in those N partitions. Without it AQE sizes the exchange by the
    # join *input* bytes — blind to the pair blow-up the join produces —
    # and the Arrow kernel ends up on a handful of cores.
    a = a.repartition(n_parts, *join_cols)
    b = b.repartition(n_parts, *join_cols)
    pairs = a.join(b, join_cols).filter(F.col("id_A") < F.col("id_B"))
    for leg in verify_legs(strategy):
        pairs = pairs.filter(leg)

    return pairs.select(
        "id_A",
        "id_B",
        F.concat_ws(_KEY_SEP, *key_names).alias("block_key"),
        F.lit(strategy).alias("strategy"),
    )


def apply_blocking_filter(
    hydrated_pairs: DataFrame, strategy: str, keys_only: bool = False
) -> DataFrame:
    """Filter form over a hydrated (_A/_B) labeled pair table.

    keys_only=True stops after the block-KEY equality legs (no JW/exact
    cascade filters) — the \"labeled pairs at the same blocking key\"
    domain, where hard negatives survive for ranking-quality metrics.
    An unknown strategy raises ``KeyError``, as in :func:`candidate_pairs`."""
    legs = key_legs(strategy)
    if not keys_only:
        legs += verify_legs(strategy)
    pairs = hydrated_pairs
    for leg in legs:
        pairs = pairs.filter(leg)
    return pairs


def blocking_metrics(
    labeled_pairs: DataFrame, candidates: DataFrame, strategy: str
) -> dict:
    """Blocking recall + reduction ratio (A5, ``generate.py:109-127``) in a
    single conditional-aggregate pass."""
    cand = candidates.select("id_A", "id_B").withColumn("_cand", F.lit(1))
    j = labeled_pairs.join(cand, ["id_A", "id_B"], "left")
    row = j.agg(
        F.sum("label").alias("pos"),
        F.sum(F.when((F.col("label") == 1) & (F.col("_cand") == 1), 1).otherwise(0)).alias(
            "pos_kept"
        ),
        F.count("*").alias("n_pairs"),
        F.sum(F.coalesce("_cand", F.lit(0))).alias("n_kept"),
    ).first()
    pos = row.pos or 0
    return {
        "strategy": strategy,
        "positives_in_test": int(pos),
        "positives_captured": int(row.pos_kept or 0),
        "blocking_recall": (row.pos_kept / pos) if pos else None,
        "n_test_pairs": int(row.n_pairs),
        "n_candidates": int(row.n_kept or 0),
        "reduction_ratio_vs_test": 1.0 - (row.n_kept or 0) / row.n_pairs
        if row.n_pairs
        else None,
        "seed": RANDOM_SEED,
    }


def sorted_neighborhood_pairs(
    profiles: DataFrame,
    key_expr: Column | str = "token_prefix",
    window: int = 5,
    id_col: str = "conv_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (the north_star's second key family
    beside equality blocks): records are totally ordered by
    (sort key, id) and every pair within ``window`` positions becomes a
    candidate — catching near-miss keys that equality blocking splits.

    Scale-safe global ranking without a single-partition window:
      1. range-partition + sort by (key, id), materialized so every
         downstream job sees the same partition boundaries;
      2. per-partition counts -> cumulative offsets (one tiny collect —
         range partitions are ordered, so offset(pid) + local index IS
         the global rank; ranks depend only on the total order, not on
         where sampled boundaries fall, so output is
         parallelism-invariant);
      3. local indexes attached per partition with ``mapInPandas``;
      4. neighbor pairs via a bucket join: bucket = rank // window; a
         pair at distance <= window lands in the same or adjacent
         bucket, so the left side explodes to [b, b+1] and the exact
         distance filter runs on the joined rows.

    Returns (id_A, id_B, rank_A, rank_B) with rank_A < rank_B.
    """
    import pandas as pd
    from pyspark import TaskContext

    key = F.col(key_expr) if isinstance(key_expr, str) else key_expr
    base = profiles.select(
        F.col(id_col).alias("rid"), key.cast("string").alias("k")
    ).filter(F.col("k").isNotNull() & (F.col("k") != ""))

    n_parts = num_partitions or max(
        profiles.sparkSession.sparkContext.defaultParallelism, 4
    )
    ranked_src = (
        base.repartitionByRange(n_parts, "k", "rid")
        .sortWithinPartitions("k", "rid")
        .localCheckpoint()
    )

    pid_counts = (
        ranked_src.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = {r.pid: r["count"] for r in pid_counts}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    def attach(batches):
        ctx = TaskContext.get()
        off = offsets.get(ctx.partitionId() if ctx else 0, 0)
        seen = 0
        for pdf in batches:
            out = pdf.copy()
            out["rank"] = range(off + seen, off + seen + len(pdf))
            seen += len(pdf)
            yield out

    ranked = ranked_src.mapInPandas(attach, schema="rid string, k string, rank long")

    left = ranked.select(
        F.col("rid").alias("id_A"),
        F.col("rank").alias("rank_A"),
        F.explode(
            F.array(
                (F.col("rank") / window).cast("long"),
                (F.col("rank") / window).cast("long") + 1,
            )
        ).alias("bucket"),
    )
    right = ranked.select(
        F.col("rid").alias("id_B"),
        F.col("rank").alias("rank_B"),
        (F.col("rank") / window).cast("long").alias("bucket"),
    )
    return (
        left.join(right, "bucket")
        .filter(
            (F.col("rank_B") > F.col("rank_A"))
            & (F.col("rank_B") - F.col("rank_A") <= window)
        )
        .select("id_A", "id_B", "rank_A", "rank_B")
    )


def meta_block_prune(
    records: DataFrame,
    keys: dict[str, Column],
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_block: int = 50,
    top_k: int | None = None,
) -> DataFrame:
    """Meta-blocking over a DISJUNCTIVE key scheme: weight each candidate
    pair by how many independent block keys it co-occurs under, then keep
    only pairs with enough corroborating evidence (weight >= min_shared)
    — the common-blocks weighting + weight-edge-pruning scheme of
    Papadakis et al. (TKDE 2014). Redundant cheap keys raise recall;
    the weight threshold claws back precision without ever scoring text.

    Scale shape: records explode to (key_name, key_value, id) postings
    (one row per non-empty key — never a cross product); oversized
    buckets are purged BEFORE pairing (``max_block``, the block-purging
    step — a stop-key bucket contributes no discriminating evidence but
    quadratic pairs), so the self-join is bounded per bucket; pair
    weights reduce with map-side combine on (id_A, id_B). Optional
    ``top_k`` applies node-centric cardinality pruning: each edge
    survives if it ranks in the top-k of EITHER endpoint (rank by
    weight desc, neighbor id asc — deterministic), computed on the
    already-thresholded edge set, never the full pair graph.

    Returns (id_A, id_B, weight) with id_A < id_B.
    """
    posting_structs = F.array(
        *[
            F.struct(
                F.lit(name).alias("kname"),
                expr.cast("string").alias("kval"),
            )
            for name, expr in keys.items()
        ]
    )
    postings = (
        records.select(F.col(id_col).alias("_id"), F.explode(posting_structs).alias("kv"))
        .select("_id", "kv.kname", "kv.kval")
        .where(F.col("kval").isNotNull() & (F.col("kval") != ""))
    )
    # block purging: a bucket bigger than max_block is a stop key.
    # Computed as an aggregate + semi-join (not a window): the counts
    # side carries only (kname, kval), tiny after the size filter
    small_blocks = (
        postings.groupBy("kname", "kval")
        .agg(F.count(F.lit(1)).alias("n_in_block"))
        .where(F.col("n_in_block") <= max_block)
        .select("kname", "kval")
    )
    kept = postings.join(small_blocks, ["kname", "kval"], "left_semi")
    # explicit-N repartition on the block key: the per-block cap bounds
    # each key's pair fan-out but not the total join output, and AQE
    # sizes this exchange by the tiny postings input — blind to the
    # blow-up (same defense as the LSH band joins)
    n_parts = max(
        records.sparkSession.sparkContext.defaultParallelism * 2, 8
    )
    a = kept.select("kname", "kval", F.col("_id").alias("id_A")).repartition(
        n_parts, "kname", "kval"
    )
    b = kept.select("kname", "kval", F.col("_id").alias("id_B")).repartition(
        n_parts, "kname", "kval"
    )
    weighted = (
        a.join(b, ["kname", "kval"])
        .where(F.col("id_A") < F.col("id_B"))
        .groupBy("id_A", "id_B")
        .agg(F.count(F.lit(1)).cast("int").alias("weight"))
        .where(F.col("weight") >= min_shared)
    )
    if top_k is None:
        return weighted

    from pyspark.sql.window import Window

    # node-centric cardinality pruning on the thresholded edges: both
    # orientations rank per node; an edge survives in either top-k
    both = weighted.select(
        F.col("id_A").alias("node"), F.col("id_B").alias("nbr"), "weight"
    ).unionByName(
        weighted.select(
            F.col("id_B").alias("node"), F.col("id_A").alias("nbr"), "weight"
        )
    )
    ranked = both.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("node").orderBy(F.desc("weight"), F.asc("nbr"))
        ),
    ).where(F.col("rk") <= top_k)
    survivors = ranked.select(
        F.least("node", "nbr").alias("id_A"),
        F.greatest("node", "nbr").alias("id_B"),
    ).distinct()
    return weighted.join(survivors, ["id_A", "id_B"], "left_semi")


def canopies(
    cheap_pairs: DataFrame,
    tight: float,
    loose: float,
    seed: int = 42,
    id_a: str = "id_A",
    id_b: str = "id_B",
    score_col: str = "score",
) -> DataFrame:
    """Canopy blocking (McCallum, Nigam & Ungar, KDD 2000): overlapping
    blocks from a CHEAP similarity, so the expensive pairwise scorer only
    runs inside canopies. Sequential definition: repeatedly pick a seed
    from the remaining list, its canopy is every listed point within the
    ``loose`` threshold, and points within ``tight`` leave the list —
    loose-but-not-tight points stay listed and can join MORE canopies
    (the overlap is what preserves recall vs disjoint blocking).

    Distributed derivation (no sequential scan): because only tight
    matches remove points from the list, the seed competition is exactly
    pivot clustering on the TIGHT graph — a point's canopy-remover is its
    :func:`~record_linkage_spark.operators.clustering.correlation_clustering`
    pivot (its first tight claimer in hash-permutation order), and points
    without tight claimers seed themselves. Loose membership then falls
    out non-iteratively: p joined seed q's canopy iff q is a seed,
    loose(p, q), and q's turn came no later than p's removal — i.e.
    rank(q) <= rank(tight_claimer(p)). One pivot clustering on the
    (usually much sparser) tight edges + one join on the loose edges;
    equality with the sequential scan is asserted in tests.

    cheap_pairs: (id_a, id_b, score_col) with HIGHER score = more
    similar (e.g. shared-token Jaccard); tight >= loose. Returns
    (conv_id, canopy_id) membership rows — a record appears once per
    canopy it belongs to; every record in the pair graph is covered.
    Isolated records (no pair at the loose threshold) are each their own
    canopy; include them by unioning a self-row per missing id, as
    :func:`~record_linkage_spark.operators.clustering.assign_entities`
    does for singletons.
    """
    if tight < loose:
        raise ValueError(f"tight ({tight}) must be >= loose ({loose})")
    from record_linkage_spark.operators.clustering import correlation_clustering

    p = cheap_pairs.select(
        F.col(id_a).alias("a"), F.col(id_b).alias("b"), F.col(score_col).alias("s")
    ).filter(F.col("a") != F.col("b"))
    loose_e = p.filter(F.col("s") >= loose).select("a", "b").distinct()
    tight_e = p.filter(F.col("s") >= tight)

    # first tight claimer per node (pivot clustering on the tight graph);
    # nodes with no tight edge claim themselves when their turn comes
    claimed = correlation_clustering(
        tight_e, seed=seed, src_col="a", dst_col="b"
    ).select(F.col("conv_id").alias("node"), F.col("entity_id").alias("claimer"))
    nodes = (
        loose_e.select(F.col("a").alias("node"))
        .union(loose_e.select(F.col("b").alias("node")))
        .distinct()
    )
    claim = (
        nodes.join(claimed, "node", "left")
        .select("node", F.coalesce("claimer", "node").alias("claimer"))
        .localCheckpoint()
    )

    def rank(col: str):
        return F.struct(
            F.xxhash64(F.lit(seed), F.col(col)).alias("h"), F.col(col).alias("i")
        )

    seeds = claim.filter(F.col("node") == F.col("claimer")).select(
        F.col("node").alias("seed")
    )
    # membership via removal: p is in its claimer's canopy (tight subset
    # of loose, and the claimer removes p at its own turn)
    base = claim.select(
        F.col("node").alias("conv_id"), F.col("claimer").alias("canopy_id")
    )
    # membership via loose adjacency to an earlier-or-equal-rank seed
    sym = loose_e.union(
        loose_e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    loose_members = (
        sym.join(seeds, sym["b"] == seeds["seed"])
        .join(claim, sym["a"] == claim["node"])
        .filter(rank("b") < rank("claimer"))
        .select(F.col("a").alias("conv_id"), F.col("b").alias("canopy_id"))
    )
    return base.unionByName(loose_members).distinct()


def canopy_candidate_pairs(membership: DataFrame) -> DataFrame:
    """Candidate pairs from canopy membership: every unordered record
    pair sharing at least one canopy, deduped across canopies. The
    equality self-join on canopy_id is the standard blocked shape;
    canopy sizes are bounded by the loose threshold's selectivity."""
    left = membership.select(F.col("conv_id").alias("id_A"), "canopy_id")
    right = membership.select(F.col("conv_id").alias("id_B"), "canopy_id")
    return (
        left.join(right, "canopy_id")
        .where(F.col("id_A") < F.col("id_B"))
        .select("id_A", "id_B")
        .distinct()
    )
