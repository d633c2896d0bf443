"""Training-data curation operators: PII scrubbing, repetition /
boilerplate detection, and benchmark decontamination.

These are the data-hygiene passes a large-scale LLM training pipeline
runs alongside dedup (the reference pipeline stops at entity resolution;
these extend the same engine to the corpus-curation jobs it would sit
inside). All three are Catalyst-native — regex/array expressions and
explode+groupBy aggregations, no Python in the hot path — and each is
SQL-portable, so the driver's DuckDB oracle value-checks them end to end
(`pii_scrub`, `doc_repetition`, `decontam_overlap` contract queries).

Scale notes (100 TB):
- ``scrub_pii`` is a pure map — no shuffle, fuses into the scan.
- ``repetition_features`` is one explode + two aggregations keyed on
  (doc_id, token) then doc_id — the same shuffle shape as word count;
  skew is bounded because a single document's tokens always hash to one
  (doc_id, token) group, never a global hot key.
- ``decontaminate`` ships only (doc_id, gram-hash) pairs into the join
  — never document text — and the benchmark side of the join is tiny by
  definition (a benchmark suite, not a corpus), so Spark broadcasts it;
  the corpus side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Patterns are RE2-compatible (no lookarounds/backrefs) so an external
# SQL engine can replay them byte-for-byte. Order matters: SSN-shaped ids
# must be tagged before the looser phone pattern can eat them.
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<ID>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d().-]{7,}\d", "<PHONE>"),
]


def scrub_pii(text_col) -> Column:
    """Redact emails, SSN-shaped ids, IPv4 addresses and phone-shaped
    digit runs with typed placeholder tokens. Pure chained
    ``regexp_replace`` — fuses into whole-stage codegen, zero shuffle."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for pat, tag in PII_PATTERNS:
        c = F.regexp_replace(c, pat, tag)
    return c


def repetition_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``n_tokens``: whitespace token count (lowercased)
    - ``dup_token_frac``: 1 - distinct/total tokens (type-token inverse)
    - ``top_token_frac``: most frequent token's share of the document
    - ``dup_line_frac``: 1 - distinct/total '.'-separated segments

    Documents past thresholds (e.g. top_token_frac > 0.2,
    dup_line_frac > 0.3) are boilerplate/spam candidates. Token stats run
    as explode + two-level aggregation (word-count shuffle shape); the
    segment stat is a per-row array expression (no shuffle)."""
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("_t"),
    )
    toks = base.select(
        "doc_id", F.explode(F.split(F.trim("_t"), r"\s+")).alias("_tok")
    ).filter(F.col("_tok") != "")
    per_tok = toks.groupBy("doc_id", "_tok").agg(F.count("*").alias("_c"))
    tok_stats = per_tok.groupBy("doc_id").agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("_n_distinct"),
        F.max("_c").cast("long").alias("_top"),
    )
    segs = base.select(
        "doc_id",
        F.filter(
            F.transform(F.split("_t", r"\."), lambda s: F.trim(s)),
            lambda s: s != "",
        ).alias("_segs"),
    ).select(
        "doc_id",
        F.size("_segs").alias("_n_segs"),
        F.size(F.array_distinct("_segs")).alias("_n_seg_distinct"),
    )
    return (
        tok_stats.join(segs, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.lit(1.0) - F.col("_n_distinct") / F.col("n_tokens"), 6
            ).alias("dup_token_frac"),
            F.round(F.col("_top") / F.col("n_tokens"), 6).alias("top_token_frac"),
            F.when(
                F.col("_n_segs") > 0,
                F.round(
                    F.lit(1.0) - F.col("_n_seg_distinct") / F.col("_n_segs"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_line_frac"),
        )
    )


_RANK_MAX = float(1 << 60)


def stratified_quota_sample(
    df: DataFrame,
    strata_cols: list[str],
    quota: int,
    id_col: str,
    margin: float = 8.0,
    portable: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-stratum quota sample (domain/language balancing
    for a training mix): the first ``quota`` rows of each stratum in a
    seeded hash order of ``id_col``.

    Scale design: a bare ``row_number() OVER (PARTITION BY stratum)``
    sorts each stratum in ONE task — a 40 TB 'en' stratum is a
    single-machine sort. Instead: (1) per-stratum counts (one agg,
    broadcast back); (2) strata larger than ``quota * margin`` are
    pre-filtered by a hash threshold keeping ~quota*margin expected
    survivors — a pure map that discards ~all of a huge stratum before
    anything shuffles; (3) the exact rank window runs on the bounded
    survivor set. The pre-filter keeps the SMALLEST hash values — the
    same order the rank uses — so the top-quota set is unchanged as long
    as survivors >= quota (margin 8 puts the shortfall probability below
    1e-12 for quota >= 50 by a Chernoff bound; pass margin=None to skip
    the pre-filter and get the exact semantics unconditionally).

    ``portable=True`` ranks by the md5-derived 60-bit hash (SQL-portable:
    the ``strat_sample`` contract query's DuckDB twin replays both stages
    exactly); default ranks by seeded xxhash64 (faster JVM path)."""
    from pyspark.sql import Window

    if portable:
        h = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
        ).cast("long")
    else:
        h = F.pmod(
            F.xxhash64(F.lit(seed), F.col(id_col)), F.lit(1 << 60)
        )
    ranked = df.withColumn("_h", h)
    if margin is not None:
        counts = ranked.groupBy(*strata_cols).agg(F.count("*").alias("_n"))
        ranked = ranked.join(F.broadcast(counts), strata_cols)
        frac = F.least(F.lit(1.0), F.lit(float(quota) * margin) / F.col("_n"))
        ranked = ranked.filter(
            (F.col("_h").cast("double") / F.lit(_RANK_MAX)) < frac
        ).drop("_n")
    w = Window.partitionBy(*strata_cols).orderBy(F.col("_h"), F.col(id_col))
    return (
        ranked.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= quota)
        .drop("_h", "_rank")
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    portable: bool = False,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Sequence packing for training batches: lay documents end-to-end in
    a deterministic hash order and cut the stream every ``budget`` tokens.
    Returns (rid, n_tokens, bin_id, bin_offset): the document starts at
    ``bin_offset`` tokens into bin ``bin_id`` (contiguous greedy fill —
    each bin holds ~budget tokens, a document may straddle a boundary and
    be split/truncated by the consumer, the standard LLM pre-training
    packing layout).

    bin_id = floor(global_cumulative_tokens_before / budget), which needs
    a GLOBAL prefix sum — a bare ``sum() OVER (ORDER BY ...)`` window is a
    single-task sort at corpus scale. Scale-safe two-pass instead (same
    machinery as sorted-neighborhood ranking, ``blocking.py``):
    range-partition by the order key, per-partition token sums -> one
    tiny collect of cumulative offsets (range partitions are ordered, so
    partition offset + local running sum IS the global prefix sum), local
    cumsum attached per partition with ``mapInPandas``. The result
    depends only on the total order, not on where sampled range
    boundaries fall — parallelism-invariant (tested), and the
    portable-hash mode has a DuckDB window-function oracle twin
    (``seq_pack``)."""
    import pandas as pd  # noqa: F401
    from pyspark import TaskContext

    rid = F.col(id_col).cast("string")
    if portable:
        h = F.conv(F.substring(F.md5(rid), 1, 15), 16, 10).cast("long")
    else:
        h = F.pmod(F.xxhash64(F.lit(seed), rid), F.lit(1 << 60))
    base = df.select(
        rid.alias("rid"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        h.alias("_h"),
    )
    n_parts = num_partitions or max(
        df.sparkSession.sparkContext.defaultParallelism, 4
    )
    ordered = (
        base.repartitionByRange(n_parts, "_h", "rid")
        .sortWithinPartitions("_h", "rid")
        .localCheckpoint()
    )
    pid_sums = (
        ordered.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.sum("n_tokens").alias("s"))
        .collect()
    )
    sums = {r.pid: r.s for r in pid_sums}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]

    def attach(batches):
        ctx = TaskContext.get()
        cum = offsets.get(ctx.partitionId() if ctx else 0, 0)
        for pdf in batches:
            out = pdf[["rid", "n_tokens"]].copy()
            ends = pdf["n_tokens"].cumsum()
            out["cum_before"] = cum + ends - pdf["n_tokens"]
            cum += int(ends.iloc[-1]) if len(pdf) else 0
            yield out

    packed = ordered.mapInPandas(
        attach, schema="rid string, n_tokens long, cum_before long"
    )
    return packed.select(
        "rid",
        "n_tokens",
        F.floor(F.col("cum_before") / F.lit(budget)).cast("long").alias("bin_id"),
        F.pmod(F.col("cum_before"), F.lit(budget)).alias("bin_offset"),
    )


def _grams(text_col, n: int) -> Column:
    """Distinct lowercase whitespace-token n-grams (struct-access zip
    pattern from dedup.word_ngrams — no per-element slice lambdas)."""
    t = F.lower(F.coalesce(text_col, F.lit("")))
    toks = F.filter(F.split(F.trim(t), r"\s+"), lambda s: s != "")
    size = F.size(toks)
    shifted = [F.slice(toks, i + 1, F.greatest(size - i, F.lit(0))) for i in range(n)]
    grams = F.transform(
        F.arrays_zip(*shifted), lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )
    cnt = F.greatest(size - (n - 1), F.lit(0))
    return F.array_distinct(F.slice(grams, 1, cnt))


def frequent_ngrams(
    docs: DataFrame,
    ngram: int = 3,
    k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` token n-grams by document frequency — template/boilerplate
    mining (the grams that dominate a crawl are navigation chrome, cookie
    banners, licence headers; feeding them to ``decontaminate``-style
    removal or to ``repetition_features`` thresholds is the standard
    cleanup loop). Returns (gram, n_docs) in (n_docs desc, gram asc)
    order — a total order, so the top-k set is deterministic in the
    presence of ties.

    Scale shape: per-doc DISTINCT grams explode to (gram) rows, then a
    word-count aggregation (map-side partial combine; no hot key beyond
    the natural gram skew the combiner absorbs) and a bounded top-k
    (TakeOrdered ships k rows per partition). Nothing materializes the
    full gram vocabulary on the driver."""
    g = docs.select(F.explode(_grams(F.col(text_col), ngram)).alias("gram"))
    counts = g.groupBy("gram").agg(F.count("*").cast("long").alias("n_docs"))
    return counts.orderBy(F.col("n_docs").desc(), F.col("gram")).limit(k)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    ngram: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination scan: flag corpus documents sharing any
    token ``ngram``-gram with any benchmark document. Returns
    (doc_id, n_shared_grams) for flagged documents only.

    Plan: explode distinct grams on both sides, distinct the (small)
    benchmark gram set, inner-join (Spark broadcasts it — a benchmark is
    KBs-MBs of grams vs a 100 TB corpus), count shared grams per corpus
    doc. Only (doc_id, gram) pairs move; never text."""
    cg = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_grams(F.col(text_col), ngram)).alias("gram"),
    )
    bg = (
        benchmark.select(F.explode(_grams(F.col(text_col), ngram)).alias("gram"))
        .distinct()
    )
    return (
        cg.join(F.broadcast(bg), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared_grams"))
    )


def keep_best_per_cluster(
    docs: DataFrame,
    dup_pairs: DataFrame,
    order_cols: list,
    id_col: str = "doc_id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Keep ONE representative per duplicate cluster: connected components
    over the near-dup pair graph (large-star/small-star,
    :func:`~record_linkage_spark.operators.clustering.assign_entities`),
    then the argmin of ``(order_cols..., id_col)`` within each component.

    This is the keep-a-representative policy, as opposed to a
    single-pass drop-list of each pair's later doc: in a non-transitive
    chain (a~b, b~c, a!~c) the drop-list policy removes both b and c,
    while this one keeps exactly one doc per component — e.g. the highest-quality one
    (pass ``[F.col("q_score").desc()]``). Docs in no pair are their own
    singleton component and always survive.

    Output: the surviving docs' rows plus ``entity_id`` (the component
    label) and ``n_cluster`` (component size) for lineage/reporting.

    Scale: the component labelling is the same iterative CC used for
    entity clustering (edge-set-sized shuffles, payload never enters the
    loop); the representative pick is one window keyed on ``entity_id`` —
    near-dup components are small by construction (they are duplicate
    sets, and the pair generators cap posting/bucket sizes upstream), so
    no partition-sized component exists to skew the window. The docs
    payload shuffles exactly once (on ``entity_id``)."""
    from pyspark.sql import Window

    from record_linkage_spark.operators.clustering import assign_entities

    edges = dup_pairs.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    comps = assign_entities(
        docs.select(F.col(id_col)), edges, id_col=id_col
    ).withColumnRenamed("conv_id", id_col)
    joined = docs.join(comps, id_col)
    w = Window.partitionBy("entity_id")
    wo = w.orderBy(*order_cols, F.col(id_col))
    return (
        joined.withColumn("_rk", F.row_number().over(wo))
        .withColumn("n_cluster", F.count("*").over(w).cast("bigint"))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def token_budget_sample(
    df: DataFrame,
    strata_cols: list[str],
    budget_tokens: int,
    id_col: str,
    token_col: str,
    margin: float = 4.0,
    portable: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum TOKEN-budget prefix in seeded hash order — the
    training-mix knob that actually matters for LLM data (mixes are
    specified in tokens per source/language, not rows): within each
    stratum, a doc survives iff the cumulative ``token_col`` of
    strictly-earlier docs (hash order, ``id_col`` tiebreak) is below
    ``budget_tokens``. The kept set is therefore the minimal hash-prefix
    reaching the budget; overshoot is bounded by one document.

    Scale design mirrors :func:`stratified_quota_sample` — a bare
    ``sum() OVER (PARTITION BY stratum ORDER BY ...)`` would sort a 40 TB
    'en' stratum in one task. Instead: (1) one per-stratum token-total
    agg, broadcast back; (2) strata holding more than ``margin x budget``
    tokens are pre-filtered by a hash threshold keeping ~``margin x
    budget`` EXPECTED tokens — a pure map discards ~all of a huge stratum
    before anything shuffles; (3) the exact cumulative window runs on the
    bounded survivors. The pre-filter keeps the smallest hashes — the
    same order the cumsum walks — so the kept prefix is unchanged as long
    as survivor tokens >= budget (asserted against the exact one-stage
    result in tests; pass ``margin=None`` for the unconditional one-stage
    semantics). Adds ``cum_before`` (tokens ahead of this doc in its
    stratum) for packing/lineage.

    ``portable=True`` ranks by the md5-derived 60-bit hash (the
    ``token_budget`` contract query's DuckDB twin replays both stages);
    default is seeded xxhash64."""
    from pyspark.sql import Window

    if portable:
        h = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
        ).cast("long")
    else:
        h = F.pmod(F.xxhash64(F.lit(seed), F.col(id_col)), F.lit(1 << 60))
    toks = F.coalesce(F.col(token_col).cast("bigint"), F.lit(0))
    ranked = df.withColumn("_h", h).withColumn("_t", toks)
    if margin is not None:
        totals = ranked.groupBy(*strata_cols).agg(F.sum("_t").alias("_tot"))
        ranked = ranked.join(F.broadcast(totals), strata_cols)
        frac = F.least(
            F.lit(1.0), F.lit(float(budget_tokens) * margin) / F.col("_tot")
        )
        ranked = ranked.filter(
            (F.col("_h").cast("double") / F.lit(_RANK_MAX)) < frac
        ).drop("_tot")
    w = (
        Window.partitionBy(*strata_cols)
        .orderBy(F.col("_h"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranked.withColumn(
            "cum_before", F.coalesce(F.sum("_t").over(w), F.lit(0)).cast("bigint")
        )
        .filter(F.col("cum_before") < budget_tokens)
        .drop("_h", "_t")
    )
