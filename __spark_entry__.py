"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (plus the training-data-pipeline extras), running against the
driver-provided parquet tables; ``oracle_sql()`` gives the DuckDB twin for
every SQL-expressible operator. Record-linkage stages that hinge on
``xxhash64``/Arrow kernels (MinHash, SimHash, LSH, the transcript pipeline
itself) have no portable SQL twin and are registered as rows-only checks.

Column names are aliased identically on both sides; floats are rounded on
both sides; counts/sums are cast to BIGINT/DOUBLE on both sides so the
order-insensitive value hash is type-stable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# P: projections / filters / per-row transforms
# --------------------------------------------------------------------------

def q_p1_missing_pct(spark, sf):
    """P1/A1: one-pass per-column NULL fraction (process_raw.py:50-59)."""
    d = _t(spark, sf, "documents")
    return d.agg(
        F.round(F.avg(F.col("text").isNull().cast("double")), 6).alias("null_text"),
        F.round(F.avg(F.col("lang").isNull().cast("double")), 6).alias("null_lang"),
        F.round(F.avg(F.col("source").isNull().cast("double")), 6).alias("null_source"),
    )


def q_p8_norm_text(spark, sf):
    """P8: text normalization chain (mediated_schema.py:80-102)."""
    from record_linkage_spark.functions.text import norm_text

    d = _t(spark, sf, "documents")
    return d.select("doc_id", norm_text(F.col("text")).alias("norm"))


def q_p12_numeric_norm(spark, sf):
    """P12/F9: numeric re-canonicalization str(int(floor(x)))."""
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_quantity").cast("int").cast("string").alias("qty_norm"),
    )


def q_p14_prefix_key(spark, sf):
    """P14: first-3-chars blocking key + block sizes (generate.py:53-54)."""
    from record_linkage_spark.functions.text import prefix_key

    c = _t(spark, sf, "customer")
    return (
        c.select(prefix_key("c_name", 3).alias("pfx"))
        .groupBy("pfx")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def q_p16_regex_filter(spark, sf):
    """P16/P17/F7: regex format filter (ground_truth.py:191-196)."""
    p = _t(spark, sf, "part")
    # placeholder leg kept RE2-compatible (no backreferences) so the same
    # pattern runs on both engines; the engine's own key validation uses a
    # backreference placeholder regex (Java regex supports it) — see
    # ground_truth.KEY_PLACEHOLDER_RE, covered by tests instead
    return p.filter(F.col("p_name").rlike("^[a-z]+ [a-z]+")).filter(
        ~F.col("p_name").rlike("(aaaa|zzzz|test)")
    ).select("p_partkey", "p_name")


def q_p18_checksum(spark, sf):
    """P18/F11: weighted mod-10 checksum over key digits as column math."""
    d = _t(spark, sf, "documents")
    digits = F.lpad(F.col("doc_id").cast("string"), 8, "0")
    weights = [7, 3, 1, 7, 3, 1, 7, 3]
    total = F.lit(0)
    for i, w in enumerate(weights):
        total = total + F.substring(digits, i + 1, 1).cast("int") * F.lit(w)
    return d.select(
        "doc_id", F.pmod(total, F.lit(10)).cast("int").alias("check_digit")
    )


def q_m9_top_idf_tokens(spark, sf):
    """M9/W6: TF-IDF summarizer — per-doc top-k highest-idf tokens."""
    from record_linkage_spark.operators.text_analysis import top_idf_tokens

    d = _t(spark, sf, "documents")
    out = top_idf_tokens(d, k=5)
    return out.select("doc_id", F.concat_ws(" ", "top_tokens").alias("top_tokens"))


# --------------------------------------------------------------------------
# J: joins
# --------------------------------------------------------------------------

def q_j1_selfjoin_key(spark, sf):
    """J1: equi self-join on exact key, id_A < id_B (ground_truth.py:303-309)."""
    c = _t(spark, sf, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    a = c.select(
        F.col("c_custkey").alias("id_A"), "c_nationkey", "c_mktsegment"
    )
    b = c.select(
        F.col("c_custkey").alias("id_B"), "c_nationkey", "c_mktsegment"
    )
    return (
        a.join(b, ["c_nationkey", "c_mktsegment"])
        .filter(F.col("id_A") < F.col("id_B"))
        .select("id_A", "id_B", "c_nationkey", "c_mktsegment")
    )


def q_j2_capped_pairs(spark, sf):
    """J2: blocked self-join with deterministic per-block pair cap
    (ground_truth.py:225-263; portable row_number cap)."""
    pairs = q_j1_selfjoin_key(spark, sf)
    w = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("id_A", "id_B")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("id_A", "id_B", "c_nationkey", "c_mktsegment")
    )


def q_j3_hydrate_pairs(spark, sf):
    """J3: pair hydration — attach both sides' attributes by two equi-joins
    (ground_truth.py:323-334)."""
    pairs = q_j2_capped_pairs(spark, sf).select("id_A", "id_B")
    c = _t(spark, sf, "customer")
    a = c.select(
        F.col("c_custkey").alias("id_A"),
        F.col("c_name").alias("name_A"),
        F.col("c_acctbal").alias("bal_A"),
    )
    b = c.select(
        F.col("c_custkey").alias("id_B"),
        F.col("c_name").alias("name_B"),
        F.col("c_acctbal").alias("bal_B"),
    )
    return pairs.join(a, "id_A").join(b, "id_B").select(
        "id_A", "id_B", "name_A", "name_B",
        F.round("bal_A", 2).alias("bal_A"), F.round("bal_B", 2).alias("bal_B"),
    )


def q_j4_overlay_default(spark, sf):
    """J4: left join + coalesce(pred, 0) global overlay (compare.py:27-55)."""
    o = _t(spark, sf, "orders")
    gt = o.select("o_orderkey", (F.col("o_orderstatus") == "F").cast("int").alias("label"))
    cand = o.filter(F.col("o_totalprice") > 150000).select(
        "o_orderkey", F.lit(1).alias("cand_pred")
    )
    j = gt.join(cand, "o_orderkey", "left").withColumn(
        "pred", F.coalesce("cand_pred", F.lit(0))
    )
    return j.groupBy("label", "pred").agg(F.count("*").cast("bigint").alias("n"))


def q_j5_semi_anti(spark, sf):
    """J5: membership semi-join + complement anti-join
    (logistic_regression.py:188-198)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    with_orders = c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi"
    )
    without = c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    )
    return with_orders.agg(
        F.count("*").cast("bigint").alias("n_with")
    ).crossJoin(without.agg(F.count("*").cast("bigint").alias("n_without")))


# --------------------------------------------------------------------------
# A: aggregations
# --------------------------------------------------------------------------

def q_a2_rollup_sequence(spark, sf):
    """A2/W1: per-user event rollup with stable ordering — the conversation
    rollup pattern (sort_array(collect_list(struct(...))))."""
    e = _t(spark, sf, "events")
    seq = F.concat_ws(
        ",",
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda x: x["event_type"],
        ),
    )
    return e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"), seq.alias("type_seq")
    )


def q_event_hourly(spark, sf):
    """Tumbling-window event rollup — the batch twin of the streaming
    windowed aggregation (`streaming/incremental.py` uses the identical
    ``F.window`` expression under a watermark; Spark's 1-hour epoch-aligned
    tumbling window == ANSI date_trunc('hour'), which is how DuckDB
    value-checks it)."""
    e = _t(spark, sf, "events").filter(F.col("ts").isNotNull())
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def q_event_sessions(spark, sf):
    """Gap-based sessionization: ``session_window(ts, 30 min)`` per user —
    the stateful-streaming session operator run on the batch API (same
    expression works under ``readStream``). DuckDB replays it as the
    classic gaps-and-islands window query (new session when the gap from
    the previous event exceeds 30 min), which must reproduce every
    session's start, size and value sum exactly."""
    e = _t(spark, sf, "events").filter(F.col("ts").isNotNull())
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def q_a4_group_count(spark, sf):
    """A4: label distribution (value_counts)."""
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n"))


def q_a5_summary_stats(spark, sf):
    """A5: TPC-H-Q1-style summary aggregates (generate.py:109-127 analogue)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").cast("bigint").alias("n_rows"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        )
    )


def q_a6_confusion(spark, sf):
    """A6: one-pass confusion counts via conditional aggregates
    (compare.py:58-76)."""
    li = _t(spark, sf, "lineitem")
    label = (F.col("l_returnflag") == "R").cast("int")
    pred = (F.col("l_discount") >= 0.05).cast("int")
    d = li.select(label.alias("label"), pred.alias("pred"))
    return d.agg(
        F.sum(F.when((F.col("label") == 1) & (F.col("pred") == 1), 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when((F.col("label") == 0) & (F.col("pred") == 1), 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when((F.col("label") == 1) & (F.col("pred") == 0), 1).otherwise(0)).cast("bigint").alias("fn"),
        F.sum(F.when((F.col("label") == 0) & (F.col("pred") == 0), 1).otherwise(0)).cast("bigint").alias("tn"),
    )


def q_a7_threshold_sweep(spark, sf):
    """A7: threshold sweep as explode + conditional agg, no driver loop
    (logistic_regression.py:110-125) — plus the threshold-free companion:
    ROC AUC (``roc_auc``, Mann-Whitney over distinct-score counts, no
    global pair sort) and average precision (``average_precision``,
    PR-curve area in the sklearn step form, same bounded distinct-score
    frame) ride as constant columns, value-checked on every sweep row
    by the DuckDB window-cumsum replays."""
    from record_linkage_spark.operators.evaluate import (
        average_precision,
        roc_auc,
    )

    li = _t(spark, sf, "lineitem")
    taus = [round(0.01 * k, 2) for k in range(1, 10)]
    labeled = li.select(
        (F.col("l_returnflag") == "R").cast("int").alias("label"),
        F.col("l_discount").alias("score"),
    )
    d = labeled.select(
        "label",
        "score",
        F.explode(F.array(*[F.lit(t) for t in taus])).alias("tau"),
    )
    agg = d.groupBy("tau").agg(
        F.sum(F.when((F.col("score") >= F.col("tau")) & (F.col("label") == 1), 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when((F.col("score") >= F.col("tau")) & (F.col("label") == 0), 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when((F.col("score") < F.col("tau")) & (F.col("label") == 1), 1).otherwise(0)).cast("bigint").alias("fn"),
    )
    f1 = F.when(
        2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
        2 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
    ).otherwise(F.lit(0.0))
    return (
        agg.select(
            F.round("tau", 2).alias("tau"), F.round(f1, 6).alias("f1")
        )
        .crossJoin(roc_auc(labeled).select("auc"))
        .crossJoin(average_precision(labeled).select("ap"))
    )


def q_a8_doc_freq(spark, sf):
    """A8: corpus document-frequency stats (TF-IDF prerequisite)."""
    d = _t(spark, sf, "documents")
    toks = F.array_distinct(F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " "))
    ex = d.select(F.explode(toks).alias("token")).filter(F.col("token") != "")
    return ex.groupBy("token").agg(F.count("*").cast("bigint").alias("df"))


# --------------------------------------------------------------------------
# W: windows / sorts / limits
# --------------------------------------------------------------------------


def q_w4_hash_quota(spark, sf):
    """W4/X3: deterministic quota sampling by md5 ranking (portable
    hash-ranked limit; engine uses xxhash64 internally)."""
    d = _t(spark, sf, "documents")
    return (
        d.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(50)
        .select("doc_id", "lang")
    )


def q_w5_topk_per_group(spark, sf):
    """W5: per-group top-k by value (blocker.py:67-72 analogue)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rank")
    )


# --------------------------------------------------------------------------
# U: set operations
# --------------------------------------------------------------------------

def q_u1_union_sources(spark, sf):
    """U1: union of two renamed sources (mediated_schema.py:165)."""
    c = _t(spark, sf, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("src"),
        F.col("c_nationkey").cast("int").alias("nationkey"),
    )
    s = _t(spark, sf, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("src"),
        F.col("s_nationkey").cast("int").alias("nationkey"),
    )
    return c.unionByName(s)


def q_u3_canonical_dedup(spark, sf):
    """U3/F10: canonical pair key + dedup (compare.py:27-30)."""
    li = _t(spark, sf, "lineitem")
    return li.select(
        F.least("l_partkey", "l_suppkey").alias("id_lo"),
        F.greatest("l_partkey", "l_suppkey").alias("id_hi"),
    ).distinct()


def q_set_ops(spark, sf):
    """Composite of the two set operators — U1 union of renamed sources
    and U3/F10 canonical pair key + distinct — union-tagged into one
    (kind, name, src, id_lo, id_hi) frame (rows are the standalone
    queries' rows, reshaped)."""
    u1 = q_u1_union_sources(spark, sf).select(
        F.lit("u1_union").alias("kind"),
        "name",
        "src",
        F.col("nationkey").cast("bigint").alias("id_lo"),
        F.lit(0).cast("bigint").alias("id_hi"),
    )
    u3 = q_u3_canonical_dedup(spark, sf).select(
        F.lit("u3_pairs").alias("kind"),
        F.lit("").alias("name"),
        F.lit("").alias("src"),
        F.col("id_lo").cast("bigint").alias("id_lo"),
        F.col("id_hi").cast("bigint").alias("id_hi"),
    )
    return u1.unionByName(u3)


def q_golden_records(spark, sf):
    """Golden-record survivorship over the planted cc_components graph:
    after clustering, fuse each entity into ONE canonical record —
    mode(lang)/mode(source) with smallest-value tie-break, longest-text
    representative with smallest-id tie-break, summed n_chars, sorted
    member-id list. The DuckDB twin reuses the recursive-CTE closure and
    replays every survivorship rule with windowed arg-selection, so the
    fusion step (the reference pipeline stops at cluster ids; production
    ER needs the merge) is value-checked end to end."""
    from record_linkage_spark.operators.clustering import assign_entities
    from record_linkage_spark.operators.survivorship import golden_records

    d = _t(spark, sf, "documents")
    ids = d.select("doc_id")
    chain = ids.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 1).alias("dst")
    )
    bridge = ids.filter(F.col("doc_id") % 11 == 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 3).alias("dst")
    )
    edges = chain.unionByName(bridge).join(
        ids.select(F.col("doc_id").alias("dst")), "dst", "left_semi"
    )
    assignment = assign_entities(
        ids.select(F.col("doc_id").alias("conv_id")), edges
    ).select(F.col("conv_id").alias("doc_id"), "entity_id")
    return golden_records(
        d,
        assignment,
        id_col="doc_id",
        mode_cols=("lang", "source"),
        longest_col="text",
        sum_cols=("n_chars",),
    )


def q_x1_hash_split(spark, sf):
    """X1: deterministic hash-bucket 70/10/20 split (portable md5 buckets;
    engine uses xxhash64)."""
    d = _t(spark, sf, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = F.pmod(
        F.ascii(F.substring(h, 1, 1)) * 128 + F.ascii(F.substring(h, 2, 1)), F.lit(100)
    )
    split = (
        F.when(bucket < 70, "train").when(bucket < 80, "val").otherwise("test")
    )
    return d.select(split.alias("split")).groupBy("split").agg(
        F.count("*").cast("bigint").alias("n")
    )


# --------------------------------------------------------------------------
# F: scalar similarity functions
# --------------------------------------------------------------------------

def _name_pairs(spark, sf):
    c = _t(spark, sf, "customer").select("c_custkey", "c_name", "c_nationkey")
    s = _t(spark, sf, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    return c.join(s, c.c_nationkey == s.s_nationkey).select(
        "c_custkey", "s_suppkey", "c_name", "s_name"
    )


def q_f4_gauss_comparator(spark, sf):
    """F4: recordlinkage-style gaussian numeric comparator."""
    from record_linkage_spark.functions.comparators import gauss_sim

    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            gauss_sim(
                F.col("l_extendedprice"),
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                500.0,
                2000.0,
            ),
            6,
        ).alias("gauss"),
    )


def q_scalar_transforms(spark, sf):
    """Composite of five per-row scalar transforms — P8 text
    normalization, P12/F9 numeric re-canonicalization, P16/P17/F7 regex
    format filter, P18/F11 checksum arithmetic, and the F4 gaussian
    comparator — union-tagged into one (kind, id1, id2, sval, ival, dval)
    frame so one driver slot carries all five checks verbatim (rows are
    the standalone queries' rows, reshaped)."""

    def leg(df, kind, id1, id2, sval, ival, dval):
        return df.select(
            F.lit(kind).alias("kind"),
            id1.cast("bigint").alias("id1"),
            id2.cast("bigint").alias("id2"),
            sval.alias("sval"),
            ival.cast("int").alias("ival"),
            dval.cast("double").alias("dval"),
        )

    zero_s, zero_i, zero_d = F.lit(""), F.lit(0), F.lit(0.0)
    p8 = leg(q_p8_norm_text(spark, sf), "p8_norm",
             F.col("doc_id"), F.lit(0), F.col("norm"), zero_i, zero_d)
    p12 = leg(q_p12_numeric_norm(spark, sf), "p12_num",
              F.col("l_orderkey"), F.col("l_linenumber"),
              F.col("qty_norm"), zero_i, zero_d)
    p16 = leg(q_p16_regex_filter(spark, sf), "p16_regex",
              F.col("p_partkey"), F.lit(0), F.col("p_name"), zero_i, zero_d)
    p18 = leg(q_p18_checksum(spark, sf), "p18_check",
              F.col("doc_id"), F.lit(0), zero_s, F.col("check_digit"), zero_d)
    f4 = leg(q_f4_gauss_comparator(spark, sf), "f4_gauss",
             F.col("l_orderkey"), F.col("l_linenumber"),
             zero_s, zero_i, F.col("gauss"))
    return p8.unionByName(p12).unionByName(p16).unionByName(p18).unionByName(f4)


# --------------------------------------------------------------------------
# Training-data-pipeline extras over documents/embeddings
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf):
    """Exact dedup groups by md5 of normalized text.

    The synthetic documents table has no natural exact duplicates, so a
    bare run returns 0 rows and the oracle comparison is vacuous. Plant a
    deterministic duplicated slice (doc_id < 25, re-idd at +1,000,000 —
    mirrored in the oracle SQL) so the operator's grouping/keep-id logic
    is actually exercised against non-empty output."""
    from record_linkage_spark.operators.dedup import exact_duplicates

    d = _t(spark, sf, "documents")
    planted = d.filter(F.col("doc_id") < 25).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    return exact_duplicates(d.unionByName(planted)).select(
        "text_hash", "n_copies", "keep_id"
    )


def q_dedup_token_jaccard(spark, sf):
    """Blocked token-set Jaccard near-dup pairs (word 1-grams), plus the
    corpus-weighted TF-IDF cosine (``tfidf_cosine_pairs``, the
    Cohen/Ravikumar/Fienberg hybrid-comparator family) on the same
    pairs — DuckDB replays both the unweighted and the idf-weighted
    similarity, so the whole weight pipeline (tf, df, ln(N/df), norms,
    shared-token dot) is value-checked."""
    from record_linkage_spark.operators.dedup import ngram_jaccard_pairs
    from record_linkage_spark.operators.text_analysis import tfidf_cosine_pairs

    d = _t(spark, sf, "documents")
    out = ngram_jaccard_pairs(d, ngram=1, threshold=0.5, block_prefix_tokens=2)
    out = tfidf_cosine_pairs(out, d)
    return out.select(
        "id_A",
        "id_B",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("tfidf_cosine", 6).alias("tfidf_cos"),
    )


def q_ann_brute_topk(spark, sf):
    """Brute-force cosine top-k (rank on rounded cosine for portability)."""
    e = _t(spark, sf, "embeddings")
    from record_linkage_spark.operators.similarity_search import cosine_sim

    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine_sim("qv", "cv"), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# --------------------------------------------------------------------------
# Record-linkage pipeline entries (non-SQL-expressible → rows-only checks)
# --------------------------------------------------------------------------

def _synth(spark, n_entities=250, dup_rate=1.8):
    from record_linkage_spark.synth.transcripts import generate_transcripts

    return generate_transcripts(spark, n_entities=n_entities, dup_rate=dup_rate)


def q_rl_profiles(spark, sf):
    """Conversation rollup profiles (north_star groupBy+collect_list)."""
    from record_linkage_spark.operators.rollup import rollup_conversations
    from record_linkage_spark.synth.transcripts import transcripts_table

    prof = rollup_conversations(transcripts_table(_synth(spark)))
    return prof.select(
        "conv_id", "n_turns", "n_tokens", "first_role", "token_prefix", "duration_sec"
    )


def _synth_profiles_keys(spark, n_entities=250, dup_rate=1.8):
    """Materialized (profiles, keys) pair — profiles feed several plan
    branches downstream (both join sides + size aggregations), so cut the
    lineage once here instead of recomputing synth+rollup per branch."""
    from record_linkage_spark.operators.rollup import rollup_conversations
    from record_linkage_spark.synth.transcripts import (
        hidden_key_table,
        transcripts_table,
    )

    raw = _synth(spark, n_entities=n_entities, dup_rate=dup_rate)
    profiles = rollup_conversations(transcripts_table(raw)).localCheckpoint()
    keys = hidden_key_table(raw).select("conv_id", "entity_key").localCheckpoint()
    return profiles, keys


def q_rl_ground_truth(spark, sf):
    """Labeled GT pairs from the hidden exact key."""
    from record_linkage_spark.operators.ground_truth import build_ground_truth

    profiles, keys = _synth_profiles_keys(spark)
    return build_ground_truth(profiles, keys)


def q_rl_one_to_one(spark, sf):
    """Greedy 1:1 matching (locally-dominant edge rounds == sequential
    greedy under the strict total order, ``operators/matching.py``) over
    the portable scored-pair set — rows-only: the iterative rounds have
    no SQL twin; equality with a driver-side greedy reference is pinned
    in ``tests/test_matching.py``."""
    from record_linkage_spark.operators.matching import one_to_one_matching

    scored = q_scored_pairs_portable(spark, sf)
    return one_to_one_matching(scored, score_col="score")


def q_rl_sorted_neighborhood(spark, sf):
    """Sorted-neighborhood blocking: range-partitioned global rank +
    bucket join, window pairs over the token_prefix order."""
    from record_linkage_spark.operators.blocking import sorted_neighborhood_pairs

    profiles, _ = _synth_profiles_keys(spark)
    return sorted_neighborhood_pairs(profiles, "token_prefix", window=4).select(
        "id_A", "id_B", "rank_A", "rank_B"
    )


def q_rl_scored_pairs(spark, sf):
    """Feature vectors + FS-LR scores for blocked GT pairs."""
    from record_linkage_spark.operators.blocking import apply_blocking_filter
    from record_linkage_spark.operators.classifier import (
        score_pairs,
        train_logistic_regression,
        tune_threshold,
    )
    from record_linkage_spark.operators.features import (
        FEATURE_INPUT_COLS,
        add_features,
    )
    from record_linkage_spark.operators.ground_truth import (
        build_ground_truth,
        hydrate_pairs,
    )

    profiles, keys = _synth_profiles_keys(spark)
    gt = build_ground_truth(profiles, keys).localCheckpoint()
    cols = sorted(set(FEATURE_INPUT_COLS) | {"text_len_bucket"})
    feats = add_features(
        apply_blocking_filter(hydrate_pairs(gt, profiles, cols), "B1")
    ).localCheckpoint()
    model = train_logistic_regression(feats.filter(F.col("split") == "train"))
    tau, _ = tune_threshold(score_pairs(feats.filter(F.col("split") == "val"), model))
    model.threshold = tau
    return score_pairs(feats, model).select(
        "id_A", "id_B", "label", F.round("score", 6).alias("score"), "pred"
    )


def q_rl_dedupe_scored(spark, sf):
    """M4 dedupe-style matcher: affine-gap (Gotoh) string fields +
    categorical/log-ratio fields, scored by the same codegen LR
    (reference ``src/matching/dedupe.py:153-263``'s role)."""
    from record_linkage_spark.operators.classifier import (
        score_pairs,
        train_logistic_regression,
    )
    from record_linkage_spark.operators.features import (
        DEDUPE_FEATURE_INPUT_COLS,
        DEDUPE_FEATURE_NAMES,
        add_dedupe_features,
    )
    from record_linkage_spark.operators.ground_truth import (
        build_ground_truth,
        hydrate_pairs,
    )

    profiles, keys = _synth_profiles_keys(spark)
    gt = build_ground_truth(profiles, keys).localCheckpoint()
    feats = add_dedupe_features(
        hydrate_pairs(gt, profiles, DEDUPE_FEATURE_INPUT_COLS)
    ).localCheckpoint()
    model = train_logistic_regression(
        feats.filter(F.col("split") == "train"),
        feature_names=DEDUPE_FEATURE_NAMES,
    )
    return score_pairs(feats, model).select(
        "id_A", "id_B", "label", F.round("score", 6).alias("score"), "pred"
    )


def q_rl_text_scored(spark, sf):
    """M5-shaped batch scorer: pairs Ditto-serialized (P21) and scored in
    ``mapInPandas`` batches with broadcast weights (reference
    ``src/matching/ditto.py:171-218``'s harness; hashing-LR stand-in)."""
    from record_linkage_spark.operators.batch_scorer import (
        PAIR_TEXT_FIELDS,
        add_pair_text,
        score_serialized_pairs,
        train_hashing_scorer,
    )
    from record_linkage_spark.operators.ground_truth import (
        build_ground_truth,
        hydrate_pairs,
    )

    profiles, keys = _synth_profiles_keys(spark)
    gt = build_ground_truth(profiles, keys).localCheckpoint()
    hyd = add_pair_text(
        hydrate_pairs(gt, profiles, PAIR_TEXT_FIELDS)
    ).localCheckpoint()
    model = train_hashing_scorer(hyd.filter(F.col("split") == "train"))
    return score_serialized_pairs(hyd, model).select(
        "id_A", "id_B", F.round("score", 6).alias("score"), "pred"
    )


def q_rl_compare_report(spark, sf):
    """E3 multi-strategy x multi-model report: one row per (B1/B2 x
    {lr, dedupe, textmodel}), the reference's 6-row
    ``pipeline_report.json`` (``src/evaluation/compare.py:178-197``).
    inference_time is wall-clock and excluded from the returned columns."""
    from record_linkage_spark.operators.ground_truth import build_ground_truth
    from record_linkage_spark.plans.compare import compare_report

    profiles, keys = _synth_profiles_keys(spark, n_entities=100)
    gt = build_ground_truth(profiles, keys)
    rows = compare_report(gt, profiles)
    stable = [
        {k: v for k, v in r.items() if k != "inference_time_sec"} for r in rows
    ]
    return spark.createDataFrame(stable).select(
        "strategy", "model", "blocking_recall", "n_test_pairs", "n_candidates",
        "tp", "fp", "fn", "tn", "f1_global", "f1_candidates",
    )


def q_rl_incremental_link(spark, sf):
    """Incremental linkage: a NEW slice of conversations blocked+scored
    against the existing base; equals the batch run restricted to pairs
    touching the new ids (asserted in tests)."""
    from record_linkage_spark.operators.classifier import LinearModel
    from record_linkage_spark.operators.incremental_link import link_increment

    profiles, _ = _synth_profiles_keys(spark)
    is_new = F.substring("conv_id", 1, 8).cast("int") >= 180
    model = LinearModel(
        weights=[2.0, 1.0, 1.5, 0.8, 0.6, 0.3, 0.5, 1.2, 0.4, 0.3, 0.8, 0.8, 0.8, 0.4, 1.0, 2.0],
        intercept=-6.0,
        threshold=0.5,
    )
    return link_increment(
        profiles.filter(is_new), profiles.filter(~is_new), model
    ).select("id_A", "id_B", F.round("score", 6).alias("score"), "pred")


def q_rl_greedy_clusters(spark, sf):
    """M7: reference's greedy within-block clustering via applyInPandas
    (agreement path for the CC scale algorithm)."""
    from record_linkage_spark.operators.clustering import (
        greedy_within_block_clusters,
    )
    from record_linkage_spark.synth.transcripts import hidden_key_table

    raw = _synth(spark)
    recs = (
        hidden_key_table(raw)
        .select("conv_id", "entity_key")
        .withColumn("prefix", F.substring("conv_id", 1, 4))
    )
    return greedy_within_block_clusters(
        recs, "entity_key", ["prefix"], max_diff=0, id_col="conv_id"
    )


def q_rl_clusters(spark, sf):
    """Large-star/small-star connected components entity assignment."""
    from record_linkage_spark.operators.clustering import assign_entities
    from record_linkage_spark.operators.ground_truth import (
        positive_pairs,
        validate_keys,
    )
    from record_linkage_spark.synth.transcripts import hidden_key_table

    raw = _synth(spark)
    keys = (
        hidden_key_table(raw).select("conv_id", "entity_key").localCheckpoint()
    )
    edges = positive_pairs(validate_keys(keys)).select(
        F.col("id_A").alias("src"), F.col("id_B").alias("dst")
    )
    return assign_entities(keys.select("conv_id"), edges)


def q_rl_corr_clusters(spark, sf):
    """Pivot correlation clustering over the same positive-pair match
    edges as ``rl_clusters`` — the noise-robust (radius-1) alternative to
    transitive closure. Iterative rounds under a hash permutation; no SQL
    twin (pinned by the sequential-equivalence tests in
    ``test_cluster_quality.py``)."""
    from record_linkage_spark.operators.clustering import correlation_clustering
    from record_linkage_spark.operators.ground_truth import (
        positive_pairs,
        validate_keys,
    )
    from record_linkage_spark.synth.transcripts import hidden_key_table

    raw = _synth(spark)
    keys = (
        hidden_key_table(raw).select("conv_id", "entity_key").localCheckpoint()
    )
    edges = positive_pairs(validate_keys(keys)).select(
        F.col("id_A").alias("src"), F.col("id_B").alias("dst")
    )
    return correlation_clustering(edges)


def q_rl_star_clusters(spark, sf):
    """Star clustering over the same positive-pair match edges — the
    degree-anchored radius-1 clusterer (highest-evidence record becomes
    each cluster's center). Iterative locally-dominant rounds; no SQL
    twin (pinned by the sequential-equivalence tests in
    ``test_cluster_quality.py``)."""
    from record_linkage_spark.operators.clustering import star_clustering
    from record_linkage_spark.operators.ground_truth import (
        positive_pairs,
        validate_keys,
    )
    from record_linkage_spark.synth.transcripts import hidden_key_table

    raw = _synth(spark)
    keys = (
        hidden_key_table(raw).select("conv_id", "entity_key").localCheckpoint()
    )
    edges = positive_pairs(validate_keys(keys)).select(
        F.col("id_A").alias("src"), F.col("id_B").alias("dst")
    )
    return star_clustering(edges)


def q_rl_hac_clusters(spark, sf):
    """Average-linkage hierarchical clustering (Dedupe ``partition``
    semantics) over the flagship fixed-weight scored pairs: components
    from the audited CC loop, then per-component UPGMA cut at
    1 − threshold inside one applyInPandas group. Iterative/numpy — no
    SQL twin; pinned against a from-scratch naive UPGMA, hand truth
    tables and partitioning invariance in ``tests/test_hierarchical.py``."""
    from record_linkage_spark.operators.clustering import hierarchical_clusters

    scored = q_scored_pairs_portable(spark, sf).filter(F.col("pred") == 1)
    return hierarchical_clusters(
        scored, threshold=0.5, src_col="id_A", dst_col="id_B"
    )


def q_pq_adc(spark, sf):
    """Product-quantization ADC top-10 in the fully replayable
    configuration (portable md5 init order, iterations=0 so the codebook
    IS the init sub-vectors): DuckDB rebuilds the codebooks, re-encodes
    the whole corpus (per-subspace argmin with the (dist, code)
    tie-break), builds every query's lookup table and replays the ADC
    sums and ranking from scratch — the compressed-domain search path
    value-checked end to end. Lloyd refinement itself is pinned by
    ``tests/test_pq.py`` (numpy parity + reconstruction-improves)."""
    from record_linkage_spark.operators.similarity_search import pq_topk

    emb = _t(spark, sf, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return pq_topk(
        emb, queries, k=10, m_subspaces=4, k_codes=8, iterations=0,
        portable=True,
    )


def q_explain_pairs(spark, sf):
    """Per-pair score attribution for the flagship fixed-weight scorer
    (the Splink-waterfall analogue): top-5 features by |w·x| per blocked
    B1 pair, ties broken on feature name. DuckDB replays the blocking,
    all 16 feature values, every contribution and the ranking window
    from scratch — the 'WHY did these two match' artifact under the same
    hard signal as the score itself."""
    from record_linkage_spark.operators.blocking import candidate_pairs
    from record_linkage_spark.operators.classifier import (
        LinearModel,
        explain_pairs,
    )
    from record_linkage_spark.operators.features import add_features
    from record_linkage_spark.operators.ground_truth import hydrate_pairs

    prof = _doc_profiles_full(spark, sf).localCheckpoint()
    pairs = candidate_pairs(prof, "B1", salt_target=3).select("id_A", "id_B")
    hyd = hydrate_pairs(pairs, prof, _portable_feature_cols())
    feats = add_features(hyd, token_set_cols=("tok_set_A", "tok_set_B"))
    model = LinearModel(weights=_FLAGSHIP_WEIGHTS, intercept=-6.0, threshold=0.5)
    return explain_pairs(feats, model, top_k=5).withColumn(
        "score", F.round("score", 6)
    )


def q_rl_canopies(spark, sf):
    """Canopy blocking membership over cheap JW scores on near-id doc
    pairs (tight 0.9 / loose 0.6) — overlapping blocks from a cheap
    similarity. The tight-graph pivot rounds are iterative (no SQL
    twin); sequential-scan equality is pinned in ``test_canopy.py``."""
    from record_linkage_spark.functions.similarity import jw_sim
    from record_linkage_spark.functions.text import norm_text
    from record_linkage_spark.operators.blocking import canopies

    d = _t(spark, sf, "documents").filter(
        F.col("lang").isNotNull() & F.col("text").isNotNull()
    )
    s = d.select(
        "doc_id", norm_text(F.substring("text", 1, 40)).alias("sl")
    ).filter(F.col("sl").isNotNull())
    offs = spark.range(1, 4).select(F.col("id").alias("off"))
    pairs = (
        s.crossJoin(offs)
        .select(
            F.col("doc_id").alias("id_A"),
            (F.col("doc_id") + F.col("off")).alias("id_B"),
            F.col("sl").alias("sl_a"),
        )
        .join(
            s.select(F.col("doc_id").alias("id_B"), F.col("sl").alias("sl_b")),
            "id_B",
        )
        .select("id_A", "id_B", F.round(jw_sim("sl_a", "sl_b"), 6).alias("score"))
    )
    return canopies(pairs, tight=0.9, loose=0.6)


def q_rl_minhash(spark, sf):
    """MinHash-LSH near-duplicate detection on documents."""
    from record_linkage_spark.operators.dedup import minhash_near_duplicates

    d = _t(spark, sf, "documents")
    return minhash_near_duplicates(d, jaccard_threshold=0.6).select(
        "id_A", "id_B", F.round("jaccard", 6).alias("jaccard")
    )


def q_rl_simhash(spark, sf):
    """SimHash near-duplicate detection on documents."""
    from record_linkage_spark.operators.dedup import simhash_near_duplicates

    d = _t(spark, sf, "documents")
    return simhash_near_duplicates(d, max_hamming=3)


def q_rl_lsh_topk(spark, sf):
    """LSH-bucketed approximate nearest neighbors on embeddings."""
    from record_linkage_spark.operators.similarity_search import lsh_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return lsh_topk(e, q, k=5).select(
        "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


def q_rl_ivf_topk(spark, sf):
    """IVF approximate nearest neighbors: deterministic k-means coarse
    quantizer + probed exact re-rank (scale path beside LSH)."""
    from record_linkage_spark.operators.similarity_search import ivf_topk

    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 10)
    return ivf_topk(e, q, k=5, n_centroids=8, n_probe=3).select(
        "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


def q_rl_ivfpq_topk(spark, sf):
    """IVF-PQ: coarse cells restrict the scan, ADC over PQ codes scores
    within the probed lists — the billion-scale ANN layout. Double
    iterative k-means (no SQL twin; the ADC arithmetic is oracle-checked
    by ``pq_adc``, the composition by ``tests/test_pq.py``)."""
    from record_linkage_spark.operators.similarity_search import ivfpq_topk

    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 10)
    return ivfpq_topk(
        e, q, k=5, n_centroids=8, n_probe=3, m_subspaces=4, k_codes=8
    )


def q_rl_embedding_neardup(spark, sf):
    """Embedding-cosine near-dup via RHP-LSH bucket self-join. The provided
    embeddings are mutually distant (max pairwise cosine ~0.51), so plant
    deterministic near-copies (one dimension nudged) and recover them."""
    from record_linkage_spark.operators.similarity_search import (
        embedding_near_duplicates,
    )

    e = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 200).select(
        "vec_id", "embedding"
    )
    dup = e.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x + F.when(i == 0, F.lit(0.01)).otherwise(F.lit(0.0))
        ).alias("embedding"),
    )
    return embedding_near_duplicates(
        e.unionByName(dup), cosine_threshold=0.99
    ).select("id_A", "id_B", F.round("cosine", 2).alias("cosine"))


def q_rl_streaming_rollup(spark, sf):
    """Structured Streaming ingestion: transcript files -> availableNow
    micro-batch rollup -> profile table (foreachBatch upsert)."""
    import tempfile

    from record_linkage_spark.streaming.incremental import stream_profiles
    from record_linkage_spark.synth.transcripts import transcripts_table

    root = tempfile.mkdtemp(prefix="rl_stream_")
    in_dir, out_dir, ckpt = f"{root}/in", f"{root}/out", f"{root}/ckpt"
    transcripts_table(_synth(spark, n_entities=100)).write.mode("overwrite").parquet(in_dir)
    q = stream_profiles(spark, in_dir, out_dir, ckpt)
    q.awaitTermination()
    return spark.read.option("basePath", out_dir).parquet(out_dir).select(
        "conv_id", "n_turns", "n_tokens", "first_role"
    )


def q_rl_fingerprint(spark, sf):
    """Winnowing-style rolling-hash document fingerprint."""
    from record_linkage_spark.operators.text_analysis import doc_fingerprint

    d = _t(spark, sf, "documents")
    return d.select("doc_id", doc_fingerprint("text").alias("fp"))


def q_dk_inject(spark, sf):
    """M10: domain-knowledge injection (heuristic NER stand-in + number
    canonicalization + long-id tagging) — pure Catalyst, SQL-portable.

    The synthetic documents are lowercase prose, so none of the tagging
    rules fire on them (they only pin the identity path); a planted slice
    (mirrored in the oracle SQL) exercises every rule: PRODUCT tagging,
    ID tagging, fraction/zero-pad number canonicalization, DATE tagging,
    structure-token passthrough. Fractions use .25 (binary-exact) so the
    %.2f format can't diverge between JVM and C printf."""
    from record_linkage_spark.functions.knowledge import inject_domain_knowledge

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    planted = (
        d.filter(F.col("doc_id") < 50)
        .select(
            (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
            F.concat(
                F.lit("COL name VAL Apple Gadget sn"),
                F.lpad(F.col("doc_id").cast("string"), 7, "0"),
                F.lit(" COL price VAL "),
                F.col("doc_id").cast("string"),
                F.lit(".25 COL qty VAL 0042 COL date VAL 2021-03-15"),
                F.lit(" [SEP] plain words only"),
            ).alias("text"),
        )
    )
    both = d.select("doc_id", "text").unionByName(planted)
    return both.select("doc_id", inject_domain_knowledge("text").alias("dk_text"))


def q_rl_augment(spark, sf):
    """M8: deterministic hash-seeded augmentation over Ditto-serialized
    records (rows-only: per-row numpy RNG has no SQL twin)."""
    from record_linkage_spark.functions.augment import augment_serialized
    from record_linkage_spark.functions.text import serialize_record

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    ser = d.select(
        "doc_id",
        serialize_record(
            [("text", F.col("text")), ("lang", F.col("lang")), ("source", F.col("source"))]
        ).alias("ser"),
    )
    return ser.select(
        "doc_id",
        augment_serialized("ser", "all").alias("aug_all"),
        augment_serialized("ser", "drop_token").alias("aug_drop_token"),
    )


def q_sn_pairs(spark, sf):
    """Sorted-neighborhood blocking over the documents table with a fully
    SQL-expressible total order (rank = row_number over (key, padded id)),
    so the scale-safe range-partition + bucket-join implementation can be
    value-checked against a DuckDB window-function twin. Ids are
    zero-padded so string order == numeric order on both sides."""
    from record_linkage_spark.operators.blocking import sorted_neighborhood_pairs

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.format_string("d%04d", F.col("doc_id")).alias("conv_id"),
            F.lower(F.substring("text", 1, 12)).alias("token_prefix"),
        )
    )
    return sorted_neighborhood_pairs(d, "token_prefix", window=4).select(
        "id_A", "id_B", "rank_A", "rank_B"
    )


def q_cc_components(spark, sf):
    """Connected components (large-star/small-star) over a deterministic
    planted graph on document ids — chains of ~7 (edge i -> i-1 unless
    i % 7 == 0) merged by bridge edges (i -> i+3 where i % 11 == 0), both
    endpoint-filtered to existing ids. The DuckDB twin computes the same
    components with a recursive-CTE min-label closure, value-checking the
    iterative Spark operator end to end (entity_id = component min)."""
    from record_linkage_spark.operators.clustering import assign_entities

    d = _t(spark, sf, "documents").select("doc_id")
    chain = d.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 1).alias("dst")
    )
    bridge = d.filter(F.col("doc_id") % 11 == 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 3).alias("dst")
    )
    ids = d.select(F.col("doc_id").alias("dst"))
    edges = chain.unionByName(bridge).join(ids, "dst", "left_semi")
    return assign_entities(d.select(F.col("doc_id").alias("conv_id")), edges)


def q_inc_components(spark, sf):
    """Incremental cluster maintenance value-checked externally: the seed
    assignment is batch CC over the planted CHAIN edges only; the BRIDGE
    edges (the increment) are folded in via
    ``clustering.incremental_components`` — contraction to the entity
    graph, CC on O(touched entities), broadcast remap. The DuckDB twin
    recomputes components over chain ∪ bridge from scratch with a
    recursive-CTE min-label closure, so the maintained state must equal
    the batch answer exactly."""
    from record_linkage_spark.operators.clustering import (
        assign_entities,
        incremental_components,
    )

    d = _t(spark, sf, "documents").select("doc_id").filter(F.col("doc_id") < 200)
    ids = d.select(F.col("doc_id").alias("dst"))
    chain = d.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 1).alias("dst")
    ).join(ids, "dst", "left_semi")
    bridge = d.filter(F.col("doc_id") % 11 == 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 3).alias("dst")
    ).join(ids, "dst", "left_semi")
    seed = assign_entities(
        d.select(F.col("doc_id").alias("conv_id")), chain
    ).localCheckpoint()
    return incremental_components(seed, bridge)


def q_dedup_keep_best(spark, sf):
    """Keep-one-representative dedup over the planted cc_components graph:
    CC labels each duplicate component, then the longest doc (whitespace
    token count, doc_id tiebreak) survives per component. The DuckDB twin
    recomputes components with the recursive-CTE closure and replays the
    argmax window — value-checking the CC + representative-pick
    composition end to end."""
    from record_linkage_spark.operators.curation import keep_best_per_cluster
    from record_linkage_spark.operators.text_analysis import token_count_ws

    d = _t(spark, sf, "documents").select(
        "doc_id", token_count_ws("text").cast("bigint").alias("n_tokens")
    )
    chain = d.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 1).alias("dst")
    )
    bridge = d.filter(F.col("doc_id") % 11 == 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 3).alias("dst")
    )
    ids = d.select(F.col("doc_id").alias("dst"))
    edges = chain.unionByName(bridge).join(ids, "dst", "left_semi")
    kept = keep_best_per_cluster(
        d, edges, [F.col("n_tokens").desc()], id_col="doc_id"
    )
    return kept.select("doc_id", "entity_id", "n_cluster", "n_tokens")


def q_span_overlap(spark, sf):
    """Exact 8-token-span overlap pairs (Lee et al.-style exact-substring
    signal) over documents ∪ planted partial copies (first 150 chars of
    each doc_id < 40 doc + a fresh tail). Portable md5 span hashes; the
    DuckDB twin replays postings -> boilerplate cap -> pair counts."""
    from record_linkage_spark.operators.dedup import span_overlap_pairs

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    copies = d.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + F.lit(6_000_000)).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 150), F.lit(" planted tail marker")
        ).alias("text"),
    )
    docs = d.select("doc_id", "text").unionByName(copies)
    return span_overlap_pairs(docs, window=8, min_shared=2, portable=True)


def q_span_dedup(spark, sf):
    """Span-granular duplicate REMOVAL (Lee et al. 2107.06499) over
    documents ∪ planted partial copies (same construction as
    `span_overlap`): every 8-token span occurring >= 2x corpus-wide keeps
    only its globally-first occurrence — the planted copies lose their
    copied prefix but keep the fresh tail. Portable md5 span hashes; the
    DuckDB twin replays postings -> counts -> survivor window -> cover
    test -> text rebuild, value-checking the rewritten text itself."""
    from record_linkage_spark.operators.dedup import remove_duplicate_spans

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    copies = d.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + F.lit(6_000_000)).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 150), F.lit(" planted tail marker")
        ).alias("text"),
    )
    docs = d.select("doc_id", "text").unionByName(copies)
    return remove_duplicate_spans(docs, window=8, portable=True)


def q_soft_tfidf(spark, sf):
    """SoftTFIDF hybrid comparator (Cohen, Ravikumar & Fienberg 2003)
    over documents ∪ messy planted copies: 40 true-match pairs (doc vs
    its messy copy — high scores; the copy's URL-junk tokens keep it
    below 1.0) + 40 shifted mismatch pairs. The DuckDB twin replays
    tf·ln(N/df) weights, L2 norms, the token cross-product with native
    jaro_winkler_similarity, the (jw DESC, token ASC) argmax and the
    strict theta>0.9 gate — value-checking both directions and the
    symmetric max."""
    from record_linkage_spark.operators.text_analysis import soft_tfidf_pairs

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    docs = d.unionByName(_messy_copies(d))
    small = d.filter(F.col("doc_id") < 40)
    pairs = small.select(
        F.col("doc_id").alias("id_A"),
        (F.col("doc_id") + F.lit(3_000_000)).alias("id_B"),
    ).unionByName(
        small.select(
            F.col("doc_id").alias("id_A"),
            ((F.col("doc_id") + 7) % 40 + F.lit(3_000_000)).alias("id_B"),
        )
    )
    out = soft_tfidf_pairs(pairs, docs, theta=0.9)
    return out.select(
        "id_A",
        "id_B",
        F.round("st_ab", 6).alias("st_ab"),
        F.round("st_ba", 6).alias("st_ba"),
        F.round("soft_tfidf", 6).alias("soft_tfidf"),
    )


def q_semantic_dedup(spark, sf):
    """SemDeDup keep-policy (Abbas et al. 2023) end-to-end at
    n_clusters=1, where the k-means centroid provably equals the global
    mean — which DuckDB replays exactly (per-dim avg): planted dim-0
    near-copies must group with their source through the CC closure, and
    the kept member is the one with the LOWEST centroid cosine (the
    paper's keep-the-outlier diversity rule). vec_id in [150,170) are
    singletons exercising the group_id coalesce. The multi-cell quantizer
    is pinned by test_semantic_dedup.py (decision invariance across
    partitioning + planted-dup recovery at n_clusters=4) and the IVF
    recall tests. centroid_sim rounds to 4dp (summation-order float noise
    ~1e-12; keep margins ~1e-4)."""
    from record_linkage_spark.operators.similarity_search import (
        semantic_deduplicate,
    )

    e = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 170).select(
        "vec_id", "embedding"
    )
    dup = e.filter(F.col("vec_id") < 150).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x + F.when(i == 0, F.lit(0.01)).otherwise(F.lit(0.0))
        ).alias("embedding"),
    )
    out = semantic_deduplicate(
        e.unionByName(dup), cosine_threshold=0.99, n_clusters=1, iterations=2
    )
    return out.select(
        "vec_id",
        "cell",
        F.round("centroid_sim", 4).alias("centroid_sim"),
        "group_id",
        "keep",
    )


def q_rl_group_linkage(spark, sf):
    """Group linkage (On et al. ICDE 2007): 1:1-matched group similarity
    over documents partitioned into 24 hash groups, with deterministic
    pseudo-scores on hash-bucketed cross-group record pairs. Iterative
    1:1 rounds — rows-only; semantics pinned by test_group_linkage.py
    truth tables."""
    from record_linkage_spark.operators.matching import group_linkage

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 120)
    i = F.col("doc_id").cast("long")
    groups = d.select(
        i.alias("record_id"),
        F.concat(F.lit("g"), (i % 24).cast("string")).alias("group_id"),
    )
    b = F.pmod(F.xxhash64(F.lit(5), i), F.lit(12))
    pa = d.select(i.alias("id_A"), b.alias("_b"))
    pb = d.select(i.alias("id_B"), b.alias("_b"))
    pairs = (
        pa.join(pb, "_b")
        .filter(F.col("id_A") < F.col("id_B"))
        .select(
            "id_A",
            "id_B",
            (
                F.pmod(F.xxhash64("id_A", "id_B"), F.lit(1000)) / 1000.0
            ).alias("score"),
        )
    )
    out = group_linkage(pairs, groups, min_score=0.3)
    return out.select(
        "group_A",
        "group_B",
        "n_matched",
        F.round("match_weight", 6).alias("match_weight"),
        F.round("sim", 6).alias("sim"),
    )


def q_temporal_joins(spark, sf):
    """Temporal-operator composite over the events table, union-tagged
    (kind, id1, id2, sval, t1, t2, v):

      kind='asof'   every click gains the latest preceding view per
                    user — the union-sort single-shuffle as-of,
                    replayed by DuckDB's NATIVE ``ASOF LEFT JOIN``
                    (id1=click, id2=view, v=view_value)
      kind='range'  the 12h error windows containing each click, via
                    the interval-bucketing equality join replayed as a
                    plain BETWEEN theta join (id1=click, id2=error)
      kind='scd2'   SCD2 attribute-history runs over each user's
                    event_type stream (``operators/entity_history.py``
                    — lag → run cumsum → collapse → lead, one
                    entity_id shuffle; id1=entity, id2=version,
                    sval=value, t1/t2=valid_from/valid_to,
                    v=n_observations), replayed by the identical
                    DuckDB window cascade
    """
    from record_linkage_spark.operators.entity_history import (
        attribute_history,
    )
    from record_linkage_spark.operators.temporal_join import (
        asof_join,
        range_join,
    )

    ev = _t(spark, sf, "events").filter(F.col("user_id") < 30)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("view_id"),
        F.col("value").alias("view_value"),
    )
    ns = F.lit(None).cast("string")
    a = asof_join(clicks, views, on=["user_id"]).select(
        F.lit("asof").alias("kind"),
        F.col("event_id").alias("id1"),
        F.col("r_view_id").alias("id2"),
        F.lit("").alias("sval"),
        ns.alias("t1"),
        ns.alias("t2"),
        F.round("r_view_value", 6).alias("v"),
    )
    errs = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 12 HOURS")).alias("end"),
    )
    rj = range_join(
        clicks, errs, on=["user_id"], ts_col="ts", bucket_seconds=43200.0
    ).select(
        F.lit("range").alias("kind"),
        F.col("event_id").alias("id1"),
        F.col("err_id").alias("id2"),
        F.lit("").alias("sval"),
        ns.alias("t1"),
        ns.alias("t2"),
        F.lit(None).cast("double").alias("v"),
    )
    obs = ev.filter(F.col("ts").isNotNull()).select(
        F.col("user_id").cast("bigint").alias("entity_id"),
        "ts",
        F.col("event_type").alias("value"),
        "event_id",
    )
    fmt = lambda c: F.date_format(
        F.col(c).cast("timestamp"), "yyyy-MM-dd HH:mm:ss"
    )
    scd2 = attribute_history(obs, tiebreak_col="event_id").select(
        F.lit("scd2").alias("kind"),
        F.col("entity_id").alias("id1"),
        F.col("version").alias("id2"),
        F.col("value").alias("sval"),
        fmt("valid_from").alias("t1"),
        fmt("valid_to").alias("t2"),
        F.col("n_observations").cast("double").alias("v"),
    )
    return a.unionByName(rj).unionByName(scd2)


def q_token_budget(spark, sf):
    """Per-language token-budget prefix sample (training-mix in tokens,
    not rows): two-stage hash pre-filter + exact cumulative window, both
    stages replayed by the DuckDB twin."""
    from record_linkage_spark.operators.curation import token_budget_sample
    from record_linkage_spark.operators.text_analysis import token_count_ws

    d = _t(spark, sf, "documents").filter(F.col("lang").isNotNull()).select(
        "doc_id", "lang", token_count_ws("text").cast("bigint").alias("n_tokens")
    )
    out = token_budget_sample(
        d, ["lang"], 1500, "doc_id", "n_tokens", margin=4.0, portable=True
    )
    return out.select("doc_id", "lang", "n_tokens", "cum_before")


def _messy_copies(docs, n: int = 60, id_offset: int = 3_000_000):
    """Duplicates that are messy in raw text but identical after the dedup
    normalizer (upper-case, leading/trailing junk punctuation, a URL, and
    doubled whitespace) — the planted ground truth for the dedup oracle
    twins. DuckDB reproduces the construction textually, then both engines
    must agree that normalization erases the mess."""
    return docs.filter(F.col("doc_id") < n).select(
        (F.col("doc_id") + F.lit(id_offset)).alias("doc_id"),
        F.concat(
            F.lit("  !! "),
            F.upper(F.col("text")),
            F.lit("  ... http://spam.example/x?q=1 "),
        ).alias("text"),
    )


def q_minhash_exactset(spark, sf):
    """Production MinHash-LSH (Arrow signature kernel -> band bucket join
    -> estimator pre-filter -> exact-Jaccard verify) at threshold 1.0.

    At tau = 1.0 the output is DETERMINISTIC with no probabilistic recall
    gap: jaccard == 1.0 means identical distinct-shingle sets, identical
    sets always produce identical signatures (the min over the same hash
    set), so every qualifying pair is guaranteed bucketed together and the
    verify stage admits exactly those pairs. The DuckDB oracle never sees
    a signature — it independently groups documents by their normalized
    distinct-3-gram set, so kernel hashing, banding, the bucket self-join,
    and the verify join are all value-checked from the outside. Planted
    messy copies (case/punct/URL/whitespace noise) make the check
    non-vacuous and exercise the normalizer."""
    from record_linkage_spark.operators.dedup import minhash_near_duplicates

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    return minhash_near_duplicates(
        d.unionByName(_messy_copies(d)), jaccard_threshold=1.0
    ).select("id_A", "id_B", F.round("jaccard", 6).alias("jaccard"))


def q_simhash_hd(spark, sf):
    """SimHash near-dup over the portable md5-derived token hash
    (``simhash_portable_fp``: codegen explode+groupBy bit votes), paired
    with the production pigeonhole band join. With max_hamming = 3 <=
    num_bands - 1, banding guarantees EVERY pair at Hamming <= 3 shares a
    band, so the LSH output equals the brute-force answer exactly — the
    DuckDB oracle recomputes each fingerprint from scratch and brute-forces
    all O(n^2) pairs, independently verifying hashing, bit votes, banding
    recall, and the Hamming verify stage."""
    from record_linkage_spark.operators.dedup import (
        simhash_near_duplicates,
        simhash_portable_fp,
    )

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    docs = d.unionByName(_messy_copies(d))
    fp = simhash_portable_fp(docs)
    return simhash_near_duplicates(
        docs, max_hamming=3, num_bands=4, fingerprints=fp
    ).select("id_A", "id_B", "hamming")


def q_pii_scrub(spark, sf):
    """Training-data PII redaction: emails / SSN-shaped ids / IPv4 /
    phone-shaped digit runs -> typed placeholders, pure chained
    regexp_replace (RE2-compatible patterns so DuckDB replays them
    byte-for-byte). The corpus has no natural PII, so a planted slice
    (mirrored in the oracle) carries one instance of each pattern plus
    an ordering trap (the SSN shape must be tagged before the looser
    phone pattern could eat it)."""
    from record_linkage_spark.operators.curation import scrub_pii

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    planted = d.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + F.lit(4_000_000)).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(
                " contact bob.smith+x@mail.example.org or 555-123-4567"
                " ssn 123-45-6789 host 10.0.42.7 done"
            ),
        ).alias("text"),
    )
    docs = d.select("doc_id", "text").unionByName(planted)
    return docs.select("doc_id", scrub_pii("text").alias("scrubbed"))


def q_doc_repetition(spark, sf):
    """Gopher-style repetition/boilerplate signals (token dup fraction,
    top-token share, duplicate-segment fraction) — explode+groupBy
    word-count shuffle shape. A planted highly-repetitive slice gives the
    signals non-trivial values; DuckDB recomputes all four from scratch."""
    from record_linkage_spark.operators.curation import repetition_features

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    planted = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + F.lit(5_000_000)).alias("doc_id"),
        F.concat(
            F.lit("buy now. buy now. buy now. "), F.substring("text", 1, 60)
        ).alias("text"),
    )
    return repetition_features(d.select("doc_id", "text").unionByName(planted))


def q_decontam_overlap(spark, sf):
    """Benchmark decontamination: corpus docs sharing any token 8-gram
    with a 'benchmark' set (here: interior substrings of 26 corpus docs,
    so overlaps are guaranteed and exactly recomputable). Only
    (doc_id, gram) pairs move; the benchmark gram set broadcasts."""
    from record_linkage_spark.operators.curation import decontaminate

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    bench = d.filter(F.col("doc_id") < 26).select(
        F.substring("text", 20, 150).alias("text")
    )
    return decontaminate(d, bench, ngram=8)


def q_strat_sample(spark, sf):
    """Per-stratum quota sampling (training-mix domain balancing) in
    portable-hash mode with the pre-filter ACTIVE (quota*margin = 10 <<
    ~100 docs per lang), so the DuckDB twin replays both stages — hash
    threshold then exact rank — and must land on the identical sample."""
    from record_linkage_spark.operators.curation import stratified_quota_sample

    d = _t(spark, sf, "documents").select("doc_id", "lang")
    return stratified_quota_sample(
        d, ["lang"], quota=5, id_col="doc_id", margin=2.0, portable=True
    ).select("doc_id", "lang")


def q_minhash_cross(spark, sf):
    """Asymmetric near-dup: corpus (documents) scanned against a
    'reference corpus' (the messy copies as a SEPARATE table) with the
    cross-source MinHash composition at tau=1.0 — same determinism
    argument as ``minhash_exactset``; the oracle joins the two frames'
    normalized shingle-set keys across sources."""
    from record_linkage_spark.operators.dedup import minhash_cross_duplicates

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    return minhash_cross_duplicates(
        d, _messy_copies(d), jaccard_threshold=1.0
    ).select("corpus_id", "reference_id", F.round("jaccard", 6).alias("jaccard"))


def q_minhash_pairs(spark, sf):
    """Composite of the two MinHash-LSH compositions — symmetric self-scan
    (``q_minhash_exactset``) and asymmetric cross-corpus scan
    (``q_minhash_cross``) — union-tagged into one (kind, id_A, id_B,
    jaccard) frame so one driver slot carries both checks verbatim."""
    sym = q_minhash_exactset(spark, sf).select(
        F.lit("sym").alias("kind"),
        F.col("id_A").cast("string").alias("id_A"),
        F.col("id_B").cast("string").alias("id_B"),
        "jaccard",
    )
    cross = q_minhash_cross(spark, sf).select(
        F.lit("cross").alias("kind"),
        F.col("corpus_id").cast("string").alias("id_A"),
        F.col("reference_id").cast("string").alias("id_B"),
        "jaccard",
    )
    return sym.unionByName(cross)


def q_meta_blocking(spark, sf):
    """Meta-blocking (common-blocks weighting + block purging + weight
    threshold, Papadakis et al.) over a disjunctive key scheme on
    documents ∪ planted messy copies: three redundant cheap keys
    (first-3-tokens, next-3-tokens, token-count bucket of the normalized
    text); a pair survives with weight >= 2 corroborating keys. The
    DuckDB twin replays postings -> purge -> bucket join -> weight
    count, value-checking the whole pruning pipeline."""
    from record_linkage_spark.functions.text import norm_text_with_urls
    from record_linkage_spark.operators.blocking import meta_block_prune

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    all_docs = d.unionByName(_messy_copies(d))
    toks = F.split(norm_text_with_urls(F.col("text")), " ")
    keys = {
        "first3": F.array_join(F.slice(toks, 1, 3), " "),
        "next3": F.array_join(F.slice(toks, 4, 3), " "),
        "lenb": F.floor(F.size(toks) / 8).cast("string"),
    }
    return meta_block_prune(
        all_docs, keys, id_col="doc_id", min_shared=2, max_block=60
    )


def q_seq_pack(spark, sf):
    """Sequence packing (training-batch layout): global prefix sum of
    token counts in portable-hash order via the two-pass range-partition
    machinery, cut into 2048-token bins. DuckDB replays it with a plain
    window cumsum — the distributed prefix sum must match it exactly."""
    from record_linkage_spark.operators.curation import pack_sequences
    from record_linkage_spark.operators.text_analysis import token_count_ws

    d = _t(spark, sf, "documents").select(
        "doc_id", token_count_ws("text").alias("n_tokens")
    )
    return pack_sequences(
        d, budget=2048, id_col="doc_id", tokens_col="n_tokens", portable=True
    )


def q_fp_winnow(spark, sf):
    """Winnowing fingerprint in portable mode: min md5 hex string over all
    8-token windows — the same tokenizer/window/min logic as the xxhash64
    production variant (``rl_fingerprint``), value-checked byte-for-byte
    against a DuckDB list-comprehension twin."""
    from record_linkage_spark.operators.text_analysis import doc_fingerprint

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", doc_fingerprint("text", portable=True).alias("fp")
    )


def q_ngram_topk(spark, sf):
    """Boilerplate mining: top-k token 3-grams by document frequency
    (word-count shuffle + bounded TakeOrdered). A planted banner phrase
    on 50 docs gives the head of the ranking a known shape; the
    (n_docs desc, gram asc) total order makes the top-k set
    deterministic under ties, so DuckDB's replay must match exactly."""
    from record_linkage_spark.operators.curation import frequent_ngrams

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    planted = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + F.lit(6_000_000)).alias("doc_id"),
        F.concat(F.lit("click here to subscribe now "), F.col("text")).alias("text"),
    )
    docs = d.select("doc_id", "text").unionByName(planted)
    return frequent_ngrams(docs, ngram=3, k=50)


def q_length_quantiles(spark, sf):
    """Corpus length-distribution profile (the summary a curation pass
    reads before picking length cutoffs) in exact mode: ``percentile``
    with rank = p*(n-1) linear interpolation — the ANSI quantile_cont
    definition, so DuckDB recomputes identical values. The production
    path is ``approx_percentile`` (mergeable t-digest sketch), pinned
    separately by pytest."""
    from record_linkage_spark.operators.text_analysis import length_quantiles

    return length_quantiles(_t(spark, sf, "documents"), exact=True)


def q_corpus_profile(spark, sf):
    """Corpus-profile composite — boilerplate n-gram mining + length
    quantiles folded to one tagged (chk, k, v) frame:

      chk='ngram'  top-50 token 3-grams by doc frequency (planted banner
                   head; total order under ties) — ``frequent_ngrams``
      chk='lq'     exact length quantiles at 5 probs (ANSI quantile_cont
                   definition) — ``length_quantiles``

    Both standalone twins ride verbatim inside the merged oracle, so the
    hash check is exactly as strong as the two separate entries were."""
    ng = q_ngram_topk(spark, sf).select(
        F.lit("ngram").alias("chk"),
        F.col("gram").alias("k"),
        F.col("n_docs").cast("double").alias("v"),
    )
    lq = q_length_quantiles(spark, sf).select(
        F.lit("lq").alias("chk"),
        F.col("p").cast("string").alias("k"),
        F.col("n_chars_q").cast("double").alias("v"),
    )
    return ng.unionByName(lq)


def q_ssjoin_prefix(spark, sf):
    """Prefix-filter set-similarity self-join (AllPairs/PPJoin family)
    over documents at Jaccard >= 0.6. The DuckDB twin is the BRUTE-FORCE
    all-shared-token-pairs answer, so a hash match proves the
    frequency-ordered prefix + length + positional filters lose zero
    recall — the property that separates this from heuristic blocking."""
    from record_linkage_spark.operators.dedup import set_similarity_pairs

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 250)
    out = set_similarity_pairs(docs, threshold=0.85)
    return out.select("id_A", "id_B", F.round("jaccard", 6).alias("jaccard"))


def q_cluster_quality(spark, sf):
    """Cluster-quality + cluster-repair + collective-ER composite — seven
    oracle checks in one window slot, all over the deterministic doc
    clustering (entity = doc_id div 7) against the lang column as truth:

      chk='bcubed'   B-cubed P/R/F1 + n (``bcubed_metrics``)
      chk='pc'       pair-counting metrics: pairwise P/R/F1, Rand,
                     Adjusted Rand, tp/fp/fn/tn (``pair_counting_metrics``)
      chk='vm'       entropy family: homogeneity/completeness/V-measure,
                     MI, NMI + the four entropies (``v_measure_metrics``)
      chk='cohesion' per-entity split evidence (``cluster_cohesion``)
                     over JW-scored near-id pairs at threshold 0.8
      chk='merge'    cross-entity merge candidates (``merge_candidates``)
                     over the same pairs
      chk='rel'      collective-ER relational evidence: per-pair
                     neighborhood Jaccard (``collective.
                     neighborhood_jaccard``) under the same assignment,
                     over a deterministic two-key co-occurrence relation
                     (doc_id div 3 / div 5 groups — every key stays far
                     below the hub guard, every set far below the cap,
                     so the twin replays the exact semantics)
      chk='tri'      transitivity audit (``collective.
                     triangle_inconsistencies``): wedges at 0.8 whose
                     closing pair is missing (w_ac = -1, is_missing = 1)
                     or weak

    The scored pairs are (doc_id, doc_id+k) k in 1..3 with JW over
    40-char normalized slices — under the kernel's 48-char cap, so
    DuckDB's native jaro_winkler computes on identical strings (the same
    portability argument as ``similarity_funcs``). Tagged (chk, k, v)
    rows carry every value verbatim, so the merged hash check is exactly
    as strong as four separate entries."""
    from record_linkage_spark.functions.similarity import jw_sim
    from record_linkage_spark.functions.text import norm_text
    from record_linkage_spark.operators.evaluate import (
        bcubed_metrics,
        cluster_cohesion,
        merge_candidates,
        pair_counting_metrics,
        v_measure_metrics,
    )

    d = _t(spark, sf, "documents").filter(F.col("lang").isNotNull())
    a = d.select("doc_id", F.floor(F.col("doc_id") / 7).alias("entity_id"))
    t = d.select("doc_id", F.col("lang").alias("entity_key"))

    s = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", norm_text(F.substring("text", 1, 40)).alias("sl"))
        .filter(F.col("sl").isNotNull())
    )
    offs = spark.range(1, 4).select(F.col("id").alias("off"))
    pairs = (
        s.crossJoin(offs)
        .select(
            F.col("doc_id").alias("id_A"),
            (F.col("doc_id") + F.col("off")).alias("id_B"),
            F.col("sl").alias("sl_a"),
        )
        .join(
            s.select(F.col("doc_id").alias("id_B"), F.col("sl").alias("sl_b")),
            "id_B",
        )
        .select(
            "id_A", "id_B", F.round(jw_sim("sl_a", "sl_b"), 6).alias("score")
        )
    )

    def unpivot(df, chk, cols, key_expr=None):
        stack = ", ".join(f"'{c}', CAST(`{c}` AS DOUBLE)" for c in cols)
        out = df.select(
            *([key_expr.alias("_key")] if key_expr is not None else []),
            F.expr(f"stack({len(cols)}, {stack}) AS (k, v)"),
        )
        key = (
            F.concat(F.col("_key"), F.lit(":"), F.col("k"))
            if key_expr is not None
            else F.col("k")
        )
        return out.select(F.lit(chk).alias("chk"), key.alias("k"), "v")

    bc = unpivot(
        bcubed_metrics(a, t, id_col="doc_id"),
        "bcubed",
        ["bcubed_precision", "bcubed_recall", "bcubed_f1", "n_records"],
    )
    pc = unpivot(
        pair_counting_metrics(a, t, id_col="doc_id"),
        "pc",
        [
            "n_records", "tp", "fp", "fn", "tn",
            "pairwise_precision", "pairwise_recall", "pairwise_f1",
            "rand_index", "adjusted_rand",
        ],
    )
    coh = unpivot(
        cluster_cohesion(a, pairs, threshold=0.8, id_col="doc_id"),
        "cohesion",
        [
            "n_members", "n_scored_within", "min_score", "avg_score",
            "n_conflicts", "n_unscored_pairs",
        ],
        key_expr=F.col("entity_id").cast("string"),
    )
    mrg = unpivot(
        merge_candidates(a, pairs, threshold=0.8, id_col="doc_id"),
        "merge",
        ["n_edges", "max_score", "avg_score"],
        key_expr=F.concat_ws("-", F.col("entity_lo"), F.col("entity_hi")),
    )
    vm = unpivot(
        v_measure_metrics(a, t, id_col="doc_id"),
        "vm",
        [
            "n_records", "h_class", "h_cluster", "h_class_given_cluster",
            "h_cluster_given_class", "mutual_info", "homogeneity",
            "completeness", "v_measure", "nmi",
        ],
    )

    # collective-ER relational evidence: two-key co-occurrence relation
    # (consecutive-id groups of 3 and 5) — deterministic, and every key
    # touches <= 2 entities so the hub guard / neighbor cap never bind
    # (their semantics are pinned by tests/test_collective.py)
    from record_linkage_spark.operators.collective import (
        neighborhood_jaccard,
        triangle_inconsistencies,
    )

    rel = d.select(
        "doc_id",
        F.concat(
            F.lit("a"), F.floor(F.col("doc_id") / 3).cast("string")
        ).alias("rel_key"),
    ).unionByName(
        d.select(
            "doc_id",
            F.concat(
                F.lit("b"), F.floor(F.col("doc_id") / 5).cast("string")
            ).alias("rel_key"),
        )
    )
    rpairs = (
        d.select(F.col("doc_id").alias("id_A"))
        .crossJoin(offs)
        .select("id_A", (F.col("id_A") + F.col("off")).alias("id_B"))
        .join(d.select(F.col("doc_id").alias("id_B")), "id_B")
    )
    relj = neighborhood_jaccard(
        rpairs,
        rel,
        a.select("doc_id", "entity_id"),
        id_col="doc_id",
    )
    rel_out = relj.select(
        F.lit("rel").alias("chk"),
        F.concat_ws(
            "-", F.col("id_A").cast("string"), F.col("id_B").cast("string")
        ).alias("k"),
        F.round("rel_sim", 6).alias("v"),
    )

    tri = triangle_inconsistencies(pairs, threshold=0.8)
    tri_out = unpivot(
        tri.select(
            F.concat_ws(
                "-",
                F.col("id_a").cast("string"),
                F.col("id_center").cast("string"),
                F.col("id_c").cast("string"),
            ).alias("_tk"),
            F.round("w_ab", 6).alias("w_ab"),
            F.round("w_bc", 6).alias("w_bc"),
            F.coalesce(F.round("w_ac", 6), F.lit(-1.0)).alias("w_ac"),
            F.when(F.col("status") == "missing", F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("is_missing"),
        ),
        "tri",
        ["w_ab", "w_bc", "w_ac", "is_missing"],
        key_expr=F.col("_tk"),
    )
    return (
        bc.unionByName(pc)
        .unionByName(coh)
        .unionByName(mrg)
        .unionByName(vm)
        .unionByName(rel_out)
        .unionByName(tri_out)
    )


def _doc_profiles(spark, sf):
    """Profile-shaped frame derived SQL-portably from documents: the
    input for the oracle-checked blocking-generator queries. JW inputs
    are 40-char normalized slices — under the kernel's 48-char cap, so
    DuckDB's native jaro_winkler computes on identical strings."""
    from record_linkage_spark.functions.text import norm_text

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    # planted same-text twins (doc_id+7e6): guaranteed JW=1.0 pairs inside
    # doubled blocks, so the salted join's exactly-once property carries
    # real weight in the hash comparison (a dropped or doubled pair shows)
    d = d.select("doc_id", "text", "lang").unionByName(
        d.filter(F.col("doc_id") < 40).select(
            (F.col("doc_id") + F.lit(7_000_000)).alias("doc_id"), "text", "lang"
        )
    )
    return d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.floor(F.length("text") / 200).cast("int").alias("text_len_bucket"),
        norm_text(F.substring("text", 1, 40)).alias("first_text_norm"),
        norm_text(F.substring("text", 21, 40)).alias("last_text_norm"),
        F.col("lang").alias("primary_tool"),
    )


def q_blocking_b1(spark, sf):
    """The PRODUCTION blocking generator (salted hash self-join,
    skew-aware fan-out, JW Arrow post-filter) value-checked externally:
    DuckDB replays the B1 cascade as a plain equality self-join + native
    jaro_winkler >= 0.95 over the same document-derived profiles.
    salt_target=3 forces multi-salt fan-out on every block bigger than 3
    rows, so the exactly-once pair semantics of the replicate-explode
    salting is what the hash comparison actually proves."""
    from record_linkage_spark.operators.blocking import candidate_pairs

    return candidate_pairs(_doc_profiles(spark, sf), "B1", salt_target=3)


def q_blocking_b2(spark, sf):
    """B2 cascade (B1 + last-slice key + secondary JW + exact tool leg)
    through the same salted generator, same external replay."""
    from record_linkage_spark.operators.blocking import candidate_pairs

    return candidate_pairs(_doc_profiles(spark, sf), "B2", salt_target=3)


# --------------------------------------------------------------------------
# composite checks: several small SURVEY ops folded into one contract slot
# (the driver verifies the first 50 queries() entries — composites keep
# every check under the hard signal without spending a slot per scalar).
# Values are carried uncompressed: each source row/column of the folded
# checks appears verbatim as a (chk, k, v) row, so the hash comparison is
# exactly as strong as running the five entries separately.
# --------------------------------------------------------------------------

def q_blocking_cascades(spark, sf):
    """Composite of the two production blocking cascades — B1
    (``q_blocking_b1``) and B2 (``q_blocking_b2``) through the same
    salted generator — union-folded into one slot; the ``strategy``
    column already tags each leg, so every pair row of both standalone
    checks appears verbatim in the hashed frame."""
    return q_blocking_b1(spark, sf).unionByName(q_blocking_b2(spark, sf))


def q_dedup_checks(spark, sf):
    """Composite of exact-hash dedup (``q_dedup_exact``) and blocked
    token-Jaccard + TF-IDF-cosine near-dup (``q_dedup_token_jaccard``)
    union-tagged into one (kind, k1, k2, v1, v2) frame — both checks'
    rows carried verbatim."""
    ex = q_dedup_exact(spark, sf).select(
        F.lit("exact").alias("kind"),
        F.col("text_hash").alias("k1"),
        F.col("keep_id").cast("string").alias("k2"),
        F.col("n_copies").cast("double").alias("v1"),
        F.lit(0.0).alias("v2"),
    )
    tj = q_dedup_token_jaccard(spark, sf).select(
        F.lit("tokjac").alias("kind"),
        F.col("id_A").cast("string").alias("k1"),
        F.col("id_B").cast("string").alias("k2"),
        F.col("jaccard").alias("v1"),
        F.col("tfidf_cos").alias("v2"),
    )
    return ex.unionByName(tj)


def q_doc_hygiene(spark, sf):
    """Composite of the three per-document hygiene scans — PII scrub
    (``q_pii_scrub``), Gopher repetition signals (``q_doc_repetition``)
    and benchmark 8-gram decontamination (``q_decontam_overlap``) —
    union-tagged into one (kind, doc_id, sval, v1..v4) frame with every
    source value verbatim."""
    pii = q_pii_scrub(spark, sf).select(
        F.lit("pii").alias("kind"),
        "doc_id",
        F.col("scrubbed").alias("sval"),
        F.lit(0.0).alias("v1"),
        F.lit(0.0).alias("v2"),
        F.lit(0.0).alias("v3"),
        F.lit(0.0).alias("v4"),
    )
    rep = q_doc_repetition(spark, sf).select(
        F.lit("rep").alias("kind"),
        "doc_id",
        F.lit("").alias("sval"),
        F.col("n_tokens").cast("double").alias("v1"),
        F.col("dup_token_frac").alias("v2"),
        F.col("top_token_frac").alias("v3"),
        F.col("dup_line_frac").alias("v4"),
    )
    dec = q_decontam_overlap(spark, sf).select(
        F.lit("decontam").alias("kind"),
        "doc_id",
        F.lit("").alias("sval"),
        F.col("n_shared_grams").cast("double").alias("v1"),
        F.lit(0.0).alias("v2"),
        F.lit(0.0).alias("v3"),
        F.lit(0.0).alias("v4"),
    )
    return pii.unionByName(rep).unionByName(dec)


def q_pack_budget(spark, sf):
    """Token-budgeting composite, union-tagged into one
    (kind, rid, lang, n_tokens, v1, v2, d1, d2) frame, values verbatim:

      kind='pack'     sequence packing (``q_seq_pack``: v1=bin_id,
                      v2=bin_offset)
      kind='budget'   per-language token-budget sampling
                      (``q_token_budget``: v1=cum_before)
      kind='mixplan'  domain-mixture plan (``operators/mixing.py``,
                      weights en:1 de:2 fr:4 over 50k tokens, epoch
                      cap 4 — rid=domain, n_tokens=available,
                      v1=n_full_epochs, v2=n_docs, d1=frac_epoch,
                      d2=target_tokens; weight/achieved are exact
                      functions of these)
      kind='mixsel'   the materialized mixture (``sample_mixture``
                      portable mode: rid=doc_id, lang=domain,
                      v1=epoch) — DuckDB replays plan arithmetic, the
                      md5 hash test and the epoch range explode
    """
    from record_linkage_spark.operators.mixing import (
        plan_mixture,
        sample_mixture,
    )
    from record_linkage_spark.operators.text_analysis import token_count_ws

    zd = F.lit(0.0)
    pack = q_seq_pack(spark, sf).select(
        F.lit("pack").alias("kind"),
        "rid",
        F.lit("").alias("lang"),
        "n_tokens",
        F.col("bin_id").alias("v1"),
        F.col("bin_offset").alias("v2"),
        zd.alias("d1"),
        zd.alias("d2"),
    )
    bud = q_token_budget(spark, sf).select(
        F.lit("budget").alias("kind"),
        F.col("doc_id").cast("string").alias("rid"),
        "lang",
        "n_tokens",
        F.col("cum_before").alias("v1"),
        F.lit(0).cast("bigint").alias("v2"),
        zd.alias("d1"),
        zd.alias("d2"),
    )
    corpus = (
        _t(spark, sf, "documents")
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
    mp = plan.select(
        F.lit("mixplan").alias("kind"),
        F.col("domain").alias("rid"),
        F.lit("").alias("lang"),
        F.col("available_tokens").alias("n_tokens"),
        F.col("n_full_epochs").alias("v1"),
        F.col("n_docs").alias("v2"),
        F.col("frac_epoch").alias("d1"),
        F.col("target_tokens").alias("d2"),
    )
    ms = sample_mixture(corpus, plan, portable=True).select(
        F.lit("mixsel").alias("kind"),
        F.col("doc_id").cast("string").alias("rid"),
        F.col("domain").alias("lang"),
        "n_tokens",
        F.col("epoch").cast("bigint").alias("v1"),
        F.lit(0).cast("bigint").alias("v2"),
        zd.alias("d1"),
        zd.alias("d2"),
    )
    return pack.unionByName(bud).unionByName(mp).unionByName(ms)


def q_near_dup_pairs(spark, sf):
    """Composite of the MinHash-LSH pair checks (symmetric +
    cross-corpus, ``q_minhash_pairs``), the SimHash pigeonhole check
    (``q_simhash_hd``) and the SemDeDup embedding keep-policy
    (``q_semantic_dedup`` verbatim) in one (kind, id_A, id_B, v, i1,
    i2) frame — v carries jaccard for the MinHash legs, the Hamming
    distance for SimHash and centroid_sim for SemDeDup (i1=cell,
    i2=keep; id_B=group_id)."""
    pad = [F.lit(0).cast("bigint").alias("i1"), F.lit(0).cast("bigint").alias("i2")]
    mh = q_minhash_pairs(spark, sf).withColumnRenamed("jaccard", "v").select(
        "kind", "id_A", "id_B", "v", *pad
    )
    sh = q_simhash_hd(spark, sf).select(
        F.lit("simhash").alias("kind"),
        F.col("id_A").cast("string").alias("id_A"),
        F.col("id_B").cast("string").alias("id_B"),
        F.col("hamming").cast("double").alias("v"),
        *pad,
    )
    sd = q_semantic_dedup(spark, sf).select(
        F.lit("semdedup").alias("kind"),
        F.col("vec_id").cast("string").alias("id_A"),
        F.col("group_id").cast("string").alias("id_B"),
        F.col("centroid_sim").alias("v"),
        F.col("cell").cast("bigint").alias("i1"),
        F.col("keep").cast("bigint").alias("i2"),
    )
    return mh.unionByName(sh).unionByName(sd)


def q_bpe_pairs(spark, sf):
    """First-round BPE pair statistics (``operators/bpe.py``) over the
    documents corpus: top-20 frequency-weighted adjacent-symbol pairs,
    ranked by (count DESC, pair ASC) for a fully deterministic set.
    Exercises the production ``word_frequencies`` -> ``initial_symbols``
    -> ``bpe_pair_counts`` chain the trainer's first merge round runs."""
    from pyspark.sql import Window

    from record_linkage_spark.operators.bpe import (
        bpe_pair_counts,
        initial_symbols,
        word_frequencies,
    )

    d = _t(spark, sf, "documents")
    pc = bpe_pair_counts(initial_symbols(word_frequencies(d))).select(
        F.concat("a", F.lit("|"), "b").alias("k"),
        F.col("n").cast("double").alias("v"),
    )
    # the pair table is O(|alphabet|^2) rows, so the single-partition
    # rank window is a few hundred rows, not a corpus sort
    w = Window.orderBy(F.desc("v"), "k")
    return (
        pc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(F.lit("bpe_pairs").alias("chk"), "k", "v")
    )


def q_pagerank_top(spark, sf):
    """Damped PageRank (``operators/graph_rank.py``) over the
    customer->supplier order graph, 3 power iterations, top-25 nodes
    ranked by the 6-decimal-rounded score (so float sum-order noise
    cannot reorder ties between engines). The DuckDB twin unrolls the
    same three iterations as nested CTEs."""
    from record_linkage_spark.operators.graph_rank import pagerank, top_ranked

    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    top = top_ranked(pagerank(edges, num_iters=3), k=25)
    return top.select(
        F.lit("pagerank").alias("chk"),
        F.col("node").alias("k"),
        F.col("r").alias("v"),
    )


def q_label_prop_top(spark, sf):
    """Label spreading (``operators/graph_rank.py``) over the
    customer->supplier order graph: suppliers seed labels by
    nationkey%3, 2 iterations, top-25 (node, label) scores ranked by
    the 6-decimal-rounded value. The DuckDB twin unrolls both
    iterations with the same full-outer seed mix."""
    from pyspark.sql import Window

    from record_linkage_spark.operators.graph_rank import label_propagation

    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    seeds = _t(spark, sf, "supplier").select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node"),
        F.concat(
            F.lit("n"), (F.col("s_nationkey") % 3).cast("string")
        ).alias("label"),
    )
    state = label_propagation(edges, seeds, num_iters=2).select(
        F.concat("node", F.lit("|"), "label").alias("k"),
        F.round("score", 6).alias("v"),
    )
    w = Window.orderBy(F.desc("v"), "k")
    return (
        state.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .select(F.lit("lprop").alias("chk"), "k", "v")
    )


def q_hll_check(spark, sf):
    """HyperLogLog fold (``operators/sketches.py``): the full register
    table (exact integers — max rho per register, portable md5_60 hash,
    integer bit-length rho so no float can flip a register) per order
    status over ``o_orderkey``, plus the merged raw-branch distinct
    estimate over all orders (15k distinct >> 2.5m = 640, so both
    engines take the bias-corrected branch — one scaled-integer sum and
    one double division each, order-free). The DuckDB twin replays
    hash -> register -> max -> estimate bit-for-bit."""
    from record_linkage_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    o = _t(spark, sf, "orders").select(
        F.col("o_orderstatus").alias("g"),
        F.col("o_orderkey").cast("string").alias("v"),
    )
    regs = hll_registers(o, "v", ["g"], p=8)
    reg_rows = regs.select(
        F.lit("hll").alias("chk"),
        F.concat("g", F.lit(":"), F.col("reg").cast("string")).alias("k"),
        F.col("rho").cast("double").alias("v"),
    )
    total = hll_estimate(hll_merge([regs.select("reg", "rho")]), p=8)
    est_rows = total.select(
        F.lit("hll_est").alias("chk"),
        F.lit("orders").alias("k"),
        F.round("est_distinct", 6).alias("v"),
    )
    return reg_rows.unionByName(est_rows)


def q_hh_check(spark, sf):
    """Misra-Gries heavy hitters fold (``operators/sketches.py``):
    capacity 512 over lineitem supplier keys (100 distinct per partition
    << capacity, so the bounded-state summaries are provably EXACT and
    the SQL twin is a plain groupBy count) — top-25 by (count desc, key)."""
    from record_linkage_spark.operators.sketches import heavy_hitters

    li = _t(spark, sf, "lineitem").select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("v")
    )
    hh = heavy_hitters(li, "v", capacity=512)
    w = Window.orderBy(F.desc("est_count"), "v")
    return (
        hh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .select(
            F.lit("hh").alias("chk"),
            F.col("v").alias("k"),
            F.col("est_count").cast("double").alias("v"),
        )
    )


def q_bloom_check(spark, sf):
    """Bloom-filter fold (``operators/sketches.py``): build the word
    table over the 100 supplier names (2 hashes, 8192 bits), probe it
    with 300 customer names (misses modulo deterministic false
    positives) and every supplier name (must ALL hit — the zero-false-
    negative contract). The DuckDB twin rebuilds the packed words with
    bit_or/shift over the same md5 positions and replays both probes."""
    from record_linkage_spark.operators.sketches import (
        bloom_build,
        bloom_member_flags,
    )

    sup = _t(spark, sf, "supplier")
    members = sup.select(F.col("s_name").alias("v")).distinct()
    filt = bloom_build(members, "v", n_bits=8192, n_hashes=2)
    probes = (
        _t(spark, sf, "customer")
        .filter(F.col("c_custkey") <= 300)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("k"),
            F.col("c_name").alias("v"),
        )
        .unionByName(
            sup.select(
                F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("k"),
                F.col("s_name").alias("v"),
            )
        )
    )
    out = bloom_member_flags(probes, "v", filt, n_bits=8192, n_hashes=2)
    return out.select(
        F.lit("bloom").alias("chk"),
        "k",
        F.col("bloom_hit").cast("double").alias("v"),
    )


def q_cms_check(spark, sf):
    """CountMin-sketch fold (``operators/sketches.py``): a 3x64 sketch
    over order priorities — the full counter table (integer-exact sums
    over the salted portable md5_60 positions) plus the min-over-rows
    point estimate for every distinct priority. The DuckDB twin rebuilds
    the counters with the same salted hashes and replays the
    least-of-three readout."""
    from record_linkage_spark.operators.sketches import cms_build, cms_estimate

    o = _t(spark, sf, "orders").select(F.col("o_orderpriority").alias("v"))
    cms = cms_build(o, "v", depth=3, width=64)
    counters = cms.select(
        F.lit("cms").alias("chk"),
        F.concat(F.col("row").cast("string"), F.lit(":"), F.col("col").cast("string")).alias("k"),
        F.col("cnt").cast("double").alias("v"),
    )
    ests = cms_estimate(o.distinct(), "v", cms, depth=3, width=64).select(
        F.lit("cms_est").alias("chk"),
        F.concat(F.lit("est:"), "v").alias("k"),
        F.col("est_count").cast("double").alias("v"),
    )
    # join-cardinality estimate (the shuffle-planning primitive): inner
    # product of this sketch against the sketch of a filtered subset
    from record_linkage_spark.operators.sketches import cms_join_cardinality

    o3 = _t(spark, sf, "orders").filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderpriority").alias("v")
    )
    jc = cms_join_cardinality(
        cms, cms_build(o3, "v", depth=3, width=64), depth=3
    ).select(
        F.lit("cms_join").alias("chk"),
        F.lit("est").alias("k"),
        F.col("est_join_rows").cast("double").alias("v"),
    )
    return counters.unionByName(ests).unionByName(jc)


def q_ftq_check(spark, sf):
    """Quality-classifier fold (``operators/quality_classifier.py``):
    hashed unigram+bigram features (dim 256, portable md5_60 hashing),
    the closed-form NB log-odds trainer with lang='en' as the positive
    class, and the full train-then-score pass — emits the intercept
    weight plus every document's 6-decimal-rounded margin. The DuckDB
    twin replays tokenize -> hash -> L1 normalize -> class masses ->
    log-odds -> join-sum margin end to end, so the WHOLE train+score
    pipeline is value-checked, not just the scorer."""
    from record_linkage_spark.operators.quality_classifier import (
        INTERCEPT_FEAT,
        hashed_ngram_features,
        nb_quality_weights,
        score_quality,
    )

    d = _t(spark, sf, "documents").filter(
        F.col("text").isNotNull()
        & F.col("lang").isNotNull()
        & (F.trim("text") != "")
    )
    feats = hashed_ngram_features(d, dim=256)
    labels = d.select(
        F.col("doc_id").alias("id"), (F.col("lang") == "en").cast("int").alias("y")
    )
    w = nb_quality_weights(feats, labels, dim=256)
    icpt = w.filter(F.col("feat") == INTERCEPT_FEAT).select(
        F.lit("ftq").alias("chk"),
        F.lit("icpt").alias("k"),
        F.round("w", 6).alias("v"),
    )
    m = score_quality(feats, w).select(
        F.lit("ftq").alias("chk"),
        F.col("id").cast("string").alias("k"),
        F.round("margin", 6).alias("v"),
    )
    return icpt.unionByName(m)


def q_calib_check(spark, sf):
    """Calibration-report fold (``operators/calibration.py``): the
    reliability diagram (per-bin n / mean predicted / observed rate)
    and the ECE scalar over a deterministically miscalibrated scored
    set — score = portable md5-uniform per order key, label drawn by a
    second md5-uniform against score² (so the scores are provably
    overconfident and every gap row is non-trivial). The DuckDB twin
    replays hash → label → binning → report → ECE end to end. The
    PAV/Platt fitters consume exactly this bin statistic and are pinned
    by ``tests/test_calibration.py`` (driver-side iterative, no SQL)."""
    from record_linkage_spark.operators.calibration import (
        expected_calibration_error,
        reliability_report,
    )

    key = F.col("o_orderkey").cast("string")
    denom = F.lit(float(1 << 48))
    s = F.conv(F.substring(F.md5(key), 1, 12), 16, 10).cast("double") / denom
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("y"), key)), 1, 12), 16, 10)
        .cast("double") / denom
    )
    scored = _t(spark, sf, "orders").select(
        s.alias("score"), (u < s * s).cast("int").alias("label")
    )
    rep = reliability_report(scored, n_bins=10).localCheckpoint()
    bin_k = F.col("bin").cast("string")
    rows = (
        rep.select(
            F.lit("reliab").alias("chk"),
            F.concat(bin_k, F.lit(":n")).alias("k"),
            F.col("n").cast("double").alias("v"),
        )
        .unionByName(
            rep.select(
                F.lit("reliab").alias("chk"),
                F.concat(bin_k, F.lit(":mp")).alias("k"),
                F.round("mean_p", 6).alias("v"),
            )
        )
        .unionByName(
            rep.select(
                F.lit("reliab").alias("chk"),
                F.concat(bin_k, F.lit(":fp")).alias("k"),
                F.round("frac_pos", 6).alias("v"),
            )
        )
    )
    ece = expected_calibration_error(rep).select(
        F.lit("ece").alias("chk"),
        F.lit("ece").alias("k"),
        F.round("ece", 6).alias("v"),
    )
    return rows.unionByName(ece)


def q_hist_check(spark, sf):
    """Quantile-histogram fold (``operators/sketches.py``): the full
    HDR bucket table (precision 6, pure bit math — ``length(bin(v))``
    + shifts, the HLL no-float discipline) over floor(o_totalprice),
    plus the lower-bound quantile readout at five ranks. The DuckDB
    twin replays bucketing, the window cumsum, the ceil-rank selection
    and the exact lower-bound reconstruction end to end."""
    from record_linkage_spark.operators.sketches import (
        histogram_quantiles,
        int_histogram,
    )

    v = _t(spark, sf, "orders").select(
        F.floor("o_totalprice").cast("long").alias("v")
    )
    hist = int_histogram(v, "v", precision=6).localCheckpoint()
    rows = hist.select(
        F.lit("hist").alias("chk"),
        F.col("bucket").cast("string").alias("k"),
        F.col("n").cast("double").alias("v"),
    )
    qs = histogram_quantiles(
        hist, [0.25, 0.5, 0.75, 0.9, 0.99], precision=6
    ).select(
        F.lit("histq").alias("chk"),
        F.col("q").cast("string").alias("k"),
        F.col("v_est").cast("double").alias("v"),
    )
    return rows.unionByName(qs)


def q_privacy_check(spark, sf):
    """Release-gate fold (``operators/privacy.py``): per-class sizes and
    distinct-sensitive counts over a (segment, nation-bucket) QI with
    account-balance sign as the sensitive value, the k_min gate scalar,
    and the record count surviving ``suppress_below_k(k=200)``. The
    DuckDB twin replays class build, diversity counts, the floor and
    the suppression sum."""
    from record_linkage_spark.operators.privacy import (
        k_anonymity_report,
        l_diversity_report,
        suppress_below_k,
    )

    d = _t(spark, sf, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_custkey") % 5).cast("string").alias("nb"),
        (F.col("c_acctbal") > 0).alias("pos"),
    )
    classes = l_diversity_report(d, ["seg", "nb"], "pos").localCheckpoint()
    key = F.concat("seg", F.lit(":"), "nb")
    rows = classes.select(
        F.lit("kanon").alias("chk"), key.alias("k"),
        F.col("n").cast("double").alias("v"),
    ).unionByName(
        classes.select(
            F.lit("ldiv").alias("chk"), key.alias("k"),
            F.col("l").cast("double").alias("v"),
        )
    )
    gate = k_anonymity_report(d, ["seg", "nb"]).select(
        F.lit("kanon").alias("chk"), F.lit("_gate:k_min").alias("k"),
        F.col("k_min").cast("double").alias("v"),
    )
    supp = suppress_below_k(d, ["seg", "nb"], 200).agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        F.lit("kanon").alias("chk"), F.lit("_gate:supp200").alias("k"),
        F.col("n").cast("double").alias("v"),
    )
    return rows.unionByName(gate).unionByName(supp)


def q_entity_split(spark, sf):
    """Leakage-safe split fold (``ground_truth.entity_safe_split`` +
    ``split_leakage_audit``): entities from the planted CC graph are
    hash-routed whole, so the audit's off-diagonal (cross-split) pair
    rows are structurally zero while the diagonal carries the planted
    edge mass. Emits per-split record/entity counts plus the audit
    matrix; the DuckDB twin reruns the recursive-CTE components, the
    md5_60 entity bucket, and both joins."""
    from record_linkage_spark.operators.ground_truth import (
        entity_safe_split,
        split_leakage_audit,
    )

    splits = entity_safe_split(q_cc_components(spark, sf))
    recs = splits.groupBy("split").agg(F.count(F.lit(1)).cast("double").alias("v"))
    ents = splits.groupBy("split").agg(
        F.countDistinct("entity_id").cast("double").alias("v")
    )
    d = _t(spark, sf, "documents").select("doc_id")
    ids = d.select(F.col("doc_id").alias("dst"))
    chain = d.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 1).alias("dst")
    )
    bridge = d.filter(F.col("doc_id") % 11 == 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 3).alias("dst")
    )
    edges = chain.unionByName(bridge).join(ids, "dst", "left_semi")
    pairs = edges.select(
        F.least("src", "dst").alias("id_A"), F.greatest("src", "dst").alias("id_B")
    )
    audit = split_leakage_audit(splits, pairs)
    return (
        recs.select(
            F.lit("esplit").alias("chk"),
            F.concat("split", F.lit(":recs")).alias("k"),
            "v",
        )
        .unionByName(
            ents.select(
                F.lit("esplit").alias("chk"),
                F.concat("split", F.lit(":ents")).alias("k"),
                "v",
            )
        )
        .unionByName(
            audit.select(
                F.lit("esplit").alias("chk"),
                F.concat(F.lit("pairs:"), "split_A", F.lit("|"), "split_B").alias("k"),
                F.col("n_pairs").cast("double").alias("v"),
            )
        )
    )


def q_drift_check(spark, sf):
    """Corpus-drift fold (``operators/drift.py``): snapshot A (even doc
    ids) vs snapshot B (ids not divisible by 3) over a fixed n_chars bin
    grid and a lang category whitelist — the full per-bin count/fraction
    table plus the per-feature PSI / Jensen-Shannon / total-variation
    scalars. The DuckDB twin replays the binning CASEs, the per-feature
    window totals, the full-outer bin join and all three divergence
    formulas (same eps clamp and 0*ln(0/m)=0 convention)."""
    from record_linkage_spark.operators.drift import (
        CatSpec,
        HistSpec,
        drift_report,
        drift_scalars,
    )

    d = _t(spark, sf, "documents")
    specs = [
        HistSpec("n_chars", "n_chars", (50, 100, 200, 400, 800)),
        CatSpec("lang", "lang", ("en", "de", "fr")),
    ]
    rep = drift_report(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 3 != 0),
        specs,
    ).localCheckpoint()
    key = F.concat("feature", F.lit(":"), "bin")
    bins = None
    for m, c in [
        ("na", F.col("n_a").cast("double")),
        ("nb", F.col("n_b").cast("double")),
        ("fa", F.col("frac_a")),
        ("fb", F.col("frac_b")),
    ]:
        leg = rep.select(
            F.lit("drift_bin").alias("chk"),
            F.concat(key, F.lit(":" + m)).alias("k"),
            c.alias("v"),
        )
        bins = leg if bins is None else bins.unionByName(leg)
    scal = drift_scalars(rep)
    for m in ("psi", "jsd", "tv"):
        bins = bins.unionByName(
            scal.select(
                F.lit("drift").alias("chk"),
                F.concat("feature", F.lit(":" + m)).alias("k"),
                F.col(m).alias("v"),
            )
        )
    return bins


def q_cohort_funnel_check(spark, sf):
    """Product-analytics fold (``operators/agent_analytics.py``): the
    7-day cohort retention matrix over the events activity stream plus
    the strict-order signup→view→purchase funnel (counts and
    conversion fractions). The DuckDB twin replays the distinct-day
    activity set, the epoch-anchored calendar math, and the
    min-after-previous-step sequential joins."""
    from record_linkage_spark.operators.agent_analytics import (
        cohort_retention,
        event_funnel,
    )

    ev = _t(spark, sf, "events")
    coh = cohort_retention(ev, period_days=7).select(
        F.lit("cohort").alias("chk"),
        F.concat_ws(
            ":", F.col("cohort").cast("string"), F.col("offset").cast("string")
        ).alias("k"),
        F.col("n_users").cast("double").alias("v"),
    )
    fun = event_funnel(ev, ["signup", "view", "purchase"]).selectExpr(
        "stack(2, step_idx || ':' || step || ':n', CAST(n_users AS DOUBLE), "
        "step_idx || ':' || step || ':f', frac_of_first) AS (k, v)"
    ).select(F.lit("funnel").alias("chk"), "k", "v")
    return coh.unionByName(fun)


def q_chunks_check(spark, sf):
    """Chunking fold (``operators/chunking.py``): overlapping 32-token
    windows at stride 16 over the first 120 documents; each row's check
    key embeds (doc, chunk_idx, start offset, first token, last token)
    and the value is the chunk length — boundaries, coverage and tail
    behavior are all value-checked. The DuckDB twin replays tokenize →
    generate_series → 1-based clamped slice."""
    from record_linkage_spark.operators.chunking import chunk_documents

    d = _t(spark, sf, "documents").filter(F.col("doc_id") <= 120)
    ch = chunk_documents(d, chunk_tokens=32, stride=16)
    piece = F.split(F.col("chunk_text"), " ")
    return ch.select(
        F.lit("chunks").alias("chk"),
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.col("chunk_idx").cast("string"),
            F.col("start_tok").cast("string"),
            F.element_at(piece, 1),
            F.element_at(piece, -1),
        ).alias("k"),
        F.col("n_tok").cast("double").alias("v"),
    )


def q_skew_check(spark, sf):
    """Skew-diagnosis fold (``operators/skew.py``): exact key counts
    over order priorities, the per-key share / skew-factor / salt plan
    at 8 partitions, the one-row gate, and the simulated hash-partition
    loads + imbalance under the portable md5_60 hash. The DuckDB twin
    replays counts, every division/ceil, the modular partition
    assignment and the imbalance ratio."""
    from record_linkage_spark.operators.skew import (
        key_frequencies,
        load_imbalance,
        partition_loads,
        skew_report,
        skew_scalars,
    )

    counts = key_frequencies(
        _t(spark, sf, "orders"), ["o_orderpriority"]
    ).localCheckpoint()
    rep = skew_report(counts, 8).localCheckpoint()
    key_rows = rep.selectExpr(
        "stack(4, key || ':n', CAST(n AS DOUBLE), key || ':share', share, "
        "key || ':sf', skew_factor, key || ':salt', CAST(salt AS DOUBLE)) "
        "AS (k, v)"
    ).select(F.lit("skew").alias("chk"), "k", "v")
    scal = skew_scalars(rep).selectExpr(
        "stack(5, 'sc:total', CAST(total AS DOUBLE), "
        "'sc:n_keys', CAST(n_keys AS DOUBLE), 'sc:max_share', max_share, "
        "'sc:max_sf', max_skew_factor, 'sc:hot', CAST(n_hot_keys AS DOUBLE)) "
        "AS (k, v)"
    ).select(F.lit("skew").alias("chk"), "k", "v")
    loads = partition_loads(counts, 8).localCheckpoint()
    load_rows = loads.select(
        F.lit("skew").alias("chk"),
        F.concat(F.lit("p:"), F.col("part").cast("string")).alias("k"),
        F.col("load").cast("double").alias("v"),
    )
    imb = load_imbalance(loads).selectExpr(
        "stack(2, 'imb:max', CAST(max_load AS DOUBLE), 'imb:ratio', imbalance) "
        "AS (k, v)"
    ).select(F.lit("skew").alias("chk"), "k", "v")
    return key_rows.unionByName(scal).unionByName(load_rows).unionByName(imb)


def q_kmv_check(spark, sf):
    """KMV / theta-sketch fold (``operators/sketches.py``): k=64
    sketches over two overlapping order-key sets (even keys vs keys
    divisible by 3), the full union-sketch hash table (exact 60-bit
    integers), and the set-operation report (distinct estimates for
    A / B / A∪B, the union-sample overlap count rho, the Jaccard
    estimate and the intersection estimate). The DuckDB twin replays
    the md5_60 k-mins, the sketch union, the semi-join rho and every
    estimator division."""
    from record_linkage_spark.operators.sketches import (
        kmv_merge,
        kmv_set_report,
        kmv_sketch,
    )

    o = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderkey") <= 6000)
        .select(
            F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("v"),
            "o_orderkey",
        )
        .coalesce(4)
    )
    a = kmv_sketch(o.filter(F.col("o_orderkey") % 2 == 0), "v", k=64).localCheckpoint()
    b = kmv_sketch(o.filter(F.col("o_orderkey") % 3 == 0), "v", k=64).localCheckpoint()
    u = kmv_merge([a, b], 64)
    urows = (
        u.withColumn(
            "rk", F.row_number().over(Window.partitionBy(F.lit(1)).orderBy("h"))
        )
        .select(
            F.lit("kmv").alias("chk"),
            F.concat(F.lit("u:"), F.col("rk").cast("string")).alias("k"),
            F.col("h").cast("double").alias("v"),
        )
    )
    rep = kmv_set_report(a, b, 64).selectExpr(
        "stack(6, 'r:est_a', est_a, 'r:est_b', est_b, 'r:est_union', est_union, "
        "'r:rho', CAST(rho AS DOUBLE), 'r:jac', jaccard_est, "
        "'r:inter', est_intersection) AS (k, v)"
    ).select(F.lit("kmv").alias("chk"), "k", "v")
    return urows.unionByName(rep)


def q_zorder_check(spark, sf):
    """Z-order layout fold (``operators/layout.py``): bucket customer
    (nation, balance) into 4-bit ranges, interleave into the Morton
    code, assign 8 equal-depth files in z order, and emit the z-values
    (first 40 keys), the per-file min/max stats, and the
    skipping-fraction readouts for both dimensions under the z layout
    AND a sort-by-nation linear layout (the control that shows why
    interleaving matters). Every number is integer bit math or an exact
    ntile — the DuckDB twin replays the bucketing, the 8-term bit
    interleave, the window file assignment and the overlap test."""
    from record_linkage_spark.operators.layout import (
        file_stats,
        range_bucket,
        skipping_fraction,
        zvalue,
    )

    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("id"),
        range_bucket("c_nationkey", 0.0, 25.0, 4).alias("bn"),
        range_bucket("c_acctbal", -1000.0, 10000.0, 4).alias("bb"),
    )
    z = c.withColumn("zval", zvalue([F.col("bn"), F.col("bb")], bits=4))
    lin = c.withColumn("zval", F.col("bn").cast("long"))
    zv_rows = z.filter(F.col("id") <= 40).select(
        F.lit("zorder").alias("chk"),
        F.concat(F.lit("zv:"), F.col("id").cast("string")).alias("k"),
        F.col("zval").cast("double").alias("v"),
    )
    sz = file_stats(z, "id", ["bn", "bb"], n_files=8).localCheckpoint()
    sl = file_stats(lin, "id", ["bn", "bb"], n_files=8).localCheckpoint()
    stat_rows = None
    for col in ("bn", "bb"):
        for m in ("min", "max"):
            leg = sz.select(
                F.lit("zorder").alias("chk"),
                F.concat(
                    F.lit("f:"), F.col("file_id").cast("string"),
                    F.lit(f":{col}:{m}"),
                ).alias("k"),
                F.col(f"{col}_{m}").cast("double").alias("v"),
            )
            stat_rows = leg if stat_rows is None else stat_rows.unionByName(leg)
    skips = None
    for name, stats in (("z", sz), ("lin", sl)):
        for col in ("bn", "bb"):
            leg = skipping_fraction(stats, col, 4, 7).select(
                F.lit("zorder").alias("chk"),
                F.lit(f"skip:{name}:{col}").alias("k"),
                F.col("skip_frac").alias("v"),
            )
            skips = leg if skips is None else skips.unionByName(leg)
    return zv_rows.unionByName(stat_rows).unionByName(skips)


def q_o2o_check(spark, sf):
    """Greedy 1:1 matching fold (``operators/matching.py``): the
    locally-dominant rounds over the oracle-proven portable scored-pair
    frame, emitted as (chk='o2o', 'id_A:id_B', score). The DuckDB twin
    replays the SEQUENTIAL greedy scan the rounds provably equal under
    the strict (score DESC, id_A, id_B) total order, via a linear
    recursive CTE carrying the used-endpoint list — putting the
    iterative operator's exact accepted set under the driver's
    rows+schema+hash signal (r4 verdict item 5)."""
    from record_linkage_spark.operators.matching import one_to_one_matching

    acc = one_to_one_matching(
        q_scored_pairs_portable(spark, sf), score_col="score"
    )
    return acc.select(
        F.lit("o2o").alias("chk"),
        F.concat_ws(":", "id_A", "id_B").alias("k"),
        F.col("score").cast("double").alias("v"),
    )


def q_greedy_check(spark, sf):
    """Greedy within-block clustering fold (``operators/clustering.py``
    M7, the reference's sequential first-fit scan as applyInPandas):
    over a portable documents-derived record frame — 17 hash blocks,
    two derived attrs with planted NULLs (None==None counts equal),
    max_diff=1 — emitted as (chk='greedy', rid, cluster_rep). The
    DuckDB twin replays the per-block sequential scan with a lockstep
    recursive CTE: one state row per block carries the rep list
    (STRUCT[]), each iteration assigns row rn+1 of every block to its
    FIRST rep within max_diff (IS DISTINCT FROM = the operator's
    missing-equals-missing rule) or founds a new rep. Puts the
    applyInPandas iterative kernel under the driver's
    rows+schema+hash signal."""
    from record_linkage_spark.operators.clustering import (
        greedy_within_block_clusters,
    )

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    recs = d.select(
        F.col("doc_id").cast("string").alias("rid"),
        (F.col("doc_id") % 17).cast("string").alias("blk"),
        F.when(F.length("text") % 7 == 0, None)
        .otherwise(F.substring("text", 1, 6))
        .alias("a1"),
        (F.length("text") % 4).cast("string").alias("a2"),
    )
    out = greedy_within_block_clusters(
        recs, "blk", ["a1", "a2"], max_diff=1, id_col="rid"
    )
    return out.select(
        F.lit("greedy").alias("chk"),
        F.col("rid").alias("k"),
        F.col("cluster_rep").cast("double").alias("v"),
    )


def q_scalar_checks(spark, sf):
    """P1/A1 missing%, P14 prefix-key histogram, J5 semi/anti counts,
    A6 confusion counts, X1 hash-split sizes — one (chk, k, v) frame —
    plus the corpus-profile rows (n-gram top-k + length quantiles,
    ``q_corpus_profile``) verbatim, the first-round BPE pair counts
    (``q_bpe_pairs``) and the PageRank top-25 (``q_pagerank_top``):
    all sides are already (chk, k, v) tagged, so the unions cost nothing and
    keep the window at 50 slots."""
    def tag(df, chk, k, v):
        return df.select(
            F.lit(chk).alias("chk"),
            F.col(k).cast("string").alias("k"),
            F.col(v).cast("double").alias("v"),
        )

    p1 = q_p1_missing_pct(spark, sf).selectExpr(
        "stack(3, 'null_text', null_text, 'null_lang', null_lang, "
        "'null_source', null_source) AS (k, v)"
    )
    j5 = q_j5_semi_anti(spark, sf).selectExpr(
        "stack(2, 'n_with', n_with, 'n_without', n_without) AS (k, v)"
    )
    a6 = q_a6_confusion(spark, sf).selectExpr(
        "stack(4, 'tp', tp, 'fp', fp, 'fn', fn, 'tn', tn) AS (k, v)"
    )
    return (
        tag(p1, "p1_missing_pct", "k", "v")
        .unionByName(tag(q_p14_prefix_key(spark, sf), "p14_prefix_key", "pfx", "n"))
        .unionByName(tag(j5, "j5_semi_anti", "k", "v"))
        .unionByName(tag(a6, "a6_confusion", "k", "v"))
        .unionByName(tag(q_x1_hash_split(spark, sf), "x1_hash_split", "split", "n"))
        .unionByName(q_corpus_profile(spark, sf))
        .unionByName(q_bpe_pairs(spark, sf))
        .unionByName(q_pagerank_top(spark, sf))
        .unionByName(q_label_prop_top(spark, sf))
        .unionByName(q_hll_check(spark, sf))
        .unionByName(q_hh_check(spark, sf))
        .unionByName(q_bloom_check(spark, sf))
        .unionByName(q_entity_split(spark, sf))
        .unionByName(q_cms_check(spark, sf))
        .unionByName(q_ftq_check(spark, sf))
        .unionByName(q_calib_check(spark, sf))
        .unionByName(q_hist_check(spark, sf))
        .unionByName(q_privacy_check(spark, sf))
        .unionByName(q_drift_check(spark, sf))
        .unionByName(q_zorder_check(spark, sf))
        .unionByName(q_kmv_check(spark, sf))
        .unionByName(q_skew_check(spark, sf))
        .unionByName(q_chunks_check(spark, sf))
        .unionByName(q_cohort_funnel_check(spark, sf))
        .unionByName(q_o2o_check(spark, sf))
        .unionByName(q_greedy_check(spark, sf))
    )


def q_p2_p11_filter_canon(spark, sf):
    """P2 critical-column na.drop composed with P11 canonicalization map."""
    d = _t(spark, sf, "documents")
    canon = (
        F.when(F.col("lang") == "en", "english")
        .when(F.col("lang") == "de", "german")
        .when(F.col("lang") == "fr", "french")
        .otherwise(F.col("lang"))
    )
    return d.filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    ).select("doc_id", "lang", "n_chars", canon.alias("lang_canon"))


def q_p4_p21_serialize(spark, sf):
    """P4/P5 mediated-schema rename+projection carrying the P21 Ditto
    serialization of the same record."""
    from record_linkage_spark.functions.text import serialize_record

    c = _t(spark, sf, "customer")
    ser = serialize_record(
        [
            ("name", F.col("c_name")),
            ("segment", F.col("c_mktsegment")),
            ("nation", F.col("c_nationkey")),
        ]
    )
    return c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        ser.alias("serialized"),
    )


def q_j3_hydrate_diff(spark, sf):
    """J3 pair hydration + F12 null-safe field-diff count over the
    hydrated columns (one slot, both ops value-checked)."""
    from record_linkage_spark.functions.comparators import field_diff_count

    pairs = q_j3_hydrate_pairs(spark, sf)
    diff = field_diff_count([("name_A", "name_B"), ("bal_A", "bal_B")])
    return pairs.withColumn("n_diff", diff.cast("int"))


def q_group_counts(spark, sf):
    """A4 label distribution + A8 corpus document frequency — both
    groupBy-count shapes, folded to one (kind, k, n) frame."""
    a4 = q_a4_group_count(spark, sf).select(
        F.lit("lang").alias("kind"), F.col("lang").alias("k"), "n"
    )
    a8 = q_a8_doc_freq(spark, sf).select(
        F.lit("token").alias("kind"), F.col("token").alias("k"), F.col("df").alias("n")
    )
    return a4.unionByName(a8)


def q_w2_latest_parsed(spark, sf):
    """W1/W2 representative-per-key window + F8 date parsing of the kept
    row's order date."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    ts = F.to_timestamp(F.col("o_orderdate").cast("string"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderstatus",
            F.year(ts).cast("int").alias("yr"),
            F.month(ts).cast("int").alias("mo"),
            F.date_format(ts, "yyyy-MM").alias("ym"),
        )
    )


def q_similarity_funcs(spark, sf):
    """Scalar-comparator composite, tagged (kind, id1, id2, v1, v2, v3):

      kind='names'  F1 Jaro-Winkler (Arrow kernel vs DuckDB native JW) +
                    F2 Levenshtein distance/similarity over the
                    customer x supplier name pairs
                    (v1=jw, v2=lev, v3=lev_sim)
      kind='monge'  Monge-Elkan hybrid comparator (JW inner metric,
                    ``monge_elkan_pairs`` — ONE flattened kernel call
                    per batch) over brand-blocked part name+type pairs;
                    DuckDB replays the token cross-product with native
                    jaro_winkler_similarity (v1=symmetric max,
                    v2=me_ab, v3=me_ba)
      kind='soft_tfidf'  SoftTFIDF hybrid comparator rows
                    (``q_soft_tfidf`` verbatim: v1=soft_tfidf,
                    v2=st_ab, v3=st_ba)
    """
    from record_linkage_spark.functions.similarity import (
        jw_sim,
        levenshtein_sim,
        monge_elkan_pairs,
    )

    p = _name_pairs(spark, sf)
    names = p.select(
        F.lit("names").alias("kind"),
        F.col("c_custkey").cast("bigint").alias("id1"),
        F.col("s_suppkey").cast("bigint").alias("id2"),
        F.round(jw_sim("c_name", "s_name"), 6).alias("v1"),
        F.levenshtein("c_name", "s_name").cast("double").alias("v2"),
        F.round(levenshtein_sim("c_name", "s_name"), 6).alias("v3"),
    )
    part = (
        _t(spark, sf, "part")
        .filter(F.col("p_partkey") < 500)
        .select(
            "p_partkey",
            "p_brand",
            F.concat_ws(" ", "p_name", "p_type").alias("nm"),
        )
    )
    a = part.select(
        F.col("p_partkey").alias("id1"), "p_brand", F.col("nm").alias("nm_a")
    )
    b = part.select(
        F.col("p_partkey").alias("id2"), "p_brand", F.col("nm").alias("nm_b")
    )
    me = (
        a.join(b, "p_brand")
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("_me", monge_elkan_pairs("nm_a", "nm_b"))
        .select(
            F.lit("monge").alias("kind"),
            F.col("id1").cast("bigint").alias("id1"),
            F.col("id2").cast("bigint").alias("id2"),
            F.round(F.greatest("_me.me_ab", "_me.me_ba"), 6).alias("v1"),
            F.round("_me.me_ab", 6).alias("v2"),
            F.round("_me.me_ba", 6).alias("v3"),
        )
    )
    st = q_soft_tfidf(spark, sf).select(
        F.lit("soft_tfidf").alias("kind"),
        F.col("id_A").alias("id1"),
        F.col("id_B").alias("id2"),
        F.col("soft_tfidf").alias("v1"),
        F.col("st_ab").alias("v2"),
        F.col("st_ba").alias("v3"),
    )
    return names.unionByName(me).unionByName(st)


def q_text_stats(spark, sf):
    """Text-analysis trio in one frame: token counting (ws + BPE-ish),
    quality scoring features, stopword-profile language ID."""
    from record_linkage_spark.operators.text_analysis import (
        language_id,
        quality_features,
        token_count_bpe_ish,
        token_count_ws,
    )

    d = _t(spark, sf, "documents")
    qf = quality_features(d)
    return qf.select(
        "doc_id",
        token_count_ws("text").cast("bigint").alias("n_ws"),
        token_count_bpe_ish("text").cast("bigint").alias("n_bpe"),
        F.col("q_n_tokens").cast("bigint").alias("n_tokens"),
        F.round("q_stopword_ratio", 6).alias("stopword_ratio"),
        F.round("q_alpha_ratio", 6).alias("alpha_ratio"),
        F.round("q_score", 6).alias("q_score"),
        language_id("text").alias("lang_pred"),
    )


def q_event_windows(spark, sf):
    """Tumbling-window rollup + gap sessionization (the two streaming
    window shapes, batch-API twins) folded to one (kind, k, w_start, n,
    sum_value) frame."""
    h = q_event_hourly(spark, sf).select(
        F.lit("hourly").alias("kind"),
        F.col("event_type").alias("k"),
        F.col("hour_start").alias("w_start"),
        "n",
        "sum_value",
    )
    s = q_event_sessions(spark, sf).select(
        F.lit("session").alias("kind"),
        F.col("user_id").cast("string").alias("k"),
        F.col("session_start").alias("w_start"),
        F.col("n_events").alias("n"),
        "sum_value",
    )
    return h.unionByName(s)


def q_sampling_checks(spark, sf):
    """W3/W4 deterministic hash-quota sampling + the two-stage stratified
    quota sampler (X-family) folded to one (kind, doc_id, lang) frame."""
    w4 = q_w4_hash_quota(spark, sf).select(
        F.lit("hash_quota").alias("kind"), "doc_id", "lang"
    )
    st = q_strat_sample(spark, sf).select(
        F.lit("stratified").alias("kind"), "doc_id", "lang"
    )
    return w4.unionByName(st)


def q_rollup_portable(spark, sf):
    """The north_star's FIRST clause — conversations rolled up via
    ``groupBy(conv_id) + collect_list`` with explicit
    ``sortWithinPartitions(turn_idx)`` (``operators/rollup.py``) — under
    the hard signal: a transcript-shaped table is derived SQL-portably
    from events (conv_id = user_id, turn order = (ts, event_id),
    role/tool from event_id arithmetic), rolled up by the PRODUCTION
    operator, and every SQL-portable profile column (counts, role
    tallies, normalized first/last text, token prefix/set, tools,
    timestamps, duration, length bucket) is value-checked against a
    DuckDB ordered-aggregation replay. Only the siphash
    ``token_hash_set`` stays rows-only (``rl_profiles``)."""
    from record_linkage_spark.operators.rollup import rollup_conversations

    e = _t(spark, sf, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    roles = F.array(F.lit("user"), F.lit("assistant"), F.lit("tool"))
    t = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.element_at(roles, (F.col("event_id") % 3 + 1).cast("int")).alias("role"),
        F.concat_ws(" ", "event_type", F.col("event_id").cast("string")).alias("text"),
        F.when(
            F.col("event_id") % 5 == 0,
            F.concat(F.lit("tool_"), (F.col("event_id") % 4).cast("string")),
        ).alias("tool"),
        "ts",
    )
    prof = rollup_conversations(t)
    return prof.select(
        "conv_id",
        F.col("n_turns").cast("bigint").alias("n_turns"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_user_turns").cast("bigint").alias("n_user_turns"),
        F.col("n_assistant_turns").cast("bigint").alias("n_assistant_turns"),
        F.col("n_tool_turns").cast("bigint").alias("n_tool_turns"),
        "first_role",
        "first_text_norm",
        "last_text_norm",
        "token_prefix",
        F.concat_ws(" ", "tools_used").alias("tools_used"),
        "primary_tool",
        F.col("text_len_bucket").cast("int").alias("text_len_bucket"),
        F.date_format("started_at", "yyyy-MM-dd HH:mm:ss").alias("started_at"),
        F.date_format("ended_at", "yyyy-MM-dd HH:mm:ss").alias("ended_at"),
        F.round("duration_sec", 6).alias("duration_sec"),
        F.concat_ws(" ", "token_set").alias("token_set_str"),
    )


# --------------------------------------------------------------------------
# portable flagship: blocking -> featurize -> LR scoring -> E3 report, all
# value-checked by DuckDB replaying every feature from scratch
# --------------------------------------------------------------------------

# flagship fixed FS-style weights (entry() uses the same vector)
_FLAGSHIP_WEIGHTS = [
    2.0, 1.0, 1.5, 0.8, 0.6, 0.3, 0.5, 1.2,
    0.4, 0.3, 0.8, 0.8, 0.8, 0.4, 1.0, 2.0,
]

# Fellegi-Sunter (m, u) per agreement indicator for the report's third
# model — shared by the Spark expression AND the DuckDB twin (both embed
# the same python-computed log2 literals, so there is no cross-engine
# float divergence to chase)
_FS_WEIGHTS = {
    "jw_first_high": (0.9, 0.05),
    "x_token_prefix": (0.9, 0.05),
    "x_primary_tool": (0.85, 0.3),
    "x_first_role": (0.8, 0.35),
}
_FS_LINK_THRESHOLD = 3.0


def _doc_profiles_full(spark, sf, extra: bool = False):
    """Full profile-shaped frame derived SQL-portably from documents —
    every column the M1 comparison vector reads, each one recomputable
    by the DuckDB oracle (numeric profile fields are deterministic
    functions of ``length(text)``; the token set is the plain normalized
    word set instead of the engine's xxhash token-hash set, identical
    Jaccard on deduplicated inputs). Planted same-text twins
    (doc_id+7e6 for doc_id<40) provide guaranteed within-block matches.

    ``extra`` adds two harder twin families for the E3 report entry:
    lang-flipped identical twins (+9e6, doc_id<30 — pass B1, fail B2's
    exact-tool leg) and prefix-broken twins (+8e6, 40<=doc_id<60 — true
    matches both cascades miss, so blocking recall < 1)."""
    from record_linkage_spark.functions.text import norm_text
    from record_linkage_spark.operators.text_analysis import token_count_ws

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    base = d.select("doc_id", "text", "lang")
    d = base.unionByName(
        base.filter(F.col("doc_id") < 40).select(
            (F.col("doc_id") + F.lit(7_000_000)).alias("doc_id"), "text", "lang"
        )
    )
    if extra:
        d = d.unionByName(
            base.filter(F.col("doc_id") < 30).select(
                (F.col("doc_id") + F.lit(9_000_000)).alias("doc_id"),
                "text",
                F.lit("xx").alias("lang"),
            )
        ).unionByName(
            base.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60)).select(
                (F.col("doc_id") + F.lit(8_000_000)).alias("doc_id"),
                F.concat(F.lit("zz "), F.col("text")).alias("text"),
                "lang",
            )
        )
    ln = F.length("text")
    first_norm = norm_text(F.substring("text", 1, 40))
    norm_full = norm_text(F.col("text"))
    roles = F.array(F.lit("user"), F.lit("assistant"), F.lit("system"))
    return d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.floor(ln / 200).cast("int").alias("text_len_bucket"),
        first_norm.alias("first_text_norm"),
        norm_text(F.substring("text", 21, 40)).alias("last_text_norm"),
        F.substring(first_norm, 1, 12).alias("token_prefix"),
        F.element_at(roles, (ln % 3 + 1).cast("int")).alias("first_role"),
        F.col("lang").alias("primary_tool"),
        (ln % 20 + 1).cast("int").alias("n_turns"),
        (ln % 7).cast("int").alias("n_user_turns"),
        (ln % 4).cast("int").alias("n_tool_turns"),
        token_count_ws("text").cast("int").alias("n_tokens"),
        (ln % 1000).cast("double").alias("duration_sec"),
        F.when(norm_full.isNull(), F.array().cast("array<string>"))
        .otherwise(F.array_distinct(F.split(norm_full, " ")))
        .alias("tok_set"),
    )


def _portable_feature_cols() -> list[str]:
    """Pair columns the portable M1 vector hydrates (the engine's
    ``token_hash_set`` swapped for the SQL-portable ``tok_set``)."""
    from record_linkage_spark.operators.features import FEATURE_INPUT_COLS

    return sorted(
        (set(FEATURE_INPUT_COLS) - {"token_hash_set"})
        | {"tok_set", "text_len_bucket"}
    )


def q_scored_pairs_portable(spark, sf):
    """The engine's flagship composition — salted B1 blocking generator ->
    pair hydration -> full M1 comparison vector -> codegen LR sigmoid
    (fixed literal weights) -> thresholded pred — with every feature
    SQL-portable: DuckDB replays blocking (native jaro_winkler), all 16
    features (JW-binarized, exacts, gaussians, Levenshtein, token-set
    Jaccard) and the sigmoid from scratch. Reference anchor:
    ``src/matching/logistic_regression.py:68-96,177-205``."""
    from record_linkage_spark.operators.blocking import candidate_pairs
    from record_linkage_spark.operators.classifier import LinearModel, score_pairs
    from record_linkage_spark.operators.features import add_features
    from record_linkage_spark.operators.ground_truth import hydrate_pairs

    prof = _doc_profiles_full(spark, sf).localCheckpoint()
    pairs = candidate_pairs(prof, "B1", salt_target=3).select("id_A", "id_B")
    hyd = hydrate_pairs(pairs, prof, _portable_feature_cols())
    feats = add_features(hyd, token_set_cols=("tok_set_A", "tok_set_B"))
    model = LinearModel(weights=_FLAGSHIP_WEIGHTS, intercept=-6.0, threshold=0.5)
    return score_pairs(feats, model).select(
        "id_A", "id_B", F.round("score", 6).alias("score"), "pred"
    )


def q_compare_report_portable(spark, sf):
    """E3 multi-strategy × multi-model report (reference 6-row
    ``pipeline_report.json``, ``src/evaluation/compare.py:178-197``) in
    its SQL-replayable form: fixed-weight LR + a JW threshold rule (M6)
    + a Fellegi-Sunter log-likelihood model (fixed m/u weights,
    ``operators/fellegi_sunter.py``) over a deterministic GT pair set
    (planted twins = positives, arithmetic neighbor pairs = negatives),
    one conditional-aggregate pass per (strategy × model) cell. The
    trained-model variant stays in ``rl_compare_report`` (rows-only)."""
    from record_linkage_spark.operators.classifier import LinearModel, score_expr
    from record_linkage_spark.operators.features import add_features
    from record_linkage_spark.operators.ground_truth import hydrate_pairs
    from record_linkage_spark.plans.compare import fixed_prediction_report

    prof = _doc_profiles_full(spark, sf, extra=True).localCheckpoint()
    ids = prof.select(F.col("conv_id").cast("long").alias("i")).localCheckpoint()

    def twin_pairs(pred, offset, label):
        return (
            ids.filter(pred)
            .join(ids.select((F.col("i") - offset).alias("i")), "i", "left_semi")
            .select(
                F.col("i").cast("string").alias("id_A"),
                (F.col("i") + offset).cast("string").alias("id_B"),
                F.lit(label).alias("label"),
            )
        )

    base = F.col("i") < 1_000_000
    gt = (
        twin_pairs(base & (F.col("i") < 40), 7_000_000, 1)       # identical twins
        .unionByName(twin_pairs(base & (F.col("i") < 30), 9_000_000, 1))  # lang-flipped
        .unionByName(
            twin_pairs(base & (F.col("i") >= 40) & (F.col("i") < 60), 8_000_000, 1)
        )  # prefix-broken (blocking misses them)
        .unionByName(twin_pairs(F.col("i") % 3 == 0, 2, 0))      # negatives
    )
    hyd = hydrate_pairs(gt, prof, _portable_feature_cols()).localCheckpoint()
    feats = add_features(hyd, token_set_cols=("tok_set_A", "tok_set_B"))
    model = LinearModel(weights=_FLAGSHIP_WEIGHTS, intercept=-6.0, threshold=0.5)
    from record_linkage_spark.operators.fellegi_sunter import fs_weight_expr

    models = {
        "lr": score_expr(model) >= F.lit(0.5),
        "jw_rule": (F.col("jw_first_high") >= F.lit(1.0))
        & (F.col("x_primary_tool") >= F.lit(1.0)),
        # classic probabilistic model: summed log2 likelihood ratio over
        # four agreement indicators, linked above the literal threshold
        "fs": fs_weight_expr(_FS_WEIGHTS) > F.lit(_FS_LINK_THRESHOLD),
    }
    return fixed_prediction_report(feats.localCheckpoint(), models)


# --------------------------------------------------------------------------
# contract surface
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: end-to-end record linkage on a deterministic
    transcript corpus — blocked candidate pairs scored with the Arrow JW
    kernel + FS classifier, clustered to entity ids."""
    from record_linkage_spark.operators.blocking import candidate_pairs
    from record_linkage_spark.operators.classifier import LinearModel, score_pairs
    from record_linkage_spark.operators.clustering import assign_entities
    from record_linkage_spark.operators.features import (
        FEATURE_INPUT_COLS,
        add_features,
    )
    from record_linkage_spark.operators.ground_truth import hydrate_pairs
    from record_linkage_spark.operators.rollup import rollup_conversations
    from record_linkage_spark.synth.transcripts import transcripts_table

    raw = _synth(spark, n_entities=150)
    profiles = rollup_conversations(transcripts_table(raw)).cache()
    cands = candidate_pairs(profiles, "B1")
    cols = sorted(set(FEATURE_INPUT_COLS) | {"text_len_bucket"})
    feats = add_features(
        hydrate_pairs(cands.select("id_A", "id_B"), profiles, cols)
    )
    # fixed FS-style weights (flagship smoke path — no training dependency)
    model = LinearModel(
        weights=[2.0, 1.0, 1.5, 0.8, 0.6, 0.3, 0.5, 1.2, 0.4, 0.3, 0.8, 0.8, 0.8, 0.4, 1.0, 2.0],
        intercept=-6.0,
        threshold=0.5,
    )
    scored = score_pairs(feats, model)
    edges = scored.filter(F.col("pred") == 1).select(
        F.col("id_A").alias("src"), F.col("id_B").alias("dst")
    )
    clusters = assign_entities(profiles.select("conv_id"), edges)
    return (
        scored.select("id_A", "id_B", F.round("score", 6).alias("score"), "pred")
        .join(clusters.withColumnRenamed("conv_id", "id_A"), "id_A")
        .withColumnRenamed("entity_id", "entity_A")
    )


def q_transcript_integrity(spark, sf):
    """Per-conversation structural QA over a transcript table with
    PLANTED violations (``operators/transcript_checks.py`` — the
    validation pass that has to run before the north-star rollup can
    trust ``turn_idx`` as the stable turn order): duplicate indexes
    (+1 bump when ``event_id % 13 = 0``), the gaps those bumps open,
    empty texts (``% 17``), natural role repeats and timestamp
    regressions (turn order here is event_id order, so ts moves both
    ways). DuckDB replays the identical lag-window + grouped-count
    query; every violation count is value-checked per conversation."""
    from record_linkage_spark.operators.transcript_checks import (
        transcript_integrity,
    )

    e = _t(spark, sf, "events").filter(
        F.col("ts").isNotNull() & (F.col("user_id") < 500)
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    roles = F.array(F.lit("user"), F.lit("assistant"), F.lit("tool"))
    t = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (
            (F.row_number().over(w) - 1)
            + F.when(F.col("event_id") % 13 == 0, 1).otherwise(0)
        ).cast("int").alias("turn_idx"),
        F.element_at(roles, (F.col("event_id") % 3 + 1).cast("int")).alias("role"),
        F.when(F.col("event_id") % 17 == 0, F.lit("")).otherwise(
            F.concat_ws(" ", "event_type", F.col("event_id").cast("string"))
        ).alias("text"),
        "ts",
    )
    return transcript_integrity(t)


def q_prefix_dups(spark, sf):
    """Prefix-duplicate conversation detection
    (``operators/transcript_checks.py::prefix_duplicate_pairs``): convs
    whose chained-md5 turn-hash equals a longer conv's k-th prefix hash
    — the agent-retry duplication mode document near-dup misses. Planted
    prefixes: every conversation with ``user_id % 7 = 0`` and >= 4 turns
    gets a 3-turn head copy (``<conv_id>_p``). DuckDB rebuilds the SAME
    hash chain with a recursive CTE and must find exactly the same
    (prefix, super) pairs."""
    from record_linkage_spark.operators.transcript_checks import (
        prefix_duplicate_pairs,
    )

    e = _t(spark, sf, "events").filter(
        F.col("ts").isNotNull() & (F.col("user_id") < 500)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.concat_ws(" ", "event_type", F.col("event_id").cast("string")).alias(
            "text"
        ),
    )
    eligible = (
        t.groupBy("conv_id")
        .agg(F.count("*").alias("_n"))
        .filter((F.col("_n") >= 4) & (F.col("conv_id").cast("bigint") % 7 == 0))
        .select("conv_id")
    )
    planted = (
        t.join(F.broadcast(eligible), "conv_id")
        .filter(F.col("turn_idx") < 3)
        .select(
            F.concat(F.col("conv_id"), F.lit("_p")).alias("conv_id"),
            "turn_idx",
            "text",
        )
    )
    return prefix_duplicate_pairs(t.unionByName(planted))


def q_agent_loops(spark, sf):
    """Per-conversation loop-run statistics
    (``operators/agent_analytics.py::loop_runs``) — the stuck-agent
    detector: consecutive identical (role, text) turns become runs,
    reported as n_loop_turns / n_loop_runs / max_run_len / loop_frac.
    Turn text here is the bare event_type (5 values), so adjacent
    repeats occur naturally; role is constant. DuckDB replays the
    identical lag → run-id cumsum → per-run sizes → per-conversation
    rollup."""
    from record_linkage_spark.operators.agent_analytics import loop_runs

    e = _t(spark, sf, "events").filter(
        F.col("ts").isNotNull() & (F.col("user_id") < 500)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("agent").alias("role"),
        F.col("event_type").alias("text"),
    )
    return loop_runs(t)


def q_tool_transitions(spark, sf):
    """Corpus-level Markov transition counts between consecutive tool
    calls (``operators/agent_analytics.py::tool_transitions``). Tool
    turns are events with ``event_id % 4 != 0`` (the rest are user
    turns, skipped), tool name = event_type, and ``% 11`` plants null
    tools on tool turns (also skipped). DuckDB replays the lag window
    over the filtered call sequence and the grouped (prev, next)
    counts."""
    from record_linkage_spark.operators.agent_analytics import tool_transitions

    e = _t(spark, sf, "events").filter(
        F.col("ts").isNotNull() & (F.col("user_id") < 500)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("event_id") % 4 != 0, F.lit("tool"))
        .otherwise(F.lit("user"))
        .alias("role"),
        F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("tool"),
    )
    return tool_transitions(t)


def q_tool_ngrams(spark, sf):
    """Order-3 tool-sequence mining
    (``operators/agent_analytics.py::tool_ngrams``): every
    conversation's tool-call sequence contributes its length-3 windows,
    counted corpus-wide with distinct-conversation support — the
    multi-step-workflow generalization of ``tool_transitions``. Same
    planted derivation as that entry; DuckDB replays with ordered list
    aggregation + inclusive slicing (the fp_winnow pattern)."""
    from record_linkage_spark.operators.agent_analytics import tool_ngrams

    e = _t(spark, sf, "events").filter(
        F.col("ts").isNotNull() & (F.col("user_id") < 500)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("event_id") % 4 != 0, F.lit("tool"))
        .otherwise(F.lit("user"))
        .alias("role"),
        F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("tool"),
    )
    return tool_ngrams(t, n=3)


def q_transition_drift(spark, sf):
    """Agent-behavior drift between two corpus snapshots
    (``operators/agent_analytics.py::transition_drift``): the
    tool-transition distributions of two disjoint user populations
    (user_id < 500 vs 500-999) full-outer aligned with per-transition
    probability deltas — sum(abs_diff)/2 is total-variation distance.
    DuckDB replays both minings, the alignment and the normalization."""
    from record_linkage_spark.operators.agent_analytics import transition_drift

    def snap(lo, hi):
        e = _t(spark, sf, "events").filter(
            F.col("ts").isNotNull()
            & (F.col("user_id") >= lo)
            & (F.col("user_id") < hi)
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return e.select(
            F.col("user_id").cast("string").alias("conv_id"),
            (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
            F.when(F.col("event_id") % 4 != 0, F.lit("tool"))
            .otherwise(F.lit("user"))
            .alias("role"),
            F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("string"))
            .otherwise(F.col("event_type"))
            .alias("tool"),
        )

    return transition_drift(snap(0, 500), snap(500, 1000))


def q_turn_boilerplate(spark, sf):
    """Cross-conversation boilerplate-turn stripping
    (``operators/agent_analytics.py::strip_boilerplate_turns``) — the
    turn-granular dedup document-level near-dup cannot see (every
    conversation stays unique while its system-prompt turn repeats in
    thousands of others). Planted boilerplate: events with
    ``event_id % 3 = 0`` use the bare event_type as text (appears in
    ~every conversation); the rest get a unique suffix. DuckDB replays
    the >= 20-distinct-conversations catalog and the anti join — text
    grouping is by md5(text) on the Spark side and by text in SQL,
    equivalent here because no text is null and md5 is injective on
    these values."""
    from record_linkage_spark.operators.agent_analytics import (
        strip_boilerplate_turns,
    )

    e = _t(spark, sf, "events").filter(
        F.col("ts").isNotNull() & (F.col("user_id") < 500)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("event_id") % 3 == 0, F.col("event_type"))
        .otherwise(
            F.concat_ws(" ", "event_type", F.col("event_id").cast("string"))
        )
        .alias("text"),
    )
    return strip_boilerplate_turns(t, min_convs=20)


def q_conv_reseg(spark, sf):
    """Conversation re-segmentation
    (``operators/transcript_checks.py::resegment_conversations``):
    concatenated agent sessions split at >60-min idle gaps, conv_id
    suffixed ``#<segment>`` and turn_idx re-zeroed per segment — the
    ingest step that stops multi-session logs smearing into one rollup
    profile. DuckDB replays the identical lag-gap -> segment cumsum ->
    within-segment renumber cascade."""
    from record_linkage_spark.operators.transcript_checks import (
        resegment_conversations,
    )

    e = _t(spark, sf, "events").filter(
        F.col("ts").isNotNull() & (F.col("user_id") < 500)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.concat_ws(" ", "event_type", F.col("event_id").cast("string")).alias(
            "text"
        ),
        "ts",
    )
    return resegment_conversations(t, gap_minutes=60.0)


def q_transcript_checks(spark, sf):
    """Transcript-hygiene composite, union-tagged into one
    (kind, k1, k2, k3, i1-i8) frame carrying each constituent's rows
    verbatim (the three ops share the planted transcript derivation):

      kind='integrity'  per-conversation structural QA
                        (``q_transcript_integrity``: k1=conv_id,
                        i1=n_turns, i2=n_dup_idx, i3=n_gaps,
                        i4=starts_at_zero, i5=n_empty,
                        i6=n_role_repeats, i7=n_ts_regress, i8=is_clean)
      kind='prefix'     prefix-duplicate conversation pairs
                        (``q_prefix_dups``: k1=prefix_conv_id,
                        k2=super_conv_id, i1=prefix_len, i2=super_len)
      kind='reseg'      idle-gap re-segmentation output
                        (``q_conv_reseg``: k1=new conv_id, k2=text,
                        k3=ts formatted, i1=turn_idx)
    """
    zi = F.lit(0).cast("bigint")
    es = F.lit("")
    ti = q_transcript_integrity(spark, sf).select(
        F.lit("integrity").alias("kind"),
        F.col("conv_id").alias("k1"),
        es.alias("k2"),
        es.alias("k3"),
        F.col("n_turns").alias("i1"),
        F.col("n_dup_idx").alias("i2"),
        F.col("n_gaps").alias("i3"),
        F.col("starts_at_zero").cast("bigint").alias("i4"),
        F.col("n_empty").alias("i5"),
        F.col("n_role_repeats").alias("i6"),
        F.col("n_ts_regress").alias("i7"),
        F.col("is_clean").cast("bigint").alias("i8"),
    )
    pd_ = q_prefix_dups(spark, sf).select(
        F.lit("prefix").alias("kind"),
        F.col("prefix_conv_id").alias("k1"),
        F.col("super_conv_id").alias("k2"),
        es.alias("k3"),
        F.col("prefix_len").cast("bigint").alias("i1"),
        F.col("super_len").cast("bigint").alias("i2"),
        zi.alias("i3"), zi.alias("i4"), zi.alias("i5"),
        zi.alias("i6"), zi.alias("i7"), zi.alias("i8"),
    )
    rs = q_conv_reseg(spark, sf).select(
        F.lit("reseg").alias("kind"),
        F.col("conv_id").alias("k1"),
        F.col("text").alias("k2"),
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss").alias("k3"),
        F.col("turn_idx").cast("bigint").alias("i1"),
        zi.alias("i2"), zi.alias("i3"), zi.alias("i4"), zi.alias("i5"),
        zi.alias("i6"), zi.alias("i7"), zi.alias("i8"),
    )
    return ti.unionByName(pd_).unionByName(rs)


def q_span_checks(spark, sf):
    """Span-granular exact-substring composite (Lee et al. 2107.06499),
    union-tagged into one (kind, id1, id2, sval, i1-i3) frame:

      kind='overlap'  8-token-span overlap pairs (``q_span_overlap``:
                      i1=shared_spans)
      kind='dedup'    span duplicate REMOVAL with the rewritten text
                      itself value-checked (``q_span_dedup``:
                      sval=text_dedup, i1=n_tokens, i2=n_kept_tokens,
                      i3=n_removed_spans)
    """
    zi = F.lit(0).cast("bigint")
    ov = q_span_overlap(spark, sf).select(
        F.lit("overlap").alias("kind"),
        F.col("id_A").alias("id1"),
        F.col("id_B").alias("id2"),
        F.lit("").alias("sval"),
        F.col("shared_spans").alias("i1"),
        zi.alias("i2"),
        zi.alias("i3"),
    )
    sd = q_span_dedup(spark, sf).select(
        F.lit("dedup").alias("kind"),
        F.col("doc_id").alias("id1"),
        zi.alias("id2"),
        F.col("text_dedup").alias("sval"),
        F.col("n_tokens").cast("bigint").alias("i1"),
        F.col("n_kept_tokens").cast("bigint").alias("i2"),
        F.col("n_removed_spans").cast("bigint").alias("i3"),
    )
    return ov.unionByName(sd)


def q_sn_progressive(spark, sf):
    """Sorted-neighborhood pairs, tagged into one
    (kind, k1, k2, i1, i2, d1) frame:

      kind='sn'    windowed SN pairs (``q_sn_pairs``: k1=id_A, k2=id_B,
                   i1=rank_A, i2=rank_B)
    """
    return q_sn_pairs(spark, sf).select(
        F.lit("sn").alias("kind"),
        F.col("id_A").alias("k1"),
        F.col("id_B").alias("k2"),
        F.col("rank_A").alias("i1"),
        F.col("rank_B").alias("i2"),
        F.lit(0.0).alias("d1"),
    )

def q_agent_analytics(spark, sf):
    """Agent-behavior analytics composite, union-tagged into one
    (kind, k1, k2, i1-i4, d1-d3) frame carrying all five standalone
    checks' rows verbatim (they share the planted events→transcript
    derivation):

      kind='loops'   per-conversation loop runs (``q_agent_loops``:
                     k1=conv_id, i1=n_turns, i2=n_loop_turns,
                     i3=n_loop_runs, i4=max_run_len, d1=loop_frac)
      kind='trans'   tool-transition Markov counts
                     (``q_tool_transitions``: k1=prev, k2=next, i1=n,
                     i2=n_convs)
      kind='ngrams'  order-3 tool-sequence mining (``q_tool_ngrams``:
                     k1=gram, i1=n_times, i2=n_convs)
      kind='drift'   snapshot transition drift (``q_transition_drift``:
                     k1=prev, k2=next, i1=n_a, i2=n_b, d1=p_a, d2=p_b,
                     d3=abs_diff)
      kind='boiler'  boilerplate-stripped surviving turns
                     (``q_turn_boilerplate``: k1=conv_id, k2=text,
                     i1=turn_idx)
    """
    zi = F.lit(0).cast("bigint")
    zd = F.lit(0.0)
    es = F.lit("")
    lo = q_agent_loops(spark, sf).select(
        F.lit("loops").alias("kind"),
        F.col("conv_id").alias("k1"),
        es.alias("k2"),
        F.col("n_turns").alias("i1"),
        F.col("n_loop_turns").alias("i2"),
        F.col("n_loop_runs").alias("i3"),
        F.col("max_run_len").alias("i4"),
        F.col("loop_frac").alias("d1"),
        zd.alias("d2"),
        zd.alias("d3"),
    )
    tr = q_tool_transitions(spark, sf).select(
        F.lit("trans").alias("kind"),
        F.col("prev_tool").alias("k1"),
        F.col("next_tool").alias("k2"),
        F.col("n").alias("i1"),
        F.col("n_convs").alias("i2"),
        zi.alias("i3"), zi.alias("i4"),
        zd.alias("d1"), zd.alias("d2"), zd.alias("d3"),
    )
    ng = q_tool_ngrams(spark, sf).select(
        F.lit("ngrams").alias("kind"),
        F.col("gram").alias("k1"),
        es.alias("k2"),
        F.col("n_times").alias("i1"),
        F.col("n_convs").alias("i2"),
        zi.alias("i3"), zi.alias("i4"),
        zd.alias("d1"), zd.alias("d2"), zd.alias("d3"),
    )
    dr = q_transition_drift(spark, sf).select(
        F.lit("drift").alias("kind"),
        F.col("prev_tool").alias("k1"),
        F.col("next_tool").alias("k2"),
        F.col("n_a").alias("i1"),
        F.col("n_b").alias("i2"),
        zi.alias("i3"), zi.alias("i4"),
        F.col("p_a").alias("d1"),
        F.col("p_b").alias("d2"),
        F.col("abs_diff").alias("d3"),
    )
    bo = q_turn_boilerplate(spark, sf).select(
        F.lit("boiler").alias("kind"),
        F.col("conv_id").alias("k1"),
        F.col("text").alias("k2"),
        F.col("turn_idx").cast("bigint").alias("i1"),
        zi.alias("i2"), zi.alias("i3"), zi.alias("i4"),
        zd.alias("d1"), zd.alias("d2"), zd.alias("d3"),
    )
    return lo.unionByName(tr).unionByName(ng).unionByName(dr).unionByName(bo)


def q_ann_blocking(spark, sf):
    """Hashed-text-vector blocking semantics under the oracle signal
    (``operators/ann_blocking.py``): signed hashing-trick vectors
    (md5-portable token hash, bucket/sign from one ``h mod 2*dim``) and
    the exact cosine >= 0.8 pair set over a 200-doc slice — the
    brute-force baseline the production RHP-LSH path
    (``rl_ann_candidates``, rows) is recall-tested against. DuckDB
    rebuilds identical vectors from the same md5 arithmetic and scores
    cosine from the sparse counts directly (dot over shared buckets /
    norms), mathematically the same number."""
    from record_linkage_spark.operators.ann_blocking import (
        brute_force_cosine_pairs,
    )

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return brute_force_cosine_pairs(
        d, id_col="doc_id", text_col="text", cosine_threshold=0.8
    )


def q_rl_ann_candidates(spark, sf):
    """ANN blocking (``ann_candidate_pairs``): RHP-LSH bucket self-join
    over hashed profile vectors + exact-cosine verify — vector-similarity
    candidate pairs with the same contract as the B1/B2 key cascades.
    Rows-only (the banded RHP signature is probabilistic); pytest pins
    candidates == subset of brute force with recall >= 0.8
    (``tests/test_ann_blocking.py``)."""
    from record_linkage_spark.operators.ann_blocking import ann_candidate_pairs

    profiles, _ = _synth_profiles_keys(spark)
    return ann_candidate_pairs(profiles)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Contract queries. ORDER MATTERS: the driver records a correctness
    verdict for the first 50 entries, so every oracle-backed entry (one
    with a DuckDB twin in ``oracle_sql()``) comes first, inside those 50
    slots. Near-free scalar checks are folded into composite entries
    (``q_scalar_checks`` et al. — values carried verbatim, see their
    docstrings) so one slot carries several SURVEY.md §2 ops. Rows-only
    entries (xxhash/Arrow-kernel paths with no portable SQL twin, pinned
    by pytest instead) follow the last oracle-backed entry."""
    return {
        # -- flagship compositions (blocking -> featurize -> score -> report)
        "scored_pairs_portable": q_scored_pairs_portable,
        "compare_report_portable": q_compare_report_portable,
        "blocking_cascades": q_blocking_cascades,  # B1 + B2 salted cascades
        "ann_blocking": q_ann_blocking,
        "cc_components": q_cc_components,
        "inc_components": q_inc_components,
        # -- P: projections / filters / per-row transforms
        "scalar_checks": q_scalar_checks,        # P1/A1 + P14 + J5 + A6 + X1
        "p2_p11_filter_canon": q_p2_p11_filter_canon,
        "p4_p21_serialize": q_p4_p21_serialize,
        "scalar_transforms": q_scalar_transforms,  # P8 + P12/F9 + P16/P17 + P18/F11 + F4
        "m9_top_idf_tokens": q_m9_top_idf_tokens,
        "dk_inject": q_dk_inject,
        # -- J: joins
        "j1_selfjoin_key": q_j1_selfjoin_key,
        "j2_capped_pairs": q_j2_capped_pairs,
        "j3_hydrate_diff": q_j3_hydrate_diff,    # J3 + F12
        "j4_overlay_default": q_j4_overlay_default,
        # -- A: aggregations
        "a2_rollup_sequence": q_a2_rollup_sequence,
        "rollup_portable": q_rollup_portable,     # north-star rollup operator
        "group_counts": q_group_counts,          # A4 + A8
        "a5_summary_stats": q_a5_summary_stats,
        "a7_threshold_sweep": q_a7_threshold_sweep,
        # -- W/U/X: windows, sets, sampling
        "w2_latest_parsed": q_w2_latest_parsed,  # W1/W2 + F8
        "sampling_checks": q_sampling_checks,     # W3/W4 + stratified quota
        "w5_topk_per_group": q_w5_topk_per_group,
        "set_ops": q_set_ops,                    # U1 + U3/F10
        "golden_records": q_golden_records,      # survivorship fusion
        # -- F: scalar similarity functions
        "similarity_funcs": q_similarity_funcs,  # F1 + F2 + Monge-Elkan + SoftTFIDF + PPRL
        # -- blocking families beyond equality cascades
        "sn_progressive": q_sn_progressive,  # SN pairs
        "meta_blocking": q_meta_blocking,
        # -- dedup / similarity-search / curation extras
        "dedup_checks": q_dedup_checks,    # exact + token-Jaccard/TF-IDF
        "explain_pairs": q_explain_pairs,
        "ssjoin_prefix": q_ssjoin_prefix,  # guaranteed-recall prefix filter
        "dedup_keep_best": q_dedup_keep_best,
        "span_checks": q_span_checks,  # span overlap + span dedup rewrite
        "near_dup_pairs": q_near_dup_pairs,  # MinHash sym+cross + SimHash + SemDeDup
        "pq_adc": q_pq_adc,
        "ann_brute_topk": q_ann_brute_topk,
        "rl_embedding_neardup": q_rl_embedding_neardup,
        "doc_hygiene": q_doc_hygiene,      # PII + repetition + decontam
        "transcript_checks": q_transcript_checks,  # integrity + prefix dups + reseg
        "agent_analytics": q_agent_analytics,  # loops + transitions + ngrams + drift + boilerplate
        "pack_budget": q_pack_budget,      # seq packing + token budget
        "temporal_joins": q_temporal_joins,
        "fp_winnow": q_fp_winnow,
        "text_stats": q_text_stats,              # token counts + quality + langid
        "event_windows": q_event_windows,        # tumbling + session windows
        "cluster_quality": q_cluster_quality,  # B-cubed + ARI family + cohesion/merge repair
        # ---- rows-only entries (hash-kernel / pipeline / streaming ops
        # — no portable SQL twin; each pinned by pytest). EVERY
        # oracle-backed entry sits before them, inside the 50-slot
        # window: the former standalone past-window oracles (span_dedup,
        # semantic_dedup, soft_tfidf, prefix_dups, the five
        # agent-analytics checks, conv_reseg, corpus_profile) now ride
        # verbatim inside window composites — see q_span_checks,
        # q_near_dup_pairs, q_similarity_funcs, q_sn_progressive,
        # q_transcript_checks, q_agent_analytics, q_scalar_checks. ----
        "rl_group_linkage": q_rl_group_linkage,
        "rl_profiles": q_rl_profiles,
        "rl_ground_truth": q_rl_ground_truth,
        "rl_sorted_neighborhood": q_rl_sorted_neighborhood,
        "rl_one_to_one": q_rl_one_to_one,
        "rl_scored_pairs": q_rl_scored_pairs,
        "rl_dedupe_scored": q_rl_dedupe_scored,
        "rl_text_scored": q_rl_text_scored,
        "rl_compare_report": q_rl_compare_report,
        "rl_clusters": q_rl_clusters,
        "rl_greedy_clusters": q_rl_greedy_clusters,
        "rl_corr_clusters": q_rl_corr_clusters,
        "rl_star_clusters": q_rl_star_clusters,
        "rl_hac_clusters": q_rl_hac_clusters,
        "rl_canopies": q_rl_canopies,
        "rl_ann_candidates": q_rl_ann_candidates,
        "rl_minhash": q_rl_minhash,
        "rl_simhash": q_rl_simhash,
        "rl_lsh_topk": q_rl_lsh_topk,
        "rl_ivf_topk": q_rl_ivf_topk,
        "rl_ivfpq_topk": q_rl_ivfpq_topk,
        "rl_fingerprint": q_rl_fingerprint,
        "rl_augment": q_rl_augment,
        "rl_incremental_link": q_rl_incremental_link,
        "rl_streaming_rollup": q_rl_streaming_rollup,
    }


NORM_SQL = (
    "nullif(trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g')), '')"
)
# norm with URL strip + punct->space (dedup normalizer)
NORM_URL_SQL = (
    "nullif(trim(regexp_replace(regexp_replace(regexp_replace(lower({c}),"
    " '(http\\S+|www\\S+)', ' ', 'g'), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g')), '')"
)


def _composite_oracles(base: dict[str, str]) -> dict[str, str]:
    """SQL twins for the composite contract entries — each folds the
    superseded standalone twins' rows verbatim (UNION ALL / join), so the
    merged hash check is exactly as strong as the separate ones."""

    def tagged(chk: str, sql: str, k: str, v: str) -> str:
        return (
            f"SELECT '{chk}' AS chk, CAST({k} AS VARCHAR) AS k, "
            f"CAST({v} AS DOUBLE) AS v FROM ({sql})"
        )

    # HLL estimate constants — computed with the SAME Python arithmetic
    # sketches.hll_estimate uses, then embedded as repr'd doubles so both
    # engines evaluate the identical constant.
    from record_linkage_spark.operators.sketches import _hll_alpha

    HLL_AMM = _hll_alpha(256) * 256 * 256
    HLL_SCALE = float(1 << 53)

    scalar_parts = [
        tagged(
            "p1_missing_pct",
            "SELECT unnest(['null_text', 'null_lang', 'null_source']) AS k, unnest(["
            "round(avg(CASE WHEN text IS NULL THEN 1.0 ELSE 0.0 END), 6), "
            "round(avg(CASE WHEN lang IS NULL THEN 1.0 ELSE 0.0 END), 6), "
            "round(avg(CASE WHEN source IS NULL THEN 1.0 ELSE 0.0 END), 6)]) AS v "
            "FROM documents",
            "k", "v",
        ),
        tagged("p14_prefix_key", base["p14_prefix_key"], "pfx", "n"),
        tagged(
            "j5_semi_anti",
            "SELECT unnest(['n_with', 'n_without']) AS k, unnest([n_with, n_without]) AS v "
            f"FROM ({base['j5_semi_anti']})",
            "k", "v",
        ),
        tagged(
            "a6_confusion",
            "SELECT unnest(['tp', 'fp', 'fn', 'tn']) AS k, "
            f"unnest([tp, fp, fn, tn]) AS v FROM ({base['a6_confusion']})",
            "k", "v",
        ),
        tagged("x1_hash_split", base["x1_hash_split"], "split", "n"),
        # greedy 1:1 matching replay (operators/matching.py): under the
        # strict total order (score DESC, id_A, id_B) the operator's
        # locally-dominant rounds equal a SEQUENTIAL greedy scan, which
        # a linear recursive CTE replays exactly — accept edge rn+1 iff
        # neither endpoint is in the accumulated used-list. Input is the
        # oracle-proven scored_pairs_portable frame (67 rows at sf0.01,
        # so recursion depth is trivial).
        (
            "SELECT 'o2o' AS chk, id_A || ':' || id_B AS k, score AS v FROM ("
            "WITH RECURSIVE ranked AS (SELECT id_A, id_B, score, "
            "row_number() OVER (ORDER BY score DESC, id_A, id_B) AS rn "
            f"FROM ({base['scored_pairs_portable']})), "
            "greedy AS ("
            "SELECT 0 AS rn, CAST([] AS VARCHAR[]) AS used, "
            "CAST(NULL AS VARCHAR) AS id_A, CAST(NULL AS VARCHAR) AS id_B, "
            "CAST(NULL AS DOUBLE) AS score "
            "UNION ALL "
            "SELECT r.rn, "
            "CASE WHEN list_contains(g.used, r.id_A) OR "
            "list_contains(g.used, r.id_B) THEN g.used "
            "ELSE list_append(list_append(g.used, r.id_A), r.id_B) END, "
            "CASE WHEN list_contains(g.used, r.id_A) OR "
            "list_contains(g.used, r.id_B) THEN NULL ELSE r.id_A END, "
            "CASE WHEN list_contains(g.used, r.id_A) OR "
            "list_contains(g.used, r.id_B) THEN NULL ELSE r.id_B END, "
            "CASE WHEN list_contains(g.used, r.id_A) OR "
            "list_contains(g.used, r.id_B) THEN NULL ELSE r.score END "
            "FROM greedy g JOIN ranked r ON r.rn = g.rn + 1) "
            "SELECT id_A, id_B, score FROM greedy WHERE id_A IS NOT NULL)"
        ),
        # greedy within-block clustering replay (clustering.py M7): a
        # lockstep recursive CTE — one state row per block carries the
        # rep list; each iteration assigns row rn+1 of EVERY block to
        # its first rep within max_diff=1 (IS DISTINCT FROM mirrors the
        # operator's missing-equals-missing rule) or founds a new rep.
        # Same sequential semantics as the applyInPandas kernel, proven
        # row-for-row.
        (
            "SELECT 'greedy' AS chk, out_id AS k, CAST(out_rep AS DOUBLE) AS v "
            "FROM ("
            "WITH RECURSIVE ranked AS ("
            "SELECT CAST(doc_id AS VARCHAR) AS rid, "
            "CAST(doc_id % 17 AS VARCHAR) AS blk, "
            "CASE WHEN length(text) % 7 = 0 THEN NULL "
            "ELSE substr(text, 1, 6) END AS a1, "
            "CAST(length(text) % 4 AS VARCHAR) AS a2, "
            "row_number() OVER (PARTITION BY CAST(doc_id % 17 AS VARCHAR) "
            "ORDER BY CAST(doc_id AS VARCHAR)) AS rn "
            "FROM documents WHERE text IS NOT NULL), "
            "g AS ("
            "SELECT blk, 0 AS rn, "
            "CAST([] AS STRUCT(rid VARCHAR, a1 VARCHAR, a2 VARCHAR)[]) AS reps, "
            "CAST(NULL AS VARCHAR) AS out_id, CAST(NULL AS VARCHAR) AS out_rep "
            "FROM (SELECT DISTINCT blk FROM ranked) "
            "UNION ALL "
            "SELECT r.blk, r.rn, "
            "CASE WHEN len(list_filter(g.reps, x -> "
            "(CASE WHEN x.a1 IS DISTINCT FROM r.a1 THEN 1 ELSE 0 END + "
            "CASE WHEN x.a2 IS DISTINCT FROM r.a2 THEN 1 ELSE 0 END) <= 1)) > 0 "
            "THEN g.reps "
            "ELSE list_append(g.reps, {'rid': r.rid, 'a1': r.a1, 'a2': r.a2}) END, "
            "r.rid, "
            "CASE WHEN len(list_filter(g.reps, x -> "
            "(CASE WHEN x.a1 IS DISTINCT FROM r.a1 THEN 1 ELSE 0 END + "
            "CASE WHEN x.a2 IS DISTINCT FROM r.a2 THEN 1 ELSE 0 END) <= 1)) > 0 "
            "THEN list_filter(g.reps, x -> "
            "(CASE WHEN x.a1 IS DISTINCT FROM r.a1 THEN 1 ELSE 0 END + "
            "CASE WHEN x.a2 IS DISTINCT FROM r.a2 THEN 1 ELSE 0 END) <= 1)[1].rid "
            "ELSE r.rid END "
            "FROM g JOIN ranked r ON r.blk = g.blk AND r.rn = g.rn + 1) "
            "SELECT out_id, out_rep FROM g WHERE out_id IS NOT NULL)"
        ),
        tagged(
            "bpe_pairs",
            # first BPE merge round replay: whitespace words -> char
            # symbols + '</w>' -> weighted adjacent-pair counts, top-20
            # by (count DESC, pair ASC). a is always one char in round
            # one, so ordering the concatenated 'a|b' key matches the
            # Spark side's identical concat ordering.
            "WITH toks AS (SELECT lower(unnest(regexp_split_to_array(text, '\\s+'))) AS w "
            "FROM documents WHERE text IS NOT NULL), "
            "words AS (SELECT w, count(*) AS n FROM toks WHERE w <> '' GROUP BY w), "
            "pos AS (SELECT w, n, unnest(generate_series(1, length(w))) AS i FROM words), "
            "pairs AS (SELECT substr(w, CAST(i AS INTEGER), 1) || '|' || "
            "CASE WHEN i < length(w) THEN substr(w, CAST(i + 1 AS INTEGER), 1) "
            "ELSE '</w>' END AS pair, n FROM pos), "
            "agg AS (SELECT pair, CAST(sum(n) AS DOUBLE) AS v FROM pairs GROUP BY pair), "
            "top AS (SELECT pair, v, row_number() OVER (ORDER BY v DESC, pair) AS rn FROM agg) "
            "SELECT pair AS k, v FROM top WHERE rn <= 20",
            "k", "v",
        ),
        tagged(
            "pagerank",
            # damped PageRank, 3 unrolled power iterations over the
            # customer->supplier order graph; rank by the 6-decimal-
            # rounded score then node, mirroring top_ranked()
            "WITH e AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src, "
            "'s' || CAST(l_suppkey AS VARCHAR) AS dst "
            "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), "
            "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), "
            "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src), "
            "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), "
            "r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn), "
            + "".join(
                f"c{i} AS (SELECT e.dst AS node, sum(r{i-1}.r / deg.outdeg) AS contrib "
                f"FROM e JOIN r{i-1} ON e.src = r{i-1}.node "
                f"JOIN deg ON e.src = deg.src GROUP BY e.dst), "
                f"d{i} AS (SELECT coalesce(sum(r), 0) AS dm FROM r{i-1} "
                f"WHERE node NOT IN (SELECT src FROM deg)), "
                f"r{i} AS (SELECT nodes.node, (1 - 0.85) / nn.n "
                f"+ 0.85 * (coalesce(c{i}.contrib, 0) + d{i}.dm / nn.n) AS r "
                f"FROM nodes CROSS JOIN nn CROSS JOIN d{i} "
                f"LEFT JOIN c{i} ON nodes.node = c{i}.node), "
                for i in (1, 2, 3)
            )
            + "top AS (SELECT node, round(r, 6) AS v, "
            "row_number() OVER (ORDER BY round(r, 6) DESC, node) AS rn FROM r3) "
            "SELECT node AS k, v FROM top WHERE rn <= 25",
            "k", "v",
        ),
        tagged(
            "lprop",
            # label spreading, 2 unrolled iterations over the symmetrized
            # customer<->supplier graph; (1 - 0.8) written as arithmetic
            # so both engines compute the identical double
            "WITH h AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src, "
            "'s' || CAST(l_suppkey AS VARCHAR) AS dst "
            "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), "
            "e AS (SELECT src, dst FROM h UNION SELECT dst, src FROM h), "
            "deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src), "
            "seed AS (SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node, "
            "'n' || CAST(s_nationkey % 3 AS VARCHAR) AS label, 1.0 AS s FROM supplier), "
            "f0 AS (SELECT node, label, CAST(1.0 AS DOUBLE) AS score FROM seed), "
            + "".join(
                f"c{i} AS (SELECT e.dst AS node, f.label, "
                f"sum(f.score / deg.deg) AS c "
                f"FROM e JOIN f{i-1} f ON e.src = f.node "
                f"JOIN deg ON e.src = deg.src GROUP BY e.dst, f.label), "
                f"f{i} AS (SELECT coalesce(c.node, seed.node) AS node, "
                f"coalesce(c.label, seed.label) AS label, "
                f"0.8 * coalesce(c.c, 0) + (1 - 0.8) * coalesce(seed.s, 0) AS score "
                f"FROM c{i} c FULL OUTER JOIN seed "
                f"ON c.node = seed.node AND c.label = seed.label "
                f"WHERE 0.8 * coalesce(c.c, 0) + (1 - 0.8) * coalesce(seed.s, 0) > 0), "
                for i in (1, 2)
            )
            + "ranked AS (SELECT node || '|' || label AS k, round(score, 6) AS v "
            "FROM f2), "
            "top AS (SELECT k, v, row_number() OVER (ORDER BY v DESC, k) AS rn "
            "FROM ranked) SELECT k, v FROM top WHERE rn <= 25",
            "k", "v",
        ),
        # HLL register table + raw-branch estimate (operators/sketches.py):
        # h // 256 is the exact integer quotient (the Spark side shifts),
        # rho via integer bit-length (length(bin(w))) so no float can flip
        # a register; the estimate divides a scaled-integer sum once.
        (
            "SELECT chk, k, v FROM ("
            "WITH hs AS (SELECT o_orderstatus AS g, "
            "('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h "
            "FROM orders), "
            "rr AS (SELECT g, h % 256 AS reg, "
            "MAX(CASE WHEN h // 256 = 0 THEN 53 "
            "ELSE 53 - length(bin(h // 256)) END) AS rho "
            "FROM hs GROUP BY g, h % 256), "
            "tot AS (SELECT reg, MAX(rho) AS rho FROM rr GROUP BY reg), "
            "acc AS (SELECT SUM(1::BIGINT << CAST(53 - rho AS INTEGER)) AS s, "
            "COUNT(*) AS present FROM tot), "
            "ev AS (SELECT CASE WHEN raw <= 640.0 AND zeros > 0 "
            "THEN 256.0 * ln(256.0 / zeros) ELSE raw END AS est FROM ("
            f"SELECT (256 - present) AS zeros, {HLL_AMM!r} / "
            f"((256 - present) + s / {HLL_SCALE!r}) AS raw FROM acc)) "
            "SELECT 'hll' AS chk, g || ':' || CAST(reg AS VARCHAR) AS k, "
            "CAST(rho AS DOUBLE) AS v FROM rr "
            "UNION ALL SELECT 'hll_est', 'orders', round(est, 6) FROM ev)"
        ),
        # Misra-Gries heavy hitters at exactness capacity == plain counts
        (
            "SELECT chk, k, v FROM ("
            "WITH c AS (SELECT 's' || CAST(l_suppkey AS VARCHAR) AS k, "
            "CAST(COUNT(*) AS DOUBLE) AS v FROM lineitem GROUP BY 1), "
            "r AS (SELECT k, v, row_number() OVER (ORDER BY v DESC, k) AS rn "
            "FROM c) SELECT 'hh' AS chk, k, v FROM r WHERE rn <= 25)"
        ),
        # Bloom filter: rebuild the packed 62-bit words over supplier
        # names, probe with customer + supplier names (same salted md5)
        (
            "SELECT chk, k, v FROM ("
            "WITH members AS (SELECT DISTINCT s_name AS v FROM supplier), "
            "pos AS ("
            "SELECT ('0x' || substr(md5('0' || chr(1) || v), 1, 15))::BIGINT % 8192 AS p "
            "FROM members UNION ALL "
            "SELECT ('0x' || substr(md5('1' || chr(1) || v), 1, 15))::BIGINT % 8192 "
            "FROM members), "
            "words AS (SELECT p // 62 AS word, "
            "bit_or(1::BIGINT << CAST(p % 62 AS INTEGER)) AS bits "
            "FROM pos GROUP BY p // 62), "
            "probes AS (SELECT 'c' || CAST(c_custkey AS VARCHAR) AS k, c_name AS v "
            "FROM customer WHERE c_custkey <= 300 UNION ALL "
            "SELECT 's' || CAST(s_suppkey AS VARCHAR), s_name FROM supplier), "
            "pp AS (SELECT k, "
            "('0x' || substr(md5('0' || chr(1) || v), 1, 15))::BIGINT % 8192 AS p0, "
            "('0x' || substr(md5('1' || chr(1) || v), 1, 15))::BIGINT % 8192 AS p1 "
            "FROM probes) "
            "SELECT 'bloom' AS chk, k, CAST(CASE WHEN "
            "(coalesce(w0.bits, 0) & (1::BIGINT << CAST(p0 % 62 AS INTEGER))) != 0 "
            "AND (coalesce(w1.bits, 0) & (1::BIGINT << CAST(p1 % 62 AS INTEGER))) != 0 "
            "THEN 1 ELSE 0 END AS DOUBLE) AS v "
            "FROM pp LEFT JOIN words w0 ON p0 // 62 = w0.word "
            "LEFT JOIN words w1 ON p1 // 62 = w1.word)"
        ),
        # entity-safe split + leakage audit over the planted CC graph:
        # recursive-CTE components -> md5 entity bucket -> 70/10/20 route
        # -> per-split counts + cross-split pair matrix
        (
            "SELECT chk, k, v FROM ("
            "WITH RECURSIVE edges AS ("
            "SELECT doc_id AS src, doc_id - 1 AS dst FROM documents "
            "WHERE doc_id % 7 != 0 "
            "AND doc_id - 1 IN (SELECT doc_id FROM documents) "
            "UNION ALL "
            "SELECT doc_id, doc_id + 3 FROM documents "
            "WHERE doc_id % 11 = 0 "
            "AND doc_id + 3 IN (SELECT doc_id FROM documents)), "
            "und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges), "
            "reach(id, lbl) AS (SELECT doc_id, doc_id FROM documents "
            "UNION SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.id), "
            "asg AS (SELECT id AS conv_id, MIN(lbl) AS entity_id "
            "FROM reach GROUP BY id), "
            "spl AS (SELECT conv_id, entity_id, "
            "CASE WHEN b < 70 THEN 'train' WHEN b < 80 THEN 'val' "
            "ELSE 'test' END AS split FROM ("
            "SELECT conv_id, entity_id, ('0x' || substr(md5("
            "'esplit' || chr(1) || CAST(entity_id AS VARCHAR)), 1, 15))::BIGINT "
            "% 100 AS b FROM asg)), "
            "pairs AS (SELECT least(src, dst) AS id_A, greatest(src, dst) AS id_B "
            "FROM edges), "
            "aud AS (SELECT least(a.split, b.split) AS s_a, "
            "greatest(a.split, b.split) AS s_b, COUNT(*) AS n "
            "FROM pairs JOIN spl a ON pairs.id_A = a.conv_id "
            "JOIN spl b ON pairs.id_B = b.conv_id GROUP BY 1, 2) "
            "SELECT 'esplit' AS chk, split || ':recs' AS k, "
            "CAST(COUNT(*) AS DOUBLE) AS v FROM spl GROUP BY split "
            "UNION ALL SELECT 'esplit', split || ':ents', "
            "CAST(COUNT(DISTINCT entity_id) AS DOUBLE) FROM spl GROUP BY split "
            "UNION ALL SELECT 'esplit', 'pairs:' || s_a || '|' || s_b, "
            "CAST(n AS DOUBLE) FROM aud)"
        ),
        # CountMin sketch (operators/sketches.py): rebuild the 3x64
        # counter table over order priorities with the same salted md5_60
        # positions, then the min-over-rows point estimates
        (
            "SELECT chk, k, v FROM ("
            "WITH p AS (SELECT o_orderpriority AS v FROM orders), "
            "pos AS ("
            "SELECT 0 AS r, ('0x' || substr(md5('0' || chr(1) || v), 1, 15))::BIGINT % 64 AS c FROM p "
            "UNION ALL SELECT 1, ('0x' || substr(md5('1' || chr(1) || v), 1, 15))::BIGINT % 64 FROM p "
            "UNION ALL SELECT 2, ('0x' || substr(md5('2' || chr(1) || v), 1, 15))::BIGINT % 64 FROM p), "
            "cnts AS (SELECT r, c, COUNT(*) AS cnt FROM pos GROUP BY 1, 2), "
            "q AS (SELECT DISTINCT v FROM p), "
            "qp AS (SELECT v, "
            "('0x' || substr(md5('0' || chr(1) || v), 1, 15))::BIGINT % 64 AS p0, "
            "('0x' || substr(md5('1' || chr(1) || v), 1, 15))::BIGINT % 64 AS p1, "
            "('0x' || substr(md5('2' || chr(1) || v), 1, 15))::BIGINT % 64 AS p2 FROM q), "
            "est AS (SELECT v, least(coalesce(c0.cnt, 0), coalesce(c1.cnt, 0), "
            "coalesce(c2.cnt, 0)) AS e FROM qp "
            "LEFT JOIN cnts c0 ON c0.r = 0 AND c0.c = qp.p0 "
            "LEFT JOIN cnts c1 ON c1.r = 1 AND c1.c = qp.p1 "
            "LEFT JOIN cnts c2 ON c2.r = 2 AND c2.c = qp.p2) "
            "SELECT 'cms' AS chk, CAST(r AS VARCHAR) || ':' || CAST(c AS VARCHAR) AS k, "
            "CAST(cnt AS DOUBLE) AS v FROM cnts "
            "UNION ALL SELECT 'cms_est', 'est:' || v, CAST(e AS DOUBLE) FROM est "
            "UNION ALL SELECT 'cms_join', 'est', CAST(jv AS DOUBLE) FROM ("
            "WITH p3 AS (SELECT o_orderpriority AS v FROM orders "
            "WHERE o_orderkey % 3 = 0), "
            "pos3 AS ("
            "SELECT 0 AS r, ('0x' || substr(md5('0' || chr(1) || v), 1, 15))::BIGINT % 64 AS c FROM p3 "
            "UNION ALL SELECT 1, ('0x' || substr(md5('1' || chr(1) || v), 1, 15))::BIGINT % 64 FROM p3 "
            "UNION ALL SELECT 2, ('0x' || substr(md5('2' || chr(1) || v), 1, 15))::BIGINT % 64 FROM p3), "
            "cnts3 AS (SELECT r, c, COUNT(*) AS cnt FROM pos3 GROUP BY 1, 2), "
            "ip AS (SELECT a.r, SUM(a.cnt * b.cnt) AS s FROM cnts a "
            "JOIN cnts3 b ON a.r = b.r AND a.c = b.c GROUP BY a.r) "
            "SELECT CASE WHEN COUNT(*) < 3 THEN 0 ELSE MIN(s) END AS jv FROM ip))"
        ),
        # fastText-style quality classifier (operators/quality_classifier.py):
        # replay hashed unigram+bigram features (dim 256), the NB log-odds
        # trainer (lang='en' positive) and the join-sum margin of every doc
        (
            "SELECT chk, k, v FROM ("
            "WITH d AS (SELECT doc_id, "
            "list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
            "x -> x != '') AS t, "
            "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y "
            "FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL "
            "AND trim(text) != ''), "
            "uni AS (SELECT doc_id, y, unnest(t) AS g FROM d), "
            "bi AS (SELECT doc_id, y, t[i] || chr(2) || t[i + 1] AS g "
            "FROM d, unnest(generate_series(1, len(t) - 1)) AS u(i)), "
            "grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi), "
            "f AS (SELECT doc_id, y, "
            "('0x' || substr(md5(g), 1, 15))::BIGINT % 256 AS feat, "
            "COUNT(*) AS cf FROM grams GROUP BY 1, 2, 3), "
            "tt AS (SELECT doc_id, SUM(cf) AS n FROM f GROUP BY 1), "
            "x AS (SELECT f.doc_id, y, feat, CAST(cf AS DOUBLE) / n AS x "
            "FROM f JOIN tt USING (doc_id)), "
            "cls AS (SELECT CAST(SUM(y) AS DOUBLE) AS np, "
            "CAST(SUM(1 - y) AS DOUBLE) AS nn FROM d), "
            "pf AS (SELECT feat, "
            "SUM(CASE WHEN y = 1 THEN x ELSE 0 END) AS pm, "
            "SUM(CASE WHEN y = 0 THEN x ELSE 0 END) AS nm FROM x GROUP BY 1), "
            "w AS (SELECT feat, ln((pm + 1.0) / (np + 256.0)) "
            "- ln((nm + 1.0) / (nn + 256.0)) AS w FROM pf, cls), "
            "icpt AS (SELECT ln((np + 1.0) / (nn + 1.0)) AS w FROM cls), "
            "marg AS (SELECT x.doc_id, "
            "SUM(x.x * coalesce(w.w, 0)) + (SELECT w FROM icpt) AS m "
            "FROM x LEFT JOIN w USING (feat) GROUP BY x.doc_id) "
            "SELECT 'ftq' AS chk, 'icpt' AS k, round(w, 6) AS v FROM icpt "
            "UNION ALL SELECT 'ftq', CAST(doc_id AS VARCHAR), round(m, 6) FROM marg)"
        ),
        # calibration report (operators/calibration.py): md5-uniform
        # scores, labels drawn against score^2 by a second md5-uniform,
        # then the 10-bin reliability diagram and the ECE scalar
        (
            "SELECT chk, k, v FROM ("
            "WITH r AS (SELECT "
            "('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))::BIGINT "
            "/ 281474976710656.0 AS score, "
            "('0x' || substr(md5('y' || CAST(o_orderkey AS VARCHAR)), 1, 12))::BIGINT "
            "/ 281474976710656.0 AS u FROM orders), "
            "sc AS (SELECT score, "
            "CASE WHEN u < score * score THEN 1 ELSE 0 END AS y FROM r), "
            "b AS (SELECT least(greatest(CAST(floor(score * 10) AS INT), 0), 9) "
            "AS bin, count(*) AS n, avg(score) AS mean_p, avg(CAST(y AS DOUBLE)) "
            "AS frac_pos FROM sc GROUP BY 1), "
            "g AS (SELECT bin, n, mean_p, frac_pos, "
            "abs(mean_p - frac_pos) AS gap FROM b) "
            "SELECT 'reliab' AS chk, CAST(bin AS VARCHAR) || ':n' AS k, "
            "CAST(n AS DOUBLE) AS v FROM g "
            "UNION ALL SELECT 'reliab', CAST(bin AS VARCHAR) || ':mp', "
            "round(mean_p, 6) FROM g "
            "UNION ALL SELECT 'reliab', CAST(bin AS VARCHAR) || ':fp', "
            "round(frac_pos, 6) FROM g "
            "UNION ALL SELECT 'ece', 'ece', round(sum(n * gap) / sum(n), 6) FROM g)"
        ),
        # HDR quantile histogram (operators/sketches.py): precision-6
        # bucket table over floor(o_totalprice) via exact bit math, then
        # the ceil-rank lower-bound quantile readout at five ranks
        (
            "SELECT chk, k, v FROM ("
            "WITH vals AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS v "
            "FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0), "
            "b AS (SELECT CAST(greatest(length(bin(v)) - 7, 0) AS BIGINT) * 64 "
            "+ (v >> CAST(greatest(length(bin(v)) - 7, 0) AS INT)) AS bucket "
            "FROM vals), "
            "h AS (SELECT bucket, COUNT(*) AS n FROM b GROUP BY 1), "
            "c AS (SELECT bucket, n, SUM(n) OVER (ORDER BY bucket) AS cum, "
            "SUM(n) OVER () AS total FROM h), "
            "q(q) AS (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99])), "
            "sel AS (SELECT q, min(bucket) AS bucket FROM c, q "
            "WHERE cum >= ceil(q * total) GROUP BY q), "
            "lo AS (SELECT q, ((bucket - CAST(greatest(CAST((bucket >> 6) AS INT) "
            "- 1, 0) AS BIGINT) * 64) << greatest(CAST((bucket >> 6) AS INT) - 1, 0)) "
            "AS v_est FROM sel) "
            "SELECT 'hist' AS chk, CAST(bucket AS VARCHAR) AS k, "
            "CAST(n AS DOUBLE) AS v FROM h "
            "UNION ALL SELECT 'histq', CAST(CAST(q AS DOUBLE) AS VARCHAR), "
            "CAST(v_est AS DOUBLE) FROM lo)"
        ),
        # k-anonymity / l-diversity release gate (operators/privacy.py):
        # class sizes + distinct-sensitive counts + floor + suppression
        (
            "SELECT chk, k, v FROM ("
            "WITH d AS (SELECT c_mktsegment AS seg, "
            "CAST(c_custkey % 5 AS VARCHAR) AS nb, "
            "(c_acctbal > 0) AS pos FROM customer), "
            "g AS (SELECT seg, nb, COUNT(*) AS n, COUNT(DISTINCT pos) AS l "
            "FROM d GROUP BY 1, 2) "
            "SELECT 'kanon' AS chk, seg || ':' || nb AS k, "
            "CAST(n AS DOUBLE) AS v FROM g "
            "UNION ALL SELECT 'ldiv', seg || ':' || nb, CAST(l AS DOUBLE) FROM g "
            "UNION ALL SELECT 'kanon', '_gate:k_min', CAST(min(n) AS DOUBLE) FROM g "
            "UNION ALL SELECT 'kanon', '_gate:supp200', "
            "(SELECT CAST(coalesce(sum(n), 0) AS DOUBLE) FROM g WHERE n >= 200))"
        ),
        # corpus drift report (operators/drift.py): snapshot A (even ids)
        # vs B (ids not divisible by 3), fixed n_chars bin grid + lang
        # whitelist; per-bin counts/fracs + PSI / JSD / TV scalars
        (
            "SELECT chk, k, v FROM ("
            "WITH sa AS (SELECT n_chars, lang FROM documents WHERE doc_id % 2 = 0), "
            "sb AS (SELECT n_chars, lang FROM documents WHERE doc_id % 3 <> 0), "
            "ba AS (SELECT 'n_chars' AS feature, "
            "CASE WHEN n_chars < 50 THEN 'b0' WHEN n_chars < 100 THEN 'b1' "
            "WHEN n_chars < 200 THEN 'b2' WHEN n_chars < 400 THEN 'b3' "
            "WHEN n_chars < 800 THEN 'b4' ELSE 'b5' END AS bin "
            "FROM sa WHERE n_chars IS NOT NULL "
            "UNION ALL SELECT 'lang', CASE WHEN lang IN ('en', 'de', 'fr') "
            "THEN lang ELSE '__other__' END FROM sa), "
            "bb AS (SELECT 'n_chars' AS feature, "
            "CASE WHEN n_chars < 50 THEN 'b0' WHEN n_chars < 100 THEN 'b1' "
            "WHEN n_chars < 200 THEN 'b2' WHEN n_chars < 400 THEN 'b3' "
            "WHEN n_chars < 800 THEN 'b4' ELSE 'b5' END AS bin "
            "FROM sb WHERE n_chars IS NOT NULL "
            "UNION ALL SELECT 'lang', CASE WHEN lang IN ('en', 'de', 'fr') "
            "THEN lang ELSE '__other__' END FROM sb), "
            "fa AS (SELECT feature, bin, COUNT(*) AS n, "
            "COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY feature) AS frac "
            "FROM ba GROUP BY 1, 2), "
            "fb AS (SELECT feature, bin, COUNT(*) AS n, "
            "COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY feature) AS frac "
            "FROM bb GROUP BY 1, 2), "
            "j AS (SELECT coalesce(fa.feature, fb.feature) AS feature, "
            "coalesce(fa.bin, fb.bin) AS bin, "
            "coalesce(fa.n, 0) AS n_a, coalesce(fb.n, 0) AS n_b, "
            "coalesce(fa.frac, 0) AS pa, coalesce(fb.frac, 0) AS pb "
            "FROM fa FULL OUTER JOIN fb "
            "ON fa.feature = fb.feature AND fa.bin = fb.bin), "
            "t AS (SELECT feature, bin, n_a, n_b, pa, pb, "
            "(greatest(pa, 1e-6) - greatest(pb, 1e-6)) "
            "* ln(greatest(pa, 1e-6) / greatest(pb, 1e-6)) AS psi_term, "
            "(CASE WHEN pa > 0 THEN pa * ln(pa / ((pa + pb) / 2)) ELSE 0 END) / 2 "
            "+ (CASE WHEN pb > 0 THEN pb * ln(pb / ((pa + pb) / 2)) ELSE 0 END) / 2 "
            "AS jsd_term, abs(pa - pb) / 2 AS tv_term FROM j) "
            "SELECT 'drift_bin' AS chk, feature || ':' || bin || ':na' AS k, "
            "CAST(n_a AS DOUBLE) AS v FROM t "
            "UNION ALL SELECT 'drift_bin', feature || ':' || bin || ':nb', "
            "CAST(n_b AS DOUBLE) FROM t "
            "UNION ALL SELECT 'drift_bin', feature || ':' || bin || ':fa', "
            "round(pa, 6) FROM t "
            "UNION ALL SELECT 'drift_bin', feature || ':' || bin || ':fb', "
            "round(pb, 6) FROM t "
            "UNION ALL SELECT 'drift', feature || ':psi', "
            "round(sum(psi_term), 6) FROM t GROUP BY feature "
            "UNION ALL SELECT 'drift', feature || ':jsd', "
            "round(sum(jsd_term), 6) FROM t GROUP BY feature "
            "UNION ALL SELECT 'drift', feature || ':tv', "
            "round(sum(tv_term), 6) FROM t GROUP BY feature)"
        ),
        # z-order layout audit (operators/layout.py): 4-bit range
        # buckets, Morton interleave, exact-ntile file stats, and the
        # skipping fractions for z vs sort-by-nation layouts
        (
            "SELECT chk, k, v FROM ("
            "WITH c AS (SELECT c_custkey AS id, "
            "least(greatest(CAST(floor((CAST(c_nationkey AS DOUBLE) - 0.0) "
            "/ 25.0 * 16) AS BIGINT), 0), 15) AS bn, "
            "least(greatest(CAST(floor((CAST(c_acctbal AS DOUBLE) - -1000.0) "
            "/ 11000.0 * 16) AS BIGINT), 0), 15) AS bb FROM customer), "
            "z AS (SELECT id, bn, bb, "
            "(((bn >> 0) & 1) << 0) | (((bb >> 0) & 1) << 1) "
            "| (((bn >> 1) & 1) << 2) | (((bb >> 1) & 1) << 3) "
            "| (((bn >> 2) & 1) << 4) | (((bb >> 2) & 1) << 5) "
            "| (((bn >> 3) & 1) << 6) | (((bb >> 3) & 1) << 7) AS zval FROM c), "
            "zf AS (SELECT *, ntile(8) OVER (ORDER BY zval, id) - 1 "
            "AS file_id FROM z), "
            "lf AS (SELECT *, ntile(8) OVER (ORDER BY bn, id) - 1 "
            "AS file_id FROM c), "
            "zs AS (SELECT file_id, min(bn) AS bn_min, max(bn) AS bn_max, "
            "min(bb) AS bb_min, max(bb) AS bb_max FROM zf GROUP BY 1), "
            "ls AS (SELECT file_id, min(bn) AS bn_min, max(bn) AS bn_max, "
            "min(bb) AS bb_min, max(bb) AS bb_max FROM lf GROUP BY 1) "
            "SELECT 'zorder' AS chk, 'zv:' || CAST(id AS VARCHAR) AS k, "
            "CAST(zval AS DOUBLE) AS v FROM z WHERE id <= 40 "
            "UNION ALL SELECT 'zorder', 'f:' || CAST(file_id AS VARCHAR) "
            "|| ':bn:min', CAST(bn_min AS DOUBLE) FROM zs "
            "UNION ALL SELECT 'zorder', 'f:' || CAST(file_id AS VARCHAR) "
            "|| ':bn:max', CAST(bn_max AS DOUBLE) FROM zs "
            "UNION ALL SELECT 'zorder', 'f:' || CAST(file_id AS VARCHAR) "
            "|| ':bb:min', CAST(bb_min AS DOUBLE) FROM zs "
            "UNION ALL SELECT 'zorder', 'f:' || CAST(file_id AS VARCHAR) "
            "|| ':bb:max', CAST(bb_max AS DOUBLE) FROM zs "
            "UNION ALL SELECT 'zorder', 'skip:z:bn', "
            "round(avg(CASE WHEN bn_max >= 4 AND bn_min <= 7 THEN 0.0 "
            "ELSE 1.0 END), 6) FROM zs "
            "UNION ALL SELECT 'zorder', 'skip:z:bb', "
            "round(avg(CASE WHEN bb_max >= 4 AND bb_min <= 7 THEN 0.0 "
            "ELSE 1.0 END), 6) FROM zs "
            "UNION ALL SELECT 'zorder', 'skip:lin:bn', "
            "round(avg(CASE WHEN bn_max >= 4 AND bn_min <= 7 THEN 0.0 "
            "ELSE 1.0 END), 6) FROM ls "
            "UNION ALL SELECT 'zorder', 'skip:lin:bb', "
            "round(avg(CASE WHEN bb_max >= 4 AND bb_min <= 7 THEN 0.0 "
            "ELSE 1.0 END), 6) FROM ls)"
        ),
        # KMV / theta sketch (operators/sketches.py): k=64 k-min
        # sketches over even keys vs keys % 3 == 0, union sketch, and
        # the set-operation estimate report
        (
            "SELECT chk, k, v FROM ("
            "WITH ha AS (SELECT DISTINCT ('0x' || substr(md5('o' || "
            "CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h "
            "FROM orders WHERE o_orderkey <= 6000 AND o_orderkey % 2 = 0), "
            "sa AS (SELECT h FROM ha ORDER BY h LIMIT 64), "
            "hb AS (SELECT DISTINCT ('0x' || substr(md5('o' || "
            "CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h "
            "FROM orders WHERE o_orderkey <= 6000 AND o_orderkey % 3 = 0), "
            "sb AS (SELECT h FROM hb ORDER BY h LIMIT 64), "
            "su AS (SELECT DISTINCT h FROM (SELECT h FROM sa "
            "UNION ALL SELECT h FROM sb) ORDER BY h LIMIT 64), "
            "ea AS (SELECT count(*) AS n, max(h) AS hm FROM sa), "
            "eb AS (SELECT count(*) AS n, max(h) AS hm FROM sb), "
            "eu AS (SELECT count(*) AS n, max(h) AS hm FROM su), "
            "rr AS (SELECT count(*) AS rho FROM su WHERE "
            "h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)), "
            "est AS (SELECT "
            "round(CASE WHEN ea.n < 64 THEN CAST(ea.n AS DOUBLE) ELSE "
            "63.0 / (CAST(ea.hm AS DOUBLE) / 1152921504606846976.0) END, 6) AS est_a, "
            "round(CASE WHEN eb.n < 64 THEN CAST(eb.n AS DOUBLE) ELSE "
            "63.0 / (CAST(eb.hm AS DOUBLE) / 1152921504606846976.0) END, 6) AS est_b, "
            "round(CASE WHEN eu.n < 64 THEN CAST(eu.n AS DOUBLE) ELSE "
            "63.0 / (CAST(eu.hm AS DOUBLE) / 1152921504606846976.0) END, 6) AS est_u, "
            "eu.n AS nu, rr.rho AS rho FROM ea, eb, eu, rr) "
            "SELECT 'kmv' AS chk, 'u:' || CAST(row_number() OVER "
            "(ORDER BY h) AS VARCHAR) AS k, CAST(h AS DOUBLE) AS v FROM su "
            "UNION ALL SELECT 'kmv', 'r:est_a', est_a FROM est "
            "UNION ALL SELECT 'kmv', 'r:est_b', est_b FROM est "
            "UNION ALL SELECT 'kmv', 'r:est_union', est_u FROM est "
            "UNION ALL SELECT 'kmv', 'r:rho', CAST(rho AS DOUBLE) FROM est "
            "UNION ALL SELECT 'kmv', 'r:jac', "
            "round(CAST(rho AS DOUBLE) / nu, 6) FROM est "
            "UNION ALL SELECT 'kmv', 'r:inter', "
            "round(CAST(rho AS DOUBLE) / nu * est_u, 6) FROM est)"
        ),
        # skew diagnosis (operators/skew.py): exact priority counts,
        # share / skew-factor / salt plan at 8 partitions, md5_60
        # hash-partition loads + imbalance
        (
            "SELECT chk, k, v FROM ("
            "WITH c AS (SELECT o_orderpriority AS key, count(*) AS n "
            "FROM orders GROUP BY 1), "
            "t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c), "
            "r AS (SELECT key, n, "
            "round(CAST(n AS DOUBLE) / tot, 6) AS share, "
            "round(CAST(n AS DOUBLE) / (tot / 8), 6) AS sf, "
            "greatest(CAST(ceil(CAST(n AS DOUBLE) / tot * 8) AS BIGINT), 1) "
            "AS salt FROM c, t), "
            "pl AS (SELECT ('0x' || substr(md5(key), 1, 15))::BIGINT % 8 "
            "AS part, CAST(sum(n) AS BIGINT) AS load FROM c GROUP BY 1) "
            "SELECT 'skew' AS chk, key || ':n' AS k, CAST(n AS DOUBLE) AS v "
            "FROM r "
            "UNION ALL SELECT 'skew', key || ':share', share FROM r "
            "UNION ALL SELECT 'skew', key || ':sf', sf FROM r "
            "UNION ALL SELECT 'skew', key || ':salt', CAST(salt AS DOUBLE) FROM r "
            "UNION ALL SELECT 'skew', 'sc:total', CAST(sum(n) AS DOUBLE) FROM r "
            "UNION ALL SELECT 'skew', 'sc:n_keys', CAST(count(*) AS DOUBLE) FROM r "
            "UNION ALL SELECT 'skew', 'sc:max_share', max(share) FROM r "
            "UNION ALL SELECT 'skew', 'sc:max_sf', max(sf) FROM r "
            "UNION ALL SELECT 'skew', 'sc:hot', CAST(sum(CASE WHEN salt > 1 "
            "THEN 1 ELSE 0 END) AS DOUBLE) FROM r "
            "UNION ALL SELECT 'skew', 'p:' || CAST(part AS VARCHAR), "
            "CAST(load AS DOUBLE) FROM pl "
            "UNION ALL SELECT 'skew', 'imb:max', CAST(max(load) AS DOUBLE) FROM pl "
            "UNION ALL SELECT 'skew', 'imb:ratio', "
            "round(CAST(max(load) AS DOUBLE) / avg(load), 6) FROM pl)"
        ),
        # document chunking (operators/chunking.py): 32-token windows at
        # stride 16, boundary tokens embedded in the check key
        (
            "SELECT chk, k, v FROM ("
            "WITH d AS (SELECT doc_id, string_split_regex("
            "trim(coalesce(text, '')), '\\s+') AS toks "
            "FROM documents WHERE doc_id <= 120), "
            "f AS (SELECT doc_id, toks, len(toks) AS n FROM d "
            "WHERE len(toks) > 0 AND toks[1] <> ''), "
            "s AS (SELECT doc_id, toks, n, "
            "unnest(generate_series(0, n - 1, 16)) AS start FROM f), "
            "c AS (SELECT doc_id, start // 16 AS chunk_idx, start, "
            "toks[start + 1 : start + 32] AS piece FROM s) "
            "SELECT 'chunks' AS chk, CAST(doc_id AS VARCHAR) || ':' || "
            "CAST(chunk_idx AS VARCHAR) || ':' || CAST(start AS VARCHAR) "
            "|| ':' || piece[1] || ':' || piece[len(piece)] AS k, "
            "CAST(len(piece) AS DOUBLE) AS v FROM c)"
        ),
        # cohort retention + strict-order funnel (operators/agent_analytics.py)
        (
            "SELECT chk, k, v FROM ("
            "WITH act AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day "
            "FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL), "
            "fi AS (SELECT u, min(day) AS fd FROM act GROUP BY 1), "
            "m AS (SELECT CAST(floor(datediff('day', DATE '1970-01-01', fd) "
            "/ 7) AS BIGINT) AS cohort, "
            "CAST(floor(datediff('day', fd, day) / 7) AS BIGINT) AS offs, "
            "act.u AS u FROM act JOIN fi ON act.u = fi.u), "
            "s1 AS (SELECT user_id AS u, min(ts) AS t FROM events "
            "WHERE event_type = 'signup' AND ts IS NOT NULL "
            "AND user_id IS NOT NULL GROUP BY 1), "
            "s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e "
            "JOIN s1 ON e.user_id = s1.u WHERE e.event_type = 'view' "
            "AND e.ts IS NOT NULL AND e.ts > s1.t GROUP BY 1), "
            "s3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e "
            "JOIN s2 ON e.user_id = s2.u WHERE e.event_type = 'purchase' "
            "AND e.ts IS NOT NULL AND e.ts > s2.t GROUP BY 1), "
            "n AS (SELECT (SELECT count(*) FROM s1) AS n1, "
            "(SELECT count(*) FROM s2) AS n2, (SELECT count(*) FROM s3) AS n3) "
            "SELECT 'cohort' AS chk, CAST(cohort AS VARCHAR) || ':' || "
            "CAST(offs AS VARCHAR) AS k, CAST(count(DISTINCT u) AS DOUBLE) AS v "
            "FROM m GROUP BY cohort, offs "
            "UNION ALL SELECT 'funnel', '0:signup:n', CAST(n1 AS DOUBLE) FROM n "
            "UNION ALL SELECT 'funnel', '1:view:n', CAST(n2 AS DOUBLE) FROM n "
            "UNION ALL SELECT 'funnel', '2:purchase:n', CAST(n3 AS DOUBLE) FROM n "
            "UNION ALL SELECT 'funnel', '0:signup:f', "
            "CASE WHEN n1 = 0 THEN 0.0 ELSE round(CAST(n1 AS DOUBLE) / n1, 6) END FROM n "
            "UNION ALL SELECT 'funnel', '1:view:f', "
            "CASE WHEN n1 = 0 THEN 0.0 ELSE round(CAST(n2 AS DOUBLE) / n1, 6) END FROM n "
            "UNION ALL SELECT 'funnel', '2:purchase:f', "
            "CASE WHEN n1 = 0 THEN 0.0 ELSE round(CAST(n3 AS DOUBLE) / n1, 6) END FROM n)"
        ),
    ]

    norm = NORM_SQL
    norm_url = NORM_URL_SQL
    rollup_tok = norm_url.format(c="all_text")
    rollup_sql = (
        "WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id, "
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS turn_idx, "
        "(['user', 'assistant', 'tool'])[event_id % 3 + 1] AS role, "
        "concat_ws(' ', event_type, CAST(event_id AS VARCHAR)) AS text, "
        "CASE WHEN event_id % 5 = 0 THEN 'tool_' || CAST(event_id % 4 AS VARCHAR) END AS tool, "
        "ts FROM events WHERE ts IS NOT NULL), "
        "g AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns, "
        "string_agg(text, ' ' ORDER BY turn_idx) AS all_text, "
        "CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user_turns, "
        "CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant_turns, "
        "CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_turns, "
        "arg_min(role, turn_idx) AS first_role, "
        "arg_min(text, turn_idx) AS first_text, "
        "arg_max(text, turn_idx) AS last_text, "
        "list_sort(list_distinct(list(tool) FILTER (WHERE tool IS NOT NULL))) AS tools_used, "
        "strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS started_at, "
        "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS ended_at, "
        # Spark's unix_timestamp truncates to whole seconds
        "round(floor(epoch(max(ts))) - floor(epoch(min(ts))), 6) AS duration_sec "
        "FROM t GROUP BY conv_id), "
        f"tok AS (SELECT conv_id, CASE WHEN {rollup_tok} IS NULL THEN [] "
        f"ELSE string_split({rollup_tok}, ' ') END AS toks FROM g) "
        "SELECT g.conv_id, n_turns, CAST(len(toks) AS BIGINT) AS n_tokens, "
        "n_user_turns, n_assistant_turns, n_tool_turns, first_role, "
        + norm.format(c="first_text")
        + " AS first_text_norm, "
        + norm.format(c="last_text")
        + " AS last_text_norm, "
        "array_to_string(toks[1:3], ' ') AS token_prefix, "
        "array_to_string(tools_used, ' ') AS tools_used, "
        "CASE WHEN len(tools_used) > 0 THEN tools_used[1] END AS primary_tool, "
        "CAST(len(toks) // 32 AS INTEGER) AS text_len_bucket, "
        "started_at, ended_at, duration_sec, "
        "array_to_string(list_sort(list_distinct(toks)), ' ') AS token_set_str "
        "FROM g JOIN tok ON g.conv_id = tok.conv_id"
    )

    def st_leg(kind, id1, id2, sval, ival, dval, sql):
        return (
            f"SELECT '{kind}' AS kind, CAST({id1} AS BIGINT) AS id1, "
            f"CAST({id2} AS BIGINT) AS id2, {sval} AS sval, "
            f"CAST({ival} AS INTEGER) AS ival, CAST({dval} AS DOUBLE) AS dval "
            f"FROM ({sql})"
        )

    scalar_transforms_sql = " UNION ALL ".join(
        [
            st_leg("p8_norm", "doc_id", 0, "norm", 0, 0.0,
                   base["p8_norm_text"]),
            st_leg("p12_num", "l_orderkey", "l_linenumber", "qty_norm", 0,
                   0.0, base["p12_numeric_norm"]),
            st_leg("p16_regex", "p_partkey", 0, "p_name", 0, 0.0,
                   base["p16_regex_filter"]),
            st_leg("p18_check", "doc_id", 0, "''", "check_digit", 0.0,
                   base["p18_checksum"]),
            st_leg("f4_gauss", "l_orderkey", "l_linenumber", "''", 0,
                   "gauss", base["f4_gauss_comparator"]),
        ]
    )

    set_ops_sql = (
        "SELECT 'u1_union' AS kind, name, src, "
        "CAST(nationkey AS BIGINT) AS id_lo, CAST(0 AS BIGINT) AS id_hi "
        f"FROM ({base['u1_union_sources']}) "
        "UNION ALL SELECT 'u3_pairs', '', '', "
        "CAST(id_lo AS BIGINT), CAST(id_hi AS BIGINT) "
        f"FROM ({base['u3_canonical_dedup']})"
    )

    # survivorship fusion rides cc_components' recursive closure: same
    # planted graph, then every rule replayed with windowed arg-selection
    golden_sql = base["cc_components"].replace(
        "SELECT id AS conv_id, MIN(lbl) AS entity_id FROM reach GROUP BY id",
        ", comp AS (SELECT id AS doc_id, MIN(lbl) AS entity_id "
        "FROM reach GROUP BY id), "
        "hyd AS (SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, "
        "c.entity_id FROM documents d JOIN comp c USING (doc_id)), "
        "base_agg AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members, "
        "string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY doc_id) AS member_ids, "
        "CAST(sum(n_chars) AS BIGINT) AS n_chars_total FROM hyd GROUP BY entity_id), "
        "rep AS (SELECT entity_id, doc_id AS rep_id, text AS text_canon FROM ("
        "SELECT *, row_number() OVER (PARTITION BY entity_id "
        "ORDER BY length(coalesce(text, '')) DESC, doc_id) AS rk FROM hyd) "
        "WHERE rk = 1), "
        "fv AS (SELECT entity_id, 'lang' AS field, lang AS value FROM hyd "
        "UNION ALL SELECT entity_id, 'source', source FROM hyd), "
        "cnt AS (SELECT entity_id, field, value, count(*) AS n FROM fv "
        "WHERE value IS NOT NULL GROUP BY entity_id, field, value), "
        "best AS (SELECT entity_id, field, value FROM ("
        "SELECT *, row_number() OVER (PARTITION BY entity_id, field "
        "ORDER BY n DESC, value) AS rk FROM cnt) WHERE rk = 1), "
        "winners AS (SELECT entity_id, "
        "max(CASE WHEN field = 'lang' THEN value END) AS lang_canon, "
        "max(CASE WHEN field = 'source' THEN value END) AS source_canon "
        "FROM best GROUP BY entity_id) "
        "SELECT b.entity_id, n_members, member_ids, rep_id, text_canon, "
        "n_chars_total, lang_canon, source_canon "
        "FROM base_agg b JOIN rep USING (entity_id) "
        "LEFT JOIN winners USING (entity_id)",
    )

    minhash_pairs_sql = (
        "SELECT 'sym' AS kind, CAST(id_A AS VARCHAR) AS id_A, "
        "CAST(id_B AS VARCHAR) AS id_B, jaccard "
        f"FROM ({base['minhash_exactset']}) "
        "UNION ALL SELECT 'cross', corpus_id, reference_id, jaccard "
        f"FROM ({base['minhash_cross']})"
    )

    near_dup_sql = (
        "SELECT kind, id_A, id_B, jaccard AS v, "
        "CAST(0 AS BIGINT) AS i1, CAST(0 AS BIGINT) AS i2 "
        f"FROM ({minhash_pairs_sql}) "
        "UNION ALL SELECT 'simhash' AS kind, CAST(id_A AS VARCHAR), "
        "CAST(id_B AS VARCHAR), CAST(hamming AS DOUBLE), "
        "CAST(0 AS BIGINT), CAST(0 AS BIGINT) "
        f"FROM ({base['simhash_hd']}) "
        "UNION ALL SELECT 'semdedup' AS kind, CAST(vec_id AS VARCHAR), "
        "CAST(group_id AS VARCHAR), centroid_sim, "
        "CAST(cell AS BIGINT), CAST(keep AS BIGINT) "
        f"FROM ({base['semantic_dedup']})"
    )

    dedup_checks_sql = (
        "SELECT 'exact' AS kind, text_hash AS k1, "
        "CAST(keep_id AS VARCHAR) AS k2, CAST(n_copies AS DOUBLE) AS v1, "
        f"0.0 AS v2 FROM ({base['dedup_exact']}) "
        "UNION ALL SELECT 'tokjac', CAST(id_A AS VARCHAR), "
        "CAST(id_B AS VARCHAR), jaccard, tfidf_cos "
        f"FROM ({base['dedup_token_jaccard']})"
    )

    doc_hygiene_sql = (
        "SELECT 'pii' AS kind, doc_id, scrubbed AS sval, "
        "0.0 AS v1, 0.0 AS v2, 0.0 AS v3, 0.0 AS v4 "
        f"FROM ({base['pii_scrub']}) "
        "UNION ALL SELECT 'rep', doc_id, '', CAST(n_tokens AS DOUBLE), "
        "dup_token_frac, top_token_frac, dup_line_frac "
        f"FROM ({base['doc_repetition']}) "
        "UNION ALL SELECT 'decontam', doc_id, '', "
        "CAST(n_shared_grams AS DOUBLE), 0.0, 0.0, 0.0 "
        f"FROM ({base['decontam_overlap']})"
    )

    # domain-mixture replay (operators/mixing.py, portable mode): plan
    # arithmetic is pure IEEE double ops (identical both engines), the
    # sample is the md5 60-bit hash test + a range() epoch explode
    mix_sql = (
        "WITH mixc AS (SELECT doc_id, lang AS domain, "
        "CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0 "
        "ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) "
        "END AS BIGINT) AS n_tokens "
        "FROM documents WHERE lang IS NOT NULL), "
        "mixm AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_tokens) AS BIGINT) AS avail, "
        "CASE domain WHEN 'en' THEN 1.0/7.0 WHEN 'de' THEN 2.0/7.0 "
        "WHEN 'fr' THEN 4.0/7.0 END AS w "
        "FROM mixc GROUP BY domain), "
        "mixp AS (SELECT domain, n_docs, avail, w * 50000.0 AS target, "
        "least(4.0, (w * 50000.0) / greatest(CAST(avail AS DOUBLE), 1.0)) "
        "AS epochs FROM mixm WHERE w IS NOT NULL), "
        "mixs AS (SELECT c.doc_id, c.domain, c.n_tokens, "
        "CAST(floor(p.epochs) AS BIGINT) + CASE WHEN "
        "(CAST(('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 15))::BIGINT "
        "AS DOUBLE) / 1152921504606846976.0) "
        "< round(p.epochs - floor(p.epochs), 6) THEN 1 ELSE 0 END AS copies "
        "FROM mixc c JOIN mixp p USING (domain)) "
        "SELECT 'mixplan' AS kind, domain AS rid, '' AS lang, "
        "avail AS n_tokens, CAST(floor(epochs) AS BIGINT) AS v1, "
        "n_docs AS v2, round(epochs - floor(epochs), 6) AS d1, "
        "round(target, 6) AS d2 FROM mixp "
        "UNION ALL SELECT 'mixsel', CAST(doc_id AS VARCHAR), domain, "
        "n_tokens, CAST(epoch AS BIGINT), CAST(0 AS BIGINT), 0.0, 0.0 "
        "FROM (SELECT doc_id, domain, n_tokens, "
        "unnest(range(copies)) AS epoch FROM mixs WHERE copies > 0)"
    )
    pack_budget_sql = (
        "SELECT 'pack' AS kind, rid, '' AS lang, n_tokens, "
        "CAST(bin_id AS BIGINT) AS v1, CAST(bin_offset AS BIGINT) AS v2, "
        "0.0 AS d1, 0.0 AS d2 "
        f"FROM ({base['seq_pack']}) "
        "UNION ALL SELECT 'budget', CAST(doc_id AS VARCHAR), lang, "
        "n_tokens, CAST(cum_before AS BIGINT), CAST(0 AS BIGINT), 0.0, 0.0 "
        f"FROM ({base['token_budget']}) "
        f"UNION ALL SELECT * FROM ({mix_sql})"
    )

    transcript_checks_sql = (
        "SELECT 'integrity' AS kind, conv_id AS k1, '' AS k2, '' AS k3, "
        "n_turns AS i1, n_dup_idx AS i2, n_gaps AS i3, "
        "CAST(starts_at_zero AS BIGINT) AS i4, n_empty AS i5, "
        "n_role_repeats AS i6, n_ts_regress AS i7, "
        "CAST(is_clean AS BIGINT) AS i8 "
        f"FROM ({base['transcript_integrity']}) "
        "UNION ALL SELECT 'prefix', prefix_conv_id, super_conv_id, '', "
        "CAST(prefix_len AS BIGINT), CAST(super_len AS BIGINT), "
        "CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), "
        "CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT) "
        f"FROM ({base['prefix_dups']}) "
        "UNION ALL SELECT 'reseg', conv_id, text, "
        "strftime(ts, '%Y-%m-%d %H:%M:%S'), "
        "CAST(turn_idx AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), "
        "CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), "
        "CAST(0 AS BIGINT), CAST(0 AS BIGINT) "
        f"FROM ({base['conv_reseg']})"
    )

    span_checks_sql = (
        "SELECT 'overlap' AS kind, id_A AS id1, id_B AS id2, '' AS sval, "
        "shared_spans AS i1, CAST(0 AS BIGINT) AS i2, CAST(0 AS BIGINT) AS i3 "
        f"FROM ({base['span_overlap']}) "
        "UNION ALL SELECT 'dedup', doc_id, CAST(0 AS BIGINT), text_dedup, "
        "CAST(n_tokens AS BIGINT), CAST(n_kept_tokens AS BIGINT), "
        "CAST(n_removed_spans AS BIGINT) "
        f"FROM ({base['span_dedup']})"
    )

    sn_progressive_sql = (
        "SELECT 'sn' AS kind, id_A AS k1, id_B AS k2, "
        "rank_A AS i1, rank_B AS i2, CAST(0.0 AS DOUBLE) AS d1 "
        f"FROM ({base['sn_pairs']})"
    )

    agent_analytics_sql = (
        "SELECT 'loops' AS kind, conv_id AS k1, '' AS k2, "
        "n_turns AS i1, n_loop_turns AS i2, n_loop_runs AS i3, "
        "max_run_len AS i4, loop_frac AS d1, 0.0 AS d2, 0.0 AS d3 "
        f"FROM ({base['agent_loops']}) "
        "UNION ALL SELECT 'trans', prev_tool, next_tool, "
        "n, n_convs, CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0.0, 0.0, 0.0 "
        f"FROM ({base['tool_transitions']}) "
        "UNION ALL SELECT 'ngrams', gram, '', "
        "n_times, n_convs, CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0.0, 0.0, 0.0 "
        f"FROM ({base['tool_ngrams']}) "
        "UNION ALL SELECT 'drift', prev_tool, next_tool, "
        "n_a, n_b, CAST(0 AS BIGINT), CAST(0 AS BIGINT), p_a, p_b, abs_diff "
        f"FROM ({base['transition_drift']}) "
        "UNION ALL SELECT 'boiler', conv_id, text, "
        "CAST(turn_idx AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), "
        "CAST(0 AS BIGINT), 0.0, 0.0, 0.0 "
        f"FROM ({base['turn_boilerplate']})"
    )

    return {
        "rollup_portable": rollup_sql,
        "scalar_transforms": scalar_transforms_sql,
        "set_ops": set_ops_sql,
        "golden_records": golden_sql,
        "blocking_cascades": (
            f"SELECT * FROM ({base['blocking_b1']}) "
            f"UNION ALL SELECT * FROM ({base['blocking_b2']})"
        ),
        "near_dup_pairs": near_dup_sql,
        "dedup_checks": dedup_checks_sql,
        "doc_hygiene": doc_hygiene_sql,
        "pack_budget": pack_budget_sql,
        "sampling_checks": (
            f"SELECT 'hash_quota' AS kind, doc_id, lang FROM ({base['w4_hash_quota']}) "
            "UNION ALL "
            f"SELECT 'stratified' AS kind, doc_id, lang FROM ({base['strat_sample']})"
        ),
        "scalar_checks": " UNION ALL ".join(
            scalar_parts
            + [
                # corpus-profile rows folded verbatim (freed window slot)
                tagged("ngram", base["ngram_topk"], "gram", "n_docs"),
                # p unnests as DECIMAL(3,2) ('0.50'); double renders '0.5'
                tagged("lq", base["length_quantiles"], "CAST(p AS DOUBLE)", "n_chars_q"),
            ]
        ),
        "transcript_checks": transcript_checks_sql,
        "span_checks": span_checks_sql,
        "sn_progressive": sn_progressive_sql,
        "agent_analytics": agent_analytics_sql,
        "p2_p11_filter_canon": (
            "SELECT doc_id, lang, n_chars, CASE WHEN lang = 'en' THEN 'english' "
            "WHEN lang = 'de' THEN 'german' WHEN lang = 'fr' THEN 'french' "
            "ELSE lang END AS lang_canon FROM documents "
            "WHERE text IS NOT NULL AND lang IS NOT NULL"
        ),
        "p4_p21_serialize": (
            "SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment, "
            "concat_ws(' ', "
            "CASE WHEN c_name IS NOT NULL THEN 'COL name VAL ' || c_name END, "
            "CASE WHEN c_mktsegment IS NOT NULL THEN 'COL segment VAL ' || c_mktsegment END, "
            "CASE WHEN c_nationkey IS NOT NULL THEN 'COL nation VAL ' || CAST(c_nationkey AS VARCHAR) END"
            ") AS serialized FROM customer"
        ),
        "j3_hydrate_diff": (
            f"SELECT *, CAST("
            "CAST(name_A IS DISTINCT FROM name_B AS INTEGER) + "
            "CAST(bal_A IS DISTINCT FROM bal_B AS INTEGER) AS INTEGER) AS n_diff "
            f"FROM ({base['j3_hydrate_pairs']})"
        ),
        "group_counts": (
            "SELECT 'lang' AS kind, lang AS k, CAST(count(*) AS BIGINT) AS n "
            "FROM documents GROUP BY lang "
            "UNION ALL "
            "SELECT 'token' AS kind, token AS k, df AS n FROM ("
            f"{base['a8_doc_freq']})"
        ),
        "w2_latest_parsed": (
            "SELECT o_custkey, o_orderkey, o_orderstatus, "
            "CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS INTEGER) AS yr, "
            "CAST(month(CAST(o_orderdate AS TIMESTAMP)) AS INTEGER) AS mo, "
            "strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS ym FROM ("
            "SELECT *, row_number() OVER (PARTITION BY o_custkey "
            "ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) WHERE rn = 1"
        ),
        "similarity_funcs": (
            "WITH names AS (SELECT 'names' AS kind, "
            "CAST(c_custkey AS BIGINT) AS id1, CAST(s_suppkey AS BIGINT) AS id2, "
            "round(jaro_winkler_similarity(c_name, s_name), 6) AS v1, "
            "CAST(levenshtein(c_name, s_name) AS DOUBLE) AS v2, "
            "round(CASE WHEN c_name IS NULL OR s_name IS NULL "
            "OR greatest(length(c_name), length(s_name)) = 0 THEN 0.0 "
            "ELSE 1.0 - levenshtein(c_name, s_name) / "
            "CAST(greatest(length(c_name), length(s_name)) AS DOUBLE) END, 6) AS v3 "
            "FROM customer JOIN supplier ON c_nationkey = s_nationkey), "
            # Monge-Elkan replay: token cross-product + native JW, per-
            # direction max/mean (mirrors similarity.monge_elkan_np)
            "mp AS (SELECT a.p_partkey AS id1, b.p_partkey AS id2, "
            "concat_ws(' ', a.p_name, a.p_type) AS ta, "
            "concat_ws(' ', b.p_name, b.p_type) AS tb "
            "FROM part a JOIN part b ON a.p_brand = b.p_brand "
            "AND a.p_partkey < b.p_partkey "
            "WHERE a.p_partkey < 500 AND b.p_partkey < 500), "
            "atoks AS (SELECT id1, id2, unnest(string_split(ta, ' ')) AS t FROM mp), "
            "btoks AS (SELECT id1, id2, unnest(string_split(tb, ' ')) AS t FROM mp), "
            "xp AS (SELECT a.id1, a.id2, a.t AS at, b.t AS bt, "
            "jaro_winkler_similarity(a.t, b.t) AS s "
            "FROM atoks a JOIN btoks b ON a.id1 = b.id1 AND a.id2 = b.id2), "
            "amax AS (SELECT id1, id2, at, max(s) AS m FROM xp GROUP BY 1, 2, 3), "
            "meab AS (SELECT id1, id2, avg(m) AS v FROM amax GROUP BY 1, 2), "
            "bmax AS (SELECT id1, id2, bt, max(s) AS m FROM xp GROUP BY 1, 2, 3), "
            "meba AS (SELECT id1, id2, avg(m) AS v FROM bmax GROUP BY 1, 2), "
            "monge AS (SELECT 'monge' AS kind, "
            "CAST(ab.id1 AS BIGINT) AS id1, CAST(ab.id2 AS BIGINT) AS id2, "
            "round(greatest(ab.v, ba.v), 6) AS v1, "
            "round(ab.v, 6) AS v2, round(ba.v, 6) AS v3 "
            "FROM meab ab JOIN meba ba ON ab.id1 = ba.id1 AND ab.id2 = ba.id2) "
            "SELECT * FROM names UNION ALL SELECT * FROM monge "
            "UNION ALL SELECT 'soft_tfidf' AS kind, id_A, id_B, "
            "soft_tfidf, st_ab, st_ba "
            f"FROM ({base['soft_tfidf']})"
        ),
        "text_stats": (
            f"SELECT tc.doc_id, tc.n_ws, tc.n_bpe, q.n_tokens, q.stopword_ratio, "
            f"q.alpha_ratio, q.q_score, l.lang_pred "
            f"FROM ({base['text_token_counts']}) tc "
            f"JOIN ({base['text_quality']}) q ON tc.doc_id = q.doc_id "
            f"JOIN ({base['text_langid']}) l ON tc.doc_id = l.doc_id"
        ),
        "event_windows": (
            f"SELECT 'hourly' AS kind, event_type AS k, hour_start AS w_start, "
            f"n, sum_value FROM ({base['event_hourly']}) "
            "UNION ALL "
            f"SELECT 'session' AS kind, CAST(user_id AS VARCHAR) AS k, "
            f"session_start AS w_start, n_events AS n, sum_value "
            f"FROM ({base['event_sessions']})"
        ),
    }


def _portable_flagship_oracles() -> dict[str, str]:
    """DuckDB twins for the portable flagship entries: the full blocking ->
    M1 featurize -> LR sigmoid composition and the fixed-model E3 report.
    Every feature is recomputed from scratch (native jaro_winkler,
    levenshtein, exp) over the same document-derived profiles."""

    def docs2(extra: bool) -> str:
        s = (
            "SELECT doc_id, text, lang FROM documents WHERE text IS NOT NULL "
            "UNION ALL SELECT doc_id + 7000000 AS doc_id, text, lang "
            "FROM documents WHERE text IS NOT NULL AND doc_id < 40"
        )
        if extra:
            s += (
                " UNION ALL SELECT doc_id + 9000000 AS doc_id, text, 'xx' AS lang "
                "FROM documents WHERE text IS NOT NULL AND doc_id < 30 "
                "UNION ALL SELECT doc_id + 8000000 AS doc_id, 'zz ' || text AS text, lang "
                "FROM documents WHERE text IS NOT NULL AND doc_id >= 40 AND doc_id < 60"
            )
        return s

    ftn = NORM_SQL.format(c="substr(text, 1, 40)")
    norm_full = NORM_SQL.format(c="text")
    prof = (
        "SELECT CAST(doc_id AS VARCHAR) AS conv_id, "
        "CAST(CAST(floor(length(text) / 200) AS INTEGER) AS VARCHAR) AS bkt, "
        f"{ftn} AS ftn, "
        f"{NORM_SQL.format(c='substr(text, 21, 40)')} AS ltn, "
        f"substr({ftn}, 1, 12) AS tpfx, "
        "(['user', 'assistant', 'system'])[length(text) % 3 + 1] AS role, "
        "lang AS tool, "
        "length(text) % 20 + 1 AS n_turns, "
        "length(text) % 7 AS n_user_turns, "
        "length(text) % 4 AS n_tool_turns, "
        "CAST(CASE WHEN trim(text) = '' THEN 0 "
        "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS INTEGER) AS n_tokens, "
        "CAST(length(text) % 1000 AS DOUBLE) AS duration_sec, "
        f"CASE WHEN {norm_full} IS NULL THEN [] "
        f"ELSE list_distinct(string_split({norm_full}, ' ')) END AS tok_set "
        "FROM docs2"
    )

    def exact(a: str, b: str) -> str:
        return (
            f"CASE WHEN {a} IS NULL OR {b} IS NULL THEN 0.0 "
            f"ELSE CAST({a} = {b} AS DOUBLE) END"
        )

    def gauss(a: str, b: str, off: float, scale: float) -> str:
        return (
            f"CASE WHEN {a} IS NULL OR {b} IS NULL THEN 0.0 "
            f"WHEN abs({a} - {b}) <= {off} THEN 1.0 "
            f"ELSE exp(-0.5 * pow((abs({a} - {b}) - {off}) / {scale}, 2)) END"
        )

    def jw(a: str, b: str) -> str:
        return (
            f"CASE WHEN {a} IS NULL OR {b} IS NULL THEN 0.0 "
            f"ELSE jaro_winkler_similarity({a}, {b}) END"
        )

    lev = (
        "CASE WHEN a.tpfx IS NULL OR b.tpfx IS NULL "
        "OR greatest(length(a.tpfx), length(b.tpfx)) = 0 THEN 0.0 "
        "ELSE 1.0 - levenshtein(a.tpfx, b.tpfx) / "
        "CAST(greatest(length(a.tpfx), length(b.tpfx)) AS DOUBLE) END"
    )
    inter = "len(list_intersect(a.tok_set, b.tok_set))"
    uni = f"(len(a.tok_set) + len(b.tok_set) - {inter})"
    jac = f"CASE WHEN {uni} <= 0 THEN 0.0 ELSE CAST({inter} AS DOUBLE) / {uni} END"

    # per-pair feature select list (FEATURE_NAMES order; jwf/jwl raw so the
    # binarized thresholds are applied in the z expression)
    feat_cols = (
        f"{jw('a.ftn', 'b.ftn')} AS jwf, "
        f"{jw('a.ltn', 'b.ltn')} AS jwl, "
        f"{exact('a.n_turns', 'b.n_turns')} AS x_n_turns, "
        f"{exact('a.role', 'b.role')} AS x_first_role, "
        f"{exact('a.tool', 'b.tool')} AS x_primary_tool, "
        f"{exact('a.tpfx', 'b.tpfx')} AS x_token_prefix, "
        f"{exact('a.n_user_turns', 'b.n_user_turns')} AS x_n_user_turns, "
        "CAST((a.n_tool_turns > 0) = (b.n_tool_turns > 0) AS DOUBLE) AS x_has_tool, "
        f"{gauss('a.n_turns', 'b.n_turns', 0.0, 2.0)} AS g_n_turns, "
        f"{gauss('a.duration_sec', 'b.duration_sec', 5.0, 60.0)} AS g_duration, "
        f"{gauss('a.n_tokens', 'b.n_tokens', 2.0, 20.0)} AS g_tokens, "
        f"{gauss('a.n_tool_turns', 'b.n_tool_turns', 0.0, 2.0)} AS g_tool_turns, "
        f"{lev} AS lev_prefix, "
        f"{jac} AS jac_tokens"
    )
    z_expr = (
        "2.0 * CAST(jwf >= 0.85 AS DOUBLE) + 1.0 * CAST(jwf >= 0.70 AS DOUBLE) "
        "+ 1.5 * CAST(jwl >= 0.85 AS DOUBLE) + 0.8 * CAST(jwl >= 0.70 AS DOUBLE) "
        "+ 0.6 * x_n_turns + 0.3 * x_first_role + 0.5 * x_primary_tool "
        "+ 1.2 * x_token_prefix + 0.4 * x_n_user_turns + 0.3 * x_has_tool "
        "+ 0.8 * g_n_turns + 0.8 * g_duration + 0.8 * g_tokens "
        "+ 0.4 * g_tool_turns + 1.0 * lev_prefix + 2.0 * jac_tokens - 6.0"
    )

    scored_sql = (
        f"WITH docs2 AS ({docs2(False)}), "
        f"prof AS ({prof}), "
        "recs AS (SELECT *, substr(ftn, 1, 3) AS f3 FROM prof "
        "WHERE bkt IS NOT NULL AND substr(ftn, 1, 3) IS NOT NULL "
        "AND bkt || substr(ftn, 1, 3) != ''), "
        f"pairs AS (SELECT a.conv_id AS id_A, b.conv_id AS id_B, {feat_cols} "
        "FROM recs a JOIN recs b ON a.bkt = b.bkt AND a.f3 = b.f3 "
        "AND a.conv_id < b.conv_id "
        "WHERE jaro_winkler_similarity(a.ftn, b.ftn) >= 0.95), "
        f"sc AS (SELECT id_A, id_B, {z_expr} AS z FROM pairs) "
        "SELECT id_A, id_B, round(1.0 / (1.0 + exp(-z)), 6) AS score, "
        "CAST(1.0 / (1.0 + exp(-z)) >= 0.5 AS INTEGER) AS pred FROM sc"
    )

    explain_sql = (
        f"WITH docs2 AS ({docs2(False)}), "
        f"prof AS ({prof}), "
        "recs AS (SELECT *, substr(ftn, 1, 3) AS f3 FROM prof "
        "WHERE bkt IS NOT NULL AND substr(ftn, 1, 3) IS NOT NULL "
        "AND bkt || substr(ftn, 1, 3) != ''), "
        f"pairs AS (SELECT a.conv_id AS id_A, b.conv_id AS id_B, {feat_cols} "
        "FROM recs a JOIN recs b ON a.bkt = b.bkt AND a.f3 = b.f3 "
        "AND a.conv_id < b.conv_id "
        "WHERE jaro_winkler_similarity(a.ftn, b.ftn) >= 0.95), "
        f"sc AS (SELECT *, {z_expr} AS z FROM pairs), "
        "expl AS (SELECT id_A, id_B, z, "
        "unnest(['jw_first_high', 'jw_first_low', 'jw_last_high', "
        "'jw_last_low', 'x_n_turns', 'x_first_role', 'x_primary_tool', "
        "'x_token_prefix', 'x_n_user_turns', 'x_has_tool', 'g_n_turns', "
        "'g_duration', 'g_tokens', 'g_tool_turns', 'lev_prefix', "
        "'jac_tokens']) AS feature, "
        "unnest([CAST(jwf >= 0.85 AS DOUBLE), CAST(jwf >= 0.70 AS DOUBLE), "
        "CAST(jwl >= 0.85 AS DOUBLE), CAST(jwl >= 0.70 AS DOUBLE), "
        "x_n_turns, x_first_role, x_primary_tool, x_token_prefix, "
        "x_n_user_turns, x_has_tool, g_n_turns, g_duration, g_tokens, "
        "g_tool_turns, lev_prefix, jac_tokens]) AS value, "
        "unnest([2.0 * CAST(jwf >= 0.85 AS DOUBLE), "
        "1.0 * CAST(jwf >= 0.70 AS DOUBLE), "
        "1.5 * CAST(jwl >= 0.85 AS DOUBLE), "
        "0.8 * CAST(jwl >= 0.70 AS DOUBLE), "
        "0.6 * x_n_turns, 0.3 * x_first_role, 0.5 * x_primary_tool, "
        "1.2 * x_token_prefix, 0.4 * x_n_user_turns, 0.3 * x_has_tool, "
        "0.8 * g_n_turns, 0.8 * g_duration, 0.8 * g_tokens, "
        "0.4 * g_tool_turns, 1.0 * lev_prefix, 2.0 * jac_tokens]) "
        "AS contribution FROM sc), "
        "ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY id_A, "
        "id_B ORDER BY abs(contribution) DESC, feature) AS INT) AS rank "
        "FROM expl) "
        "SELECT id_A, id_B, round(1.0 / (1.0 + exp(-z)), 6) AS score, "
        "rank, feature, round(value, 6) AS value, "
        "round(contribution, 6) AS contribution FROM ranked WHERE rank <= 5"
    )

    gt_sql = (
        "SELECT CAST(i AS VARCHAR) AS id_A, CAST(i + 7000000 AS VARCHAR) AS id_B, "
        "1 AS label FROM ids WHERE i < 40 AND (i + 7000000) IN (SELECT i FROM ids) "
        "UNION ALL SELECT CAST(i AS VARCHAR), CAST(i + 9000000 AS VARCHAR), 1 "
        "FROM ids WHERE i < 30 AND (i + 9000000) IN (SELECT i FROM ids) "
        "UNION ALL SELECT CAST(i AS VARCHAR), CAST(i + 8000000 AS VARCHAR), 1 "
        "FROM ids WHERE i >= 40 AND i < 60 AND (i + 8000000) IN (SELECT i FROM ids) "
        "UNION ALL SELECT CAST(i AS VARCHAR), CAST(i + 2 AS VARCHAR), 0 "
        "FROM ids WHERE i % 3 = 0 AND (i + 2) IN (SELECT i FROM ids)"
    )

    def cell(strategy: str, model: str, in_s: str, pred: str) -> str:
        gpred = f"({in_s} AND {pred})"
        return (
            f"SELECT '{strategy}' AS strategy, '{model}' AS model, "
            "round(CASE WHEN sum(label) > 0 THEN "
            f"sum(CASE WHEN label = 1 AND {in_s} THEN 1 ELSE 0 END) "
            "/ CAST(sum(label) AS DOUBLE) ELSE 0.0 END, 6) AS blocking_recall, "
            "CAST(count(*) AS BIGINT) AS n_test_pairs, "
            f"CAST(sum(CASE WHEN {in_s} THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates, "
            f"CAST(sum(CASE WHEN label = 1 AND {gpred} THEN 1 ELSE 0 END) AS BIGINT) AS tp, "
            f"CAST(sum(CASE WHEN label = 0 AND {gpred} THEN 1 ELSE 0 END) AS BIGINT) AS fp, "
            f"CAST(sum(CASE WHEN label = 1 AND NOT {gpred} THEN 1 ELSE 0 END) AS BIGINT) AS fn, "
            f"CAST(sum(CASE WHEN label = 0 AND NOT {gpred} THEN 1 ELSE 0 END) AS BIGINT) AS tn, "
            f"CAST(sum(CASE WHEN label = 1 AND {in_s} AND NOT {gpred} THEN 1 ELSE 0 END) "
            "AS BIGINT) AS fn_c FROM d"
        )

    in_b1 = "(eq_b1 AND jwf >= 0.95)"
    in_b2 = "(eq_b1 AND eq_l3 AND jwf >= 0.95 AND jwl >= 0.85 AND eq_tool)"
    pred_lr = f"(1.0 / (1.0 + exp(-({z_expr}))) >= 0.5)"
    pred_rule = "(jwf >= 0.85 AND eq_tool)"
    # Fellegi-Sunter twin: same python-computed log2 literals as the
    # Spark expression (repr round-trips the exact double), same term
    # order, so the two engines add identical floats identically
    from math import log2 as _log2

    _fs_sql_feats = {
        "jw_first_high": "CAST(jwf >= 0.85 AS DOUBLE)",
        "x_token_prefix": "x_token_prefix",
        "x_primary_tool": "x_primary_tool",
        "x_first_role": "x_first_role",
    }
    _fs_terms = [
        f"(CASE WHEN {_fs_sql_feats[c]} >= 0.5 THEN {_log2(m / u)!r} "
        f"ELSE {_log2((1.0 - m) / (1.0 - u))!r} END)"
        for c, (m, u) in _FS_WEIGHTS.items()
    ]
    pred_fs = "((0.0 + " + " + ".join(_fs_terms) + f") > {_FS_LINK_THRESHOLD!r})"

    report_sql = (
        f"WITH docs2 AS ({docs2(True)}), "
        f"prof AS ({prof}), "
        "ids AS (SELECT CAST(conv_id AS BIGINT) AS i FROM prof), "
        f"gt AS ({gt_sql}), "
        f"p AS (SELECT gt.label, {feat_cols}, "
        "coalesce(a.bkt IS NOT NULL AND b.bkt IS NOT NULL AND a.bkt = b.bkt "
        "AND substr(a.ftn, 1, 3) IS NOT NULL AND substr(b.ftn, 1, 3) IS NOT NULL "
        "AND substr(a.ftn, 1, 3) = substr(b.ftn, 1, 3), false) AS eq_b1, "
        "coalesce(substr(a.ltn, 1, 3) IS NOT NULL AND substr(b.ltn, 1, 3) IS NOT NULL "
        "AND substr(a.ltn, 1, 3) = substr(b.ltn, 1, 3), false) AS eq_l3, "
        "coalesce(a.tool IS NOT NULL AND b.tool IS NOT NULL AND a.tool = b.tool, false) AS eq_tool "
        "FROM gt JOIN prof a ON gt.id_A = a.conv_id JOIN prof b ON gt.id_B = b.conv_id), "
        f"d AS (SELECT label, {in_b1} AS in_b1, {in_b2} AS in_b2, "
        f"{pred_lr} AS pred_lr, {pred_rule} AS pred_rule, "
        f"{pred_fs} AS pred_fs FROM p), "
        "cells AS ("
        + cell("B1", "lr", "in_b1", "pred_lr")
        + " UNION ALL " + cell("B1", "jw_rule", "in_b1", "pred_rule")
        + " UNION ALL " + cell("B1", "fs", "in_b1", "pred_fs")
        + " UNION ALL " + cell("B2", "lr", "in_b2", "pred_lr")
        + " UNION ALL " + cell("B2", "jw_rule", "in_b2", "pred_rule")
        + " UNION ALL " + cell("B2", "fs", "in_b2", "pred_fs")
        + ") "
        "SELECT strategy, model, blocking_recall, n_test_pairs, n_candidates, "
        "tp, fp, fn, tn, "
        "round(CASE WHEN 2 * tp + fp + fn > 0 "
        "THEN 2.0 * tp / (2 * tp + fp + fn) ELSE 0.0 END, 6) AS f1_global, "
        "round(CASE WHEN 2 * tp + fp + fn_c > 0 "
        "THEN 2.0 * tp / (2 * tp + fp + fn_c) ELSE 0.0 END, 6) AS f1_candidates "
        "FROM cells"
    )

    return {
        "scored_pairs_portable": scored_sql,
        "explain_pairs": explain_sql,
        # PQ ADC: codebooks = md5-ordered init sub-vectors (iterations=0),
        # encode = per-subspace argmin, score = summed LUT lookups
        "pq_adc": (
            "WITH base AS (SELECT vec_id, "
            "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
            "FROM embeddings), "
            "ini AS (SELECT * FROM (SELECT vec_id, v, "
            "row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), "
            "CAST(vec_id AS VARCHAR)) - 1 AS code FROM base) "
            "WHERE code < 8), "
            "subsid AS (SELECT unnest([0, 1, 2, 3]) AS sub), "
            "cb AS (SELECT sub, code, v[sub*16+1 : sub*16+16] AS centroid "
            "FROM ini CROSS JOIN subsid), "
            "sv AS (SELECT vec_id, sub, v[sub*16+1 : sub*16+16] AS subv "
            "FROM base CROSS JOIN subsid), "
            "dst AS (SELECT vec_id, sv.sub, code, "
            "CAST(list_sum(list_transform(list_zip(subv, centroid), "
            "p -> (p[1]-p[2])*(p[1]-p[2]))) AS DOUBLE) AS d "
            "FROM sv JOIN cb ON sv.sub = cb.sub), "
            "enc AS (SELECT vec_id, sub, code FROM (SELECT *, "
            "row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) "
            "AS rn FROM dst) WHERE rn = 1), "
            "lutq AS (SELECT b.vec_id AS query_id, s.sub, "
            "v[s.sub*16+1 : s.sub*16+16] AS qsub "
            "FROM base b CROSS JOIN subsid s WHERE b.vec_id < 5), "
            "lut AS (SELECT query_id, cb.sub, cb.code, "
            "CAST(list_sum(list_transform(list_zip(qsub, centroid), "
            "p -> p[1]*p[2])) AS DOUBLE) AS dot "
            "FROM lutq JOIN cb ON lutq.sub = cb.sub), "
            "sc AS (SELECT query_id, e.vec_id AS neighbor_id, "
            "round(sum(dot), 6) AS adc FROM enc e "
            "JOIN lut ON e.sub = lut.sub AND e.code = lut.code "
            "WHERE e.vec_id <> query_id GROUP BY 1, 2) "
            "SELECT query_id, neighbor_id, adc, CAST(rnk AS INT) AS rank "
            "FROM (SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY adc DESC, neighbor_id) AS rnk FROM sc) "
            "WHERE rnk <= 10"
        ),
        "compare_report_portable": report_sql,
    }


def oracle_sql() -> dict[str, str]:
    # base ∪ planted messy copies — textual mirror of _messy_copies()
    messy_docs = (
        "SELECT doc_id, text FROM documents WHERE text IS NOT NULL "
        "UNION ALL SELECT doc_id + 3000000 AS doc_id, "
        "'  !! ' || upper(text) || '  ... http://spam.example/x?q=1 ' AS text "
        "FROM documents WHERE text IS NOT NULL AND doc_id < 60"
    )
    norm_t = NORM_URL_SQL.format(c="text")
    # portable 60-bit simhash recomputed from scratch: md5_60 token hash,
    # per-bit ones-count votes, bit set when 2*c_b > n (vote > 0)
    sh_sums = ", ".join(
        f"sum((_h >> {b}) & 1) AS _c{b}" for b in range(60)
    )
    sh_fp = " + ".join(
        f"(CASE WHEN _c{b} * 2 > _n THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
        for b in range(60)
    )
    simhash_hd_sql = (
        f"WITH all_docs AS ({messy_docs}), "
        f"tok AS (SELECT doc_id, unnest(string_split({norm_t}, ' ')) AS _t "
        f"FROM all_docs WHERE {norm_t} IS NOT NULL), "
        "h AS (SELECT doc_id, ('0x' || substr(md5(_t), 1, 15))::BIGINT AS _h FROM tok), "
        f"votes AS (SELECT doc_id, count(*) AS _n, {sh_sums} FROM h GROUP BY doc_id), "
        f"fp AS (SELECT doc_id, {sh_fp} AS fp FROM votes) "
        "SELECT a.doc_id AS id_A, b.doc_id AS id_B, "
        "CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming "
        "FROM fp a JOIN fp b ON a.doc_id < b.doc_id "
        "WHERE bit_count(xor(a.fp, b.fp)) <= 3"
    )
    # text_analysis tokenizer (accent-preserving charset, no URL strip)
    ta_norm = (
        "trim(regexp_replace(regexp_replace(lower(coalesce({c}, '')), "
        "'[^a-zàâäéèêëíìîïóòôöúùûüñß\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
    )
    acc_norm = (
        "nullif(trim(regexp_replace(regexp_replace(lower(coalesce({c}, '')), "
        "'[^a-zàâäéèêëíìîïóòôöúùûüñß\\s]', ' ', 'g'), '\\s+', ' ', 'g')), '')"
    )
    ws_toks = (
        "list_filter(string_split_regex(trim(lower(coalesce({c}, ''))), '\\s+'), "
        "x -> x != '')"
    )
    ngram_topk_sql = (
        "WITH all_docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL "
        "UNION ALL SELECT doc_id + 6000000 AS doc_id, "
        "'click here to subscribe now ' || text AS text "
        "FROM documents WHERE text IS NOT NULL AND doc_id < 50), "
        f"t AS (SELECT doc_id, {ws_toks.format(c='text')} AS t FROM all_docs), "
        "g AS (SELECT doc_id, unnest(list_distinct("
        "[array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) AS gram "
        "FROM t), "
        "c AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_docs FROM g GROUP BY 1) "
        "SELECT gram, n_docs FROM c ORDER BY n_docs DESC, gram LIMIT 50"
    )
    qprobs = "[0.25, 0.5, 0.75, 0.9, 0.99]"
    length_quantiles_sql = (
        f"WITH a AS (SELECT quantile_cont(length(coalesce(text, '')), {qprobs}) "
        "AS qs FROM documents) "
        f"SELECT unnest({qprobs}) AS p, "
        "round(unnest(qs), 6) AS n_chars_q FROM a"
    )
    event_sessions_sql = (
        "WITH e AS (SELECT user_id, ts, value, "
        # Spark session windows are half-open [start, last+gap): an event
        # landing exactly gap after its predecessor opens a NEW session,
        # so the islands test is >=, not >
        "CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) "
        ">= INTERVAL 30 MINUTE OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) "
        "IS NULL THEN 1 ELSE 0 END AS is_new "
        "FROM events WHERE ts IS NOT NULL), "
        "s AS (SELECT user_id, ts, value, "
        "sum(is_new) OVER (PARTITION BY user_id ORDER BY ts "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM e) "
        "SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, "
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 6) AS sum_value "
        "FROM s GROUP BY user_id, sid"
    )
    # blocking generator replay: profile synthesis + equality self-join +
    # native jaro_winkler cascade (the Spark side's salting must be
    # invisible — exactly-once pair semantics — for the hashes to match)
    doc_prof_sql = (
        "WITH docs2 AS (SELECT doc_id, text, lang FROM documents "
        "WHERE text IS NOT NULL UNION ALL "
        "SELECT doc_id + 7000000 AS doc_id, text, lang FROM documents "
        "WHERE text IS NOT NULL AND doc_id < 40) "
        "SELECT CAST(doc_id AS VARCHAR) AS conv_id, "
        "CAST(CAST(floor(length(text) / 200) AS INTEGER) AS VARCHAR) AS bkt, "
        + NORM_SQL.format(c="substr(text, 1, 40)")
        + " AS ftn, "
        + NORM_SQL.format(c="substr(text, 21, 40)")
        + " AS ltn, lang AS tool FROM docs2"
    )
    blocking_b1_sql = (
        f"WITH prof AS ({doc_prof_sql}), "
        "recs AS (SELECT conv_id, bkt, substr(ftn, 1, 3) AS f3, ftn FROM prof "
        "WHERE bkt IS NOT NULL AND substr(ftn, 1, 3) IS NOT NULL "
        "AND bkt || substr(ftn, 1, 3) != '') "
        # block_key joins the cascade keys with chr(1) (the engine's
        # unambiguous key separator — "1"+"0ab" never collides with "10"+"ab")
        "SELECT a.conv_id AS id_A, b.conv_id AS id_B, "
        "a.bkt || chr(1) || a.f3 AS block_key, 'B1' AS strategy "
        "FROM recs a JOIN recs b ON a.bkt = b.bkt AND a.f3 = b.f3 "
        "AND a.conv_id < b.conv_id "
        "WHERE jaro_winkler_similarity(a.ftn, b.ftn) >= 0.95"
    )
    blocking_b2_sql = (
        f"WITH prof AS ({doc_prof_sql}), "
        "recs AS (SELECT conv_id, bkt, substr(ftn, 1, 3) AS f3, "
        "substr(ltn, 1, 3) AS l3, ftn, ltn, tool FROM prof "
        "WHERE bkt IS NOT NULL AND substr(ftn, 1, 3) IS NOT NULL "
        "AND substr(ltn, 1, 3) IS NOT NULL "
        "AND bkt || substr(ftn, 1, 3) || substr(ltn, 1, 3) != '') "
        "SELECT a.conv_id AS id_A, b.conv_id AS id_B, "
        "a.bkt || chr(1) || a.f3 || chr(1) || a.l3 AS block_key, 'B2' AS strategy "
        "FROM recs a JOIN recs b ON a.bkt = b.bkt AND a.f3 = b.f3 "
        "AND a.l3 = b.l3 AND a.conv_id < b.conv_id "
        "WHERE jaro_winkler_similarity(a.ftn, b.ftn) >= 0.95 "
        "AND jaro_winkler_similarity(a.ltn, b.ltn) >= 0.85 "
        "AND a.tool IS NOT NULL AND a.tool = b.tool"
    )
    bcubed_sql = (
        "WITH j AS (SELECT doc_id, CAST(floor(doc_id / 7) AS BIGINT) AS c, "
        "lang AS k FROM documents WHERE lang IS NOT NULL), "
        "nc AS (SELECT c, count(*) AS nc FROM j GROUP BY 1), "
        "nk AS (SELECT k, count(*) AS nk FROM j GROUP BY 1), "
        "nck AS (SELECT c, k, count(*) AS nck FROM j GROUP BY 1, 2), "
        "per AS (SELECT nck.nck / CAST(nc.nc AS DOUBLE) AS p, "
        "nck.nck / CAST(nk.nk AS DOUBLE) AS r "
        "FROM j JOIN nck USING (c, k) JOIN nc USING (c) JOIN nk USING (k)), "
        "a AS (SELECT avg(p) AS p, avg(r) AS r, CAST(count(*) AS BIGINT) AS n "
        "FROM per) "
        "SELECT round(p, 6) AS bcubed_precision, round(r, 6) AS bcubed_recall, "
        "round(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0 END, 6) "
        "AS bcubed_f1, n AS n_records FROM a"
    )
    norm40 = NORM_SQL.format(c="substr(text, 1, 40)")
    cluster_quality_sql = (
        # shared inputs: doc clustering (doc_id div 7) vs lang truth, plus
        # JW-scored (doc_id, doc_id+k) k in 1..3 pairs over 40-char
        # normalized slices — identical strings to the Spark side, DuckDB
        # native jaro_winkler (same portability as similarity_funcs)
        "WITH d AS (SELECT doc_id, lang, text FROM documents "
        "WHERE lang IS NOT NULL), "
        "asg AS (SELECT doc_id, CAST(floor(doc_id / 7) AS BIGINT) AS e FROM d), "
        f"s AS (SELECT doc_id, {norm40} AS sl FROM d "
        f"WHERE text IS NOT NULL AND {norm40} IS NOT NULL), "
        "pr AS (SELECT a.doc_id AS ia, b.doc_id AS ib, "
        "round(jaro_winkler_similarity(a.sl, b.sl), 6) AS sc "
        "FROM s a JOIN s b "
        "ON b.doc_id IN (a.doc_id + 1, a.doc_id + 2, a.doc_id + 3)), "
        # pair-counting metrics from the contingency table
        "cont AS (SELECT e AS c, lang AS k, count(*) AS n "
        "FROM asg JOIN d USING (doc_id) GROUP BY 1, 2), "
        "tpv AS (SELECT CAST(sum(n * (n - 1)) / 2 AS DOUBLE) AS tp FROM cont), "
        "ppv AS (SELECT CAST(sum(s * (s - 1)) / 2 AS DOUBLE) AS pp "
        "FROM (SELECT sum(n) AS s FROM cont GROUP BY c)), "
        "tqv AS (SELECT CAST(sum(s * (s - 1)) / 2 AS DOUBLE) AS tq "
        "FROM (SELECT sum(n) AS s FROM cont GROUP BY k)), "
        "nv AS (SELECT CAST(sum(n) AS DOUBLE) AS n, "
        "CAST(sum(n) * (sum(n) - 1) / 2 AS DOUBLE) AS tot FROM cont), "
        "pcm AS (SELECT n, tp, pp, tq, tot, pp - tp AS fp, tq - tp AS fn, "
        "tot - pp - (tq - tp) AS tn FROM tpv, ppv, tqv, nv), "
        "pcrow AS (SELECT n AS n_records, tp, fp, fn, tn, "
        "round(CASE WHEN pp > 0 THEN tp / pp ELSE 0 END, 6) AS p_prec, "
        "round(CASE WHEN tq > 0 THEN tp / tq ELSE 0 END, 6) AS p_rec, "
        "round(CASE WHEN pp + tq > 0 THEN 2 * tp / (pp + tq) ELSE 0 END, 6) AS p_f1, "
        "round(CASE WHEN tot > 0 THEN (tp + tn) / tot ELSE 1.0 END, 6) AS rand_i, "
        "round(CASE WHEN (pp + tq) / 2 - pp * tq / tot <> 0 "
        "THEN (tp - pp * tq / tot) / ((pp + tq) / 2 - pp * tq / tot) "
        "ELSE 1.0 END, 6) AS ari FROM pcm), "
        # cohesion: per-entity within-pair stats + unscored pair count
        "within AS (SELECT ea.e AS e, sc FROM pr "
        "JOIN asg ea ON pr.ia = ea.doc_id JOIN asg eb ON pr.ib = eb.doc_id "
        "WHERE ea.e = eb.e), "
        "sizes AS (SELECT e, count(*) AS nm FROM asg GROUP BY 1), "
        "ps AS (SELECT e, count(*) AS nsw, round(min(sc), 6) AS mn, "
        "round(avg(sc), 6) AS av, "
        "sum(CASE WHEN sc < 0.8 THEN 1 ELSE 0 END) AS ncf FROM within GROUP BY 1), "
        "coh AS (SELECT sizes.e, nm, coalesce(nsw, 0) AS nsw, mn, av, "
        "coalesce(ncf, 0) AS ncf, "
        "nm * (nm - 1) / 2 - coalesce(nsw, 0) AS nup "
        "FROM sizes LEFT JOIN ps USING (e)), "
        # merge candidates: cross-entity pairs at/above threshold
        "crossx AS (SELECT ea.e AS e1, eb.e AS e2, sc FROM pr "
        "JOIN asg ea ON pr.ia = ea.doc_id JOIN asg eb ON pr.ib = eb.doc_id "
        "WHERE ea.e <> eb.e AND sc >= 0.8), "
        "mrg AS (SELECT least(e1, e2) AS lo, greatest(e1, e2) AS hi, "
        "count(*) AS ne, round(max(sc), 6) AS mx, round(avg(sc), 6) AS av "
        "FROM crossx GROUP BY 1, 2), "
        # entropy family (V-measure/NMI) from the same contingency table
        "vmc AS (SELECT c, CAST(sum(n) AS DOUBLE) AS nc FROM cont GROUP BY 1), "
        "vmk AS (SELECT k, CAST(sum(n) AS DOUBLE) AS nk FROM cont GROUP BY 1), "
        "vmj AS (SELECT CAST(sum(n) AS DOUBLE) AS nn, "
        "sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE) / nc)) AS sck, "
        "sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE) / nk)) AS skc "
        "FROM cont JOIN vmc USING (c) JOIN vmk USING (k)), "
        "vme AS (SELECT nn, "
        "ln(nn) - (SELECT sum(nk * ln(nk)) FROM vmk) / nn AS hcv, "
        "ln(nn) - (SELECT sum(nc * ln(nc)) FROM vmc) / nn AS hkv, "
        "-sck / nn AS hck, -skc / nn AS hkc FROM vmj), "
        "vmr AS (SELECT nn, hcv, hkv, hck, hkc, "
        "CASE WHEN hcv <= 0 THEN 1.0 ELSE 1 - hck / hcv END AS hom, "
        "CASE WHEN hkv <= 0 THEN 1.0 ELSE 1 - hkc / hkv END AS com FROM vme), "
        "vmx AS (SELECT nn, hcv, hkv, hck, hkc, hom, com, "
        "CASE WHEN hom + com > 0 THEN 2 * hom * com / (hom + com) "
        "ELSE 0.0 END AS vm, "
        "CASE WHEN hcv > 0 AND hkv > 0 THEN (hcv - hck) / sqrt(hcv * hkv) "
        "ELSE 0.0 END AS nmi FROM vmr), "
        # collective-ER relational evidence: two-key co-occurrence
        # relation (id div 3 / div 5 groups), neighbor-entity sets under
        # the div-7 assignment, per-pair Jaccard (hub guard / cap never
        # bind on these inputs — every key touches <= 2 entities)
        "rrel AS (SELECT doc_id, 'a' || CAST(doc_id // 3 AS VARCHAR) AS key "
        "FROM d UNION ALL "
        "SELECT doc_id, 'b' || CAST(doc_id // 5 AS VARCHAR) AS key FROM d), "
        "rkeyed AS (SELECT r.doc_id, r.key, a.e FROM rrel r "
        "JOIN asg a USING (doc_id)), "
        "rke AS (SELECT DISTINCT key, e FROM rkeyed), "
        "rnbr AS (SELECT DISTINCT k0.doc_id, re.e AS ne FROM rkeyed k0 "
        "JOIN rke re ON k0.key = re.key AND re.e <> k0.e), "
        "rpr AS (SELECT a.doc_id AS ia, b.doc_id AS ib FROM d a JOIN d b "
        "ON b.doc_id IN (a.doc_id + 1, a.doc_id + 2, a.doc_id + 3)), "
        "rsz AS (SELECT doc_id, count(*) AS n FROM rnbr GROUP BY 1), "
        "rint AS (SELECT p.ia, p.ib, count(*) AS i FROM rpr p "
        "JOIN rnbr na ON na.doc_id = p.ia "
        "JOIN rnbr nb ON nb.doc_id = p.ib AND nb.ne = na.ne GROUP BY 1, 2), "
        "rsim AS (SELECT p.ia, p.ib, CASE WHEN coalesce(sa.n, 0) + "
        "coalesce(sb.n, 0) - coalesce(i.i, 0) > 0 THEN "
        "CAST(coalesce(i.i, 0) AS DOUBLE) / (coalesce(sa.n, 0) + "
        "coalesce(sb.n, 0) - coalesce(i.i, 0)) ELSE 0.0 END AS sim "
        "FROM rpr p LEFT JOIN rsz sa ON sa.doc_id = p.ia "
        "LEFT JOIN rsz sb ON sb.doc_id = p.ib "
        "LEFT JOIN rint i ON i.ia = p.ia AND i.ib = p.ib), "
        # transitivity audit: strong wedges at 0.8 whose closing pair is
        # missing or weak (pr rows already have ia < ib)
        "tstr AS (SELECT ia AS lo, ib AS hi, sc FROM pr WHERE sc >= 0.8), "
        "tsym AS (SELECT lo AS ctr, hi AS leaf, sc FROM tstr "
        "UNION ALL SELECT hi AS ctr, lo AS leaf, sc FROM tstr), "
        "tw AS (SELECT l.leaf AS a, l.ctr AS c0, r.leaf AS c, "
        "l.sc AS wab, r.sc AS wbc FROM tsym l "
        "JOIN tsym r ON l.ctr = r.ctr AND l.leaf < r.leaf), "
        "tout AS (SELECT tw.a, tw.c0, tw.c, tw.wab, tw.wbc, t.sc AS wac "
        "FROM tw LEFT JOIN pr t ON t.ia = tw.a AND t.ib = tw.c "
        "WHERE t.sc IS NULL OR t.sc < 0.8) "
        "SELECT 'bcubed' AS chk, unnest(['bcubed_precision', 'bcubed_recall', "
        "'bcubed_f1', 'n_records']) AS k, unnest([bcubed_precision, "
        "bcubed_recall, bcubed_f1, CAST(n_records AS DOUBLE)]) AS v "
        f"FROM ({bcubed_sql}) "
        "UNION ALL SELECT 'pc' AS chk, unnest(['n_records', 'tp', 'fp', 'fn', "
        "'tn', 'pairwise_precision', 'pairwise_recall', 'pairwise_f1', "
        "'rand_index', 'adjusted_rand']) AS k, "
        "unnest([n_records, tp, fp, fn, tn, p_prec, p_rec, p_f1, rand_i, ari]) "
        "AS v FROM pcrow "
        "UNION ALL SELECT 'cohesion' AS chk, CAST(e AS VARCHAR) || ':' || "
        "unnest(['n_members', 'n_scored_within', 'min_score', 'avg_score', "
        "'n_conflicts', 'n_unscored_pairs']) AS k, "
        "unnest([CAST(nm AS DOUBLE), CAST(nsw AS DOUBLE), mn, av, "
        "CAST(ncf AS DOUBLE), CAST(nup AS DOUBLE)]) AS v FROM coh "
        "UNION ALL SELECT 'merge' AS chk, CAST(lo AS VARCHAR) || '-' || "
        "CAST(hi AS VARCHAR) || ':' || "
        "unnest(['n_edges', 'max_score', 'avg_score']) AS k, "
        "unnest([CAST(ne AS DOUBLE), mx, av]) AS v FROM mrg "
        "UNION ALL SELECT 'vm' AS chk, unnest(['n_records', 'h_class', "
        "'h_cluster', 'h_class_given_cluster', 'h_cluster_given_class', "
        "'mutual_info', 'homogeneity', 'completeness', 'v_measure', "
        "'nmi']) AS k, "
        "unnest([nn, round(hcv, 6), round(hkv, 6), round(hck, 6), "
        "round(hkc, 6), round(hcv - hck, 6), round(hom, 6), round(com, 6), "
        "round(vm, 6), round(nmi, 6)]) AS v FROM vmx "
        "UNION ALL SELECT 'rel' AS chk, CAST(ia AS VARCHAR) || '-' || "
        "CAST(ib AS VARCHAR) AS k, round(sim, 6) AS v FROM rsim "
        "UNION ALL SELECT 'tri' AS chk, CAST(a AS VARCHAR) || '-' || "
        "CAST(c0 AS VARCHAR) || '-' || CAST(c AS VARCHAR) || ':' || "
        "unnest(['w_ab', 'w_bc', 'w_ac', 'is_missing']) AS k, "
        "unnest([round(wab, 6), round(wbc, 6), "
        "coalesce(round(wac, 6), CAST(-1.0 AS DOUBLE)), "
        "CASE WHEN wac IS NULL THEN CAST(1.0 AS DOUBLE) "
        "ELSE CAST(0.0 AS DOUBLE) END]) AS v FROM tout"
    )
    out = {
        "blocking_b1": blocking_b1_sql,
        "blocking_b2": blocking_b2_sql,
        "cluster_quality": cluster_quality_sql,
        "ngram_topk": ngram_topk_sql,
        "length_quantiles": length_quantiles_sql,
        "event_hourly": (
            "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start, "
            "event_type, CAST(count(*) AS BIGINT) AS n, "
            "round(sum(value), 6) AS sum_value "
            "FROM events WHERE ts IS NOT NULL GROUP BY 1, 2"
        ),
        "event_sessions": event_sessions_sql,
        "p1_missing_pct": (
            "SELECT round(avg(CASE WHEN text IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_text, "
            "round(avg(CASE WHEN lang IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_lang, "
            "round(avg(CASE WHEN source IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_source "
            "FROM documents"
        ),
        "p8_norm_text": (
            "SELECT doc_id, " + NORM_SQL.format(c="text") + " AS norm FROM documents"
        ),
        "p12_numeric_norm": (
            "SELECT l_orderkey, l_linenumber, "
            "CAST(CAST(floor(l_quantity) AS INTEGER) AS VARCHAR) AS qty_norm FROM lineitem"
        ),
        "p14_prefix_key": (
            "SELECT substring(c_name, 1, 3) AS pfx, CAST(count(*) AS BIGINT) AS n "
            "FROM customer GROUP BY 1"
        ),
        "p16_regex_filter": (
            "SELECT p_partkey, p_name FROM part "
            "WHERE regexp_matches(p_name, '^[a-z]+ [a-z]+') "
            "AND NOT regexp_matches(p_name, '(aaaa|zzzz|test)')"
        ),
        "p18_checksum": (
            "SELECT doc_id, CAST("
            "(7*CAST(substring(lpad(CAST(doc_id AS VARCHAR), 8, '0'), 1, 1) AS INTEGER)"
            " + 3*CAST(substring(lpad(CAST(doc_id AS VARCHAR), 8, '0'), 2, 1) AS INTEGER)"
            " + 1*CAST(substring(lpad(CAST(doc_id AS VARCHAR), 8, '0'), 3, 1) AS INTEGER)"
            " + 7*CAST(substring(lpad(CAST(doc_id AS VARCHAR), 8, '0'), 4, 1) AS INTEGER)"
            " + 3*CAST(substring(lpad(CAST(doc_id AS VARCHAR), 8, '0'), 5, 1) AS INTEGER)"
            " + 1*CAST(substring(lpad(CAST(doc_id AS VARCHAR), 8, '0'), 6, 1) AS INTEGER)"
            " + 7*CAST(substring(lpad(CAST(doc_id AS VARCHAR), 8, '0'), 7, 1) AS INTEGER)"
            " + 3*CAST(substring(lpad(CAST(doc_id AS VARCHAR), 8, '0'), 8, 1) AS INTEGER)"
            ") % 10 AS INTEGER) AS check_digit FROM documents"
        ),
        "m9_top_idf_tokens": (
            "WITH toks AS (SELECT doc_id, unnest(list_distinct("
            "CASE WHEN nullif(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), "
            "'[^a-zàâäéèêëíìîïóòôöúùûüñß\\s]', ' ', 'g'), '\\s+', ' ', 'g')), '') IS NULL "
            "THEN [] ELSE string_split(nullif(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), "
            "'[^a-zàâäéèêëíìîïóòôöúùûüñß\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ''), ' ') END"
            ")) AS token FROM documents), "
            "dfreq AS (SELECT token, count(*) AS df FROM toks GROUP BY 1), "
            "n AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM documents), "
            "scored AS (SELECT doc_id, token, ln(c / df) AS idf "
            "FROM toks JOIN dfreq USING (token) CROSS JOIN n), "
            "ranked AS (SELECT doc_id, token, "
            "row_number() OVER (PARTITION BY doc_id ORDER BY idf DESC, token ASC) AS rank "
            "FROM scored) "
            "SELECT doc_id, array_to_string(list_sort(list(token)), ' ') AS top_tokens "
            "FROM ranked WHERE rank <= 5 GROUP BY doc_id"
        ),
        "j1_selfjoin_key": (
            "SELECT a.c_custkey AS id_A, b.c_custkey AS id_B, a.c_nationkey, a.c_mktsegment "
            "FROM customer a JOIN customer b "
            "ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment "
            "WHERE a.c_custkey < b.c_custkey"
        ),
        "j2_capped_pairs": (
            "WITH pairs AS ("
            "SELECT a.c_custkey AS id_A, b.c_custkey AS id_B, a.c_nationkey, a.c_mktsegment "
            "FROM customer a JOIN customer b "
            "ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment "
            "WHERE a.c_custkey < b.c_custkey) "
            "SELECT id_A, id_B, c_nationkey, c_mktsegment FROM ("
            "SELECT *, row_number() OVER (PARTITION BY c_nationkey, c_mktsegment "
            "ORDER BY id_A, id_B) AS rn FROM pairs) WHERE rn <= 10"
        ),
        "j3_hydrate_pairs": (
            "WITH pairs AS ("
            "SELECT id_A, id_B FROM ("
            "SELECT a.c_custkey AS id_A, b.c_custkey AS id_B, a.c_nationkey, a.c_mktsegment, "
            "row_number() OVER (PARTITION BY a.c_nationkey, a.c_mktsegment "
            "ORDER BY a.c_custkey, b.c_custkey) AS rn "
            "FROM customer a JOIN customer b "
            "ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment "
            "WHERE a.c_custkey < b.c_custkey) WHERE rn <= 10) "
            "SELECT id_A, id_B, ca.c_name AS name_A, cb.c_name AS name_B, "
            "round(ca.c_acctbal, 2) AS bal_A, round(cb.c_acctbal, 2) AS bal_B "
            "FROM pairs JOIN customer ca ON pairs.id_A = ca.c_custkey "
            "JOIN customer cb ON pairs.id_B = cb.c_custkey"
        ),
        "j4_overlay_default": (
            "WITH gt AS (SELECT o_orderkey, CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label FROM orders), "
            "cand AS (SELECT o_orderkey, 1 AS cand_pred FROM orders WHERE o_totalprice > 150000) "
            "SELECT label, coalesce(cand_pred, 0) AS pred, CAST(count(*) AS BIGINT) AS n "
            "FROM gt LEFT JOIN cand USING (o_orderkey) GROUP BY 1, 2"
        ),
        "j5_semi_anti": (
            "SELECT CAST((SELECT count(*) FROM customer WHERE c_custkey IN "
            "(SELECT o_custkey FROM orders)) AS BIGINT) AS n_with, "
            "CAST((SELECT count(*) FROM customer WHERE c_custkey NOT IN "
            "(SELECT o_custkey FROM orders)) AS BIGINT) AS n_without"
        ),
        "a2_rollup_sequence": (
            "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, "
            "string_agg(event_type, ',' ORDER BY ts, event_id) AS type_seq "
            "FROM events GROUP BY user_id"
        ),
        "a4_group_count": (
            "SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang"
        ),
        "a5_summary_stats": (
            "SELECT l_returnflag, l_linestatus, "
            "round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty, "
            "round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue, "
            "CAST(count(*) AS BIGINT) AS n_rows, "
            "round(CAST(avg(l_discount) AS DOUBLE), 6) AS avg_disc "
            "FROM lineitem GROUP BY 1, 2"
        ),
        "a6_confusion": (
            "SELECT CAST(sum(CASE WHEN l_returnflag = 'R' AND l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS tp, "
            "CAST(sum(CASE WHEN l_returnflag != 'R' AND l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS fp, "
            "CAST(sum(CASE WHEN l_returnflag = 'R' AND l_discount < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS fn, "
            "CAST(sum(CASE WHEN l_returnflag != 'R' AND l_discount < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS tn "
            "FROM lineitem"
        ),
        "a7_threshold_sweep": (
            "WITH taus AS (SELECT CAST(unnest([0.01,0.02,0.03,0.04,0.05,0.06,0.07,0.08,0.09]) AS DOUBLE) AS tau), "
            "agg AS (SELECT tau, "
            "CAST(sum(CASE WHEN l_discount >= tau AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS tp, "
            "CAST(sum(CASE WHEN l_discount >= tau AND l_returnflag != 'R' THEN 1 ELSE 0 END) AS BIGINT) AS fp, "
            "CAST(sum(CASE WHEN l_discount < tau AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS fn "
            "FROM lineitem CROSS JOIN taus GROUP BY tau), "
            # ROC AUC over the same labeled scores: distinct-score counts,
            # strictly-below cumulative negatives, tie credit via the
            # integral 2*numerator form (mirrors evaluate.roc_auc)
            "dist AS (SELECT round(l_discount, 6) AS s, "
            "sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS np, "
            "sum(CASE WHEN l_returnflag != 'R' THEN 1 ELSE 0 END) AS nn "
            "FROM lineitem GROUP BY 1), "
            "cum AS (SELECT np, nn, coalesce(sum(nn) OVER (ORDER BY s "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb "
            "FROM dist), "
            "aucv AS (SELECT round(CAST(sum(np * (2*cnb + nn)) AS DOUBLE) / "
            "(2 * CAST(sum(np) AS DOUBLE) * CAST(sum(nn) AS DOUBLE)), 6) AS auc "
            "FROM cum), "
            # average precision: descending cumulative tp/fp over the same
            # distinct-score frame (mirrors evaluate.average_precision)
            "cumd AS (SELECT np, "
            "sum(np) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctp, "
            "sum(nn) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cfp "
            "FROM dist), "
            "apv AS (SELECT round(sum(CAST(np AS DOUBLE) * (CAST(ctp AS DOUBLE) / CAST(ctp + cfp AS DOUBLE))) / "
            "CAST(sum(np) AS DOUBLE), 6) AS ap FROM cumd) "
            "SELECT round(tau, 2) AS tau, "
            "round(CASE WHEN 2*tp + fp + fn > 0 THEN 2.0*tp/(2*tp + fp + fn) ELSE 0.0 END, 6) AS f1, "
            "(SELECT auc FROM aucv) AS auc, "
            "(SELECT ap FROM apv) AS ap "
            "FROM agg"
        ),
        "a8_doc_freq": (
            "SELECT token, CAST(count(*) AS BIGINT) AS df FROM ("
            "SELECT unnest(list_distinct(string_split(lower(coalesce(text, '')), ' '))) AS token "
            "FROM documents) WHERE token != '' GROUP BY token"
        ),
        "w4_hash_quota": (
            "SELECT doc_id, lang FROM documents "
            "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 50"
        ),
        "w5_topk_per_group": (
            "SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rank FROM ("
            "SELECT o_custkey, o_orderkey, o_totalprice, "
            "row_number() OVER (PARTITION BY o_custkey "
            "ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank FROM orders) "
            "WHERE rank <= 3"
        ),
        "u1_union_sources": (
            "SELECT c_name AS name, 'customer' AS src, CAST(c_nationkey AS INTEGER) AS nationkey FROM customer "
            "UNION ALL "
            "SELECT s_name AS name, 'supplier' AS src, CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier"
        ),
        "u3_canonical_dedup": (
            "SELECT DISTINCT least(l_partkey, l_suppkey) AS id_lo, "
            "greatest(l_partkey, l_suppkey) AS id_hi FROM lineitem"
        ),
        "x1_hash_split": (
            "WITH b AS (SELECT (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 128 "
            "+ ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 AS bucket FROM documents) "
            "SELECT CASE WHEN bucket < 70 THEN 'train' WHEN bucket < 80 THEN 'val' "
            "ELSE 'test' END AS split, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1"
        ),
        "f4_gauss_comparator": (
            "SELECT l_orderkey, l_linenumber, round(CASE "
            "WHEN abs(l_extendedprice - l_extendedprice * (1 - l_discount)) <= 500 THEN 1.0 "
            "ELSE exp(-0.5 * pow((abs(l_extendedprice - l_extendedprice * (1 - l_discount)) - 500) / 2000, 2)) "
            "END, 6) AS gauss FROM lineitem"
        ),
        "dedup_exact": (
            "WITH all_docs AS (SELECT doc_id, text FROM documents "
            "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 25) "
            "SELECT md5(coalesce(" + NORM_URL_SQL.format(c="text") + ", '')) AS text_hash, "
            "CAST(count(*) AS BIGINT) AS n_copies, min(doc_id) AS keep_id "
            "FROM all_docs GROUP BY 1 HAVING count(*) > 1"
        ),
        # brute force on purpose: a hash match proves the Spark side's
        # prefix + length + positional filters lose zero recall
        "ssjoin_prefix": (
            "WITH base AS (SELECT doc_id, "
            "list_distinct(string_split(" + NORM_URL_SQL.format(c="text") + ", ' ')) AS toks "
            "FROM documents WHERE doc_id < 250 AND " + NORM_URL_SQL.format(c="text") + " IS NOT NULL), "
            "sized AS (SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0), "
            "tok AS (SELECT doc_id, unnest(toks) AS token FROM sized), "
            "cand AS (SELECT a.doc_id AS id_A, b.doc_id AS id_B, count(*) AS inter "
            "FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id "
            "GROUP BY 1, 2) "
            "SELECT c.id_A, c.id_B, "
            "round(CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter), 6) AS jaccard "
            "FROM cand c JOIN sized sa ON sa.doc_id = c.id_A "
            "JOIN sized sb ON sb.doc_id = c.id_B "
            "WHERE CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) >= 0.85"
        ),
        "dedup_token_jaccard": (
            # NOTE: no doc_id slice here — this twin covers the FULL
            # documents table, unlike ssjoin_prefix's sliced brute force
            "WITH base AS (SELECT doc_id, "
            "list_distinct(string_split(coalesce(" + NORM_URL_SQL.format(c="text") + ", ''), ' ')) AS toks, "
            "array_to_string(list_slice(string_split(coalesce(" + NORM_URL_SQL.format(c="text") + ", ''), ' '), 1, 2), ' ') AS bk "
            "FROM documents WHERE " + NORM_URL_SQL.format(c="text") + " IS NOT NULL), "
            "pairs AS (SELECT a.doc_id AS id_A, b.doc_id AS id_B, "
            "len(list_intersect(a.toks, b.toks)) AS inter, "
            "len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS uni "
            "FROM base a JOIN base b ON a.bk = b.bk AND a.doc_id < b.doc_id WHERE a.bk != ''), "
            "sel AS (SELECT id_A, id_B, round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard "
            "FROM pairs WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5), "
            # TF-IDF cosine replay (mirrors text_analysis.tfidf_cosine_pairs:
            # accent tokenizer, tf * ln(N/df), norms, shared-token dot)
            "tokf AS (SELECT doc_id, unnest(string_split(" + acc_norm.format(c="text") + ", ' ')) AS token FROM documents), "
            "tfq AS (SELECT doc_id, token, count(*) AS tf FROM tokf WHERE token IS NOT NULL AND token != '' GROUP BY 1, 2), "
            "dfq AS (SELECT token, count(*) AS df FROM tfq GROUP BY 1), "
            "nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents), "
            "wt AS (SELECT doc_id, token, tf * ln(n / df) AS w FROM tfq JOIN dfq USING (token) CROSS JOIN nd), "
            "nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nr FROM wt GROUP BY 1), "
            "dots AS (SELECT p.id_A, p.id_B, sum(wa.w * wb.w) AS dt "
            "FROM sel p JOIN wt wa ON wa.doc_id = p.id_A "
            "JOIN wt wb ON wb.doc_id = p.id_B AND wb.token = wa.token GROUP BY 1, 2) "
            "SELECT p.id_A, p.id_B, p.jaccard, "
            "round(CASE WHEN na.nr > 0 AND nb.nr > 0 "
            "THEN coalesce(dt, 0) / (na.nr * nb.nr) ELSE 0.0 END, 6) AS tfidf_cos "
            "FROM sel p LEFT JOIN dots d ON d.id_A = p.id_A AND d.id_B = p.id_B "
            "LEFT JOIN nrm na ON na.doc_id = p.id_A "
            "LEFT JOIN nrm nb ON nb.doc_id = p.id_B"
        ),
        "ann_brute_topk": (
            "WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10), "
            "scored AS (SELECT q.query_id, e.vec_id AS neighbor_id, "
            "round(CAST(list_cosine_similarity(q.qv, e.embedding) AS DOUBLE), 4) AS cosine "
            "FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id) "
            "SELECT query_id, neighbor_id, cosine, rank FROM ("
            "SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored) WHERE rank <= 5"
        ),
        "text_quality": (
            "WITH base AS (SELECT doc_id, coalesce(text, '') AS t, "
            "CASE WHEN nullif(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), "
            "'[^a-zàâäéèêëíìîïóòôöúùûüñß\\s]', ' ', 'g'), '\\s+', ' ', 'g')), '') IS NULL "
            "THEN [] ELSE string_split(nullif(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), "
            "'[^a-zàâäéèêëíìîïóòôöúùûüñß\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ''), ' ') END AS toks "
            "FROM documents), "
            "m AS (SELECT doc_id, length(t) AS n_chars, len(toks) AS n_tokens, "
            "len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','that','for','with','was'], x))) AS n_stop, "
            "length(regexp_replace(t, '[^\\.,;:!\\?]', '', 'g')) AS n_punct, "
            "length(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS n_alpha FROM base), "
            "r AS (SELECT doc_id, n_tokens, "
            "CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stopword_ratio, "
            "CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio, "
            "CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END AS alpha_ratio, "
            "CASE WHEN n_tokens > 0 THEN CAST(n_alpha AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_word_len "
            "FROM m) "
            "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, "
            "round(stopword_ratio, 6) AS stopword_ratio, round(alpha_ratio, 6) AS alpha_ratio, "
            "round((CAST(n_tokens >= 5 AND n_tokens <= 100000 AS DOUBLE) "
            "+ CAST(stopword_ratio >= 0.01 AS DOUBLE) + CAST(alpha_ratio >= 0.5 AS DOUBLE) "
            "+ CAST(mean_word_len >= 2 AND mean_word_len <= 12 AS DOUBLE) "
            "+ CAST(punct_ratio <= 0.2 AS DOUBLE)) / 5.0, 6) AS q_score FROM r"
        ),
        "text_langid": (
            "WITH profiles(lang, words) AS (VALUES "
            "('en', ['the','and','of','to','in','is','that','for','with','was']), "
            "('de', ['der','die','und','das','ist','von','mit','den','nicht','ein']), "
            "('fr', ['le','la','les','des','est','une','dans','que','pour','sur']), "
            "('es', ['el','la','los','las','que','una','por','con','para','del']), "
            "('it', ['il','la','che','di','una','per','con','del','non','sono'])), "
            "toks AS (SELECT doc_id, "
            "CASE WHEN nullif(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), "
            "'[^a-zàâäéèêëíìîïóòôöúùûüñß\\s]', ' ', 'g'), '\\s+', ' ', 'g')), '') IS NULL "
            "THEN [] ELSE string_split(nullif(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), "
            "'[^a-zàâäéèêëíìîïóòôöúùûüñß\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ''), ' ') END AS toks "
            "FROM documents), "
            "hits AS (SELECT doc_id, lang, len(list_intersect(list_distinct(toks), words)) AS h "
            "FROM toks CROSS JOIN profiles), "
            "ranked AS (SELECT doc_id, lang, h, "
            "row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, lang DESC) AS rn FROM hits) "
            "SELECT doc_id, CASE WHEN h > 0 THEN lang ELSE 'und' END AS lang_pred "
            "FROM ranked WHERE rn = 1"
        ),
        "text_token_counts": (
            "SELECT doc_id, "
            "CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0 "
            "ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) END AS BIGINT) AS n_ws, "
            "CAST(len(regexp_extract_all(coalesce(text, ''), "
            "'(\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+)', 1)) AS BIGINT) AS n_bpe "
            "FROM documents"
        ),
        # M10 DK injection — same rule chain as functions/knowledge.py; the
        # long-id rule is written lookahead-free (RE2) as length+digit tests
        "dk_inject": (
            "WITH all_docs AS ("
            "SELECT doc_id, text FROM documents WHERE text IS NOT NULL "
            "UNION ALL "
            "SELECT doc_id + 2000000 AS doc_id, "
            "'COL name VAL Apple Gadget sn' || lpad(CAST(doc_id AS VARCHAR), 7, '0') "
            "|| ' COL price VAL ' || CAST(doc_id AS VARCHAR) "
            "|| '.25 COL qty VAL 0042 COL date VAL 2021-03-15 [SEP] plain words only' AS text "
            "FROM documents WHERE text IS NOT NULL AND doc_id < 50) "
            "SELECT doc_id, array_to_string(flatten(list_transform("
            "string_split_regex(text, '\\s+'), t -> CASE "
            "WHEN t IN ('COL', 'VAL', '[SEP]', '[CLS]') THEN [t] "
            "WHEN regexp_matches(t, '^\\d{4}[-/]\\d{1,2}[-/]\\d{1,2}$') THEN ['DATE', t] "
            "WHEN regexp_matches(t, '^\\d+(\\.\\d+)?$') AND length(t) <= 15 THEN "
            "CASE WHEN CAST(t AS DOUBLE) = floor(CAST(t AS DOUBLE)) "
            "THEN [CAST(CAST(CAST(t AS DOUBLE) AS BIGINT) AS VARCHAR)] "
            "ELSE [printf('%.2f', CAST(t AS DOUBLE))] END "
            "WHEN length(t) >= 7 AND regexp_matches(t, '\\d') THEN ['ID', t] "
            "WHEN regexp_matches(t, '^[A-Z][a-z]') THEN ['PRODUCT', t] "
            "ELSE [t] END)), ' ') AS dk_text "
            "FROM all_docs"
        ),
        # sorted-neighborhood: global rank via window function; pairs within
        # `window`=4 positions of the (key, padded-id) total order
        "sn_pairs": (
            "WITH base AS ("
            "SELECT printf('d%04d', doc_id) AS rid, "
            "lower(substr(text, 1, 12)) AS k "
            "FROM documents WHERE text IS NOT NULL "
            "AND lower(substr(text, 1, 12)) IS NOT NULL "
            "AND lower(substr(text, 1, 12)) != ''), "
            "ranked AS ("
            "SELECT rid, k, row_number() OVER (ORDER BY k, rid) - 1 AS r "
            "FROM base) "
            "SELECT a.rid AS id_A, b.rid AS id_B, "
            "a.r AS rank_A, b.r AS rank_B "
            "FROM ranked a JOIN ranked b "
            "ON b.r > a.r AND b.r - a.r <= 4"
        ),
        # connected components via recursive-CTE min-label closure over the
        # same planted chain+bridge graph; entity_id = min id reachable
        "cc_components": (
            "WITH RECURSIVE edges AS ("
            "SELECT doc_id AS src, doc_id - 1 AS dst FROM documents "
            "WHERE doc_id % 7 != 0 "
            "AND doc_id - 1 IN (SELECT doc_id FROM documents) "
            "UNION ALL "
            "SELECT doc_id, doc_id + 3 FROM documents "
            "WHERE doc_id % 11 = 0 "
            "AND doc_id + 3 IN (SELECT doc_id FROM documents)), "
            "und AS ("
            "SELECT src, dst FROM edges UNION SELECT dst, src FROM edges), "
            "reach(id, lbl) AS ("
            "SELECT doc_id, doc_id FROM documents "
            "UNION "
            "SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.id) "
            "SELECT id AS conv_id, MIN(lbl) AS entity_id "
            "FROM reach GROUP BY id"
        ),
        # MinHash-LSH at tau=1.0: oracle groups docs by their normalized
        # distinct-3-gram set (never sees a signature) — identical sets
        # always collide in MinHash, so LSH output == set-equality pairs
        "minhash_exactset": (
            f"WITH all_docs AS ({messy_docs}), "
            f"toks AS (SELECT doc_id, string_split({norm_t}, ' ') AS t "
            f"FROM all_docs WHERE {norm_t} IS NOT NULL), "
            "grams AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct("
            "[array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]"
            ")), chr(30))) AS k FROM toks WHERE len(t) >= 3) "
            "SELECT a.doc_id AS id_A, b.doc_id AS id_B, "
            "CAST(1.0 AS DOUBLE) AS jaccard "
            "FROM grams a JOIN grams b ON a.k = b.k AND a.doc_id < b.doc_id"
        ),
        # cross-corpus variant: shingle-set-key join ACROSS the two frames
        "minhash_cross": (
            f"WITH corpus AS (SELECT doc_id, text FROM documents "
            f"WHERE text IS NOT NULL), "
            f"ref AS (SELECT doc_id + 3000000 AS doc_id, "
            f"'  !! ' || upper(text) || '  ... http://spam.example/x?q=1 ' AS text "
            f"FROM documents WHERE text IS NOT NULL AND doc_id < 60), "
            f"kc AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct("
            f"[array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]"
            f")), chr(30))) AS k FROM (SELECT doc_id, "
            f"string_split({norm_t}, ' ') AS t FROM corpus "
            f"WHERE {norm_t} IS NOT NULL) WHERE len(t) >= 3), "
            f"kr AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct("
            f"[array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]"
            f")), chr(30))) AS k FROM (SELECT doc_id, "
            f"string_split({norm_t}, ' ') AS t FROM ref "
            f"WHERE {norm_t} IS NOT NULL) WHERE len(t) >= 3) "
            f"SELECT CAST(c.doc_id AS VARCHAR) AS corpus_id, "
            f"CAST(r.doc_id AS VARCHAR) AS reference_id, "
            f"CAST(1.0 AS DOUBLE) AS jaccard "
            f"FROM kc c JOIN kr r ON c.k = r.k"
        ),
        # meta-blocking replay: postings over three redundant keys of the
        # normalized text -> block purging (<= 60) -> bucket join ->
        # common-blocks weight -> threshold
        "meta_blocking": (
            f"WITH all_docs AS ({messy_docs}), "
            f"tok AS (SELECT doc_id, string_split({norm_t}, ' ') AS t "
            f"FROM all_docs WHERE {norm_t} IS NOT NULL), "
            "posting AS ("
            "SELECT doc_id, 'first3' AS kname, "
            "array_to_string(t[1:3], ' ') AS kval FROM tok "
            "UNION ALL SELECT doc_id, 'next3', "
            "array_to_string(t[4:6], ' ') FROM tok "
            "UNION ALL SELECT doc_id, 'lenb', "
            "CAST(CAST(floor(len(t) / 8) AS BIGINT) AS VARCHAR) FROM tok), "
            "p2 AS (SELECT * FROM posting "
            "WHERE kval IS NOT NULL AND kval <> ''), "
            "kept AS (SELECT p.* FROM p2 p JOIN ("
            "SELECT kname, kval FROM p2 GROUP BY 1, 2 "
            "HAVING count(*) <= 60) s USING (kname, kval)) "
            "SELECT a.doc_id AS id_A, b.doc_id AS id_B, "
            "CAST(count(*) AS INTEGER) AS weight "
            "FROM kept a JOIN kept b "
            "ON a.kname = b.kname AND a.kval = b.kval AND a.doc_id < b.doc_id "
            "GROUP BY 1, 2 HAVING count(*) >= 2"
        ),
        # brute-force twin of the pigeonhole-banded SimHash join
        "simhash_hd": simhash_hd_sql,
        # portable winnowing fingerprint: lexicographic min md5 over all
        # 8-token windows, LEFT JOIN keeps empty-token docs as NULL fp
        "fp_winnow": (
            "WITH norm AS (SELECT doc_id, " + ta_norm.format(c="text") + " AS s "
            "FROM documents), "
            "fps AS (SELECT doc_id, list_aggregate("
            "[md5(array_to_string(t[i:i+7], ' ')) "
            "for i in range(1, greatest(len(t) - 7, 1) + 1)], 'min') AS fp "
            "FROM (SELECT doc_id, string_split(s, ' ') AS t FROM norm "
            "WHERE s IS NOT NULL AND s != '')) "
            "SELECT n.doc_id, f.fp FROM norm n LEFT JOIN fps f ON n.doc_id = f.doc_id"
        ),
        # brute-force cosine over base ∪ nudged copies (natural max cosine
        # ~0.51 << 0.99, planted copies bucket with certainty, so the LSH
        # output is the exact >=0.99 pair set)
        "rl_embedding_neardup": (
            "WITH base AS (SELECT vec_id, "
            "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
            "FROM embeddings WHERE vec_id < 200), "
            "dup AS (SELECT vec_id + 1000000 AS vec_id, "
            "list_concat([v[1] + 0.01], v[2:]) AS v FROM base), "
            "al AS (SELECT * FROM base UNION ALL SELECT * FROM dup) "
            "SELECT a.vec_id AS id_A, b.vec_id AS id_B, "
            "round(CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE), 2) AS cosine "
            "FROM al a JOIN al b ON a.vec_id < b.vec_id "
            "WHERE list_cosine_similarity(a.v, b.v) >= 0.99"
        ),
        # PII redaction: identical RE2 patterns replayed with 'g'
        "pii_scrub": (
            "WITH all_docs AS ("
            "SELECT doc_id, text FROM documents WHERE text IS NOT NULL "
            "UNION ALL SELECT doc_id + 4000000 AS doc_id, "
            "text || ' contact bob.smith+x@mail.example.org or 555-123-4567"
            " ssn 123-45-6789 host 10.0.42.7 done' AS text "
            "FROM documents WHERE text IS NOT NULL AND doc_id < 40) "
            "SELECT doc_id, "
            "regexp_replace(regexp_replace(regexp_replace(regexp_replace(text, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
            "'\\b\\d{3}-\\d{2}-\\d{4}\\b', '<ID>', 'g'), "
            "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'), "
            "'\\+?\\d[\\d().-]{7,}\\d', '<PHONE>', 'g') AS scrubbed "
            "FROM all_docs"
        ),
        # repetition signals recomputed from scratch (unnest word count +
        # list ops for the segment stat)
        "doc_repetition": (
            "WITH all_docs AS ("
            "SELECT doc_id, text FROM documents WHERE text IS NOT NULL "
            "UNION ALL SELECT doc_id + 5000000 AS doc_id, "
            "'buy now. buy now. buy now. ' || substr(text, 1, 60) AS text "
            "FROM documents WHERE text IS NOT NULL AND doc_id < 30), "
            "base AS (SELECT doc_id, lower(coalesce(text, '')) AS t FROM all_docs), "
            "tok AS (SELECT doc_id, unnest(list_filter("
            "string_split_regex(trim(t), '\\s+'), x -> x != '')) AS tok FROM base), "
            "pt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2), "
            "ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, "
            "count(*) AS nd, max(c) AS top FROM pt GROUP BY 1), "
            "sg AS (SELECT doc_id, list_filter(list_transform("
            "string_split(t, '.'), s -> trim(s)), s -> s != '') AS segs FROM base), "
            "ss AS (SELECT doc_id, len(segs) AS ns, "
            "len(list_distinct(segs)) AS nsd FROM sg) "
            "SELECT t.doc_id, n_tokens, "
            "round(1.0 - nd / CAST(n_tokens AS DOUBLE), 6) AS dup_token_frac, "
            "round(top / CAST(n_tokens AS DOUBLE), 6) AS top_token_frac, "
            "CASE WHEN ns > 0 THEN round(1.0 - nsd / CAST(ns AS DOUBLE), 6) "
            "ELSE 0.0 END AS dup_line_frac "
            "FROM ts t JOIN ss s ON t.doc_id = s.doc_id"
        ),
        # two-stage stratified sample replayed exactly: hash threshold
        # (quota*margin/n of the 60-bit hash space) then rank-within-lang
        "strat_sample": (
            "WITH h AS (SELECT doc_id, lang, "
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS _h "
            "FROM documents), "
            "c AS (SELECT lang, count(*) AS _n FROM h GROUP BY lang), "
            "filt AS (SELECT h.doc_id, h.lang, h._h FROM h JOIN c USING (lang) "
            "WHERE (CAST(_h AS DOUBLE) / 1152921504606846976.0) "
            "< least(1.0, 10.0 / _n)), "
            "r AS (SELECT doc_id, lang, row_number() OVER "
            "(PARTITION BY lang ORDER BY _h, doc_id) AS rk FROM filt) "
            "SELECT doc_id, lang FROM r WHERE rk <= 5"
        ),
        # the distributed prefix sum vs a plain window cumsum
        "seq_pack": (
            "WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS rid, "
            "CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0 "
            "ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) "
            "END AS BIGINT) AS n_tokens, "
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h "
            "FROM documents), "
            "c AS (SELECT rid, n_tokens, COALESCE(sum(n_tokens) OVER ("
            "ORDER BY h, rid ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
            "), 0) AS cum_before FROM t) "
            "SELECT rid, n_tokens, "
            "CAST(cum_before // 2048 AS BIGINT) AS bin_id, "
            "CAST(cum_before % 2048 AS BIGINT) AS bin_offset FROM c"
        ),
        # contamination scan: 8-gram overlap counts recomputed brute-force
        "decontam_overlap": (
            "WITH corpus AS (SELECT doc_id, "
            "list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'), "
            "x -> x != '') AS t FROM documents WHERE text IS NOT NULL), "
            "bench AS (SELECT list_filter(string_split_regex(trim(lower("
            "substr(text, 20, 150))), '\\s+'), x -> x != '') AS t "
            "FROM documents WHERE text IS NOT NULL AND doc_id < 26), "
            "cg AS (SELECT doc_id, unnest(list_distinct("
            "[array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)])) AS gram "
            "FROM corpus), "
            "bg AS (SELECT DISTINCT unnest(list_distinct("
            "[array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)])) AS gram "
            "FROM bench) "
            "SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams "
            "FROM cg c JOIN bg b ON c.gram = b.gram GROUP BY c.doc_id"
        ),
        # exact 8-token-span overlap: postings -> boilerplate cap (2..64
        # docs per span) -> pair shared-span counts, replayed brute-force
        "span_overlap": (
            "WITH all_docs AS ("
            "SELECT doc_id, text FROM documents WHERE text IS NOT NULL "
            "UNION ALL SELECT doc_id + 6000000 AS doc_id, "
            "substr(text, 1, 150) || ' planted tail marker' AS text "
            "FROM documents WHERE text IS NOT NULL AND doc_id < 40), "
            "norm AS (SELECT doc_id, " + ta_norm.format(c="text") + " AS s "
            "FROM all_docs), "
            "tok AS (SELECT doc_id, string_split(s, ' ') AS t FROM norm "
            "WHERE s != ''), "
            "spans AS (SELECT doc_id, unnest(list_distinct("
            "[md5(array_to_string(t[i:i+7], ' ')) for i in range(1, len(t) - 6)]"
            ")) AS h FROM tok WHERE len(t) >= 8), "
            "cnt AS (SELECT h, count(*) AS c FROM spans GROUP BY h), "
            "good AS (SELECT s.doc_id, s.h FROM spans s JOIN cnt USING (h) "
            "WHERE c >= 2 AND c <= 64), "
            "p AS (SELECT a.doc_id AS id_A, b.doc_id AS id_B, "
            "CAST(count(*) AS BIGINT) AS shared_spans "
            "FROM good a JOIN good b ON a.h = b.h AND a.doc_id < b.doc_id "
            "GROUP BY 1, 2) "
            "SELECT id_A, id_B, shared_spans FROM p WHERE shared_spans >= 2"
        ),
        # span REMOVAL: postings -> dup counts -> survivor window (first
        # (doc_id,pos) per span hash survives) -> covered-token anti-join
        # -> text rebuild; value-checks the rewritten text byte-for-byte
        "span_dedup": (
            "WITH all_docs AS ("
            "SELECT doc_id, text FROM documents WHERE text IS NOT NULL "
            "UNION ALL SELECT doc_id + 6000000 AS doc_id, "
            "substr(text, 1, 150) || ' planted tail marker' AS text "
            "FROM documents WHERE text IS NOT NULL AND doc_id < 40), "
            "norm AS (SELECT doc_id, " + ta_norm.format(c="text") + " AS s "
            "FROM all_docs), "
            "tok AS (SELECT doc_id, CASE WHEN s = '' THEN [] "
            "ELSE string_split(s, ' ') END AS t FROM norm), "
            "occ AS (SELECT doc_id, unnest(range(1, len(t) - 6)) AS pos, t "
            "FROM tok WHERE len(t) >= 8), "
            "spans AS (SELECT doc_id, pos, "
            "md5(array_to_string(t[pos:pos+7], ' ')) AS h FROM occ), "
            "cnt AS (SELECT h, count(*) AS c FROM spans GROUP BY h), "
            "rem AS (SELECT doc_id, pos FROM ("
            "SELECT s.doc_id, s.pos, row_number() OVER ("
            "PARTITION BY s.h ORDER BY s.doc_id, s.pos) AS rn "
            "FROM spans s JOIN cnt USING (h) WHERE c >= 2) WHERE rn >= 2), "
            "drops AS (SELECT doc_id, count(*) AS n_drops FROM rem "
            "GROUP BY doc_id), "
            "cov AS (SELECT DISTINCT doc_id, jj FROM ("
            "SELECT doc_id, unnest(range(pos, pos + 8)) AS jj FROM rem)), "
            "posx AS (SELECT doc_id, unnest(range(1, 1 + len(t))) AS jj, "
            "unnest(t) AS w FROM tok), "
            "kept AS (SELECT p.doc_id, p.jj, p.w FROM posx p "
            "LEFT JOIN cov c ON p.doc_id = c.doc_id AND p.jj = c.jj "
            "WHERE c.doc_id IS NULL), "
            "agg AS (SELECT doc_id, string_agg(w, ' ' ORDER BY jj) "
            "AS text_dedup, count(*) AS n_kept FROM kept GROUP BY doc_id) "
            "SELECT t.doc_id, coalesce(a.text_dedup, '') AS text_dedup, "
            "CAST(len(t.t) AS INTEGER) AS n_tokens, "
            "CAST(coalesce(a.n_kept, 0) AS INTEGER) AS n_kept_tokens, "
            "CAST(coalesce(d.n_drops, 0) AS INTEGER) AS n_removed_spans "
            "FROM tok t LEFT JOIN agg a ON a.doc_id = t.doc_id "
            "LEFT JOIN drops d ON d.doc_id = t.doc_id"
        ),
        # SoftTFIDF: tf·ln(N/df) weights, L2 norms, token cross-product
        # with native JW, (jw DESC, token ASC) argmax per source token,
        # strict theta gate, both directions + symmetric max
        "soft_tfidf": (
            f"WITH all_docs AS ({messy_docs}), "
            "nrmd AS (SELECT doc_id, " + ta_norm.format(c="text") + " AS s "
            "FROM all_docs), "
            "tok AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf "
            "FROM (SELECT doc_id, unnest(string_split(s, ' ')) AS token "
            "FROM nrmd) WHERE token != '' GROUP BY doc_id, token), "
            "dfq AS (SELECT token, count(*) AS df FROM tok GROUP BY token), "
            "nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM all_docs), "
            "w AS (SELECT doc_id, token, tf * ln((SELECT n FROM nd) / df) "
            "AS w FROM tok JOIN dfq USING (token)), "
            "nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nn FROM w "
            "GROUP BY doc_id), "
            "v AS (SELECT w.doc_id, token, w.w / nrm.nn AS v FROM w "
            "JOIN nrm ON w.doc_id = nrm.doc_id), "
            "pairs AS (SELECT doc_id AS id_A, doc_id + 3000000 AS id_B "
            "FROM documents WHERE text IS NOT NULL AND doc_id < 40 "
            "UNION ALL SELECT doc_id, ((doc_id + 7) % 40) + 3000000 "
            "FROM documents WHERE text IS NOT NULL AND doc_id < 40), "
            "cr AS (SELECT p.id_A, p.id_B, a.token AS ta, a.v AS va, "
            "b.token AS tb, b.v AS vb, "
            "jaro_winkler_similarity(a.token, b.token) AS jw "
            "FROM pairs p JOIN v a ON a.doc_id = p.id_A "
            "JOIN v b ON b.doc_id = p.id_B), "
            "ab AS (SELECT id_A, id_B, sum(va*vb*jw) AS s FROM ("
            "SELECT *, row_number() OVER (PARTITION BY id_A, id_B, ta "
            "ORDER BY jw DESC, tb ASC) AS rn FROM cr) "
            "WHERE rn = 1 AND jw > 0.9 GROUP BY id_A, id_B), "
            "ba AS (SELECT id_A, id_B, sum(va*vb*jw) AS s FROM ("
            "SELECT *, row_number() OVER (PARTITION BY id_A, id_B, tb "
            "ORDER BY jw DESC, ta ASC) AS rn FROM cr) "
            "WHERE rn = 1 AND jw > 0.9 GROUP BY id_A, id_B) "
            "SELECT p.id_A, p.id_B, "
            "round(coalesce(ab.s, 0), 6) AS st_ab, "
            "round(coalesce(ba.s, 0), 6) AS st_ba, "
            "round(greatest(coalesce(ab.s, 0), coalesce(ba.s, 0)), 6) "
            "AS soft_tfidf "
            "FROM pairs p "
            "LEFT JOIN ab ON ab.id_A = p.id_A AND ab.id_B = p.id_B "
            "LEFT JOIN ba ON ba.id_A = p.id_A AND ba.id_B = p.id_B"
        ),
        # as-of via DuckDB's native ASOF LEFT JOIN; range via a plain
        # BETWEEN theta join (the engine's bucketed join must equal it)
        "temporal_joins": (
            "WITH ev AS (SELECT * FROM events WHERE user_id < 30), "
            "c AS (SELECT event_id, ts, user_id FROM ev "
            "WHERE event_type = 'click'), "
            "v AS (SELECT user_id, ts, event_id AS view_id, "
            "value AS view_value FROM ev WHERE event_type = 'view'), "
            "a AS (SELECT 'asof' AS kind, c.event_id AS id1, "
            "v.view_id AS id2, '' AS sval, CAST(NULL AS VARCHAR) AS t1, "
            "CAST(NULL AS VARCHAR) AS t2, round(v.view_value, 6) AS v "
            "FROM c ASOF LEFT JOIN v "
            "ON c.user_id = v.user_id AND c.ts >= v.ts), "
            "e AS (SELECT user_id, event_id AS err_id, ts AS s, "
            "ts + INTERVAL 12 HOUR AS en FROM ev "
            "WHERE event_type = 'error'), "
            "r AS (SELECT 'range' AS kind, c.event_id AS id1, "
            "e.err_id AS id2, '' AS sval, CAST(NULL AS VARCHAR) AS t1, "
            "CAST(NULL AS VARCHAR) AS t2, CAST(NULL AS DOUBLE) AS v "
            "FROM c JOIN e ON c.user_id = e.user_id "
            "AND c.ts >= e.s AND c.ts <= e.en), "
            # SCD2 replay: identical lag -> run cumsum -> collapse ->
            # lead cascade over each user's event_type stream
            "obs AS (SELECT CAST(user_id AS BIGINT) AS entity_id, ts, "
            "event_type AS value, event_id FROM ev WHERE ts IS NOT NULL), "
            "chg AS (SELECT *, CASE WHEN row_number() OVER w = 1 THEN 1 "
            "WHEN value IS DISTINCT FROM lag(value) OVER w THEN 1 "
            "ELSE 0 END AS _chg FROM obs "
            "WINDOW w AS (PARTITION BY entity_id ORDER BY ts, event_id)), "
            "runs AS (SELECT *, CAST(sum(_chg) OVER (PARTITION BY entity_id "
            "ORDER BY ts, event_id) - 1 AS BIGINT) AS _run FROM chg), "
            "coll AS (SELECT entity_id, _run, max(value) AS value, "
            "min(ts) AS valid_from, CAST(count(*) AS DOUBLE) AS n "
            "FROM runs GROUP BY entity_id, _run), "
            "scd AS (SELECT 'scd2' AS kind, entity_id AS id1, "
            "_run AS id2, value AS sval, "
            "strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS t1, "
            "strftime(lead(valid_from) OVER (PARTITION BY entity_id "
            "ORDER BY _run), '%Y-%m-%d %H:%M:%S') AS t2, n AS v "
            "FROM coll) "
            "SELECT * FROM a UNION ALL SELECT * FROM r "
            "UNION ALL SELECT * FROM scd"
        ),
        # identical lag-window adjacency checks + grouped violation
        # counts over the planted-violation transcript derivation
        "transcript_integrity": (
            "WITH e AS (SELECT * FROM events "
            "WHERE ts IS NOT NULL AND user_id < 500), "
            "t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id, "
            "CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) "
            "- 1 + CASE WHEN event_id % 13 = 0 THEN 1 ELSE 0 END AS BIGINT) "
            "AS turn_idx, "
            "['user','assistant','tool'][CAST(event_id % 3 + 1 AS INT)] AS role, "
            "CASE WHEN event_id % 17 = 0 THEN '' "
            "ELSE event_type || ' ' || CAST(event_id AS VARCHAR) END AS text, "
            "ts FROM e), "
            "s AS (SELECT conv_id, turn_idx, "
            "(lag(role) OVER w = role) AS role_rep, "
            "(ts < lag(ts) OVER w) AS ts_back, "
            "(text IS NULL OR trim(text) = '') AS emp "
            "FROM t WINDOW w AS "
            "(PARTITION BY conv_id ORDER BY turn_idx, ts, text)), "
            "g AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns, "
            "CAST(count(*) - count(DISTINCT turn_idx) AS BIGINT) AS n_dup_idx, "
            "CAST(max(turn_idx) - min(turn_idx) + 1 "
            "- count(DISTINCT turn_idx) AS BIGINT) AS n_gaps, "
            "(min(turn_idx) = 0) AS starts_at_zero, "
            "CAST(coalesce(sum(CASE WHEN emp THEN 1 ELSE 0 END), 0) "
            "AS BIGINT) AS n_empty, "
            "CAST(coalesce(sum(CASE WHEN role_rep THEN 1 ELSE 0 END), 0) "
            "AS BIGINT) AS n_role_repeats, "
            "CAST(coalesce(sum(CASE WHEN ts_back THEN 1 ELSE 0 END), 0) "
            "AS BIGINT) AS n_ts_regress "
            "FROM s GROUP BY conv_id) "
            "SELECT *, (n_dup_idx = 0 AND n_gaps = 0 AND starts_at_zero "
            "AND n_empty = 0 AND n_ts_regress = 0) AS is_clean FROM g"
        ),
        # the chained-md5 prefix-hash equality rebuilt with a recursive
        # CTE: h_k = md5(h_{k-1} || chr(1) || text_k), h_0 = md5('')
        "prefix_dups": (
            "WITH RECURSIVE e AS (SELECT * FROM events "
            "WHERE ts IS NOT NULL AND user_id < 500), "
            "t0 AS (SELECT CAST(user_id AS VARCHAR) AS conv_id, "
            "CAST(row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) - 1 AS INT) AS turn_idx, "
            "event_type || ' ' || CAST(event_id AS VARCHAR) AS text FROM e), "
            "elig AS (SELECT conv_id FROM t0 GROUP BY conv_id "
            "HAVING count(*) >= 4 AND CAST(conv_id AS BIGINT) % 7 = 0), "
            "t AS (SELECT * FROM t0 UNION ALL "
            "SELECT conv_id || '_p', turn_idx, text FROM t0 "
            "WHERE conv_id IN (SELECT conv_id FROM elig) AND turn_idx < 3), "
            "n AS (SELECT conv_id, CAST(count(*) AS INT) AS n_turns "
            "FROM t GROUP BY conv_id), "
            "ch(conv_id, turn_idx, h) AS ("
            "SELECT conv_id, turn_idx, "
            "md5(md5('') || chr(1) || coalesce(text, '')) "
            "FROM t WHERE turn_idx = 0 "
            "UNION ALL "
            "SELECT t2.conv_id, t2.turn_idx, "
            "md5(ch.h || chr(1) || coalesce(t2.text, '')) "
            "FROM ch JOIN t t2 ON t2.conv_id = ch.conv_id "
            "AND t2.turn_idx = ch.turn_idx + 1), "
            "heads AS (SELECT ch.conv_id, n.n_turns, ch.h "
            "FROM ch JOIN n USING (conv_id) "
            "WHERE ch.turn_idx = n.n_turns - 1), "
            "pref AS (SELECT ch.conv_id, "
            "CAST(ch.turn_idx + 1 AS INT) AS plen, ch.h, n.n_turns "
            "FROM ch JOIN n USING (conv_id)) "
            "SELECT h.conv_id AS prefix_conv_id, h.n_turns AS prefix_len, "
            "p.conv_id AS super_conv_id, p.n_turns AS super_len "
            "FROM pref p JOIN heads h ON p.h = h.h AND p.plen = h.n_turns "
            "WHERE p.n_turns > h.n_turns AND p.conv_id <> h.conv_id"
        ),
        # identical lag -> run-id cumsum -> per-run sizes -> per-conv
        # rollup over the constant-role event_type transcript
        "agent_loops": (
            "WITH e AS (SELECT * FROM events "
            "WHERE ts IS NOT NULL AND user_id < 500), "
            "t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id, "
            "CAST(row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) - 1 AS INT) AS turn_idx, "
            "'agent' AS role, event_type AS text FROM e), "
            "s AS (SELECT conv_id, turn_idx, "
            "CASE WHEN lag(role) OVER w = role "
            "AND lag(text) OVER w IS NOT DISTINCT FROM text "
            "THEN 0 ELSE 1 END AS new_run "
            "FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)), "
            "r AS (SELECT conv_id, sum(new_run) OVER "
            "(PARTITION BY conv_id ORDER BY turn_idx "
            "ROWS UNBOUNDED PRECEDING) AS run_id FROM s), "
            "runs AS (SELECT conv_id, run_id, "
            "CAST(count(*) AS BIGINT) AS run_len "
            "FROM r GROUP BY conv_id, run_id) "
            "SELECT conv_id, CAST(sum(run_len) AS BIGINT) AS n_turns, "
            "CAST(sum(run_len - 1) AS BIGINT) AS n_loop_turns, "
            "CAST(sum(CASE WHEN run_len >= 2 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_loop_runs, "
            "CAST(max(run_len) AS BIGINT) AS max_run_len, "
            "CAST(sum(run_len - 1) AS DOUBLE) / sum(run_len) AS loop_frac "
            "FROM runs GROUP BY conv_id"
        ),
        # lag over the filtered tool-call sequence, grouped (prev, next)
        "tool_transitions": (
            "WITH e AS (SELECT * FROM events "
            "WHERE ts IS NOT NULL AND user_id < 500), "
            "t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id, "
            "CAST(row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) - 1 AS INT) AS turn_idx, "
            "CASE WHEN event_id % 4 <> 0 THEN 'tool' ELSE 'user' END AS role, "
            "CASE WHEN event_id % 11 = 0 THEN NULL "
            "ELSE event_type END AS tool FROM e), "
            "calls AS (SELECT conv_id, turn_idx, tool AS next_tool FROM t "
            "WHERE role = 'tool' AND tool IS NOT NULL), "
            "seq AS (SELECT conv_id, "
            "coalesce(lag(next_tool) OVER "
            "(PARTITION BY conv_id ORDER BY turn_idx), '^start') AS prev_tool, "
            "next_tool FROM calls) "
            "SELECT prev_tool, next_tool, CAST(count(*) AS BIGINT) AS n, "
            "CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs "
            "FROM seq GROUP BY prev_tool, next_tool"
        ),
        # ordered list aggregation + inclusive slices (l[i:i+2] is the
        # 3-element window in DuckDB's 1-based inclusive slicing)
        "tool_ngrams": (
            "WITH e AS (SELECT * FROM events "
            "WHERE ts IS NOT NULL AND user_id < 500), "
            "t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id, "
            "CAST(row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) - 1 AS INT) AS turn_idx, "
            "CASE WHEN event_id % 4 <> 0 THEN 'tool' ELSE 'user' END AS role, "
            "CASE WHEN event_id % 11 = 0 THEN NULL "
            "ELSE event_type END AS tool FROM e), "
            "calls AS (SELECT conv_id, turn_idx, tool FROM t "
            "WHERE role = 'tool' AND tool IS NOT NULL), "
            "seqs AS (SELECT conv_id, list(tool ORDER BY turn_idx) AS l "
            "FROM calls GROUP BY conv_id), "
            "g AS (SELECT conv_id, array_to_string(l[i:i+2], '>') AS gram "
            "FROM seqs, unnest(range(1, len(l) - 1)) AS u(i) "
            "WHERE len(l) >= 3) "
            "SELECT gram, CAST(count(*) AS BIGINT) AS n_times, "
            "CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs "
            "FROM g GROUP BY gram"
        ),
        # both snapshot minings + full-outer alignment + normalization
        "transition_drift": (
            "WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id, "
            "CAST(row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) - 1 AS INT) AS turn_idx, "
            "CASE WHEN event_id % 4 <> 0 THEN 'tool' ELSE 'user' END AS role, "
            "CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END AS tool, "
            "user_id FROM events WHERE ts IS NOT NULL AND user_id < 1000), "
            "calls AS (SELECT user_id, conv_id, turn_idx, tool AS next_tool "
            "FROM t WHERE role = 'tool' AND tool IS NOT NULL), "
            "seq AS (SELECT user_id, conv_id, coalesce(lag(next_tool) OVER "
            "(PARTITION BY conv_id ORDER BY turn_idx), '^start') AS prev_tool, "
            "next_tool FROM calls), "
            "ca AS (SELECT prev_tool, next_tool, "
            "CAST(count(*) AS BIGINT) AS n_a FROM seq WHERE user_id < 500 "
            "GROUP BY prev_tool, next_tool), "
            "cb AS (SELECT prev_tool, next_tool, "
            "CAST(count(*) AS BIGINT) AS n_b FROM seq WHERE user_id >= 500 "
            "GROUP BY prev_tool, next_tool), "
            "j AS (SELECT coalesce(ca.prev_tool, cb.prev_tool) AS prev_tool, "
            "coalesce(ca.next_tool, cb.next_tool) AS next_tool, "
            "CAST(coalesce(n_a, 0) AS BIGINT) AS n_a, "
            "CAST(coalesce(n_b, 0) AS BIGINT) AS n_b "
            "FROM ca FULL OUTER JOIN cb "
            "ON ca.prev_tool = cb.prev_tool AND ca.next_tool = cb.next_tool), "
            "tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j) "
            "SELECT prev_tool, next_tool, n_a, n_b, "
            "n_a / greatest(ta, 1) AS p_a, n_b / greatest(tb, 1) AS p_b, "
            "abs(n_a / greatest(ta, 1) - n_b / greatest(tb, 1)) AS abs_diff "
            "FROM j, tot"
        ),
        # >= 20-distinct-conv catalog + anti join; grouping by text here
        # == Spark's md5(text) grouping (no nulls, md5 injective)
        "turn_boilerplate": (
            "WITH e AS (SELECT * FROM events "
            "WHERE ts IS NOT NULL AND user_id < 500), "
            "t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id, "
            "CAST(row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) - 1 AS INT) AS turn_idx, "
            "CASE WHEN event_id % 3 = 0 THEN event_type "
            "ELSE event_type || ' ' || CAST(event_id AS VARCHAR) END AS text "
            "FROM e), "
            "b AS (SELECT text FROM t GROUP BY text "
            "HAVING count(DISTINCT conv_id) >= 20) "
            "SELECT * FROM t WHERE text NOT IN (SELECT text FROM b)"
        ),
        # identical md5 bucket/sign arithmetic; cosine scored from the
        # sparse (doc, bucket) counts — dot over shared buckets / norms
        # equals Spark's dense normalized zip_with to ~1e-15
        "ann_blocking": (
            "WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200), "
            "tok AS (SELECT doc_id, unnest(string_split_regex("
            "coalesce(text, ''), '\\s+')) AS t FROM d), "
            "x AS (SELECT doc_id, "
            "('0x' || substr(md5(t), 1, 15))::BIGINT % 128 AS xx "
            "FROM tok WHERE t <> ''), "
            "sgn AS (SELECT doc_id, CAST(xx // 2 AS INT) AS bucket, "
            "CASE WHEN xx % 2 = 0 THEN 1.0 ELSE -1.0 END AS s FROM x), "
            "counts AS (SELECT doc_id, bucket, sum(s) AS val "
            "FROM sgn GROUP BY doc_id, bucket), "
            "n AS (SELECT doc_id, sqrt(sum(val * val)) AS nrm "
            "FROM counts GROUP BY doc_id), "
            "dots AS (SELECT a.doc_id AS id_A, b.doc_id AS id_B, "
            "sum(a.val * b.val) AS dot FROM counts a "
            "JOIN counts b USING (bucket) WHERE a.doc_id < b.doc_id "
            "GROUP BY a.doc_id, b.doc_id) "
            "SELECT id_A, id_B, dot / (na.nrm * nb.nrm) AS cosine "
            "FROM dots JOIN n na ON na.doc_id = id_A "
            "JOIN n nb ON nb.doc_id = id_B "
            "WHERE dot / (na.nrm * nb.nrm) >= 0.8"
        ),
        # identical lag-gap -> segment cumsum -> within-segment renumber
        "conv_reseg": (
            "WITH e AS (SELECT * FROM events "
            "WHERE ts IS NOT NULL AND user_id < 500), "
            "t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id, "
            "CAST(row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) - 1 AS INT) AS turn_idx, "
            "event_type || ' ' || CAST(event_id AS VARCHAR) AS text, ts "
            "FROM e), "
            "s AS (SELECT *, CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w "
            "> 3600.0 THEN 1 ELSE 0 END AS ns FROM t "
            "WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)), "
            "g AS (SELECT *, sum(ns) OVER (PARTITION BY conv_id "
            "ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS seg FROM s) "
            "SELECT conv_id || '#' || CAST(seg AS VARCHAR) AS conv_id, "
            "CAST(row_number() OVER (PARTITION BY conv_id, seg "
            "ORDER BY turn_idx) - 1 AS INT) AS turn_idx, text, ts FROM g"
        ),
        # SemDeDup at n_clusters=1: centroid == global per-dim mean;
        # groups = recursive min-label closure of cosine>=0.99 pairs;
        # keep = lowest centroid cosine per group (ties -> smallest id)
        "semantic_dedup": (
            "WITH RECURSIVE base AS (SELECT vec_id, "
            "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
            "FROM embeddings WHERE vec_id < 170), "
            "dup AS (SELECT vec_id + 1000000 AS vec_id, "
            "list_concat([v[1] + 0.01], v[2:]) AS v FROM base "
            "WHERE vec_id < 150), "
            "al AS (SELECT * FROM base UNION ALL SELECT * FROM dup), "
            "cent AS (SELECT list(m ORDER BY i) AS c FROM ("
            "SELECT i, avg(val) AS m FROM ("
            "SELECT unnest(range(1, 1 + len(v))) AS i, unnest(v) AS val "
            "FROM al) GROUP BY i)), "
            "sims AS (SELECT vec_id, CAST(list_cosine_similarity(v, "
            "(SELECT c FROM cent)) AS DOUBLE) AS csim FROM al), "
            "e0 AS (SELECT a.vec_id AS s, b.vec_id AS d "
            "FROM al a JOIN al b ON a.vec_id < b.vec_id "
            "WHERE list_cosine_similarity(a.v, b.v) >= 0.99), "
            "und AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0), "
            "reach(id, lbl) AS (SELECT vec_id, vec_id FROM al "
            "UNION SELECT u.d, r.lbl FROM reach r JOIN und u ON u.s = r.id), "
            "grp AS (SELECT id AS vec_id, MIN(lbl) AS group_id "
            "FROM reach GROUP BY id), "
            "ranked AS (SELECT s.vec_id, g.group_id, s.csim, "
            "row_number() OVER (PARTITION BY g.group_id "
            "ORDER BY s.csim ASC, s.vec_id ASC) AS rn "
            "FROM sims s JOIN grp g USING (vec_id)) "
            "SELECT vec_id, 0 AS cell, round(csim, 4) AS centroid_sim, "
            "group_id, (rn = 1) AS keep FROM ranked"
        ),
        # two-stage token-budget prefix replayed exactly: hash threshold
        # (margin*budget of the per-lang token total) then window cumsum
        "token_budget": (
            "WITH d AS (SELECT doc_id, lang, "
            "CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0 "
            "ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) "
            "END AS BIGINT) AS n_tokens, "
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS _h "
            "FROM documents WHERE lang IS NOT NULL), "
            "tot AS (SELECT lang, sum(n_tokens) AS _tot FROM d GROUP BY lang), "
            "filt AS (SELECT d.* FROM d JOIN tot USING (lang) "
            "WHERE (CAST(_h AS DOUBLE) / 1152921504606846976.0) "
            "< least(1.0, 6000.0 / _tot)), "
            "c AS (SELECT doc_id, lang, n_tokens, "
            "COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY _h, doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before "
            "FROM filt) "
            "SELECT doc_id, lang, n_tokens, CAST(cum_before AS BIGINT) AS cum_before "
            "FROM c WHERE cum_before < 1500"
        ),
    }
    # incremental maintenance lands on the same final state as batch CC
    # over the full planted graph, so it reuses cc_components' recursive
    # closure, restricted to the entry's doc_id < 200 slice
    out["inc_components"] = out["cc_components"].replace(
        "WITH RECURSIVE ",
        "WITH RECURSIVE docs200 AS (SELECT doc_id FROM documents WHERE doc_id < 200), ",
    ).replace("documents", "docs200").replace(
        "docs200 WHERE doc_id < 200", "documents WHERE doc_id < 200"
    )
    # keep-best dedup rides cc_components' recursive closure: same planted
    # graph, plus the token-count quality and the argmax window
    out["dedup_keep_best"] = out["cc_components"].replace(
        "SELECT id AS conv_id, MIN(lbl) AS entity_id FROM reach GROUP BY id",
        ", comp AS (SELECT id AS doc_id, MIN(lbl) AS entity_id "
        "FROM reach GROUP BY id), "
        "tok AS (SELECT doc_id, CAST(CASE WHEN trim(coalesce(text, '')) = '' "
        "THEN 0 ELSE len(regexp_split_to_array(trim(coalesce(text, '')), "
        "'\\s+')) END AS BIGINT) AS n_tokens FROM documents), "
        "s AS (SELECT t.doc_id, c.entity_id, t.n_tokens, "
        "row_number() OVER (PARTITION BY c.entity_id "
        "ORDER BY t.n_tokens DESC, t.doc_id) AS rk, "
        "count(*) OVER (PARTITION BY c.entity_id) AS nc "
        "FROM tok t JOIN comp c USING (doc_id)) "
        "SELECT doc_id, entity_id, CAST(nc AS BIGINT) AS n_cluster, n_tokens "
        "FROM s WHERE rk = 1",
    )
    # flagship oracles FIRST: the o2o composite arm replays greedy 1:1
    # matching over base['scored_pairs_portable'] (key sets are disjoint,
    # so the order only affects availability, never values)
    out.update(_portable_flagship_oracles())
    out.update(_composite_oracles(out))
    # superseded by composites (their checks ride inside the merged entries
    # verbatim, so removing the standalone keys loses no verification)
    for merged in (
        "p1_missing_pct", "p14_prefix_key", "j5_semi_anti", "a6_confusion",
        "x1_hash_split", "j3_hydrate_pairs", "a4_group_count", "a8_doc_freq",
        "text_token_counts", "text_quality", "text_langid",
        "event_hourly", "event_sessions", "w4_hash_quota", "strat_sample",
        "p8_norm_text", "p12_numeric_norm", "p16_regex_filter",
        "p18_checksum", "f4_gauss_comparator", "u1_union_sources",
        "u3_canonical_dedup", "minhash_exactset", "minhash_cross",
        "ngram_topk", "length_quantiles",
        # round-4 window merges (each rides verbatim inside its composite)
        "blocking_b1", "blocking_b2", "dedup_exact", "dedup_token_jaccard",
        "pii_scrub", "doc_repetition", "decontam_overlap", "seq_pack",
        "token_budget", "simhash_hd",
        # round-4 session-4 merges: the former past-window standalone
        # oracles now ride verbatim inside window composites
        "soft_tfidf", "span_overlap", "span_dedup", "semantic_dedup",
        "sn_pairs", "transcript_integrity", "prefix_dups", "conv_reseg",
        "agent_loops", "tool_transitions", "tool_ngrams", "transition_drift",
        "turn_boilerplate",
    ):
        out.pop(merged, None)
    return out
