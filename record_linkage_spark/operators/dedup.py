"""Document-deduplication operators for large-scale training-data pipelines.

Beyond the reference's entity-resolution core, a 100 TB corpus pipeline
needs document-level dedup. All operators work on a ``documents``-shaped
table ``(doc_id, text, ...)`` and scale as hash-partitioned DataFrame ops:

  * exact dedup         — md5(normalized text) groupBy, keep min doc_id
  * n-gram Jaccard      — shingle sets + exact-shingle-signature blocking
  * MinHash + LSH       — k hash functions over shingles (all built-in
    ``xxhash64``/``aggregate`` — no Python), banded into buckets, bucket
    self-join, verified by true Jaccard on candidates
  * SimHash             — 64-bit hyperplane-free fingerprint from token
    hashes; near-dup = small Hamming distance within band buckets

Design for scale: every candidate-pair generation is an equality self-join
on a computed key (band bucket / signature), never a cross join; the
verification predicate runs only on within-bucket pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from record_linkage_spark.functions.text import (
    _norm_token_lists,
    md5_60,
    norm_text_with_urls,
)


def _norm_tokens(text_col) -> Column:
    s = norm_text_with_urls(text_col)
    return F.when(s.isNull(), F.array().cast("array<string>")).otherwise(F.split(s, " "))


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a narrow input (e.g. a single local parquet file) across the
    cluster before a CPU-heavy per-row stage. No-op when the input already
    has enough files behind it (the 100 TB case — never add a gratuitous
    shuffle there).

    Width is probed via ``inputFiles()`` (file listing only) — NOT
    ``df.rdd.getNumPartitions()``, which forces a full plan-to-RDD
    translation, defeating later Catalyst reuse on the branch and paying
    plan analysis cost on big plans. Non-file sources (in-memory synth,
    post-shuffle frames) return no files and are left untouched — they
    already carry the session's parallelism.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if 0 < n_files < max(target // 2, 2):
        return df.repartition(target)
    return df


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by md5 of normalized text: returns
    (text_hash, n_copies, keep_id, dup_ids) for groups with >1 doc."""
    h = F.md5(F.coalesce(norm_text_with_urls(F.col(text_col)), F.lit("")))
    g = (
        _ensure_parallelism(docs)
        .select(F.col(id_col).alias("doc_id"), h.alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
            F.sort_array(F.collect_list("doc_id")).alias("all_ids"),
        )
        .filter(F.col("n_copies") > 1)
    )
    return g.withColumn(
        "dup_ids", F.filter(F.col("all_ids"), lambda x: x != F.col("keep_id"))
    ).drop("all_ids")


def word_ngrams(text_col, n: int = 3) -> Column:
    """Distinct word n-grams of normalized text (array<string>).

    Implemented as arrays_zip of n shifted copies + one transform with
    struct access — NOT slice-per-position inside a lambda: higher-order
    lambdas run interpreted, and a per-element slice costs ~100x more than
    a struct field read (measured 16s -> <1s on 500 docs x 400 tokens).
    """
    toks = _norm_tokens(text_col)
    size = F.size(toks)
    shifted = [F.slice(toks, i + 1, F.greatest(size - i, F.lit(0))) for i in range(n)]
    zipped = F.arrays_zip(*shifted)
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )
    cnt = F.greatest(size - (n - 1), F.lit(0))
    return F.array_distinct(F.slice(grams, 1, cnt))


_MH_PRIME = 2147483647  # 2^31 - 1


def shingle_hashes(shingles: Column) -> Column:
    """One xxhash64 per shingle, folded into [0, 2^31): the base for all k
    MinHash functions (hash once, k affine transforms — not k re-hashes)."""
    return F.transform(shingles, lambda x: F.pmod(F.xxhash64(x), F.lit(_MH_PRIME)))


def minhash_signature(hashes: Column, num_hashes: int = 32) -> Column:
    """MinHash signature over pre-hashed shingles (see shingle_hashes).

    h_i(x) = (a_i * h + b_i) mod p with p = 2^31-1, a_i odd, b_i mixed —
    the standard universal-hash family; operands stay < 2^62 so the
    arithmetic is ANSI-safe. IMPORTANT: pass a *materialized column* of
    shingle hashes (withColumn), so the base hash isn't recomputed per
    signature row.
    """
    def _affine(a: int, b: int):
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MH_PRIME))

    sigs = []
    for i in range(num_hashes):
        a = 2 * i + 1
        b = (i * 2654435761) % _MH_PRIME
        sigs.append(F.array_min(F.transform(hashes, _affine(a, b))))
    return F.array(*sigs)


def minhash_signature_kernel(ngram: int = 3, num_hashes: int = 32):
    """Arrow-batched MinHash kernel: text -> array<long> signature in ONE
    vectorized pass (normalize, shingle, hash, k affine minima via
    ``np.minimum.reduceat``). Rows with no shingles return NULL.

    This replaces the per-element interpreted higher-order-function path
    (``word_ngrams`` + ``minhash_signature`` column expressions, kept for
    the expression-level API): Catalyst's lambda interpreter costs ~50us
    per array element, which measured ~60s for 5k docs; this kernel does
    the same batch in well under a second. Hashing uses pandas'
    deterministic siphash (fixed key) — any uniform hash family is valid
    for MinHash, and determinism across executors/runs is what matters.
    """
    a_coef = (np.arange(num_hashes, dtype=np.int64) * 2 + 1).reshape(-1, 1)
    b_coef = (
        (np.arange(num_hashes, dtype=np.int64) * 2654435761) % _MH_PRIME
    ).reshape(-1, 1)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def kernel(text: pd.Series) -> pd.Series:
        token_lists = _norm_token_lists(text)
        shingles: list[str] = []
        counts = np.zeros(len(token_lists), dtype=np.int64)
        for i, toks in enumerate(token_lists):
            if len(toks) < ngram:
                continue
            grams = {
                " ".join(toks[j : j + ngram]) for j in range(len(toks) - ngram + 1)
            }
            counts[i] = len(grams)
            shingles.extend(grams)
        if not shingles:
            return pd.Series([None] * len(token_lists))
        flat = (
            pd.util.hash_array(np.asarray(shingles, dtype=object)).astype(np.int64)
            % _MH_PRIME
        )
        vals = (flat[None, :] * a_coef + b_coef) % _MH_PRIME  # (k, n_shingles)
        nz = counts > 0
        offsets = np.concatenate([[0], np.cumsum(counts[nz])[:-1]])
        mins = np.minimum.reduceat(vals, offsets, axis=1)  # (k, n_nonzero)
        out: list[list[int] | None] = [None] * len(token_lists)
        for j, i in enumerate(np.nonzero(nz)[0]):
            out[i] = mins[:, j].tolist()
        return pd.Series(out)

    return kernel


def simhash64_kernel():
    """Arrow-batched SimHash kernel: text -> 64-bit fingerprint (long).

    Vectorized bit votes: hash every token of the batch once, expand to a
    (n_tokens, 64) ±1 matrix, segment-sum per row with
    ``np.add.reduceat``. Same reasoning as minhash_signature_kernel —
    the column-expression path (``simhash64``) is O(64 · n_tokens)
    interpreted ops per row. Empty rows return NULL.
    """
    shifts = np.arange(64, dtype=np.uint64)

    @F.pandas_udf(T.LongType())
    def kernel(text: pd.Series) -> pd.Series:
        token_lists = _norm_token_lists(text)
        counts = np.array([len(t) for t in token_lists], dtype=np.int64)
        flat_tokens = [tok for toks in token_lists for tok in toks]
        if not flat_tokens:
            return pd.Series([None] * len(token_lists), dtype="object")
        h = pd.util.hash_array(np.asarray(flat_tokens, dtype=object))  # uint64
        bits = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32)
        votes_pm = bits * 2 - 1  # ±1 votes
        nz = counts > 0
        offsets = np.concatenate([[0], np.cumsum(counts[nz])[:-1]])
        sums = np.add.reduceat(votes_pm, offsets, axis=0)  # (n_nonzero, 64)
        fp_bits = (sums > 0).astype(np.uint64)
        fps = (fp_bits << shifts[None, :]).sum(axis=1, dtype=np.uint64).view(np.int64)
        out: list[int | None] = [None] * len(token_lists)
        for j, i in enumerate(np.nonzero(nz)[0]):
            out[i] = int(fps[j])
        return pd.Series(out, dtype="object")

    return kernel


def minhash_bands(sig: Column, num_bands: int = 8, rows_per_band: int = 4) -> Column:
    """LSH banding: hash each band of the signature to a bucket id string."""
    bands = [
        F.concat_ws(
            ":",
            F.lit(str(b)),
            F.xxhash64(F.concat_ws(",", *[
                F.element_at(sig, b * rows_per_band + r + 1).cast("string")
                for r in range(rows_per_band)
            ])).cast("string"),
        )
        for b in range(num_bands)
    ]
    return F.array(*bands)


def lsh_candidate_probability(s: float, num_bands: int, rows_per_band: int) -> float:
    """P(a pair with true Jaccard ``s`` collides in >=1 LSH band) for the
    banding scheme above: ``1 - (1 - s^r)^b`` (Leskovec/Rajaraman/Ullman,
    Mining of Massive Datasets ch. 3.4)."""
    return 1.0 - (1.0 - s**rows_per_band) ** num_bands


def plan_minhash_lsh(
    jaccard_threshold: float,
    num_hashes: int = 32,
    min_recall: float | None = 0.9,
    fp_weight: float = 0.5,
) -> dict:
    """Choose (num_bands, rows_per_band) for ``minhash_near_duplicates``.

    At 100 TB the banding parameters ARE the cost model: bands set how many
    bucket rows each doc explodes into (shuffle volume) and the S-curve
    ``1-(1-s^r)^b`` sets both the recall at the threshold and how much
    sub-threshold candidate mass survives into exact verification — the
    stage that re-reads text. This planner makes the trade explicit instead
    of leaving the 8x4 default to luck.

    Enumerates every (b, r) with ``b*r <= num_hashes``, keeps those whose
    collision probability at ``jaccard_threshold`` is >= ``min_recall``
    (if none qualify, falls back to the max-recall scheme), and among the
    feasible picks the minimizer of
    ``fp_weight * FP_area + (1-fp_weight) * FN_area`` where FP_area is the
    integral of the S-curve below the threshold (wasted verification work,
    the scale cost) and FN_area the integral of (1 - S) above it (missed
    near-dups). Deterministic midpoint integration, pure Python — run it
    once at plan time, pass the result to the operator.

    Returns ``{"num_bands", "rows_per_band", "num_hashes_used",
    "recall_at_threshold", "fp_area", "fn_area"}``.
    """
    if not 0.0 < jaccard_threshold < 1.0:
        raise ValueError("jaccard_threshold must be in (0, 1)")
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    steps = 500
    best = None
    fallback = None  # max recall, tiebreak lower cost
    for r in range(1, num_hashes + 1):
        for b in range(1, num_hashes // r + 1):
            recall = lsh_candidate_probability(jaccard_threshold, b, r)
            fp = fn = 0.0
            for i in range(steps):
                s = (i + 0.5) / steps
                p = lsh_candidate_probability(s, b, r)
                if s < jaccard_threshold:
                    fp += p
                else:
                    fn += 1.0 - p
            fp /= steps
            fn /= steps
            cost = fp_weight * fp + (1.0 - fp_weight) * fn
            cand = {
                "num_bands": b,
                "rows_per_band": r,
                "num_hashes_used": b * r,
                "recall_at_threshold": recall,
                "fp_area": fp,
                "fn_area": fn,
            }
            if fallback is None or (recall, -cost) > (
                fallback["recall_at_threshold"],
                -(fp_weight * fallback["fp_area"]
                  + (1.0 - fp_weight) * fallback["fn_area"]),
            ):
                fallback = cand
            if min_recall is not None and recall < min_recall:
                continue
            if best is None or cost < (
                fp_weight * best["fp_area"]
                + (1.0 - fp_weight) * best["fn_area"]
            ):
                best = cand
    return best if best is not None else fallback


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    jaccard_threshold: float = 0.7,
    pair_predicate=None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: shingle -> minhash -> band -> bucket
    self-join -> true-Jaccard verification. Returns (id_A, id_B, jaccard).

    ``num_bands``/``num_hashes`` set the LSH S-curve; use
    ``plan_minhash_lsh(jaccard_threshold, num_hashes)`` to pick them for a
    recall target instead of guessing (the default 8x4 has ~0.89 recall at
    tau=0.7 and still passes ~19% of s=0.4 pairs into verification).

    ``pair_predicate``: optional ``(id_A_col, id_B_col) -> Column``
    filter applied right after the bucket join, BEFORE the estimator
    pre-filter and exact verification — candidates it rejects never pay
    signature comparison or re-shingling (used by
    ``minhash_cross_duplicates`` to drop same-source pairs early).

    ``signatures``: optional precomputed ``(doc_id, _text, sig)`` frame
    (a MATERIALIZED one — checkpoint/parquet — the caller already paid
    the kernel for, e.g. the streaming path which also persists the
    signatures). Must use the same ngram/num_hashes parameters."""
    rows_per_band = num_hashes // num_bands
    if signatures is not None:
        sig = signatures.select("doc_id", "_text", "sig").filter(
            F.col("sig").isNotNull()
        )
    else:
        kernel = minhash_signature_kernel(ngram, num_hashes)
        sig = (
            _ensure_parallelism(docs)
            .select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
            .select("doc_id", "_text", kernel(F.col("_text")).alias("sig"))
            .filter(F.col("sig").isNotNull())
        )
        # sig is read by both band-join sides and the verification
        # hydration — localCheckpoint so the Arrow kernel runs once per row
        # (at warehouse scale this would be a checkpointed stage table
        # instead). Not cache(): cached blocks pin executor storage until an
        # explicit unpersist, which no caller of this lazy result could
        # reliably issue; localCheckpoint blocks are released by the
        # ContextCleaner when the result is dropped.
        sig = sig.localCheckpoint()

    # bucket join carries ONLY (doc_id, sig) — never the shingle arrays;
    # at corpus scale the shuffle payload is 32 longs per row, not the text
    banded = sig.select(
        "doc_id",
        "sig",
        F.explode(minhash_bands(F.col("sig"), num_bands, rows_per_band)).alias("bucket"),
    )
    # explicit-N repartition on the bucket key: AQE sizes this exchange
    # by the banded rows (id + 32 longs each — tiny) and is blind to the
    # within-bucket pair blow-up; in a duplicate-dense corpus the join
    # output is orders of magnitude larger than its input and would
    # otherwise coalesce onto a handful of cores (same defense as the
    # B1/B2 salted joins, the ANN band join, and the ssjoin prefix join)
    n_parts = max(docs.sparkSession.sparkContext.defaultParallelism * 2, 8)
    a = banded.select(
        F.col("bucket"), F.col("doc_id").alias("id_A"), F.col("sig").alias("sig_A")
    ).repartition(n_parts, "bucket")
    b = banded.select(
        F.col("bucket"), F.col("doc_id").alias("id_B"), F.col("sig").alias("sig_B")
    ).repartition(n_parts, "bucket")
    cand = a.join(b, "bucket").filter(F.col("id_A") < F.col("id_B"))
    if pair_predicate is not None:
        cand = cand.filter(pair_predicate(F.col("id_A"), F.col("id_B")))
    cand = cand.drop("bucket").dropDuplicates(["id_A", "id_B"])
    # cheap signature-agreement pre-filter (the MinHash Jaccard estimator),
    # with slack so true-Jaccard borderline pairs survive to exact verify
    agree = F.size(
        F.filter(F.zip_with("sig_A", "sig_B", lambda x, y: x == y), lambda v: v)
    )
    cand = cand.withColumn(
        "est_jaccard", agree / F.lit(float(num_hashes))
    ).filter(F.col("est_jaccard") >= jaccard_threshold * 0.7)

    # exact verification only for survivors: re-shingle just the touched
    # docs (semi-join reduction first, so the n-gram expression runs on
    # candidate rows only)
    ids = (
        cand.select(F.col("id_A").alias("doc_id"))
        .union(cand.select("id_B"))
        .distinct()
    )
    sh = sig.join(ids, "doc_id", "left_semi").select(
        "doc_id", word_ngrams(F.col("_text"), ngram).alias("shingles")
    )
    pairs = (
        cand.select("id_A", "id_B")
        .join(sh.select(F.col("doc_id").alias("id_A"), F.col("shingles").alias("sh_A")), "id_A")
        .join(sh.select(F.col("doc_id").alias("id_B"), F.col("shingles").alias("sh_B")), "id_B")
    )
    inter = F.size(F.array_intersect("sh_A", "sh_B"))
    union = F.size(F.array_union("sh_A", "sh_B"))
    jac = F.when(union > 0, inter / union.cast("double")).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_A", "id_B", "jaccard")
    )


def minhash_band_rows(
    signatures: DataFrame, num_bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """``(doc_id, sig)`` -> exploded ``(doc_id, bucket, sig)`` band rows —
    the persistable signature-table layout for incremental/streaming
    dedup: append survivors' band rows each batch and later batches join
    new-batch buckets against the table instead of re-shingling the
    accumulated corpus."""
    return signatures.select(
        "doc_id",
        "sig",
        F.explode(
            minhash_bands(F.col("sig"), num_bands, rows_per_band)
        ).alias("bucket"),
    )


def minhash_cross_from_bands(
    new_bands: DataFrame,
    base_bands: DataFrame,
    num_hashes: int = 32,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """New-batch banded signatures x persisted signature table ->
    ``(new_id, dup_of, jaccard)`` near-dup pairs WITHOUT touching the base
    corpus text: candidates come from the band-bucket equality join and
    verification is the unbiased ``num_hashes``-sample MinHash Jaccard
    estimate (exact at threshold 1.0 — identical shingle sets give
    identical signatures, and full signature agreement at tau=1.0 admits
    exactly the identical-set pairs; at lower thresholds it is the
    standard LSH estimator, tightened by raising ``num_hashes``).

    Scale shape: only (doc_id, bucket, 32 longs) rows move; per-batch
    work is batch x touched-buckets, independent of corpus size."""
    a = new_bands.select(
        "bucket", F.col("doc_id").alias("new_id"), F.col("sig").alias("sig_A")
    )
    b = base_bands.select(
        "bucket", F.col("doc_id").alias("dup_of"), F.col("sig").alias("sig_B")
    )
    cand = a.join(b, "bucket").dropDuplicates(["new_id", "dup_of"])
    agree = F.size(
        F.filter(F.zip_with("sig_A", "sig_B", lambda x, y: x == y), lambda v: v)
    )
    return (
        cand.withColumn("jaccard", agree / F.lit(float(num_hashes)))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("new_id", "dup_of", "jaccard")
    )


def minhash_cross_duplicates(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Asymmetric near-dup scan: corpus documents near-duplicating any
    reference document (dedupe a new crawl against what's already in the
    training set). Returns (corpus_id, reference_id, jaccard).

    Composition over the symmetric LSH machinery: tag sources, union,
    run the banded self-join + verify, keep only cross-source pairs.
    The tag rides the (id, sig) tuples through the band join — the same
    shuffle payload as the symmetric case — and the source filter runs
    before signature verification, so within-corpus and within-reference
    pairs are discarded at the candidate stage, never verified. Both
    inputs may be 100 TB-scale; nothing here assumes either side is
    small (contrast ``curation.decontaminate``, which broadcasts the
    benchmark side)."""
    tag = "::"  # fixed-length id namespace prefix (stripped by length)
    c = corpus.select(
        F.concat(F.lit("C" + tag), F.col(id_col).cast("string")).alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    r = reference.select(
        F.concat(F.lit("R" + tag), F.col(id_col).cast("string")).alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    pairs = minhash_near_duplicates(
        c.unionByName(r),
        id_col="doc_id",
        text_col="text",
        ngram=ngram,
        num_hashes=num_hashes,
        num_bands=num_bands,
        jaccard_threshold=jaccard_threshold,
        pair_predicate=lambda ia, ib: F.substring(ia, 1, 1) != F.substring(ib, 1, 1),
    )
    a_src = F.substring("id_A", 1, 1)
    strip = len("X" + tag) + 1
    return (
        pairs.select(
            F.when(a_src == "C", F.substring("id_A", strip, 2**30))
            .otherwise(F.substring("id_B", strip, 2**30))
            .alias("corpus_id"),
            F.when(a_src == "C", F.substring("id_B", strip, 2**30))
            .otherwise(F.substring("id_A", strip, 2**30))
            .alias("reference_id"),
            "jaccard",
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
    block_prefix_tokens: int = 2,
) -> DataFrame:
    """Blocked n-gram-Jaccard near-dup: block on the first tokens, verify
    true Jaccard within blocks (cheap deterministic baseline for MinHash)."""
    toks = _norm_tokens(F.col(text_col))
    base = _ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        word_ngrams(F.col(text_col), ngram).alias("shingles"),
        F.concat_ws(" ", F.slice(toks, 1, block_prefix_tokens)).alias("bk"),
    ).filter((F.size("shingles") > 0) & (F.col("bk") != ""))
    # explicit-N repartition on the block key: the head-token block is
    # the documented hot key of this baseline, and AQE sizes the exchange
    # by the input rows, blind to the within-block pair blow-up — which
    # here also carries both shingle arrays
    n_parts = max(docs.sparkSession.sparkContext.defaultParallelism * 2, 8)
    a = base.select(
        "bk", F.col("doc_id").alias("id_A"), F.col("shingles").alias("sh_A")
    ).repartition(n_parts, "bk")
    b = base.select(
        "bk", F.col("doc_id").alias("id_B"), F.col("shingles").alias("sh_B")
    ).repartition(n_parts, "bk")
    pairs = a.join(b, "bk").filter(F.col("id_A") < F.col("id_B"))
    inter = F.size(F.array_intersect("sh_A", "sh_B"))
    union = F.size(F.array_union("sh_A", "sh_B"))
    jac = F.when(union > 0, inter / union.cast("double")).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_A", "id_B", "jaccard")
    )


def set_similarity_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Prefix-filter token-set similarity self-join (the AllPairs /
    PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08): EVERY
    pair with token-set Jaccard >= ``threshold`` — guaranteed recall, no
    blocking heuristic. Contrast :func:`ngram_jaccard_pairs`, which
    blocks on the first two positional tokens and (a) misses pairs that
    differ in their opening words and (b) turns a boilerplate opening
    shared by millions of docs into one hot join key.

    Candidate generation, all Catalyst built-ins (no UDF):

    1. global token order = (document frequency asc, token asc) —
       rarest tokens first;
    2. per-doc PREFIX under that order: the first
       ``n - ceil(tau*n) + 1`` tokens. Pigeonhole: if two sets with
       J >= tau shared no prefix token, all shared tokens would sit in
       one side's suffix, capping overlap at ``ceil(tau*n) - 1`` <
       the ``tau*n`` that J >= tau forces — so the postings self-join
       on prefix tokens alone reaches every qualifying pair;
    3. length filter ``tau*|A| <= |B|`` and ``tau*|B| <= |A|`` applied
       on the postings join;
    4. positional filter at the first shared prefix token (the
       minimal-order one, where min(pa) and min(pb) coincide because
       both docs order tokens by the same global rank): true overlap
       <= 1 + min(|A|-pa, |B|-pb), pruned against the required
       overlap ``ceil(tau/(1+tau) * (|A|+|B|))``.

    Verification hydrates token arrays for survivors only and checks
    exact Jaccard — the output is exactly the brute-force answer (the
    ``ssjoin_prefix`` contract entry proves set equality against a
    DuckDB all-shared-token-pairs replay).

    Scale shape: frequent tokens sort OUT of prefixes, so postings
    lists stay short and there is no CORPUS-WIDE head-token hot key; the
    df-annotation join fans out 1:1 per (doc, token) row (AQE absorbs
    its key skew); only (doc_id, token, n) rows shuffle until the final
    bounded hydration of surviving candidate pairs. A duplicate-dense
    corpus still concentrates postings (near-copies share their rarest
    tokens), so the prefix self-join sides carry an explicit-N
    repartition on the token key — AQE sizes that exchange by its tiny
    input and is blind to the posting-pair blow-up. Float guards: the
    prefix ceil subtracts eps (prefix can only lengthen — recall-safe)
    and the required-overlap ceil subtracts eps (alpha can only drop —
    prune-safe).
    """
    eps = 1e-9
    tau = float(threshold)
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    base = (
        _ensure_parallelism(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(_norm_tokens(F.col(text_col))).alias("toks"),
        )
        .filter(F.size("toks") > 0)
        .select("doc_id", "toks", F.size("toks").alias("n"))
    )
    # base has FOUR consumers (df-count scan, prefix scan, both verify
    # hydration sides) — localCheckpoint so the regex tokenization runs
    # once per doc, not once per consumer (same rationale as the MinHash
    # signature checkpoint above; a warehouse run would use a stage table)
    base = base.localCheckpoint()
    tok = base.select("doc_id", "n", F.explode("toks").alias("token"))
    dfreq = tok.groupBy("token").agg(F.count("*").alias("df"))
    plen = (
        F.col("n") - F.ceil(F.lit(tau) * F.col("n") - F.lit(eps)) + F.lit(1)
    ).cast("int")
    prefix = (
        tok.join(dfreq, "token")
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n"),
            F.array_sort(F.collect_list(F.struct("df", "token"))).alias("ordered"),
        )
        .select(
            "doc_id",
            "n",
            F.posexplode(
                F.slice(F.col("ordered.token"), F.lit(1), plen)
            ).alias("pos", "token"),
        )
    )
    # explicit-N repartition on the join key, the same defense the LSH
    # band join and B1/B2 salted joins carry: AQE sizes the exchange by
    # the join INPUT bytes (a few prefix rows per doc) and is blind to
    # the posting-list pair blow-up the self-join produces — in a
    # near-copy-dense corpus thousands of docs share their rarest
    # tokens, so without this the multi-million-row join output (and
    # the pair groupBy behind it) coalesces onto a handful of cores
    # (measured 4.5x on the bench corpus at tau=0.95)
    n_parts = max(docs.sparkSession.sparkContext.defaultParallelism * 2, 8)
    a = prefix.select(
        "token",
        F.col("doc_id").alias("id_A"),
        F.col("n").alias("n_A"),
        (F.col("pos") + 1).alias("pa"),
    ).repartition(n_parts, "token")
    b = prefix.select(
        "token",
        F.col("doc_id").alias("id_B"),
        F.col("n").alias("n_B"),
        (F.col("pos") + 1).alias("pb"),
    ).repartition(n_parts, "token")
    alpha = F.ceil(
        F.lit(tau / (1.0 + tau)) * (F.col("n_A") + F.col("n_B")) - F.lit(eps)
    )
    cand = (
        a.join(b, "token")
        .filter(F.col("id_A") < F.col("id_B"))
        .filter(
            (F.col("n_B") * F.lit(tau) <= F.col("n_A") + F.lit(eps))
            & (F.col("n_A") * F.lit(tau) <= F.col("n_B") + F.lit(eps))
        )
        .groupBy("id_A", "id_B")
        .agg(
            F.max("n_A").alias("n_A"),
            F.max("n_B").alias("n_B"),
            F.min("pa").alias("pa1"),
            F.min("pb").alias("pb1"),
        )
        .filter(
            F.lit(1)
            + F.least(F.col("n_A") - F.col("pa1"), F.col("n_B") - F.col("pb1"))
            >= alpha
        )
    )
    ta = base.select(F.col("doc_id").alias("id_A"), F.col("toks").alias("t_A"))
    tb = base.select(F.col("doc_id").alias("id_B"), F.col("toks").alias("t_B"))
    inter = F.size(F.array_intersect("t_A", "t_B"))
    return (
        cand.join(ta, "id_A")
        .join(tb, "id_B")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("n_A") + F.col("n_B") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= tau)
        .select("id_A", "id_B", "jaccard")
    )


def simhash64(text_col) -> Column:
    """64-bit SimHash of normalized tokens, entirely with built-ins.

    Classic bit-vote SimHash sums +-1 per bit over token hashes. The token
    array is hashed ONCE (one xxhash64 per token); the 64 bit-votes are
    aggregates of shiftright/and over those precomputed hashes — cheap
    integer ops, no re-hashing. The fingerprint is assembled with
    shiftleft + bitwiseOR (a ``1 << 63`` literal overflows a Java long and
    ANSI mode rejects additive overflow; bitwise ops wrap safely).
    """
    hashes = F.transform(_norm_tokens(text_col), lambda x: F.xxhash64(x))
    return simhash64_from_hashes(hashes)


def simhash64_from_hashes(hashes: Column) -> Column:
    """Fingerprint from a (preferably materialized) array<long> of token
    hashes — pair with a prior withColumn so hashing runs once per row."""

    def _vote(bit: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    out = F.lit(0).cast("long")
    for i in range(64):
        vote = F.aggregate(hashes, F.lit(0), _vote(i))
        bit = F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        out = out.bitwiseOR(F.shiftleft(bit, i))
    return out


def hamming64(a, b) -> Column:
    """Hamming distance between two 64-bit fingerprints via bit_count(xor)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b))


def simhash_portable_fp(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """SimHash fingerprints over the portable ``md5_60`` token hash,
    computed entirely in whole-stage-codegen expressions: explode tokens,
    hash once, groupBy doc with 60 conditional-sum bit votes, reassemble
    the fingerprint with shiftleft+OR. Bit b is set when the ones-count
    c_b satisfies 2*c_b > n (vote > 0) — identical semantics to
    ``simhash64_from_hashes``/``simhash64_kernel``, but over a hash an
    external SQL engine can recompute, which is what makes the
    ``simhash_hd`` oracle twin possible. The explode+groupBy shape is also
    the 100 TB plan: one shuffle on doc_id, no per-element interpreted
    lambdas (the Column-expression ``simhash64`` pays ~50us per token per
    bit in Catalyst's lambda interpreter)."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_norm_tokens(F.col(text_col))).alias("_t"),
    ).withColumn("_h", md5_60("_t"))
    aggs = [F.count("*").alias("_n")] + [
        F.sum(F.shiftright("_h", b).bitwiseAND(F.lit(1))).alias(f"_c{b}")
        for b in range(60)
    ]
    votes = tok.groupBy("doc_id").agg(*aggs)
    fp = F.lit(0).cast("long")
    for b in range(60):
        bit = F.when(
            F.col(f"_c{b}") * 2 > F.col("_n"), F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = fp.bitwiseOR(F.shiftleft(bit, b))
    return votes.select("doc_id", fp.alias("fp"))


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    num_bands: int = 4,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup: band the 64-bit fingerprint into num_bands chunks
    (pigeonhole: any pair within max_hamming <= num_bands-1 shares a band),
    self-join per band, verify full Hamming distance.

    With max_hamming <= num_bands - 1 the pigeonhole guarantee makes the
    output EXACTLY the set of pairs at Hamming <= max_hamming — no
    probabilistic recall gap — which is why the ``simhash_hd`` contract
    query can be checked against a brute-force SQL oracle.

    ``fingerprints``: optional precomputed (doc_id, fp) table (e.g. from
    ``simhash_portable_fp``); default computes the xxhash-family Arrow
    kernel fingerprint from ``text_col``."""
    bits_per_band = 64 // num_bands
    if fingerprints is not None:
        fp = fingerprints.select("doc_id", "fp")
    else:
        kernel = simhash64_kernel()
        fp = (
            _ensure_parallelism(docs)
            .select(F.col(id_col).alias("doc_id"), kernel(F.col(text_col)).alias("fp"))
            .filter(F.col("fp").isNotNull())
        )
    band_cols = [
        F.concat_ws(
            ":",
            F.lit(str(i)),
            F.shiftright(F.col("fp"), i * bits_per_band)
            .bitwiseAND(F.lit((1 << bits_per_band) - 1))
            .cast("string"),
        )
        for i in range(num_bands)
    ]
    banded = fp.select(
        "doc_id", "fp", F.explode(F.array(*band_cols)).alias("bucket")
    )
    # explicit-N repartition on the bucket key — AQE is blind to the
    # within-bucket pair blow-up (see minhash_near_duplicates above)
    n_parts = max(docs.sparkSession.sparkContext.defaultParallelism * 2, 8)
    a = banded.select(
        "bucket", F.col("doc_id").alias("id_A"), F.col("fp").alias("fp_A")
    ).repartition(n_parts, "bucket")
    b = banded.select(
        "bucket", F.col("doc_id").alias("id_B"), F.col("fp").alias("fp_B")
    ).repartition(n_parts, "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_A") < F.col("id_B"))
        .dropDuplicates(["id_A", "id_B"])
        .withColumn("hamming", hamming64("fp_A", "fp_B"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_A", "id_B", "hamming")
    )


def remove_duplicate_spans(
    docs: DataFrame,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_first: bool = True,
    portable: bool = False,
) -> DataFrame:
    """Span-granular dedup TRANSFORM: rewrite each document with its
    corpus-duplicated ``window``-token spans removed — the removal
    counterpart of :func:`span_overlap_pairs` (Lee et al. 2107.06499
    dedup exact repeated substrings and keep one occurrence; whole-doc
    dedup cannot touch a copied paragraph inside an otherwise-unique doc).

    Semantics: every ``window``-token span occurring >= 2 times in the
    corpus (across docs OR repeated within one doc) is a duplicate span.
    With ``keep_first=True`` the globally-first occurrence — smallest
    ``(doc_id, position)`` — survives; all other occurrences have their
    tokens removed. A token goes iff some removed span covers it, so a
    copied paragraph of length L >= window disappears wholly from every
    non-surviving doc while boundary-crossing context stays. With
    ``keep_first=False`` every occurrence of a duplicated span is removed
    (the aggressive boilerplate-stripping mode).

    Output: one row per input doc —
    ``(doc_id, text_dedup, n_tokens, n_kept_tokens, n_removed_spans)``
    where ``text_dedup`` re-joins the SURVIVING normalized tokens (the
    same ``_tokens`` normalizer as the detection path, so detect and
    remove agree on positions).

    The 100 TB shape: only ``(span_hash, doc_id, pos)`` postings shuffle
    (two hash exchanges: the count and the survivor window share the
    span_hash key); the doc payload re-joins once by id. The final
    cover test is per-row Catalyst (``exists`` over the doc's own removal
    positions) — no Python, no extra shuffle. Docs with self-repeated
    boilerplate are O(tokens x removals) in the cover test; removal lists
    are bounded by doc length.
    """
    from record_linkage_spark.operators.text_analysis import _tokens

    hash_fn = F.md5 if portable else F.xxhash64
    # Materialize the normalized token array as a real column ONCE: a
    # `_tokens(...)` expression referenced inside a higher-order-function
    # lambda is re-evaluated (regex chain and all) per array ELEMENT —
    # measured 18s vs 0.5s for the sf0.1 span explode.
    base = _ensure_parallelism(docs).select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_text"),
        _tokens(F.col(text_col)).alias("_t"),
    )
    toks = F.col("_t")
    n = F.size(toks) - (window - 1)
    # (pos:1-based span start, h:span hash) per doc
    span_structs = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            i.alias("pos"),
            hash_fn(F.concat_ws(" ", F.slice(toks, i, window))).alias("h"),
        ),
    )
    occ = (
        base.filter(F.size(toks) >= window)
        .select("_id", F.explode(span_structs).alias("s"))
        .select("_id", F.col("s.pos").alias("_pos"), F.col("s.h").alias("_h"))
    )

    counts = occ.groupBy("_h").agg(F.count("*").alias("_c"))
    dup_occ = occ.join(counts.filter(F.col("_c") >= 2).select("_h"), "_h")
    if keep_first:
        w = Window.partitionBy("_h").orderBy(F.asc("_id"), F.asc("_pos"))
        removals = (
            dup_occ.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") >= 2)
            .select("_id", "_pos")
        )
    else:
        removals = dup_occ.select("_id", "_pos")

    per_doc = removals.groupBy("_id").agg(
        F.sort_array(F.collect_list("_pos")).alias("_drops")
    )
    out = base.join(per_doc, "_id", "left").withColumn(
        "_drops", F.coalesce("_drops", F.array().cast("array<int>"))
    )
    toks2 = F.col("_t")
    # A removed span at 1-based pos covers tokens [pos, pos+window-1].
    # A naive per-token `exists` over the drop list is O(tokens x drops)
    # per doc — quadratic for fully-duplicated docs (measured 48.7s for
    # the sf0.1 corpus). Instead: single-pass merge of the SORTED drops
    # into disjoint covered intervals, then rebuild the text from the
    # gap SLICES between them — O(tokens + drops), pure Catalyst.
    last = lambda acc: F.element_at(acc, -1)  # noqa: E731
    merged = F.aggregate(
        F.col("_drops"),
        F.array().cast("array<struct<s:int,e:int>>"),
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (p <= last(acc)["e"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last(acc)["s"].alias("s"),
                        F.greatest(
                            last(acc)["e"], p + F.lit(window) - 1
                        ).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        p.alias("s"), (p + F.lit(window) - 1).alias("e")
                    )
                ),
            )
        ),
    )
    out = out.withColumn("_iv", merged)
    # kept positions = [1, s1-1] ∪ [e1+1, s2-1] ∪ ... ∪ [eK+1, n]
    starts = F.concat(
        F.array(F.lit(1)), F.transform(F.col("_iv"), lambda m: m["e"] + 1)
    )
    ends = F.concat(
        F.transform(F.col("_iv"), lambda m: m["s"] - 1),
        F.array(F.size(toks2).cast("int")),
    )
    kept = F.flatten(
        F.zip_with(
            starts,
            ends,
            lambda s, e: F.slice(toks2, s, F.greatest(e - s + 1, F.lit(0))),
        )
    )
    return out.select(
        F.col("_id").alias(id_col),
        F.concat_ws(" ", kept).alias("text_dedup"),
        F.size(toks2).cast("int").alias("n_tokens"),
        F.size(kept).cast("int").alias("n_kept_tokens"),
        F.size("_drops").cast("int").alias("n_removed_spans"),
    )


def span_overlap_pairs(
    docs: DataFrame,
    window: int = 8,
    min_shared: int = 2,
    max_postings: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """Exact token-span overlap pairs: ``(id_A, id_B, shared_spans)`` for
    every doc pair sharing at least ``min_shared`` DISTINCT ``window``-token
    word spans — span-granular exact-substring duplicate detection (the
    copy/paste and template-reuse signal MinHash's bag-of-shingles Jaccard
    dilutes on long documents; cf. Lee et al., "Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499, which dedups on
    exact repeated substrings rather than whole-doc similarity).

    Tokenization and span hashing are shared with
    :func:`~record_linkage_spark.operators.text_analysis.doc_fingerprint`
    (same ``_tokens`` normalizer, same ``window``-token ``concat_ws``
    windows); this operator keeps ALL window hashes per doc instead of the
    winnowed min, so a single copied paragraph anywhere in two otherwise
    different docs still pairs them.

    The 100 TB shape:
      * only ``(span_hash, doc_id)`` ever shuffles — the doc payload stays
        on the map side, and per-doc span sets are ``array_distinct``-ed
        before the explode so a doc repeating its own boilerplate does not
        inflate its postings;
      * spans occurring in more than ``max_postings`` docs are dropped
        before the pairing self-join: they are corpus boilerplate (licence
        headers, templates) and would otherwise contribute a quadratic
        posting-list blowup. The cap is an explicit contract of the
        operator — mine the dropped spans with
        :func:`~record_linkage_spark.operators.curation.frequent_ngrams`
        when they matter. Spans in a single doc are dropped too (they can
        pair nothing);
      * the count filter and the pairing join share the ``span_hash`` key,
        so AQE plans them over one co-partitioned exchange; pair counts
        reduce with map-side combine on ``(id_A, id_B)``.

    ``portable=True`` hashes spans with md5 hex strings (byte-identical
    from DuckDB — the ``span_overlap`` contract query's oracle replays the
    whole plan); default uses xxhash64 longs (the fast JVM path).
    """
    from record_linkage_spark.operators.text_analysis import _tokens

    # Tokens must be a materialized column before the higher-order
    # transform: an inline `_tokens(...)` expression inside the lambda is
    # re-evaluated (regex chain and all) once per span POSITION — ~40x
    # the work for average docs (see remove_duplicate_spans).
    toks = F.col("_t")
    hash_fn = F.md5 if portable else F.xxhash64
    n = F.size(toks) - (window - 1)
    win_hashes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: hash_fn(F.concat_ws(" ", F.slice(toks, i, window))),
    )
    spans = (
        _ensure_parallelism(docs)
        .select(
            F.col(id_col).alias("_id"),
            _tokens(F.col(text_col)).alias("_t"),
        )
        .filter(F.size(toks) >= window)
        .select(
            "_id",
            F.explode(F.array_distinct(win_hashes)).alias("_h"),
        )
    )
    counts = spans.groupBy("_h").agg(F.count("*").alias("_c"))
    good = spans.join(
        counts.filter((F.col("_c") >= 2) & (F.col("_c") <= max_postings)).select("_h"),
        "_h",
    )
    # explicit-N repartition on the span-hash key: the postings cap
    # bounds each span's fan-out (<= max_postings^2) but not the total
    # join output, which AQE — sizing by the tiny (hash, id) input —
    # would coalesce onto few cores
    n_parts = max(docs.sparkSession.sparkContext.defaultParallelism * 2, 8)
    a = good.select("_h", F.col("_id").alias("id_A")).repartition(n_parts, "_h")
    b = good.select("_h", F.col("_id").alias("id_B")).repartition(n_parts, "_h")
    return (
        a.join(b, "_h")
        .filter(F.col("id_A") < F.col("id_B"))
        .groupBy("id_A", "id_B")
        .agg(F.count("*").cast("bigint").alias("shared_spans"))
        .filter(F.col("shared_spans") >= min_shared)
    )
