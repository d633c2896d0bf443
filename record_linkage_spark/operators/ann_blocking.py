"""Embedding-style (ANN) blocking: vector-similarity candidate pairs.

The modern-ER third leg next to the key-equality cascades (``blocking.
py`` B1/B2) and sorted neighborhood: represent every record as a vector,
bucket by random-hyperplane LSH, and keep bucket-mates whose exact
cosine clears a threshold. With a trained bi-encoder the vector column
is model output; this module supplies the *plumbing* plus a
deterministic stand-in encoder — a signed hashing-trick bag-of-tokens
vector (the hashing vectorizer the batch scorer already uses, here as
pure Catalyst columns so the whole path is SQL-replayable):

- ``hashed_text_vectors``: text -> L2-normalized ``array<double>`` of
  signed token-count buckets. Token hash is the md5-portable pattern
  (``functions.text.md5_60``) shared with dedup and the sketches, so
  DuckDB rebuilds identical vectors.
- ``ann_candidate_pairs``: profiles -> (id_A, id_B, block_key,
  strategy) via RHP-LSH bucket self-join (``similarity_search.
  embedding_near_duplicates``) + exact-cosine verify: the candidate-pair
  contract of ``blocking.candidate_pairs``, called directly (the
  ``rl_ann_candidates`` contract entry does).

Scale shape:
- the vector build is explode -> groupBy(id, bucket) with map-side
  combine (|tokens| rows move once) -> one groupBy(id) to densify;
  no per-row Python anywhere;
- candidate generation is the banded LSH bucket join — each record
  meets only its bucket-mates, never the corpus (the B1/B2 salted
  self-join analogue for vector space);
- the exact-cosine verify runs only on bucket-mates (semi-join
  reduction, same discipline as the MinHash verify).

Reference anchor: the reference blocks exclusively on key equality
(``src/blocking/generate.py``); ANN blocking extends the same
candidate-pair contract to similarity space.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from record_linkage_spark.functions.text import md5_60

def unit_dot(a, b) -> Column:
    """Cosine of two ALREADY L2-normalized vectors: the plain dot.

    One zip_with + one aggregate pass — measured 2.1x faster than
    ``cosine_sim`` (which re-derives both norms) on the 38M-pair verify
    at sf0.1, and 5x faster than a dim-unrolled ``element_at`` sum
    (64 unrolled terms fall out of whole-stage codegen entirely)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

ANN_DIM = 64
ANN_COSINE_THRESHOLD = 0.80
# the full RHP signature feeds only the Hamming prefilter; banding uses
# the low num_bands*band_bits bits. 60 planes (vs the round-3 32) keep
# the at-threshold survival at ~Phi(2) while the binomial concentrates,
# so the filter gets SHARPER around the threshold as planes grow:
# same-boot A/B at sf0.1 (64k profiles, 61.2M bucket-mate pairs) —
# verify fan-in 38.2M -> 8.4M survivors, whole stage 50.1 s -> 18.1 s,
# candidate output 23,528 -> 23,526 (recall vs the brute-force oracle
# unchanged, pinned by tests/test_ann_blocking.py).
ANN_NUM_PLANES = 60
ANN_NUM_BANDS = 4
ANN_BAND_BITS = 8
# above this estimated build-side size the hydration joins fall back to
# SHUFFLE_HASH instead of broadcast: a broadcast is a full copy of the
# vector table on the driver AND every executor, so an O(corpus) vector
# table must never ride it (the never-O(corpus) discipline this module's
# bucket join already follows)
ANN_BROADCAST_MAX_BYTES = 128 << 20
# adaptive-banding planner targets (banding_plan): expected records per
# band-bucket, and the default cosine at which the default config's
# banding recall is held constant as bits-per-band grow with the corpus
# (ann_candidate_pairs passes its cosine_threshold instead)
ANN_TARGET_BUCKET = 200
ANN_DESIGN_COSINE = 0.90
# plane-index offset for per-band independent signatures — disjoint from
# the Hamming signature's planes 0..num_planes-1 by construction
ANN_BAND_PLANE_BASE = 1_000_000


def banding_plan(
    n_records: int,
    band_bits: int = ANN_BAND_BITS,
    num_bands: int = ANN_NUM_BANDS,
    design_cosine: float = ANN_DESIGN_COSINE,
    target_bucket: int = ANN_TARGET_BUCKET,
) -> tuple[int, int, bool]:
    """Corpus-adaptive LSH banding: ``(band_bits, num_bands,
    independent_planes)``.

    The round-5 sf1.0 rehearsal measured the fixed default banding going
    70x super-linear at 10x the corpus: 4 bands x 8 bits is a SATURATED
    2^8-value-per-band key space, so band buckets densify linearly with
    the corpus and the bucket self-join fan-in grows quadratically —
    the same failure mode as B1's saturated (len_bucket, first3) keys.
    The planner removes the saturation quadratic:

    - bits-per-band r grows with log2(n / target_bucket), keeping the
      EXPECTED band-bucket occupancy ~constant as the corpus grows;
    - the band count b grows to hold the banding recall at the DEFAULT
      config's level at ``design_cosine`` (the S-curve identity:
      recall = 1 - (1 - (1-p)^r)^b with p = acos(c)/pi), so widening
      buckets never silently trades recall;
    - when the computed r does not exceed the default, the LEGACY
      low-signature-bits config is returned verbatim (independent =
      False) — small corpora are bit-stable with every prior round.

    With r > the 63-bit budget of one signature long, bands switch to
    per-band INDEPENDENT plane sets (``independent_planes=True``; the
    Hamming prefilter keeps its own full signature). LSH being LSH,
    total join fan-in still grows ~n^(1+rho) — sub-quadratic by
    construction, never the saturation quadratic.
    """
    import math

    if n_records <= target_bucket:
        return band_bits, num_bands, False
    r = math.ceil(math.log2(n_records / target_bucket))
    if r <= band_bits:
        return band_bits, num_bands, False
    p = math.acos(min(max(design_cosine, -1.0), 1.0)) / math.pi
    q = (1.0 - p) ** r
    if q >= 1.0:
        # pairs at the design cosine agree on every plane: any band
        # count holds recall 1
        return r, num_bands, True
    q0 = (1.0 - p) ** band_bits
    # near cosine 1 the legacy recall rounds to 1.0, which no finite band
    # count reaches: clamp it so the log below stays finite
    recall0 = min(1.0 - (1.0 - q0) ** num_bands, 1.0 - 1e-12)
    b = max(num_bands, math.ceil(math.log(1.0 - recall0) / math.log(1.0 - q)))
    return r, b, True


def hashed_text_vectors(
    texts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = ANN_DIM,
) -> DataFrame:
    """``(id_col, text_col)`` -> ``(id_col, vec)`` with ``vec`` an
    L2-normalized signed hashing-trick vector of whitespace tokens.

    bucket and sign both come from one hash: ``x = h mod 2*dim``,
    bucket = x div 2, sign = +1/-1 from x mod 2 — one md5 per token,
    trivially replayable. Records with no tokens produce no row (the
    key-cascade analogue of a null block key).
    """
    toks = texts.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+")
        ).alias("_t"),
    ).filter(F.col("_t") != "")
    x = F.pmod(md5_60("_t"), F.lit(2 * dim))
    signed = toks.select(
        "_id",
        (x / F.lit(2)).cast("int").alias("_bucket"),
        F.when(F.pmod(x, F.lit(2)) == 0, F.lit(1.0))
        .otherwise(F.lit(-1.0))
        .alias("_sign"),
    )
    counts = signed.groupBy("_id", "_bucket").agg(
        F.sum("_sign").alias("_val")
    )
    # densify by MAP KEY lookup (buckets are 0-based ids, not positions)
    dense = (
        counts.groupBy("_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("_bucket", "_val"))
            ).alias("_m")
        )
        .select(
            "_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                # try_element_at: ANSI mode makes plain map[key] / element_at
                # throw on a missing key; absent buckets must read as 0
                lambda i: F.coalesce(
                    F.try_element_at(F.col("_m"), i), F.lit(0.0)
                ),
            ).alias("_raw"),
        )
    )
    normed = dense.select(
        "_id",
        F.sqrt(
            F.aggregate(
                "_raw", F.lit(0.0), lambda acc, v: acc + v * v
            )
        ).alias("_n"),
        "_raw",
    ).select(
        F.col("_id").alias(id_col),
        F.when(
            F.col("_n") > 0,
            F.transform(F.col("_raw"), lambda v: v / F.col("_n")),
        )
        .otherwise(F.col("_raw"))
        .alias("vec"),
    )
    return normed


def ann_candidate_pairs(
    profiles: DataFrame,
    id_col: str = "conv_id",
    text_cols: tuple[str, ...] = ("first_text_norm", "last_text_norm"),
    dim: int = ANN_DIM,
    cosine_threshold: float = ANN_COSINE_THRESHOLD,
    num_planes: int = ANN_NUM_PLANES,
    num_bands: int = ANN_NUM_BANDS,
    band_bits: int = ANN_BAND_BITS,
    h_sigmas: float = 2.0,
    broadcast_max_bytes: int = ANN_BROADCAST_MAX_BYTES,
    target_bucket: int = ANN_TARGET_BUCKET,
) -> DataFrame:
    """Generator form: (id_A, id_B, block_key, strategy) candidate pairs
    whose hashed-text vectors clear ``cosine_threshold``, found via the
    banded RHP-LSH bucket self-join (never all pairs).

    The banding is sized to the corpus by :func:`banding_plan`: small
    corpora reproduce the legacy ``(num_bands, band_bits)`` config
    bit-for-bit; past ``target_bucket * 2^band_bits`` records,
    bits-per-band grow with log2(n) (per-band independent plane sets)
    and the band count grows to hold banding recall constant at
    ``cosine_threshold``, the operating threshold — the fix for
    the saturation quadratic the sf1.0 rehearsal measured (70x
    super-linear at 10x the corpus on the fixed 2^8-per-band key
    space). Construction runs ONE count job over the materialized
    vector table (it also feeds the hydration broadcast gate).

    Verify discipline (the MinHash pattern, measured 4x end-to-end at
    sf0.1): the bucket join ships ONLY (id, 64-bit signature) — never
    the vectors — and a codegen'd Hamming prefilter on the full
    signature (``bit_count(sig_A ^ sig_B)``) kills ~96% of random
    bucket-mates before anything is deduped or hydrated; the exact
    cosine runs via two hash joins back to the vector table on the
    small survivor set only.

    RECALL CONTRACT (not exactly 1.0 against "all pairs with cosine >=
    tau"): two independent losses multiply. (a) Banding: a pair at
    exactly ``cosine_threshold`` shares at least one band with
    probability 1-(1-(1-p)^r)^b (p = acos(tau)/pi, r = ``band_bits``,
    b = ``num_bands``); better-than-threshold pairs approach 1.
    (b) The Hamming prefilter cut is mean + ``h_sigmas``·sigma of
    Binomial(num_planes, p) at exactly the threshold, so an
    AT-threshold pair that did collide survives it with
    ~Phi(h_sigmas) — ~97.7% at the default 2.0 — and clearly-better
    pairs essentially always. Raise ``h_sigmas`` (e.g. 3.0 → ~99.9%)
    to trade verify fan-in for recall; ``tests/test_ann_blocking.py``
    pins measured recall >= 0.8 against the brute-force oracle.
    ``num_planes`` does NOT change banding (which reads only the low
    ``num_bands*band_bits`` bits) — extra planes only concentrate the
    Hamming statistic, shrinking verify fan-in at constant recall.

    The exact-cosine hydration joins broadcast the vector table only
    while its ESTIMATED size (rows x (8·dim + 64) bytes) stays under
    ``broadcast_max_bytes``; above that they fall back to SHUFFLE_HASH
    joins — a large corpus' vector table must never be copied to the
    driver and every executor."""
    import math

    texts = profiles.select(
        F.col(id_col),
        F.concat_ws(" ", *[F.coalesce(F.col(c), F.lit("")) for c in text_cols]).alias(
            "_text"
        ),
    )
    # the vector table feeds three plan branches (signatures + both
    # hydration sides) — materialize once instead of recomputing the
    # explode/groupBy build per branch (the minhash localCheckpoint
    # precedent; production would persist a signature/vector stage table)
    vecs = hashed_text_vectors(
        texts, id_col=id_col, text_col="_text", dim=dim
    ).localCheckpoint()
    from record_linkage_spark.operators.similarity_search import rhp_signature

    # one cheap count over the materialized vector table drives BOTH the
    # banding planner and the hydration broadcast gate below
    n_records = vecs.count()
    band_bits, num_bands, independent = banding_plan(
        n_records,
        band_bits=band_bits,
        num_bands=num_bands,
        design_cosine=cosine_threshold,
        target_bucket=target_bucket,
    )

    if independent:
        # scale path: per-band INDEPENDENT r-bit signatures (disjoint
        # plane sets offset by ANN_BAND_PLANE_BASE), so the band-key
        # space grows with the corpus instead of saturating at the low
        # bits of one 63-bit signature. The Hamming prefilter keeps its
        # own full num_planes signature unchanged.
        band_exprs = [
            F.concat_ws(
                ":",
                F.lit(str(i)),
                rhp_signature(
                    F.col("vec"),
                    band_bits,
                    plane_base=ANN_BAND_PLANE_BASE + i * band_bits,
                ).cast("string"),
            )
            for i in range(num_bands)
        ]
        sigs = vecs.select(
            F.col(id_col).alias("_vid"),
            rhp_signature(F.col("vec"), num_planes).alias("_sig"),
            F.array(*band_exprs).alias("_bands"),
        )
        base = sigs.select("_vid", "_sig", F.explode("_bands").alias("_bucket"))
    else:
        if num_bands * band_bits > min(num_planes, 63):
            raise ValueError(
                f"banding reads {num_bands * band_bits} low bits but the "
                f"signature has only {min(num_planes, 63)}"
            )
        sigs = vecs.select(
            F.col(id_col).alias("_vid"),
            rhp_signature(F.col("vec"), num_planes).alias("_sig"),
        )
        # banding reads only the LOW num_bands*band_bits signature bits
        # (bucket structure — and so banding recall and bucket-join
        # volume — is independent of num_planes); the remaining planes
        # exist purely to sharpen the Hamming prefilter below
        bands = F.array(
            *[
                F.concat_ws(
                    ":",
                    F.lit(str(i)),
                    F.shiftright("_sig", i * band_bits)
                    .bitwiseAND(F.lit((1 << band_bits) - 1))
                    .cast("string"),
                )
                for i in range(num_bands)
            ]
        )
        base = sigs.select("_vid", "_sig", F.explode(bands).alias("_bucket"))
    # explicit-N repartition on the bucket key, same reason as the B1/B2
    # salted join: AQE sizes the exchange by the join INPUT bytes and is
    # blind to the pair blow-up the bucket join produces — without this
    # the 10^8-row join output lands on a handful of cores
    n_parts = max(
        profiles.sparkSession.sparkContext.defaultParallelism * 2, 8
    )
    a = base.select(
        F.col("_bucket"),
        F.col("_vid").alias("id_A"),
        F.col("_sig").alias("_sa"),
    ).repartition(n_parts, "_bucket")
    b = base.select(
        F.col("_bucket"),
        F.col("_vid").alias("id_B"),
        F.col("_sig").alias("_sb"),
    ).repartition(n_parts, "_bucket")
    # Hamming cut: mean + h_sigmas sigma of Binomial(num_planes,
    # p_disagree) — see the recall contract in the docstring
    p_dis = math.acos(min(max(cosine_threshold, -1.0), 1.0)) / math.pi
    h_max = int(
        num_planes * p_dis
        + h_sigmas * math.sqrt(num_planes * p_dis * (1.0 - p_dis))
    )
    survivors = (
        a.join(b, "_bucket")
        .filter(F.col("id_A") < F.col("id_B"))
        .filter(
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))) <= F.lit(h_max)
        )
        .select("id_A", "id_B")
        .dropDuplicates(["id_A", "id_B"])
    )
    va = vecs.select(F.col(id_col).alias("id_A"), F.col("vec").alias("_va"))
    vb = vecs.select(F.col(id_col).alias("id_B"), F.col("vec").alias("_vb"))
    # hydration join strategy, size-gated: below the gate, explicit
    # broadcast (the table routinely exceeds the 10 MB auto threshold
    # while the survivor pair set is orders of magnitude larger —
    # without the hint both hydrations become sort-merge joins that
    # shuffle every pair twice, measured 3x the whole operator's cost
    # at sf0.1). Above it, a broadcast would copy an O(corpus) vector
    # table to the driver and every executor — force SHUFFLE_HASH
    # instead (still no sort, and only the survivor keys shuffle).
    # vecs is localCheckpointed above, so the count is a cheap scan of
    # materialized partitions, not a recompute.
    est_bytes = n_records * (8 * dim + 64)
    if est_bytes <= broadcast_max_bytes:
        va, vb = F.broadcast(va), F.broadcast(vb)
    else:
        va, vb = va.hint("SHUFFLE_HASH"), vb.hint("SHUFFLE_HASH")
    return (
        survivors.join(va, "id_A")
        .join(vb, "id_B")
        .filter(unit_dot("_va", "_vb") >= F.lit(cosine_threshold))
        .select(
            "id_A",
            "id_B",
            F.lit("ann").alias("block_key"),
            F.lit("ANN").alias("strategy"),
        )
    )


def brute_force_cosine_pairs(
    texts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = ANN_DIM,
    cosine_threshold: float = ANN_COSINE_THRESHOLD,
) -> DataFrame:
    """Exact all-pairs cosine over hashed-text vectors — the oracle /
    recall baseline for the LSH path (quadratic; slice the input)."""
    vecs = hashed_text_vectors(texts, id_col=id_col, text_col=text_col, dim=dim)
    a = vecs.select(F.col(id_col).alias("id_A"), F.col("vec").alias("_va"))
    b = vecs.select(F.col(id_col).alias("id_B"), F.col("vec").alias("_vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_A") < F.col("id_B"))
        .withColumn("cosine", unit_dot("_va", "_vb"))
        .filter(F.col("cosine") >= cosine_threshold)
        .select("id_A", "id_B", "cosine")
    )
