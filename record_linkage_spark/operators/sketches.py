"""Mergeable sketch operators: HyperLogLog distinct-count registers,
a CountMin frequency sketch, Misra-Gries heavy hitters, and a
distributed Bloom filter.

Why sketches are first-class in a 100 TB engine: exact distinct counts,
exact per-value frequencies and exact membership sets all shuffle (or
broadcast) state proportional to the DATA's cardinality; a sketch caps
the state at a constant chosen up front, and — because every sketch here
is a *mergeable* DataFrame (union + re-aggregate == sketch of the union)
— it composes with incremental / streaming epochs: persist the sketch
table per epoch, merge on read, never rescan old text. This mirrors the
signature-table discipline of ``streaming/incremental.py``.

Design rules shared by all three:

- **Portable hashing** (``md5_60``): DuckDB reproduces every hash bit,
  so the register tables and membership flags are value-checkable by the
  SQL oracle end-to-end (``__spark_entry__`` folds ``chk='hll*'``,
  ``'hh'``, ``'bloom'``).
- **Integer-exact state**: register maxima, counter values and filter
  words are integers; the only floating-point ops are the final O(groups)
  estimate divisions, computed from an order-free scaled-integer sum so
  two engines cannot disagree by summation order.
- **No driver-side data structures beyond the sketch itself**: the HLL
  register table is ≤ groups × 2^p rows, the Bloom word table is
  ``ceil(n_bits/62)`` rows, the Misra-Gries summary ≤ capacity rows per
  partition before the merge.

References (all public): Flajolet et al., "HyperLogLog" (AofA 2007);
Heule et al., "HyperLogLog in Practice" (EDBT 2013) for the
linear-counting small-range correction; Misra & Gries, "Finding repeated
elements" (1982); Metwally et al., "Efficient computation of frequent and
top-k elements" (ICDT 2005); Cormode & Muthukrishnan, "An improved data
stream summary: the count-min sketch" (J. Algorithms 2005); Bloom
(CACM 1970). Reference-repo parity:
the reference has no sketch layer — these extend the A8/corpus-stats
surface (``/root/reference/src/features/build_features.py`` computes
exact corpus stats) to cardinalities where exact is no longer feasible.
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from record_linkage_spark.functions.text import md5_60

HASH_BITS = 60  # md5_60 yields a 60-bit non-negative long in both engines
# Bloom words use 62 of a long's 63 non-sign bits so ``1 << (pos % 62)``
# can never touch the sign bit in either engine.
BLOOM_WORD_BITS = 62


# --------------------------------------------------------------------------
# HyperLogLog
# --------------------------------------------------------------------------


def _hll_alpha(m: int) -> float:
    """Bias-correction constant from the HLL paper (m >= 128 branch)."""
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    if m == 64:
        return 0.709
    if m == 32:
        return 0.697
    return 0.673


def hll_registers(
    df: DataFrame,
    value_col: str | Column,
    group_cols: Sequence[str] = (),
    p: int = 8,
) -> DataFrame:
    """HLL register table: per group, per register index, the maximum
    rank rho (leading-zero count + 1 of the hash suffix).

    This IS the sketch state — ``(group..., reg int, rho int)``, at most
    ``2^p`` rows per group — and it is mergeable: ``hll_merge`` of two
    epochs' tables equals the table of the union. One explode-free
    groupBy (map-side combinable max), no shuffle beyond it.

    rho uses ``length(bin(w))`` (exact integer bit-length) instead of
    ``floor(log2(w))`` so no float rounding can flip a register at a
    power-of-two boundary — the property that makes the DuckDB twin
    (``length(bin(w))``) bit-identical.
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    suffix_bits = HASH_BITS - p
    h = md5_60(value_col)
    # integer quotient via shift (NOT float division: h has 60 bits and a
    # double would shave the low bits above 2^53). DuckDB twin: ``h // m``.
    w = F.shiftright(h, p)
    # bit length of w via the binary-string length; w == 0 -> rho = b + 1
    rho = F.when(
        w == 0, F.lit(suffix_bits + 1)
    ).otherwise(F.lit(suffix_bits + 1) - F.length(F.bin(w)))
    gb = [F.col(c) for c in group_cols]
    return (
        df.select(*gb, F.pmod(h, F.lit(m)).cast("int").alias("reg"), rho.cast("int").alias("_rho"))
        .groupBy(*gb, "reg")
        .agg(F.max("_rho").alias("rho"))
    )


def hll_merge(
    tables: Iterable[DataFrame], group_cols: Sequence[str] = ()
) -> DataFrame:
    """Merge HLL register tables (e.g. one per ingest epoch): union +
    per-register max. ``hll_merge([sketch(A), sketch(B)]) ==
    sketch(A union B)`` exactly — the property pinned by
    ``test_sketches.py::test_hll_merge_equals_union``."""
    tabs = list(tables)
    out = tabs[0]
    for t in tabs[1:]:
        out = out.unionByName(t)
    gb = [F.col(c) for c in group_cols]
    return out.groupBy(*gb, "reg").agg(F.max("rho").alias("rho"))


def hll_estimate(
    regs: DataFrame,
    group_cols: Sequence[str] = (),
    p: int = 8,
) -> DataFrame:
    """Distinct-count estimate per group from a register table.

    The harmonic sum ``sum(2^-rho)`` is computed as an ORDER-FREE scaled
    integer — ``sum(2^(b+1-rho))`` where ``b+1`` bounds rho — so the only
    floating-point operations are one division and one multiply per
    group (plus one ``ln`` on the linear-counting branch). Two engines
    evaluating this agree bit-for-bit on the raw branch; the oracle fold
    keeps its estimate row on that branch (see ``__spark_entry__``
    chk='hll_est').

    Standard error ~= 1.04 / sqrt(2^p) (HLL paper): ~6.5% at p=8.
    Returns ``(group..., est_distinct double)``.
    """
    m = 1 << p
    rho_max = HASH_BITS - p + 1  # scale exponent: 2^(rho_max - rho) is integral
    alpha = _hll_alpha(m)
    gb = [F.col(c) for c in group_cols]
    agg = regs.groupBy(*gb).agg(
        # shiftleft's python wrapper only takes a literal shift; the SQL
        # form accepts a column. 2^(rho_max - rho) stays integral.
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {rho_max} - rho)")).alias("_s"),
        F.count(F.lit(1)).alias("_present"),
    )
    zeros = F.lit(m) - F.col("_present")  # registers never hit (rho = 0 -> 2^0 = 1)
    scale = float(1 << rho_max)
    # raw estimate: alpha * m^2 / (zeros + sum_present(2^-rho))
    denom = zeros.cast("double") + F.col("_s").cast("double") / F.lit(scale)
    raw = F.lit(alpha * m * m) / denom
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(*gb, est.alias("est_distinct"))


# --------------------------------------------------------------------------
# CountMin sketch
# --------------------------------------------------------------------------


def _cms_col(value_col: str | Column, row: int, width: int) -> Column:
    """Portable column index for CMS row ``row``: md5_60 of the salted
    value, mod width. Same ``str(i) + chr(1)`` salt scheme as the Bloom
    positions so the DuckDB twin replays it verbatim."""
    c = F.col(value_col) if isinstance(value_col, str) else value_col
    return F.pmod(md5_60(F.concat(F.lit(f"{row}\x01"), c)), F.lit(width))


def cms_build(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 1 << 12,
    weight_col: str | None = None,
) -> DataFrame:
    """CountMin sketch AS A DATAFRAME: ``(row int, col int, cnt long)``
    with at most ``depth * width`` rows — the counter matrix in sparse
    form, built by one union-of-projections + groupBy(sum), so the state
    is a constant chosen up front no matter how many distinct values the
    data has (the scale win over an exact groupBy-count, whose shuffle is
    one row per DISTINCT value).

    Mergeable: union two sketches' counter tables and sum again ==
    sketch of the union (``cms_merge``; pinned by
    ``test_cms_merge_equals_union``). ``weight_col`` turns it into a
    weighted-frequency sketch (e.g. token counts pre-aggregated per doc).

    Guarantees (Cormode & Muthukrishnan, J.Alg 2005): estimates never
    undercount; with prob >= 1 - (1/2)^depth the overcount is
    <= 2N/width where N is the total weight. Integer-exact state — two
    engines cannot disagree (the oracle fold chk='cms' replays the
    counter rows AND the point estimates in DuckDB).
    """
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1, width >= 2; got {depth}x{width}")
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    parts = [
        df.select(
            F.lit(i).cast("int").alias("row"),
            _cms_col(value_col, i, width).cast("int").alias("col"),
            w.alias("_w"),
        )
        for i in range(depth)
    ]
    pos = parts[0]
    for extra in parts[1:]:
        pos = pos.unionByName(extra)
    # depth projections of the same input scan; partial aggregation
    # collapses each to <= width rows map-side before the one shuffle.
    return pos.groupBy("row", "col").agg(F.sum("_w").alias("cnt"))


def cms_merge(sketches: Iterable[DataFrame]) -> DataFrame:
    """Sum-merge CMS counter tables (same depth/width assumed)."""
    tabs = list(sketches)
    out = tabs[0]
    for t in tabs[1:]:
        out = out.unionByName(t)
    return out.groupBy("row", "col").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    queries: DataFrame,
    value_col: str,
    cms: DataFrame,
    depth: int = 4,
    width: int = 1 << 12,
    out_col: str = "est_count",
) -> DataFrame:
    """Point-frequency estimates, pure Catalyst: for each CMS row a
    broadcast hash join against that row's counters and a running
    ``least`` — the classic min-over-rows readout. The counter table
    (<= depth*width longs) is what broadcasts, never the probed data.

    A value whose (row, col) cell is absent from the sparse table has
    exact count contribution 0 there, so the estimate coalesces to 0 —
    which also makes never-seen values report 0 when ANY of their cells
    is untouched. Returns ``queries`` + ``out_col`` (long, >= true
    count always).
    """
    cms = cms.coalesce(1).localCheckpoint()
    out = queries
    est = None
    for i in range(depth):
        ci = cms.filter(F.col("row") == i).select(
            F.col("col").alias(f"_cc{i}"), F.col("cnt").alias(f"_cv{i}")
        )
        out = out.withColumn(f"_cp{i}", _cms_col(value_col, i, width).cast("int"))
        out = out.join(
            F.broadcast(ci), F.col(f"_cp{i}") == F.col(f"_cc{i}"), "left"
        )
        cell = F.coalesce(F.col(f"_cv{i}"), F.lit(0).cast("long"))
        est = cell if est is None else F.least(est, cell)
    drop = [c for i in range(depth) for c in (f"_cc{i}", f"_cv{i}", f"_cp{i}")]
    return out.withColumn(out_col, est).drop(*drop)


def cms_join_cardinality(
    cms_a: DataFrame,
    cms_b: DataFrame,
    depth: int = 4,
) -> DataFrame:
    """Equi-join output-size estimate from two CMS tables built with the
    SAME (depth, width) geometry over the two join keys: the CountMin
    inner-product estimate ``min over rows of sum_col(cntA * cntB)``
    (Cormode & Muthukrishnan 2005, §4.2) — an upper bound on
    ``|A JOIN B ON key|`` that is exact when no hash cell collides.

    This is the shuffle-planning primitive: estimate the pair blow-up
    of a candidate blocking key (or the skew contribution of a hot key
    via ``cms_estimate``) BEFORE paying the join, from two
    constant-size counter tables. One equality join on (row, col) +
    one depth-row aggregate + a min — never touches the data.

    Returns a 1-row ``(est_join_rows long)`` frame.
    """
    a = cms_a.select("row", "col", F.col("cnt").alias("_ca"))
    b = cms_b.select("row", "col", F.col("cnt").alias("_cb"))
    per_row = (
        a.join(b, ["row", "col"])
        .groupBy("row")
        .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_ip"))
    )
    # a CMS row whose cells never overlap estimates inner product 0;
    # rows absent from per_row therefore clamp the min to 0 — guard by
    # counting the rows present
    return per_row.agg(
        F.when(F.count(F.lit(1)) < depth, F.lit(0).cast("long"))
        .otherwise(F.min("_ip"))
        .alias("est_join_rows")
    )


# --------------------------------------------------------------------------
# Misra-Gries heavy hitters
# --------------------------------------------------------------------------


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    capacity: int = 4096,
) -> DataFrame:
    """Frequent values with bounded state: per-partition Misra-Gries
    summaries (<= ``capacity`` counters each) merged by a per-value sum.

    Guarantees (Misra-Gries 1982 + the standard mergeability result,
    Agarwal et al. PODS'12): for every value,
    ``freq - n/(capacity+1) <= est_count <= freq``, and every value with
    ``freq > n/(capacity+1)`` appears in the output. When each
    partition's distinct-value count is <= capacity the counts are EXACT
    — the regime the oracle fold (chk='hh') pins.

    Why not a plain groupBy-count: exact counting shuffles one row per
    DISTINCT value (unbounded — e.g. all tokens of a 100 TB corpus);
    this shuffles at most ``capacity`` rows per partition, a constant
    chosen up front, and the reduce side sums ~capacity-sized groups.

    Returns ``(value string, est_count long, err_bound double)`` where
    err_bound = n/(capacity+1) is the uniform count underestimate bound.
    """
    if capacity < 1:
        raise ValueError("capacity must be >= 1")

    out_schema = f"`{value_col}` string, est_count long"

    def mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[str, int] = {}
        for pdf in batches:
            col = pdf[value_col].dropna().astype(str)
            for v, c in col.value_counts().items():
                counts[v] = counts.get(v, 0) + int(c)
            if len(counts) > capacity:
                # MG reduction: subtract the (capacity+1)-th largest count
                # from every counter, drop the non-positive ones. Each unit
                # subtracted here is matched by >= capacity other units, so
                # the total underestimate stays <= n_partition/(capacity+1).
                vals = sorted(counts.values(), reverse=True)
                thr = vals[capacity]
                counts = {v: c - thr for v, c in counts.items() if c > thr}
        if counts:
            yield pd.DataFrame(
                {value_col: list(counts.keys()), "est_count": list(counts.values())}
            )

    summaries = df.select(F.col(value_col).cast("string").alias(value_col)).mapInPandas(
        mg_partition, schema=out_schema
    )
    merged = summaries.groupBy(value_col).agg(F.sum("est_count").alias("est_count"))
    n_total = df.select(
        F.count(F.col(value_col)).alias("_n")
    )  # 1-row attach, not a collect of data
    return merged.crossJoin(F.broadcast(n_total)).select(
        value_col,
        "est_count",
        (F.col("_n").cast("double") / F.lit(float(capacity + 1))).alias("err_bound"),
    )


# --------------------------------------------------------------------------
# Distributed Bloom filter
# --------------------------------------------------------------------------


def _bloom_pos(value_col: str | Column, i: int, n_bits: int) -> Column:
    """Portable position of hash i: md5_60 of the salted value, mod n_bits.
    The salt is ``str(i) + chr(1)`` so DuckDB replays it verbatim."""
    c = F.col(value_col) if isinstance(value_col, str) else value_col
    return F.pmod(md5_60(F.concat(F.lit(f"{i}\x01"), c)), F.lit(n_bits))


def bloom_build(
    df: DataFrame,
    value_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 2,
) -> DataFrame:
    """Build a Bloom filter AS A DATAFRAME: ``(word int, bits long)``
    with ``ceil(n_bits/62)`` rows — the packed bit array, built by a
    single groupBy(bit_or) so no executor or the driver ever holds the
    distinct-value set. Mergeable: union two filters' word tables and
    ``bit_or`` again (== filter of the union).

    62 bits per word keeps ``1 << (pos % 62)`` off the sign bit in both
    engines (DuckDB's ``<<`` on BIGINT matches two's complement only
    below bit 63)."""
    if n_bits < BLOOM_WORD_BITS:
        raise ValueError(f"n_bits must be >= {BLOOM_WORD_BITS}")
    parts = [
        df.select(_bloom_pos(value_col, i, n_bits).alias("pos"))
        for i in range(n_hashes)
    ]
    pos = parts[0]
    for extra in parts[1:]:
        pos = pos.unionByName(extra)
    return (
        pos.select(
            (F.col("pos") / F.lit(BLOOM_WORD_BITS)).cast("int").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD_BITS} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_merge(filters: Iterable[DataFrame]) -> DataFrame:
    """OR-merge Bloom word tables (same n_bits/n_hashes assumed)."""
    tabs = list(filters)
    out = tabs[0]
    for t in tabs[1:]:
        out = out.unionByName(t)
    return out.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_member_flags(
    df: DataFrame,
    value_col: str,
    bloom: DataFrame,
    n_bits: int = 1 << 16,
    n_hashes: int = 2,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Membership test, pure Catalyst: for each of the ``n_hashes``
    probe positions, a broadcast hash join against the word table and a
    codegen ``bits & mask != 0`` check; the row is a hit iff ALL probes
    hit. No UDF, no collect — the filter stays a DataFrame end to end,
    and the ``n_hashes`` joins each broadcast ~``n_bits/62`` longs
    (16 KB at the default), never the probed data.

    Zero false negatives by construction; false-positive rate
    ~= (1 - e^(-kn/m))^k. Returns ``df`` + ``out_col`` (boolean).
    """
    # The same word table is joined once per hash; without pinning it,
    # Spark re-runs the whole build aggregation per join (visible as a
    # duplicated build subtree in the plan). The table is <= n_bits/62
    # longs, so one eager localCheckpoint is the right trade at any scale.
    bloom = bloom.coalesce(1).localCheckpoint()
    out = df
    hit = F.lit(True)
    for i in range(n_hashes):
        w = bloom.select(
            F.col("word").alias(f"_bw{i}"), F.col("bits").alias(f"_bb{i}")
        )
        out = out.withColumn(f"_bp{i}", _bloom_pos(value_col, i, n_bits))
        out = out.join(
            F.broadcast(w),
            (F.col(f"_bp{i}") / F.lit(BLOOM_WORD_BITS)).cast("int")
            == F.col(f"_bw{i}"),
            "left",
        )
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(_bp{i} % {BLOOM_WORD_BITS} AS INT))"
        )
        hit = hit & (F.coalesce(F.col(f"_bb{i}"), F.lit(0)).bitwiseAND(mask) != 0)
    drop = [c for i in range(n_hashes) for c in (f"_bw{i}", f"_bb{i}", f"_bp{i}")]
    return out.withColumn(out_col, hit).drop(*drop)


def decontaminate_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    ngram: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 1 << 20,
    n_hashes: int = 2,
    exact_verify: bool = True,
) -> DataFrame:
    """Benchmark decontamination with a Bloom prefilter: build the filter
    over the benchmark's n-grams (state = n_bits regardless of benchmark
    size — the scale win over ``curation.decontaminate``'s exact-set
    broadcast, which is O(|benchmark grams|)), flag corpus grams through
    it (zero false negatives), and — when ``exact_verify`` — confirm the
    survivors with an equality join against the true gram set, which by
    then is a tiny fraction of the corpus.

    With ``exact_verify`` the output equals ``curation.decontaminate``
    exactly — ``(doc_id, n_shared_grams)`` for flagged documents —
    pinned by ``test_decontaminate_bloom_matches_exact``.
    """
    from record_linkage_spark.operators.curation import _grams

    cg = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_grams(F.col(text_col), ngram)).alias("g"),
    )
    bg = benchmark.select(
        F.explode(_grams(F.col(text_col), ngram)).alias("g")
    ).distinct()
    filt = bloom_build(bg, "g", n_bits=n_bits, n_hashes=n_hashes)
    flagged = bloom_member_flags(
        cg, "g", filt, n_bits=n_bits, n_hashes=n_hashes, out_col="_hit"
    ).filter(F.col("_hit"))
    if exact_verify:
        flagged = flagged.join(bg, "g", "left_semi")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_grams")
    )


# --------------------------------------------------------------------------
# HDR-style quantile histogram (Gray & Tene's HdrHistogram bucketing):
# the quantile member of the mergeable-sketch family (HLL = distinct,
# CMS = frequency, Misra-Gries = heavy hitters, Bloom = membership).
# Unlike approx_percentile's opaque internal sketch, the state here IS a
# DataFrame — (group..., bucket, n) — so epochs/streams merge by a plain
# summed union and the DuckDB oracle can replay every step with integer
# arithmetic. Bucketing is pure bit math (length(bin(v)) + shifts, the
# same no-float discipline as the HLL rho), giving relative value error
# <= 2^-precision with at most (64 - precision) * 2^precision buckets
# per group regardless of data volume.
# --------------------------------------------------------------------------


def _hist_bucket(col_name: str, precision: int) -> Column:
    """HDR bucket index for a non-negative BIGINT column: values below
    2^(precision+1) map to themselves (exact region); above, the top
    ``precision + 1`` significant bits with the scale folded in:
    ``shift * 2^p + (v >> shift)`` where ``shift = bitlen(v) - 1 - p``.
    Monotone in v, so bucket order == value order. SQL-expr-based
    because pyspark's ``F.shiftright`` only takes literal shifts."""
    p = precision
    sh = f"greatest(length(bin({col_name})) - {1 + p}, 0)"
    return F.expr(
        f"CAST({sh} AS BIGINT) * {1 << p} + shiftright({col_name}, {sh})"
    ).alias("bucket")


def _hist_lower(col_name: str, precision: int) -> Column:
    """Exact lower bound of a bucket's value range (integer math over
    the named bucket column)."""
    p = precision
    sh = f"greatest(CAST(shiftright({col_name}, {p}) AS INT) - 1, 0)"
    return F.expr(
        f"shiftleft({col_name} - CAST({sh} AS BIGINT) * {1 << p}, {sh})"
    )


def int_histogram(
    df: DataFrame,
    value_col: str | Column,
    group_cols: Sequence[str] = (),
    precision: int = 7,
) -> DataFrame:
    """Mergeable quantile-histogram state ``(group..., bucket long,
    n long)`` over a non-negative integer metric (token counts, ms
    latencies, byte sizes — cast fractional metrics to a fixed-point
    integer first). One map-side-combined groupBy; null and negative
    values are dropped (they have no place on the value axis). At most
    ``(64 - precision) * 2^precision`` buckets exist per group, so the
    state is a constructor constant regardless of row count."""
    if not 1 <= precision <= 14:
        raise ValueError(f"precision must be in [1, 14], got {precision}")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    v = v.cast("long")
    gb = [F.col(c) for c in group_cols]
    return (
        df.select(*gb, v.alias("_v"))
        .filter(F.col("_v").isNotNull() & (F.col("_v") >= 0))
        .select(*gb, _hist_bucket("_v", precision))
        .groupBy(*gb, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_merge(
    tables: Iterable[DataFrame], group_cols: Sequence[str] = ()
) -> DataFrame:
    """Merge histogram states (one per epoch/stream/partition of the
    corpus): union + per-bucket sum. ``histogram_merge([hist(A),
    hist(B)]) == hist(A union B)`` exactly."""
    tabs = list(tables)
    out = tabs[0]
    for t in tabs[1:]:
        out = out.unionByName(t)
    gb = [F.col(c) for c in group_cols]
    return out.groupBy(*gb, "bucket").agg(F.sum("n").alias("n"))


def histogram_quantiles(
    hist: DataFrame,
    qs: Sequence[float],
    group_cols: Sequence[str] = (),
    precision: int = 7,
) -> DataFrame:
    """Quantile readout from a histogram state: per group and per
    ``q``, the lower bound of the first bucket whose cumulative count
    reaches ``ceil(q * N)`` — a deterministic lower-bound estimate
    within ``2^-precision`` relative error of the true q-quantile
    (exact in the sub-2^(precision+1) region).

    One window cumsum over the <= bucket-bound state plus an equality
    join against the exploded q list — nothing here touches the
    original data, so readout cost is independent of corpus size.
    """
    from pyspark.sql import Window

    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    gb = [F.col(c) for c in group_cols]
    w = (
        Window.partitionBy(*gb).orderBy("bucket")
        if group_cols
        else Window.partitionBy(F.lit(1)).orderBy("bucket")
    )
    cum = hist.select(
        *gb, "bucket", F.sum("n").over(w).alias("cum"),
        F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("total"),
    )
    qcol = F.explode(
        F.array(*[F.lit(float(q)) for q in qs])
    ).alias("q")
    hit = cum.select(*gb, "bucket", "cum", "total", qcol).filter(
        F.col("cum") >= F.ceil(F.col("q") * F.col("total"))
    )
    first = hit.groupBy(*gb, "q").agg(F.min("bucket").alias("bucket"))
    return first.select(
        *gb, "q", _hist_lower("bucket", precision).alias("v_est")
    )


# --------------------------------------------------------------------------
# KMV / theta sketch: distinct counts UNDER SET OPERATIONS
# --------------------------------------------------------------------------
# The gap the other sketches leave: HLL unions losslessly but cannot
# intersect (inclusion-exclusion error explodes for small overlaps), and
# Bloom answers membership, not cardinality. The k-minimum-values sketch
# (Beyer et al. SIGMOD'07; the theta-sketch framing of Dasgupta et al.
# 2016) keeps the k smallest distinct hash values; because the k-min of
# A ∪ B is contained in (k-min of A) ∪ (k-min of B), union composes
# exactly, and the union sketch doubles as a uniform sample of A ∪ B —
# so |A ∩ B| / |A ∪ B| is estimated by the fraction of union-sketch
# values present in both sides (the corpus-overlap / cross-corpus
# contamination question dedup planning actually asks).

KMV_HASH_SPACE = float(1 << HASH_BITS)  # 2^60, exactly representable


def kmv_sketch(
    df: DataFrame,
    value_col: str,
    k: int = 256,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """The k smallest DISTINCT portable hash values per group:
    ``(group..., h)`` rows, <= k per group.

    Bounded state end to end: a per-partition mapInPandas pass keeps at
    most k distinct hashes per (partition, group) — the heavy_hitters
    discipline — so the shuffle carries <= k x partitions x groups rows
    no matter how many distinct values the data holds; the final k-min
    is a window over that bounded union. Hashes are ``md5_60`` so the
    SQL oracle replays every retained value bit-for-bit (chk='kmv').

    Group columns are coerced to STRING in the output (the bounded-state
    pandas pass carries them through a fixed string schema); join the
    sketch back to typed dimensions via an explicit cast.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    gcols = list(group_cols)
    hashed = df.filter(F.col(value_col).isNotNull()).select(
        *gcols, md5_60(F.col(value_col).cast("string")).alias("h")
    )
    schema = ", ".join(
        [f"`{g}` string" for g in gcols] + ["h long"]
    )
    cast_g = hashed.select(
        *[F.col(g).cast("string").alias(g) for g in gcols], "h"
    )

    def kmin_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: pd.DataFrame | None = None
        for pdf in batches:
            cur = pdf if acc is None else pd.concat([acc, pdf])
            cur = cur.drop_duplicates()
            if gcols:
                acc = (
                    cur.sort_values([*gcols, "h"], kind="mergesort")
                    .groupby(gcols, sort=False)
                    .head(k)
                )
            else:
                acc = cur.nsmallest(k, "h")
        if acc is not None and len(acc):
            yield acc

    summaries = cast_g.mapInPandas(kmin_partition, schema=schema).distinct()
    w = (
        Window.partitionBy(*gcols).orderBy("h")
        if gcols
        else Window.partitionBy(F.lit(1)).orderBy("h")
    )
    return (
        summaries.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def kmv_merge(
    sketches: Iterable[DataFrame], k: int, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Union + distinct + re-k-min == the sketch of the union (exact
    mergeability — the k smallest of A ∪ B all appear in one side's
    sketch). Epoch / streaming composition like the other sketches."""
    it = iter(sketches)
    out = next(it)
    for s in it:
        out = out.unionByName(s)
    gcols = list(group_cols)
    w = (
        Window.partitionBy(*gcols).orderBy("h")
        if gcols
        else Window.partitionBy(F.lit(1)).orderBy("h")
    )
    return (
        out.distinct()
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def kmv_estimate(
    sketch: DataFrame, k: int, group_cols: Sequence[str] = ()
) -> DataFrame:
    """(group..., n_vals, est_distinct): exact when the sketch holds
    fewer than k values (every distinct value was seen), else the
    unbiased KMV estimator (k-1)/theta with theta = max(h)/2^60."""
    gcols = list(group_cols)
    agg = sketch.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_vals"), F.max("h").alias("_hmax")
    )
    theta = F.col("_hmax").cast("double") / F.lit(KMV_HASH_SPACE)
    est = F.when(
        F.col("n_vals") < k, F.col("n_vals").cast("double")
    ).otherwise(F.lit(float(k - 1)) / theta)
    return agg.select(*gcols, "n_vals", F.round(est, 6).alias("est_distinct"))


def kmv_set_report(a: DataFrame, b: DataFrame, k: int) -> DataFrame:
    """One row of set-operation estimates from two ungrouped sketches:
    ``(est_a, est_b, est_union, rho, jaccard_est, est_intersection)``.

    The union sketch is a k-element uniform sample of A ∪ B, so
    ``rho`` — how many of its values lie in BOTH input sketches — gives
    ``jaccard_est = rho / |union sketch|`` and
    ``est_intersection = jaccard_est * est_union`` (Beyer et al. 2007).
    Every frame here is <= k rows; the joins are semi-joins between
    sketches, never against data.
    """
    u = kmv_merge([a, b], k).localCheckpoint()
    in_both = (
        u.join(a.select(F.col("h")), "h", "left_semi")
        .join(b.select(F.col("h")), "h", "left_semi")
    )
    ests = (
        kmv_estimate(a, k).select(F.col("est_distinct").alias("est_a"))
        .crossJoin(kmv_estimate(b, k).select(F.col("est_distinct").alias("est_b")))
        .crossJoin(
            kmv_estimate(u, k).select(F.col("est_distinct").alias("est_union"))
        )
        .crossJoin(u.agg(F.count(F.lit(1)).alias("_nu")))
        .crossJoin(in_both.agg(F.count(F.lit(1)).alias("rho")))
    )
    jac = F.col("rho").cast("double") / F.col("_nu")
    return ests.select(
        "est_a",
        "est_b",
        "est_union",
        "rho",
        F.round(jac, 6).alias("jaccard_est"),
        F.round(jac * F.col("est_union"), 6).alias("est_intersection"),
    )
