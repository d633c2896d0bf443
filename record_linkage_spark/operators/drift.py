"""Corpus snapshot drift detection: PSI / Jensen-Shannon / total-variation
reports between two corpus snapshots (e.g. last month's crawl vs this
month's, pre- vs post-curation, raw vs resampled).

Why drift is first-class in a 100 TB training-data engine: every
upstream change — a crawler config push, a new dedup threshold, a
domain-mixture reweighting — shifts the corpus distribution, and the
cheapest place to catch an unintended shift is a bounded per-feature
histogram diff, not a model retrain. The operators here reduce each
snapshot to ``features x bins`` rows in ONE scan, so the comparison
cost is independent of corpus size and the report is mergeable across
epochs (counts are plain sums).

Scale shape:

- ``snapshot_fractions`` makes a single pass over the snapshot: one
  ``select`` builds an array of (feature, bin) structs per row, one
  ``explode`` + ``groupBy(feature, bin)`` count with map-side combine,
  so the shuffle carries at most ``features x bins`` rows per input
  partition regardless of data volume. No skew: bin cardinality is
  bounded by the spec, never by the data.
- ``drift_report`` joins two such O(features x bins) frames — a
  metadata-sized full-outer join; at 100 TB both sides are still a few
  hundred rows.
- Per-feature totals come from a window over the bin counts
  (partitioned by feature, <= bins rows each), not a second data scan.

Determinism / oracle parity: bins are CASE-expressible integer
comparisons, fractions are single divisions, and the PSI / JSD / TV
terms use ``greatest(frac, eps)`` clamps and ``0 * ln(0/m) = 0``
conventions that DuckDB replays exactly; outputs are rounded to 6 dp so
last-ulp libm differences between the JVM and DuckDB cannot flip the
hash (``__spark_entry__`` folds ``chk='drift'`` / ``'drift_bin'``).

References (public): the PSI as used in credit-scoring population
monitoring (Siddiqi, "Credit Risk Scorecards", 2006); Lin, "Divergence
measures based on the Shannon entropy" (IEEE Trans. IT 1991) for the
Jensen-Shannon divergence and its ln(2) bound. Reference-repo parity:
the reference computes static corpus stats once
(``/root/reference/src/features/build_features.py``); this module
extends that surface to snapshot-pair comparison, which the reference
does not have.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Clamp for PSI's log ratio on empty bins. 1e-6 is far below any frac
# the 6-dp rounding can distinguish, and both engines evaluate the same
# greatest(frac, 1e-6) expression, so the clamp is oracle-exact.
PSI_EPS = 1e-6


@dataclass(frozen=True)
class HistSpec:
    """Numeric feature bucketed by fixed breakpoints.

    ``breaks`` are the inner breakpoints (sorted ascending); values land
    in ``len(breaks) + 1`` bins labeled ``b0..b{len(breaks)}`` where bin
    ``i`` holds ``breaks[i-1] <= v < breaks[i]``. Fixed breaks (not
    per-snapshot quantiles) are deliberate: both snapshots MUST share
    the bin grid or the diff measures the grid, not the data.
    """

    feature: str
    col: str
    breaks: Sequence[float]


@dataclass(frozen=True)
class CatSpec:
    """Categorical feature with an explicit category whitelist; values
    outside ``categories`` (and nulls) fold into ``__other__`` so the
    bin set is closed and identical across snapshots."""

    feature: str
    col: str
    categories: Sequence[str]


Spec = Union[HistSpec, CatSpec]


def _bin_expr(spec: Spec) -> Column:
    if isinstance(spec, HistSpec):
        v = F.col(spec.col).cast("double")
        expr = F.lit(f"b{len(spec.breaks)}")
        # first break strictly above v wins; walk top-down so the
        # lowest matching CASE arm is the one that sticks
        for i in range(len(spec.breaks) - 1, -1, -1):
            expr = F.when(v < F.lit(float(spec.breaks[i])), f"b{i}").otherwise(expr)
        return F.when(v.isNotNull(), expr)
    cat = F.col(spec.col).cast("string")
    return F.when(cat.isin(*[str(c) for c in spec.categories]), cat).otherwise(
        F.lit("__other__")
    )


def snapshot_fractions(df: DataFrame, specs: Sequence[Spec]) -> DataFrame:
    """(feature, bin, n, frac) for every spec in ONE scan of ``df``.

    Nulls are dropped per-feature for :class:`HistSpec` (a missing
    numeric is a data-quality signal the missing-% check already owns,
    not a histogram bin) and folded into ``__other__`` for
    :class:`CatSpec`. ``frac`` divides by that feature's own retained
    total, so features with different null rates stay comparable.
    """
    if not specs:
        raise ValueError("at least one drift spec is required")
    pairs = F.array(
        *[
            F.struct(
                F.lit(s.feature).alias("feature"), _bin_expr(s).alias("bin")
            )
            for s in specs
        ]
    )
    counts = (
        df.select(F.explode(pairs).alias("p"))
        .select("p.feature", "p.bin")
        .filter(F.col("bin").isNotNull())
        .groupBy("feature", "bin")
        .agg(F.count("*").alias("n"))
    )
    tot = Window.partitionBy("feature")
    return counts.withColumn(
        "frac", F.col("n") / F.sum("n").over(tot)
    )


def _divergence_terms(pa: Column, pb: Column) -> tuple[Column, Column, Column]:
    """(psi_term, jsd_term, tv_term) for one bin — the oracle-pinned
    conventions (eps clamp for PSI; 0*ln(0/m)=0 for JSD, Lin 1991)
    shared by :func:`drift_report` and :func:`histogram_drift` so the
    two entry points cannot desynchronize."""
    pa_c = F.greatest(pa, F.lit(PSI_EPS))
    pb_c = F.greatest(pb, F.lit(PSI_EPS))
    m = (pa + pb) / F.lit(2.0)
    jsd = (
        F.when(pa > 0, pa * F.log(pa / m)).otherwise(F.lit(0.0)) / 2.0
        + F.when(pb > 0, pb * F.log(pb / m)).otherwise(F.lit(0.0)) / 2.0
    )
    return (pa_c - pb_c) * F.log(pa_c / pb_c), jsd, F.abs(pa - pb) / 2.0


def _scalar_aggs() -> list[Column]:
    return [
        F.round(F.sum("psi_term"), 6).alias("psi"),
        F.round(F.sum("jsd_term"), 6).alias("jsd"),
        F.round(F.sum("tv_term"), 6).alias("tv"),
        F.count("*").alias("n_bins"),
    ]


def drift_report(
    a: DataFrame, b: DataFrame, specs: Sequence[Spec]
) -> DataFrame:
    """Per-bin drift rows between snapshots ``a`` (baseline) and ``b``.

    Returns (feature, bin, n_a, n_b, frac_a, frac_b, psi_term,
    jsd_term, tv_term). Bins absent from one snapshot appear with
    n=0 / frac=0 on that side — the full-outer join on (feature, bin)
    is over two ``features x bins``-row frames, never over data.
    """
    fa = snapshot_fractions(a, specs).select(
        "feature", "bin", F.col("n").alias("n_a"), F.col("frac").alias("frac_a")
    )
    fb = snapshot_fractions(b, specs).select(
        "feature", "bin", F.col("n").alias("n_b"), F.col("frac").alias("frac_b")
    )
    j = (
        fa.join(fb, ["feature", "bin"], "full_outer")
        .fillna({"n_a": 0, "n_b": 0, "frac_a": 0.0, "frac_b": 0.0})
    )
    pa, pb = F.col("frac_a"), F.col("frac_b")
    # rows where both sides are 0 never exist after the join, so every
    # JSD mix m is positive where it is used
    psi_t, jsd_t, tv_t = _divergence_terms(pa, pb)
    return j.select(
        "feature",
        "bin",
        "n_a",
        "n_b",
        F.round(pa, 6).alias("frac_a"),
        F.round(pb, 6).alias("frac_b"),
        psi_t.alias("psi_term"),
        jsd_t.alias("jsd_term"),
        tv_t.alias("tv_term"),
    )


def drift_scalars(report: DataFrame) -> DataFrame:
    """Per-feature scalars from a :func:`drift_report` frame:
    (feature, psi, jsd, tv, n_bins).

    - ``psi`` — population stability index; the classic monitoring
      rule-of-thumb reads < 0.1 stable, 0.1-0.25 moderate, > 0.25
      action.
    - ``jsd`` — Jensen-Shannon divergence, nats, bounded by ln 2.
    - ``tv`` — total-variation distance in [0, 1].
    """
    return (
        report.groupBy("feature")
        .agg(*_scalar_aggs())
    )


def corpus_drift(
    a: DataFrame,
    b: DataFrame,
    length_breaks: Sequence[float] = (50, 100, 200, 400, 800),
    langs: Sequence[str] = ("en", "de", "fr"),
) -> DataFrame:
    """Convenience: the standard document-corpus drift report over
    length (``n_chars``) and language — per-feature scalars."""
    specs: list[Spec] = [
        HistSpec("n_chars", "n_chars", tuple(length_breaks)),
        CatSpec("lang", "lang", tuple(langs)),
    ]
    return drift_scalars(drift_report(a, b, specs))


def histogram_drift(
    a: DataFrame, b: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Per-group PSI / JSD / TV directly from two mergeable histogram
    states (``sketches.int_histogram`` frames: ``(group..., bucket,
    n)``) — the drift report WITHOUT rescanning any data: comparing two
    persisted histogram states costs a join of two bucket-bound frames.
    Returns ``(group..., psi, jsd, tv, n_bins)`` with the same
    conventions as :func:`drift_scalars`."""
    gcols = list(group_cols)
    wa = Window.partitionBy(*gcols) if gcols else Window.partitionBy(F.lit(1))
    fa = a.select(
        *gcols, "bucket",
        (F.col("n") / F.sum("n").over(wa)).alias("frac_a"),
    )
    fb = b.select(
        *gcols, "bucket",
        (F.col("n") / F.sum("n").over(wa)).alias("frac_b"),
    )
    j = fa.join(fb, [*gcols, "bucket"], "full_outer").fillna(
        {"frac_a": 0.0, "frac_b": 0.0}
    )
    psi_t, jsd_t, tv_t = _divergence_terms(F.col("frac_a"), F.col("frac_b"))
    terms = j.select(
        *gcols,
        psi_t.alias("psi_term"),
        jsd_t.alias("jsd_term"),
        tv_t.alias("tv_term"),
    )
    return terms.groupBy(*gcols).agg(*_scalar_aggs())
