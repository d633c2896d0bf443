"""Release-safety checks for linked data: k-anonymity and l-diversity.

Why here: the OUTPUT of a record-linkage pipeline (golden records,
hydrated pair tables, training exports) is exactly the artifact privacy
review gates before release, and the standard gates are Sweeney's
k-anonymity (every quasi-identifier equivalence class has >= k rows —
IJUFKS 2002) and Machanavajjhala et al.'s l-diversity (every class
carries >= l distinct sensitive values — TKDD 2007, the defense against
the homogeneity attack k-anonymity misses). These operators audit what
leaves the pipeline.

Scale shape: each audit is ONE map-side-combined groupBy onto the
equivalence-class table (bounded by the QI domain, not the row count);
enforcement (``suppress_below_k``) is a left-semi join of the corpus
against the qualifying-class keys — the corpus never reshuffles, and
AQE broadcasts the class table when small. Zero Python anywhere; the
whole surface is SQL-replayable (``scalar_checks`` chk='kanon'/'ldiv'
folds in ``__spark_entry__``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _qi(qi_cols: Sequence[str]) -> list:
    if not qi_cols:
        raise ValueError("qi_cols must be non-empty")
    # NULL is a value an attacker can observe, so null QIs form their own
    # class rather than vanishing from the audit
    return [F.coalesce(F.col(c).cast("string"), F.lit("\x00null")).alias(c) for c in qi_cols]


def equivalence_classes(df: DataFrame, qi_cols: Sequence[str]) -> DataFrame:
    """Quasi-identifier equivalence classes: ``(qi..., n long)`` — one
    partial-aggregated groupBy; output bounded by the QI domain."""
    return df.select(*_qi(qi_cols)).groupBy(*qi_cols).agg(
        F.count(F.lit(1)).alias("n")
    )


def k_anonymity_report(df: DataFrame, qi_cols: Sequence[str]) -> DataFrame:
    """1-row release gate: ``(k_min, n_classes, n_records,
    n_singleton_classes)`` — the dataset is k-anonymous for every
    ``k <= k_min``. Singletons are the re-identification worst case."""
    return equivalence_classes(df, qi_cols).agg(
        F.min("n").alias("k_min"),
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("n").alias("n_records"),
        F.sum((F.col("n") == 1).cast("long")).alias("n_singleton_classes"),
    )


def violating_classes(
    df: DataFrame, qi_cols: Sequence[str], k: int
) -> DataFrame:
    """The equivalence classes below the anonymity floor — the review
    artifact naming exactly what must be generalized or suppressed."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return equivalence_classes(df, qi_cols).filter(F.col("n") < k)


def suppress_below_k(
    df: DataFrame, qi_cols: Sequence[str], k: int
) -> DataFrame:
    """Enforcement: drop every row whose class is smaller than ``k``
    (suppression — the conservative fix when generalization isn't
    available). Left-semi join against the qualifying class keys: the
    corpus never reshuffles; schema is preserved exactly."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    ok = equivalence_classes(df, qi_cols).filter(F.col("n") >= k).select(*qi_cols)
    keyed = df.withColumns(
        {f"_qi_{c}": e for c, e in zip(qi_cols, _qi(qi_cols))}
    )
    cond = [F.col(f"_qi_{c}") == ok[c] for c in qi_cols]
    return keyed.join(ok, cond, "left_semi").drop(
        *[f"_qi_{c}" for c in qi_cols]
    )


def l_diversity_report(
    df: DataFrame, qi_cols: Sequence[str], sensitive_col: str
) -> DataFrame:
    """Per-class distinct-sensitive-value counts plus the global floor:
    ``(qi..., n, l)`` rows — the dataset is (distinct) l-diverse for
    every ``l <= min(l)``. Null sensitive values don't count as a
    diverse value (they reveal nothing but protect nothing either)."""
    return (
        df.select(*_qi(qi_cols), F.col(sensitive_col).alias("_s"))
        .groupBy(*qi_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("_s")).alias("l"),
        )
    )
