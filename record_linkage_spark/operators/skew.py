"""Join/shuffle skew diagnosis: turn key-frequency evidence (exact
counts or bounded-state sketch estimates) into an actionable salting
plan BEFORE paying a skewed shuffle.

Why this is first-class at 100 TB: one hot key routes its entire row
mass through one reducer — the stage is as slow as its hottest key, no
matter how many executors exist. Every salted join in this engine
(``operators/blocking.py``'s B1/B2 generators, the bucket self-joins)
already defends against this; what was missing is the PLANNER step: a
cheap report that says *which* keys are hot, *how* hot, and what salt
fan-out flattens them, computed from a counts table — exact at sample
scale, or :func:`~record_linkage_spark.operators.sketches.heavy_hitters`
/ CMS estimates at corpus scale, so diagnosis never costs more than the
sketch.

Operators (all take a ``(key, n)`` counts frame, never raw data):

- :func:`skew_report` — per-key share, the skew factor (hot-key load
  over the ideal per-partition load), and the recommended per-key salt
  ``ceil(n * n_partitions / total)`` that spreads the key to its
  proportional number of reducers (1 for every non-hot key, so the
  plan adds no fan-out where none is needed).
- :func:`skew_scalars` — the one-row gate: total, max share, skew
  factor, how many keys need salt > 1.
- :func:`partition_loads` / :func:`load_imbalance` — simulate hash
  partitioning of the counts (portable ``md5_60 % n`` so the SQL
  oracle replays it; production shuffles use the JVM hash, but the
  imbalance STRUCTURE — which keys collide, how heavy the max bin is —
  is what the report is for) and report max/mean load.

Scale shape: everything here aggregates a counts table whose size is
bounded by the caller (top-N, sketch capacity, or distinct keys at
sample scale) — the data itself is never touched. Oracle parity:
shares and salts are single divisions + ceils over exact integers;
``__spark_entry__`` folds ``chk='skew'``.

References (public): salting/skew-join folklore as documented in the
Spark AQE skew-join design (SPARK-29544) and "how to handle data skew"
engineering literature; the proportional-salt rule is the standard
``ceil(share x parallelism)`` fan-out. Reference-repo parity: the
reference's single-node pandas pipeline has no shuffle to skew; this
extends the engine's own salted-join machinery
(``operators/blocking.py:79``) with the measurement that justifies it.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from record_linkage_spark.functions.text import md5_60


def key_frequencies(
    df: DataFrame, key_cols: Sequence[str], top_n: int | None = None
) -> DataFrame:
    """Exact ``(key, n)`` counts over the concatenated key — the
    sample-scale input to :func:`skew_report` (one map-side-combined
    groupBy; O(distinct keys) shuffle). At corpus scale feed
    ``heavy_hitters(df, key, capacity)`` output instead — rename
    ``est_count`` to ``n`` — and the report costs sketch state only."""
    # coalesce each part to a sentinel BEFORE concat_ws (which silently
    # drops nulls — ("a", NULL) and (NULL, "a") must stay distinct keys)
    key = F.concat_ws(
        "\x1f",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
            for c in key_cols
        ],
    )
    out = df.groupBy(key.alias("key")).agg(F.count(F.lit(1)).alias("n"))
    if top_n is not None:
        out = out.orderBy(F.desc("n"), "key").limit(int(top_n))
    return out


def _proportional_salt(n, tot, n_partitions: int):
    """THE salt-sizing rule (one code path — :func:`skew_report`'s
    recommendation column and the blocking generator's live fan-out both
    call this): ``ceil(share * n_partitions)`` spreads a key across its
    proportional number of reducers, floored at 1 so non-hot keys get no
    fan-out."""
    return F.greatest(
        F.ceil(n / tot * F.lit(float(n_partitions))).cast("long"), F.lit(1)
    )


def salting_plan(
    counts: DataFrame,
    n_partitions: int,
    count_col: str = "n",
    salt_target: int | None = None,
) -> DataFrame:
    """Planner-driven per-key salts joined back by the ORIGINAL key
    columns: the input ``counts`` frame (any key columns + ``count_col``)
    comes back with a ``salt`` column computed by the same proportional
    rule as :func:`skew_report`, optionally combined (``greatest``) with
    a per-group row budget ``ceil(n / salt_target)`` — the
    quadratic-work bound a PAIR GENERATOR needs on top of load
    flattening (a key can be cold by share yet still produce k^2 pairs
    worth splitting). This is the one code path that sizes every salted
    self-join in the engine (``operators/blocking.py:candidate_pairs``).

    Scale shape: one global-window pass over the bounded counts frame
    (see the in-body note — a crossJoin attach would plan as a
    nested-loop join, which the blocking plan audit forbids); the raw
    data is never touched."""
    if n_partitions < 1:
        raise ValueError(f"n_partitions must be >= 1, got {n_partitions}")
    # global-window total, not a crossJoin attach: the blocking
    # generator's plan audit pins zero nested-loop joins, and a
    # single-row broadcast cross product IS a BroadcastNestedLoopJoin
    # (a constant-key equi-join folds back into one). The empty-frame
    # window moves the counts table through ONE partition — fine by
    # this module's contract (counts are bounded by the caller: top-N,
    # sketch capacity, or a finite key space), and it keeps the plan
    # fully lazy.
    from pyspark.sql import Window

    tot = F.sum(F.col(count_col).cast("double")).over(
        Window.partitionBy()
    )
    n = F.col(count_col).cast("double")
    salt = _proportional_salt(n, tot, n_partitions)
    if salt_target:
        salt = F.greatest(
            salt, F.ceil(n / F.lit(float(salt_target))).cast("long")
        )
    return counts.withColumn("salt", salt.cast("int"))


def skew_report(
    counts: DataFrame,
    n_partitions: int,
    key_col: str = "key",
    count_col: str = "n",
) -> DataFrame:
    """Per-key skew rows: ``(key, n, share, skew_factor, salt)``.

    ``skew_factor = n / (total / n_partitions)`` — how many ideal
    partition-loads this single key carries; ``salt = ceil(share *
    n_partitions)`` — the fan-out that spreads the key across its
    proportional number of reducers. Keys at or below the ideal load
    get salt 1 (no fan-out added where none is needed).
    """
    if n_partitions < 1:
        raise ValueError(f"n_partitions must be >= 1, got {n_partitions}")
    tot = counts.agg(F.sum(count_col).cast("double").alias("_tot"))
    n = F.col(count_col).cast("double")
    share = n / F.col("_tot")
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col(key_col).alias("key"),
        F.col(count_col).cast("long").alias("n"),
        F.round(share, 6).alias("share"),
        F.round(n / (F.col("_tot") / F.lit(float(n_partitions))), 6).alias(
            "skew_factor"
        ),
        _proportional_salt(n, F.col("_tot"), n_partitions).alias("salt"),
    )


def skew_scalars(report: DataFrame) -> DataFrame:
    """The one-row gate over a :func:`skew_report` frame: ``(total,
    n_keys, max_share, max_skew_factor, n_hot_keys)`` where a hot key
    is any key whose recommended salt exceeds 1. A plan with
    ``max_skew_factor`` near 1 hashes flat; one with 20 means the
    hottest key alone fills 20 ideal partitions — salt it or AQE will
    split it late, after the map side already materialized the skew."""
    return report.agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("share").alias("max_share"),
        F.max("skew_factor").alias("max_skew_factor"),
        F.sum(F.when(F.col("salt") > 1, 1).otherwise(0)).alias("n_hot_keys"),
    )


def partition_loads(
    counts: DataFrame,
    n_partitions: int,
    key_col: str = "key",
    count_col: str = "n",
) -> DataFrame:
    """Simulated per-partition loads under hash partitioning of the
    counts: ``(part, load)``. Uses the portable ``md5_60 % n`` hash so
    the SQL oracle replays the exact assignment; the JVM shuffle hash
    differs in *which* partition a key lands in, not in the collision
    structure the report diagnoses."""
    if n_partitions < 1:
        raise ValueError(f"n_partitions must be >= 1, got {n_partitions}")
    part = F.pmod(md5_60(F.col(key_col)), F.lit(n_partitions))
    return (
        counts.groupBy(part.alias("part"))
        .agg(F.sum(count_col).cast("long").alias("load"))
    )


def load_imbalance(loads: DataFrame) -> DataFrame:
    """One row: ``(n_parts, max_load, mean_load, imbalance)`` with
    ``imbalance = max/mean`` — 1.0 is perfectly flat; the stage's
    wall-clock multiplier under this layout."""
    return loads.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.max("load").alias("max_load"),
        F.round(F.avg("load"), 6).alias("mean_load"),
        F.round(
            F.max("load").cast("double") / F.avg("load"), 6
        ).alias("imbalance"),
    )
