"""fastText-style document quality classifier: hashed bag-of-ngrams +
a linear model, trained and scored entirely as DataFrames.

This is the model-based stage of an LLM data-curation funnel (the
GPT-3 paper, Brown et al. 2020 §A, trains exactly this shape — a linear
classifier over hashed n-gram features with curated text as positives
and raw crawl as negatives; fastText itself is Joulin et al., "Bag of
Tricks for Efficient Text Classification", EACL 2017). It complements
rule filters (C4/Gopher-style cascades): rules encode fixed
heuristics, the classifier DISTILLS any labeled signal — including
those same rules' verdicts — into a soft score that ranks the gray
zone the rules can't.

Design, all Spark-first:

- **Features** (:func:`hashed_ngram_features`): unigram + bigram counts
  through the hashing trick into a fixed ``dim`` — the feature space is
  a constant chosen up front, independent of corpus vocabulary (the
  same never-O(distinct) discipline as ``operators/sketches.py``). The
  hash is the portable ``md5_60``, so features — and therefore NB
  training and scoring — are value-reproducible by the DuckDB oracle
  (chk='ftq' fold in ``__spark_entry__``).
- **Closed-form trainer** (:func:`nb_quality_weights`): multinomial
  Naive Bayes log-odds weights with Laplace smoothing — the NBSVM
  observation (Wang & Manning, ACL 2012) that NB log-count ratios ARE a
  strong linear text classifier. One groupBy over (label, feat); fully
  SQL-expressible, hence oracle-checked end to end.
- **Iterative trainer** (:func:`train_quality_lr`): logistic regression
  by full-batch gradient descent where the WEIGHTS ARE A DATAFRAME of
  ``<= dim + 1`` rows — each iteration is two hash joins and two
  groupBys, the driver holds only hyperparameters. No single machine
  ever sees the corpus or a dense gradient; at 100 TB the per-iteration
  cost is one shuffle of the (doc, feat) table, and ``dim`` bounds the
  weight state exactly like a parameter server would.
- **Scoring** (:func:`score_quality`): join + sum + sigmoid, pure
  codegen arithmetic after one shuffle on doc id; the weight table
  broadcasts when small (size-gated like every dim-table join in this
  repo).

Reference-repo parity: the reference's model surface is pairwise LR on
comparison vectors (``/root/reference/src/matching/logreg.py``); this
module is the corpus-curation analogue the reference lacks — same
linear-model math, features from text instead of record pairs.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from record_linkage_spark.operators.dedup import md5_60

INTERCEPT_FEAT = -1  # the bias rides the weight table as feature -1, x = 1

# Weight tables at or below this estimated size broadcast in
# score_quality; above it the join falls back to shuffle hash.
WEIGHTS_BROADCAST_MAX_BYTES = 64 << 20


def _grams(text: Column, use_bigrams: bool) -> Column:
    toks = F.filter(
        F.split(F.lower(F.trim(text)), r"\s+"), lambda x: x != ""
    )
    if not use_bigrams:
        return toks
    # bigrams via zip_with over the array and its tail — stays codegen
    tail = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    bi = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        tail,
        lambda a, b: F.concat(a, F.lit("\x02"), b),
    )
    return F.concat(toks, bi)


def hashed_ngram_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 1 << 15,
    use_bigrams: bool = True,
    add_intercept: bool = True,
) -> DataFrame:
    """Sparse hashed features ``(id, feat int, x double)``.

    ``x`` is the L1-normalized term frequency (count / total grams in
    the doc) — fastText's mean-of-embeddings input is exactly this
    weighting of a linear layer. ``feat = md5_60(gram) % dim``; with
    ``add_intercept`` every doc also carries ``(INTERCEPT_FEAT, 1.0)``
    so trainers need no special bias handling.

    One explode + one (id, feat) groupBy; partial aggregation collapses
    repeated grams map-side. Docs with no grams still emit their
    intercept row (score = sigmoid(bias), never a dropped doc).
    """
    g = docs.select(
        F.col(id_col).alias("id"),
        F.explode_outer(_grams(F.col(text_col), use_bigrams)).alias("_g"),
    )
    counted = (
        g.filter(F.col("_g").isNotNull())
        .select("id", F.pmod(md5_60(F.col("_g")), F.lit(dim)).cast("int").alias("feat"))
        .groupBy("id", "feat")
        .agg(F.count(F.lit(1)).cast("double").alias("_c"))
    )
    totals = counted.groupBy("id").agg(F.sum("_c").alias("_n"))
    feats = counted.join(totals, "id").select(
        "id", "feat", (F.col("_c") / F.col("_n")).alias("x")
    )
    if not add_intercept:
        return feats
    icpt = docs.select(
        F.col(id_col).alias("id"),
        F.lit(INTERCEPT_FEAT).cast("int").alias("feat"),
        F.lit(1.0).alias("x"),
    )
    return feats.unionByName(icpt)


def nb_quality_weights(
    feats: DataFrame,
    labels: DataFrame,
    dim: int = 1 << 15,
    smoothing: float = 1.0,
) -> DataFrame:
    """Closed-form NB log-odds weight table ``(feat int, w double)``.

    ``labels`` is ``(id, y)`` with y in {0, 1}. For each feature,
    ``w = log((pos_mass + a) / (pos_total + a*dim))
        - log((neg_mass + a) / (neg_total + a*dim))``
    over the L1-normalized masses; the intercept row (feat = -1) gets
    the class prior log-odds ``log((n_pos + a) / (n_neg + a))``.

    One join + one groupBy + a 1-row class-total attach: every term is
    a sum, so the DuckDB twin replays it exactly — this is the trainer
    the window fold value-checks.
    """
    j = feats.filter(F.col("feat") != INTERCEPT_FEAT).join(
        labels.select(F.col("id"), F.col("y").cast("int").alias("y")), "id"
    )
    per_feat = j.groupBy("feat").agg(
        F.sum(F.when(F.col("y") == 1, F.col("x")).otherwise(0.0)).alias("pm"),
        F.sum(F.when(F.col("y") == 0, F.col("x")).otherwise(0.0)).alias("nm"),
    )
    tot = labels.agg(
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).cast("double").alias("_np"),
        F.sum(F.when(F.col("y") == 0, 1).otherwise(0)).cast("double").alias("_nn"),
    )
    # L1-normalized features sum to 1 per doc, so class mass totals are
    # the class doc counts — the 1-row attach carries both.
    a = float(smoothing)
    w = (
        F.log((F.col("pm") + a) / (F.col("_np") + a * dim))
        - F.log((F.col("nm") + a) / (F.col("_nn") + a * dim))
    )
    weights = per_feat.crossJoin(F.broadcast(tot)).select(
        "feat", w.alias("w")
    )
    icpt = tot.select(
        F.lit(INTERCEPT_FEAT).cast("int").alias("feat"),
        F.log((F.col("_np") + a) / (F.col("_nn") + a)).alias("w"),
    )
    return weights.unionByName(icpt)


def score_quality(
    feats: DataFrame,
    weights: DataFrame,
    out_col: str = "p_good",
) -> DataFrame:
    """Linear score per doc: ``(id, margin double, p_good double)``.

    One join feats-x-weights (weight side broadcast when its estimated
    size is under ``WEIGHTS_BROADCAST_MAX_BYTES`` — 16 bytes/row, so a
    2^22-dim model still broadcasts; bigger models shuffle-hash), one
    groupBy(id) sum, sigmoid in codegen. Features whose weight is
    absent (never seen in training) contribute 0.
    """
    n_w = weights.count()
    w = weights.select(F.col("feat").alias("_wf"), F.col("w").alias("_w"))
    if n_w * 16 <= WEIGHTS_BROADCAST_MAX_BYTES:
        w = F.broadcast(w)
    else:
        w = w.hint("SHUFFLE_HASH")
    margins = (
        feats.join(w, feats["feat"] == F.col("_wf"), "left")
        .groupBy("id")
        .agg(F.sum(F.col("x") * F.coalesce(F.col("_w"), F.lit(0.0))).alias("margin"))
    )
    return margins.withColumn(out_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))))


def train_quality_lr(
    feats: DataFrame,
    labels: DataFrame,
    n_iter: int = 8,
    lr: float = 2.0,
    l2: float = 1e-4,
    init_weights: DataFrame | None = None,
) -> DataFrame:
    """Full-batch logistic-regression GD with DataFrame weights.

    Per iteration (all lazy until the per-iteration localCheckpoint):

    1. margins: feats join weights (left), groupBy(id) sum
    2. residuals: sigmoid(margin) - y after a labels join
    3. gradient: feats join residuals, groupBy(feat) sum(r*x)/n + l2*w
    4. update: weights FULL OUTER gradient, ``w - lr*g``

    The driver never holds weights or gradients — both stay DataFrames
    of <= dim+1 rows; ``n`` (label count) is the only collected scalar.
    Each iteration's weight table is localCheckpoint-ed: the lineage
    stays O(1) deep instead of O(n_iter), the same per-round discipline
    as ``clustering.connected_components``.

    Warm start via ``init_weights`` — seeding with
    :func:`nb_quality_weights` (NBSVM-style) typically converges in
    2-3 iterations (the shape the tests pin).
    """
    n = labels.count()
    lab = labels.select("id", F.col("y").cast("double").alias("y"))
    weights = (
        init_weights
        if init_weights is not None
        else feats.select("feat").distinct().select(
            "feat", F.lit(0.0).alias("w")
        )
    ).localCheckpoint()
    for _ in range(n_iter):
        w = F.broadcast(weights.select(F.col("feat").alias("_wf"), F.col("w").alias("_w")))
        margins = (
            feats.join(w, feats["feat"] == F.col("_wf"), "left")
            .groupBy("id")
            .agg(F.sum(F.col("x") * F.coalesce("_w", F.lit(0.0))).alias("m"))
        )
        resid = margins.join(lab, "id").select(
            "id",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))) - F.col("y")).alias("r"),
        )
        grad = (
            feats.join(resid, "id")
            .groupBy("feat")
            .agg((F.sum(F.col("r") * F.col("x")) / F.lit(float(n))).alias("g"))
        )
        weights = (
            weights.join(grad, "feat", "full_outer")
            .select(
                "feat",
                (
                    F.coalesce("w", F.lit(0.0))
                    - F.lit(lr)
                    * (
                        F.coalesce("g", F.lit(0.0))
                        + F.lit(l2) * F.coalesce("w", F.lit(0.0))
                    )
                ).alias("w"),
            )
            .localCheckpoint()
        )
    return weights


def pareto_sample_column(
    p_good: Column,
    seed_col: Column,
    alpha: float = 9.0,
) -> Column:
    """GPT-3's acceptance rule for classifier-filtered crawl: keep a
    document when ``alpha * random^(1/alpha)`s Pareto draw exceeds
    ``1 - p_good`` — low-quality docs survive occasionally, so the kept
    corpus is not a hard cliff at the threshold (Brown et al. 2020,
    §A). The "random" here is the usual deterministic hash-uniform
    (``seed_col`` -> [0, 1)), keeping the sample reproducible and
    oracle-replayable.

    Returns a boolean keep column: ``1 - p_good < (1 - u)^(-1/alpha) - 1``
    ... simplified to the published form ``score >= 1 - pareto_draw``.
    """
    u = (md5_60(seed_col) % F.lit(1 << 30)).cast("double") / F.lit(float(1 << 30))
    pareto = F.pow(F.lit(1.0) - u, F.lit(-1.0 / alpha)) - F.lit(1.0)
    return (F.lit(1.0) - p_good) < pareto
