"""Multi-strategy x multi-model evaluation report (the E3 analogue).

The reference's final step emits one report row per (blocking strategy x
matcher) — {B1, B2} x {Logistic Regression, Dedupe, Ditto}
(``src/evaluation/compare.py:155-197``). This module reproduces that
surface with the engine's three matcher roles:

  ``lr``         — Fellegi-Sunter comparison vector + codegen LR
                   (M1/M3, ``operators/features.py`` + ``classifier.py``)
  ``dedupe``     — affine-gap/categorical/log-ratio field vector + LR
                   (M4 analogue, ``operators/features.add_dedupe_features``)
  ``textmodel``  — serialize-pair -> mapInPandas batch scorer with
                   broadcast weights (M5 harness analogue,
                   ``operators/batch_scorer``)

Semantics mirror the reference exactly: each matcher is trained once on
the GT train split (reference steps 6-9 train each model up front), the
decision threshold is tuned on the val split, and each blocking strategy
is applied as the *filter form* over the hydrated GT test pairs
(reference evaluates blocking on the labeled test set,
``generate.py:99-106``). Global metrics overlay candidate predictions
onto ALL GT test pairs with pred=0 defaults (J4/A6).

Spark shape: ONE hydration join builds a pair table carrying the union
of every matcher's input columns; per-matcher work is a handful of
column expressions or one Arrow kernel pass over that shared table —
nothing re-reads or re-joins the profile table per cell of the report.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from record_linkage_spark.operators.batch_scorer import (
    PAIR_TEXT_FIELDS,
    add_pair_text,
    score_serialized_pairs,
    train_hashing_scorer,
)
from record_linkage_spark.operators.blocking import (
    apply_blocking_filter,
    blocking_metrics,
)
from record_linkage_spark.operators.classifier import (
    score_pairs,
    train_logistic_regression,
    tune_threshold,
)
from record_linkage_spark.operators.evaluate import confusion_metrics, evaluate_global
from record_linkage_spark.operators.features import (
    DEDUPE_FEATURE_INPUT_COLS,
    DEDUPE_FEATURE_NAMES,
    FEATURE_INPUT_COLS,
    add_dedupe_features,
    add_features,
)
from record_linkage_spark.operators.ground_truth import hydrate_pairs

MODELS = ("lr", "dedupe", "textmodel")

COMPARE_HYDRATE_COLS = sorted(
    set(FEATURE_INPUT_COLS)
    | set(DEDUPE_FEATURE_INPUT_COLS)
    | set(PAIR_TEXT_FIELDS)
    | {"text_len_bucket"}
)


def _featurized(hydrated: DataFrame, model_name: str) -> DataFrame:
    if model_name == "lr":
        return add_features(hydrated)
    if model_name == "dedupe":
        return add_dedupe_features(hydrated)
    raise ValueError(f"not a feature-vector model: {model_name}")


def _train(hydrated_train: DataFrame, hydrated_val: DataFrame, model_name: str):
    """Fit one matcher on the GT train split, tune tau on val. Returns an
    opaque model plus its tuned threshold."""
    if model_name in ("lr", "dedupe"):
        names = None if model_name == "lr" else DEDUPE_FEATURE_NAMES
        model = train_logistic_regression(
            _featurized(hydrated_train, model_name), feature_names=names
        )
        tau, _ = tune_threshold(score_pairs(_featurized(hydrated_val, model_name), model))
        model.threshold = tau
        return model
    if model_name == "textmodel":
        model = train_hashing_scorer(add_pair_text(hydrated_train))
        scored = score_serialized_pairs(add_pair_text(hydrated_val), model).join(
            hydrated_val.select("id_A", "id_B", "label"), ["id_A", "id_B"]
        )
        tau, _ = tune_threshold(scored)
        model.threshold = tau
        return model
    raise ValueError(f"unknown model: {model_name}")


def _score_candidates(candidates: DataFrame, model, model_name: str) -> DataFrame:
    """-> (id_A, id_B, label, pred)."""
    if model_name in ("lr", "dedupe"):
        scored = score_pairs(_featurized(candidates, model_name), model)
        return scored.select("id_A", "id_B", "label", "pred")
    scored = score_serialized_pairs(add_pair_text(candidates), model)
    return scored.join(
        candidates.select("id_A", "id_B", "label"), ["id_A", "id_B"]
    ).select("id_A", "id_B", "label", "pred")


def compare_report(
    gt: DataFrame,
    profiles: DataFrame,
    strategies: tuple[str, ...] = ("B1", "B2"),
    models: tuple[str, ...] = MODELS,
) -> list[dict]:
    """One report row per (strategy x model) — the reference's 6-row
    ``pipeline_report.json`` (``compare.py:178-197``), same field names."""
    hydrated = hydrate_pairs(gt, profiles, COMPARE_HYDRATE_COLS).localCheckpoint()
    train = hydrated.filter(F.col("split") == "train")
    val = hydrated.filter(F.col("split") == "val")
    test = hydrated.filter(F.col("split") == "test").localCheckpoint()
    gt_test = test.select("id_A", "id_B", "label")

    fitted = {m: _train(train, val, m) for m in models}

    rows: list[dict] = []
    for strategy in strategies:
        candidates = apply_blocking_filter(test, strategy).localCheckpoint()
        bstats = blocking_metrics(gt_test, candidates.select("id_A", "id_B"), strategy)
        for model_name in models:
            t0 = time.time()
            scored = _score_candidates(candidates, fitted[model_name], model_name)
            scored = scored.localCheckpoint()  # materialize: time the inference
            inference_sec = time.time() - t0
            cand_metrics = confusion_metrics(scored)
            global_metrics = evaluate_global(
                gt_test, scored.select("id_A", "id_B", "pred")
            )
            rows.append(
                {
                    "strategy": strategy,
                    "model": model_name,
                    "blocking_recall": round(bstats["blocking_recall"] or 0.0, 6),
                    "n_test_pairs": bstats["n_test_pairs"],
                    "n_candidates": bstats["n_candidates"],
                    "reduction_ratio_vs_test": round(
                        bstats["reduction_ratio_vs_test"] or 0.0, 6
                    ),
                    "tp": global_metrics["tp"],
                    "fp": global_metrics["fp"],
                    "fn": global_metrics["fn"],
                    "tn": global_metrics["tn"],
                    "precision_global": round(global_metrics["precision"], 6),
                    "recall_global": round(global_metrics["recall"], 6),
                    "f1_global": round(global_metrics["f1"], 6),
                    "precision_candidates": round(cand_metrics["precision"], 6),
                    "recall_candidates": round(cand_metrics["recall"], 6),
                    "f1_candidates": round(cand_metrics["f1"], 6),
                    "threshold_used": round(float(fitted[model_name].threshold), 4),
                    "inference_time_sec": round(inference_sec, 6),
                }
            )
    return rows


def fixed_prediction_report(
    pairs: DataFrame,
    models: dict[str, "F.Column"],
    strategies: tuple[str, ...] = ("B1", "B2"),
) -> DataFrame:
    """E3-style report rows for PRE-COMPUTED per-pair predictions — the
    no-training twin of :func:`compare_report` (reference report shape,
    ``src/evaluation/compare.py:178-197``), fully expressible as Catalyst
    conditional aggregates so an external SQL oracle can replay every cell.

    ``pairs``: hydrated labeled pair table (must carry the _A/_B columns
    each strategy's cascade reads plus whatever the prediction columns
    reference). ``models``: model name -> boolean/int prediction Column
    evaluated per pair (e.g. a literal-weight LR score threshold).

    Global metrics overlay candidate predictions onto ALL pairs with
    pred=0 defaults (J4/A6): a pair predicts positive globally iff it
    survives the strategy's blocking cascade AND the model fires.
    One single-row aggregate job per (strategy, model) cell over the
    shared (caller-materialized) pair table — no per-pair driver work.
    """
    from functools import reduce

    from record_linkage_spark.functions.similarity import jaro_winkler_pairs
    from record_linkage_spark.operators.blocking import key_legs, verify_legs

    df = pairs.withColumn(
        "_jw_first",
        jaro_winkler_pairs(F.col("first_text_norm_A"), F.col("first_text_norm_B")),
    ).withColumn(
        "_jw_last",
        jaro_winkler_pairs(F.col("last_text_norm_A"), F.col("last_text_norm_B")),
    )
    # one JW kernel pass per column, shared by every strategy's legs
    shared_jw = {
        "first_text_norm": F.col("_jw_first"),
        "last_text_norm": F.col("_jw_last"),
    }

    def _in_strategy(strategy: str):
        legs = key_legs(strategy) + verify_legs(strategy, shared_jw)
        return reduce(lambda cond, leg: cond & leg, legs, F.lit(True))

    out: DataFrame | None = None
    for strategy in strategies:
        in_s = _in_strategy(strategy).cast("int")
        for model_name, pred_col in models.items():
            gpred = (in_s.cast("boolean") & pred_col.cast("boolean")).cast("int")
            lbl = F.col("label").cast("int")
            tp = F.sum(((lbl == 1) & (gpred == 1)).cast("int")).cast("bigint")
            fp = F.sum(((lbl == 0) & (gpred == 1)).cast("int")).cast("bigint")
            fn = F.sum(((lbl == 1) & (gpred == 0)).cast("int")).cast("bigint")
            tn = F.sum(((lbl == 0) & (gpred == 0)).cast("int")).cast("bigint")
            f1 = F.when(
                2 * tp + fp + fn > 0, 2 * tp / (2 * tp + fp + fn)
            ).otherwise(F.lit(0.0))
            # candidate-restricted confusion: same tp/fp (a global positive
            # is always a candidate); fn/tn only count blocked-in pairs
            fn_c = F.sum(((lbl == 1) & (in_s == 1) & (gpred == 0)).cast("int")).cast("bigint")
            f1_c = F.when(
                2 * tp + fp + fn_c > 0, 2 * tp / (2 * tp + fp + fn_c)
            ).otherwise(F.lit(0.0))
            pos = F.sum(lbl)
            rec = F.when(
                pos > 0, F.sum(((lbl == 1) & (in_s == 1)).cast("int")) / pos
            ).otherwise(F.lit(0.0))
            row = df.agg(
                F.round(rec, 6).alias("blocking_recall"),
                F.count("*").cast("bigint").alias("n_test_pairs"),
                F.sum(in_s).cast("bigint").alias("n_candidates"),
                tp.alias("tp"),
                fp.alias("fp"),
                fn.alias("fn"),
                tn.alias("tn"),
                F.round(f1, 6).alias("f1_global"),
                F.round(f1_c, 6).alias("f1_candidates"),
            ).select(
                F.lit(strategy).alias("strategy"),
                F.lit(model_name).alias("model"),
                "blocking_recall", "n_test_pairs", "n_candidates",
                "tp", "fp", "fn", "tn", "f1_global", "f1_candidates",
            )
            out = row if out is None else out.unionByName(row)
    return out


def write_report(rows: list[dict], path: str) -> None:
    with open(path, "w") as f:
        json.dump(rows, f, indent=2)
