"""End-to-end linkage pipeline: the E1 analogue (``run_pipeline.py:29-40``)
as one Spark driver program with per-stage warehouse checkpoints.

Stages (each a checkpointed table + lineage sidecar, resumable):
  transcripts -> profiles -> gt_pairs -> candidates -> scored_pairs
  -> match_edges -> clusters (+ metrics JSON)

Run:  python -m record_linkage_spark.plans.pipeline --warehouse /tmp/wh \
        --entities 2000 [--from-stage candidates] [--strategy B1|B2|ANN]
On a real cluster the same module ships via spark-submit --py-files.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from record_linkage_spark.config import NEG_TO_POS_RATIO, RANDOM_SEED
from record_linkage_spark.operators.blocking import (
    apply_blocking_filter,
    blocking_metrics,
    candidate_pairs,
)
from record_linkage_spark.operators.classifier import (
    LinearModel,
    score_pairs,
    train_logistic_regression,
    tune_threshold,
)
from record_linkage_spark.operators.clustering import assign_entities
from record_linkage_spark.operators.evaluate import evaluate_global
from record_linkage_spark.operators.features import add_features
from record_linkage_spark.operators.ground_truth import (
    build_ground_truth,
    hydrate_pairs,
)
from record_linkage_spark.operators.incremental_link import HYDRATE_COLS
from record_linkage_spark.operators.rollup import rollup_conversations
from record_linkage_spark.sources.checkpoints import Warehouse
from record_linkage_spark.synth.transcripts import (
    generate_transcripts,
    hidden_key_table,
    transcripts_table,
)

STAGES = [
    "transcripts",
    "hidden_keys",
    "profiles",
    "gt_pairs",
    "candidates",
    "scored_pairs",
    "match_edges",
    "clusters",
    "golden_records",
]


class LinkagePipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        n_entities: int = 2000,
        dup_rate: float = 1.6,
        strategy: str = "B1",
        neg_ratio: float = NEG_TO_POS_RATIO,
        transcripts_df: DataFrame | None = None,
        keys_df: DataFrame | None = None,
        one_to_one: bool = False,
        clusterer: str = "cc",
        qa_boilerplate_min_convs: int = 25,
        relations_df: DataFrame | None = None,
        collective_alpha: float = 0.6,
        release_qi: tuple[str, ...] = (),
        release_k: int = 5,
    ):
        if clusterer not in ("cc", "pivot", "star", "hac", "collective"):
            raise KeyError(
                f"unknown clusterer {clusterer!r} "
                "(cc|pivot|star|hac|collective)"
            )
        self.spark = spark
        self.wh = Warehouse(root=warehouse, spark=spark)
        self.n_entities = n_entities
        self.dup_rate = dup_rate
        self.strategy = strategy
        self.neg_ratio = neg_ratio
        self.one_to_one = one_to_one
        self.clusterer = clusterer
        self.qa_boilerplate_min_convs = qa_boilerplate_min_convs
        self._relations_df = relations_df
        self.collective_alpha = collective_alpha
        self.release_qi = tuple(release_qi)
        self.release_k = release_k
        self._collective_rounds: list[dict] | None = None
        self._transcripts_df = transcripts_df
        self._keys_df = keys_df
        self.model: LinearModel | None = None
        self.report: dict = {}

    def _cfg(self, **kw) -> dict:
        return {
            "seed": RANDOM_SEED,
            "entities": self.n_entities,
            "dup_rate": self.dup_rate,
            "strategy": self.strategy,
            "one_to_one": self.one_to_one,
            "clusterer": self.clusterer,
            **kw,
        }

    def run(self, resume: bool = True) -> dict:
        wh = self.wh
        os.makedirs(wh.root, exist_ok=True)

        if self._transcripts_df is not None:
            transcripts = wh.run_stage(
                "transcripts", lambda: self._transcripts_df, self._cfg(), resume=resume
            )
            keys = wh.run_stage(
                "hidden_keys", lambda: self._keys_df, self._cfg(), resume=resume
            )
        else:
            raw = generate_transcripts(self.spark, self.n_entities, self.dup_rate)
            transcripts = wh.run_stage(
                "transcripts",
                lambda: transcripts_table(raw),
                self._cfg(),
                resume=resume,
            )
            keys = wh.run_stage(
                "hidden_keys",
                lambda: hidden_key_table(raw).select("conv_id", "entity_key"),
                self._cfg(),
                inputs=["transcripts"],
                resume=resume,
            )

        profiles = wh.run_stage(
            "profiles",
            lambda: rollup_conversations(transcripts).drop("turns"),
            self._cfg(),
            inputs=["transcripts"],
            resume=resume,
        )
        gt = wh.run_stage(
            "gt_pairs",
            lambda: build_ground_truth(profiles, keys, self.neg_ratio),
            self._cfg(neg_ratio=self.neg_ratio),
            inputs=["profiles", "hidden_keys"],
            resume=resume,
        )

        cands = wh.run_stage(
            "candidates",
            lambda: candidate_pairs(profiles, self.strategy),
            self._cfg(),
            inputs=["profiles"],
            resume=resume,
        )

        def _score() -> DataFrame:
            gt_hydrated = hydrate_pairs(gt, profiles, HYDRATE_COLS)
            gt_feats = add_features(
                apply_blocking_filter(gt_hydrated, self.strategy)
            ).cache()
            model = train_logistic_regression(
                gt_feats.filter(F.col("split") == "train")
            )
            tau, _ = tune_threshold(
                score_pairs(gt_feats.filter(F.col("split") == "val"), model)
            )
            model.threshold = tau
            self.model = model
            with open(os.path.join(wh.root, "model.json"), "w") as f:
                json.dump(model.to_dict(), f, indent=2)
            cand_hydrated = hydrate_pairs(
                cands.select("id_A", "id_B"), profiles, HYDRATE_COLS
            )
            scored = score_pairs(add_features(cand_hydrated), model)
            return scored.select("id_A", "id_B", "features", "score", "pred")

        scored = wh.run_stage(
            "scored_pairs",
            _score,
            self._cfg(neg_ratio=self.neg_ratio),
            inputs=["gt_pairs", "candidates", "profiles"],
            resume=resume,
        )
        if self.model is None:
            try:
                with open(os.path.join(wh.root, "model.json")) as f:
                    self.model = LinearModel.from_dict(json.load(f))
            except OSError:
                pass

        def _edges() -> DataFrame:
            matches = scored.filter(F.col("pred") == 1)
            if self.one_to_one:
                # 1:1 constraint (linking deduplicated sources): greedy
                # matching on score keeps each record's single best match
                from record_linkage_spark.operators.matching import (
                    one_to_one_matching,
                )

                matches = one_to_one_matching(
                    matches.select("id_A", "id_B", "score"),
                    score_col="score",
                )
            return matches.select(
                F.col("id_A").alias("src"), F.col("id_B").alias("dst")
            )

        edges = wh.run_stage(
            "match_edges",
            _edges,
            self._cfg(),
            inputs=["scored_pairs"],
            resume=resume,
        )
        def _clusters() -> DataFrame:
            if self.clusterer == "hac":
                # score-aware: average-linkage agglomeration per CC
                # component, cut at the tuned threshold — weakly-bridged
                # groups split where transitive closure fuses them
                from record_linkage_spark.operators.clustering import (
                    hierarchical_clusters,
                )

                matches = scored.filter(F.col("pred") == 1).select(
                    "id_A", "id_B", "score"
                )
                if self.one_to_one:
                    from record_linkage_spark.operators.matching import (
                        one_to_one_matching,
                    )

                    matches = one_to_one_matching(matches)
                tau = self.model.threshold if self.model is not None else 0.5
                hc = hierarchical_clusters(
                    matches, threshold=tau, src_col="id_A", dst_col="id_B"
                )
                return (
                    profiles.select("conv_id")
                    .distinct()
                    .join(hc, "conv_id", "left")
                    .withColumn("entity_id", F.coalesce("entity_id", "conv_id"))
                )
            if self.clusterer == "collective":
                # relational evidence reinforces ambiguous pairs:
                # bootstrap merges attribute-certain pairs (so the result
                # can only coarsen the cc answer), then iterative
                # alpha*attr + (1-alpha)*neighborhood-Jaccard rounds
                # promote pairs whose neighbors already co-resolve
                from record_linkage_spark.operators.collective import (
                    collective_link,
                    transcript_tool_relations,
                )

                rel = (
                    self._relations_df
                    if self._relations_df is not None
                    else transcript_tool_relations(transcripts)
                )
                tau = self.model.threshold if self.model is not None else 0.5
                asg, rounds = collective_link(
                    profiles.select("conv_id"),
                    scored.select("id_A", "id_B", "score"),
                    rel,
                    id_col="conv_id",
                    attr_col="score",
                    alpha=self.collective_alpha,
                    threshold=tau,
                )
                self._collective_rounds = rounds
                return asg
            if self.clusterer in ("pivot", "star"):
                # noise-robust alternatives: both bound clusters to
                # radius 1 around a center, so a false match edge can't
                # fuse whole entities transitively; pivot centers by a
                # random permutation, star by match-evidence degree
                from record_linkage_spark.operators.clustering import (
                    correlation_clustering,
                    star_clustering,
                )

                fn = (
                    star_clustering
                    if self.clusterer == "star"
                    else correlation_clustering
                )
                cc = fn(edges)
                return (
                    profiles.select("conv_id")
                    .distinct()
                    .join(cc, "conv_id", "left")
                    .withColumn("entity_id", F.coalesce("entity_id", "conv_id"))
                )
            return assign_entities(profiles.select("conv_id"), edges)

        clusters = wh.run_stage(
            "clusters",
            _clusters,
            self._cfg(
                **(
                    {"collective_alpha": self.collective_alpha}
                    if self.clusterer == "collective"
                    else {}
                )
            ),
            inputs=["match_edges", "profiles"],
            resume=resume,
        )
        # fusion: one canonical record per resolved entity (survivorship
        # rules with deterministic tie-breaks; the warehouse's final
        # user-facing table)
        from record_linkage_spark.operators.survivorship import (
            CONVERSATION_FUSION,
            CONVERSATION_FUSION_COLS,
            golden_records,
        )

        golden = wh.run_stage(
            "golden_records",
            lambda: golden_records(
                profiles.select(*CONVERSATION_FUSION_COLS),
                clusters,
                **CONVERSATION_FUSION,
            ),
            self._cfg(),
            inputs=["clusters", "profiles"],
            resume=resume,
        )

        # optional release gate: k-anonymity audit of the golden table
        # (the artifact that leaves the pipeline) over caller-named
        # quasi-identifier columns, with the suppression cost at k
        release_gate = None
        if self.release_qi:
            from record_linkage_spark.operators.privacy import (
                k_anonymity_report,
                suppress_below_k,
            )

            gr = k_anonymity_report(golden, self.release_qi).first()
            n_released = suppress_below_k(
                golden, self.release_qi, self.release_k
            ).count()
            release_gate = {
                "qi": list(self.release_qi),
                "k": self.release_k,
                "k_min": int(gr.k_min or 0),
                "n_classes": int(gr.n_classes or 0),
                "n_records": int(gr.n_records or 0),
                "n_singleton_classes": int(gr.n_singleton_classes or 0),
                "n_released_at_k": int(n_released),
                "n_suppressed_at_k": int((gr.n_records or 0) - n_released),
                "passes_at_k": bool((gr.k_min or 0) >= self.release_k),
            }

        # evaluation report (E3 analogue)
        gt_scored = scored.join(
            gt.select("id_A", "id_B", "label"), ["id_A", "id_B"]
        )
        bm = blocking_metrics(
            gt.select("id_A", "id_B", "label"),
            cands.select("id_A", "id_B"),
            self.strategy,
        )
        gm = evaluate_global(
            gt.select("id_A", "id_B", "label"), scored.select("id_A", "id_B", "pred")
        )
        # extrinsic cluster quality vs the hidden entity keys (B-cubed —
        # pairwise F1 above over-weights big clusters; this doesn't).
        # validate_keys first, matching build_ground_truth's key handling:
        # synth keys with corrupted check digits would otherwise split an
        # entity into two truth classes and understate precision/recall
        # even for a perfect clustering
        from record_linkage_spark.operators.evaluate import (
            bcubed_metrics,
            cluster_cohesion,
            merge_candidates,
            average_precision,
            pair_counting_metrics,
            roc_auc,
            v_measure_metrics,
        )
        from record_linkage_spark.operators.ground_truth import validate_keys

        vkeys = validate_keys(keys)
        bc = bcubed_metrics(clusters, vkeys).first().asDict()
        # pair-counting family (pairwise F1 over ALL implied pairs, Rand,
        # chance-corrected ARI) next to B-cubed; decimal pair counts ->
        # plain numbers for the JSON report
        pc = {
            k: float(v) if hasattr(v, "as_tuple") else v
            for k, v in pair_counting_metrics(clusters, vkeys).first().asDict().items()
        }
        # entropy family (homogeneity/completeness/V-measure/NMI): the
        # size-insensitive third view next to B-cubed and pair counting
        vm = v_measure_metrics(clusters, vkeys).first().asDict()
        # cluster-repair summary: split evidence (within-cluster pairs the
        # scorer rated below threshold / pairs blocking never compared)
        # and merge evidence (cross-cluster pairs above threshold)
        tau = self.model.threshold if self.model else 0.5
        coh = cluster_cohesion(
            clusters, scored.select("id_A", "id_B", "score"), threshold=tau
        )
        coh_row = coh.agg(
            F.sum(F.when(F.col("n_conflicts") > 0, 1).otherwise(0))
            .cast("long")
            .alias("entities_with_conflicts"),
            F.sum("n_conflicts").cast("long").alias("conflict_pairs"),
            F.sum(F.col("n_unscored_pairs").cast("double"))
            .cast("long")
            .alias("unscored_within_pairs"),
        ).first()
        n_merge = merge_candidates(
            clusters, scored.select("id_A", "id_B", "score"), threshold=tau
        ).count()
        repair = {
            "entities_with_conflicts": int(coh_row.entities_with_conflicts or 0),
            "conflict_pairs": int(coh_row.conflict_pairs or 0),
            "unscored_within_pairs": int(coh_row.unscored_within_pairs or 0),
            "merge_candidate_entity_pairs": int(n_merge),
        }
        # threshold-free ranking quality over labeled pairs AT THE SAME
        # BLOCKING KEY (keys_only keeps the hard negatives; the full
        # cascade filter leaves candidates ∩ GT nearly all-positive and
        # unblocked pairs are out-of-domain for the scorer)
        auc_val = ap_val = None
        if self.model is not None:
            gt_all = score_pairs(
                add_features(
                    apply_blocking_filter(
                        hydrate_pairs(gt, profiles, HYDRATE_COLS),
                        self.strategy,
                        keys_only=True,
                    )
                ),
                self.model,
            )
            ranked = gt_all.select("label", "score")
            rank_row = (
                roc_auc(ranked)
                .select("auc")
                .crossJoin(average_precision(ranked).select("ap"))
                .first()
            )
            auc_val, ap_val = rank_row.auc, rank_row.ap
            # post-hoc probability calibration over the same labeled
            # pairs: fit isotonic + Platt on the <= n_bins sufficient
            # statistic and report ECE before/after, so the score column
            # is usable as a match PROBABILITY (review routing, expected
            # error budgets), not just a thresholdable rank
            from record_linkage_spark.operators.calibration import (
                apply_isotonic,
                expected_calibration_error,
                isotonic_calibrate,
                platt_calibrate,
                reliability_report,
            )

            ranked_ck = ranked.localCheckpoint()
            cal_map = isotonic_calibrate(ranked_ck, n_bins=50)
            calibrated = apply_isotonic(ranked_ck, cal_map, n_bins=50)
            ece_raw = expected_calibration_error(
                reliability_report(ranked_ck, "score", "label")
            ).first()
            ece_iso = expected_calibration_error(
                reliability_report(calibrated, "p_cal", "label")
            ).first()
            platt_a, platt_b = platt_calibrate(ranked_ck)
            calibration = {
                "ece_raw": round(float(ece_raw.ece), 6) if ece_raw.ece is not None else None,
                "ece_isotonic": round(float(ece_iso.ece), 6) if ece_iso.ece is not None else None,
                "platt_a": round(platt_a, 6),
                "platt_b": round(platt_b, 6),
                "n_bins": 50,
            }
        else:
            calibration = None
        # transcript QA: the structural checks that justify trusting
        # turn_idx as the rollup's stable turn order, plus the
        # agent-log pathologies (stuck loops, cross-conv boilerplate)
        # — corpus-level counts only, three bounded aggregates
        from record_linkage_spark.operators.agent_analytics import (
            boilerplate_turns,
            loop_runs,
        )
        from record_linkage_spark.operators.transcript_checks import (
            transcript_integrity,
        )

        ti = transcript_integrity(transcripts).agg(
            F.count("*").cast("long").alias("n_convs"),
            F.sum(F.when(F.col("is_clean"), 1).otherwise(0))
            .cast("long")
            .alias("n_clean"),
            F.sum("n_dup_idx").cast("long").alias("dup_idx_turns"),
            F.sum("n_gaps").cast("long").alias("gap_slots"),
            F.sum("n_empty").cast("long").alias("empty_turns"),
            F.sum("n_role_repeats").cast("long").alias("role_repeat_turns"),
            F.sum("n_ts_regress").cast("long").alias("ts_regress_turns"),
        ).first()
        lo = loop_runs(transcripts).agg(
            F.sum(F.when(F.col("n_loop_runs") > 0, 1).otherwise(0))
            .cast("long")
            .alias("looping_convs"),
            F.sum("n_loop_turns").cast("long").alias("loop_turns"),
            F.max("max_run_len").cast("long").alias("max_run_len"),
        ).first()
        bp = boilerplate_turns(
            transcripts, min_convs=self.qa_boilerplate_min_convs
        ).agg(
            F.count("*").cast("long").alias("texts"),
            F.coalesce(F.sum("n_turns"), F.lit(0)).cast("long").alias("turns"),
        ).first()
        transcript_qa = {
            "n_convs": int(ti.n_convs or 0),
            "n_clean": int(ti.n_clean or 0),
            "dup_idx_turns": int(ti.dup_idx_turns or 0),
            "gap_slots": int(ti.gap_slots or 0),
            "empty_turns": int(ti.empty_turns or 0),
            "role_repeat_turns": int(ti.role_repeat_turns or 0),
            "ts_regress_turns": int(ti.ts_regress_turns or 0),
            "looping_convs": int(lo.looping_convs or 0),
            "loop_turns": int(lo.loop_turns or 0),
            "max_run_len": int(lo.max_run_len or 0),
            "boilerplate_texts": int(bp.texts or 0),
            "boilerplate_turns": int(bp.turns or 0),
            "boilerplate_min_convs": self.qa_boilerplate_min_convs,
        }
        self.report = {
            "strategy": self.strategy,
            "clusterer": self.clusterer,
            "blocking": bm,
            "global": gm,
            "auc_labeled_pairs": auc_val,
            "ap_labeled_pairs": ap_val,
            "calibration": calibration,
            "release_gate": release_gate,
            "bcubed": bc,
            "pair_counting": pc,
            "v_measure": vm,
            "repair": repair,
            "transcript_qa": transcript_qa,
            "collective_rounds": self._collective_rounds,
            "threshold": self.model.threshold if self.model else None,
            "n_candidates": cands.count(),
            "n_clusters": clusters.select("entity_id").distinct().count(),
            "gt_candidate_rows": gt_scored.count(),
        }
        with open(os.path.join(wh.root, "pipeline_report.json"), "w") as f:
            json.dump(self.report, f, indent=2)
        return self.report

    def run_compare(
        self,
        strategies: tuple[str, ...] = ("B1", "B2"),
        models: tuple[str, ...] | None = None,
    ) -> list[dict]:
        """Multi-strategy x multi-model report (reference E3's 6-row
        ``pipeline_report.json``, ``src/evaluation/compare.py:178-197``).
        Reads the checkpointed profiles/gt stages; run() must have
        completed (or be resumable) first."""
        from record_linkage_spark.plans.compare import (
            MODELS,
            compare_report,
            write_report,
        )

        profiles = self.wh.read("profiles")
        gt = self.wh.read("gt_pairs")
        rows = compare_report(gt, profiles, strategies, models or MODELS)
        write_report(rows, os.path.join(self.wh.root, "compare_report.json"))
        # fold the per-(strategy x model) rows into pipeline_report.json too
        # — the reference's pipeline_report.json IS this multi-row report
        report_path = os.path.join(self.wh.root, "pipeline_report.json")
        try:
            with open(report_path) as f:
                merged = json.load(f)
        except (OSError, json.JSONDecodeError):
            merged = {}
        merged["strategies"] = rows
        with open(report_path, "w") as f:
            json.dump(merged, f, indent=2)
        return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--entities", type=int, default=2000)
    ap.add_argument("--dup-rate", type=float, default=1.6)
    ap.add_argument("--strategy", default="B1")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--one-to-one",
        action="store_true",
        help="constrain matches to 1:1 before clustering (greedy "
        "locally-dominant matching on score)",
    )
    ap.add_argument(
        "--clusterer",
        default="cc",
        choices=["cc", "pivot", "star", "hac", "collective"],
        help="transitive closure (cc, default), pivot correlation "
        "clustering (noise-robust, radius-1 clusters), star (evidence-"
        "anchored), hac (score-aware average-linkage agglomeration "
        "cut at the tuned threshold), or collective (relational-"
        "evidence rounds over tool-sequence co-occurrence; "
        "Bhattacharya-Getoor)",
    )
    ap.add_argument(
        "--collective-alpha",
        type=float,
        default=0.6,
        help="collective clusterer only: weight of the attribute score "
        "vs neighborhood Jaccard (1.0 degenerates to cc)",
    )
    ap.add_argument(
        "--release-qi",
        default=None,
        metavar="COL[,COL...]",
        help="audit the golden table for k-anonymity over these quasi-"
        "identifier columns and report the release gate (k_min, "
        "suppression cost at --release-k)",
    )
    ap.add_argument(
        "--release-k",
        type=int,
        default=5,
        help="anonymity floor for the --release-qi gate (default 5)",
    )
    ap.add_argument(
        "--compare",
        action="store_true",
        help="after the pipeline, emit the (strategy x model) comparison "
        "report over B1/B2 x {lr, dedupe, textmodel}",
    )
    ap.add_argument(
        "--recompute-from",
        default=None,
        choices=STAGES,
        metavar="STAGE",
        help="drop this stage and everything after it before resuming — "
        "the reference run_pipeline.py's --from-step, expressed against "
        "the warehouse (earlier stages still resume from checkpoints)",
    )
    args = ap.parse_args()

    from record_linkage_spark.session import get_spark

    spark = get_spark("linkage_pipeline")
    if args.recompute_from:
        import shutil

        wh_root = args.warehouse
        for name in STAGES[STAGES.index(args.recompute_from):]:
            shutil.rmtree(os.path.join(wh_root, name), ignore_errors=True)
    pipe = LinkagePipeline(
        spark,
        args.warehouse,
        n_entities=args.entities,
        dup_rate=args.dup_rate,
        strategy=args.strategy,
        one_to_one=args.one_to_one,
        clusterer=args.clusterer,
        collective_alpha=args.collective_alpha,
        release_qi=tuple(
            c.strip() for c in args.release_qi.split(",") if c.strip()
        )
        if args.release_qi
        else (),
        release_k=args.release_k,
    )
    report = pipe.run(resume=not args.no_resume)
    if args.compare:
        report = {"pipeline": report, "compare": pipe.run_compare()}
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
