"""Pure-Python tests for the MinHash-LSH banding planner — no Spark.

The planner instantiates the S-curve analysis of Leskovec/Rajaraman/
Ullman, Mining of Massive Datasets ch. 3.4; these tests pin the closed
form, the recall constraint, and the direction the optimum moves when
the threshold or the weights move.
"""

import math

import pytest

from record_linkage_spark.operators.dedup import (
    lsh_candidate_probability,
    plan_minhash_lsh,
)


def test_probability_closed_form_and_edges():
    # b=1, r=1: collision probability IS the Jaccard similarity
    for s in (0.0, 0.25, 0.7, 1.0):
        assert lsh_candidate_probability(s, 1, 1) == pytest.approx(s)
    # hand-computed 8x4 point: 1 - (1 - 0.7^4)^8
    want = 1.0 - (1.0 - 0.7**4) ** 8
    assert lsh_candidate_probability(0.7, 8, 4) == pytest.approx(want)
    assert want == pytest.approx(0.889, abs=0.001)
    # monotone increasing in s for any scheme
    probs = [lsh_candidate_probability(i / 20, 8, 4) for i in range(21)]
    assert probs == sorted(probs)
    assert probs[0] == 0.0 and probs[-1] == pytest.approx(1.0)


def test_plan_meets_recall_and_respects_budget():
    plan = plan_minhash_lsh(0.7, num_hashes=32, min_recall=0.9)
    assert plan["num_bands"] * plan["rows_per_band"] == plan["num_hashes_used"]
    assert plan["num_hashes_used"] <= 32
    assert plan["recall_at_threshold"] >= 0.9
    # the reported recall is the closed form at the chosen scheme
    assert plan["recall_at_threshold"] == pytest.approx(
        lsh_candidate_probability(0.7, plan["num_bands"], plan["rows_per_band"])
    )


def test_plan_is_cost_minimal_among_feasible():
    plan = plan_minhash_lsh(0.7, num_hashes=16, min_recall=0.85, fp_weight=0.5)
    cost = 0.5 * plan["fp_area"] + 0.5 * plan["fn_area"]
    # exhaustive re-check against every feasible scheme
    for r in range(1, 17):
        for b in range(1, 16 // r + 1):
            if lsh_candidate_probability(0.7, b, r) < 0.85:
                continue
            fp = fn = 0.0
            steps = 500
            for i in range(steps):
                s = (i + 0.5) / steps
                p = lsh_candidate_probability(s, b, r)
                if s < 0.7:
                    fp += p
                else:
                    fn += 1.0 - p
            assert cost <= 0.5 * fp / steps + 0.5 * fn / steps + 1e-12


def test_higher_threshold_prefers_more_rows_per_band():
    lo = plan_minhash_lsh(0.5, num_hashes=64, min_recall=0.9)
    hi = plan_minhash_lsh(0.9, num_hashes=64, min_recall=0.9)
    # a sharper (higher-tau) cut needs a steeper S-curve: more rows/band
    assert hi["rows_per_band"] > lo["rows_per_band"]
    # and the sub-threshold candidate mass (wasted verify work) shrinks
    assert hi["fp_area"] < lo["fp_area"]


def test_fp_weight_trades_verify_work_for_recall():
    cheap = plan_minhash_lsh(0.7, num_hashes=64, min_recall=0.8, fp_weight=0.9)
    thorough = plan_minhash_lsh(0.7, num_hashes=64, min_recall=0.8, fp_weight=0.1)
    assert cheap["fp_area"] <= thorough["fp_area"]
    assert cheap["fn_area"] >= thorough["fn_area"]


def test_infeasible_recall_falls_back_to_max_recall():
    # one hash total: only scheme is b=1, r=1 with recall == tau
    plan = plan_minhash_lsh(0.7, num_hashes=1, min_recall=0.99)
    assert (plan["num_bands"], plan["rows_per_band"]) == (1, 1)
    assert plan["recall_at_threshold"] == pytest.approx(0.7)


def test_validation():
    with pytest.raises(ValueError):
        plan_minhash_lsh(0.0)
    with pytest.raises(ValueError):
        plan_minhash_lsh(1.0)
    with pytest.raises(ValueError):
        plan_minhash_lsh(0.5, num_hashes=0)


def test_default_832_documented_numbers():
    # numbers quoted in the minhash_near_duplicates docstring
    assert lsh_candidate_probability(0.7, 8, 4) == pytest.approx(0.89, abs=0.005)
    assert lsh_candidate_probability(0.4, 8, 4) == pytest.approx(0.19, abs=0.01)


def test_banding_plan_holds_recall_at_the_given_cosine():
    """The ANN banding planner holds the legacy banding recall at the
    cosine it is given — ann_candidate_pairs passes its operating
    threshold, so pairs just above it keep their recall."""
    from record_linkage_spark.operators.ann_blocking import (
        ANN_BAND_BITS,
        ANN_NUM_BANDS,
        banding_plan,
    )

    def recall(cos, r, b):
        p = math.acos(cos) / math.pi
        return 1 - (1 - (1 - p) ** r) ** b

    for n in (640_000, 10_000_000):
        legacy = recall(0.80, ANN_BAND_BITS, ANN_NUM_BANDS)
        r, b, ind = banding_plan(n, design_cosine=0.80)
        assert ind and recall(0.80, r, b) >= legacy
        # held at 0.90 instead, the plan loses recall at 0.80
        r9, b9, _ = banding_plan(n, design_cosine=0.90)
        assert recall(0.80, r9, b9) < legacy
        assert b > b9


def test_banding_plan_at_cosine_one():
    """design_cosine >= 1.0 means the design pairs agree on every plane:
    the plan keeps the legacy band count instead of raising on log(0)."""
    from record_linkage_spark.operators.ann_blocking import (
        ANN_NUM_BANDS,
        banding_plan,
    )

    for cos in (1.0, 1.5):
        r, b, ind = banding_plan(640_000, design_cosine=cos)
        assert ind and r == 12 and b == ANN_NUM_BANDS
    # just below 1: the legacy recall rounds to 1.0 and is clamped
    r, b, ind = banding_plan(640_000, design_cosine=1.0 - 1e-15)
    assert ind and b >= ANN_NUM_BANDS
