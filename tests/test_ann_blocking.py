"""ANN (vector-similarity) blocking: vector build, recall vs brute
force, the strategy boundary, and plan shapes."""

import math

import pytest
from pyspark.sql import functions as F

from record_linkage_spark.operators.ann_blocking import (
    ann_candidate_pairs,
    brute_force_cosine_pairs,
    hashed_text_vectors,
)


def _texts(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_vectors_are_unit_norm_and_deterministic(spark):
    t = _texts(spark, [(1, "alpha beta gamma alpha"), (2, "alpha beta")])
    v1 = {r.doc_id: r.vec for r in hashed_text_vectors(t).collect()}
    v2 = {r.doc_id: r.vec for r in hashed_text_vectors(t).collect()}
    assert v1 == v2
    for vec in v1.values():
        assert len(vec) == 64
        assert abs(math.sqrt(sum(x * x for x in vec)) - 1.0) < 1e-9


def test_empty_text_produces_no_vector_row(spark):
    t = _texts(spark, [(1, "real tokens"), (2, "   "), (3, None)])
    assert [r.doc_id for r in hashed_text_vectors(t).collect()] == [1]


def test_identical_texts_cosine_one(spark):
    t = _texts(spark, [(1, "the same text"), (2, "the same text"), (3, "else")])
    pairs = {
        (r.id_A, r.id_B): r.cosine
        for r in brute_force_cosine_pairs(t, cosine_threshold=0.99).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert abs(pairs[(1, 2)] - 1.0) < 1e-9


def _profiles(spark, n_entities=150):
    from record_linkage_spark.operators.rollup import rollup_conversations
    from record_linkage_spark.synth.transcripts import (
        generate_transcripts,
        transcripts_table,
    )

    raw = generate_transcripts(spark, n_entities, 1.8)
    return rollup_conversations(transcripts_table(raw)).drop("turns").localCheckpoint()


def test_ann_candidates_subset_of_brute_with_recall(spark):
    profiles = _profiles(spark)
    texts = profiles.select(
        "conv_id",
        F.concat_ws(
            " ",
            F.coalesce("first_text_norm", F.lit("")),
            F.coalesce("last_text_norm", F.lit("")),
        ).alias("text"),
    )
    brute = {
        (r.id_A, r.id_B)
        for r in brute_force_cosine_pairs(
            texts, id_col="conv_id", cosine_threshold=0.8
        ).collect()
    }
    ann = {
        (r.id_A, r.id_B)
        for r in ann_candidate_pairs(profiles).collect()
    }
    # exact-cosine verify => precision 1.0 vs brute at the same threshold
    assert ann <= brute
    assert len(brute) > 0
    assert len(ann) / len(brute) >= 0.8  # banded-LSH recall floor


def test_strategy_dispatch_and_plan(spark):
    from record_linkage_spark.operators.blocking import candidate_pairs

    profiles = _profiles(spark, n_entities=60)
    # ANN has its own entry point; the key-cascade dispatcher rejects it
    # like any other unknown strategy
    with pytest.raises(KeyError):
        candidate_pairs(profiles, "ANN")
    df = ann_candidate_pairs(profiles)
    assert df.columns == ["id_A", "id_B", "block_key", "strategy"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    # LSH bucket join, never a cross product; vector build is pure
    # Catalyst (no Python node anywhere)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Python" not in plan
    row = df.first()
    assert row is not None and row.strategy == "ANN"


def test_banding_plan_legacy_and_scale_paths():
    """The corpus-adaptive banding planner (r5 — fix for the measured
    70x saturation quadratic at sf1.0): small corpora reproduce the
    legacy config verbatim; past target_bucket * 2^band_bits records,
    bits-per-band grow with log2(n) and the band count grows to hold
    banding recall at the default config's level at the design cosine."""
    import math

    from record_linkage_spark.operators.ann_blocking import (
        ANN_BAND_BITS,
        ANN_NUM_BANDS,
        banding_plan,
    )

    # legacy below the occupancy threshold (and exactly at it)
    for n in (0, 1, 200, 5_000, 51_200):
        assert banding_plan(n) == (ANN_BAND_BITS, ANN_NUM_BANDS, False)

    # scale path: r grows with log2(n / target), b compensates recall
    r, b, ind = banding_plan(640_000)
    assert ind and r == math.ceil(math.log2(640_000 / 200)) == 12
    p = math.acos(0.90) / math.pi
    recall_default = 1 - (1 - (1 - p) ** ANN_BAND_BITS) ** ANN_NUM_BANDS
    recall_planned = 1 - (1 - (1 - p) ** r) ** b
    assert recall_planned >= recall_default  # never trades recall away
    # occupancy bounded: expected records per band-bucket stays ~target
    assert 640_000 / 2**r <= 200

    # monotone: bigger corpora never get coarser buckets
    r2, b2, _ = banding_plan(10_000_000)
    assert r2 > r and b2 >= b


def test_ann_adaptive_banding_keeps_recall_and_precision(spark):
    """Force the independent-plane scale path on a small corpus (tiny
    target_bucket): candidates must stay an exact-cosine-verified subset
    of brute force with the same recall floor the legacy config pins —
    widening buckets with compensating bands never silently loses
    pairs."""
    from record_linkage_spark.operators.ann_blocking import (
        ann_candidate_pairs,
        banding_plan,
        brute_force_cosine_pairs,
    )

    profiles = _profiles(spark)
    n = profiles.count()
    r, b, ind = banding_plan(n, target_bucket=1)
    assert ind and r > 8  # the scale path is actually exercised

    texts = profiles.select(
        "conv_id",
        F.concat_ws(
            " ",
            F.coalesce("first_text_norm", F.lit("")),
            F.coalesce("last_text_norm", F.lit("")),
        ).alias("text"),
    )
    brute = {
        (r2.id_A, r2.id_B)
        for r2 in brute_force_cosine_pairs(
            texts, id_col="conv_id", cosine_threshold=0.8
        ).collect()
    }
    ann = {
        (r2.id_A, r2.id_B)
        for r2 in ann_candidate_pairs(profiles, target_bucket=1).collect()
    }
    assert ann <= brute
    assert len(brute) > 0
    assert len(ann) / len(brute) >= 0.8


def test_ann_banding_planned_at_operating_threshold(spark, monkeypatch):
    """ann_candidate_pairs sizes its banding for the caller's
    cosine_threshold, not a fixed design cosine."""
    from record_linkage_spark.operators import ann_blocking

    seen = []
    plan = ann_blocking.banding_plan

    def spy(n_records, **kw):
        seen.append(kw["design_cosine"])
        return plan(n_records, **kw)

    monkeypatch.setattr(ann_blocking, "banding_plan", spy)
    ann_candidate_pairs(_profiles(spark, n_entities=20), cosine_threshold=0.85)
    assert seen == [0.85]
