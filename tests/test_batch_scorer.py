"""M5-shaped serialize -> mapInPandas batch scorer (Ditto-harness analogue)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from record_linkage_spark.operators.batch_scorer import (
    HashingTextModel,
    add_pair_text,
    featurize_texts,
    score_serialized_pairs,
    train_hashing_scorer,
)


def test_featurize_deterministic_and_normalized():
    X1 = featurize_texts(["COL a VAL x COL b VAL y", "", None, "x y z"])
    X2 = featurize_texts(["COL a VAL x COL b VAL y", "", None, "x y z"])
    assert np.array_equal(X1, X2)
    hdim = X1.shape[1] - 2
    norms = np.linalg.norm(X1[:, :hdim], axis=1)
    assert norms[0] == pytest.approx(1.0)
    assert norms[1] == 0.0 and norms[2] == 0.0
    # different texts hash to different vectors
    assert not np.array_equal(X1[0], X1[3])


def test_featurize_agreement_slots():
    # identical sides -> jaccard 1, size-diff 0; disjoint sides -> 0 shared
    X = featurize_texts(["a b c\ta b c", "a b\tx y z w"])
    assert X[0, -2] == pytest.approx(1.0)
    assert X[0, -1] == pytest.approx(0.0)
    assert X[1, -2] == pytest.approx(0.0)
    assert X[1, -1] == pytest.approx(2.0 / 6.0)


def test_scorer_end_to_end_learns_separation(spark):
    from record_linkage_spark.operators.ground_truth import (
        build_ground_truth,
        hydrate_pairs,
    )
    from record_linkage_spark.operators.rollup import rollup_conversations
    from record_linkage_spark.synth.transcripts import (
        generate_transcripts,
        hidden_key_table,
        transcripts_table,
    )

    raw = generate_transcripts(spark, n_entities=150, dup_rate=2.0)
    profiles = rollup_conversations(transcripts_table(raw))
    keys = hidden_key_table(raw).select("conv_id", "entity_key")
    # materialize the synth -> rollup -> ground-truth lineage once: the
    # four actions below would otherwise each recompute it from scratch
    gt = build_ground_truth(profiles, keys, neg_ratio=2.0).localCheckpoint()
    fields = ["first_text_norm", "last_text_norm", "first_role",
              "primary_tool", "n_turns", "n_tokens"]
    hyd = add_pair_text(
        hydrate_pairs(gt, profiles, fields),
        fields,
    ).localCheckpoint()
    train = hyd.filter(F.col("split") == "train")
    model = train_hashing_scorer(train)

    scored = score_serialized_pairs(hyd, model)
    joined = scored.join(gt.select("id_A", "id_B", "label"), ["id_A", "id_B"])
    rows = joined.select("label", "score").collect()
    pos = [r.score for r in rows if r.label == 1]
    neg = [r.score for r in rows if r.label == 0]
    assert pos and neg
    # the stand-in model must at least separate means on its train corpus
    assert sum(pos) / len(pos) > sum(neg) / len(neg) + 0.2
    # schema contract
    assert set(scored.columns) == {"id_A", "id_B", "score", "pred"}
    assert scored.count() == gt.count()


def test_model_roundtrip():
    m = HashingTextModel(weights=[0.1] * 1024, intercept=-1.0, threshold=0.4)
    m2 = HashingTextModel.from_dict(m.to_dict())
    assert m2.weights == m.weights
    assert m2.intercept == m.intercept
    assert m2.threshold == m.threshold
    assert m2.dim == m.dim
