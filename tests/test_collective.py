"""Collective (relational) ER + transitivity audit truth tables.

The canonical Bhattacharya-Getoor scenario, transcript-flavored: two
conversations whose attribute evidence is AMBIGUOUS (score below the
solo-accept bar) but whose co-occurrence neighborhoods resolve to the
same entities once the unambiguous pairs merge — collective linkage
must link them; attribute-only (alpha=1) must not.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from record_linkage_spark.operators.collective import (
    collective_link,
    entity_neighborhoods,
    hub_centers,
    neighborhood_jaccard,
    triangle_inconsistencies,
)


def _relations(spark, rows):
    return spark.createDataFrame(rows, "record_id string, rel_key string")


def _assignment(spark, rows):
    return spark.createDataFrame(rows, "record_id string, entity_id string")


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_A string, id_B string, attr_score double")


# ---------------------------------------------------------------- sets


def test_neighborhoods_exclude_own_entity_and_are_sorted(spark):
    rel = _relations(
        spark,
        [("a", "k1"), ("b", "k1"), ("c", "k1"), ("a", "k2"), ("d", "k2")],
    )
    asg = _assignment(
        spark, [("a", "ea"), ("b", "eb"), ("c", "ec"), ("d", "ed")]
    )
    out = {
        r["record_id"]: r["nbr_entities"]
        for r in entity_neighborhoods(rel, asg).collect()
    }
    assert out["a"] == ["eb", "ec", "ed"]  # sorted, own entity excluded
    assert out["b"] == ["ea", "ec"]
    assert out["d"] == ["ea"]


def test_neighborhoods_emit_empty_set_for_isolated_records(spark):
    rel = _relations(spark, [("a", "k1"), ("b", "k1")])
    asg = _assignment(spark, [("a", "ea"), ("b", "eb"), ("z", "ez")])
    out = {
        r["record_id"]: (r["nbr_entities"], r["n_nbr_entities"])
        for r in entity_neighborhoods(rel, asg).collect()
    }
    assert out["z"] == ([], 0)


def test_hub_key_guard_drops_stopword_keys(spark):
    # "common" touches 5 entities -> dropped at max_key_entities=3; the
    # informative key survives
    rows = [(r, "common") for r in "abcde"] + [("a", "rare"), ("b", "rare")]
    rel = _relations(spark, rows)
    asg = _assignment(spark, [(r, f"e{r}") for r in "abcde"])
    out = {
        r["record_id"]: r["nbr_entities"]
        for r in entity_neighborhoods(rel, asg, max_key_entities=3).collect()
    }
    assert out["a"] == ["eb"]  # only via "rare"
    assert out["c"] == []  # all its evidence was the hub key


def test_neighbor_cap_is_deterministic(spark):
    rel = _relations(spark, [("a", f"k{i}") for i in range(6)]
                     + [(f"n{i}", f"k{i}") for i in range(6)])
    asg = _assignment(spark, [("a", "ea")] + [(f"n{i}", f"e{i}") for i in range(6)])
    out = {
        r["record_id"]: r["nbr_entities"]
        for r in entity_neighborhoods(rel, asg, max_neighbors=3).collect()
    }
    assert out["a"] == ["e0", "e1", "e2"]  # sorted then sliced


def test_jaccard_values_and_empty_sides(spark):
    rel = _relations(
        spark,
        [("a", "k1"), ("x", "k1"), ("y", "k1"),
         ("b", "k2"), ("x", "k2"), ("z", "k2")],
    )
    asg = _assignment(
        spark,
        [("a", "ea"), ("b", "eb"), ("x", "ex"), ("y", "ey"), ("z", "ez")],
    )
    pairs = _pairs(spark, [("a", "b", 0.5), ("a", "z", 0.5)])
    got = {
        (r["id_A"], r["id_B"]): r["rel_sim"]
        for r in neighborhood_jaccard(pairs, rel, asg).collect()
    }
    # N(a) = {ex, ey}; N(b) = {ex, ez} -> 1/3
    assert abs(got[("a", "b")] - 1.0 / 3.0) < 1e-9
    # N(z) = {eb, ex} -> inter {ex} / union {ex, ey, eb} -> 1/3
    assert abs(got[("a", "z")] - 1.0 / 3.0) < 1e-9


def test_jaccard_zero_when_no_relational_evidence(spark):
    rel = _relations(spark, [("x", "k1"), ("y", "k1")])
    asg = _assignment(spark, [("a", "ea"), ("b", "eb"), ("x", "ex"), ("y", "ey")])
    pairs = _pairs(spark, [("a", "b", 0.9)])
    [row] = neighborhood_jaccard(pairs, rel, asg).collect()
    assert row["rel_sim"] == 0.0


# ------------------------------------------------------ collective loop


def _bg_scenario(spark):
    """Two author-style groups. a1/a2 and b1/b2 are unambiguous
    (attr 0.95). The AMBIGUOUS pair (a1, b1) sits at attr 0.5: alone it
    misses the 0.7 bar, but a1 and b1 co-occur with the same two
    collaborators (c1, c2), so once everything else resolves their
    neighborhoods agree and the combined score clears the bar."""
    records = spark.createDataFrame(
        [(r,) for r in ["a1", "a2", "b1", "b2", "c1", "c2"]],
        "record_id string",
    )
    pairs = _pairs(
        spark,
        [("a1", "a2", 0.95), ("b1", "b2", 0.95), ("a1", "b1", 0.5)],
    )
    rel = _relations(
        spark,
        [
            ("a1", "proj1"), ("c1", "proj1"), ("c2", "proj1"),
            ("b1", "proj2"), ("c1", "proj2"), ("c2", "proj2"),
        ],
    )
    return records, pairs, rel


def test_collective_links_ambiguous_pair_attr_only_does_not(spark):
    records, pairs, rel = _bg_scenario(spark)
    # alpha=0.6: combined(a1,b1) needs rel_sim >= (0.7 - 0.3) / 0.4 = 1.0
    # N(a1) = {c1, c2} = N(b1) under ANY assignment that keeps c1/c2
    # apart from a1/b1 -> rel_sim = 1.0 from round 1.
    asg, rounds = collective_link(
        records, pairs, rel, alpha=0.6, threshold=0.7, max_rounds=4
    )
    ents = {r["record_id"]: r["entity_id"] for r in asg.collect()}
    assert ents["a1"] == ents["a2"] == ents["b1"] == ents["b2"]
    assert ents["c1"] != ents["a1"] and ents["c1"] != ents["c2"]
    # attribute-only: the ambiguous pair must NOT link
    asg1, _ = collective_link(
        records, pairs, rel, alpha=1.0, threshold=0.7, max_rounds=4
    )
    e1 = {r["record_id"]: r["entity_id"] for r in asg1.collect()}
    assert e1["a1"] == e1["a2"] and e1["b1"] == e1["b2"]
    assert e1["a1"] != e1["b1"]


def test_collective_converges_and_reports_rounds(spark):
    records, pairs, rel = _bg_scenario(spark)
    asg, rounds = collective_link(
        records, pairs, rel, alpha=0.6, threshold=0.7, max_rounds=5
    )
    # terminated before the bound, last round added nothing
    assert len(rounds) < 5
    assert rounds[-1]["new_merges"] == 0
    # entity count monotonically non-increasing
    counts = [r["n_entities"] for r in rounds]
    assert counts == sorted(counts, reverse=True)


def test_collective_alpha1_equals_threshold_clustering(spark):
    records, pairs, rel = _bg_scenario(spark)
    from record_linkage_spark.operators.clustering import assign_entities

    asg, _ = collective_link(
        records, pairs, rel, alpha=1.0, threshold=0.7, max_rounds=3
    )
    edges = pairs.filter(F.col("attr_score") >= 0.7).select(
        F.col("id_A").alias("src"), F.col("id_B").alias("dst")
    )
    want = assign_entities(
        records.select(F.col("record_id").alias("conv_id")), edges
    )
    got = {(r["record_id"], r["entity_id"]) for r in asg.collect()}
    exp = {(r["conv_id"], r["entity_id"]) for r in want.collect()}
    assert got == exp


def test_collective_deterministic_across_partitionings(spark):
    records, pairs, rel = _bg_scenario(spark)
    a1, _ = collective_link(
        records.repartition(1), pairs.repartition(1), rel.repartition(1),
        alpha=0.6, threshold=0.7,
    )
    a2, _ = collective_link(
        records.repartition(7), pairs.repartition(5), rel.repartition(3),
        alpha=0.6, threshold=0.7,
    )
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


# ------------------------------------------------------- triangle audit


def _scored(spark, rows):
    return spark.createDataFrame(rows, "id_A string, id_B string, score double")


def test_triangle_missing_and_weak_closures(spark):
    s = _scored(
        spark,
        [
            ("a", "b", 0.9), ("b", "c", 0.9),              # closing a-c absent
            ("d", "e", 0.9), ("e", "f", 0.9), ("d", "f", 0.2),  # weak
            ("g", "h", 0.9), ("h", "i", 0.9), ("g", "i", 0.8),  # consistent
        ],
    )
    out = {
        (r["id_a"], r["id_center"], r["id_c"]): r["status"]
        for r in triangle_inconsistencies(s, threshold=0.7).collect()
    }
    assert out == {("a", "b", "c"): "missing", ("d", "e", "f"): "weak"}


def test_triangle_orientation_of_closing_edge_is_canonical(spark):
    # closing edge stored reversed (c, a) must still be found
    s = _scored(spark, [("a", "b", 0.9), ("c", "b", 0.9), ("c", "a", 0.75)])
    assert triangle_inconsistencies(s, threshold=0.7).count() == 0


def test_triangle_hub_guard_and_report(spark):
    hub = [("h", f"x{i}", 0.9) for i in range(5)]
    s = _scored(spark, hub + [("p", "q", 0.9), ("q", "r", 0.9)])
    out = triangle_inconsistencies(s, threshold=0.7, max_degree=3).collect()
    # hub wedges excluded; the p-q-r wedge survives
    assert {(r["id_a"], r["id_center"], r["id_c"]) for r in out} == {
        ("p", "q", "r")
    }
    hubs = hub_centers(s, threshold=0.7, max_degree=3).collect()
    assert [(h["node"], h["strong_degree"]) for h in hubs] == [("h", 5)]


# ------------------------------------------------- relation extraction


def test_transcript_tool_relations_ngram_truth_table(spark):
    """Ordered tool bigrams per conversation; null tools skipped,
    too-short conversations emit nothing, repeated grams dedup."""
    from record_linkage_spark.operators.collective import (
        transcript_tool_relations,
    )

    t = spark.createDataFrame(
        [
            # c1: tools a(0), b(2), c(5) -> a>b, b>c
            ("c1", 0, "tool", "a"),
            ("c1", 1, "user", None),
            ("c1", 2, "tool", "b"),
            ("c1", 5, "tool", "c"),
            # c2: single tool -> no bigrams
            ("c2", 0, "tool", "x"),
            # c3: a,b,a,b -> a>b, b>a (deduped)
            ("c3", 0, "tool", "a"),
            ("c3", 1, "tool", "b"),
            ("c3", 2, "tool", "a"),
            ("c3", 3, "tool", "b"),
        ],
        "conv_id string, turn_idx int, role string, tool string",
    )
    got = {
        (r.conv_id, r.rel_key)
        for r in transcript_tool_relations(t, n=2).collect()
    }
    assert got == {
        ("c1", "a>b"),
        ("c1", "b>c"),
        ("c3", "a>b"),
        ("c3", "b>a"),
    }
    # n=1: unigram keys, c2 included
    got1 = {
        (r.conv_id, r.rel_key)
        for r in transcript_tool_relations(t, n=1).collect()
    }
    assert ("c2", "x") in got1 and ("c1", "a") in got1
