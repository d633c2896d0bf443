"""Blocking truth tables ported 1:1 from the reference
(``tests/test_blocking_generate.py:6-59``) onto the transcript analogue
columns, plus generator-form (salted self-join) invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from record_linkage_spark.operators.blocking import (
    apply_blocking_filter,
    blocking_metrics,
    candidate_pairs,
)

PAIR_SCHEMA = (
    "id_A string, id_B string, "
    "text_len_bucket_A int, text_len_bucket_B int, "
    "first_text_norm_A string, first_text_norm_B string, "
    "last_text_norm_A string, last_text_norm_B string, "
    "primary_tool_A string, primary_tool_B string"
)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, PAIR_SCHEMA)


def test_b1_passes_same_bucket_same_text(spark):
    # reference: same year + case-insensitively same manufacturer -> pass
    df = _pairs(
        spark,
        [("a", "b", 2, 2, "toyota camry le", "toyota camry le", "x", "x", None, None)],
    )
    assert apply_blocking_filter(df, "B1").count() == 1


def test_b1_fails_on_bucket_mismatch(spark):
    # reference: year mismatch -> fail
    df = _pairs(
        spark,
        [("a", "b", 2, 3, "toyota camry le", "toyota camry le", "x", "x", None, None)],
    )
    assert apply_blocking_filter(df, "B1").count() == 0


def test_b1_fails_on_low_jw(spark):
    # same prefix3 but divergent tail below 0.95
    df = _pairs(
        spark,
        [("a", "b", 2, 2, "toyabcdefgh", "toyzzzzyxwv", "x", "x", None, None)],
    )
    assert apply_blocking_filter(df, "B1").count() == 0


def test_b1_fails_on_null_key(spark):
    df = _pairs(spark, [("a", "b", 2, 2, None, None, "x", "x", None, None)])
    assert apply_blocking_filter(df, "B1").count() == 0


def test_b2_passes_with_model_and_fuel_agreement(spark):
    # reference: B1 + model prefix + JW(model) + fuel exact -> pass
    df = _pairs(
        spark,
        [
            (
                "a",
                "b",
                2,
                2,
                "toyota camry le",
                "toyota camry le",
                "thanks for the help",
                "thanks for the helps",
                "search",
                "search",
            )
        ],
    )
    assert apply_blocking_filter(df, "B2").count() == 1


def test_b2_fails_on_tool_mismatch(spark):
    # reference: fuel mismatch -> fail
    df = _pairs(
        spark,
        [
            (
                "a",
                "b",
                2,
                2,
                "toyota camry le",
                "toyota camry le",
                "thanks for the help",
                "thanks for the help",
                "search",
                "browser",
            )
        ],
    )
    assert apply_blocking_filter(df, "B2").count() == 0


@pytest.mark.parametrize("strategy", ["B1", "B2", "P1"])
def test_candidate_generator_matches_filter_form(spark, strategy):
    """Generator-form pairs == filter-form pairs over the full cross join
    (on a small profile table where O(n^2) is checkable), for every
    strategy: both forms are built from the same cascade definition."""
    profiles = spark.createDataFrame(
        [
            ("c1", 1, "hello world foo", "bye now", "search", 3),
            ("c2", 1, "hello world foo", "bye now later", "search", 3),
            ("c3", 1, "hello world bar", "bye now", "search", 3),
            ("c4", 2, "hello world foo", "bye now", "search", 3),  # bucket differs
            ("c5", 1, "completely different", "bye", "browser", 3),
            # P1's phonetic key: smith/smyth share a Soundex code
            ("a", 2, "smith visits the records office", "x", None, 2),
            ("b", 2, "smyth visits the records office", "x", None, 2),
            ("c", 2, "jones visits the records office", "x", None, 2),
            ("d", 3, "smith visits the records office", "x", None, 2),
        ],
        "conv_id string, text_len_bucket int, first_text_norm string, "
        "last_text_norm string, primary_tool string, n_turns int",
    )
    got = {
        (r.id_A, r.id_B)
        for r in candidate_pairs(profiles, strategy, salt_target=2).collect()
    }
    # cross-check with brute force filter form
    a = profiles.select(
        F.col("conv_id").alias("id_A"),
        *[F.col(c).alias(f"{c}_A") for c in profiles.columns if c != "conv_id"],
    )
    b = profiles.select(
        F.col("conv_id").alias("id_B"),
        *[F.col(c).alias(f"{c}_B") for c in profiles.columns if c != "conv_id"],
    )
    brute = a.crossJoin(b).filter(F.col("id_A") < F.col("id_B"))
    exp = {
        (r.id_A, r.id_B)
        for r in apply_blocking_filter(brute, strategy).collect()
    }
    assert got == exp and len(got) > 0
    # only the phonetic key pairs the typo the first-3-chars key splits
    assert {p for p in got if p[0] in {"a", "b", "c", "d"}} == (
        {("a", "b")} if strategy == "P1" else set()
    )


def test_candidate_generator_salting_invariance(spark):
    """Salt fan-out must not change the candidate set (completeness of the
    replicate-explode salted self-join)."""
    rows = [
        (f"c{i}", 1, "same text here always", "tail", "search", 3) for i in range(30)
    ]
    profiles = spark.createDataFrame(
        rows,
        "conv_id string, text_len_bucket int, first_text_norm string, "
        "last_text_norm string, primary_tool string, n_turns int",
    )
    small_salt = {
        (r.id_A, r.id_B) for r in candidate_pairs(profiles, "B1", salt_target=5).collect()
    }
    no_salt = {
        (r.id_A, r.id_B)
        for r in candidate_pairs(profiles, "B1", salt_target=10_000).collect()
    }
    assert small_salt == no_salt == {(f"c{i}", f"c{j}") for i in range(30) for j in range(30) if f"c{i}" < f"c{j}"}


def test_blocking_metrics(spark):
    gt = spark.createDataFrame(
        [("a", "b", 1), ("c", "d", 1), ("e", "f", 0), ("g", "h", 0)],
        "id_A string, id_B string, label int",
    )
    cand = spark.createDataFrame([("a", "b"), ("e", "f")], "id_A string, id_B string")
    m = blocking_metrics(gt, cand, "B1")
    assert m["positives_in_test"] == 2
    assert m["positives_captured"] == 1
    assert m["blocking_recall"] == 0.5
    assert m["n_candidates"] == 2
    assert m["reduction_ratio_vs_test"] == 0.5


def test_sorted_neighborhood_pairs_matches_naive(spark):
    """Scale-safe global rank + bucket join == the naive sorted-window
    definition, and is invariant to the partition count."""
    from record_linkage_spark.operators.blocking import sorted_neighborhood_pairs

    rows = [(f"id{i:03d}", f"k{(i * 37) % 50:03d}") for i in range(120)]
    df = spark.createDataFrame(rows, "conv_id string, token_prefix string")
    w = 4

    order = sorted(rows, key=lambda r: (r[1], r[0]))
    expected = {
        (order[i][0], order[j][0])
        for i in range(len(order))
        for j in range(i + 1, min(i + w + 1, len(order)))
    }

    for parts in (3, 11):
        got = {
            (r.id_A, r.id_B)
            for r in sorted_neighborhood_pairs(
                df, "token_prefix", window=w, num_partitions=parts
            ).collect()
        }
        assert got == expected


def test_salted_join_complete_under_heavy_skew(spark):
    """One mega-block far above the salt target: the salted self-join
    (one-side explode) must still emit every within-block pair exactly
    once. 600 rows in a single block, salt_target=100 -> fan-out 6."""
    from pyspark.sql import functions as F

    from record_linkage_spark.operators.blocking import candidate_pairs

    n = 600
    df = spark.range(n).select(
        F.concat(F.lit("c"), F.lpad(F.col("id").cast("string"), 4, "0")).alias("conv_id"),
        F.lit(1).alias("text_len_bucket"),
        F.lit("same text for every record").alias("first_text_norm"),
        F.lit("same").alias("last_text_norm"),
        F.lit("t").alias("primary_tool"),
    )
    out = candidate_pairs(df, "B1", salt_target=100)
    cnt = out.count()
    assert cnt == n * (n - 1) // 2
    # and exactly once: distinct == total
    assert out.select("id_A", "id_B").distinct().count() == cnt


def test_p1_phonetic_blocks_misspelled_first_token(spark):
    """P1 (Soundex-of-first-token key): smith/smyth share S530 so the
    typo'd duplicate pair survives where B1's first-3-chars key splits
    it; an unrelated first word fails the phonetic key."""
    same_sound = (
        "a", "b", 2, 2,
        "smith visits the records office", "smyth visits the records office",
        "x", "x", None, None,
    )
    diff_sound = (
        "a", "c", 2, 2,
        "smith visits the records office", "jones visits the records office",
        "x", "x", None, None,
    )
    df = _pairs(spark, [same_sound, diff_sound])
    p1 = {(r["id_A"], r["id_B"]) for r in apply_blocking_filter(df, "P1").collect()}
    b1 = {(r["id_A"], r["id_B"]) for r in apply_blocking_filter(df, "B1").collect()}
    assert p1 == {("a", "b")}
    assert ("a", "b") not in b1  # the prefix key misses the typo pair


def test_p1_phonetic_key_actually_gates(spark):
    """A pair that would pass the JW verify but whose first tokens code
    to DIFFERENT Soundex values (smith S530 vs smits S532) must be
    dropped by the phonetic key itself — this fails if the key
    expression ever degrades to a constant."""
    rows = [(
        "a", "e", 2, 2,
        "smith visits the records office", "smits visits the records office",
        "x", "x", None, None,
    )]
    assert apply_blocking_filter(_pairs(spark, rows), "P1").count() == 0
    assert apply_blocking_filter(_pairs(spark, rows), "B1").count() == 1


def test_salted_join_complete_under_planner_driven_skew(spark):
    """Planner-wired salting (skew.salting_plan drives candidate_pairs'
    fan-out): a corpus where ONE block holds half the rows — the shape
    the proportional rule exists for — still emits every within-block
    pair exactly once, and the cold blocks' pairs are unaffected."""
    from pyspark.sql import functions as F

    from record_linkage_spark.operators.blocking import candidate_pairs

    hot = spark.range(300).select(
        F.concat(F.lit("h"), F.lpad(F.col("id").cast("string"), 4, "0")).alias("conv_id"),
        F.lit(1).alias("text_len_bucket"),
        F.lit("identical hot block text").alias("first_text_norm"),
        F.lit("same").alias("last_text_norm"),
        F.lit("t").alias("primary_tool"),
    )
    cold = spark.range(300).select(
        F.concat(F.lit("c"), F.lpad(F.col("id").cast("string"), 4, "0")).alias("conv_id"),
        F.lit(2).alias("text_len_bucket"),
        # 100 cold blocks of 3 rows each (distinct first-3-char prefixes)
        F.concat((F.col("id") % 100).cast("string"), F.lit("xx suffix")).alias("first_text_norm"),
        F.concat((F.col("id") % 100).cast("string"), F.lit("end")).alias("last_text_norm"),
        F.lit("t").alias("primary_tool"),
    )
    out = candidate_pairs(hot.unionByName(cold), "B1", salt_target=50)
    got = out.groupBy("block_key").count().collect()
    by_key = {r.block_key: r["count"] for r in got}
    hot_key = [k for k in by_key if "ide" in k]
    assert len(hot_key) == 1
    assert by_key[hot_key[0]] == 300 * 299 // 2
    # exactly once globally
    assert out.count() == out.select("id_A", "id_B").distinct().count()
    # every cold block of 3 contributes exactly C(3,2)=3 pairs
    cold_counts = [v for k, v in by_key.items() if k != hot_key[0]]
    assert len(cold_counts) == 100 and all(v == 3 for v in cold_counts)
