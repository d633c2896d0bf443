"""One-to-one matching: equality with the sequential greedy reference,
tie-break determinism, and the 1:1 constraint itself."""

import random

from pyspark.sql import functions as F

from record_linkage_spark.operators.matching import one_to_one_matching


def _greedy_reference(rows):
    """Driver-side sequential greedy: sort by (score desc, id_A, id_B),
    accept iff neither endpoint is taken."""
    taken, out = set(), []
    for a, b, s in sorted(rows, key=lambda r: (-r[2], r[0], r[1])):
        if a not in taken and b not in taken:
            taken.update((a, b))
            out.append((a, b, s))
    return sorted(out)


def _pairs(n_nodes=40, n_edges=120, seed=7):
    rng = random.Random(seed)
    seen = set()
    rows = []
    while len(rows) < n_edges:
        a, b = rng.sample(range(n_nodes), 2)
        a, b = min(a, b), max(a, b)
        if (a, b) in seen:
            continue
        seen.add((a, b))
        rows.append((a, b, round(rng.random(), 9)))
    return rows


def test_equals_sequential_greedy(spark):
    rows = _pairs()
    df = spark.createDataFrame(rows, "id_A bigint, id_B bigint, score double")
    got = sorted(map(tuple, one_to_one_matching(df).collect()))
    assert got == _greedy_reference(rows)


def test_one_to_one_constraint_holds(spark):
    rows = _pairs(n_nodes=30, n_edges=100, seed=3)
    df = spark.createDataFrame(rows, "id_A bigint, id_B bigint, score double")
    got = one_to_one_matching(df).collect()
    nodes = [r.id_A for r in got] + [r.id_B for r in got]
    assert len(nodes) == len(set(nodes))  # every node matched at most once


def test_tie_break_is_deterministic(spark):
    # all scores equal: order falls back to (id_A, id_B) — greedy takes
    # (1,2) then (3,4); (2,3) is blocked
    rows = [(1, 2, 0.5), (2, 3, 0.5), (3, 4, 0.5)]
    df = spark.createDataFrame(rows, "id_A bigint, id_B bigint, score double")
    got = sorted((r.id_A, r.id_B) for r in one_to_one_matching(df).collect())
    assert got == [(1, 2), (3, 4)]


def test_deterministic_across_parallelism(spark):
    rows = _pairs(seed=11)
    df = spark.createDataFrame(rows, "id_A bigint, id_B bigint, score double")

    def run(n):
        return sorted(
            map(tuple, one_to_one_matching(df.repartition(n)).collect())
        )

    assert run(1) == run(13)


def test_empty_input(spark):
    df = spark.createDataFrame([], "id_A bigint, id_B bigint, score double")
    assert one_to_one_matching(df).collect() == []
