"""Hierarchical (average-linkage) clustering of scored pairs — the
Dedupe-library ``partition`` semantics per connected component.

The distributed result is pinned against:
  - hand-computed truth tables (chain splitting vs CC fusion),
  - a from-scratch naive UPGMA that recomputes every cluster-pair mean
    from the ORIGINAL distance matrix (an independent check of the
    Lance-Williams bookkeeping),
  - partitioning invariance,
  - the oversized-component fallback.
"""

import itertools
import random

from pyspark.sql import functions as F

from record_linkage_spark.operators.clustering import (
    _avg_linkage_labels,
    connected_components,
    hierarchical_clusters,
)


def _pairs_df(spark, rows, parts=None):
    df = spark.createDataFrame(rows, "conv_id_a string, conv_id_b string, score double")
    return df.repartition(parts) if parts else df


def _result(df):
    return {r.conv_id: r.entity_id for r in df.collect()}


def naive_upgma(members, dist_map, cut):
    """From-scratch UPGMA: mean cross-pair distance recomputed from the
    original matrix at every step; merge while the best mean <= cut,
    tie-break (distance, smallest first member i, smallest first member j).
    """
    members = sorted(members)

    def d0(x, y):
        lo, hi = (x, y) if x < y else (y, x)
        return dist_map.get((lo, hi), 1.0)

    clusters = [[m] for m in members]
    while len(clusters) > 1:
        best = None
        for i, j in itertools.combinations(range(len(clusters)), 2):
            dd = sum(d0(x, y) for x in clusters[i] for y in clusters[j]) / (
                len(clusters[i]) * len(clusters[j])
            )
            key = (dd, clusters[i][0], clusters[j][0])
            if best is None or key < best[0]:
                best = (key, i, j)
        (dd, _, _), i, j = best
        if not (dd <= cut):
            break
        merged = sorted(clusters[i] + clusters[j])
        clusters = [c for k, c in enumerate(clusters) if k not in (i, j)]
        clusters.append(merged)
        clusters.sort(key=lambda c: c[0])
    out = {}
    for c in clusters:
        for m in c:
            out[m] = c[0]
    return out


def test_chain_splits_where_cc_fuses(spark):
    # a-b and b-c strong, a-c good, c-d weak: HAC keeps {a,b,c} and {d},
    # CC fuses all four through the weak bridge.
    rows = [
        ("a", "b", 0.95),
        ("b", "c", 0.95),
        ("a", "c", 0.90),
        ("c", "d", 0.55),
    ]
    got = _result(hierarchical_clusters(_pairs_df(spark, rows), threshold=0.7))
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d"}
    cc = connected_components(
        _pairs_df(spark, rows).select(
            F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst")
        )
    )
    assert {r.entity_id for r in cc.collect()} == {"a"}  # one fused entity


def test_unscored_cross_pairs_block_average_merge(spark):
    # two tight pairs joined by one weak bridge: component is one CC
    # block, but the average distance across groups stays above the cut.
    rows = [("a", "b", 0.9), ("c", "d", 0.9), ("b", "c", 0.2)]
    got = _result(hierarchical_clusters(_pairs_df(spark, rows), threshold=0.7))
    assert got == {"a": "a", "b": "a", "c": "c", "d": "c"}


def test_duplicate_and_reversed_pairs_take_max_score(spark):
    rows = [("b", "a", 0.4), ("a", "b", 0.9), ("a", "b", 0.6)]
    got = _result(hierarchical_clusters(_pairs_df(spark, rows), threshold=0.8))
    assert got == {"a": "a", "b": "a"}


def test_matches_naive_upgma_on_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(4):
        ids = [f"r{trial}{i:02d}" for i in range(14)]
        rows, dist_map = [], {}
        for x, y in itertools.combinations(ids, 2):
            if rng.random() < 0.35:
                s = rng.uniform(0.05, 0.99)
                rows.append((x, y, s))
                dist_map[(x, y)] = min(max(1.0 - s, 0.0), 1.0)
        cut = rng.uniform(0.2, 0.6)
        got = _result(
            hierarchical_clusters(
                _pairs_df(spark, rows, parts=5), threshold=1.0 - cut
            )
        )
        # naive reference per connected component
        want = {}
        seen = set()
        adj = {}
        for x, y, _ in rows:
            adj.setdefault(x, set()).add(y)
            adj.setdefault(y, set()).add(x)
        for root in sorted(adj):
            if root in seen:
                continue
            comp, stack = set(), [root]
            while stack:
                n = stack.pop()
                if n in comp:
                    continue
                comp.add(n)
                stack.extend(adj[n] - comp)
            seen |= comp
            want.update(naive_upgma(comp, dist_map, cut))
        assert got == want, f"trial {trial} diverged from naive UPGMA"


def test_partitioning_invariance(spark):
    rng = random.Random(11)
    ids = [f"p{i:02d}" for i in range(20)]
    rows = [
        (x, y, rng.uniform(0.1, 0.99))
        for x, y in itertools.combinations(ids, 2)
        if rng.random() < 0.3
    ]
    a = _result(hierarchical_clusters(_pairs_df(spark, rows, parts=1), 0.6))
    b = _result(hierarchical_clusters(_pairs_df(spark, rows, parts=16), 0.6))
    assert a == b


def test_oversized_component_falls_back_to_transitive(spark):
    rows = [("a", "b", 0.9), ("b", "c", 0.2), ("c", "d", 0.9)]
    got = _result(
        hierarchical_clusters(_pairs_df(spark, rows), 0.7, max_component=3)
    )
    # 4-member component > cap: the whole component takes the CC answer
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_kernel_tiebreak_is_canonical():
    # two equal-distance merge candidates: (a,b) and (c,d) both at 0.1 —
    # the canonical order merges (a,b) first; with cut below the cross
    # averages the final labels are the same either way, so pin the
    # 3-member case where order matters: b equidistant to a and c.
    members = ["a", "b", "c"]
    import numpy as np

    dist = np.ones((3, 3))
    np.fill_diagonal(dist, 0.0)
    dist[0, 1] = dist[1, 0] = 0.1  # a-b
    dist[1, 2] = dist[2, 1] = 0.1  # b-c
    labels = _avg_linkage_labels(members, dist, cut=0.2)
    # (a,b) merges first (smallest labels); {a,b}-c average = 0.55 > cut
    assert labels == ["a", "a", "c"]
