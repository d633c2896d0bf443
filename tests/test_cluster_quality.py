"""Pair-counting cluster metrics (ARI family), cohesion/merge diagnostics,
and pivot-based correlation clustering.

The metric tests check the distributed aggregation against a brute-force
pure-python pair enumeration computed inside the test; correlation
clustering is checked for EXACT equality with the sequential QwickCluster
greedy scan under the same hash permutation (the Chierichetti-Dalvi-Kumar
simulation property the implementation relies on)."""

from __future__ import annotations

from itertools import combinations

import pytest
from pyspark.sql import functions as F

from record_linkage_spark.operators.clustering import (
    connected_components,
    correlation_clustering,
)
from record_linkage_spark.operators.evaluate import (
    cluster_cohesion,
    merge_candidates,
    pair_counting_metrics,
)


def _brute_pair_metrics(pred: dict, truth: dict):
    """Reference implementation: enumerate all record pairs."""
    ids = sorted(pred)
    tp = fp = fn = tn = 0
    for a, b in combinations(ids, 2):
        same_c = pred[a] == pred[b]
        same_k = truth[a] == truth[b]
        if same_c and same_k:
            tp += 1
        elif same_c:
            fp += 1
        elif same_k:
            fn += 1
        else:
            tn += 1
    tot = tp + fp + fn + tn
    pred_pairs, true_pairs = tp + fp, tp + fn
    precision = tp / pred_pairs if pred_pairs else 0.0
    recall = tp / true_pairs if true_pairs else 0.0
    f1 = (
        2 * tp / (pred_pairs + true_pairs) if pred_pairs + true_pairs else 0.0
    )
    rand = (tp + tn) / tot if tot else 1.0
    expected = pred_pairs * true_pairs / tot if tot else 0.0
    max_index = (pred_pairs + true_pairs) / 2
    ari = (
        (tp - expected) / (max_index - expected)
        if max_index - expected != 0
        else 1.0
    )
    return dict(
        tp=tp, fp=fp, fn=fn, tn=tn, precision=precision, recall=recall,
        f1=f1, rand=rand, ari=ari,
    )


def _metrics_df(spark, pred: dict, truth: dict):
    a = spark.createDataFrame(
        [(k, v) for k, v in pred.items()], "conv_id string, entity_id string"
    )
    t = spark.createDataFrame(
        [(k, v) for k, v in truth.items()], "conv_id string, entity_key string"
    )
    return pair_counting_metrics(a, t).first()


def test_pair_counting_matches_bruteforce(spark):
    # 10 records, imperfect clustering: splits, merges, singletons
    truth = {f"r{i}": f"K{i // 3}" for i in range(10)}  # classes of 3/3/3/1
    pred = {
        "r0": "A", "r1": "A", "r2": "B",   # K0 split across A/B
        "r3": "B", "r4": "B", "r5": "B",   # K1 merged into B with r2
        "r6": "C", "r7": "C", "r8": "C",   # K2 exact
        "r9": "D",                          # singleton
    }
    want = _brute_pair_metrics(pred, truth)
    row = _metrics_df(spark, pred, truth)
    assert int(row.n_records) == 10
    assert (int(row.tp), int(row.fp), int(row.fn), int(row.tn)) == (
        want["tp"], want["fp"], want["fn"], want["tn"],
    )
    assert row.pairwise_precision == pytest.approx(want["precision"], abs=1e-6)
    assert row.pairwise_recall == pytest.approx(want["recall"], abs=1e-6)
    assert row.pairwise_f1 == pytest.approx(want["f1"], abs=1e-6)
    assert row.rand_index == pytest.approx(want["rand"], abs=1e-6)
    assert row.adjusted_rand == pytest.approx(want["ari"], abs=1e-6)


def test_ari_extremes(spark):
    truth = {f"r{i}": f"K{i % 2}" for i in range(8)}
    # identical partitions -> every metric is 1.0
    row = _metrics_df(spark, {k: "P" + v for k, v in truth.items()}, truth)
    assert row.adjusted_rand == 1.0 and row.pairwise_f1 == 1.0
    # everything in one cluster -> recall 1, ARI ~0 (chance-corrected)
    row = _metrics_df(spark, {k: "ALL" for k in truth}, truth)
    want = _brute_pair_metrics({k: "ALL" for k in truth}, truth)
    assert row.pairwise_recall == 1.0
    assert row.adjusted_rand == pytest.approx(want["ari"], abs=1e-6)
    assert abs(row.adjusted_rand) < 0.2  # near-chance


def _brute_v_measure(pred: dict, truth: dict):
    """Reference implementation: entropies from explicit distributions."""
    from collections import Counter
    from math import log, sqrt

    n = len(pred)
    cont = Counter((pred[i], truth[i]) for i in pred)
    csz = Counter(pred.values())
    ksz = Counter(truth.values())
    h_c = -sum(v / n * log(v / n) for v in ksz.values())
    h_k = -sum(v / n * log(v / n) for v in csz.values())
    h_ck = -sum(v / n * log(v / csz[c]) for (c, k), v in cont.items())
    h_kc = -sum(v / n * log(v / ksz[k]) for (c, k), v in cont.items())
    hom = 1.0 if h_c <= 0 else 1 - h_ck / h_c
    com = 1.0 if h_k <= 0 else 1 - h_kc / h_k
    v = 2 * hom * com / (hom + com) if hom + com > 0 else 0.0
    mi = h_c - h_ck
    nmi = mi / sqrt(h_c * h_k) if h_c > 0 and h_k > 0 else 0.0
    return dict(h_c=h_c, h_k=h_k, hom=hom, com=com, v=v, mi=mi, nmi=nmi)


def _vm_df(spark, pred: dict, truth: dict):
    from record_linkage_spark.operators.evaluate import v_measure_metrics

    a = spark.createDataFrame(
        [(k, v) for k, v in pred.items()], "conv_id string, entity_id string"
    )
    t = spark.createDataFrame(
        [(k, v) for k, v in truth.items()], "conv_id string, entity_key string"
    )
    return v_measure_metrics(a, t).first()


def test_v_measure_hand_computed(spark):
    # Rosenberg-Hirschberg symmetric worked example: clusters {123}{456},
    # classes {124}{356} — contingency [[2,1],[1,2]], so hom == com == v.
    pred = {"x1": "c1", "x2": "c1", "x3": "c1", "x4": "c2", "x5": "c2", "x6": "c2"}
    truth = {"x1": "k1", "x2": "k1", "x3": "k2", "x4": "k1", "x5": "k2", "x6": "k2"}
    r = _vm_df(spark, pred, truth)
    assert r.n_records == 6
    assert r.h_class == r.h_cluster == round(0.6931471805599453, 6)
    assert r.homogeneity == r.completeness == r.v_measure == 0.081704
    assert r.nmi == 0.081704
    assert r.mutual_info == 0.056633


def test_v_measure_extremes(spark):
    # perfect clustering: everything 1.0
    pred = {"a": "1", "b": "1", "c": "2", "d": "2"}
    truth = {"a": "x", "b": "x", "c": "y", "d": "y"}
    r = _vm_df(spark, pred, truth)
    assert (r.homogeneity, r.completeness, r.v_measure, r.nmi) == (1.0,) * 4
    # one giant cluster vs distinct classes: complete but not homogeneous
    pred = {"a": "1", "b": "1", "c": "1", "d": "1"}
    r = _vm_df(spark, pred, truth)
    assert r.homogeneity == 0.0 and r.completeness == 1.0
    assert r.v_measure == 0.0 and r.nmi == 0.0
    # singleton clusters vs one class: homogeneous but incomplete
    pred = {"a": "1", "b": "2", "c": "3", "d": "4"}
    truth = {"a": "x", "b": "x", "c": "x", "d": "x"}
    r = _vm_df(spark, pred, truth)
    assert r.homogeneity == 1.0 and r.completeness == 0.0


def test_v_measure_matches_bruteforce(spark):
    import random

    rng = random.Random(5)
    pred = {f"r{i:02d}": f"c{rng.randrange(4)}" for i in range(40)}
    truth = {f"r{i:02d}": f"k{rng.randrange(3)}" for i in range(40)}
    r = _vm_df(spark, pred, truth)
    want = _brute_v_measure(pred, truth)
    assert r.homogeneity == round(want["hom"], 6)
    assert r.completeness == round(want["com"], 6)
    assert r.v_measure == round(want["v"], 6)
    assert r.nmi == round(want["nmi"], 6)
    assert r.mutual_info == round(want["mi"], 6)
    assert r.h_class == round(want["h_c"], 6)
    assert r.h_cluster == round(want["h_k"], 6)


def test_cohesion_report(spark):
    a = spark.createDataFrame(
        [("a", "E1"), ("b", "E1"), ("c", "E1"), ("d", "E2"), ("e", "E2")],
        "conv_id string, entity_id string",
    )
    pairs = spark.createDataFrame(
        [
            ("a", "b", 0.9),   # within E1, ok
            ("b", "c", 0.3),   # within E1, conflict (< 0.5)
            ("a", "d", 0.8),   # cross E1-E2
            ("d", "e", 0.7),   # within E2, ok
        ],
        "id_A string, id_B string, score double",
    )
    rows = {
        r.entity_id: r
        for r in cluster_cohesion(a, pairs, threshold=0.5).collect()
    }
    e1, e2 = rows["E1"], rows["E2"]
    assert (e1.n_members, e1.n_scored_within, e1.n_conflicts) == (3, 2, 1)
    assert e1.min_score == pytest.approx(0.3)
    assert e1.avg_score == pytest.approx(0.6)
    assert int(e1.n_unscored_pairs) == 1  # C(3,2)=3 pairs, 2 scored
    assert (e2.n_members, e2.n_scored_within, e2.n_conflicts) == (2, 1, 0)
    assert int(e2.n_unscored_pairs) == 0
    # entity with no scored pairs at all: null min/avg, all pairs unscored
    a3 = a.union(
        spark.createDataFrame([("x", "E3"), ("y", "E3")], a.schema)
    )
    e3 = {
        r.entity_id: r
        for r in cluster_cohesion(a3, pairs, threshold=0.5).collect()
    }["E3"]
    assert (e3.n_scored_within, e3.n_conflicts, int(e3.n_unscored_pairs)) == (0, 0, 1)
    assert e3.min_score is None


def test_merge_candidates(spark):
    a = spark.createDataFrame(
        [("a", "E1"), ("b", "E1"), ("d", "E2"), ("e", "E3")],
        "conv_id string, entity_id string",
    )
    pairs = spark.createDataFrame(
        [
            ("a", "d", 0.9),   # E1-E2 strong
            ("b", "d", 0.95),  # E1-E2 strong (second edge)
            ("d", "e", 0.2),   # E2-E3 weak: filtered
            ("a", "b", 0.99),  # within E1: ignored
        ],
        "id_A string, id_B string, score double",
    )
    rows = merge_candidates(a, pairs, threshold=0.5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.entity_lo, r.entity_hi, r.n_edges) == ("E1", "E2", 2)
    assert r.max_score == pytest.approx(0.95)


# ---------------------------------------------------------------------------
# correlation clustering (parallel pivot)
# ---------------------------------------------------------------------------


def _pi(spark, nodes: list[str], seed: int) -> dict:
    df = spark.createDataFrame([(n,) for n in nodes], "n string").select(
        "n", F.xxhash64(F.lit(seed), F.col("n")).alias("h")
    )
    return {r.n: (r.h, r.n) for r in df.collect()}


def _sequential_pivot(edges: list[tuple], pi: dict) -> dict:
    """Greedy QwickCluster scan in permutation order."""
    adj: dict[str, set] = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    active = set(adj)
    assign = {}
    for v in sorted(adj, key=lambda n: pi[n]):
        if v not in active:
            continue
        cluster = {v} | (adj[v] & active)
        for u in cluster:
            assign[u] = v
        active -= cluster
    return assign


def _random_graph(n_nodes=60, n_edges=120, seed=7):
    import random

    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(n_nodes)]
    edges = set()
    while len(edges) < n_edges:
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    return sorted(edges)


def test_correlation_clustering_equals_sequential_pivot(spark):
    edges = _random_graph()
    nodes = sorted({x for e in edges for x in e})
    df = spark.createDataFrame(edges, "src string, dst string")
    # several permutations: membership must match the sequential scan's
    # global first-adjacent-center rule, not a per-round approximation
    for seed in (42, 7, 19):
        pi = _pi(spark, nodes, seed=seed)
        want = _sequential_pivot(edges, pi)
        got = {
            r.conv_id: r.entity_id
            for r in correlation_clustering(df, seed=seed).collect()
        }
        assert got == want, f"seed={seed}"


def test_correlation_clusters_have_radius_one(spark):
    edges = _random_graph(n_nodes=40, n_edges=90, seed=11)
    nbrs: dict[str, set] = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    got = correlation_clustering(
        spark.createDataFrame(edges, "src string, dst string"), seed=1
    ).collect()
    for r in got:
        assert r.conv_id == r.entity_id or r.conv_id in nbrs[r.entity_id]


def test_correlation_splits_noisy_chain_cc_merges(spark):
    # a path a-b-c-d-e: transitive closure fuses all five into one entity;
    # pivot clustering bounds clusters to pivot+neighbors (radius 1), so
    # the chain breaks into >= 2 clusters — the noise-robustness property
    chain = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(chain, "src string, dst string")
    cc = connected_components(df)
    assert cc.select("entity_id").distinct().count() == 1
    corr = correlation_clustering(df, seed=42)
    assert corr.select("entity_id").distinct().count() >= 2
    assert corr.count() == 5  # every node assigned exactly once
    assert corr.select("conv_id").distinct().count() == 5


def test_correlation_clustering_parallelism_invariance(spark):
    edges = _random_graph(n_nodes=50, n_edges=100, seed=3)
    df = spark.createDataFrame(edges, "src string, dst string")
    r1 = sorted(
        (r.conv_id, r.entity_id)
        for r in correlation_clustering(df.repartition(1), seed=5).collect()
    )
    r8 = sorted(
        (r.conv_id, r.entity_id)
        for r in correlation_clustering(df.repartition(8), seed=5).collect()
    )
    assert r1 == r8


def test_correlation_clustering_empty(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert correlation_clustering(df).count() == 0


def _star_order(spark, edges: list[tuple], seed: int) -> dict:
    """Rank key (degree desc, hash, id) — the star clusterer's static
    total order."""
    deg: dict[str, int] = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    h = _pi(spark, sorted(deg), seed=seed)
    return {n: (-deg[n], h[n][0], n) for n in deg}


def test_star_clustering_equals_sequential_greedy(spark):
    from record_linkage_spark.operators.clustering import star_clustering

    edges = _random_graph()
    order = _star_order(spark, edges, seed=42)
    want = _sequential_pivot(edges, order)  # same greedy scan, star order
    got = {
        r.conv_id: r.entity_id
        for r in star_clustering(
            spark.createDataFrame(edges, "src string, dst string"), seed=42
        ).collect()
    }
    assert got == want


def test_star_centers_are_local_degree_maxima_round_one(spark):
    """Every entity id is a real record adjacent to its members, and the
    chain-breaking property holds (no snowballing through paths)."""
    from record_linkage_spark.operators.clustering import star_clustering

    chain = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(chain, "src string, dst string")
    star = star_clustering(df, seed=42)
    assert star.count() == 5
    assert star.select("entity_id").distinct().count() >= 2
    nbrs: dict[str, set] = {}
    for u, v in chain:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    for r in star.collect():
        assert r.conv_id == r.entity_id or r.conv_id in nbrs[r.entity_id]


def test_star_clustering_hub_anchors_its_spokes(spark):
    """A hub with 5 spokes plus one stray spoke-spoke edge: the hub (max
    degree) must be the center of every spoke's cluster."""
    from record_linkage_spark.operators.clustering import star_clustering

    edges = [("hub", f"s{i}") for i in range(5)] + [("s0", "s1")]
    got = {
        r.conv_id: r.entity_id
        for r in star_clustering(
            spark.createDataFrame(edges, "src string, dst string"), seed=7
        ).collect()
    }
    assert got == {n: "hub" for n in ["hub", "s0", "s1", "s2", "s3", "s4"]}


def test_star_clustering_parallelism_invariance_and_long_path(spark):
    from record_linkage_spark.operators.clustering import star_clustering

    # 120-node path: id-only tiebreaks would serialize into ~60 rounds
    # and trip max_iterations=64; the hash tiebreak must converge fast
    path = [(f"p{i:03d}", f"p{i+1:03d}") for i in range(120)]
    df = spark.createDataFrame(path, "src string, dst string")
    r1 = sorted(
        (r.conv_id, r.entity_id)
        for r in star_clustering(df.repartition(1), seed=5).collect()
    )
    r8 = sorted(
        (r.conv_id, r.entity_id)
        for r in star_clustering(df.repartition(8), seed=5).collect()
    )
    assert r1 == r8
    assert len(r1) == 121


def test_star_clustering_weighted_anchor(spark):
    """weight_col: total match evidence, not edge count, picks centers —
    a hub with three weak edges loses to a node with two strong ones;
    unweighted star anchors on the raw-degree hub instead."""
    from record_linkage_spark.operators.clustering import star_clustering

    edges = [
        ("hub", "x", 0.2), ("hub", "y", 0.2), ("hub", "z", 0.2),
        ("anchor", "y", 0.9), ("anchor", "z", 0.9),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, score double")
    weighted = {
        r.conv_id: r.entity_id
        for r in star_clustering(df, weight_col="score").collect()
    }
    # anchor: 1.8 total > hub: 0.6 total -> anchor centers y and z
    assert weighted["anchor"] == "anchor"
    assert weighted["y"] == "anchor" and weighted["z"] == "anchor"
    plain = {
        r.conv_id: r.entity_id for r in star_clustering(df).collect()
    }
    # unweighted: hub degree 3 beats anchor degree 2
    assert plain["hub"] == "hub"
    assert plain["x"] == plain["y"] == plain["z"] == "hub"
    # duplicate edges with differing weights: max wins, output stable
    dup = df.union(
        spark.createDataFrame(
            [("y", "anchor", 0.1)], "src string, dst string, score double"
        )
    )
    assert {
        r.conv_id: r.entity_id
        for r in star_clustering(dup, weight_col="score").collect()
    } == weighted
