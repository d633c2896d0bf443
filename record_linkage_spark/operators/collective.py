"""Collective (relational) entity resolution + transitivity auditing.

Attribute-only linkage (the reference's whole pipeline —
``src/matching/logistic_regression.py`` scores each pair from its own
comparison vector) decides every candidate pair INDEPENDENTLY.
Collective ER (Bhattacharya & Getoor, "Collective Entity Resolution in
Relational Data", ACM TKDD 1(1), 2007) lets decisions reinforce each
other through a co-occurrence relation: two records whose neighbors
resolve to the same entities are more likely the same entity, even when
their own attributes are ambiguous. In the transcript domain the
relation is natural — conversations co-occur with tools, participants,
or referenced artifacts — so a (record_id, rel_key) bipartite table is
cheap to extract and carries exactly the evidence attribute comparators
miss.

Three operators, all pure DataFrame compositions:

- :func:`entity_neighborhoods` — (record, rel_key) x (record -> entity)
  => per-record DISTINCT neighbor-entity set, with a hub-key guard and a
  deterministic per-record cap (the meta-blocking ``max_postings``
  discipline: a rel_key touching thousands of entities is a stop word,
  not evidence).
- :func:`neighborhood_jaccard` — attach Jaccard(N(a), N(b)) of the two
  records' neighbor-entity sets to a candidate-pair table.
- :func:`collective_link` — the iterative loop: combined score =
  alpha * attribute score + (1-alpha) * neighborhood Jaccard under the
  CURRENT assignment; edges above threshold accumulate monotonically
  (greedy agglomerative, like the paper's priority-queue merge — once
  merged, never unmerged, so the assignment only coarsens and the loop
  provably terminates); components maintained by graph contraction
  (:func:`~record_linkage_spark.operators.clustering.incremental_components`,
  O(touched) per round, never re-clustering the corpus).

Plus the audit every collective decision list needs:

- :func:`triangle_inconsistencies` — wedges a~b~c whose closing pair
  (a, c) is missing from the candidate set or scored below threshold.
  Transitive clustering will glue those records anyway; this surfaces
  WHERE the scorer and the transitive closure disagree, ranked clerical
  -review input (Wang et al., "CrowdER", VLDB 2012 motivates exactly
  this triangle check for human review).

Scale shape (100 TB discipline):
- every join is an equality join on computed keys; the only fan-out
  joins (rel_key neighborhoods, wedge centers) carry explicit-N
  repartitions on the join key — AQE sizes exchanges by join INPUT
  bytes and is blind to within-key quadratic output (the same defense
  every bucket-style self-join in this repo carries, see
  BENCH/BASELINE.md round-4 session-3).
- hub guards bound the quadratic terms: rel_keys above
  ``max_key_entities`` distinct entities and wedge centers above
  ``max_degree`` strong edges are dropped (reported, not silently —
  callers read the guard columns/counts).
- neighbor sets are capped to ``max_neighbors`` AFTER a sort, so
  truncation is deterministic; per-pair work is O(cap), never O(corpus).
- the iterative loop collects nothing but a 2-number convergence
  signature per round; per-round lineage is cut with lazy
  localCheckpoints materialized by that same signature job (the CC
  loop's fused-job pattern, ``clustering.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from record_linkage_spark.operators.clustering import incremental_components

# a rel_key co-occurring with more distinct entities than this is a hub
# (a stop-word tool, a boilerplate artifact): it contributes O(n^2)
# neighbor rows and near-zero discriminative signal -> dropped
DEFAULT_MAX_KEY_ENTITIES = 64
# deterministic per-record neighbor-entity cap (sorted before slicing)
DEFAULT_MAX_NEIGHBORS = 256


def _nparts(df: DataFrame) -> int:
    return max(df.sparkSession.sparkContext.defaultParallelism * 2, 8)


def entity_neighborhoods(
    relations: DataFrame,
    assignment: DataFrame,
    id_col: str = "record_id",
    rel_col: str = "rel_key",
    entity_col: str = "entity_id",
    max_key_entities: int = DEFAULT_MAX_KEY_ENTITIES,
    max_neighbors: int = DEFAULT_MAX_NEIGHBORS,
) -> DataFrame:
    """Per-record neighbor-entity sets under the current assignment.

    ``relations``: (id_col, rel_col) co-occurrence rows (a record may
    carry many keys). ``assignment``: (id_col, entity_col). A record's
    neighborhood is the DISTINCT set of entity ids reachable through a
    shared rel_key, EXCLUDING its own entity (self-evidence says
    nothing about a merge). Returns (id_col, nbr_entities array,
    n_nbr_entities) — records whose every key was hub-dropped or whose
    only neighbor is themselves get an empty array, not a missing row.

    Plan: two shuffles on rel_key (key->entity dedup + the fan-out
    join, both explicitly repartitioned) and two on record id (the
    assignment join, the final set agg). The (rel_key x entity) join
    output is records_per_key x entities_per_key — bounded by the hub
    guard, spread by the explicit repartition.
    """
    n_parts = _nparts(relations)
    rel = (
        relations.select(
            F.col(id_col).alias("_rid"), F.col(rel_col).alias("_key")
        )
        .filter(F.col("_key").isNotNull())
        .distinct()
    )
    asg = assignment.select(
        F.col(id_col).alias("_rid"), F.col(entity_col).alias("_ent")
    )
    keyed = rel.join(asg, "_rid")  # (_rid, _key, _ent)

    # hub guard: distinct entities per key, keys above the cap dropped
    key_ent = keyed.select("_key", "_ent").distinct()
    kept_keys = (
        key_ent.groupBy("_key")
        .agg(F.count("*").alias("_n_ent"))
        .filter(F.col("_n_ent") <= F.lit(max_key_entities))
        .select("_key")
    )
    key_entities = key_ent.join(kept_keys, "_key").select(
        "_key", F.col("_ent").alias("_nbr_ent")
    )

    # fan-out join: every (record, key) row meets every entity on that
    # key — quadratic within key, hence the explicit repartition
    nbrs = (
        keyed.repartition(n_parts, "_key")
        .join(key_entities.repartition(n_parts, "_key"), "_key")
        .filter(F.col("_nbr_ent") != F.col("_ent"))
        .select("_rid", "_nbr_ent")
        .distinct()
    )
    sets = nbrs.groupBy("_rid").agg(
        F.slice(
            F.sort_array(F.collect_set("_nbr_ent")), 1, max_neighbors
        ).alias("nbr_entities")
    )
    # records with no surviving neighbors -> empty set (a row, so pair
    # hydration below can use inner-join-free coalesce semantics)
    all_ids = asg.select("_rid").distinct()
    empty = F.array().cast(f"array<{dict(asg.dtypes)['_ent']}>")
    return (
        all_ids.join(sets, "_rid", "left")
        .select(
            F.col("_rid").alias(id_col),
            F.coalesce("nbr_entities", empty).alias("nbr_entities"),
        )
        .withColumn("n_nbr_entities", F.size("nbr_entities"))
    )


def neighborhood_jaccard(
    pairs: DataFrame,
    relations: DataFrame,
    assignment: DataFrame,
    id_col: str = "record_id",
    rel_col: str = "rel_key",
    entity_col: str = "entity_id",
    left_col: str = "id_A",
    right_col: str = "id_B",
    out_col: str = "rel_sim",
    max_key_entities: int = DEFAULT_MAX_KEY_ENTITIES,
    max_neighbors: int = DEFAULT_MAX_NEIGHBORS,
) -> DataFrame:
    """Attach Jaccard(N(a), N(b)) of neighbor-entity sets to each
    candidate pair. Pairs where both sets are empty score 0.0 (no
    relational evidence is not evidence of a match).

    The neighborhood table is built ONCE (never per pair) and joined to
    both pair sides; per-pair cost is the codegen'd
    array_intersect/array_union over capped arrays.
    """
    sets = entity_neighborhoods(
        relations,
        assignment,
        id_col=id_col,
        rel_col=rel_col,
        entity_col=entity_col,
        max_key_entities=max_key_entities,
        max_neighbors=max_neighbors,
    ).select(id_col, "nbr_entities")
    sa = sets.select(
        F.col(id_col).alias(left_col), F.col("nbr_entities").alias("_na")
    )
    sb = sets.select(
        F.col(id_col).alias(right_col), F.col("nbr_entities").alias("_nb")
    )
    inter = F.size(F.array_intersect("_na", "_nb"))
    union = F.size(F.array_union("_na", "_nb"))
    return (
        pairs.join(sa, left_col, "left")
        .join(sb, right_col, "left")
        .withColumn(
            out_col,
            F.when(
                (F.col("_na").isNull())
                | (F.col("_nb").isNull())
                | (union == 0),
                F.lit(0.0),
            ).otherwise(inter.cast("double") / union.cast("double")),
        )
        .drop("_na", "_nb")
    )


def transcript_tool_relations(
    transcripts: DataFrame,
    n: int = 2,
    id_col: str = "conv_id",
    tool_col: str = "tool",
    order_col: str = "turn_idx",
) -> DataFrame:
    """The transcript domain's default co-occurrence relation for
    :func:`collective_link`: each conversation's ordered tool-call
    n-grams as ``(id_col, rel_key)`` rows. Duplicated conversations of
    one entity replay the same tool sequence, so they share n-gram keys
    even when their text is corrupted beyond what attribute comparators
    tolerate; ubiquitous n-grams (every agent starts with ``search``)
    are exactly what the hub-key guard drops. In production the caller
    supplies whatever relation the domain carries (participants,
    referenced artifacts, session ids) — this extractor is the built-in
    stand-in for transcripts.

    Plan: one shuffle on ``id_col`` (the ordered collect), then a
    per-row slice explode — no joins. Conversations with fewer than
    ``n`` tool calls emit no rows (no evidence, not zero-similarity
    evidence — :func:`neighborhood_jaccard` scores such pairs 0.0).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    seq = (
        transcripts.filter(F.col(tool_col).isNotNull())
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(order_col, tool_col))
            ).alias("_s")
        )
        .select(
            id_col,
            F.transform("_s", lambda s: s[tool_col]).alias("_tools"),
        )
        .filter(F.size("_tools") >= n)
    )
    return seq.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_tools") - (n - 1)),
                lambda i: F.concat_ws(">", F.slice("_tools", i, n)),
            )
        ).alias("rel_key"),
    ).distinct()


def collective_link(
    records: DataFrame,
    scored_pairs: DataFrame,
    relations: DataFrame,
    id_col: str = "record_id",
    rel_col: str = "rel_key",
    attr_col: str = "attr_score",
    left_col: str = "id_A",
    right_col: str = "id_B",
    alpha: float = 0.6,
    threshold: float = 0.7,
    bootstrap_threshold: float | None = None,
    max_rounds: int = 5,
    max_key_entities: int = DEFAULT_MAX_KEY_ENTITIES,
    max_neighbors: int = DEFAULT_MAX_NEIGHBORS,
) -> tuple[DataFrame, list[dict]]:
    """Iterative collective linkage (Bhattacharya & Getoor 2007, the
    bootstrap + greedy agglomerative scheme as a bounded DataFrame loop).

    Phase 0 (the paper's bootstrap): pairs whose ATTRIBUTE score alone
    clears ``bootstrap_threshold`` (default: ``threshold``) merge
    unconditionally — relational evidence can promote an ambiguous
    pair, never veto a certain one (without this, alpha < 1 would
    DEMOTE attribute-certain pairs whose neighborhoods are empty).
    Each subsequent round scores every candidate pair
    ``alpha * attr + (1 - alpha) * neighborhood_jaccard`` under the
    CURRENT assignment; pairs clearing ``threshold`` become match
    edges. Merges are never undone (greedy agglomerative, like the
    paper's priority-queue merge — the assignment only coarsens, so
    termination is guaranteed; ``max_rounds`` bounds adversarial merge
    chains), and the assignment is maintained by graph contraction,
    touching only entities the new edges reach.

    Returns ``(assignment, rounds)``: the (id_col, entity_id) table and
    a per-round metrics list ``{round, new_merges, n_entities}`` — the
    loop's only driver-side state (two numbers per round). Convergence
    = entity count unchanged: merges only coarsen, so an unchanged
    count means an unchanged assignment means every later round is a
    fixpoint.

    Attribute-only behavior is the alpha=1.0 degenerate case; pytest
    pins that equivalence (``tests/test_collective.py``).
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    boot = threshold if bootstrap_threshold is None else bootstrap_threshold
    base = records.select(F.col(id_col)).distinct()
    n_records = base.count()
    pairs = scored_pairs.select(
        F.col(left_col), F.col(right_col), F.col(attr_col)
    )
    boot_edges = (
        pairs.filter(F.col(attr_col) >= F.lit(boot))
        .select(
            F.least(left_col, right_col).alias("src"),
            F.greatest(left_col, right_col).alias("dst"),
        )
        .distinct()
    )
    asg = incremental_components(
        base.select(
            F.col(id_col).alias("conv_id"), F.col(id_col).alias("entity_id")
        ),
        boot_edges,
        id_col="conv_id",
    ).localCheckpoint(eager=False)
    # the count job materializes the lazy checkpoint (fused-job pattern,
    # same as the CC loop) and doubles as the convergence signature
    n_ent = int(asg.agg(F.countDistinct("entity_id")).first()[0])
    rounds: list[dict] = [
        {"round": 0, "new_merges": n_records - n_ent, "n_entities": n_ent}
    ]
    for r in range(1, max_rounds + 1):
        sim = neighborhood_jaccard(
            pairs,
            relations,
            asg.select(
                F.col("conv_id").alias(id_col),
                F.col("entity_id"),
            ),
            id_col=id_col,
            rel_col=rel_col,
            left_col=left_col,
            right_col=right_col,
            max_key_entities=max_key_entities,
            max_neighbors=max_neighbors,
        )
        combined = F.lit(alpha) * F.col(attr_col) + F.lit(1.0 - alpha) * F.col(
            "rel_sim"
        )
        edges = (
            sim.filter(combined >= F.lit(threshold))
            .select(
                F.least(left_col, right_col).alias("src"),
                F.greatest(left_col, right_col).alias("dst"),
            )
            .distinct()
        )
        asg = incremental_components(
            asg, edges, id_col="conv_id"
        ).localCheckpoint(eager=False)
        n_now = int(asg.agg(F.countDistinct("entity_id")).first()[0])
        rounds.append(
            {"round": r, "new_merges": n_ent - n_now, "n_entities": n_now}
        )
        if n_now == n_ent:
            break
        n_ent = n_now
    return (
        asg.select(F.col("conv_id").alias(id_col), "entity_id"),
        rounds,
    )


def triangle_inconsistencies(
    scored_pairs: DataFrame,
    threshold: float,
    left_col: str = "id_A",
    right_col: str = "id_B",
    score_col: str = "score",
    max_degree: int = 1000,
) -> DataFrame:
    """Transitivity audit: wedges a~b~c (both edges scored >=
    ``threshold``) whose closing pair (a, c) is 'missing' from the
    candidate set or present but 'weak' (< threshold). Transitive
    clustering glues those records regardless; the returned rows are
    exactly where the pairwise scorer and the closure disagree —
    clerical-review input, most-suspect first (lowest closing score,
    then missing).

    Output: (id_a, id_center, id_c, w_ab, w_bc, w_ac, status) with
    status in {'missing', 'weak'}; consistent triangles are dropped.
    Wedge centers with more than ``max_degree`` strong edges are
    excluded (their wedge count is quadratic in degree and a hub node's
    triangles restate the same review decision); the guard is visible —
    callers can count dropped hubs via the companion ``hub_centers``
    aggregate below rather than reading a silent cap.

    Plan: degree agg (one shuffle on node) -> wedge self-join on the
    center key, explicitly repartitioned (within-center output is
    quadratic; AQE is blind to it) -> one left join back to the
    canonical pair table for the closing edge.
    """
    n_parts = _nparts(scored_pairs)
    canon = scored_pairs.select(
        F.least(left_col, right_col).alias("_lo"),
        F.greatest(left_col, right_col).alias("_hi"),
        F.col(score_col).alias("_w"),
    ).filter(F.col("_lo") != F.col("_hi"))
    strong = canon.filter(F.col("_w") >= F.lit(threshold))
    sym = strong.select(
        F.col("_lo").alias("_ctr"), F.col("_hi").alias("_leaf"), "_w"
    ).unionByName(
        strong.select(
            F.col("_hi").alias("_ctr"), F.col("_lo").alias("_leaf"), "_w"
        )
    )
    ok_centers = (
        sym.groupBy("_ctr")
        .agg(F.count("*").alias("_deg"))
        .filter(F.col("_deg") <= F.lit(max_degree))
        .select("_ctr")
    )
    sym = sym.join(ok_centers, "_ctr").repartition(n_parts, "_ctr")
    wedges = (
        sym.alias("l")
        .join(sym.alias("r"), "_ctr")
        .filter(F.col("l._leaf") < F.col("r._leaf"))
        .select(
            F.col("l._leaf").alias("id_a"),
            F.col("_ctr").alias("id_center"),
            F.col("r._leaf").alias("id_c"),
            F.col("l._w").alias("w_ab"),
            F.col("r._w").alias("w_bc"),
        )
    )
    closing = canon.select(
        F.col("_lo").alias("id_a"), F.col("_hi").alias("id_c"),
        F.col("_w").alias("w_ac"),
    )
    return (
        wedges.join(closing, ["id_a", "id_c"], "left")
        .filter(F.col("w_ac").isNull() | (F.col("w_ac") < F.lit(threshold)))
        .withColumn(
            "status",
            F.when(F.col("w_ac").isNull(), F.lit("missing")).otherwise(
                F.lit("weak")
            ),
        )
    )


def hub_centers(
    scored_pairs: DataFrame,
    threshold: float,
    left_col: str = "id_A",
    right_col: str = "id_B",
    score_col: str = "score",
    max_degree: int = 1000,
) -> DataFrame:
    """The nodes :func:`triangle_inconsistencies` excluded, with their
    strong-edge degree — the no-silent-caps companion (a hub with 10^4
    strong edges is its own review item, not 10^8 wedge rows)."""
    canon = scored_pairs.select(
        F.least(left_col, right_col).alias("_lo"),
        F.greatest(left_col, right_col).alias("_hi"),
        F.col(score_col).alias("_w"),
    ).filter(
        (F.col("_lo") != F.col("_hi")) & (F.col("_w") >= F.lit(threshold))
    )
    sym = canon.select(F.col("_lo").alias("node")).unionByName(
        canon.select(F.col("_hi").alias("node"))
    )
    return (
        sym.groupBy("node")
        .agg(F.count("*").alias("strong_degree"))
        .filter(F.col("strong_degree") > F.lit(max_degree))
    )
