"""Golden-record survivorship: fold each resolved entity cluster into one
canonical record with per-field survivorship rules.

After matching + clustering, an entity-resolution pipeline's last step is
materializing ONE record per entity (the reference stops at cluster ids;
every production MDM/ER deployment needs the merge step — see e.g. the
survivorship discussion in Talburt & Zhou, "Entity Information Life
Cycle for Big Data", and the `recordlinkage` docs' one-to-one fusion).
Rules implemented, all with DETERMINISTIC tie-breaks so the result is
reproducible across parallelism and replayable in ANSI SQL:

- ``mode_cols``   — most-frequent value wins; ties break to the
                    lexicographically smallest value.
- ``longest_col`` — the member whose value is longest wins (its id is
                    exposed as ``rep_id``); ties break to the smallest id.
- ``sum_cols``    — additive facts are summed over the cluster.
- always          — ``n_members`` and a sorted ``member_ids`` string.

Scale shape (100 TB): the hydration join shuffles on the record id once;
ALL mode columns ride ONE aggregation by unpivoting to
(entity_id, field, value) — k columns cost one shuffle, not k — and the
per-field winners pivot back with a conditional-aggregate groupBy on
entity_id. The base aggregate (count/sum/longest) is a single
map-side-combinable groupBy on entity_id. No window over the full data,
no driver-side collect; every intermediate carries ids + the few fused
columns only. Cluster sizes are bounded by the upstream clustering caps,
so ``collect_list(member id)`` per entity is bounded the same way
(pass ``member_list=False`` to drop it when clusters may be huge).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

# The fusion rule for conversation profiles: the batch pipeline's
# golden_records stage and stream_entities both fuse with it.
CONVERSATION_FUSION = dict(
    id_col="conv_id",
    mode_cols=("first_role", "primary_tool"),
    longest_col="last_text_norm",
    sum_cols=("n_tokens", "n_turns"),
)
# the profile columns that rule reads
CONVERSATION_FUSION_COLS = [
    CONVERSATION_FUSION["id_col"],
    *CONVERSATION_FUSION["mode_cols"],
    CONVERSATION_FUSION["longest_col"],
    *CONVERSATION_FUSION["sum_cols"],
]


def golden_records(
    records: DataFrame,
    assignment: DataFrame,
    id_col: str,
    mode_cols: Sequence[str] = (),
    longest_col: str | None = None,
    sum_cols: Sequence[str] = (),
    member_list: bool = True,
) -> DataFrame:
    """Fuse ``records`` into one golden record per ``entity_id``.

    ``assignment`` is ``(id_col, entity_id)`` — the output of
    ``clustering.assign_entities`` / ``incremental_components``.
    Returns one row per entity:
    ``entity_id, n_members[, member_ids], {c}_canon per mode col,
    rep_id + {longest_col}_canon, {c}_total per sum col``.
    """
    hyd = records.join(assignment, id_col)

    rid = F.col(id_col)
    base_aggs = [F.count(F.lit(1)).cast("bigint").alias("n_members")]
    if member_list:
        # sort in the id's NATIVE order (numeric ids sort numerically),
        # stringify only for the joined output
        base_aggs.append(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(rid)),
                    lambda x: x.cast("string"),
                ),
                " ",
            ).alias("member_ids")
        )
    if longest_col is not None:
        # longest value wins; ties -> smallest id: min over (-len, id)
        # keeps the id generic (any orderable type, no negation needed)
        base_aggs.append(
            F.min_by(
                F.struct(
                    rid.alias("rep_id"),
                    F.col(longest_col).alias("val"),
                ),
                F.struct(
                    # null ranks as length 0 (== empty) for portability
                    (
                        -F.length(F.coalesce(F.col(longest_col), F.lit("")))
                    ).alias("neg_len"),
                    rid.alias("id"),
                ),
            ).alias("_rep")
        )
    for c in sum_cols:
        base_aggs.append(F.sum(c).cast("bigint").alias(f"{c}_total"))
    out = hyd.groupBy("entity_id").agg(*base_aggs)
    if longest_col is not None:
        out = out.select(
            *[c for c in out.columns if c != "_rep"],
            F.col("_rep.rep_id").alias("rep_id"),
            F.col("_rep.val").alias(f"{longest_col}_canon"),
        )

    if mode_cols:
        # one shuffle for ALL mode columns: unpivot -> count -> winner
        pairs = F.array(
            *[
                F.struct(F.lit(c).alias("field"), F.col(c).cast("string").alias("value"))
                for c in mode_cols
            ]
        )
        counts = (
            hyd.select("entity_id", F.explode(pairs).alias("fv"))
            .select("entity_id", "fv.field", "fv.value")
            .where(F.col("value").isNotNull())
            .groupBy("entity_id", "field", "value")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # most frequent wins, ties -> smallest value: min over (-n, value)
        winners = (
            counts.groupBy("entity_id", "field")
            .agg(
                F.min_by(
                    "value", F.struct((-F.col("n")).alias("neg_n"), "value")
                ).alias("best")
            )
            .groupBy("entity_id")
            .agg(
                *[
                    F.max(
                        F.when(F.col("field") == c, F.col("best"))
                    ).alias(f"{c}_canon")
                    for c in mode_cols
                ]
            )
        )
        # left: an entity whose mode-col values are ALL null has no counts row
        out = out.join(winners, "entity_id", "left")

    return out


def touched_entities(
    old_assignment: DataFrame,
    new_assignment: DataFrame,
    id_col: str = "conv_id",
) -> DataFrame:
    """Entity ids whose golden record needs re-fusing after an increment:
    any entity (under its OLD or NEW id) that gained, lost, or re-homed a
    member. Computed as a full-outer diff of the two assignments on the
    record id — the general answer when the caller has only the two
    assignment tables. Callers that know the increment's record ids can
    build a cheaper touched set directly (semi-join the assignments to
    those ids) and skip this diff; content-only updates (same assignment,
    new field values) must be unioned in by the caller either way.
    Returns a single-column (entity_id) frame, deduplicated."""
    o = old_assignment.select(
        F.col(id_col).alias("_id"), F.col("entity_id").alias("_old_e")
    )
    n = new_assignment.select(
        F.col(id_col).alias("_id"), F.col("entity_id").alias("_new_e")
    )
    changed = o.join(n, "_id", "full").where(
        ~F.col("_old_e").eqNullSafe(F.col("_new_e"))
    )
    return (
        changed.select(F.col("_old_e").alias("entity_id"))
        .unionByName(changed.select(F.col("_new_e").alias("entity_id")))
        .where(F.col("entity_id").isNotNull())
        .distinct()
    )


def incremental_golden_records(
    records: DataFrame,
    assignment: DataFrame,
    old_golden: DataFrame,
    touched: DataFrame,
    id_col: str,
    mode_cols: Sequence[str] = (),
    longest_col: str | None = None,
    sum_cols: Sequence[str] = (),
    member_list: bool = True,
) -> DataFrame:
    """Maintain a golden-record table under an increment without
    re-fusing the whole corpus: entities in ``touched`` are re-fused from
    the CURRENT ``records``/``assignment`` (so merges, splits, member
    updates and deletions all land correctly); every other golden row
    passes through untouched. ``touched`` must contain BOTH the old and
    new entity ids of anything that changed (``touched_entities`` above
    computes exactly that from the two assignments); an entity that lost
    all members simply produces no fresh row and disappears.

    Scale shape: the fresh side is bounded by the increment — touched
    entity ids broadcast into two semi-joins that carve out only the
    affected members' records, and fusion runs on that slice; the
    untouched side is one anti-join of the golden table (one row per
    entity, not per record) against the same broadcast set. The full
    records table is semi-join-pruned, never re-aggregated. Equals the
    batch ``golden_records`` rerun (asserted in tests)."""
    t = touched.select("entity_id").distinct()
    touched_members = assignment.join(
        F.broadcast(t), "entity_id", "left_semi"
    )
    slice_records = records.join(
        touched_members.select(id_col), id_col, "left_semi"
    )
    fresh = golden_records(
        slice_records,
        touched_members,
        id_col=id_col,
        mode_cols=mode_cols,
        longest_col=longest_col,
        sum_cols=sum_cols,
        member_list=member_list,
    )
    untouched = old_golden.join(F.broadcast(t), "entity_id", "left_anti")
    return untouched.unionByName(fresh)
