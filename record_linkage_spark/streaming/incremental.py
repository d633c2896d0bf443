"""Incremental transcript ingestion via Structured Streaming.

The reference is purely batch (SURVEY.md §2.10) — this module is the
engine's *optional* incremental path: new transcript files land in a
directory, a streaming query rolls them up per micro-batch and upserts
profiles into the warehouse through ``foreachBatch`` (the pattern that, on
a real deployment, becomes a MERGE INTO an Iceberg table; here it is
an overwrite-by-conv_id parquet upsert). Late/out-of-order turns within a
watermark are tolerated because the rollup re-aggregates any conv_id seen
in the batch from the full turn history.

Epoch layout — one decision shared by every stream here and by
``sources/ingest.stream_ingest``:

- each micro-batch writes its output under ``<table>/epoch=<batch id>``
  with overwrite (:func:`write_epoch`), so a retried batch replaces its
  own partial output instead of double-appending (exactly-once
  ``foreachBatch``); on a warehouse deployment these writes become
  Iceberg MERGE/append on the same epoch key;
- seeds and compactions land at the reserved ``epoch=-1``, below every
  stream epoch, so a fresh stream never overwrites them;
- readers take the latest epoch of each row (profiles), or the latest
  snapshot other than the current batch's (entity state), so a retry
  never reads its own first attempt.

Every stream starts through :func:`start_foreach_batch`: append mode,
its own checkpoint, ``availableNow`` trigger (drain what has landed,
then stop). Epoch ids are listed through the Hadoop FileSystem API
(:func:`epoch_ids`), never driver-local ``os.path``, which silently
answers for the wrong filesystem on a real cluster.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from record_linkage_spark.operators.rollup import rollup_conversations

BatchFn = Callable[[DataFrame, int], None]


def epoch_ids(spark: SparkSession, table_dir: str) -> list[int] | None:
    """The epoch ids under ``table_dir``, or None when it does not exist."""
    p = spark._jvm.org.apache.hadoop.fs.Path(table_dir)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    ids = []
    for st in fs.listStatus(p):
        key, _, value = st.getPath().getName().partition("=")
        if key == "epoch":
            ids.append(int(value))
    return ids


def _epoch_dir(table_dir: str, epoch_id: int) -> str:
    return os.path.join(table_dir, f"epoch={epoch_id}")


def write_epoch(df: DataFrame, table_dir: str, epoch_id: int) -> None:
    """Write ``df`` as the ``epoch_id`` partition of ``table_dir``,
    replacing whatever an earlier attempt left there."""
    df.write.mode("overwrite").parquet(_epoch_dir(table_dir, epoch_id))


def skip_empty(process: BatchFn) -> BatchFn:
    """``process`` for sinks that have nothing to do on an empty batch."""

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            process(batch_df, epoch_id)

    return run


def start_foreach_batch(source: DataFrame, process: BatchFn, checkpoint_dir: str):
    """Start ``process`` over every micro-batch of the streaming
    ``source`` until it has drained what has landed. Returns the
    StreamingQuery (caller awaits it)."""
    return (
        source.writeStream.outputMode("append")
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _latest_profiles(base: DataFrame) -> DataFrame:
    """Latest-wins upsert view over an epoch-partitioned profile table
    (the parquet stand-in for an Iceberg MERGE target): a conversation
    re-rolled in a later epoch supersedes its older rows. One window
    shuffle per read here; on a warehouse deployment the MERGE keeps the
    table unique per conv_id and this view is a plain scan."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy(F.col("epoch").desc())
    return (
        base.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def current_matches(
    spark: SparkSession, matches_dir: str, base_profiles_dir: str
) -> DataFrame:
    """The VALID match-edge view under update semantics: an edge derived
    at epoch e is current iff neither endpoint's profile was re-rolled
    after e (e >= the latest profile epoch of both endpoints). An update
    wave thus invalidates the updated conversations' old edges
    wholesale, and the wave's own re-link re-derives exactly the ones
    that still hold — the view equals a batch re-link of the mutated
    corpus (asserted in tests). Seed profiles live at the reserved
    ``epoch=-1``, so edges from any stream epoch (>= 0) stay valid until
    an update supersedes an endpoint.

    Scale shape: one additive groupBy over the profile table for the
    (conv_id -> latest epoch) map, then two endpoint joins. On a
    warehouse deployment the MERGE equality-deletes superseded edges in
    place and this view is a plain scan."""
    edges = spark.read.parquet(matches_dir)
    base = spark.read.parquet(base_profiles_dir)
    lat = base.groupBy("conv_id").agg(F.max("epoch").alias("_lat"))
    la = lat.select(F.col("conv_id").alias("id_A"), F.col("_lat").alias("_lat_a"))
    lb = lat.select(F.col("conv_id").alias("id_B"), F.col("_lat").alias("_lat_b"))
    return (
        edges.join(la, "id_A", "left")
        .join(lb, "id_B", "left")
        .filter(
            (F.col("epoch") >= F.coalesce("_lat_a", F.lit(-1)))
            & (F.col("epoch") >= F.coalesce("_lat_b", F.lit(-1)))
        )
        .drop("_lat_a", "_lat_b")
    )


def compact_state(
    spark: SparkSession,
    base_profiles_dir: str,
    matches_dir: str,
    out_base_dir: str,
    out_matches_dir: str,
) -> dict:
    """Offline compaction of the epoch-partitioned stream state — the
    parquet stand-in for what Iceberg MERGE + snapshot expiry do
    continuously. Rewrites the profile table latest-wins (dropping
    superseded rows AND delete tombstones: rows whose blocking payload
    is entirely NULL never pair again, so they only exist to invalidate
    old edges — which compaction does for real by deleting those edges)
    and rewrites the match table to exactly the valid edge view. Both
    land at the reserved ``epoch=-1`` and seed a FRESH deployment with
    new checkpoints — the blue/green rollover pattern; compacting under
    a live stream's feet would desync its file-source bookkeeping.

    Scale shape: one latest-wins window over the profile table, one
    groupBy for the epoch map, two endpoint joins — each a single pass,
    run on a maintenance schedule, amortized across every subsequent
    batch that would otherwise re-derive ever-updated conversations.

    Returns {"profiles": n, "tombstones_dropped": n, "matches": n}."""
    base = spark.read.parquet(base_profiles_dir)
    latest = _latest_profiles(base)
    # tombstone = the delete convention's product: a profile rolled from
    # delete-marker turns only — no text payload anywhere (such rows
    # can never form blocking keys, so dropping them loses nothing)
    text_cols = [
        c
        for c in ("first_text", "last_text", "first_text_norm", "last_text_norm")
        if c in latest.columns
    ]
    is_tombstone = F.lit(True)
    for c in text_cols:
        is_tombstone = is_tombstone & F.col(c).isNull()
    if "n_tokens" in latest.columns:
        is_tombstone = is_tombstone & (F.coalesce("n_tokens", F.lit(0)) == 0)
    live = latest.filter(~is_tombstone) if text_cols else latest
    n_tomb = latest.count() - live.count()
    write_epoch(live.drop("epoch"), out_base_dir, -1)
    valid = current_matches(spark, matches_dir, base_profiles_dir)
    write_epoch(valid.drop("epoch"), out_matches_dir, -1)
    out_p = spark.read.parquet(out_base_dir)
    out_m = spark.read.parquet(out_matches_dir)
    return {
        "profiles": out_p.count(),
        "tombstones_dropped": n_tomb,
        "matches": out_m.count(),
    }


TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def stream_profiles(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Start a streaming query: parquet file source -> per-batch rollup ->
    profile upsert. Returns the StreamingQuery."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(rollup_conversations(batch_df).drop("turns"), output_dir, epoch_id)

    return start_foreach_batch(stream, skip_empty(upsert), checkpoint_dir)


def windowed_turn_counts(
    spark: SparkSession, input_dir: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming windowed aggregate over turn events (watermark + window):
    turns per (5-minute window, role) — the monitoring-side streaming
    surface."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes"), F.col("role"))
        .agg(F.count("*").alias("n_turns"))
    )


def stream_link(
    spark: SparkSession,
    input_dir: str,
    base_profiles_dir: str,
    matches_dir: str,
    checkpoint_dir: str,
    model,
    strategy: str = "B1",
):
    """Incremental linkage stream: new transcript files -> per-batch
    rollup -> blocked+scored against the stored profile base
    (operators.incremental_link) -> match edges land in ``matches_dir``;
    the new profiles join the base so later batches link against them
    too. Returns the StreamingQuery.

    UPDATE waves are first-class: a batch that re-sends an existing
    conversation's turns (the full conversation — a CDC-style snapshot
    upsert) re-rolls its profile under the new epoch, which supersedes
    the old rows (latest-wins base view) and invalidates the old edges
    (see ``current_matches``); the batch's re-link derives the updated
    conversation's current edges against the rest of the corpus. The
    maintained edge view equals a batch rerun on the mutated corpus
    (asserted in tests).

    DELETE waves are the degenerate update: send one tombstone turn
    ``(conv_id, turn_idx=-1, text=NULL)``. The re-rolled profile has
    NULL blocking keys, so the conversation forms no new candidate
    pairs, its old edges are epoch-invalidated like any update, and
    downstream ``stream_entities`` drops it from the assignment and
    re-fuses its former entity without it. The ghost profile row stays
    until compaction (an Iceberg MERGE deletes it in place).

    An initial profile base, if any, is seeded at ``epoch=-1``."""
    from record_linkage_spark.operators.incremental_link import (
        HYDRATE_COLS,
        link_increment,
    )

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        new_profiles = rollup_conversations(batch_df).drop("turns").localCheckpoint()
        cols = ["conv_id", *HYDRATE_COLS]
        if epoch_ids(spark, base_profiles_dir) is not None:
            # exclude this epoch's own rows: a retried micro-batch that
            # crashed after the profile write must not link against
            # itself (partition pruning makes the exclusion free)
            base = spark.read.parquet(base_profiles_dir).filter(
                F.col("epoch") != epoch_id
            )
            # latest-wins view, minus rows superseded by THIS batch: an
            # updated conversation must link as its new self only — its
            # stale profile would otherwise self-match
            base = _latest_profiles(base).join(
                new_profiles.select("conv_id"), "conv_id", "left_anti"
            )
            base = base.select(*cols)
        else:
            base = new_profiles.select(*cols).limit(0)
        edges = link_increment(
            new_profiles.select(*cols), base, model, strategy
        ).filter(F.col("pred") == 1)
        write_epoch(edges, matches_dir, epoch_id)
        write_epoch(new_profiles.select(*cols), base_profiles_dir, epoch_id)

    return start_foreach_batch(stream, skip_empty(process), checkpoint_dir)


def stream_entities(
    spark: SparkSession,
    matches_dir: str,
    base_profiles_dir: str,
    assignment_dir: str,
    golden_dir: str,
    checkpoint_dir: str,
):
    """Continuous entity maintenance downstream of ``stream_link``: new
    match-edge files fold into the (record -> entity) assignment via
    graph contraction (``clustering.incremental_components``) and only
    the TOUCHED entities re-fuse into golden records
    (``survivorship.incremental_golden_records``) — per-batch work is
    O(increment), never O(corpus).

    UPDATE waves retract edges (``current_matches``), and retraction can
    SPLIT a component — which contraction cannot express — so entities
    containing an updated conversation are rebuilt from the valid edge
    view restricted to their members (O(affected subgraph)); members
    left with no valid edges drop out of the assignment, matching the
    batch contract that only linked records are tracked. Ever-updated
    conversations are detected from the profile table's epoch
    multiplicity and re-derive idempotently each batch until a
    compaction job rewrites the profile table latest-wins (on a
    warehouse deployment the MERGE does this continuously and the
    detection is the MERGE's own changelog).

    State tables (assignment, golden) are snapshot-per-epoch: each batch
    writes the full new state and reads the latest snapshot other than
    its own. With no such snapshot the old state is empty, so the first
    batch takes the same contraction path as every later one. Golden
    records fuse with ``survivorship.CONVERSATION_FUSION``. Only records
    that appear in match edges enter the assignment — the golden table
    covers LINKED entities; unlinked singletons stay in the profile
    base. Returns the StreamingQuery."""
    from record_linkage_spark.operators.clustering import incremental_components
    from record_linkage_spark.operators.survivorship import (
        CONVERSATION_FUSION,
        CONVERSATION_FUSION_COLS,
        golden_records,
        incremental_golden_records,
        touched_entities,
    )

    edge_schema = T.StructType(
        [
            T.StructField("id_A", T.StringType(), False),
            T.StructField("id_B", T.StringType(), False),
        ]
    )
    stream = (
        spark.readStream.schema(edge_schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(matches_dir)
    )

    def _rebuild_updated(assign: DataFrame, updated_ids: DataFrame) -> DataFrame:
        """Recompute components for every entity containing an updated
        conversation against the valid edge view; all other rows pass
        through. Valid edges never cross entity boundaries of ``assign``
        (old edges were intra-entity by construction; this batch's new
        edges were contracted into ``assign`` first), so restricting the
        view to affected members is complete."""
        from record_linkage_spark.operators.clustering import connected_components

        affected = (
            assign.join(F.broadcast(updated_ids), "conv_id", "left_semi")
            .select("entity_id")
            .distinct()
            .localCheckpoint()
        )
        members = assign.join(
            F.broadcast(affected), "entity_id", "left_semi"
        ).select("conv_id")
        valid = current_matches(spark, matches_dir, base_profiles_dir)
        sub = (
            valid.join(
                F.broadcast(members.withColumnRenamed("conv_id", "id_A")),
                "id_A",
                "left_semi",
            )
            .join(
                F.broadcast(members.withColumnRenamed("conv_id", "id_B")),
                "id_B",
                "left_semi",
            )
            .select(F.col("id_A").alias("src"), F.col("id_B").alias("dst"))
        )
        rebuilt = connected_components(sub)
        # the anti-join moves its key to column 0 — restore (conv_id,
        # entity_id) so every epoch snapshot shares one schema order
        return (
            assign.join(F.broadcast(affected), "entity_id", "left_anti")
            .select("conv_id", "entity_id")
            .unionByName(rebuilt)
        )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        base = spark.read.parquet(base_profiles_dir)
        # ever-updated conversations (profile re-rolled in >1 epoch):
        # their entities must rebuild even when the triggering batch
        # carries no edge rows — a DELETE wave is exactly that (the
        # tombstone epoch writes an empty edge file, the batch fires
        # empty, and the retraction still has to propagate)
        updated = (
            base.groupBy("conv_id")
            .agg(F.count_distinct("epoch").alias("_n"))
            .filter(F.col("_n") > 1)
            .select("conv_id")
            .localCheckpoint()
        )
        any_updated = not updated.isEmpty()
        if not any_updated and batch_df.isEmpty():
            return
        edges = batch_df.select(
            F.col("id_A").alias("src"), F.col("id_B").alias("dst")
        ).localCheckpoint()
        profiles = _latest_profiles(base).select(*CONVERSATION_FUSION_COLS)

        prev = max(
            (e for e in epoch_ids(spark, assignment_dir) or () if e != epoch_id),
            default=None,
        )
        if prev is None:
            old_assign = spark.createDataFrame([], "conv_id string, entity_id string")
            old_golden = golden_records(profiles, old_assign, **CONVERSATION_FUSION)
        else:
            old_assign = spark.read.parquet(_epoch_dir(assignment_dir, prev))
            old_golden = spark.read.parquet(_epoch_dir(golden_dir, prev))
        # 1) fold NEW edges in via contraction (the append path)
        new_assign = incremental_components(old_assign, edges)
        # 2) rebuild entities whose members were UPDATED — their old
        #    edges are retracted, which can split the component; the
        #    rebuild also drops streamed edges an update already
        #    invalidated (every such edge touches an updated conversation)
        if any_updated:
            new_assign = _rebuild_updated(new_assign, updated)
        new_assign = new_assign.localCheckpoint()
        # content-only updates keep their assignment but must still
        # re-fuse their entity's golden record
        touched = (
            touched_entities(old_assign, new_assign)
            .unionByName(
                new_assign.join(updated, "conv_id", "left_semi").select("entity_id")
            )
            .distinct()
        )
        golden_new = incremental_golden_records(
            profiles, new_assign, old_golden, touched, **CONVERSATION_FUSION
        )
        write_epoch(new_assign, assignment_dir, epoch_id)
        write_epoch(golden_new, golden_dir, epoch_id)

    # not skip_empty: a DELETE wave arrives as an empty batch (see above)
    return start_foreach_batch(stream, process, checkpoint_dir)
