"""Incremental linkage: increment run == batch run restricted to pairs
touching the new ids."""

import os

import pytest
from pyspark.sql import functions as F


def latest(spark, d):
    """The newest epoch snapshot of an epoch-partitioned table."""
    eps = [int(n.split("=")[1]) for n in os.listdir(d) if n.startswith("epoch=")]
    return spark.read.parquet(f"{d}/epoch={max(eps)}")


def _profiles(spark, n_entities, dup_rate=1.8):
    from record_linkage_spark.operators.rollup import rollup_conversations
    from record_linkage_spark.synth.transcripts import (
        generate_transcripts,
        transcripts_table,
    )

    raw = generate_transcripts(spark, n_entities=n_entities, dup_rate=dup_rate)
    return rollup_conversations(transcripts_table(raw)).localCheckpoint()


@pytest.mark.parametrize("strategy", ["B1", "B2", "P1"])
def test_increment_matches_batch_restriction(spark, strategy):
    from record_linkage_spark.operators.blocking import candidate_pairs
    from record_linkage_spark.operators.incremental_link import (
        increment_candidates,
    )

    profiles = _profiles(spark, 120)
    # increment = conversations of the last 30 entities (includes dups of
    # "existing" entities only via their own copies -> new-new pairs, plus
    # any cross-block collisions with the base)
    is_new = F.substring("conv_id", 1, 8).cast("int") >= 90
    new_p = profiles.filter(is_new)
    base_p = profiles.filter(~is_new)

    inc = {
        (r.id_A, r.id_B)
        for r in increment_candidates(new_p, base_p, strategy).collect()
    }
    new_ids = {r.conv_id for r in new_p.select("conv_id").collect()}
    batch = {
        (min(r.id_A, r.id_B), max(r.id_A, r.id_B))
        for r in candidate_pairs(profiles, strategy).collect()
        if r.id_A in new_ids or r.id_B in new_ids
    }
    assert inc == batch
    assert len(inc) > 0  # planted duplicates among the new entities


def test_link_increment_scores_and_flags(spark):
    from record_linkage_spark.operators.classifier import LinearModel
    from record_linkage_spark.operators.incremental_link import link_increment

    profiles = _profiles(spark, 80)
    is_new = F.substring("conv_id", 1, 8).cast("int") >= 60
    model = LinearModel(
        weights=[2.0, 1.0, 1.5, 0.8, 0.6, 0.3, 0.5, 1.2, 0.4, 0.3, 0.8, 0.8, 0.8, 0.4, 1.0, 2.0],
        intercept=-6.0,
        threshold=0.5,
    )
    out = link_increment(
        profiles.filter(is_new), profiles.filter(~is_new), model
    ).collect()
    assert len(out) > 0
    assert all(r.id_A < r.id_B for r in out)
    assert any(r.pred == 1 for r in out)  # duplicates of new entities match


def test_link_increment_after_updates_and_deletes(spark):
    """Mutated-base maintenance (the Iceberg MERGE reality at 100 TB):
    conversations get DELETED and UPDATED, not just appended. Re-linking
    only the touched conversations and patching the match-edge table
    (drop edges touching deleted/updated ids, add the increment's edges)
    must equal a full batch rerun on the mutated corpus — and rewritten
    conversations must actually change entity assignment."""
    from record_linkage_spark.operators.blocking import candidate_pairs
    from record_linkage_spark.operators.classifier import LinearModel, score_pairs
    from record_linkage_spark.operators.clustering import assign_entities
    from record_linkage_spark.operators.features import add_features
    from record_linkage_spark.operators.ground_truth import hydrate_pairs
    from record_linkage_spark.operators.incremental_link import (
        HYDRATE_COLS,
        link_increment,
    )
    from record_linkage_spark.operators.rollup import rollup_conversations
    from record_linkage_spark.synth.transcripts import (
        generate_transcripts,
        transcripts_table,
    )

    model = LinearModel(
        weights=[2.0, 1.0, 1.5, 0.8, 0.6, 0.3, 0.5, 1.2, 0.4, 0.3, 0.8, 0.8, 0.8, 0.4, 1.0, 2.0],
        intercept=-6.0,
        threshold=0.5,
    )
    cols = ["conv_id", *HYDRATE_COLS]

    def batch_edges(profiles):
        cands = candidate_pairs(profiles, "B1").select("id_A", "id_B")
        scored = score_pairs(add_features(hydrate_pairs(cands, profiles, HYDRATE_COLS)), model)
        return {
            (r.id_A, r.id_B)
            for r in scored.filter(F.col("pred") == 1).select("id_A", "id_B").collect()
        }

    raw = transcripts_table(
        generate_transcripts(spark, n_entities=60, dup_rate=1.8)
    ).localCheckpoint()
    ent = F.substring("conv_id", 1, 8).cast("int")
    profiles0 = rollup_conversations(raw).select(*cols).localCheckpoint()
    edges0 = batch_edges(profiles0)

    # mutate: DELETE entities < 5, REWRITE the text of entities >= 45
    raw2 = (
        raw.filter(ent >= 5)
        .withColumn(
            "text",
            F.when(
                ent >= 45,
                # per-conv divergent gibberish (md5-derived) so former
                # duplicates no longer block or score together
                F.concat_ws(
                    " ",
                    F.md5(F.col("conv_id")),
                    F.md5(F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))),
                ),
            ).otherwise(F.col("text")),
        )
        .localCheckpoint()
    )
    profiles2 = rollup_conversations(raw2).select(*cols).localCheckpoint()
    full2 = batch_edges(profiles2)

    touched = {r.conv_id for r in profiles2.filter(ent >= 45).select("conv_id").collect()}
    deleted = {r.conv_id for r in profiles0.filter(ent < 5).select("conv_id").collect()}
    inc = link_increment(
        profiles2.filter(ent >= 45), profiles2.filter(ent < 45), model
    )
    inc_edges = {
        (r.id_A, r.id_B) for r in inc.filter(F.col("pred") == 1).collect()
    }
    maintained = {
        e for e in edges0 if not (set(e) & (touched | deleted))
    } | inc_edges
    assert maintained == full2

    # the rewrite must have severed at least one former duplicate edge …
    lost = {e for e in edges0 if set(e) & touched} - full2
    assert lost
    # … and the severed pair lands in different entities after re-clustering
    edges_df = spark.createDataFrame(
        sorted(full2), "src string, dst string"
    )
    assign = {
        r.conv_id: r.entity_id
        for r in assign_entities(profiles2.select("conv_id"), edges_df).collect()
    }
    a, b = next(iter(lost))
    assert assign[a] != assign[b]


def test_stream_link_end_to_end(spark, tmp_path):
    """foreachBatch incremental linkage: base profiles seeded, a second
    wave of transcript files streams in, match edges land in the sink."""
    from record_linkage_spark.operators.classifier import LinearModel
    from record_linkage_spark.operators.incremental_link import HYDRATE_COLS
    from record_linkage_spark.operators.rollup import rollup_conversations
    from record_linkage_spark.streaming.incremental import stream_link
    from record_linkage_spark.synth.transcripts import (
        generate_transcripts,
        transcripts_table,
    )

    raw = transcripts_table(generate_transcripts(spark, n_entities=60, dup_rate=1.8))
    is_new = F.substring("conv_id", 1, 8).cast("int") >= 40
    base_dir = str(tmp_path / "base")
    # seed under a reserved epoch partition so the stream's epoch-keyed
    # appends keep the directory layout consistently partitioned
    rollup_conversations(raw.filter(~is_new)).drop("turns").select(
        "conv_id", *HYDRATE_COLS
    ).write.parquet(base_dir + "/epoch=-1")
    in_dir = str(tmp_path / "in")
    raw.filter(is_new).write.parquet(in_dir)

    model = LinearModel(
        weights=[2.0, 1.0, 1.5, 0.8, 0.6, 0.3, 0.5, 1.2, 0.4, 0.3, 0.8, 0.8, 0.8, 0.4, 1.0, 2.0],
        intercept=-6.0,
        threshold=0.5,
    )
    q = stream_link(
        spark,
        in_dir,
        base_dir,
        str(tmp_path / "matches"),
        str(tmp_path / "ckpt"),
        model,
    )
    q.awaitTermination()

    matches = spark.read.parquet(str(tmp_path / "matches"))
    rows = matches.collect()
    assert len(rows) > 0
    assert all(r.pred == 1 for r in rows)
    # duplicates of the same new entity share the entity prefix
    same_entity = [r for r in rows if r.id_A.split("_")[0] == r.id_B.split("_")[0]]
    assert len(same_entity) > 0


def test_stream_update_wave_reassigns_entity(spark, tmp_path):
    """Mutated-base coverage for the STREAMING path (the batch analogue
    is test_link_increment_after_updates_and_deletes): a conversation is
    re-sent through the stream with content copied from a DIFFERENT
    entity's conversation. The maintained edge view, the assignment and
    the golden table must all equal a full batch rerun on the mutated
    corpus — the update must sever the old duplicate edge (a component
    SPLIT, which pure contraction cannot express) and re-home the
    conversation into the other entity."""
    from record_linkage_spark.operators.blocking import candidate_pairs
    from record_linkage_spark.operators.classifier import LinearModel, score_pairs
    from record_linkage_spark.operators.clustering import assign_entities
    from record_linkage_spark.operators.features import add_features
    from record_linkage_spark.operators.ground_truth import hydrate_pairs
    from record_linkage_spark.operators.incremental_link import HYDRATE_COLS
    from record_linkage_spark.operators.rollup import rollup_conversations
    from record_linkage_spark.operators.survivorship import golden_records
    from record_linkage_spark.streaming.incremental import (
        current_matches,
        stream_entities,
        stream_link,
    )
    from record_linkage_spark.synth.transcripts import (
        generate_transcripts,
        transcripts_table,
    )

    model = LinearModel(
        weights=[2.0, 1.0, 1.5, 0.8, 0.6, 0.3, 0.5, 1.2, 0.4, 0.3, 0.8, 0.8, 0.8, 0.4, 1.0, 2.0],
        intercept=-6.0,
        threshold=0.5,
    )
    raw = transcripts_table(
        generate_transcripts(spark, n_entities=24, dup_rate=1.8)
    ).localCheckpoint()
    dirs = {n: str(tmp_path / n) for n in
            ("in", "base", "matches", "assign", "golden", "ckl", "cke")}

    # wave 1: the whole corpus streams in (no seed base). Conversations
    # must arrive whole — partition by conv_id so no conversation's turns
    # split across micro-batch boundaries (the update contract: a wave
    # carries complete conversations, CDC-snapshot style).
    raw.repartition(4, "conv_id").write.mode("append").parquet(dirs["in"])
    largs = (spark, dirs["in"], dirs["base"], dirs["matches"], dirs["ckl"], model)
    eargs = (spark, dirs["matches"], dirs["base"], dirs["assign"],
             dirs["golden"], dirs["cke"])
    stream_link(*largs).awaitTermination()
    stream_entities(*eargs).awaitTermination()

    a1 = {r.conv_id: r.entity_id for r in latest(spark, dirs["assign"]).collect()}
    e0 = sorted(
        (r.id_A, r.id_B)
        for r in spark.read.parquet(dirs["matches"]).collect()
    )
    assert e0, "wave 1 must produce match edges"
    partner, x = e0[0]  # x: the conv that will be UPDATED
    assert a1[x] == a1[partner]
    y = next(
        c
        for c in sorted(r.conv_id for r in raw.select("conv_id").distinct().collect())
        if c.split("_")[0] != x.split("_")[0]
    )

    # wave 2: x re-sent with y's full content (an update, same conv_id)
    upd = raw.filter(F.col("conv_id") == y).withColumn("conv_id", F.lit(x))
    upd.coalesce(1).write.mode("append").parquet(dirs["in"])
    stream_link(*largs).awaitTermination()
    stream_entities(*eargs).awaitTermination()

    # batch rerun on the mutated corpus
    raw_mut = raw.filter(F.col("conv_id") != x).unionByName(upd).localCheckpoint()
    profs_mut = rollup_conversations(raw_mut).drop("turns").localCheckpoint()
    cands = candidate_pairs(profs_mut, "B1").select("id_A", "id_B")
    scored = score_pairs(
        add_features(hydrate_pairs(cands, profs_mut, HYDRATE_COLS)), model
    )
    want_edges = {
        (r.id_A, r.id_B)
        for r in scored.filter(F.col("pred") == 1).select("id_A", "id_B").collect()
    }
    got_edges = {
        (r.id_A, r.id_B)
        for r in current_matches(spark, dirs["matches"], dirs["base"]).collect()
    }
    assert got_edges == want_edges
    assert (x, y) in want_edges or (y, x) in want_edges

    edges_df = spark.createDataFrame(
        sorted(want_edges), "src string, dst string"
    )
    linked = (
        edges_df.select(F.col("src").alias("conv_id"))
        .unionByName(edges_df.select(F.col("dst").alias("conv_id")))
        .distinct()
    )
    want_assign = assign_entities(linked, edges_df)
    got_assign = latest(spark, dirs["assign"])
    assert sorted(map(tuple, got_assign.collect())) == sorted(
        map(tuple, want_assign.collect())
    )
    a2 = {r.conv_id: r.entity_id for r in got_assign.collect()}
    assert a2[x] == a2[y]  # re-homed into y's entity
    assert a2.get(partner) != a2[x]  # severed from the old duplicate

    fuse = dict(
        id_col="conv_id",
        mode_cols=("first_role", "primary_tool"),
        longest_col="last_text_norm",
        sum_cols=("n_tokens", "n_turns"),
    )
    prof_cols = ["conv_id", "first_role", "primary_tool", "last_text_norm",
                 "n_tokens", "n_turns"]
    want_golden = golden_records(profs_mut.select(*prof_cols), want_assign, **fuse)
    assert sorted(map(tuple, latest(spark, dirs["golden"]).collect())) == sorted(
        map(tuple, want_golden.collect())
    )


def test_stream_delete_tombstone_wave(spark, tmp_path):
    """DELETE through the stream: a tombstone turn (turn_idx=-1, NULL
    text) re-rolls the conversation to a profile with NULL blocking keys
    — its old edges invalidate, no new ones form, and the entity view
    equals the batch rerun on the corpus WITHOUT it."""
    from record_linkage_spark.operators.blocking import candidate_pairs
    from record_linkage_spark.operators.classifier import LinearModel, score_pairs
    from record_linkage_spark.operators.clustering import assign_entities
    from record_linkage_spark.operators.features import add_features
    from record_linkage_spark.operators.ground_truth import hydrate_pairs
    from record_linkage_spark.operators.incremental_link import HYDRATE_COLS
    from record_linkage_spark.operators.rollup import rollup_conversations
    from record_linkage_spark.streaming.incremental import (
        TRANSCRIPT_SCHEMA,
        current_matches,
        stream_entities,
        stream_link,
    )
    from record_linkage_spark.synth.transcripts import (
        generate_transcripts,
        transcripts_table,
    )

    model = LinearModel(
        weights=[2.0, 1.0, 1.5, 0.8, 0.6, 0.3, 0.5, 1.2, 0.4, 0.3, 0.8, 0.8, 0.8, 0.4, 1.0, 2.0],
        intercept=-6.0,
        threshold=0.5,
    )
    raw = transcripts_table(
        generate_transcripts(spark, n_entities=16, dup_rate=1.8)
    ).localCheckpoint()
    dirs = {n: str(tmp_path / n) for n in
            ("in", "base", "matches", "assign", "golden", "ckl", "cke")}
    raw.repartition(4, "conv_id").write.mode("append").parquet(dirs["in"])
    largs = (spark, dirs["in"], dirs["base"], dirs["matches"], dirs["ckl"], model)
    eargs = (spark, dirs["matches"], dirs["base"], dirs["assign"],
             dirs["golden"], dirs["cke"])
    stream_link(*largs).awaitTermination()
    stream_entities(*eargs).awaitTermination()

    e0 = sorted(
        (r.id_A, r.id_B) for r in spark.read.parquet(dirs["matches"]).collect()
    )
    assert e0
    x = e0[0][1]  # delete one endpoint of a matched pair

    # tombstone wave: one delete-marker turn. The epoch's edge write is
    # empty but still produces a part file (Spark writes one empty file
    # for an empty frame), so the maintenance stream fires an empty
    # batch and the retraction propagates immediately — not "at the
    # next real wave"
    spark.createDataFrame(
        [(x, -1, None, None, None, None)], TRANSCRIPT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(dirs["in"])
    stream_link(*largs).awaitTermination()
    stream_entities(*eargs).awaitTermination()

    # batch rerun WITHOUT the deleted conversation
    raw_mut = raw.filter(F.col("conv_id") != x).localCheckpoint()
    profs_mut = rollup_conversations(raw_mut).drop("turns").localCheckpoint()
    cands = candidate_pairs(profs_mut, "B1").select("id_A", "id_B")
    scored = score_pairs(
        add_features(hydrate_pairs(cands, profs_mut, HYDRATE_COLS)), model
    )
    want_edges = {
        (r.id_A, r.id_B)
        for r in scored.filter(F.col("pred") == 1).select("id_A", "id_B").collect()
    }
    got_edges = {
        (r.id_A, r.id_B)
        for r in current_matches(spark, dirs["matches"], dirs["base"]).collect()
    }
    assert got_edges == want_edges
    assert not any(x in e for e in got_edges)

    edges_df = spark.createDataFrame(
        sorted(want_edges) or [("_none", "_none")], "src string, dst string"
    ).filter(F.col("src") != "_none")
    linked = (
        edges_df.select(F.col("src").alias("conv_id"))
        .unionByName(edges_df.select(F.col("dst").alias("conv_id")))
        .distinct()
    )
    want_assign = sorted(
        map(tuple, assign_entities(linked, edges_df).collect())
    )
    got_assign = sorted(map(tuple, latest(spark, dirs["assign"]).collect()))
    assert x not in {c for c, _ in got_assign}
    assert got_assign == want_assign


def test_compact_state_blue_green_rollover(spark, tmp_path):
    """compact_state rewrites the epoch-partitioned stream state:
    superseded profile rows and delete tombstones gone, matches reduced
    to exactly the valid edge view — and the outputs seed a FRESH stream
    deployment (new checkpoints) whose next wave continues correctly."""
    from record_linkage_spark.operators.blocking import candidate_pairs
    from record_linkage_spark.operators.classifier import LinearModel, score_pairs
    from record_linkage_spark.operators.clustering import assign_entities
    from record_linkage_spark.operators.features import add_features
    from record_linkage_spark.operators.ground_truth import hydrate_pairs
    from record_linkage_spark.operators.incremental_link import HYDRATE_COLS
    from record_linkage_spark.operators.rollup import rollup_conversations
    from record_linkage_spark.streaming.incremental import (
        TRANSCRIPT_SCHEMA,
        compact_state,
        current_matches,
        stream_entities,
        stream_link,
    )
    from record_linkage_spark.synth.transcripts import (
        generate_transcripts,
        transcripts_table,
    )

    model = LinearModel(
        weights=[2.0, 1.0, 1.5, 0.8, 0.6, 0.3, 0.5, 1.2, 0.4, 0.3, 0.8, 0.8, 0.8, 0.4, 1.0, 2.0],
        intercept=-6.0,
        threshold=0.5,
    )
    ent = F.substring("conv_id", 1, 8).cast("int")
    raw_all = transcripts_table(
        generate_transcripts(spark, n_entities=16, dup_rate=1.8)
    ).localCheckpoint()
    raw = raw_all.filter(ent < 12).localCheckpoint()
    wave2 = raw_all.filter(ent >= 12).localCheckpoint()

    dirs = {n: str(tmp_path / n) for n in
            ("in", "base", "matches", "ckl", "assign", "golden", "cke",
             "g_base", "g_matches", "g_in", "g_ckl", "g_assign",
             "g_golden", "g_cke")}
    raw.repartition(4, "conv_id").write.mode("append").parquet(dirs["in"])
    largs = (spark, dirs["in"], dirs["base"], dirs["matches"], dirs["ckl"], model)
    stream_link(*largs).awaitTermination()

    edges = sorted(
        (r.id_A, r.id_B) for r in spark.read.parquet(dirs["matches"]).collect()
    )
    assert len(edges) >= 2
    x = edges[0][1]   # update target
    z = edges[-1][0]  # delete target (a different matched conv)
    assert z != x
    y = next(
        c
        for c in sorted(r.conv_id for r in raw.select("conv_id").distinct().collect())
        if c.split("_")[0] not in (x.split("_")[0], z.split("_")[0])
    )

    # update x := y's content; delete z via tombstone
    upd = raw.filter(F.col("conv_id") == y).withColumn("conv_id", F.lit(x))
    upd.coalesce(1).write.mode("append").parquet(dirs["in"])
    stream_link(*largs).awaitTermination()
    spark.createDataFrame(
        [(z, -1, None, None, None, None)], TRANSCRIPT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(dirs["in"])
    stream_link(*largs).awaitTermination()

    stats = compact_state(
        spark, dirs["base"], dirs["matches"], dirs["g_base"], dirs["g_matches"]
    )
    assert stats["tombstones_dropped"] == 1

    # compacted profiles: latest-wins, one row per conv, z gone, x carries
    # y's content
    comp = spark.read.parquet(dirs["g_base"])
    ids = [r.conv_id for r in comp.select("conv_id").collect()]
    assert len(ids) == len(set(ids))
    assert z not in ids and x in ids
    x_row = comp.filter(F.col("conv_id") == x).select("first_text_norm").first()
    y_row = comp.filter(F.col("conv_id") == y).select("first_text_norm").first()
    assert x_row.first_text_norm == y_row.first_text_norm

    # compacted matches == the valid edge view == batch edges on the
    # mutated corpus (x rewritten, z deleted)
    raw_mut = (
        raw.filter(~F.col("conv_id").isin(x, z)).unionByName(upd).localCheckpoint()
    )
    profs_mut = rollup_conversations(raw_mut).drop("turns").localCheckpoint()

    def batch_edges(profiles):
        cands = candidate_pairs(profiles, "B1").select("id_A", "id_B")
        scored = score_pairs(
            add_features(hydrate_pairs(cands, profiles, HYDRATE_COLS)), model
        )
        return {
            (r.id_A, r.id_B)
            for r in scored.filter(F.col("pred") == 1).select("id_A", "id_B").collect()
        }

    want_now = batch_edges(profs_mut)
    got_comp = {
        (r.id_A, r.id_B) for r in spark.read.parquet(dirs["g_matches"]).collect()
    }
    assert got_comp == want_now
    assert got_comp == {
        (r.id_A, r.id_B)
        for r in current_matches(spark, dirs["matches"], dirs["base"]).collect()
    }

    # blue/green rollover: a fresh deployment on the compacted state
    # takes the next wave and ends equal to the batch rerun on
    # (mutated corpus + wave2)
    wave2.repartition(2, "conv_id").write.mode("append").parquet(dirs["g_in"])
    stream_link(
        spark, dirs["g_in"], dirs["g_base"], dirs["g_matches"], dirs["g_ckl"], model
    ).awaitTermination()
    stream_entities(
        spark, dirs["g_matches"], dirs["g_base"], dirs["g_assign"],
        dirs["g_golden"], dirs["g_cke"]
    ).awaitTermination()

    full = raw_mut.unionByName(wave2)
    profs_full = rollup_conversations(full).drop("turns").localCheckpoint()
    want_edges = batch_edges(profs_full)
    got_edges = {
        (r.id_A, r.id_B)
        for r in current_matches(spark, dirs["g_matches"], dirs["g_base"]).collect()
    }
    assert got_edges == want_edges

    edges_df = spark.createDataFrame(sorted(want_edges), "src string, dst string")
    linked = (
        edges_df.select(F.col("src").alias("conv_id"))
        .unionByName(edges_df.select(F.col("dst").alias("conv_id")))
        .distinct()
    )
    want_assign = sorted(map(tuple, assign_entities(linked, edges_df).collect()))
    got_assign = sorted(map(tuple, latest(spark, dirs["g_assign"]).collect()))
    assert got_assign == want_assign


def test_stream_entities_maintains_assignment_and_golden(spark, tmp_path):
    """Two waves of match edges stream through stream_entities; the final
    snapshot's assignment AND golden table must equal the batch recompute
    over the union of all edges."""
    from record_linkage_spark.operators.clustering import assign_entities
    from record_linkage_spark.operators.rollup import rollup_conversations
    from record_linkage_spark.operators.survivorship import golden_records
    from record_linkage_spark.streaming.incremental import stream_entities
    from record_linkage_spark.synth.transcripts import (
        generate_transcripts,
        transcripts_table,
    )

    raw = transcripts_table(generate_transcripts(spark, n_entities=40, dup_rate=2.0))
    profiles = rollup_conversations(raw).drop("turns")
    base_dir = str(tmp_path / "profiles")
    profiles.write.parquet(base_dir + "/epoch=-1")

    # true edges: chain convs of the same hidden entity (conv_id prefix)
    convs = sorted(r.conv_id for r in profiles.select("conv_id").collect())
    by_ent = {}
    for c in convs:
        by_ent.setdefault(c.split("_")[0], []).append(c)
    all_edges = [
        (g[i], g[i + 1]) for g in by_ent.values() for i in range(len(g) - 1)
    ]
    assert len(all_edges) >= 4
    half = len(all_edges) // 2
    matches_dir = str(tmp_path / "matches")
    schema = "id_A string, id_B string"
    spark.createDataFrame(all_edges[:half], schema).write.mode(
        "append"
    ).parquet(matches_dir)

    args = (
        spark,
        matches_dir,
        base_dir,
        str(tmp_path / "assign"),
        str(tmp_path / "golden"),
        str(tmp_path / "ckpt"),
    )
    stream_entities(*args).awaitTermination()
    spark.createDataFrame(all_edges[half:], schema).write.mode(
        "append"
    ).parquet(matches_dir)
    stream_entities(*args).awaitTermination()

    got_assign = latest(spark, str(tmp_path / "assign"))
    edges_df = spark.createDataFrame(all_edges, schema).select(
        F.col("id_A").alias("src"), F.col("id_B").alias("dst")
    )
    linked_ids = (
        edges_df.select(F.col("src").alias("conv_id"))
        .unionByName(edges_df.select(F.col("dst").alias("conv_id")))
        .distinct()
    )
    want_assign = assign_entities(linked_ids, edges_df)
    assert sorted(map(tuple, got_assign.collect())) == sorted(
        map(tuple, want_assign.collect())
    )

    fuse = dict(
        id_col="conv_id",
        mode_cols=("first_role", "primary_tool"),
        longest_col="last_text_norm",
        sum_cols=("n_tokens", "n_turns"),
    )
    prof_cols = ["conv_id", "first_role", "primary_tool", "last_text_norm",
                 "n_tokens", "n_turns"]
    want_golden = golden_records(
        profiles.select(*prof_cols), want_assign, **fuse
    )
    got_golden = latest(spark, str(tmp_path / "golden"))
    assert sorted(map(tuple, got_golden.collect())) == sorted(
        map(tuple, want_golden.collect())
    )


def _uncommit_last_batch(checkpoint_dir):
    """Delete the newest commit of a streaming checkpoint, as if the query
    had died after its sink writes; returns that batch id."""
    commits = os.path.join(checkpoint_dir, "commits")
    n = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(n), f".{n}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    return n


def test_replayed_batch_rewrites_its_own_epoch(spark, tmp_path):
    """The retry contract of the epoch layout: a batch whose commit was
    lost replays under the same epoch id and overwrites its own output.
    After replaying the last batch of stream_entities and then of
    stream_link, the match, base, assignment and golden tables hold
    exactly the rows they held before, and the replayed link batch did
    not link a conversation to itself."""
    from record_linkage_spark.operators.classifier import LinearModel
    from record_linkage_spark.operators.incremental_link import HYDRATE_COLS
    from record_linkage_spark.operators.rollup import rollup_conversations
    from record_linkage_spark.streaming.incremental import (
        stream_entities,
        stream_link,
    )
    from record_linkage_spark.synth.transcripts import (
        generate_transcripts,
        transcripts_table,
    )

    model = LinearModel(
        weights=[2.0, 1.0, 1.5, 0.8, 0.6, 0.3, 0.5, 1.2, 0.4, 0.3, 0.8, 0.8, 0.8, 0.4, 1.0, 2.0],
        intercept=-6.0,
        threshold=0.5,
    )
    raw = transcripts_table(
        generate_transcripts(spark, n_entities=24, dup_rate=1.8)
    ).localCheckpoint()
    is_new = F.substring("conv_id", 1, 8).cast("int") >= 16
    dirs = {n: str(tmp_path / n) for n in
            ("in", "base", "matches", "assign", "golden", "ckl", "cke")}
    rollup_conversations(raw.filter(~is_new)).drop("turns").select(
        "conv_id", *HYDRATE_COLS
    ).write.parquet(dirs["base"] + "/epoch=-1")
    raw.filter(is_new).repartition(2, "conv_id").write.parquet(dirs["in"])
    largs = (spark, dirs["in"], dirs["base"], dirs["matches"], dirs["ckl"], model)
    eargs = (spark, dirs["matches"], dirs["base"], dirs["assign"],
             dirs["golden"], dirs["cke"])
    stream_link(*largs).awaitTermination()
    stream_entities(*eargs).awaitTermination()

    def tables():
        return {
            n: sorted(map(str, spark.read.parquet(dirs[n]).collect()))
            for n in ("matches", "base", "assign", "golden")
        }

    first = tables()
    assert first["matches"] and first["golden"]

    # stream_entities first: a stream_link replay rewrites the edge files
    # that the entity batch's offsets name
    for ckpt, stream in ((dirs["cke"], lambda: stream_entities(*eargs)),
                         (dirs["ckl"], lambda: stream_link(*largs))):
        n = _uncommit_last_batch(ckpt)
        stream().awaitTermination()
        commits = os.listdir(os.path.join(ckpt, "commits"))
        assert str(n) in commits and str(n + 1) not in commits  # replayed as n
        assert tables() == first

    assert all(
        r.id_A != r.id_B for r in spark.read.parquet(dirs["matches"]).collect()
    )


def test_maintenance_cli_compacts_synthetic_state(spark, tmp_path, capsys):
    """The maintenance entry point compacts a hand-built epoch-partitioned
    state: superseded profile rows latest-win, the tombstone drops, and
    the match table reduces to exactly the valid edge view."""
    import json

    from record_linkage_spark.streaming.maintenance import main

    base = str(tmp_path / "base")
    matches = str(tmp_path / "matches")
    prof_schema = "conv_id string, first_text_norm string, n_tokens int"
    spark.createDataFrame(
        [("A", "old words", 2), ("B", "b words", 2), ("C", "c words", 2)],
        prof_schema,
    ).write.parquet(f"{base}/epoch=0")
    spark.createDataFrame(
        [("A", "new words", 2), ("C", None, 0)], prof_schema
    ).write.parquet(f"{base}/epoch=1")
    pair_schema = "id_A string, id_B string"
    spark.createDataFrame(
        [("A", "B"), ("B", "C")], pair_schema
    ).write.parquet(f"{matches}/epoch=0")
    spark.createDataFrame([("A", "B")], pair_schema).write.parquet(
        f"{matches}/epoch=1"
    )

    out_base = str(tmp_path / "g_base")
    out_matches = str(tmp_path / "g_matches")
    stats = main(
        [
            "--base", base,
            "--matches", matches,
            "--out-base", out_base,
            "--out-matches", out_matches,
        ],
        spark=spark,
    )
    assert stats == {"profiles": 2, "tombstones_dropped": 1, "matches": 1}
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == stats

    comp = spark.read.parquet(out_base)
    rows = {r.conv_id: r.first_text_norm for r in comp.collect()}
    assert rows == {"A": "new words", "B": "b words"}
    got = [(r.id_A, r.id_B) for r in spark.read.parquet(out_matches).collect()]
    assert got == [("A", "B")]
