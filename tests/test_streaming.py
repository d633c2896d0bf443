"""Structured Streaming incremental path: file source -> foreachBatch
rollup upsert; windowed streaming aggregate smoke."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from record_linkage_spark.streaming.incremental import (
    stream_profiles,
    windowed_turn_counts,
)
from record_linkage_spark.synth.transcripts import (
    generate_transcripts,
    transcripts_table,
)


def test_stream_profiles_available_now(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    t = transcripts_table(generate_transcripts(spark, n_entities=20))
    t.write.parquet(inp)

    q = stream_profiles(spark, inp, out, chk)
    q.awaitTermination(120)
    assert not q.isActive or q.stop() is None

    got = spark.read.parquet(os.path.join(out, "epoch=0"))
    assert got.count() == t.select("conv_id").distinct().count()
    assert "n_turns" in got.columns


def test_windowed_turn_counts_memory_sink(spark, tmp_path):
    inp = str(tmp_path / "in2")
    t = transcripts_table(generate_transcripts(spark, n_entities=10))
    t.write.parquet(inp)
    agg = windowed_turn_counts(spark, inp)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("turn_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql("SELECT sum(n_turns) AS n FROM turn_counts").first()
    assert res.n == t.count()


def _turn_rows(spark, rows):
    """(conv_id, role, text, ts_string) -> transcript-schema frame."""
    from pyspark.sql import functions as F

    from record_linkage_spark.streaming.incremental import TRANSCRIPT_SCHEMA

    return spark.createDataFrame(
        [
            (cid, 0, role, text, None, ts)
            for cid, role, text, ts in rows
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in TRANSCRIPT_SCHEMA.fields
        ]
    )


def test_windowed_turn_counts_drops_beyond_watermark(spark, tmp_path):
    """The watermark BOUND on the event-time surface: with a 10-minute
    watermark in append mode, a row arriving after the watermark has
    passed its 5-minute window is dropped from that window's final
    count; the finalized window emits only the on-time rows."""
    from record_linkage_spark.streaming.incremental import windowed_turn_counts

    inp = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run():
        # file sink: the only append-mode sink that recovers from a
        # checkpoint across runs (memory sink can't); emitted rows
        # accumulate under `out` exactly once each
        q = (
            windowed_turn_counts(spark, inp)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # wave 1: three rows in [12:00, 12:05) plus a watermark driver at
    # 12:30 -> checkpointed watermark = 12:20, far past that window
    _turn_rows(
        spark,
        [
            ("a", "user", "x", "2024-06-02 12:00:10"),
            ("b", "user", "x", "2024-06-02 12:01:00"),
            ("c", "user", "x", "2024-06-02 12:04:00"),
            ("d", "user", "x", "2024-06-02 12:30:00"),
        ],
    ).write.mode("append").parquet(inp)
    run()

    # wave 2: one row LATE beyond the watermark (12:01 < 12:20 -> must
    # not resurrect the [12:00,12:05) window) and one advancing the
    # watermark to 12:50 so that window finalizes and emits
    _turn_rows(
        spark,
        [
            ("late", "user", "x", "2024-06-02 12:01:30"),
            ("e", "user", "x", "2024-06-02 13:00:00"),
        ],
    ).write.mode("append").parquet(inp)
    run()

    # wave 3: advances the watermark to 13:20 so the 12:30 window
    # finalizes too (append emits a window one batch AFTER the
    # watermark passes it)
    _turn_rows(
        spark, [("f", "user", "x", "2024-06-02 13:30:00")]
    ).write.mode("append").parquet(inp)
    run()

    rows = (
        spark.read.parquet(out)
        .selectExpr("CAST(window.start AS STRING) AS ws", "n_turns")
        .collect()
    )
    emitted = {}
    for r in rows:
        emitted[r.ws] = emitted.get(r.ws, 0) + int(r.n_turns)
    # finalized [12:00,12:05) counts the 3 on-time rows only — the late
    # row was dropped; the 12:30 window finalized with its 1 row
    assert emitted["2024-06-02 12:00:00"] == 3
    assert emitted["2024-06-02 12:30:00"] == 1
    # the wave-3 watermark (13:20) finalized [13:00,13:05) in the same
    # availableNow run (Spark flushes evictable state before stopping);
    # the 13:30 window is still open — never emitted
    assert emitted["2024-06-02 13:00:00"] == 1
    assert "2024-06-02 13:30:00" not in emitted
