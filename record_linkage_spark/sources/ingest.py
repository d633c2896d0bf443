"""Schema-enforced JSONL transcript ingest with corrupt-record
quarantine.

The engine's other sources read clean parquet; real transcript feeds
land as JSON Lines from logging pipelines, and at 100 TB some lines ARE
malformed (truncated writes, mixed schemas, encoding damage). The
production contract is: never fail the job on a bad line, never
silently drop it either — parse permissively, route rejects to a
quarantine table with the raw line preserved, and let the clean side
flow into the rollup unchanged.

Built entirely on Spark's native JSON reader semantics (PERMISSIVE mode
+ ``columnNameOfCorruptRecord`` — the same machinery Databricks docs
describe for badRecordsPath, expressed portably): the scan itself does
the parsing in the JVM, one pass, no Python. Validation beyond syntax
(null keys, negative turn indexes, unparseable timestamps) is a codegen
filter stack so structurally-valid-but-semantically-broken rows land in
the same quarantine with a reason column.

Reference parity: the reference ingests CSV with pandas and drops bad
rows silently (``/root/reference/src/preprocessing/load.py``); this is
the auditable version of that step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from record_linkage_spark.streaming.incremental import (
    skip_empty,
    start_foreach_batch,
    write_epoch,
)

# TRANSCRIPT_SCHEMA plus the corrupt-record capture column. conv_id /
# turn_idx are nullable HERE (a malformed line yields nulls; the
# semantic validator quarantines them) — the clean output re-asserts
# the contract schema.
_INGEST_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.LongType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.StringType(), True),  # parsed semantically below
        T.StructField("_corrupt_record", T.StringType(), True),
    ]
)

INT32_MAX = (1 << 31) - 1


def split_parsed_transcripts(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE-parsed frame (``_INGEST_SCHEMA`` shape) into
    ``(clean, quarantine)`` — the shared validator behind the batch and
    streaming readers.

    Semantic rejects (checked in this order, first failure wins):
    ``no_conv_id``, ``bad_turn_idx`` (null, negative, or > int32),
    ``bad_ts`` (present but unparseable as a timestamp). ``ts`` null
    stays clean — the rollup tolerates missing timestamps.
    """
    ts_parsed = F.try_to_timestamp(F.col("ts"))
    reason = (
        F.when(F.col("_corrupt_record").isNotNull(), F.lit("bad_json"))
        .when(F.col("conv_id").isNull() | (F.trim("conv_id") == ""), F.lit("no_conv_id"))
        .when(
            F.col("turn_idx").isNull()
            | (F.col("turn_idx") < 0)
            | (F.col("turn_idx") > INT32_MAX),
            F.lit("bad_turn_idx"),
        )
        .when(F.col("ts").isNotNull() & ts_parsed.isNull(), F.lit("bad_ts"))
    )
    tagged = raw.withColumn("_reason", reason)

    clean = tagged.filter(F.col("_reason").isNull()).select(
        F.col("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role",
        "text",
        "tool",
        ts_parsed.alias("ts"),
    )
    # for syntactically-valid-but-rejected rows, reconstruct the line as
    # evidence (to_json of the parsed struct); for bad_json the original
    # line is already captured verbatim
    quarantine = tagged.filter(F.col("_reason").isNotNull()).select(
        F.coalesce(
            F.col("_corrupt_record"),
            F.to_json(F.struct("conv_id", "turn_idx", "role", "text", "tool", "ts")),
        ).alias("raw"),
        F.col("_reason").alias("reason"),
    )
    return clean, quarantine


def read_jsonl_transcripts(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Parse a JSONL transcript feed into ``(clean, quarantine)``.

    ``clean`` carries the engine's transcript contract columns
    (conv_id, turn_idx int, role, text, tool, ts timestamp) — every row
    syntactically valid JSON AND semantically admissible. ``quarantine``
    carries ``(raw string, reason string)`` — the evidence table an
    ingest SLO monitors and an operator replays after a fix.
    """
    raw = spark.read.schema(_INGEST_SCHEMA).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)
    return split_parsed_transcripts(raw)


def stream_ingest(
    spark: SparkSession,
    input_dir: str,
    clean_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
):
    """Streaming JSONL ingest: each micro-batch splits through the same
    validator and lands as parquet epochs of ``clean_dir`` /
    ``quarantine_dir`` (the epoch layout of ``streaming/incremental.py``).
    The clean side is exactly the transcript contract, so
    ``stream_profiles`` / ``stream_link`` consume ``clean_dir``
    unchanged: a malformed line can never fail or poison the linkage
    stream, only land in quarantine with a reason.

    Returns the StreamingQuery (availableNow trigger; caller awaits).
    """
    stream = (
        spark.readStream.schema(_INGEST_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("maxFilesPerTrigger", 8)
        .json(input_dir)
    )

    def split_and_write(batch_df: DataFrame, epoch_id: int) -> None:
        clean, quarantine = split_parsed_transcripts(batch_df)
        write_epoch(clean, clean_dir, epoch_id)
        write_epoch(quarantine, quarantine_dir, epoch_id)

    return start_foreach_batch(stream, skip_empty(split_and_write), checkpoint_dir)


def ingest_report(quarantine: DataFrame) -> DataFrame:
    """Reject counts per reason — the 4-row-max SLO frame."""
    return quarantine.groupBy("reason").agg(F.count(F.lit(1)).alias("n"))
