"""Conversation rollup: turns table -> one profile row per conv_id.

The analogue of the reference's mediated entity table
(``src/preparation/mediated_schema.py:157-177``): the per-turn transcript
rows are grouped to one record per ``conv_id`` with a nested, stably
ordered ``turns`` array plus derived profile/blocking columns.

Spark-first shape (north_star): ``sortWithinPartitions(conv_id, turn_idx)``
after an explicit repartition on the group key, then ``groupBy(conv_id) +
collect_list(struct(turn_idx, ...))`` re-sorted with ``sort_array`` —
``sort_array`` on a struct orders by its first field (turn_idx), so
per-turn text equality under stable turn ordering holds regardless of
which executor saw which rows. Turn-array derivations are higher-order
array functions / built-ins; the token columns come from ONE Arrow
kernel pass (see _tokenize_kernel for why that beats the expression
route here).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from record_linkage_spark.config import BLOCK_TOKEN_PREFIX_K
from record_linkage_spark.functions.text import norm_text, token_prefix


def _tokenize_kernel():
    """One Arrow pass producing all token-derived profile columns.

    The JVM expression route recomputes the 3-regex normalization chain
    per consumer (the turns-array lambdas force the whole projection into
    interpreted mode, which has no subexpression elimination) — measured
    ~6s at 64k conversations vs <1s here. Normalization mirrors
    functions.text.norm_tokens exactly (ASCII regexes, tested); the hash
    set uses pandas' deterministic siphash — only pairwise agreement
    matters for Jaccard, and determinism across executors/runs holds.

    Factory (not a module-level decorator): pandas_udf parses its DDL
    schema eagerly and needs an active SparkSession.
    """

    @F.pandas_udf(
        "norm_tokens array<string>, token_set array<string>, token_hash_set array<long>"
    )
    def kernel(text: pd.Series) -> pd.DataFrame:
        from record_linkage_spark.functions.text import _norm_token_lists

        token_lists = _norm_token_lists(text)
        tsets = [sorted(set(t)) for t in token_lists]
        hsets = [
            sorted(
                int(h)
                for h in pd.util.hash_array(np.asarray(ts, dtype=object)).view(np.int64)
            )
            if ts
            else []
            for ts in tsets
        ]
        return pd.DataFrame(
            {"norm_tokens": token_lists, "token_set": tsets, "token_hash_set": hsets}
        )

    return kernel

PROFILE_COLS = [
    "conv_id",
    "turns",
    "norm_tokens",
    "token_set",
    "token_hash_set",
    "n_tokens",
    "first_text",
    "last_text",
    "first_text_norm",
    "last_text_norm",
    "n_turns",
    "n_user_turns",
    "n_assistant_turns",
    "n_tool_turns",
    "first_role",
    "primary_tool",
    "tools_used",
    "started_at",
    "ended_at",
    "duration_sec",
    "text_len_bucket",
    "token_prefix",
]


def rollup_conversations(
    transcripts: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """turns(conv_id, turn_idx, role, text, tool, ts) -> profile table.

    One shuffle (the groupBy); everything downstream of collect_list is
    array expressions evaluated per row, so the stage scales linearly with
    conversations and is skew-safe (a conversation fits in one row).
    """
    t = transcripts
    if not num_partitions:
        # explicit partition count: repartition(col) alone lets AQE size
        # the exchange by shuffle *bytes*, which under-parallelizes the
        # CPU-heavy downstream (profiles are bytes-small but every
        # subsequent kernel stage inherits the partitioning)
        num_partitions = max(
            transcripts.sparkSession.sparkContext.defaultParallelism * 2, 8
        )
    t = t.repartition(num_partitions, "conv_id")
    # explicit per-partition ordering before the grouped aggregation
    t = t.sortWithinPartitions("conv_id", "turn_idx")

    turns_struct = F.struct(
        F.col("turn_idx"), F.col("role"), F.col("text"), F.col("tool"), F.col("ts")
    )
    g = t.groupBy("conv_id").agg(
        F.sort_array(F.collect_list(turns_struct)).alias("turns")
    )

    turns = F.col("turns")
    texts = F.transform(turns, lambda x: x["text"])
    roles = F.transform(turns, lambda x: x["role"])
    all_text = F.concat_ws(" ", F.filter(texts, lambda x: x.isNotNull()))

    def role_count(r):
        return F.size(F.filter(roles, lambda x: x == r))

    prof = (
        g.withColumn("n_turns", F.size(turns))
        # token columns from ONE Arrow kernel call (deduplicated by the
        # PythonUDF extraction rule, so the struct is computed once):
        # norm_tokens plus the per-profile precomputed distinct token set
        # and its hashed variant — the scoring hot path's Jaccard input
        # (array<long> intersects are ~4x cheaper than array<string>)
        .withColumn("_tok", _tokenize_kernel()(all_text))
        .withColumn("norm_tokens", F.col("_tok.norm_tokens"))
        .withColumn("token_set", F.col("_tok.token_set"))
        .withColumn("token_hash_set", F.col("_tok.token_hash_set"))
        .withColumn("n_tokens", F.size("norm_tokens"))
        .withColumn("first_text", F.element_at(turns, 1)["text"])
        .withColumn("last_text", F.element_at(turns, -1)["text"])
        .withColumn("first_text_norm", norm_text(F.col("first_text")))
        .withColumn("last_text_norm", norm_text(F.col("last_text")))
        .withColumn("n_user_turns", role_count("user"))
        .withColumn("n_assistant_turns", role_count("assistant"))
        .withColumn("n_tool_turns", role_count("tool"))
        .withColumn("first_role", F.element_at(roles, 1))
        .withColumn(
            "tools_used",
            F.array_sort(
                F.array_distinct(
                    F.filter(
                        F.transform(turns, lambda x: x["tool"]), lambda x: x.isNotNull()
                    )
                )
            ),
        )
        # try_element_at: tools_used may be empty and ANSI mode (Spark 4
        # default) makes plain element_at throw on out-of-bounds
        .withColumn("primary_tool", F.try_element_at(F.col("tools_used"), F.lit(1)))
        .withColumn("started_at", F.element_at(turns, 1)["ts"])
        .withColumn("ended_at", F.element_at(turns, -1)["ts"])
        .withColumn(
            "duration_sec",
            F.unix_timestamp("ended_at").cast("double")
            - F.unix_timestamp("started_at").cast("double"),
        )
        .withColumn("text_len_bucket", (F.col("n_tokens") / F.lit(32)).cast("int"))
        .withColumn(
            "token_prefix", token_prefix(F.col("norm_tokens"), BLOCK_TOKEN_PREFIX_K)
        )
    )
    return prof.select(*PROFILE_COLS)
