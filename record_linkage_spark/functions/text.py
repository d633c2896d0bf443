"""Text-normalization column expressions (pure Catalyst built-ins, codegen'd).

Re-expresses the reference's row-at-a-time pandas normalizers
(``src/preparation/mediated_schema.py:80-125`` — ``_clean_text`` /
``_clean_desc``) as native Spark column expressions: lowercase, URL strip,
non-alphanumeric strip, whitespace collapse, null-token canonicalization.
No Python executes per row. ``_norm_token_lists`` is the one batch (pandas)
mirror of ``norm_text_with_urls``, for vectorized kernels that tokenize
inside a pandas UDF.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from record_linkage_spark.config import NULL_TOKENS

__all__ = [
    "md5_60",
    "norm_text",
    "norm_text_with_urls",
    "norm_tokens",
    "null_canon",
    "prefix_key",
    "token_prefix",
]


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def null_canon(c) -> Column:
    """Canonicalize pandas-style missing tokens ('nan','none','','<NA>'…)
    to SQL NULL (reference mediated_schema.py:88,96-98,110)."""
    c = _col(c)
    lowered = F.lower(F.trim(c))
    cond = c.isNull()
    for tok in NULL_TOKENS:
        cond = cond | (lowered == tok)
    return F.when(cond, F.lit(None).cast("string")).otherwise(c)


def norm_text(c) -> Column:
    """lower → strip non-[a-z0-9\\s] → collapse whitespace → trim → NULL-canon
    (reference _clean_text, mediated_schema.py:80-102)."""
    c = _col(c)
    s = F.lower(c)
    s = F.regexp_replace(s, r"[^a-z0-9\s]", "")
    s = F.regexp_replace(s, r"\s+", " ")
    s = F.trim(s)
    return F.when(s == "", F.lit(None).cast("string")).otherwise(s)


def norm_text_with_urls(c) -> Column:
    """Description normalizer: URL strip + punctuation→space before the
    standard chain (reference _clean_desc, mediated_schema.py:104-125)."""
    c = _col(c)
    s = F.lower(c)
    s = F.regexp_replace(s, r"(http\S+|www\S+)", " ")
    s = F.regexp_replace(s, r"[^a-z0-9\s]", " ")
    s = F.regexp_replace(s, r"\s+", " ")
    s = F.trim(s)
    return F.when(s == "", F.lit(None).cast("string")).otherwise(s)


# --- batch (pandas) text normalization mirroring norm_text_with_urls ---
# Java regex \s / \S are ASCII-only; re.ASCII keeps Python parity.
_URL_RE = re.compile(r"(http\S+|www\S+)", re.ASCII)
_NON_ALNUM_RE = re.compile(r"[^a-z0-9\s]", re.ASCII)
_WS_RE = re.compile(r"\s+", re.ASCII)


def _norm_token_lists(text: pd.Series) -> list[list[str]]:
    s = text.fillna("").astype(str).str.lower()
    s = s.str.replace(_URL_RE, " ", regex=True)
    s = s.str.replace(_NON_ALNUM_RE, " ", regex=True)
    s = s.str.replace(_WS_RE, " ", regex=True).str.strip()
    return [t.split(" ") if t else [] for t in s]


def norm_tokens(c) -> Column:
    """Normalized token array of a text column (split on whitespace after
    norm_text_with_urls). Empty/NULL text -> empty array."""
    s = norm_text_with_urls(c)
    return F.when(s.isNull(), F.array().cast("array<string>")).otherwise(
        F.split(s, " ")
    )


def md5_60(col) -> Column:
    """Cross-engine-portable 60-bit token hash: the first 15 hex chars of
    md5, parsed as an integer. Unlike xxhash64 (JVM-only) or the siphash
    kernels (Python-only), an independent engine (DuckDB:
    ``('0x' || substr(md5(t), 1, 15))::BIGINT``) reproduces it exactly, so
    operators built on it can be value-checked end-to-end by a SQL oracle.
    60 bits keeps the value inside a signed long in both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def prefix_key(c, n: int) -> Column:
    """First-n characters blocking key (reference generate.py:53-54:
    manufacturer[:3])."""
    return F.substring(_col(c), 1, n)


def token_prefix(tokens, k: int) -> Column:
    """First-k tokens of an array<string> joined by space — the transcript
    analogue of the manufacturer-prefix block key."""
    return F.concat_ws(" ", F.slice(_col(tokens), 1, k))


def phonetic_key(c) -> Column:
    """Soundex phonetic blocking key (Spark built-in, JVM-side): spelling
    variants of the same name collide (Robert/Rupert -> R163,
    Smith/Smyth -> S530), the classic recall-raising redundant key for a
    disjunctive scheme — pair it with exact/prefix keys under
    ``blocking.meta_block_prune`` so its false collisions are pruned by
    the common-blocks weight instead of a text scorer. Empty input maps
    to empty (meta_block_prune drops empty keys); NULL stays NULL."""
    return F.soundex(_col(c))


def phonetic_name_key(c) -> Column:
    """Soundex of the FIRST token (the name-shaped prefix) of a free-text
    column — the usable phonetic key for multi-word fields."""
    s = _col(c)
    return F.soundex(F.substring_index(F.trim(s), " ", 1))


def serialize_record(field_cols: list[tuple[str, "Column | str"]]) -> Column:
    """P21 — Ditto-style record serialization (``ditto_format.py:55-74``):
    ``"COL <f> VAL <v>"`` for every non-null field, space-joined in the
    given order; as one ``concat_ws`` expression (codegen, no Python)."""
    parts = []
    for name, c in field_cols:
        c = _col(c)
        parts.append(
            F.when(
                c.isNotNull(),
                F.concat(F.lit(f"COL {name} VAL "), c.cast("string")),
            )
        )
    return F.concat_ws(" ", *parts)


def serialize_pair(left: Column, right: Column, label) -> Column:
    """P21/S6 — tab-joined serialized pair + label line."""
    lab = _col(label) if isinstance(label, str) else F.lit(label)
    return F.concat_ws("\t", left, right, lab.cast("string"))
