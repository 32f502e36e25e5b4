"""Analyzer: lowercase + word tokenization, shared by engine, oracle, and SQL gate.

The reference delegates analysis to Lucene's ``standard`` analyzer (UAX#29
word break + lowercase); the chunkers default to the same analyzer
(reference ``processor/chunker/FixedTokenLengthChunker.java:52,158-169``).
For ASCII code/text — this engine's corpus per BASELINE.json input_hint —
UAX#29 word break reduces to "maximal runs of letters/digits, with
underscore joining runs" (ExtendNumLet, UAX#29 WB13), i.e. ``foo_bar`` is a
single token, exactly like Lucene's StandardTokenizer. We therefore define
the analyzer as:

    lowercase(text)  →  all matches of  [a-z0-9_]+

One regex, three implementations that must agree bit-for-bit:

- Spark engine: Arrow-batched pandas UDF (``tokenize_udf`` /
  ``term_freq_rows``) — vectorized, no per-row Python UDFs.
- DuckDB oracle SQL: ``regexp_extract_all(lower(text), '[a-z0-9_]+')``.
- Pure-Python test oracle: ``tokenize_text``.

Non-ASCII input falls outside the parity contract (documented deviation
from full UAX#29; the reference test corpora are ASCII,
``HybridQueryIT.java:62-64``).
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

#: the single source of truth for tokenization
TOKEN_PATTERN = r"[a-z0-9_]+"
#: same pattern, spelled for DuckDB's RE2 (identical here)
SQL_TOKEN_PATTERN = "[a-z0-9_]+"

_TOKEN_RE = re.compile(TOKEN_PATTERN)


def tokenize_text(text: str) -> list[str]:
    """Pure-Python analyzer (test oracle path)."""
    return _TOKEN_RE.findall(text.lower())


@pandas_udf(ArrayType(StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    """content → array<string> of analyzed tokens (Arrow-batched)."""
    return texts.fillna("").str.lower().str.findall(_TOKEN_RE)


# Map-side term-frequency aggregation: emitting one row per *distinct*
# (doc, term) instead of one per token occurrence shrinks the postings
# shuffle by ~avg tf (typically 2-5x on code) before it ever leaves the
# scan stage — the first shuffle-minimization lever at 10^12-file scale.
_TF_SCHEMA = StructType(
    [
        StructField("tf_map", MapType(StringType(), IntegerType()), False),
        StructField("dl", IntegerType(), False),
    ]
)


@pandas_udf(_TF_SCHEMA)
def term_freqs_udf(texts: pd.Series) -> pd.DataFrame:
    """content → (map<term,tf>, doc length in tokens)."""
    toks = texts.fillna("").str.lower().str.findall(_TOKEN_RE)
    return pd.DataFrame(
        {"tf_map": [dict(Counter(t)) for t in toks], "dl": [len(t) for t in toks]}
    )


def term_freq_rows(df, text_col: str, id_col: str):
    """corpus → long-form postings rows ``(docID, term, tf, dl)``, where
    ``dl`` is the document's length in tokens, repeated on each of its rows.

    This is the engine's (term, docID, tf) emission step
    (BASELINE.json north_star). Wholly Arrow-vectorized; the explode runs
    JVM-side so only distinct (doc, term) pairs hit any downstream shuffle.
    """
    from pyspark.sql import functions as F

    return (
        df.select(F.col(id_col).alias("docID"), term_freqs_udf(F.col(text_col)).alias("_tf"))
        .select("docID", F.explode(F.col("_tf.tf_map")).alias("term", "tf"), F.col("_tf.dl").alias("dl"))
    )


def doc_lengths(df, text_col: str, id_col: str):
    """corpus → ``(docID, dl)`` token counts (Arrow-batched)."""
    from pyspark.sql import functions as F

    return df.select(
        F.col(id_col).alias("docID"),
        term_freqs_udf(F.col(text_col)).getField("dl").alias("dl"),
    )
