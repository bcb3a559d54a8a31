"""M2 sentence split + M3 word tokenize — pure Catalyst, no UDFs.

The reference splits raw text into sentences and whitespace/punct
word tokens before subword encoding (SURVEY.md §2.A M2/M3, [R]).
Both ops here stay entirely JVM-side (whole-stage codegen), which is
the Spark-first answer: regex split + posexplode instead of a Python
tokenizer loop. Only the staged oracle (``kg.pipeline.stage_sentences``)
runs them; the crossing splits with their pyarrow twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# sentence boundary: newline runs, or whitespace after .!?
SENTENCE_BOUNDARY = r"(?<=[.!?])\s+|\n+"
WORD_BOUNDARY = r"\s+"


def split_sentences(df: DataFrame) -> DataFrame:
    """text_extracted(url, ..., text) -> sentences(url, sent_id, sentence).

    posexplode keeps the in-document sentence order as sent_id without
    any window/shuffle — the split happens in the scan stage.
    """
    keep = [c for c in df.columns if c != "text"]
    return (
        df.select(
            *keep,
            F.posexplode(
                F.split(F.col("text"), SENTENCE_BOUNDARY)
            ).alias("sent_id", "sentence"),
        )
        .withColumn("sentence", F.trim(F.col("sentence")))
        .filter(F.col("sentence") != "")
    )


def tokenize_words(df: DataFrame) -> DataFrame:
    """sentences -> + words: array<string> (M3, whitespace tokenize)."""
    return df.withColumn("words", F.split(F.trim(F.col("sentence")), WORD_BOUNDARY))
