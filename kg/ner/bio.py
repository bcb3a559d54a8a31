"""M7 — BIO tag decode to typed entity spans (SURVEY.md §2.A M7).

seqeval convention (reconstructed reference semantics, BASELINE.json:6
"BIO tag decoding"): ``B-X`` opens a span; ``I-X`` continues an open
span of the same type; ``O`` or a type change closes; a dangling
``I-X`` with no open span of that type *starts a new span* (seqeval's
lenient default). Implemented as a vectorized pandas UDF returning an
array of span structs, then posexplode'd into the mentions table —
the per-sentence state machine never leaves the Arrow batch.
``decode_bio_flat`` is the same decode in numpy over many sentences
at once (the one-crossing kernel's BIO step).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SPAN_SCHEMA = ArrayType(
    StructType(
        [
            StructField("ent_type", StringType()),
            StructField("begin", IntegerType()),
            StructField("end", IntegerType()),
        ]
    )
)


# tag string -> (is_B, is_I, type) parsed once per distinct tag: the
# label vocabulary is tiny and fixed, so the two startswith probes +
# slice per TOKEN collapse to one dict hit (the decode loop runs per
# sentence in the staged NER UDF). Bounded for safety on
# open vocabularies; a miss just re-parses.
_TAG_PARSE: dict[str, tuple[bool, bool, str | None]] = {}
_TAG_PARSE_MAX = 1 << 16


def _parse_tag(tag: str) -> tuple[bool, bool, str | None]:
    v = _TAG_PARSE.get(tag)
    if v is None:
        if tag.startswith("B-"):
            v = (True, False, tag[2:])
        elif tag.startswith("I-"):
            v = (False, True, tag[2:])
        else:  # O (or anything else)
            v = (False, False, None)
        if len(_TAG_PARSE) < _TAG_PARSE_MAX:
            _TAG_PARSE[tag] = v
    return v


def decode_bio(tags: list[str]) -> list[tuple[str, int, int]]:
    """Pure kernel: BIO tags -> [(type, begin, end)] with end exclusive."""
    spans: list[tuple[str, int, int]] = []
    open_type: str | None = None
    begin = 0
    parse = _parse_tag
    for i, tag in enumerate(tags):
        is_b, is_i, t = parse(tag)
        if is_b:
            if open_type is not None:
                spans.append((open_type, begin, i))
            open_type, begin = t, i
        elif is_i:
            if open_type != t:  # dangling I- starts a new span
                if open_type is not None:
                    spans.append((open_type, begin, i))
                open_type, begin = t, i
        else:  # O (or anything else)
            if open_type is not None:
                spans.append((open_type, begin, i))
                open_type = None
    if open_type is not None:
        spans.append((open_type, begin, len(tags)))
    return spans


@lru_cache(maxsize=8)
def label_tables(labels: tuple[str, ...]) -> tuple[np.ndarray, np.ndarray, list[str]]:
    """Per label code: is it an ``I-`` tag, and its entity type code
    (-1 for ``O`` or anything else); plus the type names the codes
    index. Parsed like ``_parse_tag``; cached, so callers must not
    mutate the result."""
    def kind(tag: str) -> str | None:
        return tag[2:] if tag.startswith(("B-", "I-")) else None

    types = list(dict.fromkeys(t for t in map(kind, labels) if t is not None))
    is_i = np.array([tag.startswith("I-") for tag in labels], dtype=bool)
    type_code = np.array(
        [-1 if kind(tag) is None else types.index(kind(tag)) for tag in labels],
        dtype=np.int8,
    )
    return is_i, type_code, types


def decode_bio_flat(
    codes: np.ndarray, offsets: np.ndarray, labels: list[str]
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``decode_bio`` over many sentences at once: ``codes`` are label
    codes (indices into ``labels``) of all sentences end to end, and
    sentence s is ``codes[offsets[s]:offsets[s+1]]``. Returns the spans'
    flat (begin, end, type code) in sentence order, end exclusive.

    A tag continues the open span iff it is ``I-X`` and the previous
    tag of the same sentence has type X (``decode_bio``'s open type is
    always the previous tag's type). Every other non-``O`` tag starts a
    span, and a span ends at the first later tag that does not continue
    it: a start, an ``O``, or the next sentence's first tag."""
    is_i, type_code, _ = label_tables(tuple(labels))
    n = len(codes)
    typ = type_code[codes]
    first = np.zeros(n, dtype=bool)
    heads = offsets[:-1]
    first[heads[heads < n]] = True
    cont = is_i[codes] & ~first
    cont[1:] &= typ[1:] == typ[:-1]
    begin = np.flatnonzero((typ >= 0) & ~cont).astype(np.int32)
    breaks = np.append(np.flatnonzero(~cont), n).astype(np.int32)
    end = breaks[np.searchsorted(breaks, begin, side="right")]
    return begin, end, typ[begin]


@pandas_udf(SPAN_SCHEMA)
def _decode_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for tags_col in it:
        yield pd.Series(
            [
                [
                    {"ent_type": t, "begin": b, "end": e}
                    for (t, b, e) in decode_bio(list(tags))
                ]
                for tags in tags_col
            ]
        )


def bio_to_mentions(
    df: DataFrame, tags_col: str = "tags", words_col: str = "words"
) -> DataFrame:
    """tagged sentences -> mentions(url, sent_id, mention_id, ent_type,
    begin, end, surface, score).

    mention_id is a deterministic xxhash64 of (url, sent_id, begin) so
    reruns/resumes produce identical ids (no
    monotonically_increasing_id, which is partitioning-dependent).
    """
    spans = df.select(
        "url",
        "sent_id",
        F.col(words_col).alias("_words"),
        F.explode(_decode_udf(F.col(tags_col))).alias("span"),
    )
    return spans.select(
        "url",
        "sent_id",
        F.xxhash64("url", "sent_id", F.col("span.begin")).alias("mention_id"),
        F.col("span.ent_type").alias("ent_type"),
        F.col("span.begin").alias("begin"),
        F.col("span.end").alias("end"),
        F.concat_ws(
            " ",
            F.slice(
                F.col("_words"),
                F.col("span.begin") + 1,
                F.col("span.end") - F.col("span.begin"),
            ),
        ).alias("surface"),
        F.lit(1.0).alias("score"),
    )
