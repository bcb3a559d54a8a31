"""Generic reference operators the shipped K3/K4/K5 code is tested
against; nothing in ``kg`` calls them.

  * ``candidate_gen`` + ``rerank``: per-mention K3/K4 (Arrow embedding
    UDF, Catalyst zip_with+aggregate cosine, window row_number with a
    (cosine desc, entity_id asc) tie-break). ``kg.link``'s dictionary
    verdict is gated against them bit for bit in tests/test_link.py.
  * ``pair_gen``: K5 as a self-join on (url, sent_id), the reference
    for ``kg.relations.pair_gen_grouped`` in tests/test_relations.py.

Python workers import this module by name (``tests.reference``) when
they run ``_surface_embedding_udf``, as they import ``kg``: run the
tests from the repo root.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

from kg.ner import vocab as V
from kg.relations import MAX_RULE_WORDS


def candidate_gen(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """K3: mentions x broadcast(aliases) on lowercase surface."""
    return mentions.join(
        F.broadcast(aliases),
        F.lower(mentions["surface"]) == aliases["alias"],
        "inner",
    )


@pandas_udf(ArrayType(FloatType()))
def _surface_embedding_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    cache: dict[str, list[float]] = {}
    for s in it:
        out = []
        for surf in s:
            v = cache.get(surf)
            if v is None:
                v = [float(x) for x in V.surface_embedding(surf)]
                cache[surf] = v
            out.append(v)
        yield pd.Series(out)


def cosine_expr(a: str, b: str):
    """UDF-free cosine for L2-normalized array<float> columns:
    dot product via zip_with + aggregate (stays in codegen)."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def rerank(candidates: DataFrame, entity_vecs: DataFrame, k: int = 1) -> DataFrame:
    """K4 per mention: cosine(mention vec, entity vec), keep top-k by
    a window over ``mention_id``. The shape a sentence-contextual
    encoder would need; for the context-free encoder it equals the
    join against ``kg.link.alias_verdicts_local``."""
    with_vec = candidates.withColumn(
        "mention_vec", _surface_embedding_udf(F.col("surface"))
    ).join(F.broadcast(entity_vecs), "entity_id", "inner")
    scored = with_vec.withColumn(
        "cosine", cosine_expr("mention_vec", "embedding")
    ).drop("mention_vec", "embedding")
    w = Window.partitionBy("mention_id").orderBy(
        F.desc("cosine"), F.asc("entity_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pair_gen(linked: DataFrame) -> DataFrame:
    """K5: ordered co-sentence mention pairs (subject textual-first)
    as a self-join, within the ``MAX_RULE_WORDS`` gap bound.

    Shuffle-hash hinted: sentence keys are high-cardinality and the
    per-key groups are tiny, so hashing beats the sort-merge default."""
    m1 = linked.select(
        "url",
        "sent_id",
        F.col("mention_id").alias("subj_mention"),
        F.col("entity_id").alias("subj_entity"),
        F.col("ent_type").alias("subj_type"),
        F.col("begin").alias("subj_begin"),
        F.col("end").alias("subj_end"),
    )
    m2 = linked.select(
        "url",
        "sent_id",
        F.col("mention_id").alias("obj_mention"),
        F.col("entity_id").alias("obj_entity"),
        F.col("ent_type").alias("obj_type"),
        F.col("begin").alias("obj_begin"),
        F.col("end").alias("obj_end"),
    )
    return m1.join(m2.hint("shuffle_hash"), ["url", "sent_id"], "inner").filter(
        (F.col("subj_begin") < F.col("obj_begin"))
        & (F.col("obj_begin") - F.col("subj_end") <= MAX_RULE_WORDS)
    )
