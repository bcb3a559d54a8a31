"""K3 alias candidate generation + K4 embedding cosine re-rank.

K3 (BASELINE.json:6 "alias-dictionary candidate generation via
broadcast hash join"): the alias dictionary is orders of magnitude
smaller than the mentions table, so the join MUST be a broadcast hash
join — no shuffle of the 10^12-row mention side. Enforced with an
explicit ``F.broadcast`` hint (AQE would usually pick it, the hint
makes it a guarantee).

K4 (BASELINE.json:6 "embedding cosine re-rank"): the mention encoder
is a context-free hashed char-3-gram embedding of the lowercased
surface, so E(surface) == E(alias) and the whole K3+K4 verdict is a
function of the dictionary alone. ``alias_verdicts_local`` computes it
once on the driver as one numpy product (aliases x entity vectors) and
returns a local relation; ``compile_dictionary`` adds each verdict
entity's same-as component (K7) in the same pass, so the shipped
``link_pairs`` resolves a surface in one broadcast join per side.

``candidate_gen`` + ``rerank`` are the generic per-mention K3/K4
operators (Arrow embedding UDF, Catalyst zip_with+aggregate cosine,
window row_number with a (cosine desc, entity_id asc) tie-break).
They are the independent reference the verdict is gated against in
tests/test_link.py, bit for bit.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

from kg.graph import same_as_components
from kg.ner import vocab as V


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


def _verdicts(alias_pdf: pd.DataFrame, entity_vecs: DataFrame, k: int) -> pd.DataFrame:
    """``alias_verdicts_local`` as a pandas frame, from a pandas
    ``(alias, entity_id, prior)`` table."""
    # toPandas, not collect(): the Arrow path moves array cells without
    # pickling each one through py4j
    vec_pdf = entity_vecs.select("entity_id", "embedding").toPandas()
    m = alias_pdf.merge(vec_pdf, on="entity_id", how="inner")
    codes, uniq = pd.factorize(m["alias"])
    alias_vecs = np.array([V.surface_embedding(a) for a in uniq], dtype=np.float32)
    ent_vecs = np.array(m["embedding"].tolist(), dtype=np.float32)
    prod = alias_vecs[codes] * ent_vecs
    m["cosine"] = np.cumsum(prod.astype(np.float64), axis=1)[:, -1]
    m = m.sort_values(["alias", "cosine", "entity_id"], ascending=[True, False, True])
    m["rank"] = (m.groupby("alias", sort=False).cumcount() + 1).astype("int32")
    return m[m["rank"] <= k][["entity_id", "alias", "prior", "cosine", "rank"]]


def alias_verdicts_local(
    aliases: DataFrame, entity_vecs: DataFrame, k: int = 1
) -> DataFrame:
    """The K3+K4 verdict: each alias's top-``k`` candidate entities by
    cosine(E(alias), entity_vec), ties broken by entity_id ascending.

    Returns ``(entity_id long, alias string, prior double, cosine
    double, rank int)``, dictionary-sized, built from a pandas frame so
    it plans a LocalTableScan (not an ExistingRDD backed by a Python
    RDD).

    Computed on the driver in one numpy pass. The cosine is the same
    arithmetic as ``cosine_expr`` (gated bit for bit against
    ``rerank`` in tests): float32 element products, then a SEQUENTIAL
    float64 fold — ``np.cumsum`` accumulates left to right, a pairwise
    ``.sum()`` would not. Driver memory is bounded by the dictionary:
    aliases x 64 x 4 B for the stacked vectors, plus one embedding per
    distinct alias."""
    return aliases.sparkSession.createDataFrame(
        _verdicts(aliases.select("alias", "entity_id", "prior").toPandas(), entity_vecs, k),
        schema="entity_id long, alias string, prior double, cosine double, rank int",
    )


def compile_dictionary(aliases: DataFrame, entity_vecs: DataFrame) -> DataFrame:
    """The alias dictionary compiled for linking, in one driver pass:
    ``(alias string, entity_id long, component long)``, one row per
    alias: its top-1 entity (the ``alias_verdicts_local`` verdict) and
    that entity's same-as component (``same_as_components``; an entity
    outside every component is its own). Built from a pandas frame, so
    it plans a LocalTableScan: its rows travel in the plan."""
    alias_pdf = aliases.select("alias", "entity_id", "prior").toPandas()
    verdict = _verdicts(alias_pdf, entity_vecs, k=1)
    comps = same_as_components(alias_pdf)
    label = dict(zip(comps["id"].tolist(), comps["component"].tolist()))
    out = verdict[["alias", "entity_id"]].assign(
        component=[label.get(e, e) for e in verdict["entity_id"].tolist()]
    )
    return aliases.sparkSession.createDataFrame(
        out, schema="alias string, entity_id long, component long"
    )


def rerank(candidates: DataFrame, entity_vecs: DataFrame, k: int = 1) -> DataFrame:
    """K4 per mention: cosine(mention vec, entity vec), keep top-k by
    a window over ``mention_id``. The shape a sentence-contextual
    encoder would need; for the context-free encoder it equals the
    join against ``alias_verdicts_local``."""
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
