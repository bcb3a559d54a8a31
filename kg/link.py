"""K3 alias candidate generation + K4 embedding cosine re-rank.

K3 (BASELINE.json:6 "alias-dictionary candidate generation via
broadcast hash join"): the alias dictionary is orders of magnitude
smaller than the mentions table, so the join MUST be a broadcast hash
join — no shuffle of the 10^12-row mention side. ``kg.pipeline``'s
link joins carry an explicit ``F.broadcast`` hint (AQE would usually
pick it, the hint makes it a guarantee).

K4 (BASELINE.json:6 "embedding cosine re-rank"): the mention encoder
is a context-free hashed char-3-gram embedding of the lowercased
surface, so E(surface) == E(alias) and the whole K3+K4 verdict is a
function of the dictionary alone. ``alias_verdicts_local`` computes it
once on the driver as one numpy product (aliases x entity vectors) and
returns a local relation; ``compile_dictionary`` adds each verdict
entity's same-as component (K7) in the same pass, so the shipped
``link_pairs`` resolves a surface in one broadcast join per side.

The generic per-mention K3/K4 operators the verdict is gated
against bit for bit (``candidate_gen`` + ``rerank``) live with the
tests, in tests/reference.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from kg.graph import same_as_components
from kg.ner import vocab as V


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
    arithmetic as tests/reference.py's ``cosine_expr`` (gated bit for
    bit against its ``rerank``): float32 element products, then a SEQUENTIAL
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
