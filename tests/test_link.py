"""K3/K4 entity linking: broadcast candidates + cosine re-rank."""

import pyspark.sql.functions as F

from kg.fixtures import aliases_df, entity_vecs_df
from tests.reference import candidate_gen, rerank
from kg.ner import vocab as V


def _mentions_df(spark, surfaces):
    rows = [
        ("u", 0, i, "ORG", 0, len(s.split()), s, 1.0)
        for i, s in enumerate(surfaces)
    ]
    return spark.createDataFrame(
        rows,
        "url string, sent_id int, mention_id long, ent_type string, "
        "begin int, end int, surface string, score double",
    )


def test_full_surface_single_candidate(spark):
    m = _mentions_df(spark, ["Novari Labs"])
    cand = candidate_gen(m, aliases_df(spark))
    rows = cand.collect()
    assert len(rows) == 1
    reg = {e["surface"]: e["entity_id"] for e in V.entity_registry()}
    assert rows[0]["entity_id"] == reg["Novari Labs"]


def test_stem_surface_multi_candidate_reranked(spark):
    """'Quellix' aliases to both Quellix Corp and Quellix Holdings;
    K4 must produce a deterministic single top-1."""
    m = _mentions_df(spark, ["Quellix"])
    cand = candidate_gen(m, aliases_df(spark))
    assert cand.count() == 2
    top = rerank(cand, entity_vecs_df(spark), k=1).collect()
    assert len(top) == 1
    reg = {e["surface"]: e for e in V.entity_registry()}
    both = {reg["Quellix Corp"]["entity_id"], reg["Quellix Holdings"]["entity_id"]}
    assert top[0]["entity_id"] in both
    # and both candidates share a gold component (so the triple is
    # canonicalization-invariant whichever wins)
    assert (
        reg["Quellix Corp"]["gold_component"]
        == reg["Quellix Holdings"]["gold_component"]
    )


def test_unknown_surface_drops_out(spark):
    m = _mentions_df(spark, ["Completely Unknown Entity"])
    assert candidate_gen(m, aliases_df(spark)).count() == 0


def test_exact_surface_cosine_is_one(spark):
    m = _mentions_df(spark, ["Novari Labs", "Valdoria"])
    top = rerank(
        candidate_gen(m, aliases_df(spark)), entity_vecs_df(spark), k=1
    )
    for r in top.collect():
        if r["surface"].lower() == r["alias"]:
            assert abs(r["cosine"] - 1.0) < 1e-5


def test_topk_returns_ranked_candidates(spark):
    m = _mentions_df(spark, ["Quellix"])
    top2 = rerank(
        candidate_gen(m, aliases_df(spark)), entity_vecs_df(spark), k=2
    ).orderBy("rank")
    rows = top2.collect()
    assert [r["rank"] for r in rows] == [1, 2]
    assert rows[0]["cosine"] >= rows[1]["cosine"]


def test_dictionary_path_equals_generic_rerank(spark):
    """The one verdict (alias_verdicts_local, joined on the lowercase
    surface) must produce exactly the generic candidate_gen +
    per-mention rerank links at every k — every dictionary alias plus
    one unknown surface as mentions. Exact cosine equality gates that
    the numpy fold is Catalyst's zip_with+aggregate arithmetic."""
    from kg.link import alias_verdicts_local

    aliases, evecs = aliases_df(spark), entity_vecs_df(spark)
    surfaces = [r["alias"] for r in aliases.select("alias").distinct().collect()]
    m = _mentions_df(spark, surfaces + ["Completely Unknown Entity"])
    cols = ["mention_id", "entity_id", "rank", "cosine"]
    for k in (1, 2, 3):
        verdict = alias_verdicts_local(aliases, evecs, k=k)
        a = m.join(verdict, F.lower(m["surface"]) == verdict["alias"]).select(cols)
        b = rerank(candidate_gen(m, aliases), evecs, k=k).select(cols)
        got = sorted(map(tuple, a.collect()))
        assert got == sorted(map(tuple, b.collect())), f"k={k}"


def test_local_verdict_equals_distributed(spark):
    """The driver-computed verdict must match the same verdict built
    distributed in Catalyst (Arrow embedding UDF over each alias,
    zip_with+aggregate cosine, window rank over alias) row for row at
    several k: same float32 products, same left-fold accumulation,
    same (cosine desc, entity_id asc) tie-break, every cosine bit."""
    from pyspark.sql import Window

    from kg.link import alias_verdicts_local
    from tests.reference import _surface_embedding_udf, cosine_expr

    aliases, evecs = aliases_df(spark), entity_vecs_df(spark)
    scored = (
        aliases.withColumn("alias_vec", _surface_embedding_udf(F.col("alias")))
        .join(F.broadcast(evecs), "entity_id", "inner")
        .withColumn("cosine", cosine_expr("alias_vec", "embedding"))
    )
    w = Window.partitionBy("alias").orderBy(F.desc("cosine"), F.asc("entity_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    cols = ["alias", "entity_id", "prior", "cosine", "rank"]
    for k in (1, 2, 3):
        dist = ranked.filter(F.col("rank") <= k).select(cols)
        local = alias_verdicts_local(aliases, evecs, k=k).select(cols)
        got = sorted(map(tuple, local.collect()))
        assert got, f"k={k}"
        assert got == sorted(map(tuple, dist.collect())), f"k={k}"


def test_broadcast_join_in_plan(spark):
    """K3's broadcast mandate (BASELINE.json:6) shows in the plan."""
    m = _mentions_df(spark, ["Novari Labs"])
    plan = candidate_gen(m, aliases_df(spark))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def _random_dictionary(seed):
    """A seeded random dictionary in its own entity-id range: random
    priors (0.5 and the double just below it among them), a chain of
    shared aliases, a duplicate alias row, an entity without a vector
    that shares an alias (the smallest id, so it labels its component)
    and a vector entity with no same-as edge."""
    import random

    import numpy as np

    rng = random.Random(seed)
    base = 10_000 * (seed + 1)
    ents = [base + i for i in range(rng.randint(4, 12))]
    priors = [0.5, float(np.nextafter(0.5, 0.0)), 0.2, 0.75, 1.0]
    rows = [
        (f"d{seed} a{a}", e, rng.choice(priors))
        for a in range(rng.randint(3, 10))
        for e in rng.sample(ents, rng.randint(1, 3))
    ]
    rows += [(f"d{seed} chain{k}", ents[k + j], 0.5) for k in range(3) for j in (0, 1)]
    rows.append(rows[0])
    rows += [(f"d{seed} novec", base - 1, 0.9), (f"d{seed} novec", ents[-1], 0.9)]
    rows.append((f"d{seed} lone", base + 500, 0.9))
    vecs = np.random.default_rng(seed).standard_normal((len(ents) + 1, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return rows, list(zip(ents + [base + 500], vecs.astype(np.float32).tolist()))


def test_compiled_dictionary_equals_catalyst_reference(spark):
    """compile_dictionary (one driver pass: verdict + union-find) must
    equal the verdict joined to the distributed same-as components
    with the component coalesced to the entity id, on the fixture
    dictionary and on 20 seeded random ones. The dictionaries share no
    alias and no entity, so one reference over their union holds each
    one's rows."""
    import pandas as pd

    from kg.graph import connected_components, same_as_edges
    from kg.link import alias_verdicts_local, compile_dictionary
    from kg.pipeline import stage_components

    def frames(rows, vecs):
        return (
            spark.createDataFrame(
                pd.DataFrame(rows, columns=["alias", "entity_id", "prior"]),
                "alias string, entity_id long, prior double",
            ),
            spark.createDataFrame(
                pd.DataFrame(vecs, columns=["entity_id", "embedding"]),
                "entity_id long, embedding array<float>",
            ),
        )

    fixture = (aliases_df(spark), entity_vecs_df(spark))
    dicts = [fixture] + [frames(*_random_dictionary(s)) for s in range(20)]
    aliases, evecs = dicts[0]
    for a, v in dicts[1:]:
        aliases, evecs = aliases.unionByName(a), evecs.unionByName(v)
    comps = connected_components(same_as_edges(aliases))
    verdict = alias_verdicts_local(aliases, evecs)
    ref = verdict.join(comps, verdict["entity_id"] == comps["id"], "left").select(
        "alias", "entity_id", F.coalesce("component", "entity_id")
    )
    want = {r[0]: tuple(r) for r in ref.collect()}
    assert len(want) == sum(a.select("alias").distinct().count() for a, _ in dicts)
    assert any(r[2] != r[1] for r in want.values())

    got = [sorted(map(tuple, compile_dictionary(a, v).collect())) for a, v in dicts]
    for rows, (a, _) in zip(got, dicts):
        assert rows == sorted(want[r[0]] for r in rows)
        assert len(rows) == a.select("alias").distinct().count()
    # each fixture entity's component is its stage_components label
    # (the kg_components query), or its own id if it has none
    label = {r["id"]: r["component"] for r in stage_components(fixture[0]).collect()}
    assert all(c == label.get(e, e) for _, e, c in got[0])
