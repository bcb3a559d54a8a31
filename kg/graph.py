"""K7 — canonicalization via connected components
(BASELINE.json:6 "GraphFrames-style iterative hash-join label
propagation"; graphframes itself is not installed — SURVEY.md §0 —
so the loop is plain DataFrame joins).

Algorithm: min-label propagation with pointer jumping.
Each round does (1) a neighbor-min step — every vertex takes the min
component label over itself and its neighbors (one shuffle join +
groupBy.min) — and (2) a pointer-jump step — label := label(label) —
which gives the O(log n) round behavior of large-star/small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond") on
long chains. Lineage is truncated every round with localCheckpoint
(an unbounded iterative plan otherwise blows up the optimizer),
frontier DataFrames are cached, convergence = zero labels changed.

Same-as edge derivation: entities sharing a *high-prior* alias
(prior >= 0.5: full surfaces and distinctive org stems; ambiguous
person-first-name aliases sit below the bar) — the deterministic
stand-in for the reference's same-as rules.

The same-as graph is dictionary-sized, so K7 labels it with a driver
union-find (``same_as_components``, ``_union_find_components``);
``connected_components`` is the distributed loop, for corpus-derived
graphs (dedup clusters) and the ``graph_components`` query.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SAME_AS_PRIOR = 0.5
MAX_ITERATIONS = 50


def same_as_edges(aliases: DataFrame) -> DataFrame:
    """aliases(alias, entity_id, prior) -> edges(src, dst), src < dst."""
    high = aliases.filter(F.col("prior") >= SAME_AS_PRIOR).select(
        "alias", "entity_id"
    )
    a = high.alias("a")
    b = high.alias("b")
    return (
        a.join(b, "alias")
        .filter(F.col("a.entity_id") < F.col("b.entity_id"))
        .select(
            F.col("a.entity_id").alias("src"),
            F.col("b.entity_id").alias("dst"),
        )
        .distinct()
    )


def _union_find(groups, ids=()) -> list[tuple[int, int]]:
    """(id, component) for every id in ``ids`` or in a group, sorted by
    id, after merging each group's members: min-id labels, as the
    distributed loop gives."""
    parent = {int(v): int(v) for v in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for group in groups:
        # each root points at the smallest: a root is its set's min id
        roots = {find(parent.setdefault(int(e), int(e))) for e in group}
        for r in roots:
            parent[r] = min(roots)
    return [(v, find(v)) for v in sorted(parent)]


def same_as_components(alias_pdf: pd.DataFrame) -> pd.DataFrame:
    """``connected_components(same_as_edges(aliases))`` on the driver,
    from a pandas alias table: a union-find over the entities that
    share an alias with prior >= SAME_AS_PRIOR. Returns ``(id,
    component)`` sorted by id."""
    high = alias_pdf[alias_pdf["prior"] >= SAME_AS_PRIOR]
    groups = [g for g in high.groupby("alias")["entity_id"].unique() if len(g) > 1]
    return pd.DataFrame(_union_find(groups), columns=["id", "component"], dtype="int64")


def _union_find_components(
    edges: DataFrame, vertices: DataFrame | None
) -> DataFrame:
    """Driver-side union-find over a dictionary-sized edge set (same
    min-id labels as the distributed loop; one collect, one
    parallelize)."""
    ids = [] if vertices is None else [r["id"] for r in vertices.collect()]
    rows = _union_find(((r["src"], r["dst"]) for r in edges.collect()), ids)
    return edges.sparkSession.createDataFrame(rows, "id long, component long")


def connected_components(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """edges(src, dst) [+ vertices(id)] -> components(id, component),
    by the distributed min-label + pointer-jump loop.

    component = min vertex id in the component (deterministic, so
    resumed runs and the gold fixture agree on ids)."""
    sym = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionAll(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    sym = sym.distinct().localCheckpoint(eager=True)

    verts = sym.select(F.col("u").alias("id")).distinct()
    if vertices is not None:
        verts = vertices.select("id").unionAll(verts).distinct()
    labels = verts.select("id", F.col("id").alias("component"))
    labels = labels.localCheckpoint(eager=True)

    for _ in range(MAX_ITERATIONS):
        # (1) neighbor-min: component <- min over self + neighbors
        nbr_min = (
            sym.join(labels, sym["v"] == labels["id"], "inner")
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    "component", F.coalesce("nbr_component", "component")
                ).alias("component"),
            )
        )
        # (2) pointer jump: component <- component(component)
        parent = stepped.select(
            F.col("id").alias("pid"), F.col("component").alias("pcomp")
        )
        jumped = (
            stepped.join(parent, stepped["component"] == parent["pid"], "left")
            .select(
                "id",
                F.least(
                    "component", F.coalesce("pcomp", "component")
                ).alias("component"),
            )
        )
        jumped = jumped.localCheckpoint(eager=True)  # truncate lineage
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    return labels


# ---------------------------------------------------------- pagerank


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Entity-importance PageRank over a directed edge set: fixed
    ``iters`` synchronous sweeps of
    p'(v) = (1-d)/N + d * sum_{u->v} p(u)/outdeg(u).

    Scale shape: each sweep is one join keyed on src + one groupBy
    keyed on dst — shuffles on vertex ids, never the pair space; the
    rank frontier is vertex-sized. Dangling mass is NOT redistributed
    (sinks leak it) — the fixed-point normalization differs from the
    textbook variant but the per-sweep recurrence is identical in any
    engine, which is what makes an exact cross-engine oracle possible.
    N is the VERTEX count (isolated vertices hold (1-d)/N)."""
    spark = edges.sparkSession
    verts = vertices.select("id").distinct()
    n = verts.count()  # vertex-sized driver scalar
    outdeg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    ranks = verts.select("id", F.lit(1.0 / n).alias("p"))
    base = (1.0 - damping) / n
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["id"])
            .join(outdeg, ranks["id"] == outdeg["id"])
            .select(
                F.col("dst").alias("id"),
                (F.col("p") / F.col("outdeg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = verts.join(contrib, "id", "left").select(
            "id",
            (F.lit(base) + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))).alias(
                "p"
            ),
        )
    return ranks.select("id", F.round("p", 8).alias("rank"))


PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85


def pagerank_query(spark, sf_dir: str) -> DataFrame:
    """Driver entry with an EXACT unrolled-CTE oracle: PageRank over
    the (symmetrized) customer chain graph — in-degree <= 2, so every
    per-vertex inflow is a <= 2-term IEEE sum, bit-identical across
    engines and partitionings; round(8) guards the tail anyway."""
    customers = spark.read.parquet(f"{sf_dir}/customer.parquet")
    chain = _customer_chain_edges(customers)
    edges = chain.unionAll(
        chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    verts = customers.select(F.col("c_custkey").alias("id"))
    pr = pagerank(edges, verts, iters=PAGERANK_ITERS, damping=PAGERANK_DAMPING)
    return pr.select(F.col("id").alias("c_custkey"), "rank")


def _pagerank_oracle_sql(iters: int = PAGERANK_ITERS, d: float = PAGERANK_DAMPING) -> str:
    sweeps = []
    prev = "p0"
    for k in range(1, iters + 1):
        sweeps.append(
            f"""p{k} AS (
      SELECT v.id,
             (1 - {d}) / (SELECT n FROM nv)
             + {d} * COALESCE(SUM(pp.p / od.outdeg), 0) AS p
      FROM verts v
      LEFT JOIN sym e ON e.dst = v.id
      LEFT JOIN {prev} pp ON pp.id = e.src
      LEFT JOIN outdeg od ON od.id = e.src
      GROUP BY v.id)"""
        )
        prev = f"p{k}"
    body = ",\n    ".join(sweeps)
    return f"""
    WITH chain AS (
      SELECT c_custkey AS src,
             LEAD(c_custkey) OVER (PARTITION BY c_nationkey, c_mktsegment
                                   ORDER BY c_custkey) AS dst
      FROM customer
      QUALIFY dst IS NOT NULL),
    sym AS (
      SELECT src, dst FROM chain
      UNION ALL
      SELECT dst AS src, src AS dst FROM chain),
    verts AS (SELECT c_custkey AS id FROM customer),
    nv AS (SELECT COUNT(*) AS n FROM verts),
    outdeg AS (SELECT src AS id, COUNT(*) AS outdeg FROM sym GROUP BY src),
    p0 AS (SELECT id, 1.0 / (SELECT n FROM nv) AS p FROM verts),
    {body}
    SELECT id AS c_custkey, ROUND(p, 8) AS rank FROM p{iters}
    """


# ------------------------------------------------------- driver query


def _customer_chain_edges(customers: DataFrame) -> DataFrame:
    """Deterministic chain graph over the customer fixture: consecutive
    custkeys within each (c_nationkey, c_mktsegment) group are linked.
    Chains are the WORST case for naive label propagation (O(n) rounds
    without pointer jumping), so this is the shape that actually
    exercises the O(log n) loop."""
    from pyspark.sql import Window

    w = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("c_custkey")
    nxt = F.lead("c_custkey").over(w)
    return (
        customers.select("c_custkey", "c_nationkey", "c_mktsegment")
        .withColumn("dst", nxt)
        .filter(F.col("dst").isNotNull())
        .select(F.col("c_custkey").alias("src"), F.col("dst"))
    )


def graph_components_query(spark, sf_dir: str) -> DataFrame:
    """Driver entry with an EXACT DuckDB oracle (recursive-CTE
    transitive closure): connected components over the customer chain
    graph, so the driver scores the min-label + pointer-jump loop."""
    customers = spark.read.parquet(f"{sf_dir}/customer.parquet")
    edges = _customer_chain_edges(customers)
    verts = customers.select(F.col("c_custkey").alias("id"))
    comp = connected_components(edges, vertices=verts)
    return comp.select(F.col("id").alias("c_custkey"), "component")


GRAPH_COMPONENTS_ORACLE = """
    WITH RECURSIVE edges AS (
      SELECT c_custkey AS src,
             LEAD(c_custkey) OVER (PARTITION BY c_nationkey, c_mktsegment
                                   ORDER BY c_custkey) AS dst
      FROM customer
      QUALIFY dst IS NOT NULL
    ),
    sym AS (
      SELECT src AS u, dst AS v FROM edges
      UNION ALL
      SELECT dst AS u, src AS v FROM edges
    ),
    reach(id, r) AS (
      SELECT c_custkey, c_custkey FROM customer
      UNION
      SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.id
    )
    SELECT id AS c_custkey, MIN(r) AS component
    FROM reach GROUP BY id
"""


# ------------------------------------------------------ triangle counts


def _customer_triangle_edges(customers: DataFrame) -> DataFrame:
    """Deterministic IRREGULAR test graph over custkeys (canonical
    src < dst): path edges u-(u+1); chords u-(u+2) at u%3==0 (these
    close triangles) and u-(u+3) at u%4==0 (closing extra triangles
    where the rules coincide, so per-node counts VARY — a
    vertex-transitive graph would make every count identical and the
    oracle trivial); hub edges 0-u at u%7==0 (degree skew: node 0's
    degree grows with N, the shape that motivates degree-ordered
    orientation). Out-of-range endpoints drop via the vertex
    semi-join."""
    u = F.col("c_custkey")
    c = customers.select(u.alias("u"))
    e = (
        c.select(F.col("u").alias("src"), (F.col("u") + 1).alias("dst"))
        .unionAll(
            c.filter(F.col("u") % 3 == 0).select(
                F.col("u").alias("src"), (F.col("u") + 2).alias("dst")
            )
        )
        .unionAll(
            c.filter(F.col("u") % 4 == 0).select(
                F.col("u").alias("src"), (F.col("u") + 3).alias("dst")
            )
        )
        .unionAll(
            c.filter((F.col("u") % 7 == 0) & (F.col("u") > 0)).select(
                F.lit(0).cast("long").alias("src"), F.col("u").alias("dst")
            )
        )
        .distinct()
    )
    verts = customers.select(F.col("c_custkey").alias("dst"))
    return e.join(verts, "dst", "left_semi").select("src", "dst")


def triangle_counts(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Per-vertex triangle count via DEGREE-ORDERED orientation
    (compact-forward): orient every undirected edge from its lower
    (degree, id) endpoint to the higher, enumerate wedges from each
    source's out-neighbors, and close them against the oriented edge
    set. Each triangle has exactly one acyclic-orientation apex with
    out-degree 2, so it is counted once with NO dedup pass.

    Why this shape at scale: out-degrees under degree ordering are
    bounded by O(sqrt(|E|)) regardless of skew (a hub's edges orient
    INTO it), so the wedge join — the only superlinear step — never
    explodes on power-law graphs; all three joins shuffle on vertex
    ids. ``edges`` must be one row per undirected edge (src < dst);
    vertices with no triangles emit 0."""
    und = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = und.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    lo_first = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    o = (
        edges.join(
            deg.select(F.col("v").alias("src"), F.col("deg").alias("ds")), "src"
        )
        .join(deg.select(F.col("v").alias("dst"), F.col("deg").alias("dd")), "dst")
        .select(
            F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("a"),
            F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("b"),
        )
    )
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    tri = (
        e1.join(e2, (F.col("e1.a") == F.col("e2.a")) & (F.col("e1.b") != F.col("e2.b")))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.b")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
        )
    )
    members = (
        tri.select(F.col("x").alias("id"))
        .unionAll(tri.select(F.col("y").alias("id")))
        .unionAll(tri.select(F.col("z").alias("id")))
    )
    per_node = members.groupBy("id").agg(F.count(F.lit(1)).alias("n_tri"))
    return (
        vertices.select(F.col("id"))
        .join(per_node, "id", "left")
        .select("id", F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"))
    )


def triangle_counts_query(spark, sf_dir: str) -> DataFrame:
    customers = spark.read.parquet(f"{sf_dir}/customer.parquet")
    edges = _customer_triangle_edges(customers)
    verts = customers.select(F.col("c_custkey").alias("id"))
    return triangle_counts(edges, verts).select(
        F.col("id").alias("c_custkey"), "n_tri"
    )


# independent algorithm in the oracle: id-ordered a<b<c closure over
# the same edge formula (the engine orients by degree; equality of the
# two countings is the check)
TRIANGLES_ORACLE = """
    WITH c AS (SELECT c_custkey AS u FROM customer),
    raw AS (
      SELECT u AS src, u + 1 AS dst FROM c
      UNION
      SELECT u, u + 2 FROM c WHERE u % 3 = 0
      UNION
      SELECT u, u + 3 FROM c WHERE u % 4 = 0
      UNION
      SELECT 0, u FROM c WHERE u % 7 = 0 AND u > 0),
    ed AS (
      SELECT src, dst FROM raw
      WHERE dst IN (SELECT u FROM c)),
    tri AS (
      SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
      FROM ed e1
      JOIN ed e2 ON e2.src = e1.dst
      JOIN ed e3 ON e3.src = e1.src AND e3.dst = e2.dst),
    members AS (
      SELECT x AS id FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri),
    pn AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri
           FROM members GROUP BY id)
    SELECT c.u AS c_custkey, COALESCE(pn.n_tri, 0) AS n_tri
    FROM c LEFT JOIN pn ON pn.id = c.u
"""


# ------------------------------------------------- label propagation

LPA_SWEEPS = 4


def label_propagation(
    edges: DataFrame, vertices: DataFrame, iters: int = LPA_SWEEPS
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation: every
    sweep, each vertex adopts the most frequent label among its
    neighbors (ties break to the smallest label; isolated vertices
    keep their own). Fixed sweep count + deterministic tie-break make
    the result engine-reproducible — async/random-order LPA converges
    faster but is not oracle-checkable, and sync LPA is what a BSP
    cluster runs anyway.

    Scale shape per sweep: one join keyed on vertex id (labels onto
    edge endpoints) + one (vertex, label) aggregation + one per-vertex
    argmax window — all shuffles vertex-keyed, frontier stays
    vertex-sized; the fourth iterative family beside connected
    components, PageRank and BPE training.

    Known sync-LPA property: on bipartite structure labels OSCILLATE
    with period 2 (a lone edge swaps labels every sweep), so an even
    ``iters`` returns such vertices to their own labels — communities
    here come from triangle-dense neighborhoods, which is what the
    production graph has; async LPA avoids the oscillation but is
    run-order-dependent and therefore not exactly checkable."""
    from pyspark.sql import Window

    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = vertices.select("id", F.col("id").alias("lab"))
    w = Window.partitionBy("v").orderBy(F.desc("n"), F.asc("lab"))
    for _ in range(iters):
        neigh = sym.join(labels, sym["dst"] == labels["id"]).select(
            F.col("src").alias("v"), "lab"
        )
        best = (
            neigh.groupBy("v", "lab")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("v").alias("id"), F.col("lab").alias("newlab"))
        )
        labels = labels.join(best, "id", "left").select(
            "id", F.coalesce("newlab", "lab").alias("lab")
        )
    return labels


def label_propagation_query(spark, sf_dir: str) -> DataFrame:
    customers = spark.read.parquet(f"{sf_dir}/customer.parquet")
    edges = _customer_triangle_edges(customers)
    verts = customers.select(F.col("c_custkey").alias("id"))
    return label_propagation(edges, verts).select(
        F.col("id").alias("c_custkey"), "lab"
    )


def _label_propagation_oracle_sql(iters: int = LPA_SWEEPS) -> str:
    """Unrolled per-sweep CTEs (the PageRank-oracle pattern) over the
    same deterministic irregular graph as graph_triangles."""
    rounds = []
    prev = "l0"
    for k in range(1, iters + 1):
        rounds.append(
            f"""h{k} AS (
      SELECT e.u AS v, l.lab, COUNT(*) AS n
      FROM sym e JOIN {prev} l ON l.id = e.w GROUP BY 1, 2),
    b{k} AS (
      SELECT v, lab FROM (
        SELECT v, lab,
               ROW_NUMBER() OVER (PARTITION BY v
                                  ORDER BY n DESC, lab) AS rn
        FROM h{k}) WHERE rn = 1),
    l{k} AS (
      SELECT p.id, COALESCE(b{k}.lab, p.lab) AS lab
      FROM {prev} p LEFT JOIN b{k} ON b{k}.v = p.id)"""
        )
        prev = f"l{k}"
    body = ",\n    ".join(rounds)
    return f"""
    WITH c AS (SELECT c_custkey AS u FROM customer),
    raw AS (
      SELECT u AS src, u + 1 AS dst FROM c
      UNION
      SELECT u, u + 2 FROM c WHERE u % 3 = 0
      UNION
      SELECT u, u + 3 FROM c WHERE u % 4 = 0
      UNION
      SELECT 0, u FROM c WHERE u % 7 = 0 AND u > 0),
    ed AS (SELECT src, dst FROM raw WHERE dst IN (SELECT u FROM c)),
    sym AS (
      SELECT src AS u, dst AS w FROM ed
      UNION ALL
      SELECT dst AS u, src AS w FROM ed),
    l0 AS (SELECT u AS id, u AS lab FROM c),
    {body}
    SELECT id AS c_custkey, lab FROM l{iters}
    """


# ---------------------------------------------------- BFS hop counts

BFS_SWEEPS = 6
_BFS_INF = 1_000_000_000


def bfs_hops(
    edges: DataFrame,
    vertices: DataFrame,
    source: int,
    iters: int = BFS_SWEEPS,
) -> DataFrame:
    """Single-source BFS shortest-path hop counts by synchronous
    relaxation sweeps: dist'(v) = min(dist(v), min over neighbors u of
    dist(u) + 1). Fixed sweep count bounds the answer at ``iters``
    hops — vertices further than that (or unreachable) report -1; the
    production graph here has a degree hub, so its diameter is small
    and 6 sweeps is exact for every vertex (pytest pins a hand graph
    where the cap genuinely truncates).

    Scale shape per sweep: one vertex-keyed join (current dists onto
    edge endpoints) + one vertex-keyed min-aggregation; the frontier
    is never materialized separately, so each sweep costs the same
    two vertex-sized shuffles regardless of how much of the graph is
    settled — the BSP trade-off vs delta-stepping, chosen because it
    is engine-reproducible and oracle-checkable. Fifth iterative
    family beside components, PageRank, LPA and BPE training."""
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    dist = vertices.select(
        "id",
        F.when(F.col("id") == source, F.lit(0))
        .otherwise(F.lit(_BFS_INF))
        .cast("long")
        .alias("d"),
    )
    for _ in range(iters):
        relax = sym.join(dist, sym["dst"] == dist["id"]).select(
            F.col("src").alias("id"), (F.col("d") + 1).alias("d")
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("id")
            .agg(F.min("d").alias("d"))
        )
    return dist.select(
        "id",
        F.when(F.col("d") >= _BFS_INF, F.lit(-1))
        .otherwise(F.col("d"))
        .cast("long")
        .alias("hops"),
    )


def bfs_hops_query(spark, sf_dir: str) -> DataFrame:
    customers = spark.read.parquet(f"{sf_dir}/customer.parquet")
    edges = _customer_triangle_edges(customers)
    verts = customers.select(F.col("c_custkey").alias("id"))
    return bfs_hops(edges, verts, source=0).select(
        F.col("id").alias("c_custkey"), "hops"
    )


def _bfs_oracle_sql(iters: int = BFS_SWEEPS) -> str:
    """Unrolled per-sweep relaxation CTEs over the same deterministic
    irregular graph as graph_triangles / graph_label_propagation."""
    rounds = []
    prev = "d0"
    for k in range(1, iters + 1):
        rounds.append(
            f"""d{k} AS (
      SELECT id, MIN(d) AS d FROM (
        SELECT id, d FROM {prev}
        UNION ALL
        SELECT e.u AS id, p.d + 1 AS d
        FROM sym e JOIN {prev} p ON p.id = e.w) GROUP BY id)"""
        )
        prev = f"d{k}"
    body = ",\n    ".join(rounds)
    return f"""
    WITH c AS (SELECT c_custkey AS u FROM customer),
    raw AS (
      SELECT u AS src, u + 1 AS dst FROM c
      UNION
      SELECT u, u + 2 FROM c WHERE u % 3 = 0
      UNION
      SELECT u, u + 3 FROM c WHERE u % 4 = 0
      UNION
      SELECT 0, u FROM c WHERE u % 7 = 0 AND u > 0),
    ed AS (SELECT src, dst FROM raw WHERE dst IN (SELECT u FROM c)),
    sym AS (
      SELECT src AS u, dst AS w FROM ed
      UNION ALL
      SELECT dst AS u, src AS w FROM ed),
    d0 AS (SELECT u AS id,
                  CAST(CASE WHEN u = 0 THEN 0 ELSE {_BFS_INF} END AS BIGINT)
                    AS d
           FROM c),
    {body}
    SELECT id AS c_custkey,
           CAST(CASE WHEN d >= {_BFS_INF} THEN -1 ELSE d END AS BIGINT)
             AS hops
    FROM d{iters}
    """
