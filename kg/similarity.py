"""Similarity search over embedding columns (`array<float>`).

Two paths:
  * brute-force cosine top-k — the correctness baseline: broadcast the
    (small) query set against the corpus, UDF-free zip_with/aggregate
    dot product, per-query window top-k. Scales linearly in corpus
    size with zero shuffle of the corpus (queries broadcast).
  * LSH-bucketed ANN — the 10^12-row path: seeded random-hyperplane
    sign buckets (L tables of k bits) computed in one vectorized
    pandas UDF; candidates = bucket-join; exact cosine only on
    candidates. Recall vs brute force is gated in tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType, LongType

from kg.relational import T, query

EMBED_DIM = 64


def _cosine(va: str, vb: str):
    dot = F.aggregate(
        F.zip_with(F.col(va), F.col(vb), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return dot / (norm(va) * norm(vb))


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """queries(query_id, qv) x corpus(vec_id, v) -> top-k by cosine.

    Deterministic ranking: ties broken on rounded cosine then vec_id,
    so the result is stable across engines and partitionings."""
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(_cosine("qv", "v"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos_sim", "rk")
    )


def _hyperplanes(n_tables: int, n_bits: int, dim: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_tables, n_bits, dim)).astype(np.float64)


def lsh_bucket_udf(n_tables: int = 8, n_bits: int = 12, dim: int = EMBED_DIM, seed: int = 42):
    planes = _hyperplanes(n_tables, n_bits, dim, seed)
    weights = (1 << np.arange(n_bits, dtype=np.int64))

    @pandas_udf(ArrayType(LongType()))
    def bucket_ids(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in it:
            M = np.stack(vecs.to_numpy())  # [n, dim] float
            # [T, n, bits]: sign bits of plane projections
            proj = np.einsum("tbd,nd->tnb", planes, M.astype(np.float64))
            bits = (proj > 0).astype(np.int64)
            codes = bits @ weights  # [T, n]
            # offset buckets by table index so tables don't collide
            codes = codes + (np.arange(n_tables)[:, None] << n_bits)
            yield pd.Series(list(codes.T))

    return bucket_ids


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_tables: int = 8,
    n_bits: int = 12,
) -> DataFrame:
    """ANN: bucket-join candidates (any shared table bucket) + exact
    cosine re-rank. Shuffle keys on bucket ids, never the full corpus
    cross product."""
    bucket = lsh_bucket_udf(n_tables, n_bits)
    cb = corpus.withColumn("bkt", F.explode(bucket(F.col("v")))).select(
        "vec_id", "v", "bkt"
    )
    qb = queries.withColumn("bkt", F.explode(bucket(F.col("qv")))).select(
        "query_id", "qv", "bkt"
    )
    cand = (
        cb.join(qb, "bkt")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "vec_id", "v")
        .dropDuplicates(["query_id", "vec_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        cand.withColumn("cos_sim", F.round(_cosine("qv", "v"), 6))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos_sim", "rk")
    )


def _fixture_queries(embeddings: DataFrame, n: int = 5) -> DataFrame:
    return embeddings.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )


def _fixture_corpus(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


# ------------------------------------------------------- driver queries


@query(
    "ann_bruteforce_topk",
    """
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6)
               AS cos_sim
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 5),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rk
      FROM scored)
    SELECT query_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= 5
    """,
)
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    return brute_force_topk(_fixture_corpus(e), _fixture_queries(e), k=5)


def _lsh_oracle_sql(
    n_tables: int = 8, n_bits: int = 12, k: int = 5, seed: int = 42
) -> str:
    """DuckDB replica of lsh_topk (r3: converts the driver row from
    rows-only to exact): the seeded hyperplanes are corpus-independent,
    so they embed as literal DOUBLE[] rows in a VALUES CTE — built from
    the SAME _hyperplanes() array the Spark UDF closes over, so the two
    engines cannot drift. Bucket codes are sign-bit sums per (vec,
    table); candidates share >= 1 bucket; exact-cosine re-rank matches
    brute force's ROUND(...,6) + vec_id tie-break. Shortest-repr float
    literals round-trip exactly through DuckDB's parser; a sign flip
    would need |projection| below ~1e-13, far outside the fixture's
    value range."""
    planes = _hyperplanes(n_tables, n_bits, EMBED_DIM, seed)
    rows = []
    for t in range(n_tables):
        for b in range(n_bits):
            w = ", ".join(repr(float(x)) for x in planes[t, b])
            rows.append(f"({t}, {b}, [{w}])")
    values = ",\n      ".join(rows)
    return f"""
    WITH planes(t, b, w) AS (VALUES
      {values}
    ),
    corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    qs AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5),
    cb AS (
      SELECT c.vec_id, p.t * {1 << n_bits} + SUM(
               CASE WHEN list_dot_product(c.v, p.w) > 0
                    THEN (1 << p.b) ELSE 0 END) AS bkt
      FROM corpus c CROSS JOIN planes p GROUP BY c.vec_id, p.t),
    qb AS (
      SELECT q.query_id, p.t * {1 << n_bits} + SUM(
               CASE WHEN list_dot_product(q.qv, p.w) > 0
                    THEN (1 << p.b) ELSE 0 END) AS bkt
      FROM qs q CROSS JOIN planes p GROUP BY q.query_id, p.t),
    cand AS (
      SELECT DISTINCT qb.query_id, cb.vec_id
      FROM cb JOIN qb USING (bkt) WHERE cb.vec_id != qb.query_id),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             ROUND(list_cosine_similarity(q.qv, c.v), 6) AS cos_sim
      FROM cand JOIN qs q ON q.query_id = cand.query_id
                JOIN corpus c ON c.vec_id = cand.vec_id),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rk
      FROM scored)
    SELECT query_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= {k}
    """


@query("ann_lsh_topk", _lsh_oracle_sql())  # exact since r3
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # recall vs brute force gated in tests/test_similarity.py
    e = T(spark, sf_dir, "embeddings")
    return lsh_topk(_fixture_corpus(e), _fixture_queries(e), k=5)


def _nearest_cell_udf(C: np.ndarray):
    """Vectorized per-row argmax against the (broadcast-by-closure)
    centroid matrix: zero shuffle of the corpus."""
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @pandas_udf(IntegerType())
    def nearest_cell(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in it:
            M = np.stack(vecs.to_numpy()).astype(np.float64)
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            # argmax returns the FIRST max -> lowest cell_id tie-break
            yield pd.Series(np.argmax(Mn @ Cn.T, axis=1).astype(np.int32) + 1)

    return nearest_cell


def ivf_assign(
    corpus: DataFrame, n_cells: int = 16, refine_iters: int = 1
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic hash-ordered seed sample +
    ``refine_iters`` Lloyd (k-means) sweeps, each vector assigned to
    its nearest centroid by cosine. Returns
    (centroids(cell_id, cv), assigned(vec_id, v, cell_id)).

    Assignment is a per-row argmax against the centroid matrix inside
    ONE vectorized pandas UDF — zero shuffle of the corpus (the r1
    shape ranked corpus x n_cells rows through a Window.partitionBy
    (vec_id), an avoidable corpus-sized exchange; audited in
    scripts/audit_plans.py). Each refinement sweep is one extra corpus
    pass + one n_cells-group shuffle at INDEX-BUILD time (stride/hash
    seeds alone under-cover clustered data). The centroid table is
    dictionary-sized, so collecting it between sweeps is the same
    bounded-driver-work class as K7's same-as union-find.

    Determinism: refined centroids come from EXACT integer summation
    (see the sweep body), so the whole index — centroids and every
    cell assignment — is bit-identical run-to-run on the same input,
    independent of partitioning."""
    spark = corpus.sparkSession
    # deterministic hash-ordered sample via TakeOrderedAndProject
    # (distributed top-k; a global row_number window over the corpus
    # would funnel everything through one task)
    crows = sorted(
        corpus.orderBy(F.xxhash64("vec_id")).limit(n_cells).collect(),
        key=lambda r: r["vec_id"],
    )
    C = np.stack([np.asarray(r["v"], dtype=np.float64) for r in crows])

    for _ in range(refine_iters):
        tmp = corpus.select(
            "v", _nearest_cell_udf(C)(F.col("v")).alias("cell_id")
        )
        # per-cell mean: posexplode to (cell_id, dim, x) then SUM AS
        # SCALED INTEGERS — long addition is associative and exact, so
        # the refined centroid is bit-identical across runs regardless
        # of partial-aggregation order (F.avg over doubles is ulp-
        # nondeterministic, which can flip boundary vectors between
        # cells run-to-run — advisor r2 finding). 1e9 scaling keeps
        # unit-scale components exact to ~1e-9 and headroom for
        # ~1.8e9 rows/cell before long overflow (ANSI mode would
        # error, not wrap, beyond that).
        means = (
            tmp.select("cell_id", F.posexplode("v").alias("dim", "x"))
            .groupBy("cell_id", "dim")
            .agg(
                F.sum(F.round(F.col("x") * 1e9).cast("long")).alias("sx"),
                F.count(F.lit(1)).alias("nx"),
            )
            .withColumn("m", F.col("sx") / F.lit(1e9) / F.col("nx"))
            .groupBy("cell_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("s")
            )
            .select("cell_id", F.col("s.m").alias("cv"))
            .collect()
        )
        C = C.copy()  # empty cells keep their previous centroid
        for r in means:
            C[r["cell_id"] - 1] = np.asarray(r["cv"], dtype=np.float64)

    centroids = spark.createDataFrame(
        [(i + 1, [float(x) for x in C[i]]) for i in range(len(C))],
        "cell_id int, cv array<double>",
    )
    assigned = corpus.select(
        "vec_id", "v", _nearest_cell_udf(C)(F.col("v")).alias("cell_id")
    )
    return centroids, assigned


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF ANN: probe the ``nprobe`` nearest cells per query, exact
    cosine only within probed cells. Complements lsh_topk (the other
    scale path); recall vs brute force gated in tests."""
    centroids, assigned = ivf_assign(corpus, n_cells)
    qscored = queries.crossJoin(F.broadcast(centroids)).withColumn(
        "_sim", _cosine("qv", "cv")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("cell_id"))
    probes = (
        qscored.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= nprobe)
        .select("query_id", "qv", "cell_id")
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        cand.withColumn("cos_sim", F.round(_cosine("qv", "v"), 6))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos_sim", "rk")
    )


# ---------------------------------------------- engine-neutral IVF
#
# The hot path above scores by cosine with double-valued Lloyd
# centroids and a numpy argmax — bit-identical across Spark runs, but
# numpy's pairwise-summation dots can't be matched ulp-for-ulp by a
# SQL engine, so cell assignments near a tie could differ and the
# driver row stayed rows-only through r4. The neutral variant (the
# dedup_minhash_lsh playbook) removes floats from every DECISION:
# vectors quantize to integers (round(x * 1e6) — exact in int64 and
# in doubles, |x| < 0.6 in the fixture), the coarse quantizer is true
# k-means on squared L2 (argmin |c|^2 - 2<v,c>, all integer
# arithmetic, min-cell tie-break), the Lloyd update re-quantizes the
# cell mean (round(sum/count) — one IEEE divide of exact integers,
# identical in any engine), and the seed sample orders by the neutral
# md5 hash instead of xxhash64. Only the FINAL cos_sim display value
# touches floats, under the same ROUND(.,6) contract every green ANN
# row already uses. DuckDB re-derives seeds, both assignment sweeps,
# centroid refinement, probes, and top-k relationally — the exact
# oracle on the driver row since r5.

QUANT_SCALE = 1_000_000


def _quantize(col):
    return F.transform(col, lambda x: F.round(x * QUANT_SCALE).cast("long"))


def _int_dot(a, b):
    """Exact integer dot product as a Catalyst fold (sequential, but
    integer addition is associative — any engine gets the same sum)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _l2_argmin(cells: list[tuple[int, list[int]]]):
    """cell_id of the nearest centroid by squared L2 over the
    quantized vector column ``vq``: argmin(|c|^2 - 2<v,c>) with
    min-cell tie-break, as ONE map-only expression against literal
    centroids (|v|^2 is constant per row) — the Catalyst twin of the
    hot path's numpy argmax, zero shuffle, zero Python."""
    structs = []
    for cid, cq in cells:
        ncsq = sum(x * x for x in cq)
        lit = F.array(*[F.lit(int(x)) for x in cq]).cast("array<long>")
        dist = F.lit(int(ncsq)).cast("long") - 2 * _int_dot(F.col("vq"), lit)
        structs.append(
            F.struct(dist.alias("d"), F.lit(cid).cast("int").alias("c"))
        )
    return F.array_min(F.array(*structs)).getField("c")


def ivf_assign_neutral(
    corpus: DataFrame, n_cells: int = 16
) -> tuple[list[tuple[int, list[int]]], DataFrame]:
    """Neutral IVF index build: md5-ordered seed sample (cell_id =
    rank of the seed's vec_id), one Lloyd sweep with integer-quantized
    centroid update, final assignment. Returns (cells, assigned):
    ``cells`` is the driver-side centroid list (dictionary-sized, the
    same bounded-driver-work class as ivf_assign's), ``assigned`` is
    corpus(vec_id, v, cell_id) via the map-only argmin."""
    from kg.dedup import _neutral_hash64

    vq = corpus.withColumn("vq", _quantize(F.col("v")))
    seed_rows = sorted(
        vq.orderBy(_neutral_hash64(F.col("vec_id").cast("string")))
        .limit(n_cells)
        .select("vec_id", "vq")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    cells0 = [(i + 1, [int(x) for x in r["vq"]]) for i, r in enumerate(seed_rows)]
    # Lloyd sweep: per-(cell, dim) exact integer sums, centroid dim =
    # round(sum / count) re-quantized to int (empty cells keep seeds)
    sums = (
        vq.withColumn("cell_id", _l2_argmin(cells0))
        .select("cell_id", F.posexplode("vq").alias("dim", "x"))
        .groupBy("cell_id", "dim")
        .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("nx"))
        .withColumn("m", F.round(F.col("sx") / F.col("nx")).cast("long"))
        .groupBy("cell_id")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("s"))
        .select("cell_id", F.col("s.m").alias("cq"))
        .collect()
    )
    cmap = dict(cells0)
    for r in sums:
        cmap[r["cell_id"]] = [int(x) for x in r["cq"]]
    cells = sorted(cmap.items())
    assigned = vq.withColumn("cell_id", _l2_argmin(cells)).select(
        "vec_id", "v", "cell_id"
    )
    return cells, assigned


def ivf_topk_neutral(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """ivf_topk with every index decision engine-neutral (see the
    section comment): integer-L2 probes, exact-cosine re-rank within
    probed cells. Same scale shape as the hot path — corpus never
    shuffles (map-only assignment), probes broadcast."""
    spark = corpus.sparkSession
    cells, assigned = ivf_assign_neutral(corpus, n_cells)
    cdf = spark.createDataFrame(
        [(cid, cq, sum(x * x for x in cq)) for cid, cq in cells],
        "cell_id int, cq array<long>, ncsq long",
    )
    qd = (
        queries.withColumn("vq", _quantize(F.col("qv")))
        .crossJoin(F.broadcast(cdf))
        .withColumn(
            "dist", F.col("ncsq") - 2 * _int_dot(F.col("vq"), F.col("cq"))
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("cell_id"))
    probes = (
        qd.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= nprobe)
        .select("query_id", "qv", "cell_id")
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        cand.withColumn("cos_sim", F.round(_cosine("qv", "v"), 6))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos_sim", "rk")
    )


def _ivf_oracle_sql(
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    dim: int = EMBED_DIM,
    scale: int = QUANT_SCALE,
) -> str:
    """Full relational re-derivation of ivf_topk_neutral in DuckDB —
    nothing taken from the engine under test: seeds (md5-ordered),
    both integer-L2 assignment sweeps, the quantized Lloyd update,
    probes, and the rounded-cosine top-k. Integer dots stay exact in
    any engine (every product and partial sum < 2^53); round() is
    half-away-from-zero in both engines (the CAST(ROUND(x*100)) cents
    policy already relies on this)."""
    l2 = (
        "list_sum(list_transform(s.cq, x -> x * x)) "
        f"- 2 * list_sum(list_transform(generate_series(1, {dim}), "
        "i -> t.vq[i] * s.cq[i]))"
    )
    return f"""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    vq AS (
      SELECT vec_id, v,
             list_transform(v, x -> CAST(round(x * {scale}) AS BIGINT)) AS vq
      FROM corpus),
    seeds AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) AS cell_id,
             vq AS cq
      FROM (SELECT vec_id, vq FROM vq
            ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                     ::BIGINT
            LIMIT {n_cells})),
    a0 AS (
      SELECT vec_id, cell_id FROM (
        SELECT t.vec_id, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                  ORDER BY {l2}, s.cell_id) AS rk
        FROM vq t CROSS JOIN seeds s)
      WHERE rk = 1),
    sums AS (
      SELECT a.cell_id, i.i AS dim,
             CAST(SUM(t.vq[i.i]) AS BIGINT) AS sx, COUNT(*) AS nx
      FROM a0 a JOIN vq t USING (vec_id)
      CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i) i
      GROUP BY a.cell_id, i.i),
    cent1 AS (
      SELECT cell_id, list(CAST(round(sx / nx) AS BIGINT) ORDER BY dim) AS cq
      FROM sums GROUP BY cell_id),
    cents AS (
      SELECT s.cell_id, COALESCE(c.cq, s.cq) AS cq
      FROM seeds s LEFT JOIN cent1 c USING (cell_id)),
    a1 AS (
      SELECT vec_id, cell_id FROM (
        SELECT t.vec_id, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                  ORDER BY {l2}, s.cell_id) AS rk
        FROM vq t CROSS JOIN cents s)
      WHERE rk = 1),
    qs AS (
      SELECT vec_id AS query_id, v AS qv, vq FROM vq WHERE vec_id < 5),
    probes AS (
      SELECT query_id, cell_id FROM (
        SELECT t.query_id, s.cell_id,
               ROW_NUMBER() OVER (PARTITION BY t.query_id
                                  ORDER BY {l2}, s.cell_id) AS rk
        FROM qs t CROSS JOIN cents s)
      WHERE rk <= {nprobe}),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id
      FROM probes p JOIN a1 a USING (cell_id)
      WHERE a.vec_id != p.query_id),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             ROUND(list_cosine_similarity(q.qv, c.v), 6) AS cos_sim
      FROM cand JOIN qs q ON q.query_id = cand.query_id
                JOIN corpus c ON c.vec_id = cand.vec_id),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rk
      FROM scored)
    SELECT query_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= {k}
    """


@query("ann_ivf_topk", _ivf_oracle_sql())  # exact since r5
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # recall vs brute force gated in tests/test_similarity.py
    e = T(spark, sf_dir, "embeddings")
    return ivf_topk_neutral(_fixture_corpus(e), _fixture_queries(e), k=5)


@query("ann_ivf_float", extra=True)  # rows-only: numpy/cosine hot path
def q_ann_ivf_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the production default (double Lloyd centroids, vectorized numpy
    # argmax assignment — the dedup_minhash_xxh64 pattern): identical
    # scale shape to the exact-oracled neutral row, index bit-identity
    # and recall gated in tests/test_similarity.py
    e = T(spark, sf_dir, "embeddings")
    return ivf_topk(_fixture_corpus(e), _fixture_queries(e), k=5)
