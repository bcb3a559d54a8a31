"""Fixed-size sketch operators: count-min heavy-hitter estimation and
a hand-rolled HyperLogLog, both built on the engine-neutral md5 hash
(kg/dedup.py `_neutral_hash64`) so the full sketch — cell counts,
register maxima, final estimates — re-derives exactly in DuckDB.
Spark's own `approx_count_distinct` is a black-box HLL whose hash is
not reproducible outside the JVM; these operators trade its tuned
constants for an oracle-checkable construction with the same
distributed shape (map-side partial aggregation into a sketch-sized
state, one sketch-sized shuffle).

At 100 TB the point of both sketches is the shuffle bound: the
count-min stream aggregates into DEPTH*WIDTH cells and the HLL into
M registers with map-side combine, so the exchange carries kilobytes
regardless of corpus size — the full-vocabulary groupBy they replace
carries the vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg.dedup import _neutral_hash64
from kg.relational import T, query, sql_ws_tokens, ws_tokens

# ------------------------------------------------- count-min sketch

CMS_DEPTH = 4
CMS_WIDTH = 256
# fixed probe set: three planted frequent tokens + one absent token
# (the absent probe pins the estimator's zero path — count-min may
# overestimate it via collisions but both engines must agree exactly)
CMS_PROBES = ("join", "hash", "scan", "zzz-unseen")


def _cms_positions(col):
    """The DEPTH salted (j, bucket) hash positions of one value — the
    ONE expression shared by sketch build and probe (the estimator's
    one-sidedness and oracle exactness both require the two sides to
    hash identically)."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.pmod(
                    _neutral_hash64(F.concat(F.lit(f"{j}:"), col)),
                    F.lit(CMS_WIDTH),
                ).alias("bucket"),
            )
            for j in range(CMS_DEPTH)
        ]
    )


def _cms_cells(toks: DataFrame) -> DataFrame:
    """(j, bucket) -> count over every token occurrence: each of the
    DEPTH rows hashes the token with a distinct salt prefix. The
    explode multiplies the stream by DEPTH before the partial
    aggregate, but the post-combine exchange is DEPTH*WIDTH cells."""
    return (
        toks.select(F.explode(_cms_positions(F.col("tok"))).alias("r"))
        .select("r.j", "r.bucket")
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _sql_cms_hash(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT % {CMS_WIDTH}"


def _cms_oracle_sql() -> str:
    probes = ", ".join(f"('{p}')" for p in CMS_PROBES)
    in_list = ", ".join(f"'{p}'" for p in CMS_PROBES)
    js = ", ".join(f"({j})" for j in range(CMS_DEPTH))
    return f"""
    WITH toks AS (
      SELECT unnest({sql_ws_tokens("text", lower=True)}) AS tok
      FROM documents),
    js(j) AS (VALUES {js}),
    occ AS (
      SELECT js.j,
             {_sql_cms_hash("js.j::VARCHAR || ':' || toks.tok")} AS bucket
      FROM toks CROSS JOIN js),
    cells AS (
      SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM occ GROUP BY 1, 2),
    probes(token) AS (VALUES {probes}),
    pb AS (
      SELECT p.token, js.j,
             {_sql_cms_hash("js.j::VARCHAR || ':' || p.token")} AS bucket
      FROM probes p CROSS JOIN js),
    est AS (
      SELECT pb.token, CAST(MIN(COALESCE(c.n, 0)) AS BIGINT) AS est_n
      FROM pb LEFT JOIN cells c ON c.j = pb.j AND c.bucket = pb.bucket
      GROUP BY pb.token),
    tru AS (
      SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS true_n
      FROM toks WHERE tok IN ({in_list}) GROUP BY tok)
    SELECT est.token, est.est_n,
           CAST(COALESCE(tru.true_n, 0) AS BIGINT) AS true_n
    FROM est LEFT JOIN tru ON tru.token = est.token
    """


@query("sketch_cms_heavy_hitters", _cms_oracle_sql(), extra=True)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries: build a DEPTH x WIDTH cell
    table over every document-token occurrence (one sketch-sized
    shuffle), then estimate each probe token's frequency as the MIN
    over its DEPTH cells — the classic one-sided estimator (est >=
    true always; equality unless all DEPTH buckets collide with other
    tokens). True counts join alongside from a probe-filtered exact
    aggregate (probe-set-sized — cheap at any corpus scale thanks to
    predicate pushdown). Every hash is the engine-neutral md5, so the
    whole sketch re-derives cell-for-cell in the DuckDB oracle."""
    toks = (
        T(spark, sf_dir, "documents")
        .select(F.explode(ws_tokens(F.col("text"), lower=True)).alias("tok"))
    )
    cells = _cms_cells(toks)
    probe_df = spark.createDataFrame([(p,) for p in CMS_PROBES], "token string")
    pb = probe_df.select(
        "token", F.explode(_cms_positions(F.col("token"))).alias("r")
    ).select("token", "r.j", "r.bucket")
    est = (
        pb.join(F.broadcast(cells), ["j", "bucket"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est_n"))
    )
    tru = (
        toks.filter(F.col("tok").isin(*CMS_PROBES))
        .groupBy(F.col("tok").alias("token"))
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    return est.join(tru, "token", "left").select(
        "token", "est_n", F.coalesce("true_n", F.lit(0)).alias("true_n")
    )


# ---------------------------------------------------- HyperLogLog

HLL_M = 256  # registers (p = 8)
# the 60-bit neutral hash splits as bucket = h % M, rest = h / M —
# rest is a 52-bit window, so rho (1 + leading zeros of rest within
# the window) lies in 1..53 and 2^(53 - rho) stays far inside int64
_HLL_WINDOW = 52
# alpha_m * m^2 * 2^53 for m=256, precomputed in python and embedded
# as ONE literal on both engines (a single correctly-rounded parse on
# each side -> bit-identical double), so the only float operation in
# the estimate is the final divide, display-rounded to 4 places
_HLL_C = repr(0.7213 / (1 + 1.079 / 256) * 256 * 256 * float(2**53))


def _hll_oracle_sql() -> str:
    return f"""
    WITH t AS (
      SELECT {sql_ws_tokens("text", lower=True)} AS toks FROM documents),
    toks AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1]))
               AS tok
      FROM t WHERE len(toks) >= 2),
    h AS (
      SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks),
    occ AS (
      SELECT hv % {HLL_M} AS bucket, hv // {HLL_M} AS rest FROM h),
    regs AS (
      SELECT bucket,
             MAX(CASE WHEN rest = 0 THEN {_HLL_WINDOW + 1}
                      ELSE {_HLL_WINDOW + 1} - length(bin(rest)) END) AS mr
      FROM occ GROUP BY bucket),
    s AS (
      SELECT CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_WINDOW + 1} - mr))
                  AS BIGINT)
             + ({HLL_M} - CAST(COUNT(*) AS BIGINT))
               * (CAST(1 AS BIGINT) << {_HLL_WINDOW + 1}) AS denom,
             {HLL_M} - CAST(COUNT(*) AS BIGINT) AS n_empty
      FROM regs)
    SELECT ROUND({_HLL_C} / CAST(denom AS DOUBLE), 4) AS est_distinct,
           n_empty,
           (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) FROM toks)
             AS true_distinct
    FROM s
    """


@query("sketch_hll_distinct", _hll_oracle_sql(), extra=True)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-rolled HyperLogLog over document tokens: every occurrence
    hashes once, splits into (bucket, rest), and each of the M=256
    registers keeps the max rank rho = 1 + leading zeros of the
    52-bit rest window. The register table is the ONLY shuffled state
    (M rows after map-side partial max); the raw estimate
    alpha*m^2/sum(2^-reg) is computed with an integer-scaled
    denominator (sum of 2^(53-rho) as exact int64) so both engines
    divide the same two numbers once — no float accumulation order
    anywhere. Production HLL adds the linear-counting small-range
    correction (uses ln, whose last-ulp behavior differs across
    libms, so it is deliberately left out here); `n_empty` is
    reported so the caller can see when that regime applies. The
    exact `true_distinct` rides along for scale-test comparison —
    it is the vocabulary-sized shuffle the sketch exists to avoid.

    The counted items are token BIGRAMS: the fixture's unigram pool
    is 31 words (below the m=256 register count, i.e. the
    linear-counting regime this operator deliberately does not
    implement), while its ~900 distinct bigrams sit in the raw
    estimator's n > 2.5m regime."""
    toks = (
        T(spark, sf_dir, "documents")
        .select(ws_tokens(F.col("text"), lower=True).alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> concat(element_at(t, i), ' ', "
                    "element_at(t, i + 1)))"
                )
            ).alias("tok")
        )
    )
    hv = _neutral_hash64(F.col("tok"))
    occ = toks.select(
        F.pmod(hv, F.lit(HLL_M)).alias("bucket"),
        (hv - F.pmod(hv, F.lit(HLL_M))).cast("long").alias("_num"),
    ).select(
        "bucket", (F.col("_num") / HLL_M).cast("long").alias("rest")
    )
    rho = F.when(F.col("rest") == 0, F.lit(_HLL_WINDOW + 1)).otherwise(
        F.lit(_HLL_WINDOW + 1) - F.length(F.bin(F.col("rest")))
    )
    regs = occ.groupBy("bucket").agg(F.max(rho).alias("mr"))
    s = regs.agg(
        (
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_WINDOW + 1} - mr AS INT))")
            )
            + (F.lit(HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << (_HLL_WINDOW + 1)).cast("long")
        ).alias("denom"),
        (F.lit(HLL_M) - F.count(F.lit(1))).cast("long").alias("n_empty"),
    )
    true_d = toks.agg(
        F.count_distinct(F.col("tok")).alias("true_distinct")
    )
    return s.join(F.broadcast(true_d)).select(
        F.round(F.lit(float(_HLL_C)) / F.col("denom").cast("double"), 4).alias(
            "est_distinct"
        ),
        "n_empty",
        "true_distinct",
    )


# ------------------------------------------- histogram quantiles

HIST_BINS = 64
# quantiles as exact integer fractions (numerator, denominator) so
# every rank computation stays in int64; labels are the display form
HIST_QUANTILES = (("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4),
                  ("p90", 9, 10), ("p99", 99, 100))


def _hist_oracle_sql() -> str:
    q_vals = ", ".join(
        f"('{lab}', {qn}, {qd})" for lab, qn, qd in HIST_QUANTILES
    )
    return f"""
    WITH v AS (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS x
      FROM lineitem),
    mm AS (
      SELECT MIN(x) AS lo, MAX(x) AS hi, CAST(COUNT(*) AS BIGINT) AS n
      FROM v),
    binned AS (
      SELECT ((v.x - mm.lo) * {HIST_BINS}) // (mm.hi - mm.lo + 1) AS bin
      FROM v, mm),
    hist AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM binned GROUP BY bin),
    cum AS (
      SELECT bin, cnt,
             SUM(cnt) OVER (ORDER BY bin) AS cum,
             SUM(cnt) OVER (ORDER BY bin) - cnt AS cum_prev
      FROM hist),
    qs(q_label, qn, qd) AS (VALUES {q_vals}),
    ranks AS (
      SELECT q_label, (mm.n * qn + qd - 1) // qd AS r,
             mm.lo AS lo, mm.hi AS hi
      FROM qs, mm),
    hit AS (
      SELECT r.q_label, r.r, r.lo, r.hi,
             MIN(c.bin) AS bin
      FROM ranks r JOIN cum c ON c.cum >= r.r
      GROUP BY 1, 2, 3, 4),
    pick AS (
      SELECT h.q_label, h.r, h.lo, h.hi, h.bin, c.cnt, c.cum_prev
      FROM hit h JOIN cum c ON c.bin = h.bin)
    SELECT q_label, CAST(r AS BIGINT) AS rank_r,
           ROUND(
             CAST(lo + (bin * (hi - lo + 1)) // {HIST_BINS} AS DOUBLE)
             + CAST((r - cum_prev) AS DOUBLE) / CAST(cnt AS DOUBLE)
               * CAST((hi - lo + 1) AS DOUBLE) / {HIST_BINS}.0,
             4) AS est_c
    FROM pick
    """


@query("sketch_histogram_quantiles", _hist_oracle_sql(), extra=True)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a fixed equi-width histogram — the
    approx-percentile pattern with an exactly checkable construction
    (Spark's own approx_percentile is a black-box KLL/GK sketch):
    one pass bins every value into HIST_BINS integer cells (map-side
    combine, bin-sized shuffle), a bin-sized cumulative window finds
    each target rank's bin, and the estimate interpolates linearly
    inside it. Bin index, ranks (ceil(n*q) as (n*qn + qd - 1) DIV
    qd), and cumulative counts are all exact int64; the only float
    arithmetic is the final interpolation, rounded to 4 places with
    an identical association order in both engines. Exact
    percentiles cost a full sort; this is what you run at 100 TB
    instead."""
    v = T(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("x")
    )
    mm = v.agg(
        F.min("x").alias("lo"), F.max("x").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    # exact integer division throughout (Spark's `div`, the twin of
    # DuckDB's `//`) — floor(double-divide) agrees only while double
    # rounding error stays below the quotient's distance to an
    # integer, a silent oracle break at large-magnitude spans
    binned = v.join(F.broadcast(mm)).select(
        F.expr(f"(x - lo) * {HIST_BINS} div (hi - lo + 1)").alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin", "cnt",
        F.sum("cnt").over(w).alias("cum"),
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_prev"),
    )
    qs = spark.createDataFrame(
        list(HIST_QUANTILES), "q_label string, qn long, qd long"
    )
    ranks = qs.join(F.broadcast(mm)).select(
        "q_label",
        F.expr("(n * qn + qd - 1) div qd").alias("r"),
        "lo", "hi",
    )
    hit = (
        ranks.join(F.broadcast(cum), F.col("cum") >= F.col("r"))
        .groupBy("q_label", "r", "lo", "hi")
        .agg(F.min("bin").alias("bin"))
    )
    pick = hit.join(F.broadcast(cum), "bin")
    width = (F.col("hi") - F.col("lo") + 1).cast("double") / float(HIST_BINS)
    edge = (
        F.col("lo")
        + F.expr(f"bin * (hi - lo + 1) div {HIST_BINS}")
    ).cast("double")
    return pick.select(
        "q_label",
        F.col("r").cast("long").alias("rank_r"),
        F.round(
            edge
            + (F.col("r") - F.col("cum_prev")).cast("double")
            / F.col("cnt").cast("double") * width,
            4,
        ).alias("est_c"),
    )
