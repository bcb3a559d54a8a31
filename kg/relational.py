"""§2.C relational/dataflow surface — the driver's query contract.

Each entry registers a (Spark DataFrame implementation, ANSI-SQL
DuckDB oracle) pair under one name; `__spark_entry__.queries()` /
`oracle_sql()` expose the registry. The reference has none of these
as operators (it is a model pipeline — SURVEY.md §2.D); they are the
substrate the KG pipeline compiles onto, expressed with built-in
Spark operators only (zero Python in any of these plans).

Numeric-determinism policy (so order-insensitive value hashes match
DuckDB bit-for-bit):
  * money sums go through exact integer cents:
    CAST(ROUND(x*100) AS BIGINT) summed as bigint;
  * averages/ratios divide exact integers as double and ROUND(.,4)
    (identical IEEE expression both sides);
  * raw stored doubles pass through untouched (bit-identical);
  * timestamps are emitted as strings via date_format/strftime;
  * every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
# Local-only entries: the driver scores at most 50 queries() rows, so
# these stay OUT of the driver registry but remain oracle-checked by
# scripts/check_oracles.py. An extra stays only while a test reaches
# it: a demo that only the sweep scripts run adds no operator beyond
# the driver 50 and the pipeline.
EXTRA: set[str] = set()


def query(name: str, oracle: str | None = None, extra: bool = False):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if extra:
            EXTRA.add(name)
        return fn

    return deco


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def cents(col: str):
    """Exact integer cents of a 2-decimal double column."""
    return F.round(F.col(col) * 100).cast("long")


# Java \s spelled as an explicit class: Spark (java.util.regex) and
# DuckDB (RE2) disagree on whether \s includes vertical tab \x0B
# (Java: yes; RE2: no), so an oracle-checked tokenizer written as
# `\s+` on both sides is a latent engine-vs-oracle divergence (r5
# review finding — verified: RE2 '\s+' does NOT split on chr(11)).
# Every whitespace tokenizer below uses THIS class on BOTH sides.
WS_REGEX = "[ \\t\\n\\x0B\\f\\r]+"


def ws_tokens(col, lower: bool = False):
    """Whitespace tokens of a string column, empties dropped — the
    one shared tokenizer expression behind decontaminate /
    pack_sequences / tfidf / simhash (drift in any one of them would
    silently diverge from its hand-written SQL twin)."""
    c = F.lower(col) if lower else col
    return F.filter(F.split(c, WS_REGEX), lambda t: t != F.lit(""))


def sql_ws_tokens(expr: str, lower: bool = False) -> str:
    """DuckDB twin of ws_tokens (same explicit whitespace class)."""
    e = f"lower({expr})" if lower else expr
    return (
        f"list_filter(regexp_split_to_array({e}, '{WS_REGEX}'), "
        "x -> x != '')"
    )


# =====================================================================
# scans / filters / aggregation
# =====================================================================


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c,
           ROUND(CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)
                 / (COUNT(*)*100), 4) AS avg_qty,
           ROUND(CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT)) AS DOUBLE)
                 / (COUNT(*)*100), 4) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan -> filter -> hash agg.
    Catalyst does partial+final aggregation; the shipdate filter and
    the 5-column projection push into the parquet scan."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents("l_quantity")).alias("sum_qty_c"),
            F.sum(cents("l_extendedprice")).alias("sum_price_c"),
            F.round(
                F.sum(cents("l_quantity")).cast("double")
                / (F.count(F.lit(1)) * 100),
                4,
            ).alias("avg_qty"),
            F.round(
                F.sum(cents("l_discount")).cast("double")
                / (F.count(F.lit(1)) * 100),
                4,
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q6_revenue_filter",
    """
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                    * CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT)
           AS revenue_micro,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.09
      AND l_quantity < 24
    """,
)
def q6_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped predicate pushdown demo: every filter reaches
    the parquet scan (PushedFilters), revenue in exact integer
    micro-units (cents*cents)."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.09)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(cents("l_extendedprice") * cents("l_discount")).alias(
                "revenue_micro"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


# =====================================================================
# joins
# =====================================================================

@query(
    "q_broadcast_join",
    """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_c
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension join: customer is broadcast (no shuffle of orders)."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("total_c"),
        )
    )


@query(
    "q5_region_revenue",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT)) AS BIGINT)
             AS revenue_c,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query: fact-fact shuffle join (lineitem-orders)
    with every dimension broadcast; Catalyst/AQE reorders and DPP
    prunes on the region filter."""
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = T(spark, sf_dir, "supplier").select("s_suppkey")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.sum(cents("l_extendedprice")).alias("revenue_c"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_anti_join",
    """
    SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers_no_orders
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers_no_orders"))
    )


@query(
    "q_semi_join",
    """
    SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts_sold
    FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    GROUP BY p.p_brand
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    l = T(spark, sf_dir, "lineitem").select("l_partkey")
    return (
        p.join(l, p["p_partkey"] == l["l_partkey"], "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts_sold"))
    )


@query(
    "q_outer_join_histogram",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    SELECT CAST(n_orders AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM per_cust GROUP BY n_orders
    """,
)
def q_outer_join_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping order-less customers (count=0 bucket)."""
    c = T(spark, sf_dir, "customer").select("c_custkey")
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "q_range_join_events",
    """
    SELECT p.user_id, CAST(COUNT(*) AS BIGINT) AS n_followups
    FROM events p JOIN events e
      ON e.user_id = p.user_id
     AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    GROUP BY p.user_id
    """,
)
def q_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: equi on user_id + range residual on ts (the
    equi key bounds the shuffle; the range predicate is a residual
    filter, NOT a cross join)."""
    ev = T(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("p_ts")
    )
    e = ev.select(F.col("user_id"), F.col("ts").alias("e_ts"))
    return (
        p.join(
            e,
            ["user_id"],
        )
        .filter(
            (F.col("e_ts") > F.col("p_ts"))
            & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_followups"))
    )


# =====================================================================
# windows
# =====================================================================


@query(
    "q_window_topk_orders",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
      FROM orders) t
    WHERE rk <= 3
    """,
)
def q_window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key top-k via row_number (WindowGroupLimit pushes the limit
    below the shuffle in Spark 4)."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            cents("o_totalprice").alias("price_c"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@query(
    "q_window_running_total",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS run_total_c
    FROM orders
    """,
)
def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(cents("o_totalprice")).over(w).alias("run_total_c"),
    )


@query(
    "q_sessionize",
    """
    WITH flags AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM flags GROUP BY user_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch): lag + 30-min threshold."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flags = ev.select(
        "user_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    return flags.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q_asof_prev_purchase",
    """
    SELECT event_id, user_id, prev_purchase_value FROM (
      SELECT event_id, user_id, event_type,
             LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_purchase_value
      FROM events) t
    WHERE event_type = 'click'
    """,
)
def q_asof_prev_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as a window: each click picks up the most
    recent prior purchase value of the same user (union+last ignore
    nulls — the scalable as-of pattern, no per-key loop)."""
    ev = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.last(
                F.when(F.col("event_type") == "purchase", F.col("value")),
                ignorenulls=True,
            )
            .over(w)
            .alias("prev_purchase_value"),
        )
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "prev_purchase_value")
    )


# =====================================================================
# set ops / union
# =====================================================================


@query(
    "q_union_mixed",
    """
    SELECT 'big_balance' AS bucket, c_custkey, c_acctbal FROM customer
    WHERE c_acctbal > 9000
    UNION ALL
    SELECT 'auto_segment' AS bucket, c_custkey, NULL AS c_acctbal
    FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    """,
)
def q_union_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName with missing columns (null-filled slice)."""
    c = T(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 9000).select(
        F.lit("big_balance").alias("bucket"), "c_custkey", "c_acctbal"
    )
    b = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.lit("auto_segment").alias("bucket"), "c_custkey"
    )
    return a.unionByName(b, allowMissingColumns=True)


# =====================================================================
# events: JSON, dates
# =====================================================================


@query(
    "q_events_json",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT))
                AS BIGINT) AS sum_k_typed,
           ROUND(CAST(SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1)
                AS BIGINT)) AS DOUBLE) / COUNT(*), 4) AS avg_k
    FROM events GROUP BY event_type
    """,
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction both ways in one plan: get_json_object
    (string path) AND from_json with an explicit schema (typed
    struct path) — sum_k and sum_k_typed must agree. The oracle uses
    a regexp so DuckDB needs no JSON extension."""
    ev = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    k_typed = F.from_json("props", "k BIGINT")["k"]
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.sum(k_typed).alias("sum_k_typed"),
        F.round(F.sum(k).cast("double") / F.count(F.lit(1)), 4).alias("avg_k"),
    )


# =====================================================================
# documents / strings
# =====================================================================


@query(
    "q_top_docs",
    """
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents ORDER BY n_chars DESC, doc_id LIMIT 10
    """,
)
def q_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k -> TakeOrderedAndProject (no full sort at scale)."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "q_dedup_exact",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts
    FROM documents GROUP BY source
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup accounting: content-hash distinct counts per source
    (the groupBy-hash shape of exact dedup at 100 TB)."""
    d = T(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
    )


# =====================================================================
# second wave: TPC-H Q3 shape, grouping sets, SQL-API path,
# grouped-map as-of
# =====================================================================


@query(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT)) AS BIGINT)
             AS revenue_c,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue_c DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter -> fact join ->
    agg -> global top-k (TakeOrderedAndProject)."""
    c = T(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    l = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .agg(F.sum(cents("l_extendedprice")).alias("revenue_c"))
        .select("l_orderkey", "revenue_c", "orderdate")
        .orderBy(F.desc("revenue_c"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q_grouping_sets_sql",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the spark.sql() API path + explicit GROUPING SETS."""
    T(spark, sf_dir, "lineitem").createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS n
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q_asof_grouped_pandas",
    """
    SELECT event_id, user_id, prev_purchase_value FROM (
      SELECT event_id, user_id, event_type,
             LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_purchase_value
      FROM events) t
    WHERE event_type = 'click'
    """,
)
def q_asof_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same as-of semantics as q_asof_prev_purchase, but computed
    with applyInPandas (grouped-map pandas merge_asof per user) — the
    per-key imperative escape hatch, cross-checked against the
    identical window-based oracle."""
    import pandas as pd

    ev = T(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )

    def asof(pdf: pd.DataFrame) -> pd.DataFrame:
        # vectorized as-of: purchase values at their own rows, shifted
        # one row (strictly-earlier), forward-filled — the pandas
        # equivalent of LAST_VALUE(...) IGNORE NULLS ROWS BETWEEN
        # UNBOUNDED PRECEDING AND 1 PRECEDING
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        pv = pdf["value"].where(pdf["event_type"] == "purchase")
        pdf["prev_purchase_value"] = pv.shift(1).ffill()
        out = pdf.loc[
            pdf["event_type"] == "click",
            ["event_id", "user_id", "prev_purchase_value"],
        ]
        return out

    return ev.groupBy("user_id").applyInPandas(
        asof, "event_id long, user_id long, prev_purchase_value double"
    )


@query(
    "q_grouped_agg_udaf",
    """
    SELECT l_returnflag,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                          * CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)
                 / SUM(CAST(ROUND(l_quantity*100) AS BIGINT)), 4)
             AS weighted_avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF surface: a GROUPED_AGG pandas UDF (Arrow-batched
    quantity-weighted mean) — the escape hatch for aggregates Catalyst
    lacks; checked against the plain-SQL formulation."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: Spark 4 doesn't infer the aggregate
    # signature from `-> float` annotations. The kernel sums exact
    # integer cents (int64) so the result is independent of
    # partial-aggregation order, then divides once.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def weighted_mean(price_c, qty_c):
        return float(
            (price_c.astype("int64") * qty_c.astype("int64")).sum()
            / qty_c.astype("int64").sum()
        )

    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            weighted_mean(cents("l_extendedprice"), cents("l_quantity")), 4
        ).alias("weighted_avg_price")
    )


@query(
    "corpus_curation",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, text, {sql_ws_tokens("text")} AS t FROM documents),
    quality AS (
      SELECT doc_id, lang, t,
             len(t) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
               / length(text) AS digit_ratio
      FROM toks),
    idx AS (
      SELECT doc_id, lang, t, n_tokens,
             unnest(generate_series(1, GREATEST(CAST(len(t) AS BIGINT) - 4, 1))) AS i
      FROM quality WHERE n_tokens >= 5 AND digit_ratio < 0.3),
    fp AS (
      SELECT doc_id, lang,
             MIN(md5(array_to_string(t[i:i+4], ' '))) AS fingerprint
      FROM idx GROUP BY doc_id, lang),
    canonical AS (
      SELECT fingerprint, MIN(doc_id) AS keeper FROM fp GROUP BY fingerprint)
    SELECT f.lang, CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM fp f JOIN canonical c
      ON f.fingerprint = c.fingerprint AND f.doc_id = c.keeper
    GROUP BY f.lang
    """,
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data curation pass: quality gate ->
    winnowing-fingerprint dedup (keep min doc_id per fingerprint) ->
    per-language kept counts. The 100 TB shape: one scan, one
    fingerprint groupBy, one broadcast-able canonical join."""
    from kg.textstats import min_fingerprint, quality_features

    d = T(spark, sf_dir, "documents")
    q = quality_features(d).filter(F.col("keep") == 1).select("doc_id")
    fp = min_fingerprint(d.join(q, "doc_id", "left_semi")).join(
        d.select("doc_id", "lang"), "doc_id"
    )
    canonical = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("keeper"))
    kept = fp.join(
        canonical,
        (fp["fingerprint"] == canonical["fingerprint"])
        & (fp["doc_id"] == canonical["keeper"]),
        "inner",
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


@query(
    "q_null_safe_join",
    """
    WITH enriched AS (
      SELECT c.c_custkey,
             CASE WHEN c.c_acctbal < 0 THEN NULL ELSE c.c_mktsegment END
               AS seg_or_null
      FROM customer c)
    SELECT a.seg_or_null,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM enriched a JOIN enriched b
      ON a.seg_or_null IS NOT DISTINCT FROM b.seg_or_null
     AND a.c_custkey < b.c_custkey
    GROUP BY a.seg_or_null
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other, unlike plain equality."""
    c = T(spark, sf_dir, "customer")
    e = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_or_null"),
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            F.col("a.seg_or_null").eqNullSafe(F.col("b.seg_or_null"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .groupBy(F.col("a.seg_or_null").alias("seg_or_null"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# =====================================================================
# round-2 merged/new driver entries (VERDICT r1 item 9 + registry trim)
# =====================================================================


@query(
    "q_set_ops",
    """
    SELECT 'except_distinct' AS op, CAST(o_custkey AS BIGINT) AS o_custkey FROM (
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      EXCEPT
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00') t1
    UNION ALL
    SELECT 'intersect' AS op, CAST(o_custkey AS BIGINT) AS o_custkey FROM (
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      INTERSECT
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00') t2
    UNION ALL
    SELECT 'except_all' AS op, CAST(o_custkey AS BIGINT) AS o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t3
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three set operators in one driver entry (EXCEPT distinct,
    INTERSECT, EXCEPT ALL bag semantics), tagged and unioned into a
    single CORRECTNESS row."""
    o = T(spark, sf_dir, "orders")
    y96 = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_custkey")
    y97 = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_custkey")
    exc = y96.subtract(y97).select(
        F.lit("except_distinct").alias("op"), "o_custkey"
    )
    itc = y96.intersect(y97).select(F.lit("intersect").alias("op"), "o_custkey")
    exa = (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_custkey")
        .exceptAll(o.filter(F.col("o_orderstatus") == "F").select("o_custkey"))
        .select(F.lit("except_all").alias("op"), "o_custkey")
    )
    return exc.unionAll(itc).unionAll(exa)


@query(
    "q_scalar_funcs",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           substring(p_type, 1, 5) AS type5,
           CAST(levenshtein(p_brand, 'Brand#11') AS BIGINT) AS lev,
           concat_ws('|', p_brand, p_type) AS brand_type,
           CAST(length(p_name) AS BIGINT) AS name_len,
           CAST(ROUND(sqrt(p_retailprice) * 1000000) AS BIGINT) AS sqrt_price_u,
           CAST(ROUND(ln(p_retailprice) * 1000000) AS BIGINT) AS log_price_u,
           CAST(ROUND(abs(p_retailprice - 1000.0) * 100) AS BIGINT) AS absdiff_c
    FROM part
    """,
)
def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String + math scalar functions in one per-row projection
    Per-row rounding to integer units keeps the result engine- and
    order-independent."""
    p = T(spark, sf_dir, "part")
    u = lambda c: F.round(c * 1_000_000).cast("long")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.levenshtein("p_brand", F.lit("Brand#11")).cast("long").alias("lev"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("long").alias("name_len"),
        u(F.sqrt("p_retailprice")).alias("sqrt_price_u"),
        u(F.log("p_retailprice")).alias("log_price_u"),
        F.round(F.abs(F.col("p_retailprice") - 1000.0) * 100)
        .cast("long")
        .alias("absdiff_c"),
    )


@query(
    "q_right_outer_join",
    """
    SELECT c.c_custkey, c.c_mktsegment,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_urgent_orders
    FROM (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
)
def q_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: every customer survives, zero-filled count
    for customers with no urgent orders (closes the §2.C right-outer
    row; left/full outer live in q_outer_join_histogram /
    per_type_prf)."""
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"], "right_outer")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_urgent_orders"))
    )


# =====================================================================
# double-correlated EXISTS + NOT EXISTS (TPC-H Q21 shape)
# =====================================================================


@query(
    "q21_waiting_supplier",
    """
    WITH lo AS (
      SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey)
    SELECT s.s_suppkey,
           s.s_name,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lo l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lo l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lo l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate >
                            l3.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s.s_suppkey, s.s_name
    """,
    extra=True,  # local-only: double-correlated EXISTS/NOT-EXISTS surface
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): per
    supplier, the late lineitems on multi-supplier orders where that
    supplier was the ONLY late one. The oracle states it as the
    reference's double-correlated EXISTS + NOT EXISTS; the engine
    decorrelates BOTH subqueries in a SINGLE pass with no self-join
    at all: aggregate the fact join once to (order, supplier) grain
    (n_late = that supplier's late rows on that order), then a window
    over l_orderkey derives both correlated facts on the aggregated
    table — n_supp = count over the order (EXISTS other supplier <=>
    >= 2) and n_late_supp = count of suppliers with n_late > 0 (NOT
    EXISTS other LATE supplier, given this one is late, <=> = 1);
    numwait = sum of n_late over qualifying rows, preserving the
    correlated form's row-level count. Every subtree is consumed
    once — the aggregate-once-join-back alternative plans the
    fact⋈orders join TWICE (measured: 10 parquet scans vs 3 here;
    Spark's ReuseExchange does not canonicalize the two references
    together). The window partitions by an order key the preceding
    aggregation already hashed on a superset of, and order×supplier
    rows are ~4x smaller than lineitem, so the window exchange is
    cheap; the supplier dim joins broadcast. Lateness = shipped >90
    days after order date (whole-day INTERVAL on midnight timestamps,
    same granularity both sides)."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    os_grain = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.sum(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
                ).cast("long")
            ).alias("n_late")
        )
    )
    w = Window.partitionBy("l_orderkey")
    prof = os_grain.select(
        "l_suppkey",
        "n_late",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum((F.col("n_late") > 0).cast("long")).over(w).alias("n_late_supp"),
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        prof.filter(
            (F.col("n_late") > 0)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.sum("n_late").alias("numwait"))
    )


# =====================================================================
# global argmax with ties (TPC-H Q15 shape)
# =====================================================================


@query(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS total_rev_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey),
    mx AS (SELECT MAX(total_rev_c) AS m FROM rev)
    SELECT s.s_suppkey, s.s_name, r.total_rev_c
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey, mx
    WHERE r.total_rev_c = mx.m
    """,
    extra=True,  # local-only: global argmax-with-ties surface
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the supplier(s) whose quarterly
    revenue EQUALS the global maximum — argmax with ties, the shape
    the reference writes as a view + `WHERE total = (SELECT MAX ...)`.
    NOT a sort-limit: LIMIT 1 silently drops ties and a global sort
    pays a full exchange for one row. Instead the per-supplier
    aggregate (one supplier-keyed shuffle with map-side partials —
    supplier cardinality, not fact cardinality) feeds a ONE-ROW max
    aggregate broadcast back over itself (BroadcastNestedLoopJoin on
    a single row), keeping every tied supplier.
    Revenue is exact integer price_c x (100 - disc_c), so the
    equality compare has no float boundary; the supplier dim
    broadcasts for the name join."""
    rev = (
        T(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                cents("l_extendedprice") * (100 - cents("l_discount"))
            ).alias("total_rev_c")
        )
    )
    mx = rev.agg(F.max("total_rev_c").alias("m"))
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev_c") == F.col("m"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev_c")
    )


# =====================================================================
# bloom-filter runtime join pruning
# =====================================================================

BLOOM_BITS = 65536  # default sizing: ~0.1% fill at dim sizes here
BLOOM_K = 3
# 63-bit words: DuckDB's BIGINT << raises on the sign bit (1 << 63
# overflows) while Spark wraps silently, so bit 63 is the one word
# position the two engines disagree on — keep bits 0..62 only
_BLOOM_WORD = 63


def _bloom_pos(key_col, j: int, bits: int):
    from kg.dedup import _neutral_hash64

    return F.pmod(
        _neutral_hash64(F.concat(F.lit(f"{j}:"), key_col.cast("string"))),
        F.lit(bits),
    )


def bloom_prune_semi_join(
    spark: SparkSession, sf_dir: str, bits: int = BLOOM_BITS
) -> DataFrame:
    """Runtime bloom-filter join pruning — the pattern that cuts a
    100 TB fact-dim join's shuffle volume: build a ``bits``-wide
    bitmap from the filtered dim keys (distributed bit_or into
    bits/63 words; only the BITMAP is collected, never the keys),
    embed it as a literal map in the probe plan, and filter the fact
    side MAP-ONLY (all K bit tests inline in the scan stage — no
    join, no shuffle) before the exact verification join. The exact
    join then runs over the bloom survivors only; its result is
    identical with or without the bloom (one-sided filter), which the
    n_true/n_false accounting makes visible. Word size is 63 bits —
    see _BLOOM_WORD. OSS Spark's own runtime bloom
    (spark.sql.optimizer.runtimeFilter.bloomFilter) is a black-box
    JVM hash; this construction is engine-neutral md5 end-to-end, so
    bitmap words, survivor set and counters re-derive exactly in the
    DuckDB oracle."""
    dimk = (
        T(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#23") & (F.col("p_size") >= 40))
        .select("p_partkey")
    )
    posed = dimk.select(
        F.explode(
            F.array(
                *[_bloom_pos(F.col("p_partkey"), j, bits) for j in range(BLOOM_K)]
            )
        ).alias("pos")
    )
    bm_rows = (
        posed.select(
            (F.col("pos") - F.pmod("pos", F.lit(_BLOOM_WORD)))
            .cast("long")
            .alias("_n"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD} AS INT))").alias(
                "bit"
            ),
        )
        .select((F.col("_n") / _BLOOM_WORD).cast("long").alias("bucket"), "bit")
        .groupBy("bucket")
        .agg(F.expr("bit_or(bit)").alias("bits"))
        .collect()
    )
    bm = {r["bucket"]: r["bits"] for r in bm_rows}
    probe = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey",
        cents("l_extendedprice").alias("price_c"),
    )
    if bm:
        map_lit = F.create_map(
            *[
                x
                for b in sorted(bm)
                for x in (F.lit(b).cast("long"), F.lit(bm[b]).cast("long"))
            ]
        )
        # each hash position is computed ONCE as a named column; word
        # lookup and bit test both reference it (no duplicated md5)
        posed = probe
        for j in range(BLOOM_K):
            posed = posed.withColumn(
                f"_pos{j}", _bloom_pos(F.col("l_partkey"), j, bits)
            )
        cond = F.lit(True)
        for j in range(BLOOM_K):
            pos = F.col(f"_pos{j}")
            word = F.coalesce(
                F.element_at(
                    map_lit,
                    ((pos - F.pmod(pos, F.lit(_BLOOM_WORD))) / _BLOOM_WORD)
                    .cast("long"),
                ),
                F.lit(0),
            ).cast("long")
            bit = F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(_pos{j} % {_BLOOM_WORD} AS INT))"
            )
            cond = cond & (word.bitwiseAND(bit) != 0)
        survivors = posed.filter(cond).drop(
            *[f"_pos{j}" for j in range(BLOOM_K)]
        )
    else:
        survivors = probe.filter(F.lit(False))
    joined = survivors.join(
        F.broadcast(dimk.withColumnRenamed("p_partkey", "l_partkey").withColumn("_m", F.lit(1))),
        "l_partkey",
        "left",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_bloom_pass"),
        F.sum(F.when(F.col("_m").isNotNull(), 1).otherwise(0)).alias("n_true_match"),
        F.sum(F.when(F.col("_m").isNull(), 1).otherwise(0)).alias("n_false_pos"),
        F.sum(F.when(F.col("_m").isNotNull(), F.col("price_c")).otherwise(0)).alias(
            "revenue_c"
        ),
    )


def _bloom_oracle_sql(bits: int = BLOOM_BITS) -> str:
    js = ", ".join(f"({j})" for j in range(BLOOM_K))
    return f"""
    WITH js(j) AS (VALUES {js}),
    dimk AS (SELECT p_partkey FROM part
             WHERE p_brand = 'Brand#23' AND p_size >= 40),
    pos AS (
      SELECT (('0x' || substr(md5(js.j::VARCHAR || ':' ||
                 dimk.p_partkey::VARCHAR), 1, 15))::BIGINT % {bits}) AS pos
      FROM dimk CROSS JOIN js),
    bm AS (
      SELECT pos // {_BLOOM_WORD} AS bucket,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WORD} AS INT))
               AS bits
      FROM pos GROUP BY 1),
    probe AS (
      SELECT l_orderkey, l_linenumber, l_partkey,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c
      FROM lineitem),
    pj AS (
      SELECT p.*, js.j,
             (('0x' || substr(md5(js.j::VARCHAR || ':' ||
                p.l_partkey::VARCHAR), 1, 15))::BIGINT % {bits}) AS pos
      FROM probe p CROSS JOIN js),
    hit AS (
      SELECT pj.l_orderkey, pj.l_linenumber, pj.l_partkey, pj.price_c,
             CASE WHEN (bm.bits & (CAST(1 AS BIGINT)
                        << CAST(pj.pos % {_BLOOM_WORD} AS INT))) <> 0
                  THEN 1 ELSE 0 END AS ok
      FROM pj LEFT JOIN bm ON bm.bucket = pj.pos // {_BLOOM_WORD}),
    passed AS (
      SELECT l_orderkey, l_linenumber, l_partkey, MIN(price_c) AS price_c
      FROM hit GROUP BY 1, 2, 3 HAVING SUM(ok) = {BLOOM_K})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bloom_pass,
           CAST(SUM(CASE WHEN d.p_partkey IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true_match,
           CAST(SUM(CASE WHEN d.p_partkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN d.p_partkey IS NOT NULL THEN passed.price_c
                         ELSE 0 END) AS BIGINT) AS revenue_c
    FROM passed LEFT JOIN dimk d ON d.p_partkey = passed.l_partkey
    """


@query("q_bloom_prune_join", _bloom_oracle_sql(), extra=True)
def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bloom_prune_semi_join(spark, sf_dir)


# =====================================================================
# time-based RANGE window frame
# =====================================================================


@query(
    "q_window_range_frame",
    """
    SELECT event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT)
             AS sum_c_1h
    FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY es
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    extra=True,  # local-only: time-based RANGE frame surface
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing one-hour moving aggregate per user — a RANGE window
    frame over EVENT TIME, not row offsets (every other window query
    here uses ROWS frames; the two differ whenever inter-event gaps
    are irregular, which real event streams always are). Spark takes
    the frame in the orderBy column's units, so ts casts to epoch
    seconds (NTZ -> timestamp -> long; the container session tz is
    UTC, so the reinterpretation is the identity) and the frame is
    [-3600, 0]. The ORACLE orders by the SAME truncated-seconds key
    (floor(epoch(ts)), numeric RANGE 3600) rather than the
    full-precision INTERVAL form: Spark's long cast floors
    sub-second timestamps, so an interval-precision oracle diverges
    whenever a same-user pair straddles the hour boundary by under a
    second — measured at sf0.1 (event 45055: n_1h 1 vs 2); defining
    both sides on the truncated key makes the frames equal by
    construction at every scale, and RANGE frames include ALL ties
    of the order key on both engines. One
    user-keyed shuffle; each partition sorts locally — the standard
    time-series rollup shape at any scale."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return T(spark, sf_dir, "events").select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(cents("value")).over(w).alias("sum_c_1h"),
    )
