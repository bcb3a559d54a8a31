"""AQE skew-join vs manual salting A/B on a planted-skew shuffle join.

The 100 TB operator-choice question the salted ops raise: when does
built-in AQE skew handling suffice, and when is explicit salting still
required? This script measures a planted-skew fact-dim join (90% of
fact rows on ONE key, dim too big to broadcast by config) three ways
on the same session:

  A. plain sort-merge join, AQE skewJoin OFF  — the melted-reducer
     baseline: one task sorts 90% of the data
  B. plain sort-merge join, AQE skewJoin ON   — Spark splits the
     oversized partition at runtime (zero code changes); thresholds
     are lowered so the ~100 MB test partition trips the same logic
     a multi-GB partition trips at the 256 MB production default
  C. manual xxhash64 salting: fact carries a row salt, dim
     replicates per salt, join keys on (key, salt)

Writes one JSON artifact (BENCH/skew_ab_r6.json) with min-of-N times,
per-sample /proc/loadavg stamps (the bench.py protocol), and whether
the executed AQE plan actually shows `skew=true`. Conclusion recorded
in BENCH/BASELINE.md: AQE covers the plain-shuffle-join case; manual
salting remains for skewed aggregations, bucketed joins AQE must not
re-partition, and AQE-off paths.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

N_FACT = 4_000_000
N_KEYS = 1_000
SKEW_PCT = 90  # % of fact rows landing on key 0
SALT = 16
PAYLOAD = 64  # chars per row so the skewed partition has real bytes


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def build(spark):
    fact = spark.range(N_FACT).select(
        F.when(F.col("id") % 100 < SKEW_PCT, F.lit(0))
        .otherwise(F.col("id") % N_KEYS)
        .alias("k"),
        F.col("id").alias("rid"),
        F.rpad(F.conv(F.col("id").cast("string"), 10, 16), PAYLOAD, "x").alias(
            "payload"
        ),
    )
    dim = spark.range(N_KEYS).select(
        F.col("id").alias("k"),
        F.concat(F.lit("attr_"), (F.col("id") % 7).cast("string")).alias("attr"),
    )
    return fact, dim


def plain_join(fact, dim):
    return (
        fact.join(dim, "k")
        .groupBy("attr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("payload")).alias("bytes"),
        )
    )


def salted_join(fact, dim):
    f = fact.withColumn("_salt", F.pmod(F.xxhash64("rid"), F.lit(SALT)))
    d = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(SALT)]))
    )
    return (
        f.join(d, ["k", "_salt"])
        .groupBy("attr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("payload")).alias("bytes"),
        )
    )


def timed(make_df, n=3):
    """Fresh DataFrame per sample: re-collecting ONE DataFrame object
    reuses its already-computed shuffle map output (the RDD lineage is
    cached on the instance), which would time the reduce side only."""
    samples, answers, plan = [], [], ""
    for _ in range(n):
        df = make_df()
        l0 = _load1()
        t0 = time.monotonic()
        answers.append(
            {r["attr"]: (r["n"], r["bytes"]) for r in df.collect()}
        )
        samples.append(
            {"sec": round(time.monotonic() - t0, 2), "load1": l0}
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
    return samples, answers[-1], plan


def main() -> int:
    from kg.session import build_session

    spark = build_session(master="local[32]", shuffle_partitions=32)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    fact, dim = build(spark)

    # lowered thresholds: the planted partition is ~100 MB; production
    # keeps the 256 MB default and the same split logic fires
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")

    # JIT/scan warm-up on an unskewed twin, not a measured variant
    plain_join(
        fact.withColumn("k", F.col("rid") % N_KEYS), dim
    ).collect()

    out = {"n_fact": N_FACT, "skew_pct": SKEW_PCT, "salt": SALT, "variants": {}}

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    s, ans_a, _ = timed(lambda: plain_join(*build(spark)))
    out["variants"]["plain_skewjoin_off"] = {
        "min_sec": min(x["sec"] for x in s), "samples": s
    }

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s, ans_b, plan_b = timed(lambda: plain_join(*build(spark)))
    out["variants"]["plain_skewjoin_on"] = {
        "min_sec": min(x["sec"] for x in s),
        "samples": s,
        "plan_shows_skew_split": "skew=true" in plan_b,
    }

    s, ans_c, plan_c = timed(lambda: salted_join(*build(spark)))
    out["variants"]["manual_salted"] = {
        "min_sec": min(x["sec"] for x in s),
        "samples": s,
        "plan_keys_on_salt": "_salt" in plan_c,
    }

    assert ans_a == ans_b == ans_c, "variants disagree on the answer"
    out["answers_identical"] = True

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "skew_ab_r6.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out["variants"], indent=1))
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
