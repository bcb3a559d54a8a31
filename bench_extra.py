"""Round-7 optimization harness (guide §1): per-query isolation with
the noop sink, plan capture, and labelled jobs.

This file is NOT the frozen bench.py contract — it exists so the
optimization round can (a) time one query at a time without the whole
headline protocol, (b) dump `.explain("formatted")` for the plan
artifacts in plans/r07/, and (c) A/B a candidate change in-process.

Usage:
    python bench_extra.py plans <tag>          # dump plans for all bench'd queries
    python bench_extra.py time <name> [n]      # min-of-n noop-sink timing
    python bench_extra.py pipeline [n_pages]   # time the kg pipeline stages
"""

from __future__ import annotations

import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# every query bench.py times, plus the expensive non-headline driver
# rows worth watching (checklist scope: "optimize every operator")
WATCH = [
    "q1_pricing_summary",
    "q6_revenue_filter",
    "q5_region_revenue",
    "q_window_topk_orders",
    "q_sessionize",
    "dedup_minhash_lsh",
    "ann_bruteforce_topk",
    "text_quality",
    "dedup_minhash_xxh64",
]


def _session():
    from kg.session import build_session

    return build_session(
        app_name="kg-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * int(CPUS),
    )


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def dump_plans(tag: str, names: list[str] | None = None) -> None:
    import __spark_entry__ as E

    spark = _session()
    q = E.all_queries()
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r07")
    os.makedirs(outdir, exist_ok=True)
    for name in names or WATCH:
        df = q[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


def time_query(name: str, n: int = 4) -> None:
    import __spark_entry__ as E

    spark = _session()
    fn = E.all_queries()[name]
    times = []
    for i in range(n):
        spark.sparkContext.setJobDescription(f"{name} run {i}")
        l0 = _load1()
        t0 = time.monotonic()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        dt = time.monotonic() - t0
        times.append(dt)
        print(f"  run {i}: {dt:.3f}s  load {l0:.1f}->{_load1():.1f}")
    print(f"{name}: min {min(times):.3f}s  samples {[round(t,3) for t in times]}")


def time_pipeline(n_pages: int = 200_000, n: int = 4) -> None:
    import bench

    spark = _session()
    bench._run_kg_pipeline(spark, max(n_pages // 5, 1000))  # warm-up
    times = []
    for i in range(n):
        l0 = _load1()
        sec, _ = bench._run_kg_pipeline(spark, n_pages)
        times.append(sec)
        print(f"  run {i}: {sec:.3f}s  load {l0:.1f}->{_load1():.1f}")
    print(
        f"kg_pipeline({n_pages}): min {min(times):.3f}s "
        f"= {n_pages/min(times):,.0f} docs/s"
    )


def profile_minhash(neutral: bool = True, n: int = 3) -> None:
    """Phase isolation for minhash_lsh_pairs: signatures / bands /
    candidates / full query, min-of-n each."""
    from pyspark.sql import functions as F

    from kg import dedup as D
    from kg.relational import ws_tokens

    spark = _session()
    docs0 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs = docs0.filter(F.size(ws_tokens(F.col("text"))) >= 3)
    hasher = (
        D.with_shingle_hashes_neutral if neutral else D.with_shingle_hashes
    )

    def phases():
        hashed = hasher(docs, 3).select("doc_id", "hs")
        sigs = D.minhash_signatures_udf(docs, 3, 32, 42, neutral=neutral)
        full = D.minhash_lsh_pairs(docs0, neutral=neutral)
        return {"shingle_hashes": hashed, "signatures": sigs, "full": full}

    for name in ["shingle_hashes", "signatures", "full"]:
        times = []
        for i in range(n + (1 if name == "shingle_hashes" else 0)):
            spark.sparkContext.setJobDescription(f"mh {name} run {i}")
            t0 = time.monotonic()
            phases()[name].write.format("noop").mode("overwrite").save()
            times.append(time.monotonic() - t0)
        print(
            f"{name:16s} min {min(times):6.3f}s  "
            f"samples {[round(t, 3) for t in times]}  load {_load1():.1f}"
        )


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "plans"
    if cmd == "plans":
        tag = sys.argv[2] if len(sys.argv) > 2 else "before"
        names = sys.argv[3].split(",") if len(sys.argv) > 3 else None
        dump_plans(tag, names)
    elif cmd == "time":
        time_query(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 4)
    elif cmd == "pipeline":
        time_pipeline(
            int(sys.argv[2]) if len(sys.argv) > 2 else 200_000,
            int(sys.argv[3]) if len(sys.argv) > 3 else 4,
        )
    elif cmd == "minhash":
        profile_minhash(
            neutral=(sys.argv[2] != "xxh64") if len(sys.argv) > 2 else True,
            n=int(sys.argv[3]) if len(sys.argv) > 3 else 3,
        )
