"""Physical-plan audit: assert the plans we designed for are the
plans Catalyst actually produces (SURVEY.md §4; the '.explain and
iterate' discipline).

Checks per query family:
  * parquet scans carry PushedFilters / pruned ReadSchema,
  * dimension joins are BroadcastHashJoin,
  * per-key top-k uses WindowGroupLimit below the shuffle,
  * global top-k is TakeOrderedAndProject (no full sort),
  * relational plans contain NO Python evaluation nodes,
  * the KG hot path has exactly the expected Arrow boundaries.

Usage: python scripts/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from kg.session import build_session
    from kg import dedup, similarity, textstats  # noqa: F401 (register)
    from kg import relational as R

    spark = build_session(master="local[8]", shuffle_partitions=16)
    failures: list[str] = []

    def check(name: str, cond: bool, detail: str = "") -> None:
        print(("ok   " if cond else "FAIL ") + name + (f": {detail}" if detail and not cond else ""))
        if not cond:
            failures.append(name)

    # --- predicate pushdown + column pruning (Q6) ---------------------
    q6 = R.QUERIES["q6_revenue_filter"](spark, sf_dir)
    p = plan_of(q6)
    check("q6 pushes filters to scan", "PushedFilters: [" in p and "IsNotNull(l_shipdate)" in p, p[-500:])
    check(
        "q6 prunes columns (no l_orderkey in ReadSchema)",
        "l_orderkey" not in p.split("ReadSchema")[-1],
    )

    # --- broadcast joins ----------------------------------------------
    bj = R.QUERIES["q_broadcast_join"](spark, sf_dir)
    check("customer dim join broadcasts", "BroadcastHashJoin" in plan_of(bj))
    q5 = R.QUERIES["q5_region_revenue"](spark, sf_dir)
    p5 = plan_of(q5)
    check(
        "q5 broadcasts all dims (>=4 BroadcastHashJoin)",
        p5.count("BroadcastHashJoin") >= 4,
        f"count={p5.count('BroadcastHashJoin')}",
    )

    # --- window top-k group limit --------------------------------------
    wt = R.QUERIES["q_window_topk_orders"](spark, sf_dir)
    check("per-key top-k uses WindowGroupLimit", "WindowGroupLimit" in plan_of(wt))

    # --- global top-k ---------------------------------------------------
    td = R.QUERIES["q_top_docs"](spark, sf_dir)
    check("global top-k is TakeOrderedAndProject", "TakeOrderedAndProject" in plan_of(td))

    # --- theta join -> broadcast nested loop ------------------------------
    from kg import similarity as S  # registered via import above

    bf = R.QUERIES["ann_bruteforce_topk"](spark, sf_dir)
    check(
        "broadcast cross join compiles to BroadcastNestedLoopJoin",
        "BroadcastNestedLoopJoin" in plan_of(bf),
    )

    # --- IVF assignment: no corpus shuffle --------------------------------
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.select(
        "vec_id", emb["embedding"].cast("array<double>").alias("v")
    )
    _, assigned = S.ivf_assign(corpus, n_cells=8)
    pa = plan_of(assigned)
    check(
        "ivf assignment has zero Exchange (per-row argmax, no window)",
        "Exchange" not in pa and "Window" not in pa,
        pa[:400],
    )
    # neutral variant: the final assignment must ALSO be map-only, and
    # pure Catalyst besides (the argmin is a literal-centroid
    # expression, not a pandas UDF)
    _, assigned_n = S.ivf_assign_neutral(corpus, n_cells=8)
    pn = plan_of(assigned_n)
    check(
        "neutral ivf assignment is map-only JVM (no Exchange/Window/Python)",
        "Exchange" not in pn and "Window" not in pn and "Python" not in pn
        and "Arrow" not in pn,
        pn[:400],
    )

    # --- no Python in relational plans ----------------------------------
    from kg import curation  # noqa: F401 (register curation queries)

    for name in [
        "q1_pricing_summary", "q6_revenue_filter", "q5_region_revenue",
        "q_window_topk_orders", "q_sessionize",
        "q_events_json", "dedup_ngram_jaccard",
        "ann_bruteforce_topk", "text_quality", "text_fingerprint",
        "text_chunking", "vocab_topk", "corpus_sample_stratified",
        "text_pii_scrub", "text_repetition", "text_decontaminate",
        "corpus_shuffle_batches", "corpus_pack_sequences", "text_tfidf",
    ]:
        p = plan_of(R.QUERIES[name](spark, sf_dir))
        check(f"{name} stays JVM-side", "Python" not in p and "Arrow" not in p)

    # --- decontamination: per-row literal intersect, no join/shuffle ----
    pd_ = plan_of(R.QUERIES["text_decontaminate"](spark, sf_dir))
    check(
        "decontaminate is map-only (zero Exchange, zero Join)",
        "Exchange" not in pd_ and "Join" not in pd_,
    )

    # --- simhash: token hashing JVM-side, one Arrow crossing -------------
    sh = plan_of(R.QUERIES["dedup_simhash"](spark, sf_dir))
    shp = plan_of(R.QUERIES["dedup_simhash_pairs"](spark, sf_dir))
    check(
        "simhash: exactly 1 Arrow boundary (no Python hashing)",
        sh.count("MapInPandas") + sh.count("ArrowEvalPython") == 1,
    )
    # the banded self-join prints the shared simhash subtree once per
    # reference, so assert no ROW-AT-A-TIME Python and JVM verification
    # instead of counting the (shared) Arrow subtree
    check(
        "simhash pairs: no row-at-a-time Python, JVM bit_count verify",
        "BatchEvalPython" not in shp and "bit_count" in shp,
    )

    # --- partial aggregation (map-side combine) --------------------------
    p1 = plan_of(R.QUERIES["q1_pricing_summary"](spark, sf_dir))
    check(
        "q1 has partial+final hash agg",
        p1.count("HashAggregate") >= 2 and "partial" in p1.lower(),
    )

    # --- KG hot path: exactly the designed Arrow boundaries per stage ----
    # audit each stage's plan from a materialized input (the orchestrated
    # execution shape); tree-string counting on the fused lazy plan would
    # overcount shared subtrees.
    from kg import fixtures as FX
    from kg import pipeline as P
    from kg.io import scratch_dir

    pages_path = scratch_dir("audit_pages_") + "/pages"
    FX.gen_pages(spark, 50, seed=42).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)

    def arrow_count(df) -> int:
        p = plan_of(df)
        return sum(p.count(n) for n in ("ArrowEvalPython", "MapInPandas", "MapInArrow"))

    # the shipped crossing: html -> rule-matched pairs in one Python
    # boundary, nothing shuffled, and html gone from its output
    crossing = P.matched_pairs(pages)
    pcross = plan_of(crossing)
    check(
        "matched_pairs: exactly 1 Python boundary, no Exchange, no html out",
        arrow_count(crossing) == 1
        and "Python" not in pcross  # no row-at-a-time or other UDF node
        and "Exchange" not in pcross
        and "html" not in str(crossing.schema),
        pcross,
    )

    # the shipped lazy triples: that crossing, one broadcast join per
    # side against the compiled dictionary (a local relation), and the
    # dedup as the only hash exchange
    def local_broadcasts(p: str) -> int:
        """BroadcastHashJoin count, or -1 unless every build side is a
        LocalTableScan."""
        lines = p.splitlines()
        builds = [lines[k + 1] for k, ln in enumerate(lines) if "BroadcastExchange" in ln]
        n = p.count("BroadcastHashJoin")
        ok = len(builds) == n and all("+- LocalTableScan" in b for b in builds)
        return n if ok else -1

    lazy = P.run_pipeline(
        spark, pages, FX.aliases_df(spark), FX.entity_vecs_df(spark)
    )["triples"]
    plazy = plan_of(lazy)
    check(
        "lazy triples: 1 Python boundary, 2 broadcast joins of local tables, "
        "1 hash Exchange",
        arrow_count(lazy) == 1
        and "Python" not in plazy
        and local_broadcasts(plazy) == 2
        and plazy.count("Exchange hashpartitioning") == 1,
        plazy,
    )

    # the driver's mentions and linked mentions: the crossing's
    # mentions mode, then one verdict broadcast join. Their page source
    # (the fixture generator) is a MapInPandas of its own, so count the
    # boundaries above it
    all_q = __import__("__spark_entry__").all_queries()
    n_src = arrow_count(FX.pages_from_documents(spark, sf_dir))
    km = all_q["kg_mentions"](spark, sf_dir)
    pkm = plan_of(km)
    check(
        "driver kg_mentions: exactly 1 Python boundary above the page source",
        arrow_count(km) - n_src == 1 and "Python" not in pkm,
        pkm,
    )
    kl = all_q["kg_linked"](spark, sf_dir)
    pkl = plan_of(kl)
    check(
        "driver kg_linked: 1 Python boundary above the page source, "
        "1 broadcast join of a local table",
        arrow_count(kl) - n_src == 1
        and "Python" not in pkl
        and local_broadcasts(pkl) == 1,
        pkl,
    )

    text = P.stage_extract(pages)
    check("extract stage: exactly 1 Arrow boundary", arrow_count(text) == 1)
    check(
        "extract stage drops html after the UDF",
        "html" not in str(text.schema),
    )
    sents = P.stage_sentences(text)
    check(
        "sentence split adds no Python (Catalyst only)",
        arrow_count(sents) == 1,  # still just the upstream extract UDF
    )
    # from materialized sentences: fused NER = 1 boundary
    sents_path = scratch_dir("audit_sents_") + "/s"
    sents.write.parquet(sents_path)
    sents_m = spark.read.parquet(sents_path)
    mentions = P.stage_mentions(sents_m)
    check("NER stage: exactly 1 Arrow boundary (fused M4-M7)", arrow_count(mentions) == 1)
    m_path = scratch_dir("audit_m_") + "/m"
    mentions.write.parquet(m_path)
    m_m = spark.read.parquet(m_path)
    linked = P.stage_linked(m_m, FX.aliases_df(spark), FX.entity_vecs_df(spark))
    plink = plan_of(linked)
    check(
        "link stage: no Arrow boundary, broadcast join of a local verdict",
        arrow_count(linked) == 0
        and "BroadcastHashJoin" in plink
        and "LocalTableScan" in plink,
    )
    traw = P.stage_triples_raw(linked)
    # K5 groups linked by sentence in one shuffle, so linked's subtree
    # prints once: the pair explode and the relation rules add no Python.
    check(
        "relation stage adds no Python (Catalyst CASE rules)",
        arrow_count(traw) == arrow_count(linked),
    )

    # --- r5 additions -----------------------------------------------------
    # lm_score / substring dedup / triangles / mix: all JVM-side,
    # no cartesian anywhere, and the intended join strategies appear.
    for name in [
        "text_lm_score", "dedup_substring_ngrams", "graph_triangles",
        "corpus_mix_domains",
    ]:
        qn = (
            R.QUERIES[name]
            if name in R.QUERIES
            else __import__("__spark_entry__").all_queries()[name]
        )
        p = plan_of(qn(spark, sf_dir))
        check(
            f"{name} stays JVM-side, no cartesian",
            "Python" not in p and "Arrow" not in p
            and "CartesianProduct" not in p,
        )
    pmix = plan_of(R.QUERIES["corpus_mix_domains"](spark, sf_dir))
    check(
        "mix_domains rates join back via broadcast",
        "BroadcastHashJoin" in pmix,
    )
    plpa = plan_of(
        __import__("__spark_entry__").all_queries()["graph_label_propagation"](
            spark, sf_dir
        )
    )
    check(
        "label propagation stays JVM-side, no cartesian",
        "Python" not in plpa and "CartesianProduct" not in plpa,
    )
    pbfs = plan_of(
        __import__("__spark_entry__").all_queries()["graph_bfs_hops"](
            spark, sf_dir
        )
    )
    check(
        "bfs stays JVM-side, no cartesian",
        "Python" not in pbfs and "CartesianProduct" not in pbfs,
    )
    pbloom = plan_of(R.QUERIES["q_bloom_prune_join"](spark, sf_dir))
    check(
        "bloom probe filters map-only, verify join broadcasts",
        "BroadcastHashJoin" in pbloom
        and "SortMergeJoin" not in pbloom
        and "Python" not in pbloom
        and "CartesianProduct" not in pbloom,
    )
    for name in (
        "sketch_cms_heavy_hitters",
        "sketch_hll_distinct",
        "sketch_histogram_quantiles",
    ):
        p = plan_of(R.QUERIES[name](spark, sf_dir))
        check(
            f"{name} stays JVM-side, no cartesian",
            "Python" not in p and "Arrow" not in p
            and "CartesianProduct" not in p,
        )

    # --- r6 additions -----------------------------------------------------
    # multi-n decontamination must keep the single-n shape: every gram
    # width evaluates in ONE map-only projection (no join, no shuffle)
    pdm = plan_of(all_q["text_decontaminate_multi"](spark, sf_dir))
    check(
        "decontaminate_multi is map-only (zero Exchange, zero Join)",
        "Exchange" not in pdm and "Join" not in pdm and "Python" not in pdm,
    )
    # span-dedup APPLY: gram-hash/doc-keyed shuffles only — JVM-side,
    # no cartesian, and no broadcast of the corpus-sized gram side
    psa = plan_of(all_q["dedup_substring_apply"](spark, sf_dir))
    check(
        "dedup_substring_apply stays JVM-side, no cartesian",
        "Python" not in psa and "Arrow" not in psa
        and "CartesianProduct" not in psa,
    )

    # TPC-H-shape additions: the decorrelated plans must keep their
    # intended physical shapes
    # Q21: both correlated subqueries collapse into ONE pass — the
    # fact join is consumed once (exactly 3 scans: lineitem, orders,
    # supplier; the join-back formulation plans it twice = 10 scans),
    # no cartesian, supplier dim broadcast
    p21 = plan_of(all_q["q21_waiting_supplier"](spark, sf_dir))
    check(
        "q21 decorrelates single-pass (3 scans, window, no cartesian)",
        "CartesianProduct" not in p21
        and "BroadcastNestedLoopJoin" not in p21
        and "BroadcastHashJoin" in p21
        and p21.count("Scan parquet") == 3,
        f"scans={p21.count('Scan parquet')}",
    )

    # streaming near-dup gate: the band computation the STREAM side
    # uses must be genuinely map-only (zero Exchange, zero Window,
    # zero Python) — a shuffle here would be a second stateful
    # operator in the streaming plan
    from kg.dedup import minhash_band_buckets_maponly

    pmb = plan_of(
        minhash_band_buckets_maponly(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        )
    )
    check(
        "map-only minhash bands: no Exchange/Window/Python",
        "Exchange" not in pmb and "Window" not in pmb
        and "Python" not in pmb and "Arrow" not in pmb,
    )

    # --- input-split sizing is scoped, not global -------------------------
    # Relational scans must see the 128m default (16m globally = 8x the
    # tasks per scan — the r2 cold-bench regression); the 16m pipeline
    # sizing applies only inside scoped_conf and must restore on exit.
    from kg.session import PIPELINE_SCAN_CONF, scoped_conf

    check(
        "session default maxPartitionBytes is 128m (not pipeline 16m)",
        spark.conf.get("spark.sql.files.maxPartitionBytes")
        in ("134217728", "134217728b", "128m"),
        spark.conf.get("spark.sql.files.maxPartitionBytes"),
    )
    before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    with scoped_conf(spark, PIPELINE_SCAN_CONF):
        inside = spark.conf.get("spark.sql.files.maxPartitionBytes")
    after = spark.conf.get("spark.sql.files.maxPartitionBytes")
    check(
        "pipeline scope sets 16m and restores on exit",
        inside == "16m" and after == before,
        f"before={before} inside={inside} after={after}",
    )

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
