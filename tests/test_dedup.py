"""Dedup gates: MinHash estimates track exact Jaccard; LSH recalls
planted near-duplicates; SimHash keeps near-dups in close buckets."""

import random

import pyspark.sql.functions as F

from kg.dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_buckets,
    shingles_df,
)


def _planted_docs(spark, n_base=30, seed=11):
    """Base docs + near-duplicates (one token changed) + one exact dup."""
    rng = random.Random(seed)
    vocab = [f"tok{i}" for i in range(200)]
    rows = []
    for i in range(n_base):
        toks = [rng.choice(vocab) for _ in range(40)]
        rows.append((i, " ".join(toks), "en", "src0", len(" ".join(toks))))
        if i < 10:  # near-dup: flip one token
            mod = toks[:]
            mod[20] = "CHANGED"
            rows.append(
                (1000 + i, " ".join(mod), "en", "src0", len(" ".join(mod)))
            )
    rows.append((2000, rows[0][1], "en", "src0", rows[0][4]))  # exact dup
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def _exact_jaccard(spark, docs):
    sh = shingles_df(docs)
    sets = {}
    for r in sh.collect():
        sets.setdefault(r["doc_id"], set()).add(r["shingle"])
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter:
                out[(a, b)] = inter / len(sets[a] | sets[b])
    return out


def test_minhash_estimates_track_exact_jaccard(spark):
    docs = _planted_docs(spark)
    exact = _exact_jaccard(spark, docs)
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs, k=64).collect()}
    for (a, b), jac in exact.items():
        if jac < 0.3:
            continue
        est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / 64
        assert abs(est - jac) < 0.25, (a, b, jac, est)


def test_lsh_recalls_planted_near_dups(spark):
    docs = _planted_docs(spark)
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    # r2 leak regression: the LSH barrier is a scratch-parquet round
    # trip, so the call must pin NO new cached datasets (advisor r2)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before
    # all 10 planted near-dups (jaccard ~0.87) + the exact dup
    for i in range(10):
        assert (i, 1000 + i) in pairs, (i, pairs)
    assert (0, 2000) in pairs
    # verified jaccard filter keeps precision: no low-sim pairs
    exact = _exact_jaccard(spark, docs)
    for a, b in pairs:
        assert exact.get((a, b), 0.0) >= 0.5


def test_dedup_clusters_planted_groups(spark):
    """dedup_clusters groups each planted near-dup with its base doc,
    with the min doc_id elected canonical; the exact dup (doc 2000 of
    doc 0) lands in doc 0's cluster, making it the one 3-doc cluster.
    The pair graph is corpus-derived, so it runs the distributed
    components loop — this gates that path end-to-end."""
    from kg.dedup import dedup_clusters

    docs = _planted_docs(spark)
    rows = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in dedup_clusters(docs, threshold=0.5).collect()
    }
    for i in range(10):
        size = 3 if i == 0 else 2
        assert rows[1000 + i] == (i, size, 0), (i, rows.get(1000 + i))
        assert rows[i] == (i, size, 1), (i, rows.get(i))
    assert rows[2000] == (0, 3, 0)
    # only clustered docs appear; exactly one canonical per cluster
    assert len(rows) == 21, sorted(rows)
    canon = [d for d, (_, _, c) in rows.items() if c == 1]
    assert sorted(canon) == list(range(10))


def test_dedup_apply_drops_only_non_canonicals(spark):
    """dedup_apply keeps exactly one doc per near-dup cluster (the min
    doc_id) and every singleton: on the planted fixture that means the
    10 near-dups (1000+i) and the exact dup (2000) vanish, the 30 base
    docs survive."""
    from kg.dedup import dedup_apply

    docs = _planted_docs(spark)
    kept = {r["doc_id"] for r in dedup_apply(docs, threshold=0.5).collect()}
    assert kept == set(range(30)), sorted(kept)


def test_ngram_jaccard_finds_exact_dup(spark):
    docs = _planted_docs(spark)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.99).collect()
    }
    assert pairs.get((0, 2000)) == 1.0


def test_simhash_near_dups_share_bucket(spark):
    docs = _planted_docs(spark)
    sims = {
        r["doc_id"]: (r["simhash"], r["bucket"])
        for r in simhash_buckets(docs).collect()
    }
    for i in range(10):
        h1, b1 = sims[i]
        h2, b2 = sims[1000 + i]
        hamming = bin((h1 ^ h2) & ((1 << 64) - 1)).count("1")
        assert hamming <= 8, (i, hamming)
    # exact dup: identical simhash and bucket
    assert sims[0] == sims[2000]


def test_simhash_pairs_recall_and_precision(spark):
    """The banded extractor returns EXACTLY the hamming<=k pairs: all
    10 planted near-dups (hamming 2-7 under seed 11), the exact dup at
    hamming 0, and its transitive closure — nothing else. bands=8
    (8-bit bands) makes recall guaranteed for k<=7 by pigeonhole."""
    from kg.dedup import simhash_pairs, simhash_signatures

    docs = _planted_docs(spark)
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(docs, k=7, bands=8).collect()
    }
    sims = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    ids = sorted(sims)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1")
            if h <= 7:
                expected[(a, b)] = h
    assert got == expected, (got, expected)
    for i in range(10):
        assert (i, 1000 + i) in got, i
    assert got[(0, 2000)] == 0


def test_signature_paths_bit_identical(spark):
    """minhash_signatures (pure Catalyst) and minhash_signatures_udf
    (Arrow hot path) share the with_shingle_hashes expression, so
    their signatures must be bit-identical on every doc with >= n
    tokens; short docs get the [P]*k sentinel from the UDF path."""
    from kg.dedup import MERSENNE_P, minhash_signatures_udf

    docs = _planted_docs(spark)
    short = spark.createDataFrame(
        [(9001, "one two", "en", "src0", 7), (9002, "", "en", "src0", 0)],
        docs.schema,
    )
    docs = docs.unionByName(short)
    cat = {r["doc_id"]: tuple(r["sig"]) for r in minhash_signatures(docs).collect()}
    udf = {r["doc_id"]: tuple(r["sig"]) for r in minhash_signatures_udf(docs).collect()}
    assert set(cat) <= set(udf)
    assert all(cat[d] == udf[d] for d in cat)
    assert udf[9001] == tuple([MERSENNE_P] * 32)
    assert udf[9002] == tuple([MERSENNE_P] * 32)


def test_neutral_hash_matches_python_md5(spark):
    """The engine-neutral hash (Spark conv/substr/md5) equals the
    straightforward Python int(md5(s).hexdigest()[:15], 16) — the same
    value the DuckDB oracle computes via ('0x'||substr(md5,1,15))."""
    import hashlib

    from kg.dedup import _neutral_hash64

    vals = ["hello", "a b c", "tok1 tok2 tok3", "", "Ünïcode tökens"]
    df = spark.createDataFrame([(s,) for s in vals], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", _neutral_hash64(F.col("s")).alias("h")).collect()
    }
    for s in vals:
        ref = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
        assert got[s] == ref, (s, got[s], ref)


def test_neutral_lsh_recalls_planted_near_dups(spark):
    """The neutral-hash LSH (the exact-oracled driver row) keeps the
    same recall gates as the xxhash64 hot path: all planted near-dups
    + the exact dup, and verified-jaccard precision."""
    docs = _planted_docs(spark)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=0.5, neutral=True).collect()
    }
    for i in range(10):
        assert (i, 1000 + i) in pairs, (i, pairs)
    assert pairs[(0, 2000)] == 1.0
    exact = _exact_jaccard(spark, docs)
    for a, b in pairs:
        assert exact.get((a, b), 0.0) >= 0.5


def test_neutral_simhash_matches_python_reference(spark):
    """Neutral simhash == an independent pure-Python md5 sign-sum
    reference, doc by doc (the same arithmetic the DuckDB oracle
    re-derives in SQL)."""
    import hashlib

    from kg.dedup import simhash_signatures

    docs = _planted_docs(spark, n_base=8)
    sims = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(docs, neutral=True).collect()
    }
    for row in docs.collect():
        acc = [0] * 64
        for t in row["text"].split():
            h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
            for b in range(64):
                acc[b] += 1 if (h >> b) & 1 else -1
        ref = sum(1 << b for b in range(64) if acc[b] > 0)
        assert sims[row["doc_id"]] == ref, row["doc_id"]


def test_stop_shingle_cap(spark):
    """A boilerplate shingle present in EVERY doc must be dropped from
    the inverted index once its posting list exceeds max_postings:
    unrelated docs sharing only the boilerplate produce no pair, while
    a planted near-dup pair still surfaces (its jaccard slightly
    underestimated because sizes are pre-cap). With the cap above the
    posting size, results equal the uncapped formulation."""
    boiler = "click here to subscribe now"
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    for i in range(40):
        toks = [rng.choice(vocab) for _ in range(30)]
        rows.append((i, boiler + " " + " ".join(toks), "en", "s", 0))
    # planted near-dup of doc 0 (differs by one token)
    t0 = rows[0][1].split()
    t0[15] = "CHANGED"
    rows.append((7000, " ".join(t0), "en", "s", 0))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_postings=8).collect()
    }
    assert (0, 7000) in capped
    # boilerplate-only overlaps never reach the join output
    assert all(a == 0 and b == 7000 for a, b in capped)
    # cap above every posting size == uncapped result
    uncapped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_postings=10**6).collect()
    }
    assert (0, 7000) in uncapped


def test_substring_dup_stats_planted_boilerplate(spark):
    """Three hand-built docs: A and B share an exact 6-token span, C
    is disjoint — the span's 5-gram positions (2 per doc) and nothing
    else must flag as duplicated."""
    from kg.dedup import substring_dup_stats

    span = "the quick brown fox jumps high"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {span} gamma"),
            (2, f"{span} delta epsilon zeta"),
            (3, "one two three four five six seven eight nine"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_frac"])
        for r in substring_dup_stats(docs, n=5).collect()
    }
    # doc1: 9 tokens -> 5 grams, grams at positions 3,4 are inside span
    assert got[1] == (5, 2, 0.4)
    assert got[2] == (5, 2, 0.4)
    assert got[3] == (5, 0, 0.0)


def test_substring_dup_stats_fixture_planted(spark):
    """On the documents fixture with the boilerplate planted into
    every 5th doc, every planted doc reports >= 4 duplicated grams
    (the 4 grams fully inside the 8-token boilerplate) and planted
    docs dominate the dup mass."""
    import pyspark.sql.functions as F

    from kg.dedup import SUBSTR_BOILER, substring_dup_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" " + SUBSTR_BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    rows = substring_dup_stats(docs).collect()
    planted = [r for r in rows if r["doc_id"] % 5 == 0]
    clean = [r for r in rows if r["doc_id"] % 5 != 0]
    assert planted and all(r["n_dup_grams"] >= 4 for r in planted)
    mean = lambda xs: sum(xs) / len(xs)
    assert mean([r["dup_frac"] for r in planted]) > mean(
        [r["dup_frac"] for r in clean]
    )


def test_substring_apply_strips_boilerplate_keeps_unique(spark):
    """The Lee et al. APPLY step: a boilerplate span shared by two
    docs is removed from BOTH (all copies dropped), every unique
    token survives, and a doc with no shared span is untouched."""
    from kg.dedup import SUBSTR_BOILER, SUBSTR_N, dedup_substring_apply

    boiler = SUBSTR_BOILER.split()  # 8 words >= SUBSTR_N
    assert len(boiler) >= SUBSTR_N
    u = [[f"u{d}t{i}" for i in range(6)] for d in range(3)]
    rows = [
        (0, " ".join(u[0][:3] + boiler + u[0][3:]), "en", "s", 0),
        (1, " ".join(boiler + u[1]), "en", "s", 0),
        (2, " ".join(u[2]), "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {r["doc_id"]: r for r in dedup_substring_apply(docs).collect()}

    assert got[0]["text_clean"] == " ".join(u[0][:3] + u[0][3:])
    assert got[1]["text_clean"] == " ".join(u[1])
    assert got[2]["text_clean"] == " ".join(u[2])
    assert got[0]["n_removed"] == len(boiler)
    assert got[1]["n_removed"] == len(boiler)
    assert got[2]["n_removed"] == 0
    assert got[0]["n_tokens"] == 6 + len(boiler)
