"""Structured Streaming: availableNow replay equals the batch answer."""

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def test_tumbling_equals_batch(spark):
    from kg.streaming import tumbling_daily_counts

    got = {
        (r["day"], r["event_type"]): r["n"]
        for r in tumbling_daily_counts(spark, SF).collect()
    }
    batch = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {(r["day"], r["event_type"]): r["n"] for r in batch.collect()}
    assert got == want


def test_session_counts_events_conserved(spark):
    from kg.streaming import session_counts

    rows = session_counts(spark, SF).collect()
    total_events = sum(r["n_events"] for r in rows)
    assert total_events == spark.read.parquet(f"{SF}/events.parquet").count()
    for r in rows:
        assert 1 <= r["n_sessions"] <= r["n_events"]


def test_stream_kg_mentions_equals_batch(spark):
    """The crossing's mentions mode over a file STREAM must produce
    byte-identical per-type counts and content checksums to the staged
    K1+M2-M7 chain run in batch — one kernel serves the stream, and it
    agrees with the independent staged implementation."""
    import pyspark.sql.functions as F

    from kg.fixtures import pages_from_documents
    from kg.pipeline import stage_extract, stage_mentions, stage_sentences
    from kg.streaming import stream_kg_mentions

    sf_dir = "/root/testdata/sf0.001"
    got = {
        r["ent_type"]: (r["n_mentions"], r["checksum"])
        for r in stream_kg_mentions(spark, sf_dir).collect()
    }
    batch = stage_mentions(
        stage_sentences(stage_extract(pages_from_documents(spark, sf_dir)))
    )
    want = {
        r["ent_type"]: (r["n_mentions"], r["checksum"])
        for r in batch.groupBy("ent_type")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.bit_xor(F.xxhash64("url", "sent_id", "begin")).alias("checksum"),
        )
        .collect()
    }
    assert got == want and len(got) >= 2, (got, want)


def test_stateful_totals_cross_batch_state(spark):
    """applyInPandasWithState: the raw update-mode sink must show
    cumulative per-key emissions ACROSS multiple micro-batches (state
    actually carried), and the final state must equal the batch
    aggregation exactly."""
    from kg.streaming import stateful_running_totals

    raw = stateful_running_totals(spark, SF, reduce=False).collect()
    # 4-file source, maxFilesPerTrigger=1: at least one key must have
    # emitted more than once, with strictly increasing running counts
    by_key = {}
    for r in raw:
        by_key.setdefault(r["event_type"], []).append((r["n"], r["value_c"]))
    assert any(len(v) > 1 for v in by_key.values()), "state never crossed a batch"
    for k, emis in by_key.items():
        ns = sorted(n for n, _ in emis)
        assert ns == [n for n, _ in sorted(emis)] and len(set(ns)) == len(ns), (
            k,
            emis,
        )

    got = {
        r["event_type"]: (r["n"], r["value_c"])
        for r in stateful_running_totals(spark, SF).collect()
    }
    batch = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"),
        )
    )
    want = {r["event_type"]: (r["n"], r["value_c"]) for r in batch.collect()}
    assert got == want


def test_stream_stream_join_crosses_batches(spark):
    """The purchase-click attribution join must equal the batch join
    AND at least one matched pair must span two replay files — proof
    the buffered join state survived a micro-batch boundary. Runs at
    sf0.01 (the driver's scale): sf0.001's five pairs are all
    time-adjacent and land in the same replay slice at ANY file
    count (measured), so only the larger fixture exercises the
    cross-batch property."""
    from kg.streaming import (
        STATEFUL_N_FILES,
        stream_stream_purchase_clicks,
    )

    sf01 = "/root/testdata/sf0.01"
    got = {
        (r["p_event_id"], r["c_event_id"])
        for r in stream_stream_purchase_clicks(spark, sf01).collect()
    }
    ev = spark.read.parquet(f"{sf01}/events.parquet")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    want_rows = (
        p.join(
            c,
            (F.col("user_id") == F.col("cu"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") <= F.col("p_ts")),
        )
        .select("p_id", "c_id", "p_ts", "c_ts")
        .collect()
    )
    assert got == {(r["p_id"], r["c_id"]) for r in want_rows}
    assert got, "fixture produced no purchase-click pairs"

    # recompute the replay's ntile slice per event: some pair must
    # span two slices (= two micro-batches)
    from pyspark.sql import Window

    sliced = ev.withColumn(
        "_slice", F.ntile(STATEFUL_N_FILES).over(Window.orderBy("ts", "event_id"))
    )
    slice_of = {r["event_id"]: r["_slice"] for r in sliced.select("event_id", "_slice").collect()}
    assert any(slice_of[p_] != slice_of[c_] for p_, c_ in got), (
        "no matched pair spans a batch boundary — cross-batch state untested"
    )


def test_stream_static_join_equals_batch(spark):
    from kg.streaming import stream_static_segment_counts

    got = {
        r["c_mktsegment"]: (r["n"], r["value_c"])
        for r in stream_static_segment_counts(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet")
    dim = spark.read.parquet(f"{SF}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch = (
        ev.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"),
        )
    )
    want = {r["c_mktsegment"]: (r["n"], r["value_c"]) for r in batch.collect()}
    assert got == want


def test_foreachbatch_upsert_idempotent_replay(spark, tmp_path):
    """Re-applying an already-applied micro-batch must leave the
    target byte-for-byte unchanged — both via the batch-id log
    (skip) and via the merge itself (total-order SCD-1 is a no-op
    on replayed rows even WITHOUT the log, the crash-between-swap-
    and-log case)."""
    import os

    import pyspark.sql.functions as F

    from kg.streaming import (
        _batch_projection,
        read_upsert_target,
        upsert_batch_into_parquet,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    tgt = str(tmp_path / "tgt")
    log = str(tmp_path / "log")
    os.makedirs(log)

    def checksum():
        return (
            read_upsert_target(spark, tgt)
            .agg(
                F.bit_xor(
                    F.xxhash64("user_id", "event_type", "ts", "value_c", "event_id")
                ).alias("h"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )

    assert upsert_batch_into_parquet(b0, 0, tgt, log) is True
    assert upsert_batch_into_parquet(b1, 1, tgt, log) is True
    after_both = checksum()

    # replay via the log: skipped, unchanged
    assert upsert_batch_into_parquet(b1, 1, tgt, log) is False
    assert checksum() == after_both

    # replay WITHOUT the log entry (crash-after-swap scenario):
    # the merge re-applies but the SCD-1 result is identical
    os.remove(os.path.join(log, "1.done"))
    assert upsert_batch_into_parquet(b1, 1, tgt, log) is True
    assert checksum() == after_both

    # and the target really is newest-per-key over everything seen
    from kg.streaming import _scd1_merge

    expect = _scd1_merge(
        _batch_projection(b0), _batch_projection(b1)
    )
    got = read_upsert_target(spark, tgt)
    assert got.count() == expect.count()
    assert (
        got.exceptAll(expect).count() == 0
        and expect.exceptAll(got).count() == 0
    )

    # crash-window safety: a fully-written but UNCOMMITTED version
    # (crash before the pointer moved) must be invisible — CURRENT
    # still names a complete committed state
    orphan = tmp_path / "tgt" / "v99_deadbeef"
    _batch_projection(b0.limit(1)).write.parquet(str(orphan))
    assert checksum() == after_both


def test_neardup_gate_flags_exact_copies(spark):
    """The ingest gate must flag every exact copy in ALL 8 bands (an
    identical doc has an identical signature), and the map-only band
    form the stream side uses must be bit-identical to the batch
    signature path (same shingle hashes, same permutations)."""
    import pyspark.sql.functions as F

    from kg.dedup import minhash_band_buckets_maponly, minhash_signatures_udf
    from kg.relational import ws_tokens
    from kg.streaming import (
        STREAM_GATE_OFFSET,
        stream_neardup_gate_counts,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")

    # map-only bands == batch-path bands (reconstructed from the
    # aggregated neutral signatures with the same band key). Scope
    # the equality to SHINGLED docs (>= 3 tokens): the signature UDF
    # emits a [P]*k sentinel for shorter docs while the map-only form
    # emits no bands for them — both gate-consistent, but the raw set
    # equality would be fixture-fragile (ADVICE r6).
    rpb = 32 // 8
    shingled = docs.filter(F.size(ws_tokens(F.col("text"))) >= 3)
    sigs = minhash_signatures_udf(shingled, 3, 32, 42, neutral=True)
    batch_bands = set()
    for r in sigs.collect():
        for bi in range(8):
            batch_bands.add(
                (
                    r["doc_id"],
                    bi,
                    ",".join(
                        str(v) for v in r["sig"][bi * rpb : (bi + 1) * rpb]
                    ),
                )
            )
    map_bands = {
        (r["doc_id"], r["band"], r["bucket"])
        for r in minhash_band_buckets_maponly(docs).collect()
    }
    assert map_bands == batch_bands

    got = {
        r["doc_id"]: r["n_hit_bands"]
        for r in stream_neardup_gate_counts(spark, sf).collect()
    }
    copies = {
        r["doc_id"] + STREAM_GATE_OFFSET
        for r in docs.filter(
            (F.col("doc_id") % 3 == 0) & (F.size(ws_tokens(F.col("text"))) >= 3)
        ).collect()
    }
    assert copies, "fixture has no eligible exact copies"
    for c in copies:
        assert got.get(c) == 8, f"exact copy {c} not flagged in all bands"
    # the reversed variants must not ALL collide — the gate separates
    n_stream = docs.filter(F.size(ws_tokens(F.col("text"))) >= 3).count()
    assert len(got) < n_stream, "every incoming doc flagged — gate is vacuous"
