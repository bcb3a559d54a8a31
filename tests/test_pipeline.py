"""End-to-end gates (BASELINE.json:2,14): triple P/R vs gold, exact
parity vs the frozen single-node oracle, resume equality, salting."""

import json
import os
import shutil

import pyspark.sql.functions as F
import pytest

from kg import fixtures as FX
from kg.pipeline import run_pipeline, salt_repartition


def _triple_set(df):
    return {
        (r["subj"], r["pred"], r["obj"], r["url"], r["sent_id"])
        for r in df.select("subj", "pred", "obj", "url", "sent_id").collect()
    }


def _gold_set(spark, n, noise):
    _, gt = FX.gen_gold(spark, n, seed=42, noise=noise)
    return {
        (r["subj_entity"], r["pred"], r["obj_entity"], r["url"], r["sent_id"])
        for r in gt.collect()
    }


def test_clean_triples_exact_vs_gold(spark, clean_result):
    got = _triple_set(clean_result["triples"])
    want = _gold_set(spark, 100, 0.0)
    assert got == want, (
        f"missing={list(want - got)[:5]} extra={list(got - want)[:5]}"
    )


def test_clean_triples_exact_vs_frozen_oracle(spark, clean_pages):
    """Reference-semantics parity: the distributed pipeline reproduces
    the frozen single-node oracle exactly on clean text (the
    operational form of 'matches the reference's emitted triples')."""
    from tests.oracle.kg_frozen import FrozenOracle

    pages = [
        {"url": r["url"], "html": bytes(r["html"])}
        for r in clean_pages.select("url", "html").collect()
    ]
    want = FrozenOracle().triples(pages)
    from kg.pipeline import run_pipeline

    res = run_pipeline(
        spark, clean_pages, FX.aliases_df(spark), FX.entity_vecs_df(spark)
    )
    got = _triple_set(res["triples"])
    assert got == want, (
        f"missing={list(want - got)[:5]} extra={list(got - want)[:5]}"
    )


def test_noisy_triples_pr_gate(spark):
    pages = FX.gen_pages(spark, 150, seed=42, noise=0.03)
    res = run_pipeline(
        spark, pages, FX.aliases_df(spark), FX.entity_vecs_df(spark)
    )
    got = _triple_set(res["triples"])
    want = _gold_set(spark, 150, 0.03)
    tp = len(got & want)
    precision = tp / len(got)
    recall = tp / len(want)
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall


def test_resume_equality_after_partial_kill(spark, clean_pages, clean_result):
    """X2: deleting downstream stages and rerunning reproduces the
    identical triple set (kill-and-resume, SURVEY.md §5 layer 4)."""
    root = clean_result["_root"]
    before = _triple_set(clean_result["triples"])
    shutil.rmtree(os.path.join(root, "triples"))
    res2 = run_pipeline(
        spark,
        clean_pages,
        FX.aliases_df(spark),
        FX.entity_vecs_df(spark),
        checkpoint_root=root,
    )
    skipped = {e["stage"] for e in res2["_orchestrator"].log if e["skipped"]}
    assert {"matched_pairs", "components"} <= skipped
    assert "triples" not in skipped
    assert _triple_set(res2["triples"]) == before


def test_old_components_checkpoint_names_stage_rerun(spark, tmp_path):
    """A `components` table in the older (id, component) schema, read
    back on resume, fails with a ValueError that says how to rebuild
    it, not inside the link join."""
    from kg import io
    from kg.pipeline import stage_components

    root = str(tmp_path / "kg")
    io.write_table(stage_components(FX.aliases_df(spark)), os.path.join(root, "components"))
    pages = FX.gen_pages(spark, 5, seed=42, noise=0.0)
    with pytest.raises(ValueError, match="--stage components"):
        run_pipeline(
            spark, pages, FX.aliases_df(spark), FX.entity_vecs_df(spark),
            checkpoint_root=root,
        )


def test_lineage_metrics_written(spark, clean_result):
    m = clean_result["_orchestrator"].metrics()
    assert m is not None
    rows = m.collect()
    stages = {r["stage"] for r in rows}
    assert {"matched_pairs", "components", "triples"} <= stages
    for r in rows:
        assert r["output_rows"] >= 0
        assert r["wall_ms"] > 0


def test_salting_preserves_multiset(spark, clean_pages):
    """X1: salted repartition is a pure repartition — row multiset
    unchanged, hot-host rows spread across many partitions."""
    df = clean_pages.select("url", "lang").withColumn(
        "_host", F.regexp_extract("url", r"^https?://([^/]+)/", 1)
    )
    salted = salt_repartition(df, "_host", buckets=8, num_partitions=16)
    assert salted.count() == df.count()
    assert (
        salted.groupBy("url").count().filter(F.col("count") != 1).count() == 0
    )
    hot = salted.filter(F.col("_host") == "hot.example.com").select(
        F.spark_partition_id().alias("pid")
    )
    n_parts = hot.distinct().count()
    assert n_parts >= 4, f"hot host only spread over {n_parts} partitions"


def _staged_triples(pages, aliases, evecs, comps):
    """The staged K1..K8 composition: the oracle for the turbo plan."""
    from kg.pipeline import (
        stage_extract,
        stage_linked,
        stage_mentions,
        stage_sentences,
        stage_triples,
        stage_triples_raw,
    )

    sents = stage_sentences(stage_extract(pages))
    return stage_triples(
        stage_triples_raw(stage_linked(stage_mentions(sents), aliases, evecs)), comps
    )


def test_turbo_triples_equal_staged_composition(spark, tmp_path):
    """r7: the one-crossing turbo plan with a separate K8 step, the
    lazy run_pipeline that links against the compiled dictionary, and
    the checkpointed run that stages it as matched_pairs -> components
    -> triples, must all produce exactly the staged K1..K8
    composition's rows — on clean AND noise-injected pages (corrupted
    surfaces, shifted spans)."""
    from kg.pipeline import stage_components, stage_triples, turbo_triples_raw

    cols = ["subj", "pred", "obj", "url", "sent_id", "confidence"]
    aliases, evecs = FX.aliases_df(spark), FX.entity_vecs_df(spark)
    comps = stage_components(aliases)
    for noise in (0.0, 0.05):
        pages = FX.gen_pages(spark, 150, seed=11, noise=noise)
        staged = _staged_triples(pages, aliases, evecs, comps)
        turbo = stage_triples(turbo_triples_raw(pages, aliases, evecs), comps)
        ckpt = run_pipeline(
            spark, pages, aliases, evecs, checkpoint_root=str(tmp_path / f"n{noise}")
        )["triples"]
        # a passed component map is accepted and ignored (perfbench's
        # kg_lazy call passes one)
        lazy = run_pipeline(spark, pages, aliases, evecs, components=comps)["triples"]
        a = set(map(tuple, staged.select(cols).collect()))
        b = set(map(tuple, turbo.select(cols).collect()))
        c = set(map(tuple, ckpt.select(cols).collect()))
        d = set(map(tuple, lazy.select(cols).collect()))
        assert a == b, f"noise={noise}: {len(a)} staged vs {len(b)} turbo"
        assert a == c, f"noise={noise}: {len(a)} staged vs {len(c)} checkpointed"
        assert b == d, f"noise={noise}: {len(b)} turbo vs {len(d)} lazy"


def test_null_html_row_changes_no_triples(spark, clean_pages):
    """A payload-less page (null html) neither fails the job nor adds
    triples, on the lazy run_pipeline and on the staged composition."""
    from kg.pipeline import stage_components

    null_page = spark.createDataFrame(
        [("https://null.example.com/p", None, None, None, "en")],
        FX.PAGES_SCHEMA,
    )
    pages = clean_pages.unionByName(null_page)
    aliases, evecs = FX.aliases_df(spark), FX.entity_vecs_df(spark)
    want = _triple_set(run_pipeline(spark, clean_pages, aliases, evecs)["triples"])
    lazy = run_pipeline(spark, pages, aliases, evecs)["triples"]
    assert _triple_set(lazy) == want
    staged = _staged_triples(pages, aliases, evecs, stage_components(aliases))
    assert _triple_set(staged) == want


_LIST_SHAPES = [
    ("PER", "works at", "ORG"),
    ("PER", "visited", "LOC"),
    ("ORG", "is based in", "LOC"),
    ("PER", "met", "PER"),
]


def _list_page_html(n_pairs, seed):
    """A one-sentence page naming 2 * n_pairs registry surfaces: each
    pair joined by a relation rule's words, pairs separated by commas,
    so span gaps fall on both sides of the widest rule."""
    import random
    from html import escape

    by_type = FX._registry_by_type()
    rng = random.Random(seed)
    words = []
    for k in range(n_pairs):
        subj, between, obj = rng.choice(_LIST_SHAPES)
        if k:
            words.append(",")
        words += rng.choice(by_type[subj])["surface"].split()
        words += between.split()
        words += rng.choice(by_type[obj])["surface"].split()
    sentence = escape(" ".join(words + ["."]))
    return f"<html><body><p>{sentence}</p></body></html>".encode()


def test_long_sentence_turbo_equals_staged(spark):
    """The crossing's pair loop stops once a span gap exceeds the
    widest rule; on a ~300-span sentence its triples still equal the
    staged composition's, which pairs every span."""
    import pandas as pd

    from kg.pipeline import stage_components, stage_triples, turbo_triples_raw

    pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"https://lists.example.net/l/{s}" for s in (1, 2)],
                "warc_ts": [None, None],
                "html": [_list_page_html(150, seed=s) for s in (1, 2)],
                "text": [None, None],
                "lang": ["en", "en"],
            }
        ),
        FX.PAGES_SCHEMA,
    )
    aliases, evecs = FX.aliases_df(spark), FX.entity_vecs_df(spark)
    comps = stage_components(aliases)
    staged = _triple_set(_staged_triples(pages, aliases, evecs, comps))
    turbo = _triple_set(
        stage_triples(turbo_triples_raw(pages, aliases, evecs), comps)
    )
    assert len(staged) > 100
    assert turbo == staged


def test_kernel_mentions_equal_staged(spark):
    """The crossing's mentions mode equals the staged K1+M2-M7 chain
    less its words, as a multiset over every column (mention_id
    included) and with the same column types: on fixture pages, clean
    and noisy, plus a null-html row, the long-sentence list pages and
    a page whose surfaces are not ASCII."""
    from collections import Counter

    import pandas as pd

    from kg.pipeline import mentions, stage_extract, stage_mentions, stage_sentences

    accents = (
        "<p>Alind\u00e1 Marchetti works at Bramblec\u00f6re Labs .</p>"
        "<p>Brinev\u00e1le met Cedrik\u6771 Sablethorn .</p>"
    ).encode()
    urls = ["https://x.example/null", "https://x.example/accents"] + [
        f"https://lists.example.net/l/{s}" for s in (1, 2)
    ]
    odd = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": urls,
                "warc_ts": [None] * 4,
                "html": [None, accents] + [_list_page_html(150, seed=s) for s in (1, 2)],
                "text": [None] * 4,
                "lang": ["en"] * 4,
            }
        ),
        FX.PAGES_SCHEMA,
    )
    for noise in (0.0, 0.05):
        pages = FX.gen_pages(spark, 150, seed=11, noise=noise).unionByName(odd)
        staged = stage_mentions(stage_sentences(stage_extract(pages))).drop("words")
        kernel = mentions(pages)
        assert kernel.dtypes == staged.dtypes
        want = Counter(map(tuple, staged.collect()))
        got = Counter(map(tuple, kernel.collect()))
        assert got == want, f"noise={noise}: {len(got)} kernel vs {len(want)} staged"
        surfaces = {r[6] for r in got if r[0] == "https://x.example/accents"}
        assert sum(not s.isascii() for s in surfaces) >= 3, surfaces
        assert sum(n for r, n in got.items() if r[0].startswith("https://lists.")) > 300


def test_long_sentence_crossing_is_bounded():
    """A ~1500-span sentence costs the crossing milliseconds, not the
    O(spans^2 x gap) of an unbounded pair loop (~50 s), and every
    rule-joined pair still matches."""
    import time

    import pandas as pd

    from kg.pipeline import _matched_pairs_gen

    batch = pd.DataFrame({"url": ["u"], "html": [_list_page_html(750, seed=3)]})
    t0 = time.monotonic()
    out = pd.concat(list(_matched_pairs_gen(iter([batch]))))
    elapsed = time.monotonic() - t0
    assert len(out) == 750
    assert elapsed < 10, f"{elapsed:.1f} s"


def test_python_split_twins_match_catalyst(spark):
    """r7: split_sentences_py (used inside the turbo UDF) must equal
    the Catalyst sentence/word split per (url, sent_id) — including
    posexplode position semantics — on clean and noisy text."""
    from kg.pipeline import split_sentences_py, stage_extract, stage_sentences

    for noise in (0.0, 0.05):
        pages = FX.gen_pages(spark, 120, seed=23, noise=noise)
        text = stage_extract(pages)
        want = {
            (r["url"], r["sent_id"]): list(r["words"])
            for r in stage_sentences(text)
            .select("url", "sent_id", "words")
            .collect()
        }
        got = {}
        for r in text.select("url", "text").collect():
            for sid, words in split_sentences_py(r["text"]):
                got[(r["url"], sid)] = words
        assert got == want


def test_columnar_split_equals_python_split_fuzz():
    """The kernel's batch-wide sentence/word split equals
    split_sentences_py, sent_id positions included, on 20k seeded
    strings of ASCII whitespace, .!? runs, whitespace that Java's \\s
    does not match and unicode letters."""
    import random

    import pyarrow as pa

    from kg.pipeline import _split_columnar, split_sentences_py

    rng = random.Random(5)
    parts = [
        " ", "  ", "\t", "\n", "\n\n", "\x0b", "\x0c", "\r", "\r\n", " \n ",
        ".", "!", "?", "...", "?!", ". ", ".\n",
        "\xa0", "\x85", "\u2028", "\u3000", "\x1c",
        "a", "Bob", "works", "é", "Ünïcode", "東京", "слово", "x.y",
    ]
    texts = [
        "".join(rng.choice(parts) for _ in range(rng.randint(0, 14)))
        for _ in range(20_000)
    ]
    page, sent_id, words = _split_columnar(pa.array(texts, pa.string()))
    got = [[] for _ in texts]
    for p, s, w in zip(page.tolist(), sent_id.tolist(), words.to_pylist()):
        got[p].append((s, w))
    for text, sents in zip(texts, got):
        assert sents == split_sentences_py(text), repr(text)


def _reference_rows(batch):
    """The crossing's rows as a per-sentence loop: split_sentences_py,
    tags_of, decode_bio, then every i < j span pair in order, with the
    rule lookup on the lower-cased words between them. The loop stops
    at the first pair wider than the widest rule, which drops no match
    (test_long_sentence_turbo_equals_staged)."""
    from kg.extract import extract_text_auto
    from kg.ner.bio import decode_bio
    from kg.ner.model import _Model
    from kg.pipeline import split_sentences_py
    from kg.relations import CONFIDENCE_THRESHOLD, MAX_RULE_WORDS, RELATION_RULES

    model = _Model.get()
    rules = {t: (p, c) for t, p, c in RELATION_RULES}
    rows = []
    for url, html in zip(batch["url"], batch["html"]):
        for sid, words in split_sentences_py(extract_text_auto(html)):
            spans = decode_bio(model.tags_of([words])[0])
            for i, (_, b1, e1) in enumerate(spans):
                for _, b2, e2 in spans[i + 1 :]:
                    if b2 - e1 > MAX_RULE_WORDS:
                        break
                    rule = rules.get(" ".join(words[e1:b2]).lower())
                    if rule is None or rule[1] < CONFIDENCE_THRESHOLD:
                        continue
                    rows.append(
                        (url, sid, " ".join(words[b1:e1]), " ".join(words[b2:e2]))
                        + rule
                    )
    return rows


def test_kernel_rows_equal_per_sentence_reference(spark, monkeypatch):
    """The columnar kernel yields the per-sentence reference's rows in
    the same order: on 300 fixture pages, clean and noisy, plus a
    750-span list page, a null-html row, an empty page, a page of
    punctuation and whitespace only and a rule whose words hold a
    non-ASCII capital; in one slice and cut into slices
    of 7 pages. Then on a sentence whose first match skips a span."""
    import pandas as pd

    from kg import pipeline as P

    # the Kelvin sign is not ASCII, but str.lower maps it to "k"
    kelvin = "<p>Alinda Marchetti WOR\u212aS AT Novari Labs .</p>".encode()
    odd = pd.DataFrame(
        {
            "url": ["https://x.example/list", "https://x.example/null",
                    "https://x.example/empty", "https://x.example/punct",
                    "https://x.example/kelvin"],
            "html": [_list_page_html(750, seed=3), None, b"",
                     b"<p> . ! ?\n\t.. ?! </p><div>.</div>", kelvin],
        }
    )
    for noise in (0.0, 0.05):
        pages = FX.gen_pages(spark, 300, seed=31, noise=noise)
        batch = pd.concat(
            [pages.select("url", "html").toPandas(), odd], ignore_index=True
        )
        want = _reference_rows(batch)
        assert len(want) > 750
        assert want[-1][0] == "https://x.example/kelvin"
        for slice_pages in (P.KERNEL_SLICE_PAGES, 7):
            monkeypatch.setattr(P, "KERNEL_SLICE_PAGES", slice_pages)
            out = pd.concat(list(P._matched_pairs_gen(iter([batch]))))
            got = list(out.itertuples(index=False, name=None))
            assert got == want, f"noise={noise} slice={slice_pages}"

    # a tag the fixture tagger never gives: "at" as a location puts a
    # span inside "works at", so the first match skips a span (j = i + 2)
    # and must still come out before the adjacent match after it
    from kg.ner.model import _Model

    monkeypatch.setitem(_Model.get()._word_tag, "at", "B-LOC")
    html = b"<p>Alinda Marchetti works at Novari Labs , Borvan Varek met Cedrik Sablethorn .</p>"
    batch = pd.DataFrame({"url": ["https://x.example/skip"], "html": [html]})
    want = _reference_rows(batch)
    assert [r[3] for r in want] == ["Novari Labs", "Cedrik Sablethorn"]
    out = pd.concat(list(P._matched_pairs_gen(iter([batch]))))
    assert list(out.itertuples(index=False, name=None)) == want


def test_main_stage_rerun_relinks_without_crossing(spark, tmp_path, capsys):
    """main.py end to end, in process (build_session's getOrCreate
    returns the test session): a plain run, then `--stage components`
    recomputes components and triples from the stored matched_pairs,
    with the same triples count. A removed stage name is an argparse
    error."""
    import main

    argv = ["--n-pages", "100", "--out", str(tmp_path / "kg")]

    def run(*extra):
        assert main.main(argv + list(extra)) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # getOrCreate applies build_session's SQL defaults to the shared
    # session; restore the fixture's shuffle sizing for later tests
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        first = run()
        second = run("--stage", "components")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
    assert [e["stage"] for e in first["stages"]] == main.STAGE_ORDER
    assert not any(e["skipped"] for e in first["stages"])
    skipped = {e["stage"]: e["skipped"] for e in second["stages"]}
    assert skipped == {"matched_pairs": True, "components": False, "triples": False}
    assert second["triples"] == first["triples"] > 0

    with pytest.raises(SystemExit) as exc:
        main.main(argv + ["--stage", "mentions"])
    assert exc.value.code == 2
    assert "invalid choice: 'mentions'" in capsys.readouterr().err
