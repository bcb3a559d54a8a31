"""Deterministic synthetic `pages` fixture + gold tables (FIXTURES.md §2).

Shape is the authoritative input_hint (BASELINE.json:15):

    pages(url: string, warc_ts: timestamp, html: binary,
          text: string, lang: string)

Generation is **distributed and deterministic**: a pure function of
(row index, seed) evaluated inside ``mapInPandas`` over
``spark.range(n)`` — no driver-side collect, so the bench fixture
(~50k pages) and any larger scale generate in parallel. The same
per-index function yields the gold tables (mentions, triples), so
gold and pages always agree.

`text` is constructed directly from the sentence blocks (NOT by
running the extractor), so the byte-identity test
extract(html) == text is a genuine two-sided check of K1.

Skew: one hot host carries ~30% of urls (Zipf-ish pool), exercising
the salted repartitioning path (SURVEY.md §2.B X1).
"""

from __future__ import annotations

import random
from collections.abc import Iterator
from datetime import datetime, timedelta
from html import escape

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from kg.ner import vocab as V

BASE_TS = datetime(2024, 3, 1, 0, 0, 0)
LANGS = ["en", "fr", "es", "de", "zh"]
LANG_W = [0.55, 0.15, 0.12, 0.10, 0.08]

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)
GOLD_MENTIONS_SCHEMA = (
    "url string, sent_id int, ent_type string, begin int, end int, surface string"
)
GOLD_TRIPLES_SCHEMA = (
    "subj_entity long, pred string, obj_entity long, url string, sent_id int"
)

# predicate per template; K6's pattern rules must reproduce these
PRED_WORKS_FOR = "works_for"
PRED_VISITED = "visited"
PRED_BASED_IN = "based_in"
PRED_MET = "met"


def _registry_by_type() -> dict[str, list[dict]]:
    by = {"PER": [], "ORG": [], "LOC": []}
    for e in V.entity_registry():
        by[e["ent_type"]].append(e)
    return by


def _corrupt(word: str, rng: random.Random) -> str:
    """Typo-corrupt one char (noise injection: the NER scorer should
    miss these, pushing pipeline-vs-gold recall below 1.0)."""
    i = rng.randrange(len(word))
    return word[:i] + "q" + word[i + 1 :]


def _sentence_records(
    rng: random.Random, noise: float, by_type: dict[str, list[dict]]
) -> tuple[str, list[dict], list[dict]]:
    """One sentence: returns (sentence_text, mention_rows, triple_rows)
    with word-position spans. Rows lack url/sent_id (caller fills)."""
    kind = rng.random()
    mentions: list[dict] = []
    triples: list[dict] = []

    def span(ent: dict, words: list[str], surface: str) -> None:
        begin = len(words)
        mentions.append(
            {
                "ent_type": ent["ent_type"],
                "begin": begin,
                "end": begin + len(surface.split()),
                "surface": surface,
            }
        )

    words: list[str] = []
    if kind < 0.45:  # filler sentence, no entities
        n = rng.randint(6, 12)
        words = [rng.choice(V.FILLER_WORDS) for _ in range(n)]
    else:
        t = rng.randint(1, 4)
        if t == 1:  # PER works at ORG
            per = rng.choice(by_type["PER"])
            org = rng.choice(by_type["ORG"])
            span(per, words, per["surface"])
            words += per["surface"].split()
            words += ["works", "at"]
            span(org, words, org["surface"])
            words += org["surface"].split()
            triples.append(
                {
                    "subj_entity": per["gold_component"],
                    "pred": PRED_WORKS_FOR,
                    "obj_entity": org["gold_component"],
                }
            )
        elif t == 2:  # PER visited LOC
            per = rng.choice(by_type["PER"])
            loc = rng.choice(by_type["LOC"])
            span(per, words, per["surface"])
            words += per["surface"].split()
            words += ["visited"]
            span(loc, words, loc["surface"])
            words += loc["surface"].split()
            words += ["last", "spring"]
            triples.append(
                {
                    "subj_entity": per["gold_component"],
                    "pred": PRED_VISITED,
                    "obj_entity": loc["gold_component"],
                }
            )
        elif t == 3:  # ORG (sometimes stem-only surface) is based in LOC
            org = rng.choice(by_type["ORG"])
            loc = rng.choice(by_type["LOC"])
            surface = (
                org["surface"].split()[0]
                if rng.random() < 0.3
                else org["surface"]
            )
            span({"ent_type": "ORG"}, words, surface)
            words += surface.split()
            words += ["is", "based", "in"]
            span(loc, words, loc["surface"])
            words += loc["surface"].split()
            triples.append(
                {
                    "subj_entity": org["gold_component"],
                    "pred": PRED_BASED_IN,
                    "obj_entity": loc["gold_component"],
                }
            )
        else:  # PER met PER2
            per1 = rng.choice(by_type["PER"])
            per2 = rng.choice(by_type["PER"])
            while per2["entity_id"] == per1["entity_id"]:
                per2 = rng.choice(by_type["PER"])
            span(per1, words, per1["surface"])
            words += per1["surface"].split()
            words += ["met"]
            span(per2, words, per2["surface"])
            words += per2["surface"].split()
            words += ["yesterday"]
            triples.append(
                {
                    "subj_entity": per1["gold_component"],
                    "pred": PRED_MET,
                    "obj_entity": per2["gold_component"],
                }
            )
        if noise > 0 and rng.random() < noise and mentions:
            # corrupt one word of one entity span in the rendered text;
            # gold keeps the intended span (recall hit by design)
            m = rng.choice(mentions)
            pos = rng.randrange(m["begin"], m["end"])
            words[pos] = _corrupt(words[pos], rng)
    words.append(".")
    return " ".join(words), mentions, triples


def page_record(i: int, seed: int = 42, noise: float = 0.0) -> dict:
    """Pure deterministic generator for page #i: page columns + gold."""
    rng = random.Random((seed << 32) ^ i)
    by_type = _registry_by_type()
    hot = rng.random() < 0.30
    host = "hot.example.com" if hot else f"site{rng.randint(0, 18)}.example.org"
    url = f"https://{host}/p/{i}"
    warc_ts = BASE_TS + timedelta(seconds=rng.randint(0, 30 * 86400))
    lang = rng.choices(LANGS, weights=LANG_W, k=1)[0]
    title = " ".join(rng.choice(V.FILLER_WORDS) for _ in range(3))

    n_sent = rng.randint(3, 8)
    sentences: list[str] = []
    gold_mentions: list[dict] = []
    gold_triples: list[dict] = []
    for s in range(n_sent):
        sent, ms, ts_ = _sentence_records(rng, noise, by_type)
        # sent_id layout in extracted text: block 0 = <title>,
        # block 1 = <h1> (same title), sentences start at 2,
        # final block = footer.
        sid = s + 2
        sentences.append(sent)
        for m in ms:
            gold_mentions.append({"url": url, "sent_id": sid, **m})
        for t in ts_:
            gold_triples.append({**t, "url": url, "sent_id": sid})

    # html: entity-encode + inject collapsible whitespace so the
    # extractor has real work to do; text = expected extraction output
    def render_sentence(s: str) -> str:
        h = escape(s)
        if rng.random() < 0.4:  # double spaces collapse back to one
            h = h.replace(" ", "  ", 1)
        return h

    body = "".join(f"<p>{render_sentence(s)}</p>" for s in sentences)
    html = (
        f'<html><head><meta charset="utf-8"><script>var x={i};</script>'
        f"<style>p{{margin:0}}</style><title>{escape(title)}</title></head>"
        f"<body><!-- page {i} --><h1>{escape(title)}</h1>{body}"
        f'<div class="footer">crawl footer</div></body></html>'
    )
    text = "\n".join([title, title] + sentences + ["crawl footer"])
    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": html.encode("utf-8"),
        "text": text,
        "lang": lang,
        "gold_mentions": gold_mentions,
        "gold_triples": gold_triples,
    }


# ------------------------------------------------------- Spark builders


def gen_pages(
    spark: SparkSession, n: int, seed: int = 42, noise: float = 0.0
) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            recs = [page_record(int(i), seed, noise) for i in b["id"]]
            yield pd.DataFrame(
                {
                    "url": [r["url"] for r in recs],
                    "warc_ts": [r["warc_ts"] for r in recs],
                    "html": [r["html"] for r in recs],
                    "text": [r["text"] for r in recs],
                    "lang": [r["lang"] for r in recs],
                }
            )

    part = max(1, min(n // 256 or 1, 256))
    return spark.range(0, n, numPartitions=part).mapInPandas(gen, PAGES_SCHEMA)


def gen_gold(
    spark: SparkSession, n: int, seed: int = 42, noise: float = 0.0
) -> tuple[DataFrame, DataFrame]:
    """(gold_mentions, gold_triples) for the same (n, seed, noise)."""

    def gen_m(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [
                m
                for i in b["id"]
                for m in page_record(int(i), seed, noise)["gold_mentions"]
            ]
            yield pd.DataFrame(
                rows,
                columns=["url", "sent_id", "ent_type", "begin", "end", "surface"],
            )

    def gen_t(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [
                t
                for i in b["id"]
                for t in page_record(int(i), seed, noise)["gold_triples"]
            ]
            yield pd.DataFrame(
                rows,
                columns=["subj_entity", "pred", "obj_entity", "url", "sent_id"],
            )

    part = max(1, min(n // 256 or 1, 256))
    rng_df = spark.range(0, n, numPartitions=part)
    return (
        rng_df.mapInPandas(gen_m, GOLD_MENTIONS_SCHEMA),
        rng_df.mapInPandas(gen_t, GOLD_TRIPLES_SCHEMA),
    )


def aliases_df(spark: SparkSession) -> DataFrame:
    """K3 broadcast side: aliases(alias, entity_id, prior)."""
    return spark.createDataFrame(
        pd.DataFrame(V.alias_rows(), columns=["alias", "entity_id", "prior"]),
        schema="alias string, entity_id long, prior double",
    )


def entity_vecs_df(spark: SparkSession) -> DataFrame:
    """K4 side input: entity_vecs(entity_id, embedding float[64]).

    Built FROM A PANDAS FRAME, not a row list: the pandas+Arrow
    createDataFrame path plans a LocalTableScan (rows live in the
    JVM), while the row-list path plans an ExistingRDD whose every
    consumer launches a Python-worker deserialization job (measured
    0.33 s vs 0.05 s per toPandas at 65 rows; same values, asserted
    in tests). aliases_df above already took this path."""
    rows = [
        {
            "entity_id": e["entity_id"],
            "embedding": [float(x) for x in V.surface_embedding(e["surface"])],
        }
        for e in V.entity_registry()
    ]
    pdf = pd.DataFrame(
        {
            "entity_id": pd.Series([r["entity_id"] for r in rows], dtype="int64"),
            "embedding": pd.Series([r["embedding"] for r in rows], dtype=object),
        }
    )
    return spark.createDataFrame(
        pdf, schema="entity_id long, embedding array<float>"
    )


def registry_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        pd.DataFrame(V.entity_registry()),
        schema="entity_id long, ent_type string, surface string, gold_component long",
    )


def pages_from_documents(spark: SparkSession, sf_dir: str, seed: int = 42) -> DataFrame:
    """Flagship-entry input: derive a pages table from the driver's
    ``documents`` fixture (so ``entry(spark)`` genuinely loads
    /root/testdata parquet). Each document contributes its own tokens
    as filler plus 1-3 deterministic gazetteer sentences keyed by
    doc_id."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        by_type = _registry_by_type()
        for b in batches:
            out = []
            for doc_id, doc_text, lang in zip(b["doc_id"], b["text"], b["lang"]):
                rng = random.Random((seed << 32) ^ (int(doc_id) + 1_000_003))
                title = " ".join(doc_text.split()[:3]) or "untitled"
                sentences = [" ".join(doc_text.split()[:10]) + " ."]
                for _ in range(1 + int(doc_id) % 3):
                    sent, _, _ = _sentence_records(rng, 0.0, by_type)
                    sentences.append(sent)
                body = "".join(f"<p>{escape(s)}</p>" for s in sentences)
                html = (
                    f"<html><head><title>{escape(title)}</title></head>"
                    f"<body><h1>{escape(title)}</h1>{body}</body></html>"
                )
                out.append(
                    {
                        "url": f"https://docs.example.org/{int(doc_id)}",
                        "warc_ts": BASE_TS + timedelta(seconds=int(doc_id)),
                        "html": html.encode("utf-8"),
                        "text": "\n".join([title, title] + sentences),
                        "lang": lang,
                    }
                )
            yield pd.DataFrame(
                out, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return docs.mapInPandas(gen, PAGES_SCHEMA)


def write_conll_fixture(
    path: str, n_sentences: int = 200, seed: int = 7, noise: float = 0.0
) -> None:
    """M1/M8 fixture: CoNLL file with gold BIO tags from the gazetteer."""
    rng = random.Random(seed)
    by_type = _registry_by_type()
    lines: list[str] = []
    for _ in range(n_sentences):
        sent, mentions, _ = _sentence_records(rng, noise, by_type)
        words = sent.split()
        # gold tags from the intended spans (so noise-corrupted words
        # keep their intended B-/I- label and create a real F1 gap)
        tags = ["O"] * len(words)
        for m in mentions:
            tags[m["begin"]] = f"B-{m['ent_type']}"
            for i in range(m["begin"] + 1, m["end"]):
                tags[i] = f"I-{m['ent_type']}"
        for w, t in zip(words, tags):
            lines.append(f"{w} {t}")
        lines.append("")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


_CONLL_CACHE: dict[tuple, str] = {}


def conll_fixture_path(
    n_sentences: int = 300, seed: int = 7, noise: float = 0.0
) -> str:
    """Process-cached CoNLL fixture file, NAMED BY ITS GENERATION
    PARAMETERS (a fixed /tmp name guarded by exists() silently reuses
    a stale file written with different params — advisor r2 finding).
    Written atomically (mkstemp + rename) into the session-scoped
    scratch root, so concurrent runs each build their own and nothing
    leaks past interpreter exit."""
    import os
    import tempfile

    from kg.io import scratch_dir

    key = (n_sentences, seed, noise)
    if key not in _CONLL_CACHE:
        d = scratch_dir("conll_")
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".txt")
        os.close(fd)
        write_conll_fixture(tmp, n_sentences, seed, noise)
        final = os.path.join(d, f"conll_{n_sentences}_s{seed}_n{noise}.txt")
        os.rename(tmp, final)
        _CONLL_CACHE[key] = final
    return _CONLL_CACHE[key]
