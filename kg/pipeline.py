"""End-to-end KG pipeline: K1..K8, with X1 skew salting, X2
checkpoint/resume orchestration, and X3 per-partition lineage +
metrics tables (BASELINE.json:6,14).

Dataflow (``run_pipeline``; with a checkpoint root every named
output is a materialized, resumable table):

    pages(url, html) --one Arrow crossing: K1 extract, M2/M3 split,
          M4-M7 NER+BIO, K5/K6 pair + relation rules--> matched_pairs
    aliases --K7--> components
    matched_pairs --K3/K4 verdict broadcast joins--> triples_raw
          x components --K8--> triples (partitioned by pred)

``matched_pairs`` holds rule-matched surfaces, not entity ids, so it
does not depend on the dictionary: a dictionary update re-runs only
``components`` and ``triples``. The staged K1..K6 operators
(``stage_extract`` .. ``stage_triples_raw``) compute the same
triples_raw one table at a time; they back the driver's
kg_mentions/kg_linked queries, the streaming path and the turbo-
versus-staged equality gate.
"""

from __future__ import annotations

import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg import io
from kg.extract import html_to_text
from kg.graph import connected_components, same_as_edges
from kg.ner.tokenize import split_sentences, tokenize_words
from kg.relations import extract_relations, pair_gen

# ----------------------------------------------------------- X1 salting


def salt_repartition(
    df: DataFrame,
    key_col: str,
    buckets: int = 16,
    num_partitions: int | None = None,
    salt_from: str = "url",
) -> DataFrame:
    """X1: deterministic salted repartition for skewed hot keys
    (BASELINE.json:6 "salted repartitioning for skewed hot domains").

    Salt = xxhash64 of a ROW-UNIQUE column (``salt_from``, default
    url) — hashing the skewed key itself would map the whole hot key
    to one salt. Not rand(): reruns must place rows identically for
    checkpoint/resume determinism. A hot host holding 30% of urls
    spreads over ``buckets`` partitions instead of melting one
    executor during the UDF-heavy NER stages.
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_from)), F.lit(buckets))
    )
    if num_partitions:
        out = salted.repartition(num_partitions, F.col(key_col), F.col("_salt"))
    else:
        out = salted.repartition(F.col(key_col), F.col("_salt"))
    return out.drop("_salt")


def host_of(url_col: str = "url"):
    return F.regexp_extract(F.col(url_col), r"^https?://([^/]+)/", 1)


# --------------------------------------------------------- stage bodies


def stage_extract(pages: DataFrame, salt_hot_hosts: bool = False) -> DataFrame:
    """K1 (+optional X1): Arrow-UDF extraction.

    Projection before the UDF is explicit: only (url, warc_ts, lang,
    html) enter; `html` is dropped on the other side.

    ``salt_hot_hosts``: file-source splits are size-balanced, so the
    UDF is naturally even and the default skips the (corpus-sized)
    salting shuffle. Turn it on when the source is clustered by host
    (e.g. an Iceberg table written in crawl order), where one split
    would otherwise hold a hot domain end to end."""
    pages = pages.select("url", "warc_ts", "lang", "html")
    if salt_hot_hosts:
        pages = pages.withColumn("_host", host_of())
        pages = salt_repartition(pages, "_host", buckets=64).drop("_host")
    return html_to_text(pages)


def stage_sentences(text_extracted: DataFrame) -> DataFrame:
    """M2+M3: sentence split + word tokenize (pure Catalyst)."""
    return tokenize_words(split_sentences(text_extracted.select("url", "text")))


def stage_mentions(sentences: DataFrame) -> DataFrame:
    """K2 core: batched NER inference (M4-M6) + BIO decode (M7), fused
    into a single Arrow crossing; mentions carry the sentence tokens
    so K6 needs no join back to the sentences table."""
    from kg.ner.model import detect_mentions

    return detect_mentions(
        sentences.select("url", "sent_id", "words"), carry_words=True
    )


def stage_linked(
    mentions: DataFrame, aliases: DataFrame, entity_vecs: DataFrame
) -> DataFrame:
    """K3 candidate gen + K4 cosine re-rank as ONE broadcast join of
    the mentions against the driver-built alias verdict
    (``kg.link.alias_verdicts_local``; the context-free encoder makes
    the verdict a function of the dictionary). Adds the verdict's
    (entity_id, alias, prior, cosine, rank) columns. Equivalent to
    rerank(candidate_gen(...)) — asserted in tests."""
    from kg.link import alias_verdicts_local

    verdict = alias_verdicts_local(aliases, entity_vecs)
    return mentions.join(
        F.broadcast(verdict),
        F.lower(mentions["surface"]) == verdict["alias"],
        "inner",
    )


def stage_triples_raw(
    linked: DataFrame, sentences: DataFrame | None = None
) -> DataFrame:
    """K5 pair gen + K6 relation rules. Hot path: grouped single-
    shuffle pair generation when mentions carry their tokens; falls
    back to the generic self-join + sentence join otherwise."""
    from kg.relations import pair_gen_grouped

    if "words" in linked.columns:
        return extract_relations(pair_gen_grouped(linked))
    return extract_relations(pair_gen(linked), sentences)


def stage_components(aliases: DataFrame, registry_ids: DataFrame | None = None) -> DataFrame:
    """K7: same-as edges -> connected components."""
    return connected_components(same_as_edges(aliases), vertices=registry_ids)


def stage_triples(triples_raw: DataFrame, components: DataFrame) -> DataFrame:
    """K8: entity ids -> component ids (two broadcast joins against the
    component map, which is KB-sized, not corpus-sized), dedup, keep
    provenance."""
    comp = F.broadcast(components)
    subj_map = comp.select(
        F.col("id").alias("subj_entity"), F.col("component").alias("subj")
    )
    obj_map = comp.select(
        F.col("id").alias("obj_entity"), F.col("component").alias("obj")
    )
    return (
        triples_raw.join(subj_map, "subj_entity", "left")
        .join(obj_map, "obj_entity", "left")
        .withColumn("subj", F.coalesce("subj", "subj_entity"))
        .withColumn("obj", F.coalesce("obj", "obj_entity"))
        .select("subj", "pred", "obj", "url", "sent_id", "confidence")
        .dropDuplicates(["subj", "pred", "obj", "url", "sent_id"])
    )


def distinct_triples(triples: DataFrame) -> DataFrame:
    """The KG itself: distinct (subj, pred, obj)."""
    return triples.select("subj", "pred", "obj").distinct()


# ------------------------------------------------- X2/X3 orchestration


class Orchestrator:
    """X2 checkpoint/resume + X3 lineage/metrics.

    ``run_pipeline`` stages three tables through it: ``matched_pairs``
    (the Arrow crossing's output, a few bytes per match),
    ``components`` and ``triples``. Each stage writes its output table
    under ``root/<stage>`` plus a per-partition metrics table under
    ``root/_metrics/<stage>``, then reads the table back. On
    rerun, a stage whose output exists (parquet _SUCCESS marker) is
    loaded instead of recomputed — the driver is stateless across
    resumes (SURVEY.md §3.2)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.log: list[dict] = []

    def _out(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _done(self, name: str) -> bool:
        # Hadoop FS API, not os.path: checkpoint roots may live on
        # hdfs:// or s3a:// on a real cluster
        return io.fs_exists(
            self.spark, os.path.join(self._out(name), "_SUCCESS")
        )

    def _write_metrics(self, name: str, df: DataFrame, wall_ms: float) -> None:
        """X3: per-partition row counts + content checksum, plus stage
        wall time — all computed relationally (one extra job)."""
        metrics = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count(F.lit(1)).alias("output_rows"),
                # XOR-fold of row hashes: order-insensitive, can't
                # overflow (ANSI mode), stable at any row count
                F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias(
                    "checksum"
                ),
            )
            .withColumn("stage", F.lit(name))
            .withColumn("wall_ms", F.lit(float(wall_ms)))
        )
        io.write_table(metrics, os.path.join(self.root, "_metrics", name))

    def run_stage(
        self,
        name: str,
        fn,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        path = self._out(name)
        if self._done(name):
            self.log.append({"stage": name, "skipped": True})
            return io.read_table(self.spark, path)
        t0 = time.monotonic()
        df = fn()
        io.write_table(df, path, partition_by=partition_by)
        wall_ms = (time.monotonic() - t0) * 1000
        out = io.read_table(self.spark, path)
        self._write_metrics(name, out, wall_ms)
        self.log.append({"stage": name, "skipped": False, "wall_ms": wall_ms})
        return out

    def metrics(self) -> DataFrame | None:
        base = os.path.join(self.root, "_metrics")
        # Hadoop FS check (base may be hdfs://, like _done)
        if not io.fs_exists(self.spark, base):
            return None
        return io.read_table(self.spark, os.path.join(base, "*"))


# ------------------------------------------- one-crossing turbo path

# Java \s == [ \t\n\x0B\f\r] (NOT Python's unicode \s) — these are the
# Catalyst SENTENCE_BOUNDARY / WORD_BOUNDARY regexes with the
# whitespace class written out so Python re matches Java semantics
# char-for-char (the same divergence class as kg.relational.WS_REGEX).
_PY_SENT_SPLIT = re.compile(r"(?<=[.!?])[ \t\n\x0B\f\r]+|\n+")
_PY_WORD_SPLIT = re.compile(r"[ \t\n\x0B\f\r]+")

_MATCH_SCHEMA = (
    "url string, sent_id int, subj_surface string, obj_surface string, "
    "pred string, confidence double"
)


def split_sentences_py(text: str) -> list[tuple[int, list[str]]]:
    """Python twin of stage_sentences for ONE document: returns
    (sent_id, words) pairs. sent_id is the posexplode POSITION in the
    split array (empties counted, then dropped), words the \\s+ split
    of the space-trimmed sentence — equality with the Catalyst path is
    gated in tests/test_pipeline.py."""
    out = []
    for sid, raw in enumerate(_PY_SENT_SPLIT.split(text)):
        sent = raw.strip(" ")  # F.trim strips 0x20 only
        if not sent:
            continue
        out.append((sid, _PY_WORD_SPLIT.split(sent)))
    return out


def _matched_pairs_gen(batches):
    """mapInPandas kernel: html -> rule-matched co-sentence span pairs
    in ONE JVM<->Python crossing (guide §8: every decision downstream
    of here needs only these few bytes per match — the page text,
    token arrays and unmatched pair space never cross back to the
    JVM, never shuffle). Per-worker state (scorer weights, word-tag
    memo) initializes once (guide §4.5)."""
    import pandas as pd

    from kg.extract import extract_text_auto
    from kg.ner.bio import decode_bio
    from kg.ner.model import _Model
    from kg.relations import CONFIDENCE_THRESHOLD, MAX_RULE_WORDS, RELATION_RULES

    model = _Model.get()
    rules = {t: (p, c) for t, p, c in RELATION_RULES}
    # no rule matches a gap wider than MAX_RULE_WORDS, and b2 only
    # grows with j, so the inner loop can stop at the first such gap
    max_words = MAX_RULE_WORDS
    for b in batches:
        url_o: list[str] = []
        sid_o: list[int] = []
        ss_o: list[str] = []
        os_o: list[str] = []
        pred_o: list[str] = []
        conf_o: list[float] = []
        for url, html in zip(b["url"], b["html"]):
            text = extract_text_auto(html)
            for sid, words in split_sentences_py(text):
                tags = model.tags_of([words])[0]
                spans = decode_bio(tags)
                if len(spans) < 2:
                    continue
                for i in range(len(spans) - 1):
                    _t1, b1, e1 = spans[i]
                    for j in range(i + 1, len(spans)):
                        _t2, b2, e2 = spans[j]
                        if b2 - e1 > max_words:
                            break
                        between = (
                            " ".join(words[e1:b2]).lower() if b2 > e1 else ""
                        )
                        pc = rules.get(between)
                        if pc is None or pc[1] < CONFIDENCE_THRESHOLD:
                            continue
                        url_o.append(url)
                        sid_o.append(sid)
                        ss_o.append(" ".join(words[b1:e1]))
                        os_o.append(" ".join(words[b2:e2]))
                        pred_o.append(pc[0])
                        conf_o.append(pc[1])
        yield pd.DataFrame(
            {
                "url": url_o,
                "sent_id": sid_o,
                "subj_surface": ss_o,
                "obj_surface": os_o,
                "pred": pred_o,
                "confidence": conf_o,
            }
        )


def matched_pairs(pages: DataFrame) -> DataFrame:
    """The one Arrow crossing: (url, html) -> rule-matched co-sentence
    surface pairs (``_MATCH_SCHEMA``). Surfaces, not entity ids, so the
    output is dictionary-independent."""
    return pages.select("url", "html").mapInPandas(
        _matched_pairs_gen, _MATCH_SCHEMA
    )


def link_pairs(
    matched: DataFrame, aliases: DataFrame, entity_vecs: DataFrame
) -> DataFrame:
    """K3/K4 on matched pairs: two inner broadcast joins against the
    driver-built alias verdict (subject, then object surface) ->
    triples_raw(subj_entity, pred, obj_entity, url, sent_id,
    confidence)."""
    from kg.link import alias_verdicts_local

    verdict = alias_verdicts_local(aliases, entity_vecs)
    sv = verdict.select(
        F.col("alias").alias("s_alias"), F.col("entity_id").alias("subj_entity")
    )
    ov = verdict.select(
        F.col("alias").alias("o_alias"), F.col("entity_id").alias("obj_entity")
    )
    return (
        matched.join(
            F.broadcast(sv), F.lower(F.col("subj_surface")) == F.col("s_alias")
        )
        .join(F.broadcast(ov), F.lower(F.col("obj_surface")) == F.col("o_alias"))
        .select(
            "subj_entity", "pred", "obj_entity", "url", "sent_id", "confidence"
        )
    )


def turbo_triples_raw(
    pages: DataFrame, aliases: DataFrame, entity_vecs: DataFrame
) -> DataFrame:
    """triples_raw computed with ONE Arrow crossing over (url, html)
    and two dictionary broadcast joins — set-identical to the staged
    K1..K6 composition (asserted in tests/test_pipeline.py): same
    extraction kernel (byte-identical fast path), same sentence/word
    splits (Python twins of the Catalyst regexes), same tags
    (word-memo == forward_tags), same i<j span pairing, same rule
    table, same inner verdict joins.

    Physically this is the guide-§8 shape: the corpus crosses the
    Python boundary once as (url, html), only RULE-MATCHED pairs (a
    tiny fraction of sentences) come back, and nothing corpus-sized
    is ever shuffled or re-serialized — the staged path's words-array
    Arrow round trip, mention explode and pair-generation exchange
    all disappear."""
    return link_pairs(matched_pairs(pages), aliases, entity_vecs)


# ------------------------------------------------------------ pipeline


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame,
    entity_vecs: DataFrame,
    checkpoint_root: str | None = None,
    components: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """html -> triples as ``matched_pairs`` -> ``components`` ->
    ``triples`` (module docstring). Without ``checkpoint_root`` this
    is one lazy plan, ``stage_triples(turbo_triples_raw(...), ...)``.
    With it, each of the three outputs is a materialized resumable
    table under ``checkpoint_root/<name>`` (``Orchestrator``), so a
    rerun skips completed outputs and deleting ``components`` re-links
    the stored matched pairs without re-running the crossing. Returns
    those three DataFrames (plus ``_orchestrator`` when checkpointing).

    ``components``: pre-built K7 component map. The component map is
    a function of the alias DICTIONARY only (corpus-independent), so
    a production deployment builds it once per dictionary update and
    reuses it across every corpus batch — pass it here to do that;
    None rebuilds it inline."""
    orch = Orchestrator(spark, checkpoint_root) if checkpoint_root else None

    def stage(name, fn, partition_by=None):
        return orch.run_stage(name, fn, partition_by) if orch else fn()

    matched = stage("matched_pairs", lambda: matched_pairs(pages))
    comps = stage(
        "components",
        lambda: components if components is not None else stage_components(aliases),
    )
    triples = stage(
        "triples",
        lambda: stage_triples(link_pairs(matched, aliases, entity_vecs), comps),
        partition_by=["pred"],
    )
    result = {"matched_pairs": matched, "components": comps, "triples": triples}
    if orch:
        result["_orchestrator"] = orch
    return result
