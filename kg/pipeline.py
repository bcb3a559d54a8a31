"""End-to-end KG pipeline: K1..K8, with X1 skew salting, X2
checkpoint/resume orchestration, and X3 per-partition lineage +
metrics tables (BASELINE.json:6,14).

Dataflow (``run_pipeline``; with a checkpoint root the two
corpus-sized outputs are materialized, resumable tables):

    pages(url, html) --one mapInArrow crossing: K1 extract, M2/M3 split,
          M4-M7 NER+BIO, K5/K6 pair + relation rules--> matched_pairs
    aliases x entity_vecs --driver compile on every run: K3/K4 verdict
          + K7 same-as components--> dictionary(alias -> entity_id,
          component), an in-plan local table
    matched_pairs --two broadcast joins (subject, object surface),
          K8 dedup--> triples (partitioned by pred)

The crossing's kernel is columnar: only extraction loops over pages.
The sentence and word splits (pyarrow RE2 twins of the Catalyst
regexes), the tagging (once per distinct word), the BIO decode
(numpy) and the rule match each run once over a slice of up to
``KERNEL_SLICE_PAGES`` pages of the Arrow batch.

``matched_pairs`` holds rule-matched surfaces, not entity ids, so it
does not depend on the dictionary: a dictionary update re-runs only
``triples``. The dictionary (one row per alias) is compiled on the
driver (``kg.link.compile_dictionary``, ~0.1 s) on every run rather
than checkpointed, and linking and canonicalization are one broadcast
join per side.

The crossing's mentions mode (``mentions``: the same span step, one
row per span) backs the driver's kg_mentions/kg_linked and the
mentions stream. The staged operators (``stage_extract``,
``stage_sentences``, ``stage_mentions``, ``stage_triples_raw``,
``stage_triples``) compute the same mentions and triples one table at
a time through ``html_to_text``, the Catalyst split and
``detect_mentions``. No shipped output reaches them: they are the
tests' oracle for the kernel.
"""

from __future__ import annotations

import os
import re
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from kg import io
from kg.extract import html_to_text
from kg.graph import _union_find_components, same_as_edges
from kg.link import alias_verdicts_local, compile_dictionary
from kg.ner.tokenize import split_sentences, tokenize_words
from kg.relations import extract_relations, pair_gen_grouped

# ----------------------------------------------------------- X1 salting


def salt_repartition(
    df: DataFrame, key_col: str, buckets: int, num_partitions: int
) -> DataFrame:
    """X1: deterministic salted repartition for skewed hot keys
    (BASELINE.json:6 "salted repartitioning for skewed hot domains").

    Salt = xxhash64 of the ROW-UNIQUE ``url`` column — hashing the
    skewed key itself would map the whole hot key to one salt. Not
    rand(): reruns must place rows identically for checkpoint/resume
    determinism. A hot host holding 30% of urls spreads over
    ``buckets`` partitions instead of melting one executor during the
    UDF-heavy NER stages.
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("url")), F.lit(buckets))
    )
    return salted.repartition(
        num_partitions, F.col(key_col), F.col("_salt")
    ).drop("_salt")


# --------------------------------------------------------- stage bodies


def stage_extract(pages: DataFrame) -> DataFrame:
    """K1: Arrow-UDF extraction (staged oracle: no shipped output).

    Projection before the UDF is explicit: only (url, warc_ts, lang,
    html) enter; `html` is dropped on the other side."""
    return html_to_text(pages.select("url", "warc_ts", "lang", "html"))


def stage_sentences(text_extracted: DataFrame) -> DataFrame:
    """M2+M3: Catalyst split + tokenize (staged oracle: no shipped output)."""
    return tokenize_words(split_sentences(text_extracted.select("url", "text")))


def stage_mentions(sentences: DataFrame) -> DataFrame:
    """K2 core: batched NER inference (M4-M6) + BIO decode (M7), fused
    into a single Arrow crossing; mentions carry the sentence tokens
    so K6 needs no join back to the sentences table. Staged oracle:
    no shipped output; ``mentions`` ships the same rows."""
    from kg.ner.model import detect_mentions

    return detect_mentions(sentences.select("url", "sent_id", "words"))


def stage_linked(
    mentions: DataFrame, aliases: DataFrame, entity_vecs: DataFrame
) -> DataFrame:
    """K3 candidate gen + K4 cosine re-rank as ONE broadcast join of
    the mentions against the driver-built alias verdict
    (``kg.link.alias_verdicts_local``; the context-free encoder makes
    the verdict a function of the dictionary). Adds the verdict's
    (entity_id, alias, prior, cosine, rank) columns. Equivalent to
    rerank(candidate_gen(...)) of tests/reference.py (test_link)."""
    verdict = alias_verdicts_local(aliases, entity_vecs)
    return mentions.join(
        F.broadcast(verdict),
        F.lower(mentions["surface"]) == verdict["alias"],
        "inner",
    )


def stage_triples_raw(
    linked: DataFrame, sentences: DataFrame | None = None
) -> DataFrame:
    """K5 pair gen + K6 relation rules: grouped single-shuffle pair
    generation over mentions that carry their sentence tokens (staged
    oracle: no shipped output).
    ``sentences`` is ignored (the tokens come with the mentions); it
    stays so callers that still pass the sentences table keep working."""
    return extract_relations(pair_gen_grouped(linked))


def stage_components(aliases: DataFrame, registry_ids: DataFrame | None = None) -> DataFrame:
    """K7: same-as edges -> connected components, labeled by a driver
    union-find (the same-as graph is dictionary-sized)."""
    return _union_find_components(same_as_edges(aliases), registry_ids)


_TRIPLE_KEY = ["subj", "pred", "obj", "url", "sent_id"]


def _dedup_triples(df: DataFrame) -> DataFrame:
    return df.select(*_TRIPLE_KEY, "confidence").dropDuplicates(_TRIPLE_KEY)


def stage_triples(triples_raw: DataFrame, components: DataFrame) -> DataFrame:
    """K8 as its own step, for the staged oracle (``run_pipeline``
    folds it into the link joins): entity ids -> component ids (two
    broadcast joins against the KB-sized component map), dedup."""
    comp = F.broadcast(components)

    def relabel(df: DataFrame, entity: str, out: str) -> DataFrame:
        ids = comp.select(F.col("id").alias(entity), F.col("component").alias(out))
        return df.join(ids, entity, "left").withColumn(out, F.coalesce(out, entity))

    return _dedup_triples(
        relabel(relabel(triples_raw, "subj_entity", "subj"), "obj_entity", "obj")
    )


# ------------------------------------------------- X2/X3 orchestration


class Orchestrator:
    """X2 checkpoint/resume + X3 lineage/metrics.

    ``run_pipeline`` stages its two corpus-sized tables through it:
    ``matched_pairs`` (the Arrow crossing's output, a few bytes per
    match) and ``triples``. Each stage writes its output table
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

# the lookbehind (?<=[.!?])\s+ of _PY_SENT_SPLIT for RE2, which has
# none: the punctuation is captured and put back, and the whitespace
# run after it becomes one "\n" for the \n+ split that follows
_RE2_SENT_END = r"([.!?])[ \t\n\x0B\f\r]+"

_MATCH_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("sent_id", IntegerType()),
        StructField("subj_surface", StringType()),
        StructField("obj_surface", StringType()),
        StructField("pred", StringType()),
        StructField("confidence", DoubleType()),
    ]
)
_MATCH_ARROW_SCHEMA = to_arrow_schema(_MATCH_SCHEMA)

_MENTION_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("sent_id", IntegerType()),
        StructField("ent_type", StringType()),
        StructField("begin", IntegerType()),
        StructField("end", IntegerType()),
        StructField("surface", StringType()),
    ]
)
_MENTION_ARROW_SCHEMA = to_arrow_schema(_MENTION_SCHEMA)

# pages per kernel pass: an Arrow batch (up to maxRecordsPerBatch
# pages) is cut into slices of this many, so the flat word, tag and
# span arrays a worker holds are bounded by the slice. On fixture
# pages 1024 runs as fast as 4096 (a slice's fixed cost is ~1 ms) and
# holds ~10 MB less per worker
KERNEL_SLICE_PAGES = 1024


def split_sentences_py(text: str) -> list[tuple[int, list[str]]]:
    """Python twin of stage_sentences for ONE document: returns
    (sent_id, words) pairs. sent_id is the posexplode POSITION in the
    split array (empties counted, then dropped), words the \\s+ split
    of the space-trimmed sentence — equality with the Catalyst path is
    gated in tests/test_pipeline.py, and the kernel's batch-wide
    ``_split_columnar`` is fuzzed against it there."""
    out = []
    for sid, raw in enumerate(_PY_SENT_SPLIT.split(text)):
        sent = raw.strip(" ")  # F.trim strips 0x20 only
        if not sent:
            continue
        out.append((sid, _PY_WORD_SPLIT.split(sent)))
    return out


def _join_ranges(words: pa.Array, lo: np.ndarray, hi: np.ndarray) -> pa.Array:
    """``" ".join(words[lo[k]:hi[k]])`` for every k, as one Arrow
    string array: ``take`` the words of all ranges end to end, cut them
    into lists and ``binary_join`` each list."""
    n = hi - lo
    offsets = np.zeros(len(n) + 1, dtype=np.int32)
    np.cumsum(n, out=offsets[1:])
    idx = np.repeat(lo - offsets[:-1], n) + np.arange(offsets[-1], dtype=np.int32)
    lists = pa.ListArray.from_arrays(pa.array(offsets), words.take(pa.array(idx)))
    return pc.binary_join(lists, " ")


def _split_columnar(texts: pa.Array) -> tuple[np.ndarray, np.ndarray, pa.Array]:
    """``split_sentences_py`` over many texts at once: returns each
    non-empty sentence's page index and sent_id (its position in the
    page's split, empties counted) as int32, and its words as a list
    array."""
    raw = pc.split_pattern_regex(
        pc.replace_substring_regex(texts, _RE2_SENT_END, "\\1\n"), r"\n+"
    )
    page = pc.list_parent_indices(raw).to_numpy().astype(np.int32)
    pos = np.arange(len(page), dtype=np.int32) - raw.offsets.to_numpy()[page]
    sents = pc.utf8_trim(pc.list_flatten(raw), " ")
    keep = pc.greater(pc.binary_length(sents), 0)
    kept = keep.to_numpy(zero_copy_only=False)
    # ascii_split_whitespace splits on [ \t\n\x0B\f\r]+ and keeps the
    # empty tokens at either end, as _PY_WORD_SPLIT does
    return page[kept], pos[kept], pc.ascii_split_whitespace(sents.filter(keep))


def _span_slice(htmls: pa.Array, model) -> tuple:
    """The kernel's span step on one slice of pages: extract, split,
    tag each distinct word once, BIO-decode. Returns the sentences'
    (page, sent_id), the flat words and their sentence offsets, and the
    spans' flat (begin, end, type code, sentence), in page order."""
    from kg.extract import extract_text_auto
    from kg.ner import vocab as V
    from kg.ner.bio import decode_bio_flat

    texts = pa.array([extract_text_auto(h) for h in htmls.to_pylist()], pa.string())
    page, sent_id, split = _split_columnar(texts)
    words = pc.list_flatten(split)
    woff = split.offsets.to_numpy()
    # tag each distinct word once, then gather the label codes
    enc = pc.dictionary_encode(words)
    word_tags = model.tags_of([enc.dictionary.to_pylist()])[0]
    tag_code = np.array([V.LABEL_TO_ID[t] for t in word_tags], dtype=np.int8)
    begin, end, typ = decode_bio_flat(tag_code[enc.indices.to_numpy()], woff, V.LABELS)
    sent = (np.searchsorted(woff, begin, side="right") - 1).astype(np.int32)
    return page, sent_id, words, woff, begin, end, typ, sent


def _pair_slice(urls: pa.Array, spans: tuple, rules) -> pa.RecordBatch:
    """The pair step: a slice's spans (``_span_slice``) -> a
    ``_MATCH_SCHEMA`` RecordBatch of rule-matched span pairs, rows in
    (page, sentence, subject span, object span) order."""
    from kg.relations import MAX_RULE_WORDS

    page, sent_id, words, _, begin, end, _, sent = spans
    keys, preds, confs = rules
    # candidate pairs: span i with span i+k of the same sentence, for
    # each k that can still leave 1..MAX_RULE_WORDS words between them
    # (every span in between takes a word); built row-major, so they
    # come out in (i, j) order
    ks = np.arange(1, MAX_RULE_WORDS + 2, dtype=np.int32)
    i = np.repeat(np.arange(len(begin), dtype=np.int32), len(ks))
    j = i + np.tile(ks, len(begin))
    i, j = i[j < len(begin)], j[j < len(begin)]
    gap = begin[j] - end[i]
    # (gap 0 joins to "", and no rule text is empty)
    ok = (sent[i] == sent[j]) & (gap >= 1) & (gap <= MAX_RULE_WORDS)
    i, j = i[ok], j[ok]
    between = _join_ranges(words, end[i], begin[j])
    # an ASCII string lower-cases alike in Arrow and in Python; the
    # rare others go through str.lower
    hit = pc.fill_null(pc.index_in(pc.ascii_lower(between), keys), -1).to_numpy()
    other = np.flatnonzero(~pc.string_is_ascii(between).to_numpy(zero_copy_only=False))
    if len(other):
        hit = hit.copy()
        rule_of = {k: n for n, k in enumerate(keys.to_pylist())}
        for k, s in zip(other, between.take(pa.array(other)).to_pylist()):
            hit[k] = rule_of.get(s.lower(), -1)
    m = np.flatnonzero(hit >= 0)
    i, j, rule = i[m], j[m], pa.array(hit[m])
    return pa.RecordBatch.from_arrays(
        [
            urls.take(pa.array(page[sent[i]])).cast(pa.string()),
            pa.array(sent_id[sent[i]], pa.int32()),
            _join_ranges(words, begin[i], end[i]),
            _join_ranges(words, begin[j], end[j]),
            preds.take(rule),
            confs.take(rule),
        ],
        schema=_MATCH_ARROW_SCHEMA,
    )


def _mention_slice(urls: pa.Array, htmls: pa.Array, model) -> pa.RecordBatch:
    """The kernel's mentions mode on one slice of pages: the span step,
    then one ``_MENTION_SCHEMA`` row per span, with ``begin``/``end``
    relative to the sentence, in (page, sentence, span) order."""
    from kg.ner import vocab as V
    from kg.ner.bio import label_tables

    page, sent_id, words, woff, begin, end, typ, sent = _span_slice(htmls, model)
    types = pa.array(label_tables(tuple(V.LABELS))[2], pa.string())
    return pa.RecordBatch.from_arrays(
        [
            urls.take(pa.array(page[sent])).cast(pa.string()),
            pa.array(sent_id[sent], pa.int32()),
            types.take(pa.array(typ)),
            pa.array(begin - woff[sent], pa.int32()),
            pa.array(end - woff[sent], pa.int32()),
            _join_ranges(words, begin, end),
        ],
        schema=_MENTION_ARROW_SCHEMA,
    )


def _kernel_slices(batches, step):
    """The crossing's slicing loop: ``step(urls, htmls)`` once per slice
    of ``KERNEL_SLICE_PAGES`` pages of each Arrow batch, one output
    batch each."""
    for b in batches:
        urls, htmls = b.column("url"), b.column("html")
        # a 0-row batch still yields one (empty) output batch
        for s in range(0, max(b.num_rows, 1), KERNEL_SLICE_PAGES):
            yield step(urls.slice(s, KERNEL_SLICE_PAGES), htmls.slice(s, KERNEL_SLICE_PAGES))


def _matched_pairs_arrow(batches):
    """mapInArrow kernel: html -> rule-matched co-sentence span pairs
    in ONE JVM<->Python crossing (guide §8: every decision downstream
    of here needs only these few bytes per match — the page text,
    token arrays and unmatched pair space never cross back to the
    JVM, never shuffle). Per-worker state (scorer weights, word-tag
    memo) initializes once (guide §4.5)."""
    from kg.ner.model import _Model
    from kg.relations import CONFIDENCE_THRESHOLD, RELATION_RULES

    model = _Model.get()
    # the rule dict the per-sentence lookup used (a later duplicate
    # text wins), less the rules under the confidence threshold
    table = {t: (p, c) for t, p, c in RELATION_RULES}
    table = {t: v for t, v in table.items() if v[1] >= CONFIDENCE_THRESHOLD}
    rules = (
        pa.array(list(table), pa.string()),
        pa.array([p for p, _ in table.values()], pa.string()),
        pa.array([c for _, c in table.values()], pa.float64()),
    )
    yield from _kernel_slices(
        batches,
        lambda urls, htmls: _pair_slice(urls, _span_slice(htmls, model), rules),
    )


def _mentions_arrow(batches):
    """mapInArrow kernel, mentions mode: html -> typed entity spans in
    ONE JVM<->Python crossing, by the same span step as
    ``_matched_pairs_arrow``."""
    from kg.ner.model import _Model

    model = _Model.get()
    yield from _kernel_slices(
        batches, lambda urls, htmls: _mention_slice(urls, htmls, model)
    )


def _matched_pairs_gen(batches):
    """The crossing's kernel for pandas callers: (url, html) frames in,
    ``_MATCH_SCHEMA`` frames out, one per ``KERNEL_SLICE_PAGES`` slice,
    computed by the same Arrow kernel as ``_matched_pairs_arrow``."""
    for b in batches:
        # one pa.array per column: from_pandas on the column selection
        # took ~0.9 ms per frame, most of a few-page batch's time
        rb = pa.RecordBatch.from_arrays(
            [pa.array(b["url"]), pa.array(b["html"])], names=["url", "html"]
        )
        for out in _matched_pairs_arrow(iter([rb])):
            yield out.to_pandas()


def matched_pairs(pages: DataFrame) -> DataFrame:
    """The one Arrow crossing: (url, html) -> rule-matched co-sentence
    surface pairs (``_MATCH_SCHEMA``), as ``mapInArrow`` over the
    columnar kernel ``_matched_pairs_arrow``. Surfaces, not entity ids,
    so the output is dictionary-independent."""
    return pages.select("url", "html").mapInArrow(
        _matched_pairs_arrow, _MATCH_SCHEMA
    )


def mentions(pages: DataFrame) -> DataFrame:
    """The crossing in mentions mode: (url, html) -> ``detect_mentions``'
    columns less ``words``. The spans come from ``mapInArrow`` over
    ``_mentions_arrow``; Catalyst adds ``mention_id`` and ``score``."""
    spans = pages.select("url", "html").mapInArrow(_mentions_arrow, _MENTION_SCHEMA)
    return spans.select(
        "url",
        "sent_id",
        F.xxhash64("url", "sent_id", "begin").alias("mention_id"),
        "ent_type",
        "begin",
        "end",
        "surface",
        F.lit(1.0).alias("score"),
    )


def link_pairs(matched: DataFrame, dictionary: DataFrame) -> DataFrame:
    """K3/K4 and K7 on matched pairs: two inner broadcast joins against
    the compiled dictionary (``kg.link.compile_dictionary``; subject,
    then object surface) -> (subj_entity, subj, pred, obj_entity, obj,
    url, sent_id, confidence), where ``subj``/``obj`` are the
    entities' same-as components."""

    def side(p: str):
        names = (f"{p}_alias", f"{p}_entity", p)
        d = dictionary.select("alias", "entity_id", "component").toDF(*names)
        return F.broadcast(d), F.lower(F.col(f"{p}_surface")) == F.col(f"{p}_alias")

    return (
        matched.join(*side("subj"))
        .join(*side("obj"))
        .select(
            "subj_entity", "subj", "pred", "obj_entity", "obj", "url",
            "sent_id", "confidence",
        )
    )


def turbo_triples_raw(
    pages: DataFrame, aliases: DataFrame, entity_vecs: DataFrame
) -> DataFrame:
    """triples_raw(subj_entity, pred, obj_entity, url, sent_id,
    confidence) from ONE Arrow crossing over (url, html) and two
    dictionary broadcast joins: set-identical to the staged K1..K6
    composition (asserted in tests/test_pipeline.py). Only rule-matched
    pairs come back across the Python boundary, and nothing
    corpus-sized is shuffled or re-serialized."""
    return link_pairs(
        matched_pairs(pages), compile_dictionary(aliases, entity_vecs)
    ).select("subj_entity", "pred", "obj_entity", "url", "sent_id", "confidence")


# ------------------------------------------------------------ pipeline


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame,
    entity_vecs: DataFrame,
    checkpoint_root: str | None = None,
    components: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """html -> triples as ``matched_pairs``, linked against the
    dictionary compiled from ``aliases`` x ``entity_vecs`` (alias ->
    (entity_id, component)), -> ``triples`` (module docstring). Without
    ``checkpoint_root`` this is one lazy plan. With it, ``matched_pairs``
    and ``triples`` are materialized resumable tables under
    ``checkpoint_root/<name>`` (``Orchestrator``): a rerun skips
    completed outputs, and deleting ``triples`` re-links the stored
    matched pairs without re-running the crossing. The dictionary is
    compiled on every call, so a resumed run links with the dictionary
    it is given. Returns ``matched_pairs``, ``triples`` and the
    dictionary as ``components`` (plus ``_orchestrator`` when
    checkpointing).

    ``components`` is ignored: the dictionary compile always derives
    the same-as components itself, in the same driver pass as the
    verdict. It stays so callers that still pass a prebuilt ``(id,
    component)`` map keep working."""
    orch = Orchestrator(spark, checkpoint_root) if checkpoint_root else None

    def stage(name, fn, partition_by=None):
        return orch.run_stage(name, fn, partition_by) if orch else fn()

    matched = stage("matched_pairs", lambda: matched_pairs(pages))
    dictionary = compile_dictionary(aliases, entity_vecs)
    triples = stage(
        "triples",
        lambda: _dedup_triples(link_pairs(matched, dictionary)),
        partition_by=["pred"],
    )
    result = {"matched_pairs": matched, "components": dictionary, "triples": triples}
    if orch:
        result["_orchestrator"] = orch
    return result
