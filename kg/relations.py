"""K5 co-sentence pair generation + K6 relation extraction.

K5 (BASELINE.json:6 "co-sentence entity pairs"): ``pair_gen_grouped``
groups the linked mentions by sentence (url, sent_id) in ONE shuffle
and explodes each group's ordered pairs (subject textual-first) in
memory, bounded by ``MAX_RULE_WORDS``. tests/reference.py's
``pair_gen`` builds the same pair set as a self-join, the reference
the grouped generator is tested against.

K6: deterministic predicate rules over the between-mention text,
sliced from the sentence tokens the mentions carry. Entirely Catalyst
(slice + concat_ws + CASE) — zero Python. The rule table mirrors the
fixture generator's templates, which stand in for the reference's
relation semantics (SURVEY.md §5: frozen oracles define reference
behavior; empty mount)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RELATION_RULES: list[tuple[str, str, float]] = [
    # (between-text lowercase, predicate, confidence)
    ("works at", "works_for", 0.95),
    ("visited", "visited", 0.90),
    ("is based in", "based_in", 0.95),
    ("met", "met", 0.85),
]

CONFIDENCE_THRESHOLD = 0.5

# word tokens hold no " ", so n between-tokens join to a string of
# exactly n " "-separated words: a pair whose gap (obj_begin -
# subj_end) is wider than the widest rule matches no rule. Both pair
# generators drop such pairs, so a sentence with thousands of spans
# yields O(spans) candidate pairs instead of O(spans^2).
MAX_RULE_WORDS = max(len(t.split(" ")) for t, _, _ in RELATION_RULES)


def pair_gen_grouped(linked: DataFrame) -> DataFrame:
    """K5: co-sentence pairs via ONE shuffle.

    groupBy (url, sent_id) + in-memory pair explosion instead of the
    self-join: per-sentence mention counts are tiny, and the
    MAX_RULE_WORDS gap bound applies inside the filter, before the
    explode, so a long sentence yields O(k) rows, not O(k^2). One
    exchange of the linked table replaces two exchanges + a join —
    and, crucially for a lazy single-action pipeline, the upstream
    NER DAG executes ONCE instead of once per join side. The linked
    mentions carry their sentence's ``words`` (kg.ner.model
    ``detect_mentions``); each pair keeps them for K6."""
    ms = F.collect_list(
        F.struct("mention_id", "entity_id", "ent_type", "begin", "end")
    ).alias("ms")
    grouped = linked.groupBy("url", "sent_id").agg(
        ms, F.first("words").alias("words")
    )
    pair = F.explode(
        F.filter(
            F.flatten(
                F.transform(
                    F.col("ms"),
                    lambda a: F.transform(
                        F.col("ms"),
                        lambda b: F.struct(a.alias("s"), b.alias("o")),
                    ),
                )
            ),
            lambda p: (p["s"]["begin"] < p["o"]["begin"])
            & (p["o"]["begin"] - p["s"]["end"] <= MAX_RULE_WORDS),
        )
    ).alias("p")
    return grouped.select("url", "sent_id", "words", pair).select(
        "url",
        "sent_id",
        "words",
        F.col("p.s.mention_id").alias("subj_mention"),
        F.col("p.s.entity_id").alias("subj_entity"),
        F.col("p.s.ent_type").alias("subj_type"),
        F.col("p.s.begin").alias("subj_begin"),
        F.col("p.s.end").alias("subj_end"),
        F.col("p.o.mention_id").alias("obj_mention"),
        F.col("p.o.entity_id").alias("obj_entity"),
        F.col("p.o.ent_type").alias("obj_type"),
        F.col("p.o.begin").alias("obj_begin"),
        F.col("p.o.end").alias("obj_end"),
    )


def extract_relations(pairs: DataFrame) -> DataFrame:
    """K6: pairs carrying their sentence ``words`` -> triples_raw.

    between-text = words strictly between the two spans; predicate via
    the rule table (whole-stage-codegen CASE expression)."""
    between = F.lower(
        F.concat_ws(
            " ",
            F.slice(
                F.col("words"),
                F.col("subj_end") + 1,
                F.greatest(
                    F.col("obj_begin") - F.col("subj_end"), F.lit(0)
                ),
            ),
        )
    )
    pred_expr = F.lit(None).cast("string")
    conf_expr = F.lit(None).cast("double")
    for text, pred, conf in reversed(RELATION_RULES):
        pred_expr = F.when(between == text, F.lit(pred)).otherwise(pred_expr)
        conf_expr = F.when(between == text, F.lit(conf)).otherwise(conf_expr)
    return (
        pairs.withColumn("pred", pred_expr)
        .withColumn("confidence", conf_expr)
        .filter(F.col("pred").isNotNull())
        .filter(F.col("confidence") >= CONFIDENCE_THRESHOLD)
        .select(
            "subj_entity",
            "pred",
            "obj_entity",
            "url",
            "sent_id",
            "confidence",
        )
    )
