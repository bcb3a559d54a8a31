"""K5/K6: grouped pair generation must equal the generic self-join."""

import pyspark.sql.functions as F

from kg.relations import extract_relations, pair_gen, pair_gen_grouped


def _linked_df(spark):
    words = ["Alinda", "Varek", "works", "at", "Novari", "Labs", "."]
    words2 = ["Quellix", "is", "based", "in", "Valdoria", "."]
    # 4 words between the spans: wider than every rule, so no pair
    words3 = ["Alinda", "Varek", "met", "with", "old", "friends", "Quellix", "."]
    rows = [
        # (url, sent_id, mention_id, entity_id, ent_type, begin, end, words)
        ("u1", 0, 1, 101, "PER", 0, 2, words),
        ("u1", 0, 2, 201, "ORG", 4, 6, words),
        ("u2", 3, 3, 202, "ORG", 0, 1, words2),
        ("u2", 3, 4, 301, "LOC", 4, 5, words2),
        ("u3", 1, 5, 102, "PER", 0, 2, words),  # lone mention, no pair
        ("u4", 2, 6, 101, "PER", 0, 2, words3),
        ("u4", 2, 7, 202, "ORG", 6, 7, words3),
    ]
    return spark.createDataFrame(
        rows,
        "url string, sent_id int, mention_id long, entity_id long, "
        "ent_type string, begin int, end int, words array<string>",
    )


def _pair_set(df):
    return {
        (r["url"], r["sent_id"], r["subj_mention"], r["obj_mention"])
        for r in df.collect()
    }


def test_grouped_equals_self_join(spark):
    linked = _linked_df(spark)
    grouped = _pair_set(pair_gen_grouped(linked))
    joined = _pair_set(pair_gen(linked))
    assert grouped == joined
    assert ("u1", 0, 1, 2) in grouped
    assert not any(r[0] == "u3" for r in grouped)
    # the 4-word gap exceeds MAX_RULE_WORDS: both generators drop it
    assert not any(r[0] == "u4" for r in grouped)


def test_relations_from_grouped_pairs(spark):
    linked = _linked_df(spark)
    triples = {
        (r["subj_entity"], r["pred"], r["obj_entity"])
        for r in extract_relations(pair_gen_grouped(linked)).collect()
    }
    assert triples == {(101, "works_for", 201), (202, "based_in", 301)}


def test_relations_fallback_sentence_join(spark):
    """Without carried words, K6 joins the sentences table."""
    linked = _linked_df(spark).drop("words")
    sentences = spark.createDataFrame(
        [
            ("u1", 0, ["Alinda", "Varek", "works", "at", "Novari", "Labs", "."]),
            ("u2", 3, ["Quellix", "is", "based", "in", "Valdoria", "."]),
            ("u3", 1, ["Alinda", "Varek", "."]),
        ],
        "url string, sent_id int, words array<string>",
    )
    triples = {
        (r["subj_entity"], r["pred"], r["obj_entity"])
        for r in extract_relations(pair_gen(linked), sentences).collect()
    }
    assert triples == {(101, "works_for", 201), (202, "based_in", 301)}
