"""K5/K6: grouped pair generation must equal the generic self-join."""

from kg.relations import extract_relations, pair_gen_grouped
from tests.reference import pair_gen


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
    # u3's lone mention has no partner, and u4's 4-word gap exceeds
    # MAX_RULE_WORDS, so neither yields a pair
    assert grouped == {("u1", 0, 1, 2), ("u2", 3, 3, 4)}


def test_relations_from_grouped_pairs(spark):
    linked = _linked_df(spark)
    triples = {
        (r["subj_entity"], r["pred"], r["obj_entity"])
        for r in extract_relations(pair_gen_grouped(linked)).collect()
    }
    assert triples == {(101, "works_for", 201), (202, "based_in", 301)}

