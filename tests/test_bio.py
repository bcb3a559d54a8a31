"""M7 BIO decode: unit cases + span->tags->span round-trip property."""

import random

from kg.ner.bio import decode_bio
from tests.oracle.kg_frozen import decode_bio_frozen

CASES = [
    ([], []),
    (["O", "O"], []),
    (["B-PER"], [("PER", 0, 1)]),
    (["B-PER", "I-PER", "O"], [("PER", 0, 2)]),
    (["B-PER", "B-PER"], [("PER", 0, 1), ("PER", 1, 2)]),
    (["B-PER", "I-ORG"], [("PER", 0, 1), ("ORG", 1, 2)]),
    # seqeval lenient: dangling I- opens a new span
    (["O", "I-LOC", "I-LOC", "O"], [("LOC", 1, 3)]),
    (["I-PER"], [("PER", 0, 1)]),
    (["B-ORG", "I-ORG", "I-ORG", "B-ORG"], [("ORG", 0, 3), ("ORG", 3, 4)]),
    (["B-LOC", "O", "I-LOC"], [("LOC", 0, 1), ("LOC", 2, 3)]),
]


def test_decode_cases():
    for tags, want in CASES:
        assert decode_bio(tags) == want, tags
        assert decode_bio_frozen(tags) == want, tags


def spans_to_tags(spans, n):
    tags = ["O"] * n
    for t, b, e in spans:
        tags[b] = f"B-{t}"
        for i in range(b + 1, e):
            tags[i] = f"I-{t}"
    return tags


def test_roundtrip_property():
    """Non-overlapping spans encoded to BIO decode back exactly
    (seeded parametrization stands in for hypothesis, SURVEY.md §5)."""
    rng = random.Random(7)
    types = ["PER", "ORG", "LOC"]
    for _ in range(500):
        n = rng.randint(0, 20)
        spans, pos = [], 0
        while pos < n:
            if rng.random() < 0.4:
                ln = rng.randint(1, min(3, n - pos))
                spans.append((rng.choice(types), pos, pos + ln))
                pos += ln
            else:
                pos += 1
        tags = spans_to_tags(spans, n)
        assert decode_bio(tags) == spans, (tags, spans)


def test_spark_decode_matches_kernel(spark):
    """The distributed posexplode path produces the kernel's spans."""
    from kg.ner.bio import bio_to_mentions

    rows = [
        ("u1", 0, ["Alice", "Smith", "met", "Bob", "."],
         ["B-PER", "I-PER", "O", "B-PER", "O"]),
        ("u1", 1, ["nothing", "here", "."], ["O", "O", "O"]),
        ("u2", 0, ["Acme", "Corp", "in", "Paris", "."],
         ["B-ORG", "I-ORG", "O", "B-LOC", "O"]),
    ]
    df = spark.createDataFrame(
        rows, "url string, sent_id int, words array<string>, tags array<string>"
    )
    got = {
        (r["url"], r["sent_id"], r["ent_type"], r["begin"], r["end"], r["surface"])
        for r in bio_to_mentions(df).collect()
    }
    assert got == {
        ("u1", 0, "PER", 0, 2, "Alice Smith"),
        ("u1", 0, "PER", 3, 4, "Bob"),
        ("u2", 0, "ORG", 0, 2, "Acme Corp"),
        ("u2", 0, "LOC", 3, 4, "Paris"),
    }


def test_flat_decode_equals_decode_bio():
    """The kernel's columnar decode: on 10k seeded tag sequences decoded
    end to end in one call, each sentence's spans equal decode_bio's.
    The sequences draw from every label, so they hold dangling I-
    tags, type switches, sentence-initial I- tags and 1-word
    sentences; the B/I/type tables come from the label list."""
    import numpy as np

    from kg.ner.bio import decode_bio_flat, label_tables
    from kg.ner.vocab import LABELS

    rng = random.Random(11)
    sents = []
    for _ in range(10_000):
        n = rng.choice([1, 1, 2, 3, rng.randint(4, 24)])
        if rng.random() < 0.5:  # runs of one type, so spans grow long
            t = rng.choice(["PER", "ORG", "LOC"])
            pool = [f"B-{t}", f"I-{t}", f"I-{t}", "O"]
            sents.append([rng.choice(pool) for _ in range(n)])
        else:
            sents.append([rng.choice(LABELS) for _ in range(n)])
    assert {s[0] for s in sents} >= {tag for tag in LABELS if tag.startswith("I-")}
    code = {tag: k for k, tag in enumerate(LABELS)}
    codes = np.array([code[tag] for s in sents for tag in s], dtype=np.int8)
    offsets = np.cumsum([0] + [len(s) for s in sents]).astype(np.int32)
    begin, end, typ = decode_bio_flat(codes, offsets, LABELS)
    types = label_tables(tuple(LABELS))[2]
    sent = np.searchsorted(offsets, begin, side="right") - 1
    got = [[] for _ in sents]
    for s, b, e, t in zip(sent, begin, end, typ):
        got[s].append((types[t], int(b - offsets[s]), int(e - offsets[s])))
    for s, tags in enumerate(sents):
        assert got[s] == decode_bio(tags), tags
