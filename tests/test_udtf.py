"""UDTF BIO-decode parity + driver-registry contract tests."""

import pytest


def test_udtf_matches_arrow_decode(spark, tmp_path):
    """The @udtf lateral decode must be row-identical to the
    vectorized pandas-UDF decode path (same decode_bio kernel)."""
    from kg.fixtures import write_conll_fixture
    from kg.ner.bio import bio_to_mentions
    from kg.ner.conll import read_conll
    from kg.ner.udtf import bio_decode_lateral

    path = str(tmp_path / "gold.txt")
    write_conll_fixture(path, n_sentences=60, seed=11, noise=0.0)
    gold = read_conll(spark, path)

    via_udtf = {
        (r["doc_id"], r["sent_id"], r["ent_type"], r["begin"], r["end"], r["surface"])
        for r in bio_decode_lateral(
            gold.select("doc_id", "sent_id", "words", "tags")
        ).collect()
    }
    via_arrow = {
        (r["url"], r["sent_id"], r["ent_type"], r["begin"], r["end"], r["surface"])
        for r in bio_to_mentions(
            gold.withColumnRenamed("doc_id", "url")
        ).collect()
    }
    assert via_udtf == via_arrow
    assert len(via_udtf) > 0


def test_udtf_handles_empty_and_dangling(spark):
    from kg.ner.udtf import bio_decode_lateral

    df = spark.createDataFrame(
        [
            ("d", 0, ["a", "b"], ["O", "O"]),
            ("d", 1, ["x", "y", "z"], ["I-LOC", "I-LOC", "B-PER"]),
        ],
        "doc_id string, sent_id int, words array<string>, tags array<string>",
    )
    rows = {
        (r["sent_id"], r["ent_type"], r["begin"], r["end"], r["surface"])
        for r in bio_decode_lateral(df).collect()
    }
    # sentence 0: no spans; sentence 1: dangling I-LOC opens a span
    assert rows == {(1, "LOC", 0, 2, "x y"), (1, "PER", 2, 3, "z")}


def test_driver_registry_contract():
    """Exactly 50 driver entries, KG core first, every extra local."""
    import __spark_entry__ as E

    q = E.queries()
    assert len(q) == 50
    names = list(q)
    assert names[:5] == [
        "kg_mentions", "kg_linked", "kg_components", "kg_triples",
        "conll_eval_prf",
    ]
    aq = E.all_queries()
    assert set(q) <= set(aq)
    # every driver query that claims an oracle has one registered
    oracles = E.oracle_sql()
    assert "q_set_ops" in oracles and "stream_sliding_value" in oracles
    # every oracle belongs to a registered query: no orphan SQL twins
    assert set(oracles) <= set(aq)


@pytest.mark.parametrize("n", [0, 1])
def test_driver_outputs_are_hashable(spark, n):
    """No array/map/struct columns in any driver-facing output schema
    (the driver's pandas canonicalizer crashes on list values). Batch
    queries only — streaming entries execute on build and their
    scalar-only schemas are covered by the streaming tests."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    import __spark_entry__ as E

    items = [
        (name, fn)
        for name, fn in E.queries().items()
        if not name.startswith("stream_")
    ]
    # split across the two param runs to bound per-test time
    for name, fn in items[n::2]:
        df = fn(spark, "/root/testdata/sf0.001")
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        assert not bad, f"{name} has driver-unhashable columns {bad}"
