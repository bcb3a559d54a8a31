"""Self-test of the benchmark's own generators and kernel harness.

    python3 perfbench/selftest.py

Checks, on a small corpus:

1. the pages the benchmark writes equal ``kg.fixtures.gen_pages`` rows;
2. the gold triples of a corpus with list pages equal both the staged
   composition ``stage_triples(stage_triples_raw(...), components)`` and
   the one-crossing path ``stage_triples(turbo_triples_raw(...), ...)``;
3. the kernel-phase harness yields exactly the rows ``_matched_pairs_gen``
   yields on the same batch.

Exits 0 if all hold, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COLS = ["subj", "pred", "obj", "url", "sent_id"]


def _rows(df) -> set[tuple]:
    pdf = df.select(*COLS).toPandas()
    return set(zip(*(pdf[c].tolist() for c in COLS)))


def main() -> int:
    sys.path[0] = ROOT
    from perfbench.inputs import CorpusSpec, ensure_corpus
    from perfbench.kernel import kernel_rows, phase_harness

    work = os.path.join(ROOT, ".perfbench", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    nproc = len(os.sched_getaffinity(0))
    plain = ensure_corpus(CorpusSpec("plain", 300, 0, seed=5), work, nproc)
    mixed = ensure_corpus(CorpusSpec("mixed", 200, 6, seed=5), work, nproc)

    from kg import fixtures as FX
    from kg.pipeline import (
        stage_components, stage_extract, stage_linked, stage_mentions,
        stage_sentences, stage_triples, stage_triples_raw, turbo_triples_raw,
    )
    from kg.session import build_session

    spark = build_session(
        app_name="perfbench-selftest", master=f"local[{nproc}]",
        shuffle_partitions=2 * nproc,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    failures = []
    try:
        cols = ["url", "warc_ts", "html", "text", "lang"]
        ours = spark.read.parquet(plain.pages_path).select(*cols)
        theirs = FX.gen_pages(spark, 300, seed=5).select(*cols)
        diff = ours.exceptAll(theirs).count() + theirs.exceptAll(ours).count()
        print(f"pages equal gen_pages: {diff == 0} ({diff} differing rows)")
        if diff:
            failures.append("pages")

        pages = spark.read.parquet(mixed.pages_path)
        aliases, evecs = FX.aliases_df(spark), FX.entity_vecs_df(spark)
        comps = stage_components(aliases)
        sents = stage_sentences(stage_extract(pages))
        linked = stage_linked(stage_mentions(sents), aliases, evecs)
        staged = _rows(stage_triples(stage_triples_raw(linked, sents), comps))
        turbo = _rows(stage_triples(turbo_triples_raw(pages, aliases, evecs), comps))
        gold = mixed.gold_set()
        n_list = sum(1 for t in gold if t[3].startswith("https://lists."))
        print(f"gold triples: {len(gold)} ({n_list} from list pages)")
        for name, got in (("staged", staged), ("turbo", turbo)):
            ok = got == gold
            print(f"gold equals {name}: {ok} ({len(got - gold)} extra, {len(gold - got)} missing)")
            if not ok:
                failures.append(name)
        if not n_list:
            failures.append("no list-page triples")

        batch = mixed.sample(mixed.n_docs)
        _, counts, harness = phase_harness(batch)
        kernel = kernel_rows(batch)
        ok = harness == kernel
        print(f"harness rows equal kernel rows: {ok} ({len(harness)} vs {len(kernel)})")
        if not ok:
            failures.append("harness")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print("selftest:", "FAILED " + ", ".join(failures) if failures else "ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
