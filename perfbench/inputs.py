"""Benchmark inputs: seeded page corpora and their gold triples, cached on disk.

Inputs are generated before anything is timed and are never passed to the
program except as a parquet directory. A corpus is a list of "chunks"; each
chunk becomes one parquet part file, so the scan splits the way
``kg.fixtures.gen_pages`` output does (many small part files).

Two page kinds:

* fixture pages: ``kg.fixtures.page_record(i, seed, noise)``, the same
  per-index function ``gen_pages`` evaluates, so the rows are identical to
  ``gen_pages(spark, n, seed, noise)`` (checked by ``selftest.py``);
* list pages (``list_page_record``): one sentence naming 200-300 registry
  entities as ``P works at O , P works at O , ... .``. Each ``works at``
  pair is one ``works_for`` triple and no other span pair matches a
  relation rule, so the gold is known by construction. These pages make
  the kernel's O(spans^2 x gap) pair loop dominate.

The cache key hashes the generator sources (this file, ``kg/fixtures.py``
and ``kg/ner/vocab.py``) with every generation parameter, so a generator
change never serves a stale corpus. A cached entry is used only if its
``_SUCCESS`` marker exists and the row counts in the parquet footers match
the counts the marker records.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
import shutil
from concurrent.futures import ProcessPoolExecutor
from dataclasses import asdict, dataclass
from datetime import timezone
from html import escape

CHUNK_PAGES = 1000
KEEP_CACHED = 3  # corpora kept per workload; older ones are evicted

PAGE_COLUMNS = ("url", "warc_ts", "html", "text", "lang")
GOLD_COLUMNS = ("subj", "pred", "obj", "url", "sent_id")


@dataclass(frozen=True)
class CorpusSpec:
    """What to generate: ``pages`` fixture pages plus ``lists`` list pages
    spread evenly among them, from ``seed`` (and fixture ``noise``)."""

    name: str
    pages: int
    lists: int
    seed: int
    noise: float = 0.0

    def chunks(self) -> list[list[tuple[str, int]]]:
        """Page order, split into part files: fixture page indices in
        order, list page ``j`` in the middle of chunk ``j * n // lists``."""
        n_chunks = max(1, -(-self.pages // CHUNK_PAGES))
        chunks: list[list[tuple[str, int]]] = [
            [("page", i) for i in range(c * CHUNK_PAGES, min(self.pages, (c + 1) * CHUNK_PAGES))]
            for c in range(n_chunks)
        ]
        for j in range(self.lists):
            c = chunks[j * n_chunks // self.lists]
            c.insert(len(c) // 2, ("list", j))
        return chunks


def _source_hash() -> str:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.sha256()
    for rel in ("perfbench/inputs.py", "kg/fixtures.py", "kg/ner/vocab.py"):
        with open(os.path.join(root, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()


# ----------------------------------------------------------- list pages

LIST_PAIRS = (100, 150)  # (PER, ORG) pairs per list page: 200-300 spans


def list_page_record(j: int, seed: int) -> dict:
    """List page #j: html/text plus its gold triples. Gold subj/obj are
    registry ``gold_component`` ids, as in the fixture gold."""
    from kg.fixtures import PRED_WORKS_FOR, _registry_by_type

    by_type = _registry_by_type()
    rng = random.Random(f"perfbench-list:{seed}:{j}")
    url = f"https://lists.example.net/l/{j}"
    words: list[str] = []
    gold = set()
    for k in range(rng.randint(*LIST_PAIRS)):
        per = rng.choice(by_type["PER"])
        org = rng.choice(by_type["ORG"])
        if k:
            words.append(",")
        words += per["surface"].split() + ["works", "at"] + org["surface"].split()
        # the list sentence is text block 1 (block 0 is the title)
        gold.add((per["gold_component"], PRED_WORKS_FOR, org["gold_component"], url, 1))
    sentence = " ".join(words + ["."])
    title = f"entity list {j}"
    html = (
        f"<html><head><title>{escape(title)}</title></head>"
        f"<body><p>{escape(sentence)}</p></body></html>"
    )
    return {
        "url": url,
        "warc_ts": None,
        "html": html.encode("utf-8"),
        "text": "\n".join([title, sentence]),
        "lang": "en",
        "gold": sorted(gold),
    }


def _fixture_record(i: int, seed: int, noise: float) -> dict:
    from kg.fixtures import page_record

    r = page_record(i, seed, noise)
    r["gold"] = [
        (t["subj_entity"], t["pred"], t["obj_entity"], t["url"], t["sent_id"])
        for t in r["gold_triples"]
    ]
    return r


def _write_chunk(path: str, items: list[tuple[str, int]], seed: int, noise: float):
    """Generate one part file; returns (rows, gold rows). Runs in a pool
    worker, so everything it needs arrives as arguments."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kg.fixtures import BASE_TS

    recs = [
        _fixture_record(i, seed, noise) if kind == "page" else list_page_record(i, seed)
        for kind, i in items
    ]
    cols = {name: [r[name] for r in recs] for name in PAGE_COLUMNS}
    cols["warc_ts"] = [
        (ts or BASE_TS).replace(tzinfo=timezone.utc) for ts in cols["warc_ts"]
    ]
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    pq.write_table(pa.table(cols, schema=schema), path)
    return len(recs), [g for r in recs for g in r["gold"]]


@dataclass
class Corpus:
    pages_path: str
    gold_path: str
    n_docs: int
    n_gold: int

    def gold_set(self) -> set[tuple]:
        import pyarrow.parquet as pq

        t = pq.read_table(self.gold_path)
        return set(zip(*(t.column(c).to_pylist() for c in GOLD_COLUMNS)))

    def sample(self, n: int):
        """The first ``n`` rows of the corpus as a pandas (url, html)
        frame: the shape ``_matched_pairs_gen`` receives per batch."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        files = sorted(f for f in os.listdir(self.pages_path) if f.endswith(".parquet"))
        tables, got = [], 0
        for f in files:
            if got >= n:
                break
            t = pq.read_table(os.path.join(self.pages_path, f), columns=["url", "html"])
            tables.append(t.slice(0, n - got))
            got += tables[-1].num_rows
        return pa.concat_tables(tables).to_pandas()


def _footer_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _cached(entry: str) -> Corpus | None:
    marker = os.path.join(entry, "_SUCCESS")
    if not os.path.exists(marker):
        return None
    with open(marker) as f:
        meta = json.load(f)
    c = Corpus(
        os.path.join(entry, "pages"), os.path.join(entry, "gold.parquet"),
        meta["n_docs"], meta["n_gold"],
    )
    try:
        import pyarrow.parquet as pq

        if (
            _footer_rows(c.pages_path) != c.n_docs
            or pq.read_metadata(c.gold_path).num_rows != c.n_gold
        ):
            return None
    except OSError:
        return None
    return c


def _evict(cache_root: str, name: str, keep: str) -> None:
    entries = [
        os.path.join(cache_root, d)
        for d in os.listdir(cache_root)
        if d.startswith(name + "-") and os.path.join(cache_root, d) != keep
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_CACHED - 1:]:
        shutil.rmtree(old, ignore_errors=True)


def _stop_resource_tracker() -> None:
    """The spawn pool starts multiprocessing's resource tracker, which would
    otherwise outlive the pool until interpreter exit; stop and reap it."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def ensure_corpus(spec: CorpusSpec, cache_root: str, workers: int) -> Corpus:
    """Return the cached corpus for ``spec``, generating it if absent."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = hashlib.sha256(
        (_source_hash() + json.dumps(asdict(spec), sort_keys=True)).encode()
    ).hexdigest()[:16]
    entry = os.path.join(cache_root, f"{spec.name}-{key}")
    hit = _cached(entry)
    if hit is not None:
        os.utime(entry)
        return hit
    shutil.rmtree(entry, ignore_errors=True)
    pages_dir = os.path.join(entry, "pages")
    os.makedirs(pages_dir)
    chunks = spec.chunks()
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=workers, mp_context=ctx) as pool:
        futs = [
            pool.submit(
                _write_chunk, os.path.join(pages_dir, f"part-{c:05d}.parquet"),
                items, spec.seed, spec.noise,
            )
            for c, items in enumerate(chunks)
        ]
        results = [f.result() for f in futs]
    _stop_resource_tracker()
    n_docs = sum(r[0] for r in results)
    gold = sorted({g for r in results for g in r[1]})
    cols = list(zip(*gold)) if gold else [[] for _ in GOLD_COLUMNS]
    schema = pa.schema(
        [("subj", pa.int64()), ("pred", pa.string()), ("obj", pa.int64()),
         ("url", pa.string()), ("sent_id", pa.int32())]
    )
    pq.write_table(
        pa.table({c: list(v) for c, v in zip(GOLD_COLUMNS, cols)}, schema=schema),
        os.path.join(entry, "gold.parquet"),
    )
    with open(os.path.join(entry, "_SUCCESS"), "w") as f:
        json.dump({"n_docs": n_docs, "n_gold": len(gold), "spec": asdict(spec)}, f)
    _evict(cache_root, spec.name, entry)
    return Corpus(pages_dir, os.path.join(entry, "gold.parquet"), n_docs, len(gold))
