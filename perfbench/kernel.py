"""Per-phase timing of the one-crossing kernel, ``kg.pipeline._matched_pairs_gen``.

``phase_harness`` walks a pandas (url, html) batch exactly as the kernel
does, calling the kernel's own callees (``extract_text_auto``,
``split_sentences_py``, ``_Model.get().tags_of``, ``decode_bio``) and a copy
of its span-pair/rule loop, and times each phase per page, interleaved in
the kernel's order. Timing one phase over the whole batch at a time instead
lets GC pauses land in whichever phase happens to be running.

The pair loop is a mirror of the kernel's: if the kernel's loop changes,
this copy must change with it. ``kernel.total_us_per_doc`` times the real
kernel, and ``other`` (total minus the phase sum) shows any drift.
"""

from __future__ import annotations

import statistics
import time

PHASES = ("extract", "split", "tag", "bio", "pair")
COUNTS = ("sentences", "spans", "pairs_examined", "pairs_matched", "extract_fallbacks")


def phase_harness(batch) -> tuple[dict[str, float], dict[str, int], list[tuple]]:
    """Returns (seconds per phase, counts, matched rows) for one batch."""
    from kg.extract import extract_text_auto, extract_text_fast
    from kg.ner.bio import decode_bio
    from kg.ner.model import _Model
    from kg.pipeline import split_sentences_py
    from kg.relations import CONFIDENCE_THRESHOLD, RELATION_RULES

    model = _Model.get()
    rules = {t: (p, c) for t, p, c in RELATION_RULES}
    clock = time.perf_counter
    t_ext = t_split = t_tag = t_bio = t_pair = 0.0
    n_sent = n_spans = n_examined = n_fallback = 0
    rows: list[tuple] = []
    for url, html in zip(batch["url"], batch["html"]):
        t0 = clock()
        text = extract_text_auto(html)
        t1 = clock()
        sents = split_sentences_py(text)
        t2 = clock()
        t_ext += t1 - t0
        t_split += t2 - t1
        n_sent += len(sents)
        for sid, words in sents:
            a = clock()
            tags = model.tags_of([words])[0]
            b = clock()
            spans = decode_bio(tags)
            c = clock()
            t_tag += b - a
            t_bio += c - b
            n_spans += len(spans)
            if len(spans) < 2:
                continue
            for i in range(len(spans) - 1):
                _t1, b1, e1 = spans[i]
                for j in range(i + 1, len(spans)):
                    _t2, b2, e2 = spans[j]
                    n_examined += 1
                    between = " ".join(words[e1:b2]).lower() if b2 > e1 else ""
                    pc = rules.get(between)
                    if pc is None or pc[1] < CONFIDENCE_THRESHOLD:
                        continue
                    rows.append(
                        (url, sid, " ".join(words[b1:e1]), " ".join(words[b2:e2]), pc[0], pc[1])
                    )
            t_pair += clock() - c
        # untimed: does this page take the spec parser fallback?
        n_fallback += extract_text_fast(html) is None
    secs = dict(zip(PHASES, (t_ext, t_split, t_tag, t_bio, t_pair)))
    counts = dict(
        zip(COUNTS, (n_sent, n_spans, n_examined, len(rows), n_fallback))
    )
    return secs, counts, rows


def kernel_rows(batch) -> list[tuple]:
    """The real kernel's output rows for one batch."""
    from kg.pipeline import _matched_pairs_gen

    out = []
    for df in _matched_pairs_gen(iter([batch])):
        out.extend(
            zip(df["url"], df["sent_id"], df["subj_surface"], df["obj_surface"],
                df["pred"], df["confidence"])
        )
    return out


def measure(batch, reps: int = 3) -> dict[str, float]:
    """Interleave ``reps`` harness passes with ``reps`` real-kernel passes
    over ``batch`` (after one warm-up of each); report per-doc medians."""
    n = len(batch)
    kernel_rows(batch)
    phase_harness(batch)
    phase_runs, totals = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        kernel_rows(batch)
        totals.append(time.perf_counter() - t0)
        secs, counts, _ = phase_harness(batch)
        phase_runs.append(secs)
    us = 1e6 / n
    out = {f"kernel.{p}_us_per_doc": statistics.median(r[p] for r in phase_runs) * us for p in PHASES}
    total = statistics.median(totals) * us
    out["kernel.other_us_per_doc"] = total - sum(out.values())
    out["kernel.total_us_per_doc"] = total
    out["kernel.extract_fallback_frac"] = counts["extract_fallbacks"] / n
    for c in ("sentences", "spans", "pairs_examined", "pairs_matched"):
        out[f"kernel.{c}"] = counts[c] / n
    return out
