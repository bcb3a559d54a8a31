"""kg — a PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of the reference NER project
(`alessandro-gangi/NER-with-HuggingFace-models`; mount empty this
session — see SURVEY.md §0, all reference semantics are reconstructed
from BASELINE.json's north_star) as the mention-detection stage of a
distributed KG builder over Common-Crawl-style web pages:

    pages(url, warc_ts, html, text, lang)
      -> K1 html_extract (in the one Arrow crossing, byte-identical text)
      -> M2..M7 NER core (subword tokenize, deterministic scorer,
         subword->word alignment, BIO decode)
      -> K3 alias candidate gen (broadcast hash join)
      -> K4 embedding cosine re-rank (numpy alias verdict, broadcast join)
      -> K5 co-sentence pair gen (span pairs within a sentence, no self-join)
      -> K6 relation extraction
      -> K7 canonicalization (same-as union-find in the dictionary compile)
      -> K8 partitioned (subj, pred, obj) triples

Everything is DataFrame-first; Python crosses the JVM boundary only
inside vectorized Arrow/pandas UDFs (no per-row Python anywhere).
"""

__version__ = "0.1.0"
