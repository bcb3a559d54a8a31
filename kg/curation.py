"""Training-data curation operators beyond the dedup/ANN families:
chunking for context-window packing, vocabulary building, stratified
deterministic sampling, PII scrubbing, repetition scoring, BPE
merge training, and a bigram LM table.

All are pure Catalyst (no Python in the plan) with exact DuckDB
oracles, and each one's scale story is a single shuffle or none:

  * chunking        — per-row explode, NO shuffle
  * vocab top-k     — explode + partial/final hash agg (map-side
                      combine) + TakeOrderedAndProject
  * stratified
    sampling        — per-row md5 threshold, NO shuffle, reproducible
                      across engines/runs (no rand())
  * PII scrub       — per-row regexp_replace chain, NO shuffle
  * repetition      — per-row token histogram via explode + two-level
                      agg keyed on (doc_id, token) then doc_id
  * BPE merges      — one corpus pass builds the word vocab; every
                      merge round aggregates the dictionary only
  * bigram LM       — two aggs keyed on tokens, never positions
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg.relational import T, query, sql_ws_tokens, ws_tokens

# ------------------------------------------------------------- chunking

CHUNK_TOKENS = 50
CHUNK_STRIDE = 40  # 10-token overlap between consecutive chunks


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Split each document into fixed-size token chunks with overlap —
    the context-window packing step of an LLM training pipeline.
    Emits (doc_id, chunk_id, start_tok, n_tokens, chunk_text); the
    last chunk may be short. Pure per-row explode: no shuffle at any
    corpus size."""
    tokens = ws_tokens(F.col("text"))
    starts = F.sequence(F.lit(1), F.greatest(F.size(tokens), F.lit(1)), F.lit(stride))
    return (
        docs.select("doc_id", tokens.alias("t"), F.explode(starts).alias("start_tok"))
        .select(
            "doc_id",
            (((F.col("start_tok") - 1) / stride) + 1).cast("long").alias("chunk_id"),
            F.col("start_tok").cast("long").alias("start_tok"),
            F.least(
                F.lit(chunk_tokens), F.size("t") - F.col("start_tok") + 1
            ).cast("long").alias("n_tokens"),
            F.concat_ws(
                " ", F.slice("t", F.col("start_tok"), F.lit(chunk_tokens))
            ).alias("chunk_text"),
        )
        .filter(F.col("n_tokens") > 0)
    )


# ------------------------------------------------------- vocab building


def _topk_ranked(freq: DataFrame, key: str, k: int) -> DataFrame:
    """Global top-k of a (key, freq) table with a dense 1..k rank:
    orderBy+limit compiles to TakeOrderedAndProject (no full sort);
    the rank window then runs over only the k survivors, so the
    single-partition window is bounded by k, not the corpus."""
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("freq"), F.asc(key))
    return (
        freq.orderBy(F.desc("freq"), F.asc(key))
        .limit(k)
        .select(key, "freq", F.row_number().over(w).cast("long").alias("rank"))
    )


def token_vocab_topk(docs: DataFrame, k: int = 100) -> DataFrame:
    """Corpus-wide token frequency table, top-k by (freq desc, token).
    explode -> partial+final hash agg (map-side combine keeps the
    shuffle at distinct-token size, not corpus-token size) ->
    TakeOrderedAndProject for the global top-k (no full sort)."""
    freq = (
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return _topk_ranked(freq, "token", k)


# ------------------------------------------------- deterministic sample


def stratified_sample(
    docs: DataFrame, rates: dict[str, int] | None = None
) -> DataFrame:
    """Deterministic per-language Bernoulli sampling: keep a doc iff
    the first two hex chars of md5(doc_id) fall below the language's
    threshold (rates in /256ths). No rand() — reruns, resumes, and
    both engines pick the IDENTICAL sample; no shuffle either (the
    filter is per-row). This is how a production corpus downsamples
    over-represented languages reproducibly."""
    rates = rates or {"en": 64, "fr": 128, "es": 128, "de": 192, "zh": 256}
    thresh = F.lit(None).cast("string")
    for lang, r in rates.items():
        # rate >= 256 = keep everything: 'zz' sorts above every hex
        # pair ('100' would NOT — lexicographic compare, not numeric)
        t = "zz" if r >= 256 else f"{r:02x}"
        thresh = F.when(F.col("lang") == lang, F.lit(t)).otherwise(thresh)
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return (
        docs.withColumn("_t", thresh)
        .filter(F.col("_t").isNotNull() & (h2 < F.col("_t")))
        .select("doc_id", "lang", "source", "n_chars")
    )


# ----------------------------------------------------------- PII scrub

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# demo-scope: dashed formats only (matches the synthetic planted PII);
# a production PII pass also needs parenthesized/space/international
# formats — swap the pattern, the operator shape is unchanged
PHONE_RE = r"\+?[0-9]{3}-[0-9]{3,4}-[0-9]{4}"
IP_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails, dashed phone numbers, and IPv4 literals —
    per-row regexp_replace chain, no shuffle. Each kind is COUNTED on
    the output of the previous replacement, not the original text, so
    the counts equal the redactions actually performed ('a@10.0.0.1.com'
    is one email and zero IPs — the email replace consumed it; counting
    every pattern on the original would report a phantom IP)."""
    col = F.col(text_col)
    n = lambda src, pat: F.size(
        F.regexp_extract_all(src, F.lit(pat), 0)
    ).cast("long")
    after_email = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    after_phone = F.regexp_replace(after_email, PHONE_RE, "<PHONE>")
    scrubbed = F.regexp_replace(after_phone, IP_RE, "<IP>")
    return df.select(
        "doc_id",
        n(col, EMAIL_RE).alias("n_email"),
        n(after_email, PHONE_RE).alias("n_phone"),
        n(after_phone, IP_RE).alias("n_ip"),
        scrubbed.alias("scrubbed"),
    )


# ---------------------------------------------------------- repetition


def repetition_score(docs: DataFrame) -> DataFrame:
    """Per-doc repetition signal: the most frequent token's share of
    the document (spam/boilerplate flag). Ties on frequency break to
    the lexicographically smallest token, so the result is
    deterministic in both engines. Two-level agg: (doc_id, token)
    histogram then per-doc max — the shuffle keys on (doc_id, token),
    never a cross product."""
    hist = (
        docs.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sizes = hist.groupBy("doc_id").agg(
        F.max("cnt").alias("top_freq"), F.sum("cnt").alias("n_tokens")
    )
    top = (
        hist.join(sizes, "doc_id")
        .filter(F.col("cnt") == F.col("top_freq"))
        .groupBy("doc_id", "top_freq", "n_tokens")
        .agg(F.min("token").alias("top_token"))
    )
    return top.select(
        "doc_id",
        "top_token",
        "top_freq",
        "n_tokens",
        F.round(F.col("top_freq").cast("double") / F.col("n_tokens"), 4).alias(
            "rep_ratio"
        ),
    )


# ------------------------------------------------- decontamination


def decontaminate(
    docs: DataFrame, phrases: list[str], n: int = 3
) -> DataFrame:
    """Benchmark decontamination: flag documents containing any of the
    banned word n-grams (eval-set phrases must not leak into training
    data). The banned list is a plan literal (eval sets are tiny), so
    the whole check is a PER-ROW array_intersect of the doc's distinct
    n-gram set against the literal — zero shuffle, zero join, scales
    as a map-only pass at any corpus size. Emits the hit count and a
    0/1 flag per doc.

    Matching is WHITESPACE- and CASE-insensitive (r4 advice): both the
    doc and the banned phrases are lowercased, and tokenization splits
    on any ASCII whitespace run (kg.relational.WS_REGEX — the explicit
    Java-``\\s`` class both engines agree on) — an eval phrase
    separated by tab/newline/double-space or differing in case still
    flags. (Punctuation variants do not: a production pass would also
    strip punctuation before comparing.)

    Every phrase must normalize to exactly n words: an off-length
    phrase could never equal any n-gram, and a decontamination op that
    silently matches nothing is the worst failure mode (eval leakage
    passes unflagged) — hence the hard check, not a docstring caveat.
    One call sweeps ONE n: it is ``decontaminate_multi`` with a
    single width; a real decontamination pass runs several (e.g. n in
    {8, 13} word-grams) and ORs the flags."""
    return decontaminate_multi(docs, {n: phrases})


def _decon_normalize(phrases: list[str], n: int) -> list[str]:
    """Lowercase + whitespace-normalize, enforcing exactly-n words."""
    if not phrases:
        raise ValueError("decontaminate: empty banned-phrase list")
    norm = [" ".join(p.lower().split()) for p in phrases]
    # `not q` guards the n=1 hole: a whitespace-only phrase normalizes
    # to "" whose split has len 1, yet "" can never equal a (non-empty)
    # token — the silent-no-match failure this check exists to prevent
    bad = [p for p, q in zip(phrases, norm) if not q or len(q.split(" ")) != n]
    if bad:
        raise ValueError(
            f"decontaminate: phrases must be exactly {n} words: {bad!r}"
        )
    return norm


def _decon_hits(n: int, norm: list[str]):
    """Per-doc banned-hit count for ONE n — a pure map-side Column."""
    tokens = ws_tokens(F.col("text"), lower=True)
    sh = F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    banned = F.array(*[F.lit(p) for p in norm])
    return F.size(F.array_intersect(F.array_distinct(sh), banned))


def decontaminate_multi(
    docs: DataFrame, phrases_by_n: dict[int, list[str]]
) -> DataFrame:
    """The decontamination pass (``decontaminate`` is its one-width
    call): sweep SEVERAL gram widths (e.g. n in {8, 13}) in one call and OR
    the flags. All widths evaluate in the SAME map-only projection —
    no join, no shuffle, one corpus pass regardless of how many n's —
    so the 100 TB cost is identical to one single-n sweep plus the
    extra per-row gram arrays. Emits the summed hit count and the
    OR'd 0/1 flag."""
    if not phrases_by_n:
        raise ValueError("decontaminate_multi: empty phrase map")
    hit_cols = [
        _decon_hits(n, _decon_normalize(ps, n))
        for n, ps in sorted(phrases_by_n.items())
    ]
    total = hit_cols[0]
    for h in hit_cols[1:]:
        total = total + h
    return docs.select(
        "doc_id",
        total.cast("long").alias("n_banned_hits"),
        (total > 0).cast("int").alias("contaminated"),
    )


# ---------------------------------------------- training-batch shuffle


def shuffle_batches(docs: DataFrame, n_batches: int = 64) -> DataFrame:
    """Deterministic global training-batch assignment: batch id and
    within-batch position both derive from an md5 hash of doc_id — a
    reproducible corpus-wide shuffle (no rand(): reruns, resumes, and
    both engines produce the identical epoch order). One exchange
    keyed on batch; the per-batch sort is batch-sized (corpus /
    n_batches — production picks n_batches so a batch fits an
    executor)."""
    from pyspark.sql import Window

    from kg.dedup import _neutral_hash64  # one definition of the hash

    h = _neutral_hash64(F.col("doc_id").cast("string"))
    w = Window.partitionBy("batch").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", h.alias("h"))
        .withColumn("batch", F.pmod(F.col("h"), F.lit(n_batches)))
        .select(
            "doc_id",
            "batch",
            F.row_number().over(w).cast("long").alias("pos"),
        )
    )


# ------------------------------------------------ sequence packing


PACK_SEQ_LEN = 128


def pack_sequences(
    docs: DataFrame, seq_len: int = PACK_SEQ_LEN, n_batches: int = 64
) -> DataFrame:
    """GPT-style training-sequence packing: put the corpus in the
    deterministic epoch order (shuffle_batches), concatenate the
    token streams within each batch, and cut every ``seq_len`` tokens
    — documents may span sequence boundaries (the standard
    concat-and-cut pretraining layout: zero padding waste, no
    bin-packing solver). Emits per non-empty doc its batch/order key,
    token count, offset in the packed stream, and the first/last
    sequence ids it occupies; a trainer slices sequence s as tokens
    [s*seq_len, (s+1)*seq_len) of the batch stream. All integer
    arithmetic — identical across engines, reruns, partitionings.

    Scale shape: ONE corpus scan (hash, batch and token count come
    from the same select — an earlier draft ran shuffle_batches and a
    second scan for counts, then joined the two corpus-sized sides on
    doc_id; r5 review finding), one exchange keyed on batch, and a
    batch-sized window whose two functions (pos + running sum) share
    a single sort — each batch packs independently (exactly how epoch
    shards pack on a real cluster; n_batches is chosen so a batch
    fits an executor). Empty docs are dropped BEFORE ordering, so
    ``pos`` is the gapless rank among packed docs (same relative
    order as shuffle_batches, renumbered)."""
    from pyspark.sql import Window

    from kg.dedup import _neutral_hash64  # one definition of the hash

    h = _neutral_hash64(F.col("doc_id").cast("string"))
    base = (
        docs.select(
            "doc_id",
            h.alias("h"),
            F.size(ws_tokens(F.col("text"))).cast("long").alias("n_tok"),
        )
        .filter(F.col("n_tok") > 0)
        .withColumn("batch", F.pmod(F.col("h"), F.lit(n_batches)))
    )
    wp = Window.partitionBy("batch").orderBy("h", "doc_id")
    start = F.coalesce(
        F.sum("n_tok").over(wp.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("long")
    return base.select(
        "doc_id",
        "batch",
        F.row_number().over(wp).cast("long").alias("pos"),
        "n_tok",
        start.alias("tok_start"),
        F.floor(start / seq_len).cast("long").alias("seq_first"),
        F.floor((start + F.col("n_tok") - 1) / seq_len)
        .cast("long")
        .alias("seq_last"),
    )


# ------------------------------------------------------- driver queries


DECON_PHRASE = "zzq eval holdout"  # planted benchmark phrase (3-gram)
# a second eval phrase at a DIFFERENT gram width for the multi-n sweep
DECON_PHRASE5 = "zzv hidden test answer key"  # 5-gram


@query(
    "text_decontaminate",
    f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' {DECON_PHRASE}'
                  ELSE text END AS text
      FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(
                         generate_series(1, len(t) - 2),
                         i -> array_to_string(t[i:i+2], ' ')))
                  ELSE CAST([] AS VARCHAR[]) END AS grams
      FROM (SELECT doc_id, {sql_ws_tokens("text", lower=True)} AS t
            FROM d))
    SELECT doc_id,
           CAST(len(list_intersect(grams, ['{DECON_PHRASE}'])) AS BIGINT)
             AS n_banned_hits,
           CAST(CASE WHEN len(list_intersect(grams, ['{DECON_PHRASE}'])) > 0
                     THEN 1 ELSE 0 END AS INT) AS contaminated
    FROM sh
    """,
    extra=True,
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the synthetic corpus is random tokens, so the query PLANTS the
    # banned phrase into every 7th doc (identically in the oracle —
    # the q_text_pii_scrub pattern); the check itself runs over real
    # engine expressions and must flag exactly those docs
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" " + DECON_PHRASE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return decontaminate(d, [DECON_PHRASE])


@query(
    "text_decontaminate_multi",
    f"""
    WITH d AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0 THEN ' {DECON_PHRASE}' ELSE '' END
             || CASE WHEN doc_id % 11 = 0 THEN ' {DECON_PHRASE5}' ELSE '' END
               AS text
      FROM documents),
    toks AS (SELECT doc_id, {sql_ws_tokens("text", lower=True)} AS t FROM d),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN len(list_intersect(
                         list_distinct(list_transform(
                           generate_series(1, len(t) - 2),
                           i -> array_to_string(t[i:i+2], ' '))),
                         ['{DECON_PHRASE}']))
                  ELSE 0 END AS h3,
             CASE WHEN len(t) >= 5
                  THEN len(list_intersect(
                         list_distinct(list_transform(
                           generate_series(1, len(t) - 4),
                           i -> array_to_string(t[i:i+4], ' '))),
                         ['{DECON_PHRASE5}']))
                  ELSE 0 END AS h5
      FROM toks)
    SELECT doc_id,
           CAST(h3 + h5 AS BIGINT) AS n_banned_hits,
           CAST(CASE WHEN h3 + h5 > 0 THEN 1 ELSE 0 END AS INT)
             AS contaminated
    FROM sh
    """,
    extra=True,
)
def q_text_decontaminate_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two phrases at two gram widths, planted on different doc strides
    # (doc_id % 77 == 0 gets both — the OR/sum must agree there too)
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" " + DECON_PHRASE)).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 11 == 0, F.lit(" " + DECON_PHRASE5)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return decontaminate_multi(d, {3: [DECON_PHRASE], 5: [DECON_PHRASE5]})


@query(
    "corpus_shuffle_batches",
    """
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM documents)
    SELECT doc_id, CAST(h % 64 AS BIGINT) AS batch,
           CAST(ROW_NUMBER() OVER (PARTITION BY h % 64
                                   ORDER BY h, doc_id) AS BIGINT) AS pos
    FROM h
    """,
    extra=True,
)
def q_corpus_shuffle_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shuffle_batches(T(spark, sf_dir, "documents"))


@query(
    "corpus_pack_sequences",
    f"""
    WITH b AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS h,
             CAST(len({sql_ws_tokens("text")}) AS BIGINT) AS n_tok
      FROM documents),
    nb AS (
      SELECT doc_id, h, CAST(h % 64 AS BIGINT) AS batch, n_tok
      FROM b WHERE n_tok > 0),
    p AS (
      SELECT doc_id, batch, n_tok,
             CAST(ROW_NUMBER() OVER (PARTITION BY batch
                                     ORDER BY h, doc_id) AS BIGINT) AS pos,
             CAST(COALESCE(SUM(n_tok) OVER (
                    PARTITION BY batch ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS tok_start
      FROM nb)
    SELECT doc_id, batch, pos, n_tok, tok_start,
           tok_start // {PACK_SEQ_LEN} AS seq_first,
           (tok_start + n_tok - 1) // {PACK_SEQ_LEN} AS seq_last
    FROM p
    """,
    extra=True,
)
def q_corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(T(spark, sf_dir, "documents"))


@query(
    "text_chunking",
    f"""
    WITH toks AS (
      SELECT doc_id, {sql_ws_tokens("text")} AS t FROM documents),
    starts AS (
      SELECT doc_id, t,
             unnest(generate_series(1, GREATEST(len(t), 1), {CHUNK_STRIDE}))
               AS start_tok
      FROM toks)
    SELECT doc_id,
           CAST((start_tok - 1) // {CHUNK_STRIDE} + 1 AS BIGINT) AS chunk_id,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(LEAST({CHUNK_TOKENS}, len(t) - start_tok + 1) AS BIGINT)
             AS n_tokens,
           array_to_string(t[start_tok:start_tok + {CHUNK_TOKENS} - 1], ' ')
             AS chunk_text
    FROM starts
    WHERE len(t) - start_tok + 1 > 0
    """,
    extra=True,  # local-only: registry stays at 50
)
def q_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(T(spark, sf_dir, "documents"))


@query(
    "vocab_topk",
    f"""
    WITH freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest({sql_ws_tokens("text")}) AS token FROM documents)
      GROUP BY token)
    SELECT token, freq,
           CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT)
             AS rank
    FROM freq ORDER BY freq DESC, token LIMIT 100
    """,
    extra=True,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_vocab_topk(T(spark, sf_dir, "documents"))


@query(
    "corpus_sample_stratified",
    """
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE lang WHEN 'en' THEN '40' WHEN 'fr' THEN '80'
                    WHEN 'es' THEN '80' WHEN 'de' THEN 'c0'
                    WHEN 'zh' THEN 'zz' END
    """,
    extra=True,
)
def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stratified_sample(T(spark, sf_dir, "documents"))


@query(
    "text_pii_scrub",
    r"""
    WITH d AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@mail.example.com or +155-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             ' at 10.0.' || (doc_id % 256) || '.1' AS text
      FROM documents),
    steps AS (
      SELECT doc_id, text,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS after_email
      FROM d),
    steps2 AS (
      SELECT *, regexp_replace(after_email,
               '\+?[0-9]{3}-[0-9]{3,4}-[0-9]{4}', '<PHONE>', 'g')
               AS after_phone
      FROM steps)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_email,
           CAST(len(regexp_extract_all(after_email,
             '\+?[0-9]{3}-[0-9]{3,4}-[0-9]{4}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(after_phone,
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ip,
           regexp_replace(after_phone,
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS scrubbed
    FROM steps2
    """,
    extra=True,
)
def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the synthetic corpus has no real PII, so the query plants one
    # email/phone/IP per doc (derived from doc_id, identically in the
    # oracle) — the scrub itself runs over real engine expressions
    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +155-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ).alias("text"),
    )
    return pii_scrub(d)


@query(
    "text_repetition",
    f"""
    WITH hist AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest({sql_ws_tokens("text")}) AS token
            FROM documents)
      GROUP BY doc_id, token),
    sizes AS (
      SELECT doc_id, MAX(cnt) AS top_freq, SUM(cnt) AS n_tokens
      FROM hist GROUP BY doc_id)
    SELECT h.doc_id, MIN(h.token) AS top_token,
           CAST(s.top_freq AS BIGINT) AS top_freq,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(s.top_freq AS DOUBLE) / s.n_tokens, 4) AS rep_ratio
    FROM hist h JOIN sizes s
      ON s.doc_id = h.doc_id AND h.cnt = s.top_freq
    GROUP BY h.doc_id, s.top_freq, s.n_tokens
    """,
    extra=True,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_score(T(spark, sf_dir, "documents"))


# ------------------------------------------- tokenizer-training support


def bigram_lm(docs: DataFrame, min_count: int = 5) -> DataFrame:
    """Corpus bigram table with conditional probability
    P(next | token) — the n-gram LM / data-quality statistic. Two
    aggregations, both keyed on tokens (never positions); round(4)
    for the cross-engine probability compare. Docs with < 2 tokens
    are filtered BEFORE the transform: Spark's two-arg sequence(1, 0)
    DESCENDS to [1, 0] and element_at(t, 0) throws under ANSI mode
    (the DuckDB oracle's generate_series(1, 0) is just empty)."""
    grams = (
        docs.select(ws_tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS w1, "
                    "element_at(t, i + 1) AS w2))"
                )
            ).alias("g")
        )
        .select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    )
    big = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    uni = big.groupBy("w1").agg(F.sum("n12").alias("n1"))
    return (
        big.join(uni, "w1")
        .filter(F.col("n12") >= min_count)
        .select(
            "w1",
            "w2",
            "n12",
            "n1",
            F.round(F.col("n12").cast("double") / F.col("n1"), 4).alias("p"),
        )
    )


BPE_MERGE_ROUNDS = 6
BPE_MAX_WORD_LEN = 20  # bounds the oracle's replace-first unroll
# re-materialize the vocab through a parquet barrier every this many
# merge rounds: without it, round r's pair-count job re-executes the
# r-1 chained _apply_merge folds per vocab row (O(N^2) total merge
# work) and the Catalyst plan grows linearly with r (optimizer time
# blows up at tokenizer-realistic merge counts). The vocab is
# dictionary-sized, so the write is cheap — per-round cost stays O(1)
# at any n_merges (flat-time gated in tests/test_curation.py).
BPE_BARRIER_EVERY = 4


def _apply_merge(syms, x: str, y: str):
    """Merge every leftmost-non-overlapping adjacent (x, y) in a
    symbol array into x||y — a greedy-left Catalyst fold (aggregate).
    Greedy-left == leftmost-non-overlapping (standard BPE apply):
    a replacement token x||y can never equal x, so a merge never
    creates a new occurrence of the pair being merged. F.get (0-based,
    null out of bounds) keeps the empty-accumulator probe ANSI-safe
    (element_at(-1) would throw)."""
    z = x + y
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, t: F.when(
            (F.get(acc, F.size(acc) - 1) == F.lit(x)) & (t == F.lit(y)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(z))
            ),
        ).otherwise(F.concat(acc, F.array(t))),
    )


def bpe_merges(
    docs: DataFrame,
    n_merges: int = BPE_MERGE_ROUNDS,
    max_word_len: int = BPE_MAX_WORD_LEN,
    barrier_every: int = BPE_BARRIER_EVERY,
    round_times: list | None = None,
) -> DataFrame:
    """Iterated BPE merge training (the third iterative operator
    family beside K7 components and PageRank): N rounds of
    (count adjacent symbol pairs weighted by word frequency ->
    argmax with (count desc, lhs, rhs) tie-break -> apply the merge
    to every word), emitting the merge table a tokenizer trainer
    consumes: (merge_rank, lhs, rhs, pair_count).

    Scale shape: ONE corpus pass builds the word-frequency vocab
    (explode + hash agg, shuffle keyed on the word); it is
    materialized once, and every round after that is a single agg job
    over the DICTIONARY-sized vocab — corpus-independent, exactly how
    a production BPE trainer over 100 TB behaves (the corpus is
    touched once; the merge loop runs on the vocabulary). The
    per-round argmax collect is one row (like K7's dictionary-sized
    collects). Words are restricted to lowercase-alpha, length 2..20
    (keeps the charset SQL-safe and bounds the oracle's per-round
    replace-first unroll at max_word_len // 2 steps).

    ``barrier_every`` re-materializes the vocab every that many rounds
    (see BPE_BARRIER_EVERY) so per-round recompute and plan depth stay
    O(1) at large n_merges. ``round_times`` (diagnostic) collects
    per-round wall seconds when a list is passed."""
    merges, _ = _bpe_train(
        docs, n_merges, max_word_len, barrier_every, round_times
    )
    return docs.sparkSession.createDataFrame(
        merges, "merge_rank long, lhs string, rhs string, pair_count long"
    )


def _bpe_train(
    docs: DataFrame,
    n_merges: int = BPE_MERGE_ROUNDS,
    max_word_len: int = BPE_MAX_WORD_LEN,
    barrier_every: int = BPE_BARRIER_EVERY,
    round_times: list | None = None,
):
    """Shared BPE training loop: returns (merge list, final merged
    vocab DataFrame (w, syms, freq)) — bpe_merges emits the former,
    bpe_encode_vocab the latter."""
    import time as _time

    from kg.io import materialize_barrier

    vocab = materialize_barrier(
        docs.select(F.explode(ws_tokens(F.col("text"))).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .filter(F.length("w").between(2, max_word_len))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "w",
            # (?!^) splits between chars but also matches at end-of-
            # string, leaving a trailing "" element — filter it
            F.filter(
                F.split(F.col("w"), "(?!^)"), lambda t: t != F.lit("")
            ).alias("syms"),
            "freq",
        ),
        "bpe_vocab_",
    )
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, n_merges + 1):
        _t0 = _time.monotonic()
        pairs = (
            vocab.filter(F.size("syms") >= 2)  # sequence(1,0) DESCENDS
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) AS lhs, "
                        "element_at(syms, i + 1) AS rhs))"
                    )
                ).alias("p"),
            )
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("freq").alias("pair_count"))
        )
        best = (
            pairs.orderBy(F.desc("pair_count"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        x, y, cnt = best[0]["lhs"], best[0]["rhs"], int(best[0]["pair_count"])
        merges.append((r, x, y, cnt))
        vocab = vocab.withColumn("syms", _apply_merge(F.col("syms"), x, y))
        if barrier_every and r % barrier_every == 0:
            vocab = materialize_barrier(vocab, "bpe_vocab_r_")
        if round_times is not None:
            round_times.append(_time.monotonic() - _t0)
    return merges, vocab


def bpe_encode_vocab(
    docs: DataFrame,
    n_merges: int = BPE_MERGE_ROUNDS,
    max_word_len: int = BPE_MAX_WORD_LEN,
) -> DataFrame:
    """APPLY the trained BPE tokenizer: the per-word encode table
    (word, n_tokens, freq) after the full merge sequence — the other
    half of vocab_bpe_merges, which trains the merges but never
    tokenizes anything with them. This word-level table is exactly
    what a fast tokenizer precomputes (word -> segmentation cache);
    corpus token totals are then one dictionary-sized join away.
    Same scale shape as training: one corpus pass builds the vocab,
    every merge application is dictionary-sized."""
    _, vocab = _bpe_train(docs, n_merges, max_word_len)
    return vocab.select(
        "w",
        F.size("syms").cast("long").alias("n_tokens"),
        "freq",
    )


def _bpe_oracle_parts(
    n_merges: int = BPE_MERGE_ROUNDS, max_word_len: int = BPE_MAX_WORD_LEN
) -> tuple[str, str]:
    """Unrolled-CTE DuckDB oracle parts for the BPE family — returns
    (cte_block, merge-rows union tail) so the merges and encode
    oracles assemble from the SAME generated CTEs instead
    of reverse-parsing a joined string (the pagerank
    pattern: aggregates are not allowed in recursive CTEs, so each
    round is a generated CTE block). Words are ' '-wrapped
    space-joined symbol strings; applying a merge = iterating
    'replace the FIRST occurrence of " lhs rhs " with " lhsrhs "'
    (substr splice at instr) to a fixpoint, bounded by
    max_word_len // 2 single-replace steps — the max occurrences of
    one pair in a <= max_word_len-symbol word. Tie-break matches the
    engine: pair_count DESC, lhs, rhs."""
    steps = max_word_len // 2
    parts = [
        f"""WITH w0 AS MATERIALIZED (
      SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sp,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest({sql_ws_tokens("text")}) AS w FROM documents)
      WHERE regexp_matches(w, '^[a-z]+$')
        AND length(w) BETWEEN 2 AND {max_word_len}
      GROUP BY 1)"""
    ]
    for r in range(1, n_merges + 1):
        prev = f"w{r - 1}"
        parts.append(
            f"""c{r} AS MATERIALIZED (
      SELECT l[i] AS lhs, l[i + 1] AS rhs,
             CAST(SUM(freq) AS BIGINT) AS pair_count
      FROM (SELECT l, freq, unnest(generate_series(1, len(l) - 1)) AS i
            FROM (SELECT string_split(trim(sp), ' ') AS l, freq
                  FROM {prev}))
      GROUP BY 1, 2)"""
        )
        parts.append(
            f"""b{r} AS MATERIALIZED (
      SELECT CAST({r} AS BIGINT) AS merge_rank, lhs, rhs, pair_count,
             ' ' || lhs || ' ' || rhs || ' ' AS pat,
             ' ' || lhs || rhs || ' ' AS rep
      FROM c{r} ORDER BY pair_count DESC, lhs, rhs LIMIT 1)"""
        )
        src = prev
        for j in range(1, steps + 1):
            parts.append(
                f"""w{r}_{j} AS MATERIALIZED (
      SELECT CASE WHEN instr(sp, b.pat) > 0
                  THEN substr(sp, 1, instr(sp, b.pat) - 1) || b.rep ||
                       substr(sp, instr(sp, b.pat) + length(b.pat))
                  ELSE sp END AS sp, freq
      FROM {src} CROSS JOIN b{r} b)"""
            )
            src = f"w{r}_{j}"
        parts.append(f"w{r} AS MATERIALIZED (SELECT sp, freq FROM {src})")
    cte_block = ",\n    ".join(parts)
    union = "\n    UNION ALL\n    ".join(
        f"SELECT merge_rank, lhs, rhs, pair_count FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return cte_block, union


def _bpe_merges_oracle_sql(
    n_merges: int = BPE_MERGE_ROUNDS, max_word_len: int = BPE_MAX_WORD_LEN
) -> str:
    cte_block, union = _bpe_oracle_parts(n_merges, max_word_len)
    return f"{cte_block}\n    {union}"


def _bpe_encode_oracle_sql(
    n_merges: int = BPE_MERGE_ROUNDS, max_word_len: int = BPE_MAX_WORD_LEN
) -> str:
    """Encode-table twin of _bpe_merges_oracle_sql: identical CTE
    unroll (w0 groups by sp, which is bijective with the word — the
    spaced form concatenates back losslessly), final select reads the
    FULLY-MERGED vocab w{n_merges} instead of the merge rows."""
    cte_block, _ = _bpe_oracle_parts(n_merges, max_word_len)
    return f"""{cte_block}
    SELECT replace(trim(sp), ' ', '') AS w,
           CAST(len(string_split(trim(sp), ' ')) AS BIGINT) AS n_tokens,
           freq
    FROM w{n_merges}
    """


# one-entry training memo shared by the two BPE queries: training
# is ~6 driver-collect rounds + barrier writes, and merges/encode
# both consume the same run — without the memo a check_oracles pass
# trains twice. Keyed by applicationId so a stopped session's
# barrier files are never reused; the vocab is barrier-materialized,
# so reuse is safe.
_BPE_TRAIN_CACHE: dict[tuple[str, str, int], tuple] = {}


def _bpe_train_cached(spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGE_ROUNDS):
    key = (spark.sparkContext.applicationId, sf_dir, n_merges)
    hit = _BPE_TRAIN_CACHE.get(key)
    if hit is None:
        for k in [k for k in _BPE_TRAIN_CACHE if k[0] != key[0]]:
            del _BPE_TRAIN_CACHE[k]
        hit = _bpe_train(T(spark, sf_dir, "documents"), n_merges)
        _BPE_TRAIN_CACHE[key] = hit
    return hit


@query("vocab_bpe_merges", _bpe_merges_oracle_sql(), extra=True)
def q_vocab_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = _bpe_train_cached(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_rank long, lhs string, rhs string, pair_count long"
    )


@query("vocab_bpe_encode", _bpe_encode_oracle_sql(), extra=True)
def q_vocab_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, vocab = _bpe_train_cached(spark, sf_dir)
    return vocab.select(
        "w", F.size("syms").cast("long").alias("n_tokens"), "freq"
    )


@query(
    "text_bigram_lm",
    f"""
    WITH toks AS (SELECT {sql_ws_tokens("text")} AS t FROM documents),
    grams AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)),
    big AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
      FROM grams GROUP BY w1, w2),
    uni AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM big GROUP BY w1)
    SELECT b.w1, b.w2, b.n12, u.n1,
           ROUND(CAST(b.n12 AS DOUBLE) / u.n1, 4) AS p
    FROM big b JOIN uni u ON u.w1 = b.w1
    WHERE b.n12 >= 5
    """,
    extra=True,
)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_lm(T(spark, sf_dir, "documents"))


# ---------------------------------------------- bigram-LM quality score

LM_MIN_COUNT = 3  # a bigram is "covered" if the train LM saw it >= this


def lm_score(docs: DataFrame, min_count: int = LM_MIN_COUNT) -> DataFrame:
    """Language-model data-quality scoring: train an add-one-smoothed
    bigram LM on the held split (even doc_ids — the standard
    train/score separation, so unseen bigrams genuinely occur) and
    score EVERY doc's bigrams against it. Per doc: bigram count, OOV
    bigrams (never seen in training), covered bigrams (seen >=
    ``min_count`` times), and the average negative log-likelihood
    under p(w2|w1) = (n12 + 1) / (n1 + V).

    Cross-engine exactness: each bigram's -ln(p) is scaled to integer
    MICRO-NATS (round(-ln(p) * 1e6) as bigint) BEFORE the per-doc sum,
    so the sum is order-independent (integer addition commutes; a raw
    double sum would depend on partitioning). Both engines evaluate
    the identical ln over the identical exact-integer ratio, so the
    micro-nat values agree bit-for-bit; avg_nll then divides exact
    integers once and rounds to 4 (the repo numeric policy). Low
    avg_nll = fluent/common text, high = junk — the classic
    perplexity quality filter (perplexity = exp(avg_nll), monotone,
    so filtering on avg_nll is filtering on perplexity).

    Scale shape: the LM is gram-keyed aggregation (vocabulary-sized
    output, map-side combine); scoring is one join keyed on (w1, w2)
    plus one keyed on w1 — shuffles carry corpus bigram occurrences
    by gram key, never any pair space; V is a 1-row broadcast. Docs
    with < 2 tokens have no bigrams and are not emitted."""
    toks = docs.select("doc_id", ws_tokens(F.col("text")).alias("t"))
    grams = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS w1, "
                    "element_at(t, i + 1) AS w2))"
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    )
    train = grams.filter(F.col("doc_id") % 2 == 0)
    lm = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    ctx = lm.groupBy("w1").agg(F.sum("n12").alias("n1"))
    vocab = (
        toks.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode("t").alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    p = (F.coalesce("n12", F.lit(0)) + 1).cast("double") / (
        F.coalesce("n1", F.lit(0)) + F.col("v")
    ).cast("double")
    scored = (
        grams.join(lm, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.coalesce("n12", F.lit(0)).alias("n12"),
            F.round(-F.log(p) * 1000000.0).cast("long").alias("lp_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(F.when(F.col("n12") == 0, 1).otherwise(0)).cast("long").alias("n_oov"),
        F.sum(F.when(F.col("n12") >= min_count, 1).otherwise(0))
        .cast("long")
        .alias("n_covered"),
        F.round(
            F.sum("lp_micro").cast("double")
            / (F.count(F.lit(1)).cast("double") * 1000000.0),
            4,
        ).alias("avg_nll"),
    )


# ------------------------------------------------ domain mixture sampling

# target mixture weights by source domain: upsample-free rebalancing
# (src0 is the quality domain a pretraining mix over-weights 3:1)
MIX_WEIGHTS = {f"src{i}": 3 if i == 0 else 1 for i in range(20)}


def mix_domains(
    docs: DataFrame, weights: dict[str, int] | None = None
) -> DataFrame:
    """Deterministic domain-mixture sampling: downsample each source
    so kept counts are PROPORTIONAL to integer target weights — the
    training-mix rebalancing step (e.g. weight curated text 3:1 over
    each crawl source). The binding domain (max n/w headroom ratio...
    strictly: MIN over domains of n_d / w_d) is kept in full; every
    other domain's keep-rate is w_d * m / n_d so the kept mix hits the
    target ratios exactly in expectation, downsample-only (no
    duplication). Sources absent from ``weights`` are dropped
    (weight 0).

    Determinism: keep iff md5-hash(doc_id) < rate, no rand() — the
    sample is identical across engines, reruns, resumes and
    partitionings. The rate arithmetic is double, but every operation
    (count/weight divides, min, multiply) is an exactly-rounded IEEE
    op over exact integers evaluated in the SAME order on both
    engines, so thresholds — and therefore the kept set — are
    bit-identical (the same argument as the cosine oracles; integer
    thresholds in /2^60ths would overflow int64 at realistic counts).

    Scale shape: domain counts are a map-side-combined aggregation to
    |domains| rows; rates broadcast-join back; the filter is per-row.
    Two corpus scans total (count + filter) — a production run caches
    the counts pass or reads them from catalog stats."""
    weights = MIX_WEIGHTS if weights is None else weights
    spark = docs.sparkSession
    wdf = spark.createDataFrame(
        sorted(weights.items()), "source string, w long"
    )
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    ratios = counts.join(F.broadcast(wdf), "source").select(
        "source",
        "n",
        "w",
        (F.col("n").cast("double") / F.col("w").cast("double")).alias("ratio"),
    )
    m = ratios.agg(F.min("ratio").alias("m"))
    rates = ratios.crossJoin(F.broadcast(m)).select(
        "source",
        (
            (F.col("w").cast("double") * F.col("m"))
            / F.col("n").cast("double")
            * F.lit(float(1 << 60))
        ).alias("thr"),
    )
    from kg.dedup import _neutral_hash64  # one definition of the hash

    h = _neutral_hash64(F.col("doc_id").cast("string")).cast("double")
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(h < F.col("thr"))
        .select("doc_id", "source", "lang")
    )


def _mix_domains_oracle_sql(weights: dict[str, int] | None = None) -> str:
    """Oracle generated from the SAME weights constant the engine
    uses (the LANG_PROFILES / hyperplane-VALUES pattern)."""
    weights = MIX_WEIGHTS if weights is None else weights
    vals = ", ".join(f"('{s}', {w})" for s, w in sorted(weights.items()))
    return f"""
    WITH w(source, w) AS (VALUES {vals}),
    cnt AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source),
    ratios AS (
      SELECT c.source, c.n, w.w,
             CAST(c.n AS DOUBLE) / CAST(w.w AS DOUBLE) AS ratio
      FROM cnt c JOIN w ON w.source = c.source),
    m AS (SELECT MIN(ratio) AS m FROM ratios),
    rates AS (
      SELECT source,
             CAST(w AS DOUBLE) * (SELECT m FROM m) / CAST(n AS DOUBLE)
               * 1152921504606846976.0 AS thr
      FROM ratios)
    SELECT d.doc_id, d.source, d.lang
    FROM documents d JOIN rates r ON r.source = d.source
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS DOUBLE) < r.thr
    """


@query(
    "text_lm_score",
    f"""
    WITH toks AS (SELECT doc_id, {sql_ws_tokens("text")} AS t FROM documents),
    grams AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
            FROM toks WHERE len(t) >= 2)),
    lm AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
      FROM grams WHERE doc_id % 2 = 0 GROUP BY w1, w2),
    ctx AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM lm GROUP BY w1),
    voc AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
      FROM (SELECT unnest(t) AS w FROM toks WHERE doc_id % 2 = 0)),
    sc AS (
      SELECT g.doc_id,
             COALESCE(lm.n12, 0) AS n12,
             CAST(ROUND(-ln(CAST(COALESCE(lm.n12, 0) + 1 AS DOUBLE)
                            / CAST(COALESCE(ctx.n1, 0) + (SELECT v FROM voc)
                                   AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS lp_micro
      FROM grams g
      LEFT JOIN lm ON lm.w1 = g.w1 AND lm.w2 = g.w2
      LEFT JOIN ctx ON ctx.w1 = g.w1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN n12 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN n12 >= {LM_MIN_COUNT} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           ROUND(CAST(SUM(lp_micro) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000000.0), 4) AS avg_nll
    FROM sc GROUP BY doc_id
    """,
    extra=True,
)
def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_score(T(spark, sf_dir, "documents"))


@query("corpus_mix_domains", _mix_domains_oracle_sql(), extra=True)
def q_corpus_mix_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mix_domains(T(spark, sf_dir, "documents"))
