"""Text analysis for training-data pipelines: token stats, quality
scores, language ID, fingerprinting.

All hot-path logic is native Spark SQL functions (regexp/md5/length —
JVM-side, codegen). Each operator has an oracle-SQL twin generated from
the SAME constants so DuckDB computes identical values.

Scale: every operator here is embarrassingly parallel per-row — no
shuffle, no UDF, safe at 100 TB with pure map-side execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_RE = r"\S+"
PUNCT_RE = r"[.,;:!?]"
STOPWORDS_EN = "the|a|of|and|is"

# language marker-word alternations (content-based heuristic; the
# corpus's `lang` column is a label, not ground truth of the content)
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|a|of|and|is)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "es": r"\b(el|los|las|y|es)\b",
    "fr": r"\b(le|les|et|est|une)\b",
    "zh": r"[一-鿿]",
}
LANG_ORDER = ("en", "de", "es", "fr", "zh")  # deterministic tie-break


def _n_matches(col, pattern: str):
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------
def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars_nospace, n_punct) — whitespace tokenizer
    + punctuation census, all regexp built-ins."""
    t = F.col("text")
    return docs.select(
        "doc_id",
        _n_matches(t, TOKEN_RE).alias("n_tokens"),
        F.length(F.regexp_replace(t, r"\s", "")).alias("n_chars_nospace"),
        _n_matches(t, PUNCT_RE).alias("n_punct"),
    )


def token_stats_sql() -> str:
    return f"""
SELECT doc_id,
  len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tokens,
  length(regexp_replace(text, '\\s', '', 'g')) AS n_chars_nospace,
  len(regexp_extract_all(text, '{PUNCT_RE}')) AS n_punct
FROM documents
""".strip()


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------
def quality_col(t=None):
    """The quality score as a reusable Column expression (rounded 6) —
    shared by the batch scorer, the curation pipeline and the
    streaming gate so every consumer computes the identical number."""
    t = F.col("text") if t is None else t
    n_tok = _n_matches(t, TOKEN_RE)
    n_stop = _n_matches(t, rf"\b({STOPWORDS_EN})\b")
    stop_ratio = n_stop / F.greatest(n_tok, F.lit(1)).cast("double")
    return F.round(
        F.least(n_tok, F.lit(100)) / 100.0 * 0.6 + stop_ratio * 0.4, 6
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, stop_ratio, quality) — length + stopword-ratio
    heuristic, deterministic arithmetic (round 6)."""
    t = F.col("text")
    n_tok = _n_matches(t, TOKEN_RE)
    n_stop = _n_matches(t, rf"\b({STOPWORDS_EN})\b")
    stop_ratio = n_stop / F.greatest(n_tok, F.lit(1)).cast("double")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        quality_col(t).alias("quality"),
    )


def quality_scores_sql(src: str = "documents") -> str:
    n_tok = f"len(regexp_extract_all(text, '{TOKEN_RE}'))"
    n_stop = f"len(regexp_extract_all(text, '\\b({STOPWORDS_EN})\\b'))"
    stop_ratio = f"({n_stop} / CAST(greatest({n_tok}, 1) AS DOUBLE))"
    return f"""
SELECT doc_id,
  {n_tok} AS n_tokens,
  round({stop_ratio}, 6) AS stop_ratio,
  round(least({n_tok}, 100) / 100.0 * 0.6 + {stop_ratio} * 0.4, 6) AS quality
FROM {src}
""".strip()


# ---------------------------------------------------------------------------
# language identification (marker-word n-gram heuristic)
# ---------------------------------------------------------------------------
def _lang_pred_col(t) -> Column:
    """The langid argmax as a reusable Column over any text expression
    — shared by the per-doc scorer and the intra-doc consistency
    audit so both compute the identical prediction."""
    scores = {lg: _n_matches(t, pat) for lg, pat in LANG_MARKERS.items()}
    pred = F.lit("und")
    # build the CASE chain in reverse so earlier langs win ties
    for lg in reversed(LANG_ORDER):
        cond = (scores[lg] > 0) & F.lit(True)
        for other in LANG_ORDER:
            if other != lg:
                cond = cond & (scores[lg] >= scores[other])
        pred = F.when(cond, F.lit(lg)).otherwise(pred)
    return pred


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_pred) — argmax of per-language marker counts with a
    fixed priority tie-break; 'und' when nothing matches."""
    return docs.select("doc_id", _lang_pred_col(F.col("text")).alias("lang_pred"))


def _lang_case_sql(expr: str) -> str:
    """The same argmax CASE chain over an arbitrary SQL text expr."""
    score = {
        lg: f"len(regexp_extract_all({expr}, '{pat}'))"
        for lg, pat in LANG_MARKERS.items()
    }
    whens = []
    for lg in LANG_ORDER:
        conds = [f"{score[lg]} > 0"] + [
            f"{score[lg]} >= {score[o]}" for o in LANG_ORDER if o != lg
        ]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lg}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


def lang_id_sql() -> str:
    return (
        f"SELECT doc_id, {_lang_case_sql('text')} AS lang_pred"
        " FROM documents"
    )


def lang_consistency(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_head, lang_tail, is_mixed) — intra-document
    language consistency: langid the FIRST and SECOND half of every
    document (token-midpoint split, single-space rejoin) and flag
    disagreement. Mixed-language documents degrade both langid-based
    mixing ratios and monolingual tokenizer fertility, so a curation
    pipeline quarantines them rather than trusting the whole-doc tag.

    Map-only (two marker-regex passes per row, no shuffle, no UDF);
    the halves reuse :func:`_lang_pred_col` so a half predicts exactly
    what :func:`lang_id` would predict on that text."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
    m = F.ceil(F.size(toks) / F.lit(2.0)).cast("int")
    halves = docs.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, m), " ").alias("h"),
        F.array_join(
            F.slice(
                toks, m + 1, F.greatest(F.size(toks) - m, F.lit(0))
            ),
            " ",
        ).alias("t"),
    )
    return halves.select(
        "doc_id",
        _lang_pred_col(F.col("h")).alias("lang_head"),
        _lang_pred_col(F.col("t")).alias("lang_tail"),
        (
            _lang_pred_col(F.col("h")) != _lang_pred_col(F.col("t"))
        ).alias("is_mixed"),
    )


def lang_consistency_sql(src: str = "documents") -> str:
    """Oracle twin of :func:`lang_consistency`."""
    return f"""
WITH toksed AS (
  SELECT doc_id, regexp_extract_all(text, '{TOKEN_RE}') AS toks
  FROM {src}),
halves AS (
  SELECT doc_id,
         array_to_string(
           toks[1:CAST(ceil(len(toks) / 2.0) AS INT)], ' ') AS h,
         array_to_string(
           toks[CAST(ceil(len(toks) / 2.0) AS INT) + 1:len(toks)],
           ' ') AS t
  FROM toksed)
SELECT doc_id,
       {_lang_case_sql('h')} AS lang_head,
       {_lang_case_sql('t')} AS lang_tail,
       {_lang_case_sql('h')} != {_lang_case_sql('t')} AS is_mixed
FROM halves
""".strip()


# ---------------------------------------------------------------------------
# corpus-level token frequency
# ---------------------------------------------------------------------------
def top_tokens(docs: DataFrame, k: int = 50) -> DataFrame:
    """(tok, n, rank) — the k most frequent tokens corpus-wide.

    Skew note: hot tokens (stopwords) are exactly the skewed keys that
    hurt naive groupBys; Spark's map-side partial aggregation collapses
    each partition's counts before the shuffle, so the reducer for
    'the' receives one partial row per partition, not one per
    occurrence. Ties broken lexically for determinism."""
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window

    # TakeOrderedAndProject (per-partition heaps, driver merge of k) —
    # NOT a partition-less window over the full vocabulary, which would
    # funnel every distinct token through one task at scale. The rank
    # window below only sees the k surviving rows.
    top = counts.orderBy(F.col("n").desc(), "tok").limit(k)
    w = F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("tok")))
    return top.withColumn("rank", w.cast("int"))


def top_tokens_sql(k: int = 50) -> str:
    return f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS tok FROM documents),
counts AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1)
SELECT tok, n, rank FROM (
  SELECT tok, n,
         CAST(row_number() OVER (ORDER BY n DESC, tok) AS INT) AS rank
  FROM counts) WHERE rank <= {k}
""".strip()


# ---------------------------------------------------------------------------
# BPE-ish subword token counting
# ---------------------------------------------------------------------------
# GPT-2-style pre-tokenizer approximation: contraction suffixes, runs of
# letters, runs of digits, runs of other symbols (each optionally
# space-prefixed). No lookarounds, so Java regex (Spark) and RE2
# (DuckDB) match identically.
BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens, bpe_per_ws) — whitespace vs
    BPE-ish subword counts; the ratio is the standard 'how many model
    tokens per word' cost estimate used for pricing/bucketing corpora.
    Pure map-side regexp built-ins — no shuffle, no UDF."""
    t = F.col("text")
    n_ws = _n_matches(t, TOKEN_RE)
    n_bpe = _n_matches(t, BPE_RE)
    ratio = F.round(n_bpe / F.greatest(n_ws, F.lit(1)).cast("double"), 6)
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        ratio.alias("bpe_per_ws"),
    )


def bpe_token_stats_sql() -> str:
    # plain (non-e) quoting keeps backslashes literal; '' escapes the
    # quote characters inside the BPE pattern itself
    pat = BPE_RE.replace("'", "''")
    n_ws = f"len(regexp_extract_all(text, '{TOKEN_RE}'))"
    n_bpe = f"len(regexp_extract_all(text, '{pat}'))"
    return f"""
SELECT doc_id,
  {n_ws} AS n_ws_tokens,
  {n_bpe} AS n_bpe_tokens,
  round({n_bpe} / CAST(greatest({n_ws}, 1) AS DOUBLE), 6) AS bpe_per_ws
FROM documents
""".strip()


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------
#: per-language keep-rate (percent): downsample the dominant language,
#: keep the tail — the classic corpus-rebalancing shape.
SAMPLE_RATES = {"en": 20, "de": 50, "es": 50, "fr": 50, "zh": 80}
SAMPLE_DEFAULT_RATE = 100


def sample_keep_pred(rates: dict | None = None):
    """Keep-predicate Column of the stratified hash sample — shared by
    the batch sampler, curation pipeline and streaming gate."""
    from ..functions.hashing import md5_int60_col

    rates = SAMPLE_RATES if rates is None else rates
    bucket = md5_int60_col(F.col("doc_id").cast("string")) % 100
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for lang, r in sorted(rates.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return bucket < rate


def stratified_sample(docs: DataFrame, rates: dict | None = None) -> DataFrame:
    """Deterministic hash-stratified sample: keep a doc iff
    md5(doc_id) mod 100 < rate(lang).

    Content-hash sampling (not ``rand()``) is reproducible across
    engines, runs and partitionings — the property a training-data
    pipeline needs for auditable corpus cuts. Map-side only: no
    shuffle, the filter composes with any downstream scan."""
    return docs.filter(sample_keep_pred(rates)).select(
        "doc_id", "lang", "source"
    )


def stratified_sample_sql(
    rates: dict | None = None, src: str = "documents"
) -> str:
    from ..functions.hashing import md5_int60_sql

    rates = SAMPLE_RATES if rates is None else rates
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {r}" for lang, r in sorted(rates.items())
    )
    bucket = f"{md5_int60_sql('CAST(doc_id AS VARCHAR)')} % 100"
    return (
        f"SELECT doc_id, lang, source FROM {src} "
        f"WHERE {bucket} < (CASE {whens} ELSE {SAMPLE_DEFAULT_RATE} END)"
    )


def token_budget_sample(
    docs: DataFrame,
    budgets: dict[str, int],
    default_budget: int = 0,
    quality_floor: float | None = None,
) -> DataFrame:
    """Per-language token-budget cut: keep the highest-quality docs
    whose cumulative token count stays within the language's budget —
    the data-mixing primitive of a training run ("this much German,
    this much code, best-first").

    Greedy by (quality DESC, doc_id): a doc is kept iff its inclusive
    running token total is <= budget(lang). Deterministic under any
    partitioning (unique order key), so the DuckDB oracle reproduces
    the exact cut.

    Scale: ONE shuffle, partitioned by lang. A dominant language makes
    that partition a skew sort; for that regime pass ``quality_floor``
    — a map-side prefilter that drops docs below the floor BEFORE the
    sort (exact as long as the floor retains >= budget tokens; estimate
    it from ``approxQuantile`` over a sample). The reference has no
    corpus surface at all; this extends the engine's curation family
    (stratified_sample, curate_corpus)."""
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "lang",
        _n_matches(t, TOKEN_RE).alias("n_tokens"),
        quality_col(t).alias("quality"),
    )
    if quality_floor is not None:
        scored = scored.filter(F.col("quality") >= quality_floor)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget = F.lit(int(default_budget))
    for lang, b in sorted(budgets.items()):
        budget = F.when(F.col("lang") == lang, F.lit(int(b))).otherwise(budget)
    return (
        scored.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("long")
        )
        .filter(F.col("cum_tokens") <= budget)
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "quality",
            "cum_tokens",
        )
        # Deterministic output order + byte-identical integer types on
        # both sides (DuckDB's windowed sum(BIGINT) is HUGEINT — cast
        # back to BIGINT in the oracle too) so the driver's value hash
        # is reproducible.
        .orderBy("lang", "cum_tokens", "doc_id")
    )


def token_budget_sample_sql(
    budgets: dict[str, int],
    default_budget: int = 0,
    src: str = "documents",
) -> str:
    n_tok = f"len(regexp_extract_all(text, '{TOKEN_RE}'))"
    n_stop = f"len(regexp_extract_all(text, '\\b({STOPWORDS_EN})\\b'))"
    stop_ratio = f"({n_stop} / CAST(greatest({n_tok}, 1) AS DOUBLE))"
    quality = f"round(least({n_tok}, 100) / 100.0 * 0.6 + {stop_ratio} * 0.4, 6)"
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {int(b)}"
        for lang, b in sorted(budgets.items())
    )
    return f"""
WITH s AS (SELECT doc_id, lang, {n_tok} AS n_tokens, {quality} AS quality
           FROM {src}),
c AS (SELECT *, CAST(sum(n_tokens) OVER (
        PARTITION BY lang ORDER BY quality DESC, doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS cum_tokens
      FROM s)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, quality,
       cum_tokens FROM c
WHERE cum_tokens <= (CASE {whens} ELSE {int(default_budget)} END)
ORDER BY lang, cum_tokens, doc_id
""".strip()


def pack_sequences(
    docs: DataFrame, seq_len: int = 512, n_buckets: int = 32
) -> DataFrame:
    """(doc_id, bucket, seq_id, offset, n_tokens) — GPT-style sequence
    packing metadata: documents are concatenated into a token stream
    and chunked into fixed ``seq_len``-token training sequences. A doc
    occupies stream positions [cum_before, cum_before + n_tokens);
    ``seq_id`` is the sequence its first token lands in and ``offset``
    the position within that sequence (docs may straddle a boundary and
    continue into seq_id + 1 — concat-then-chunk, no padding waste).

    A single global stream would serialize the cumulative sum, so the
    corpus is first split into ``n_buckets`` deterministic md5 buckets
    and each bucket packs its OWN stream (seq_id is per-bucket;
    (bucket, seq_id) is the global sequence key). That makes the plan
    one hash shuffle + per-bucket window sort — every bucket packs in
    parallel, and at 100 TB you raise ``n_buckets`` to the cluster's
    parallelism. Deterministic under any partitioning: bucket and order
    key are content-independent functions of doc_id."""
    from ..functions.hashing import md5_int60_col

    if seq_len < 1 or n_buckets < 1:
        raise ValueError(f"need seq_len/n_buckets >= 1, got {seq_len}/{n_buckets}")
    from pyspark.sql import Window

    t = F.col("text")
    scored = docs.select(
        "doc_id",
        (md5_int60_col(F.col("doc_id").cast("string")) % n_buckets).alias("bucket"),
        _n_matches(t, TOKEN_RE).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return scored.select(
        "doc_id",
        "bucket",
        F.floor(cum / seq_len).cast("long").alias("seq_id"),
        (cum % seq_len).cast("long").alias("offset"),
        "n_tokens",
    )


def pack_sequences_sql(
    seq_len: int = 512, n_buckets: int = 32, src: str = "documents"
) -> str:
    from ..functions.hashing import md5_int60_sql

    n_tok = f"len(regexp_extract_all(text, '{TOKEN_RE}'))"
    bucket = f"{md5_int60_sql('CAST(doc_id AS VARCHAR)')} % {int(n_buckets)}"
    return f"""
WITH s AS (SELECT doc_id, {bucket} AS bucket, {n_tok} AS n_tokens
           FROM {src}),
c AS (SELECT *, COALESCE(sum(n_tokens) OVER (
        PARTITION BY bucket ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM s)
SELECT doc_id, bucket,
       CAST(floor(cum / {int(seq_len)}) AS BIGINT) AS seq_id,
       CAST(cum % {int(seq_len)} AS BIGINT) AS offset,
       n_tokens
FROM c
""".strip()


def top_quality_per_lang(docs: DataFrame, k: int = 5) -> DataFrame:
    """(lang, doc_id, quality, rk) — the k highest-quality docs per
    language: the 'best exemplars per stratum' pick a curation review
    queue wants. Window partitioned by lang — rankings never
    concentrate beyond one language's rows. Ties broken by doc_id."""
    from pyspark.sql.window import Window

    scored = docs.select("lang", "doc_id", quality_col().alias("quality"))
    w = Window.partitionBy("lang").orderBy(F.col("quality").desc(), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
    )


def top_quality_per_lang_sql(k: int = 5) -> str:
    n_tok = f"len(regexp_extract_all(text, '{TOKEN_RE}'))"
    n_stop = f"len(regexp_extract_all(text, '\\b({STOPWORDS_EN})\\b'))"
    stop_ratio = f"({n_stop} / CAST(greatest({n_tok}, 1) AS DOUBLE))"
    q = f"round(least({n_tok}, 100) / 100.0 * 0.6 + {stop_ratio} * 0.4, 6)"
    return f"""
SELECT lang, doc_id, quality, rk FROM (
  SELECT lang, doc_id, {q} AS quality,
         CAST(row_number() OVER (PARTITION BY lang
              ORDER BY {q} DESC, doc_id) AS INT) AS rk
  FROM documents) WHERE rk <= {k}
""".strip()


# ---------------------------------------------------------------------------
# repetition / boilerplate scoring (Gopher-style quality signals)
# ---------------------------------------------------------------------------
def repetition_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, dup_token_ratio, top_bigram_frac) — the
    repetition signals Gopher-style quality filters gate on:
    ``dup_token_ratio`` = 1 − distinct/total tokens (templated/
    boilerplate text repeats its vocabulary), ``top_bigram_frac`` =
    share of the most frequent word bigram among all bigrams (stuck
    generators / keyword-stuffed spam concentrate a single pair).

    Scale: distinct-token ratio is pure map-side (``array_distinct``
    inside the row); the bigram mode needs per-(doc, bigram) counts, so
    it shuffles on that composite key with map-side partials —
    doc-scoped keys, no corpus-wide hot spot — then one more doc_id
    agg for the max/sum ratio. Docs with < 2 tokens have no bigram and
    report 0.0."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
    n_tok = F.size(toks)
    # token-free docs are NOT "fully duplicated" — guard the 0/1 case
    dup_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        F.round(
            1
            - F.size(F.array_distinct(toks))
            / F.greatest(n_tok, F.lit(1)).cast("double"),
            6,
        )
    )
    base = docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        dup_ratio.alias("dup_token_ratio"),
        F.col("text"),
    )
    # overlapping word bigrams in ONE compiled-regex pass (zero-width
    # word-start lookahead over normalized text) — same trick as
    # dedup.shingles; the transform-lambda formulation evaluated an
    # interpreted HOF per window
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    bigrams = base.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                norm, F.lit(r"(?<![^ ])(?=([^ ]+ [^ ]+))"), F.lit(1)
            )
        ).alias("bg"),
    )
    per_bg = bigrams.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    frac = per_bg.groupBy("doc_id").agg(
        F.round(F.max("c") / F.sum("c").cast("double"), 6).alias(
            "top_bigram_frac"
        )
    )
    return (
        base.drop("text")
        .join(frac, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "dup_token_ratio",
            F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)).alias(
                "top_bigram_frac"
            ),
        )
    )


def repetition_stats_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '{TOKEN_RE}') AS t FROM documents),
base AS (
  SELECT doc_id, len(t) AS n_tokens,
         CASE WHEN len(t) = 0 THEN 0.0
              ELSE round(1 - len(list_distinct(t)) /
                         CAST(greatest(len(t), 1) AS DOUBLE), 6)
         END AS dup_token_ratio
  FROM toks),
bg AS (
  SELECT doc_id, t[s.i] || ' ' || t[s.i + 1] AS b
  FROM toks, LATERAL (SELECT unnest(range(1, len(t)))) AS s(i)),
cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
agg AS (
  SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_frac
  FROM cnt GROUP BY 1)
SELECT base.doc_id, n_tokens, dup_token_ratio,
       coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
FROM base LEFT JOIN agg USING (doc_id)
""".strip()


# ---------------------------------------------------------------------------
# document fingerprinting
# ---------------------------------------------------------------------------
def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — md5 of whitespace-normalized lowercase text.
    Standard MD5 → identical hex in any engine."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select("doc_id", F.md5(norm).alias("fp"))


def fingerprints_sql() -> str:
    return (
        "SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp "
        "FROM documents"
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------
#: lowercase word tokens for TF-IDF (letters/digits/apostrophes) —
#: identical class in Java regex (Spark) and RE2 (DuckDB)
WORD_RE = r"[a-z0-9']+"
TFIDF_K = 3


def tfidf_top_terms(docs: DataFrame, k: int = TFIDF_K) -> DataFrame:
    """(doc_id, term, tf, df, tfidf, term_rank) — the k most
    characteristic terms per document by TF-IDF (idf = ln(N/df)), the
    standard keyword-extraction / topic-tagging primitive a corpus
    curation pass runs before clustering or routing.

    Scale: the term stream aggregates to per-(doc, term) counts with
    map-side partials (doc-scoped composite keys — no corpus-wide hot
    token, unlike a raw token groupBy); document frequency aggregates
    that ALREADY-collapsed table, so the expensive token explosion is
    shuffled once, not twice. N is a one-row agg broadcast into the
    join. The df join keys on `term` — AQE picks broadcast while the
    vocabulary fits, shuffled-hash beyond. Top-k runs in a window
    partitioned by doc_id: per-doc rankings, never a global funnel.
    Ties broken by (rounded score, term) so both engines agree."""
    from pyspark.sql.window import Window

    terms = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(WORD_RE), F.lit(0)
            )
        ).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("term_rank") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "term_rank")
    )


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """(doc_id, chunk_id, n_chunk_tokens, chunk) — each document split
    into overlapping token windows (`chunk_tokens` wide, advancing by
    `stride`), the standard pretraining / retrieval-indexing
    preprocessing step. The final window keeps the tail remainder;
    every token of every document appears in at least one chunk; empty
    docs yield no chunks.

    Scale: pure map-side fan-out — tokenize once, derive the chunk
    count arithmetically, explode chunk indices, slice the token
    array. No shuffle at all: the operator multiplies rows ~len/stride
    and the downstream consumer decides the partitioning. Chunk ids
    are deterministic (doc_id, window index)."""
    if chunk_tokens <= 0 or stride <= 0 or stride > chunk_tokens:
        raise ValueError(
            f"need 0 < stride <= chunk_tokens, got {stride}/{chunk_tokens}"
        )
    toks = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
    n = F.size(toks)
    # windows to cover all n tokens: 1 + ceil(max(0, n - chunk)/stride)
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.lit(1)
        + F.floor(
            (F.greatest(n - chunk_tokens, F.lit(0)) + stride - 1)
            / F.lit(stride)
        ).cast("int")
    )
    base = docs.select("doc_id", toks.alias("toks"), n_chunks.alias("nc"))
    idx = F.explode(
        F.when(
            F.col("nc") > 0, F.sequence(F.lit(0), F.col("nc") - 1)
        ).otherwise(F.array().cast("array<int>"))
    )
    chunked = base.select("doc_id", "toks", idx.alias("chunk_id"))
    piece = F.slice(
        F.col("toks"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk"),
    )


def chunk_documents_sql(
    chunk_tokens: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> str:
    return f"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(text, '{TOKEN_RE}') AS toks,
         len(regexp_extract_all(text, '{TOKEN_RE}')) AS n
  FROM documents),
counted AS (
  SELECT doc_id, toks,
         CASE WHEN n <= 0 THEN 0
              ELSE 1 + CAST(floor((greatest(n - {chunk_tokens}, 0)
                                   + {stride} - 1) / {stride}) AS INT)
         END AS nc
  FROM base),
idx AS (
  SELECT doc_id, toks, CAST(s.i AS INT) AS chunk_id
  FROM counted, LATERAL (SELECT unnest(range(0, nc))) AS s(i)),
pieces AS (
  SELECT doc_id, chunk_id,
         toks[chunk_id * {stride} + 1 : chunk_id * {stride} + {chunk_tokens}]
           AS piece
  FROM idx)
SELECT doc_id, chunk_id, CAST(len(piece) AS INT) AS n_chunk_tokens,
       array_to_string(piece, ' ') AS chunk
FROM pieces
""".strip()


def surprisal_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, avg_surprisal) — mean unigram surprisal
    −ln p(token) under the corpus's own unigram model (the CCNet-style
    fluency/quality signal: boilerplate and keyword-stuffed docs score
    LOW because they repeat globally-common tokens; lexically rich text
    scores high).

    Scale: one token shuffle to per-(doc, term) counts (map-side
    partials, doc-scoped keys); the corpus unigram table aggregates
    that collapsed table; total count broadcasts as a one-row agg. The
    per-doc mean would be a float sum in corpus-dependent order — so
    each term's contribution is cast to DECIMAL(20, 10) and summed
    EXACTLY (order-independent, same trick as the TPC-H money aggs),
    making the score reproducible under any partitioning and
    hash-matchable by the oracle."""
    terms = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(WORD_RE), F.lit(0)
            )
        ).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    freq = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    s = F.log(
        F.col("total").cast("double") / F.col("cnt").cast("double")
    )
    contrib = (F.col("tf").cast("double") * s).cast("decimal(20,10)")
    per_doc = (
        tf.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(contrib).alias("s_dec"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("s_dec").cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("avg_surprisal"),
    )


def surprisal_scores_sql() -> str:
    pat = WORD_RE.replace("'", "''")
    s = "ln(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE))"
    return f"""
WITH terms AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{pat}')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
freq AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),
tot AS (SELECT sum(cnt) AS total FROM freq),
per_doc AS (
  SELECT t.doc_id, sum(t.tf) AS n_tokens,
         sum(CAST(CAST(t.tf AS DOUBLE) * {s} AS DECIMAL(20,10))) AS s_dec
  FROM tf t JOIN freq f USING (term) CROSS JOIN tot
  GROUP BY 1)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(s_dec AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         AS avg_surprisal
FROM per_doc
""".strip()


def token_entropy(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_distinct, entropy) — Shannon entropy (nats)
    of each document's own unigram distribution: the lexical-diversity
    quality signal (low entropy = repetitive boilerplate / keyword
    stuffing, independent of the corpus model that surprisal uses).
    H = ln(n) − Σ c·ln(c) / n over per-doc term counts c.

    Scale: one token shuffle to per-(doc, term) counts (map-side
    partials, doc-scoped keys), then one per-doc aggregation of the
    collapsed table. The Σ c·ln(c) term is cast to DECIMAL(20,10) and
    summed exactly (order-independent — same discipline as
    :func:`surprisal_scores`), so the rounded entropy is reproducible
    under any partitioning and hash-matchable by the oracle."""
    terms = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(WORD_RE), F.lit(0)
            )
        ).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    contrib = (
        F.col("c").cast("double") * F.log(F.col("c").cast("double"))
    ).cast("decimal(20,10)")
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).cast("int").alias("n_distinct"),
        F.sum(contrib).alias("s_dec"),
    )
    n = F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(
            F.log(n) - F.col("s_dec").cast("double") / n, 6
        ).alias("entropy"),
    )


def token_entropy_sql() -> str:
    pat = WORD_RE.replace("'", "''")
    return f"""
WITH terms AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{pat}')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS c FROM terms GROUP BY 1, 2),
per_doc AS (
  SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_distinct,
         sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                  AS DECIMAL(20,10))) AS s_dec
  FROM tf GROUP BY 1)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_distinct AS INT) AS n_distinct,
       round(ln(CAST(n_tokens AS DOUBLE))
             - CAST(s_dec AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         AS entropy
FROM per_doc
""".strip()


def tfidf_top_terms_sql(k: int = TFIDF_K) -> str:
    pat = WORD_RE.replace("'", "''")
    return f"""
WITH terms AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{pat}')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, df, tfidf, term_rank FROM (
  SELECT t.doc_id, t.term, t.tf, d.df,
         round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf,
         CAST(row_number() OVER (
              PARTITION BY t.doc_id
              ORDER BY round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6)
                       DESC, t.term) AS INT) AS term_rank
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n)
WHERE term_rank <= {k}
""".strip()


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------
#: (name, pattern, replacement) — applied IN ORDER for redaction, so
#: e.g. a dotted phone number is consumed before the IPv4 pattern can
#: see it. Patterns are kept to the Java-regex ∩ RE2 common dialect
#: (no lookaround, no backrefs) so the DuckDB oracle and a future
#: native scan agree; tests/test_regex_parity.py fuzzes that parity.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IPV4>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
)


def pii_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_email, n_phone, n_ipv4, n_ssn, n_pii) — per-document
    PII hit census, the detection half of a redaction pass (the
    RefinedWeb/Dolma-style pipeline stage that gates or scrubs
    documents before training).

    Pure regexp built-ins, map-only, zero shuffles — safe at 100 TB."""
    t = F.col("text")
    counts = [
        _n_matches(t, pat).cast("int").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    out = docs.select("doc_id", *counts)
    total = sum(F.col(f"n_{name}") for name, _, _ in PII_PATTERNS)
    return out.withColumn("n_pii", total.cast("int"))


def pii_stats_sql(src: str = "documents") -> str:
    cols = ",\n  ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    total = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))"
        for _, pat, _ in PII_PATTERNS
    )
    return f"""
SELECT doc_id,
  {cols},
  CAST({total} AS INT) AS n_pii
FROM {src}
""".strip()


def pii_redact(docs: DataFrame) -> DataFrame:
    """(doc_id, text, n_redacted): scrub every PII match with its
    ``<TYPE>`` placeholder, keeping the document otherwise intact.
    The patterns apply in PII_PATTERNS order (emails first, so their
    digit runs never half-match the phone/IP patterns).

    Map-only chained ``regexp_replace`` — JVM-side codegen, and the
    redacted text is byte-compared against the DuckDB oracle."""
    t = F.col("text")
    n = F.lit(0)
    for name, pat, _ in PII_PATTERNS:
        n = n + _n_matches(t, pat)
    red = t
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return docs.select(
        "doc_id", red.alias("text"), n.cast("int").alias("n_redacted")
    )


def pii_redact_sql(src: str = "documents") -> str:
    red = "text"
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    total = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))"
        for _, pat, _ in PII_PATTERNS
    )
    return f"""
SELECT doc_id,
  {red} AS text,
  CAST({total} AS INT) AS n_redacted
FROM {src}
""".strip()


# ---------------------------------------------------------------------------
# bigram language model: interpolated surprisal (KenLM-style fluency)
# ---------------------------------------------------------------------------
#: interpolation weight on the bigram term; the unigram floor keeps
#: p > 0 for every observed continuation (the model is self-trained, so
#: every token in scope IS observed). Shared python-float literals with
#: the SQL twin.
BIGRAM_LAMBDA = 0.9


def bigram_surprisal(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_bigram_surprisal) — mean surprisal
    −ln p(w2|w1) under the corpus's own interpolated bigram model
    p = λ·c(w1,w2)/c(w1·) + (1−λ)·c(·w2)/N. The order-sensitive
    fluency signal the unigram model (:func:`surprisal_scores`) cannot
    see: shuffled or templated word salad shares the unigram profile
    of fluent text but scores high here, because its CONTINUATIONS are
    globally rare.

    Scale: bigram extraction is map-only (explode an index sequence
    over the token array — no window shuffle, mirrors
    :func:`chunk_documents`); one shuffle collapses to per-(doc,
    bigram) counts, the model tables aggregate THAT collapsed table,
    and the model joins run on collapsed keys. Per-doc sums use the
    DECIMAL(20,10) exact-sum discipline of :func:`surprisal_scores`,
    so scores are reproducible under any partitioning. Docs with < 2
    tokens have no bigrams and are absent (same convention as empty
    docs in chunking)."""
    lam, ulam = BIGRAM_LAMBDA, 1.0 - BIGRAM_LAMBDA
    toks = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(WORD_RE), F.lit(0)
    )
    base = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    idx = F.explode(
        F.when(
            F.col("n") >= 2, F.sequence(F.lit(1), F.col("n") - 1)
        ).otherwise(F.array().cast("array<int>"))
    )
    pos = base.select("doc_id", "toks", idx.alias("i"))
    big = pos.select(
        "doc_id",
        F.element_at("toks", F.col("i")).alias("w1"),
        F.element_at("toks", F.col("i") + 1).alias("w2"),
    )
    # cached: the collapsed per-(doc, bigram) table feeds the model
    # tables (c12 -> c1/uni -> total) AND the per-doc scoring join —
    # without it Spark re-runs the raw token shuffle five times (same
    # shared-intermediate discipline as the minhash signature cache)
    tf = big.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("tf")
    ).cache()
    c12 = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    uni = c12.groupBy("w2").agg(F.sum("c12").alias("cnt2"))
    total = uni.agg(F.sum("cnt2").alias("total"))
    p = F.lit(lam) * (
        F.col("c12").cast("double") / F.col("c1").cast("double")
    ) + F.lit(ulam) * (
        F.col("cnt2").cast("double") / F.col("total").cast("double")
    )
    contrib = (F.col("tf").cast("double") * -F.log(p)).cast("decimal(20,10)")
    per_doc = (
        tf.join(c12.join(c1, "w1"), ["w1", "w2"])
        .join(uni, "w2")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("n_bigrams"), F.sum(contrib).alias("s_dec"))
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round(
            F.col("s_dec").cast("double") / F.col("n_bigrams").cast("double"),
            6,
        ).alias("avg_bigram_surprisal"),
    )


def bigram_surprisal_sql(src: str = "documents") -> str:
    pat = WORD_RE.replace("'", "''")
    lam, ulam = BIGRAM_LAMBDA, 1.0 - BIGRAM_LAMBDA
    p = (
        f"{lam!r} * (CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)) "
        f"+ {ulam!r} * (CAST(cnt2 AS DOUBLE) / CAST(total AS DOUBLE))"
    )
    return f"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{pat}') AS toks,
         len(regexp_extract_all(lower(text), '{pat}')) AS n
  FROM {src}),
big AS (
  SELECT doc_id, toks[CAST(s.i AS INT)] AS w1,
         toks[CAST(s.i AS INT) + 1] AS w2
  FROM base, LATERAL (SELECT unnest(range(1, n))) AS s(i)
  WHERE n >= 2),
tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM big GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, sum(tf) AS c12 FROM tf GROUP BY 1, 2),
c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
uni AS (SELECT w2, sum(c12) AS cnt2 FROM c12 GROUP BY 1),
tot AS (SELECT sum(cnt2) AS total FROM uni),
per_doc AS (
  SELECT t.doc_id, sum(t.tf) AS n_bigrams,
         sum(CAST(CAST(t.tf AS DOUBLE) * -ln({p}) AS DECIMAL(20,10)))
           AS s_dec
  FROM tf t
  JOIN c12 USING (w1, w2) JOIN c1 USING (w1) JOIN uni USING (w2)
  CROSS JOIN tot
  GROUP BY 1)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       round(CAST(s_dec AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6)
         AS avg_bigram_surprisal
FROM per_doc
""".strip()


# ---------------------------------------------------------------------------
# ensemble quality score: one calibrated keep/drop signal
# ---------------------------------------------------------------------------
#: logistic weights over the component signals (shared python-float
#: literals with the SQL twin). Chosen so typical fluent prose lands
#: near the top of the logistic's linear range: quality and lexical
#: entropy push up, repetition signals push down.
ENSEMBLE_WEIGHTS = {
    "bias": -2.0,
    "quality": 3.0,
    "entropy": 0.8,
    "dup_token_ratio": -2.5,
    "top_bigram_frac": -3.0,
}
ENSEMBLE_KEEP = 0.5


def quality_ensemble(docs: DataFrame) -> DataFrame:
    """(doc_id, score, keep) — one calibrated document-quality score:
    a fixed-weight logistic over the component signals
    (:func:`quality_scores`, :func:`token_entropy`,
    :func:`repetition_stats`), the single gate a curation pipeline
    thresholds on instead of four ad-hoc ones.

    Determinism: each component is already oracle-exact and ROUNDED
    (6 dp) before it enters the combination, so the logistic sees
    bit-identical inputs in both engines; the weights are shared
    python-float literals and the output rounds once more.

    Scale: composes the three component plans joined on doc_id — three
    token-level passes. They share the same tokenize step, so a
    single-pass fusion is possible; it is deliberately NOT done here
    because each component is independently oracle-gated and the
    ensemble must see exactly their published (rounded) outputs.
    Docs with no tokens get entropy 0 via the outer join coalesce
    (token_entropy omits empty docs)."""
    q = quality_scores(docs).select("doc_id", "quality")
    e = token_entropy(docs).select("doc_id", "entropy")
    r = repetition_stats(docs).select(
        "doc_id", "dup_token_ratio", "top_bigram_frac"
    )
    w = ENSEMBLE_WEIGHTS
    joined = (
        q.join(e, "doc_id", "left")
        .join(r, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.lit(w["bias"])
                + F.lit(w["quality"]) * F.col("quality")
                + F.lit(w["entropy"]) * F.coalesce(F.col("entropy"), F.lit(0.0))
                + F.lit(w["dup_token_ratio"])
                * F.coalesce(F.col("dup_token_ratio"), F.lit(0.0))
                + F.lit(w["top_bigram_frac"])
                * F.coalesce(F.col("top_bigram_frac"), F.lit(0.0))
            ).alias("z"),
        )
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6)
    return joined.select(
        "doc_id",
        score.alias("score"),
        (score >= F.lit(ENSEMBLE_KEEP)).alias("keep"),
    )


def quality_ensemble_sql(src: str = "documents") -> str:
    w = ENSEMBLE_WEIGHTS
    z = (
        f"{w['bias']!r} + {w['quality']!r} * q.quality "
        f"+ {w['entropy']!r} * coalesce(e.entropy, 0.0) "
        f"+ {w['dup_token_ratio']!r} * coalesce(r.dup_token_ratio, 0.0) "
        f"+ {w['top_bigram_frac']!r} * coalesce(r.top_bigram_frac, 0.0)"
    )
    return f"""
WITH q AS ({quality_scores_sql(src)}),
e AS ({token_entropy_sql()}),
r AS ({repetition_stats_sql()}),
z AS (
  SELECT q.doc_id, {z} AS z
  FROM q LEFT JOIN e ON q.doc_id = e.doc_id
         LEFT JOIN r ON q.doc_id = r.doc_id)
SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS score,
       round(1.0 / (1.0 + exp(-z)), 6) >= {ENSEMBLE_KEEP!r} AS keep
FROM z
""".strip()


# ---------------------------------------------------------------------------
# per-domain cap (crawl-hygiene: no single site dominates the corpus)
# ---------------------------------------------------------------------------

DOMAIN_CAP = 15


def domain_cap(docs: DataFrame, cap: int = DOMAIN_CAP) -> DataFrame:
    """(doc_id, lang, source, quality) — keep at most ``cap`` documents
    per source/domain, preferring higher quality (ties by doc_id).

    The crawl-hygiene primitive (cf. RefinedWeb/C4 per-domain limits):
    without it a handful of mega-domains dominate the mixture. One
    shuffle on ``source`` + a per-source rank bounded by the domain's
    own size. At 100 TB, pre-aggregate per-source counts first and
    window ONLY the over-cap sources (most domains pass untouched) —
    the under-cap majority short-circuits to a map-only filter; the
    single-window form here is the correct semantics either way.
    """
    from pyspark.sql import Window

    scored = docs.select(
        "doc_id", "lang", "source", quality_col().alias("quality")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.col("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .select("doc_id", "lang", "source", "quality")
    )


def domain_cap_sql(cap: int = DOMAIN_CAP, src: str = "documents") -> str:
    return f"""
WITH q AS ({quality_scores_sql(src)}),
scored AS (
  SELECT d.doc_id, d.lang, d.source, q.quality
  FROM {src} d JOIN q ON d.doc_id = q.doc_id),
ranked AS (
  SELECT doc_id, lang, source, quality,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id) AS rn
  FROM scored)
SELECT doc_id, lang, source, quality FROM ranked WHERE rn <= {cap}
""".strip()


# ---------------------------------------------------------------------------
# temperature-based language mixing (multilingual sampling p^(1/2))
# ---------------------------------------------------------------------------

TEMP_MIX_FRAC = 0.5  # fraction of total corpus tokens to keep
TEMP_MIX_SCALE = 1_000_000  # hash-threshold resolution


def temperature_mix(
    docs: DataFrame, t_frac: float = TEMP_MIX_FRAC
) -> DataFrame:
    """(lang, n_tokens_total, keep_thr, kept_docs, kept_tokens) —
    temperature-2 language mixing: sample each language with rate
    proportional to sqrt(share) (the standard p^(1/alpha) rebalance
    that up-weights low-resource languages), targeting ``t_frac`` of
    total corpus tokens.

    Engine-independent by construction: language weights are
    floor(sqrt(n_l * 1e6)) in BIGINT (sqrt is IEEE correctly-rounded,
    floor exact), weight/token totals are exact integer sums (no
    float-order sensitivity), and the per-language keep threshold is
    one fixed-shape double expression floored to an integer, so the
    md5-hash document gate is bit-identical in Spark and DuckDB.

    Plan: one token-count agg by lang (tiny), broadcast the 1-row
    totals + per-lang thresholds back onto the doc scan, map-side
    hash filter, final tiny agg — two scans of documents, no
    doc-cardinality shuffle beyond the per-lang count.
    """
    from ..functions.hashing import md5_int60_col

    tok = docs.select(
        "doc_id",
        "lang",
        _n_matches(F.col("text"), TOKEN_RE).alias("n_tok"),
    )
    lang_tot = tok.groupBy("lang").agg(
        F.sum("n_tok").cast("long").alias("n_l")
    )
    lang_w = lang_tot.withColumn(
        "w",
        F.floor(F.sqrt(F.col("n_l").cast("double") * 1000000.0)).cast(
            "long"
        ),
    )
    totals = lang_w.agg(
        F.sum("w").cast("long").alias("sw"),
        F.sum("n_l").cast("long").alias("n_total"),
    )
    thr = F.least(
        F.lit(float(TEMP_MIX_SCALE)),
        F.floor(
            F.lit(t_frac)
            * F.col("n_total").cast("double")
            * float(TEMP_MIX_SCALE)
            * F.col("w").cast("double")
            / F.col("sw").cast("double")
            / F.col("n_l").cast("double")
        ).cast("double"),
    ).cast("long")
    lang_thr = lang_w.crossJoin(F.broadcast(totals)).select(
        "lang", "n_l", thr.alias("keep_thr")
    )
    kept = (
        tok.join(F.broadcast(lang_thr), "lang")
        .filter(
            md5_int60_col(F.col("doc_id").cast("string"))
            % TEMP_MIX_SCALE
            < F.col("keep_thr")
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("kept_docs"),
            F.sum("n_tok").cast("long").alias("kept_tokens"),
        )
    )
    return (
        lang_thr.join(kept, "lang", "left")
        .select(
            "lang",
            F.col("n_l").alias("n_tokens_total"),
            "keep_thr",
            F.coalesce(F.col("kept_docs"), F.lit(0)).cast("long").alias(
                "kept_docs"
            ),
            F.coalesce(F.col("kept_tokens"), F.lit(0))
            .cast("long")
            .alias("kept_tokens"),
        )
        .orderBy("lang")
    )


def temperature_mix_sql(
    t_frac: float = TEMP_MIX_FRAC, src: str = "documents"
) -> str:
    from ..functions.hashing import md5_int60_sql

    h = md5_int60_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH tok AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tok
  FROM {src}),
lang_tot AS (
  SELECT lang, CAST(sum(n_tok) AS BIGINT) AS n_l FROM tok GROUP BY lang),
lang_w AS (
  SELECT lang, n_l,
         CAST(floor(sqrt(CAST(n_l AS DOUBLE) * CAST(1000000.0 AS DOUBLE)))
              AS BIGINT) AS w
  FROM lang_tot),
totals AS (
  SELECT CAST(sum(w) AS BIGINT) AS sw,
         CAST(sum(n_l) AS BIGINT) AS n_total
  FROM lang_w),
lang_thr AS (
  SELECT lang, n_l,
         CAST(least(CAST({float(TEMP_MIX_SCALE)!r} AS DOUBLE),
           CAST(floor(CAST({t_frac!r} AS DOUBLE)
             * CAST(n_total AS DOUBLE)
             * CAST({float(TEMP_MIX_SCALE)!r} AS DOUBLE)
             * CAST(w AS DOUBLE)
             / CAST(sw AS DOUBLE)
             / CAST(n_l AS DOUBLE)) AS DOUBLE)) AS BIGINT) AS keep_thr
  FROM lang_w CROSS JOIN totals),
kept AS (
  SELECT t.lang, CAST(count(*) AS BIGINT) AS kept_docs,
         CAST(sum(t.n_tok) AS BIGINT) AS kept_tokens
  FROM tok t JOIN lang_thr lt ON t.lang = lt.lang
  WHERE {h} % {TEMP_MIX_SCALE} < lt.keep_thr
  GROUP BY t.lang)
SELECT lt.lang, lt.n_l AS n_tokens_total, lt.keep_thr,
       CAST(coalesce(k.kept_docs, 0) AS BIGINT) AS kept_docs,
       CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
FROM lang_thr lt LEFT JOIN kept k ON lt.lang = k.lang
ORDER BY lt.lang
""".strip()


# ---------------------------------------------------------------------------
# vocabulary coverage / OOV rate
# ---------------------------------------------------------------------------

OOV_VOCAB_SIZE = 30


def oov_rates(docs: DataFrame, vocab_size: int = OOV_VOCAB_SIZE) -> DataFrame:
    """(doc_id, n_tokens, oov_cnt, oov_ratio) — fraction of each
    document's token occurrences outside the corpus's top
    ``vocab_size`` vocabulary (ties broken by token).

    The tokenizer-fit diagnostic: high OOV under the production vocab
    flags documents the tokenizer will fragment. The vocabulary is a
    tiny top-k (TakeOrdered — never a global sort) broadcast against
    the exploded token stream; one (doc_id)-keyed agg follows. At
    100 TB the vocab side is a fixed artifact (the real tokenizer
    vocab), making this a pure map-side broadcast probe + one agg.
    """
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(vocab_size)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("oov_cnt"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "oov_cnt",
            F.round(
                F.col("oov_cnt").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("oov_ratio"),
        )
    )


def oov_rates_sql(
    vocab_size: int = OOV_VOCAB_SIZE, src: str = "documents"
) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM {src}),
toks_f AS (SELECT doc_id, token FROM toks WHERE token <> ''),
vocab AS (
  SELECT token, 1 AS in_vocab FROM (
    SELECT token, count(*) AS cnt FROM toks_f GROUP BY token
    ORDER BY cnt DESC, token LIMIT {vocab_size}))
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_cnt,
       round(CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS oov_ratio
FROM toks_f t LEFT JOIN vocab v ON t.token = v.token
GROUP BY t.doc_id
""".strip()


# ---------------------------------------------------------------------------
# language-ID evaluation: confusion matrix vs gold labels
# ---------------------------------------------------------------------------


def lang_confusion(docs: DataFrame) -> DataFrame:
    """(lang, lang_pred, n, frac) — the language-ID confusion matrix
    against the corpus's gold ``lang`` labels: per true language, how
    its documents distribute over predicted languages.

    The classifier-evaluation harness pattern (like the LSH recall
    audit for banding): the marker heuristic's systematic errors
    become visible per cell instead of one accuracy scalar. One tiny
    groupBy over (gold, pred) plus a broadcast of per-gold totals;
    frac is one rounded division of exact counts."""
    from pyspark.sql import Window

    pred = lang_id(docs).select("doc_id", "lang_pred")
    joined = docs.select("doc_id", "lang").join(pred, "doc_id")
    cells = joined.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = Window.partitionBy("lang")
    return (
        cells.withColumn(
            "frac",
            F.round(
                F.col("n").cast("double")
                / F.sum("n").over(tot).cast("double"),
                6,
            ),
        )
        .orderBy("lang", "lang_pred")
    )


def lang_confusion_sql() -> str:
    return f"""
WITH pred AS ({lang_id_sql()}),
cells AS (
  SELECT d.lang, p.lang_pred, CAST(count(*) AS BIGINT) AS n
  FROM documents d JOIN pred p ON d.doc_id = p.doc_id
  GROUP BY 1, 2)
SELECT lang, lang_pred, n,
       round(CAST(n AS DOUBLE) /
             CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE), 6) AS frac
FROM cells
ORDER BY lang, lang_pred
""".strip()


# ---------------------------------------------------------------------------
# corpus novelty decay (first-occurrence shingle fraction)
# ---------------------------------------------------------------------------


def novelty_scores(docs: DataFrame, n: int | None = None) -> DataFrame:
    """(doc_id, n_shingles, n_novel, novelty) — the fraction of each
    document's distinct shingles that no EARLIER document (by doc_id,
    the ingestion order) contains.

    The corpus novelty-decay curve: as a crawl matures, per-doc
    novelty falls — a rising share of boilerplate/dup content. One
    shingle groupBy computes each shingle's first-owner (min doc_id);
    a doc's shingle is novel iff the doc IS that first owner. Two
    shuffles total (shingle, then doc_id), both with map-side
    partials — the same cost class as exact dedup."""
    from .dedup import SHINGLE_N, shingles

    n = SHINGLE_N if n is None else n
    sh = shingles(docs, n)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


def novelty_scores_sql(n: int | None = None, src: str = "documents") -> str:
    from .dedup import SHINGLE_N, shingles_sql

    n = SHINGLE_N if n is None else n
    return f"""
WITH sh AS ({shingles_sql(n, src=src)}),
first AS (
  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS novelty
FROM sh s JOIN first f ON s.shingle = f.shingle
GROUP BY s.doc_id
""".strip()


# ---------------------------------------------------------------------------
# deterministic train/val/test split
# ---------------------------------------------------------------------------

#: permille boundaries of the three-way split (train < 900, val < 950,
#: test rest) — the standard 90/5/5 hash split
SPLIT_TRAIN_PERMILLE = 900
SPLIT_VAL_PERMILLE = 950


def _split_col() -> Column:
    from ..functions.hashing import md5_int60_col

    # salt the id so the split is independent of every OTHER hash cut
    # in the pipeline (sampling, packing, thinning all hash bare ids)
    b = md5_int60_col(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 1000
    return (
        F.when(b < SPLIT_TRAIN_PERMILLE, "train")
        .when(b < SPLIT_VAL_PERMILLE, "val")
        .otherwise("test")
    )


def corpus_split(docs: DataFrame) -> DataFrame:
    """(split, lang, n_docs, n_tokens) — deterministic 90/5/5
    train/val/test split summary, stratified by construction (the
    salted content-hash is uniform within every language), with
    whitespace token counts so mixing ratios are auditable per split.

    Content-hash assignment (not ``rand()``) means a document lands
    in the SAME split across engines, runs, partitionings and corpus
    versions — the reproducibility/no-leakage property an eval
    pipeline needs (a doc can never drift from test into train on a
    re-run). Map-side split + one partial-aggregated groupBy. Token
    counts use the repo-standard TOKEN_RE tokenizer (same numbers as
    token_stats / the budget mixer)."""
    return (
        docs.select(
            _split_col().alias("split"),
            "lang",
            _n_matches(F.col("text"), TOKEN_RE).cast("long").alias("t"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )


def corpus_split_sql(src: str = "documents") -> str:
    from ..functions.hashing import md5_int60_sql

    salted = "'split:' || CAST(doc_id AS VARCHAR)"
    b = f"{md5_int60_sql(salted)} % 1000"
    return f"""
WITH tagged AS (
  SELECT CASE WHEN {b} < {SPLIT_TRAIN_PERMILLE} THEN 'train'
              WHEN {b} < {SPLIT_VAL_PERMILLE} THEN 'val'
              ELSE 'test' END AS split,
         lang,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+'))
         END AS t
  FROM {src})
SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(t) AS BIGINT) AS n_tokens
FROM tagged GROUP BY 1, 2
ORDER BY split, lang
""".strip()


def tokenizer_fertility(
    docs: DataFrame,
    n_merges: int | None = None,
    min_freq: int | None = None,
    max_types: int | None = None,
) -> DataFrame:
    """(lang, n_docs, n_words, n_bpe_tokens, fertility_ppm,
    chars_per_token_milli) — per-language TOKENIZER FERTILITY: how
    many BPE tokens the learned tokenizer spends per word (and chars
    per token) in each language. The standard multilingual-tokenizer
    audit — a language with fertility ≫ the corpus mean is being
    over-segmented, pays more compute per byte of content, and is
    under-served at a fixed context length.

    Composition: :func:`bpe_encode_corpus` (train + apply, its own
    oracle-proven numbers) joined back to the docs' ``lang`` tag, then
    one language-bounded groupBy; ratios are exact integer ppm/milli
    over the BIGINT sums. Adds nothing corpus-sized beyond the encode
    pass itself."""
    kw = {}
    if n_merges is not None:
        kw["n_merges"] = n_merges
    if min_freq is not None:
        kw["min_freq"] = min_freq
    if max_types is not None:
        kw["max_types"] = max_types
    enc = bpe_encode_corpus(docs, **kw)
    per = enc.join(docs.select("doc_id", "lang"), "doc_id").groupBy(
        "lang"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    return per.select(
        "lang",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        F.expr("n_bpe_tokens * 1000000 div greatest(n_words, 1)")
        .cast("long")
        .alias("fertility_ppm"),
        F.expr("n_chars * 1000 div greatest(n_bpe_tokens, 1)")
        .cast("long")
        .alias("chars_per_token_milli"),
    ).orderBy("lang")


def tokenizer_fertility_sql() -> str:
    """Oracle twin of :func:`tokenizer_fertility`: the encode twin as
    a CTE, joined to the lang tag, same integer ratios."""
    return f"""
WITH enc AS ({bpe_encode_corpus_sql()}),
per AS (
  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(e.n_words) AS BIGINT) AS n_words,
         CAST(SUM(e.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
         CAST(SUM(e.n_chars) AS BIGINT) AS n_chars
  FROM enc e JOIN documents d USING (doc_id)
  GROUP BY 1)
SELECT lang, n_docs, n_words, n_bpe_tokens,
       CAST(n_bpe_tokens * 1000000 // greatest(n_words, 1) AS BIGINT)
         AS fertility_ppm,
       CAST(n_chars * 1000 // greatest(n_bpe_tokens, 1) AS BIGINT)
         AS chars_per_token_milli
FROM per ORDER BY lang
""".strip()


def corpus_report(docs: DataFrame) -> DataFrame:
    """One-row dataset card: (n_docs, n_tokens, n_chars, n_langs,
    n_sources, exact_dup_docs, dup_rate_ppm, mean_quality_milli) —
    the corpus-level summary a dataset release ships (docs/tokens,
    diversity counts, duplication rate, mean quality), computed in
    ONE scan + the distinct aggregates.

    Exactness: token counts use the repo-standard tokenizer;
    exact_dup_docs = n_docs − |distinct md5(text)| (docs beyond each
    content group's keeper); rates/means are integer div (ppm /
    milli) over exact BIGINTs; quality is the shared round-6
    :func:`quality_col` scaled to milli with one further round.

    Scale: the md5/lang/source distincts are the only shuffles, each
    with map-side partial distinct; everything else folds into one
    partial agg."""
    q_milli = F.round(quality_col() * 1000).cast("long")
    agg = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(_n_matches(F.col("text"), TOKEN_RE).cast("long")).alias(
            "n_tokens"
        ),
        F.sum(F.length("text").cast("long")).alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct(F.md5("text")).alias("n_uniq"),
        F.sum(q_milli).alias("q_sum"),
    )
    return agg.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_tokens",
        "n_chars",
        F.col("n_langs").cast("long").alias("n_langs"),
        F.col("n_sources").cast("long").alias("n_sources"),
        (F.col("n_docs") - F.col("n_uniq"))
        .cast("long")
        .alias("exact_dup_docs"),
        F.expr("(n_docs - n_uniq) * 1000000 div n_docs")
        .cast("long")
        .alias("dup_rate_ppm"),
        F.expr("q_sum div n_docs").cast("long").alias("mean_quality_milli"),
    )


def corpus_report_sql(src: str = "documents") -> str:
    """Oracle twin of :func:`corpus_report`."""
    n_tok = f"len(regexp_extract_all(text, '{TOKEN_RE}'))"
    n_stop = f"len(regexp_extract_all(text, '\\b({STOPWORDS_EN})\\b'))"
    stop_ratio = f"({n_stop} / CAST(greatest({n_tok}, 1) AS DOUBLE))"
    quality = f"round(least({n_tok}, 100) / 100.0 * 0.6 + {stop_ratio} * 0.4, 6)"
    return f"""
WITH agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM({n_tok}) AS BIGINT) AS n_tokens,
         CAST(SUM(length(text)) AS BIGINT) AS n_chars,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_uniq,
         SUM(CAST(round({quality} * 1000) AS BIGINT)) AS q_sum
  FROM {src})
SELECT n_docs, n_tokens, n_chars, n_langs, n_sources,
       CAST(n_docs - n_uniq AS BIGINT) AS exact_dup_docs,
       CAST((n_docs - n_uniq) * 1000000 // n_docs AS BIGINT)
         AS dup_rate_ppm,
       CAST(q_sum // n_docs AS BIGINT) AS mean_quality_milli
FROM agg
""".strip()


#: shard count for the data-loader sharding audit (a power of two, as
#: training launchers usually want; the operators take it as a param)
N_SHARDS = 16


def corpus_shards(docs: DataFrame, n_shards: int = N_SHARDS) -> DataFrame:
    """(shard, n_docs, n_tokens, n_chars, token_share_ppm) — the
    data-loader sharding audit: every document is assigned to one of
    ``n_shards`` shards by salted content-id hash, and the report
    shows how evenly the TOKEN load (what a training step actually
    consumes — not doc count) spreads across them.

    Hash assignment (not round-robin over an ordering) is the
    reproducibility contract :func:`corpus_split` establishes: a doc
    lands in the SAME shard across engines, runs, partitionings and
    corpus versions, so shard-parallel training jobs can resume and
    re-run without reshuffling data. ``token_share_ppm`` is an exact
    integer share (sum·10⁶ div total), so imbalance is auditable
    hash-exactly; a launcher alarms when max/min drifts from 1.

    Scale: map-side shard tag + one ``n_shards``-row partial-agg
    groupBy; the total is a 1-row agg joined by broadcast. Nothing
    corpus-sized shuffles."""
    from ..functions.hashing import md5_int60_col

    tagged = docs.select(
        F.pmod(
            md5_int60_col(
                F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))
            ),
            F.lit(n_shards),
        )
        .cast("int")
        .alias("shard"),
        _n_matches(F.col("text"), TOKEN_RE).cast("long").alias("t"),
        F.length("text").cast("long").alias("c"),
    )
    per = tagged.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("t").alias("n_tokens"),
        F.sum("c").alias("n_chars"),
    )
    tot = per.agg(F.sum("n_tokens").alias("tt"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            "n_chars",
            F.expr("n_tokens * 1000000 div tt")
            .cast("long")
            .alias("token_share_ppm"),
        )
        .orderBy("shard")
    )


def corpus_shards_sql(n_shards: int = N_SHARDS, src: str = "documents") -> str:
    """Oracle twin of :func:`corpus_shards`."""
    from ..functions.hashing import md5_int60_sql

    return f"""
WITH keyed AS (
  SELECT 'shard:' || CAST(doc_id AS VARCHAR) AS k,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+'))
         END AS t,
         length(text) AS c
  FROM {src}),
tagged AS (
  SELECT CAST({md5_int60_sql("k")} % {n_shards} AS INT) AS shard, t, c
  FROM keyed),
per AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(t) AS BIGINT) AS n_tokens,
         CAST(sum(c) AS BIGINT) AS n_chars
  FROM tagged GROUP BY 1),
tot AS (SELECT sum(n_tokens) AS tt FROM per)
SELECT shard, n_docs, n_tokens, n_chars,
       CAST(n_tokens * 1000000 // tt AS BIGINT) AS token_share_ppm
FROM per CROSS JOIN tot
ORDER BY shard
""".strip()


# ---------------------------------------------------------------------------
# BPE tokenizer TRAINING (r6): distributed pair statistics + merge learning
# ---------------------------------------------------------------------------
#: merge learning operates on WORD TYPES (distinct lowercase words
#: weighted by corpus frequency) — the standard BPE-training
#: formulation. The corpus collapses ONCE to the vocab; every
#: subsequent round touches vocab-bounded state only.
BPE_TOP_PAIRS = 20
BPE_N_MERGES = 10


def word_type_counts(docs: DataFrame) -> DataFrame:
    """(word, freq) — lowercase word types weighted by corpus count.
    One explode + one map-side-partial groupBy; output is bounded by
    the vocabulary, not the corpus."""
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(WORD_RE), F.lit(0)
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def bpe_pair_stats(docs: DataFrame, top_k: int = BPE_TOP_PAIRS) -> DataFrame:
    """(rank, left, right, pair_count) — the top candidate merges of
    BPE training round 1: adjacent CHARACTER pairs inside each word
    type, weighted by the word's corpus frequency. This is the
    distributed heavy kernel of tokenizer training (each later round
    repeats it over vocab-bounded symbol sequences).

    Plan: corpus → vocab (one shuffle), char-pair explode over the
    vocab (map-side, ≤ word-length fan-out), one partial-agg groupBy
    to the pair alphabet, TakeOrdered top-k. Ranking ties break
    lexicographically on (left, right) — deterministic cross-engine."""
    from pyspark.sql import Window

    wt = word_type_counts(docs)
    pairs = wt.select(
        "freq",
        F.explode(
            F.sequence(F.lit(1), F.length("word") - 1)
        ).alias("i"),
        "word",
    ).select(
        F.substring(F.col("word"), F.col("i"), 1).alias("left"),
        F.col("word").substr(F.col("i") + 1, F.lit(1)).alias("right"),
        "freq",
    )
    agg = pairs.groupBy("left", "right").agg(
        F.sum("freq").alias("pair_count")
    )
    top = agg.orderBy(
        F.col("pair_count").desc(), "left", "right"
    ).limit(top_k)
    rank = F.row_number().over(
        Window.orderBy(F.col("pair_count").desc(), "left", "right")
    )
    return top.select(
        rank.cast("int").alias("rank"), "left", "right", "pair_count"
    )


def bpe_pair_stats_sql(top_k: int = BPE_TOP_PAIRS) -> str:
    """Oracle twin of :func:`bpe_pair_stats`."""
    pat = WORD_RE.replace("'", "''")
    return f"""
WITH wt AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(regexp_extract_all(lower(text), '{pat}')) AS word
    FROM documents) GROUP BY 1),
pairs AS (
  SELECT substr(word, CAST(s.i AS INT), 1) AS "left",
         substr(word, CAST(s.i AS INT) + 1, 1) AS "right", freq
  FROM wt, LATERAL (SELECT unnest(range(1, length(word)))) AS s(i)),
agg AS (
  SELECT "left", "right", SUM(freq) AS pair_count
  FROM pairs GROUP BY 1, 2)
SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, "left", "right")
         AS INT) AS rank,
       "left", "right", CAST(pair_count AS BIGINT) AS pair_count
FROM agg ORDER BY pair_count DESC, "left", "right" LIMIT {top_k}
""".strip()


#: rare word types carrying under this corpus count are pruned before
#: the merge loop — canonical BPE-trainer behavior, and the cap that
#: keeps the driver-side vocabulary bounded on adversarial corpora
BPE_MIN_FREQ = 2
#: hard ceiling on collected word types (top by freq, then word)
BPE_MAX_TYPES = 100_000


def bpe_train_merges(
    docs: DataFrame,
    n_merges: int = BPE_N_MERGES,
    min_freq: int = BPE_MIN_FREQ,
    max_types: int = BPE_MAX_TYPES,
) -> DataFrame:
    """(merge_rank, left, right, pair_count, new_symbol) — learned BPE
    merge table: ``n_merges`` rounds of (count weighted adjacent
    symbol pairs → merge the argmax pair greedily left-to-right in
    every word type).

    Spark-first split of the algorithm: the corpus-sized work — word
    extraction and frequency counting — is ONE distributed shuffle;
    the merge loop then runs on the COLLECTED word-type table. The
    collected state is HARD-BOUNDED, not just argued bounded: word
    types with corpus frequency under ``min_freq`` are pruned
    distributedly (canonical trainers drop hapax noise — on raw web
    text "word types" include URLs/hashes/typos and grow with the
    corpus), and at most ``max_types`` survivors are taken, ordered by
    (freq DESC, word) so the cut is deterministic. The loop itself is
    inherently sequential — each round's counts depend on the previous
    merge. Ties break on (count DESC, left, right) so the learned
    table is deterministic; the greedy re-segmentation is
    leftmost-non-overlapping, the canonical BPE behavior.

    Oracle: :func:`bpe_train_merges_sql` replays the whole training —
    including the identical prune/cap — in DuckDB, with the greedy
    re-segmentation via RECURSIVE CTEs (one per unrolled round), so
    even this iterative trainer is value-checked rather than
    rows-only."""
    spark = docs.sparkSession
    wt = (
        word_type_counts(docs)
        .where(F.col("freq") >= int(min_freq))
        .orderBy(F.col("freq").desc(), F.col("word"))
        .limit(int(max_types))
    )
    vocab = [(tuple(r["word"]), int(r["freq"])) for r in wt.collect()]
    merges = []
    seqs = [(list(w), f) for w, f in vocab if len(w) >= 2]
    for rank in range(1, max(1, n_merges) + 1):
        counts: dict = {}
        for syms, f in seqs:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        new_sym = left + right
        merges.append((rank, left, right, cnt, new_sym))
        nxt = []
        for syms, f in seqs:
            out = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(new_sym)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            if len(out) >= 2:
                nxt.append((out, f))
        seqs = nxt
    return spark.createDataFrame(
        merges,
        "merge_rank int, left string, right string, "
        "pair_count long, new_symbol string",
    )


# ---------------------------------------------------------------------------
# DSIR-style importance scoring (r6): hashed-feature target affinity
# ---------------------------------------------------------------------------
DSIR_BUCKETS = 512
#: the "target distribution" slice the raw corpus is scored against
DSIR_TARGET_SOURCES = ("src0", "src1", "src2", "src3", "src4")


def importance_scores(
    docs: DataFrame,
    target_sources: tuple = DSIR_TARGET_SOURCES,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(doc_id, n_feat, affinity, keep) — data-selection importance
    scoring in the DSIR mold: hash every word into ``n_buckets``
    features, estimate the target (docs from ``target_sources``) and
    raw bucket distributions, and score each document by the summed
    per-token affinity (p_target(b) − p_raw(b)). ``keep`` marks docs
    that look more target-like than raw-like — the resampling gate.

    The affinity is LINEAR in the distribution gap (not the DSIR
    log-ratio): logs are libm-dependent and would break cross-engine
    hash-matching, while the gap needs exactly ONE rounding per bucket
    — each bucket's value quantizes to nano-units (BIGINT) once, and
    per-doc sums are then order-independent integer adds. Docs with
    zero extractable words carry no evidence and drop out (both
    engines agree).

    Plan: two corpus passes (bucket distribution; per-doc scoring
    against the broadcast n_buckets-row table), both map-side-partial
    aggs — no corpus-sized shuffle beyond the doc_id agg."""
    from ..functions.hashing import md5_int60_col

    from ._matcache import swap_persisted

    tok = docs.select(
        "doc_id",
        F.col("source").isin(*target_sources).alias("is_t"),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(WORD_RE), F.lit(0)
            )
        ).alias("w"),
    ).select(
        "doc_id", "is_t", (md5_int60_col(F.col("w")) % n_buckets).alias("b")
    )
    # the token frame feeds BOTH the bucket distribution and the
    # per-doc scoring join: persist it once (DISK_ONLY keeps the
    # lineage recomputable — the duplicate_spans discipline) so the
    # regexp-tokenize pass runs one corpus scan, not two (r12, §5).
    # Slotted (r13, ADVICE): repeated calls in a long session evict
    # the previous call's relation instead of accumulating disk.
    tok = swap_persisted("importance_scores.tok", tok)
    dist = tok.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0))
        .cast("long")
        .alias("ct"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1))
        .cast("long")
        .alias("cr"),
    )
    tot = dist.agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
    )
    sb = dist.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            (
                F.col("ct").cast("double") / F.col("nt").cast("double")
                - F.col("cr").cast("double") / F.col("nr").cast("double")
            )
            * 1e9
        )
        .cast("long")
        .alias("q"),
    )
    return (
        tok.join(F.broadcast(sb), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feat"),
            F.sum("q").alias("aff"),
        )
        .select(
            "doc_id",
            "n_feat",
            (F.col("aff").cast("double") / 1e9).alias("affinity"),
            (F.col("aff") > 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


def importance_scores_sql(
    target_sources: tuple = DSIR_TARGET_SOURCES,
    n_buckets: int = DSIR_BUCKETS,
) -> str:
    """Oracle twin of :func:`importance_scores`."""
    from ..functions.hashing import md5_int60_sql

    pat = WORD_RE.replace("'", "''")
    srcs = ", ".join(f"'{s}'" for s in target_sources)
    h = md5_int60_sql("w")
    return f"""
WITH tok AS (
  SELECT doc_id, is_t, ({h}) % {n_buckets} AS b FROM (
    SELECT doc_id, source IN ({srcs}) AS is_t,
           unnest(regexp_extract_all(lower(text), '{pat}')) AS w
    FROM documents)),
dist AS (
  SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
  FROM tok GROUP BY 1),
tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM dist),
sb AS (
  SELECT b, CAST(round((CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE)
         - CAST(cr AS DOUBLE) / CAST(nr AS DOUBLE)) * 1000000000.0)
         AS BIGINT) AS q
  FROM dist CROSS JOIN tot)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_feat,
       CAST(SUM(s.q) AS DOUBLE) / 1e9 AS affinity,
       SUM(s.q) > 0 AS keep
FROM tok t JOIN sb s USING (b)
GROUP BY t.doc_id ORDER BY t.doc_id
""".strip()


def bpe_train_merges_sql(
    n_merges: int = BPE_N_MERGES,
    min_freq: int = BPE_MIN_FREQ,
    max_types: int = BPE_MAX_TYPES,
) -> str:
    """Oracle twin of :func:`bpe_train_merges` — the full iterative
    training expressed in SQL, including the identical word-type
    prune/cap: per round, a pair-count + argmax CTE picks the merge
    and a RECURSIVE CTE replays the canonical greedy leftmost
    re-segmentation as a per-word left-to-right fold (the sequential
    step plain SQL cannot express; recursion depth = max word length).
    Rounds unroll; a round whose vocabulary has no pairs left
    naturally emits no row — the same early stop as the Spark side.
    Each round reads its vocabulary twice (pair count, re-segmentation),
    so the per-round CTEs are MATERIALIZED: DuckDB inlines CTEs, and
    inlined the chain recomputes round 0 2^n_merges times."""
    pat = WORD_RE.replace("'", "''")
    ctes = [
        f"""wt AS MATERIALIZED (
  SELECT word, freq FROM (
    SELECT word, count(*) AS freq FROM (
      SELECT unnest(regexp_extract_all(lower(text), '{pat}')) AS word
      FROM documents) GROUP BY 1)
  WHERE freq >= {int(min_freq)}
  ORDER BY freq DESC, word LIMIT {int(max_types)})""",
        """seqs0 AS MATERIALIZED (
  SELECT word, freq,
         list(substr(word, CAST(s.i AS INT) + 1, 1) ORDER BY s.i) AS ss
  FROM wt, LATERAL (SELECT unnest(range(0, length(word)))) AS s(i)
  GROUP BY word, freq)""",
    ]
    n = max(1, n_merges)
    for t in range(n):
        ctes.append(f"""pairs{t} AS (
  SELECT ss[CAST(s.i AS INT)] AS l, ss[CAST(s.i AS INT) + 1] AS r2, freq
  FROM seqs{t}, LATERAL (SELECT unnest(range(1, len(ss)))) AS s(i))""")
        ctes.append(f"""best{t} AS MATERIALIZED (
  SELECT l, r2, SUM(freq) AS cnt FROM pairs{t} GROUP BY 1, 2
  ORDER BY cnt DESC, l, r2 LIMIT 1)""")
        ctes.append(f"""rec{t} AS (
  SELECT word, freq, 1 AS pos, CAST([] AS VARCHAR[]) AS acc, ss, b.l, b.r2
  FROM seqs{t} CROSS JOIN best{t} b
  UNION ALL
  SELECT word, freq,
    CASE WHEN pos < len(ss) AND ss[pos] = l AND ss[pos + 1] = r2
         THEN pos + 2 ELSE pos + 1 END,
    CASE WHEN pos < len(ss) AND ss[pos] = l AND ss[pos + 1] = r2
         THEN list_append(acc, l || r2) ELSE list_append(acc, ss[pos]) END,
    ss, l, r2
  FROM rec{t} WHERE pos <= len(ss))""")
        ctes.append(f"""seqs{t + 1} AS MATERIALIZED (
  SELECT word, freq, acc AS ss FROM rec{t}
  WHERE pos > len(ss) AND len(acc) >= 2)""")
    union = "\n  UNION ALL\n".join(
        f"SELECT {t + 1} AS merge_rank, l AS \"left\", r2 AS \"right\","
        f" CAST(cnt AS BIGINT) AS pair_count, l || r2 AS new_symbol"
        f" FROM best{t}"
        for t in range(n)
    )
    body = ",\n".join(ctes)
    return (
        f"WITH RECURSIVE {body}\n"
        f"SELECT * FROM (\n  {union})\nORDER BY merge_rank"
    )


def _bpe_fold_col(enc, left, right, new):
    """One greedy leftmost-non-overlapping BPE merge pass over a
    space-joined symbol string, as a native fold (F.aggregate).

    Correctness of the fold-as-greedy argument: merging appends
    ``new = left || right`` which can never EQUAL ``left`` (right is
    non-empty), so a just-merged symbol can never immediately re-merge
    — exactly the non-overlap rule; consuming left-to-right makes it
    leftmost. The identical lambda (same CASE arms, same regexes) runs
    in the DuckDB twin via list_reduce, so the two engines execute the
    same algorithm rather than two arguably-equivalent ones."""
    syms = F.split(enc, " ")
    lam = lambda acc, x: (  # noqa: E731
        F.when(acc == "", x)
        .when(
            (F.regexp_extract(acc, "[^ ]+$", 0) == left) & (x == right),
            F.ltrim(
                F.concat(
                    F.regexp_replace(acc, "( |^)[^ ]+$", ""),
                    F.lit(" "),
                    new,
                )
            ),
        )
        .otherwise(F.concat(acc, F.lit(" "), x))
    )
    return F.aggregate(syms, F.lit(""), lam)


def bpe_encode_corpus(
    docs: DataFrame,
    n_merges: int = BPE_N_MERGES,
    min_freq: int = BPE_MIN_FREQ,
    max_types: int = BPE_MAX_TYPES,
) -> DataFrame:
    """(doc_id, n_words, n_chars, n_bpe_tokens) — tokenizer APPLY:
    train the BPE merge table (:func:`bpe_train_merges`) and encode
    the whole corpus with it, reporting exact per-document subword
    counts. Completes the train → encode loop: training bounds its
    driver state by (min_freq, max_types); encoding handles EVERY
    word, including ones training pruned.

    Scale shape: encoding is a pure function of the word, so it runs
    once per DISTINCT word — the fold chain (one native F.aggregate
    per merge, no Python) lives on the vocabulary-sized table, never
    the token stream. The corpus-sized work is one (doc_id, word)
    tf aggregation; the tf⋈vocab join is on the collapsed tf table
    (hot words are one row per doc, so the classic stopword skew
    never concentrates a key beyond a doc count — and AQE skew-join
    covers even that). At 100 TB: one corpus shuffle for training,
    one for tf, a vocab-sized fold, one vocab join.

    Reference parity: the tokenize/aggregate text surface the
    reference's documents pipeline implies (cites SURVEY §2 text
    family); contract matches HuggingFace-style BPE greedy encoding
    at word granularity."""
    merges = [
        (r["left"], r["right"], r["new_symbol"])
        for r in bpe_train_merges(
            docs, n_merges, min_freq, max_types
        ).collect()
    ]
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(WORD_RE), F.lit(0)
                )
            ).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    vocab = tf.select("word").distinct()
    enc = F.array_join(F.split(F.col("word"), ""), " ")
    for left, right, new in merges:
        enc = _bpe_fold_col(enc, F.lit(left), F.lit(right), F.lit(new))
    vocab = vocab.select(
        "word",
        F.size(F.split(enc, " ")).cast("long").alias("n_toks"),
        F.length("word").cast("long").alias("n_chars_w"),
    )
    return (
        tf.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_words"),
            F.sum(F.col("tf") * F.col("n_chars_w")).alias("n_chars"),
            F.sum(F.col("tf") * F.col("n_toks")).alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


def bpe_encode_corpus_sql(
    n_merges: int = BPE_N_MERGES,
    min_freq: int = BPE_MIN_FREQ,
    max_types: int = BPE_MAX_TYPES,
) -> str:
    """Oracle twin of :func:`bpe_encode_corpus`: replays training via
    the :func:`bpe_train_merges_sql` CTE chain, then applies each
    learned merge to every distinct corpus word with the IDENTICAL
    greedy fold lambda (list_reduce with a '' bootstrap = F.aggregate
    with a '' initial). LEFT JOIN ON TRUE keeps words intact through
    a round whose training stopped early (empty best{t})."""
    train = bpe_train_merges_sql(n_merges, min_freq, max_types)
    # reuse the training CTE body (strip the trailing SELECT)
    body = train[len("WITH RECURSIVE ") : train.rindex("\nSELECT * FROM (")]
    n = max(1, n_merges)
    ctes = [body]
    pat = WORD_RE.replace("'", "''")
    ctes.append(f"""tfq AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '{pat}')) AS word
    FROM documents) GROUP BY 1, 2)""")
    ctes.append("""encq0 AS (
  SELECT word,
         array_to_string(list_transform(range(1, length(word) + 1),
             i -> substr(word, CAST(i AS INT), 1)), ' ') AS enc
  FROM (SELECT DISTINCT word FROM tfq))""")
    for t in range(n):
        fold = (
            "list_reduce(list_prepend('', str_split(e.enc, ' ')),"
            " (acc, x) -> CASE WHEN acc = '' THEN x"
            " WHEN regexp_extract(acc, '[^ ]+$') = b.l AND x = b.r2"
            " THEN ltrim(regexp_replace(acc, '( |^)[^ ]+$', '')"
            " || ' ' || b.l || b.r2)"
            " ELSE acc || ' ' || x END)"
        )
        ctes.append(f"""encq{t + 1} AS (
  SELECT e.word,
         CASE WHEN b.l IS NULL THEN e.enc ELSE {fold} END AS enc
  FROM encq{t} e LEFT JOIN best{t} b ON TRUE)""")
    ctes.append(f"""vocabq AS (
  SELECT word, CAST(len(str_split(enc, ' ')) AS BIGINT) AS n_toks,
         CAST(length(word) AS BIGINT) AS n_chars_w
  FROM encq{n})""")
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + """
SELECT t.doc_id, CAST(SUM(t.tf) AS BIGINT) AS n_words,
       CAST(SUM(t.tf * v.n_chars_w) AS BIGINT) AS n_chars,
       CAST(SUM(t.tf * v.n_toks) AS BIGINT) AS n_bpe_tokens
FROM tfq t JOIN vocabq v USING (word)
GROUP BY 1 ORDER BY doc_id"""
    )


# ---------------------------------------------------------------------------
# batch-perceptron quality classifier training (r7)
# ---------------------------------------------------------------------------

PERC_DIM = 256  # hashed feature buckets (bias rides as bucket = PERC_DIM)
PERC_ROUNDS = 3


def _perc_feats(docs: DataFrame, dim: int) -> DataFrame:
    """(doc_id, bucket, cnt) hashed unigram counts + a bias feature."""
    from ..functions.hashing import md5_int60_col

    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    counts = (
        toks.select(
            "doc_id", (md5_int60_col(F.col("token")) % dim).alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    bias = docs.select(
        "doc_id",
        F.lit(dim).cast("long").alias("bucket"),
        F.lit(1).cast("long").alias("cnt"),
    )
    return counts.unionByName(bias)


def perceptron_quality_train(
    docs: DataFrame, dim: int = PERC_DIM, rounds: int = PERC_ROUNDS
) -> DataFrame:
    """(round, n_docs, n_misclassified, accuracy_ppm) — distill the
    fixed-weight :func:`quality_ensemble` gate into a LINEAR classifier
    over hashed unigram counts (the fastText-style quality-classifier
    training step of an LLM data pipeline, e.g. the GPT-3/LLaMA
    quality filters) with the BATCH PERCEPTRON rule: per round, every
    currently-misclassified document contributes label x features to
    one summed weight update. All state is integer (counts, ±1
    labels, BIGINT weights), so every round is bit-reproducible and
    the DuckDB twin replays training exactly — no sigmoid/exp, which
    would break cross-engine float parity.

    Scale: features and labels are computed ONCE and localCheckpointed
    (corpus-sized; a production run would materialize them to Parquet
    exactly like ``build_ann_index``). Each round is two shuffles —
    score = feats ⋈ broadcast weights (dim+1 rows, KB-sized
    driver-held state like the Lloyd codebooks) → doc agg, update =
    feats ⋈ misclassified docs → bucket agg collected back to the
    ≤ dim+1-row weight table. Rounds are a small constant; accuracy
    is reported on each round's PRE-update weights.

    Exactness: accuracy_ppm = (n - mis)·10⁶ div n, BIGINT division."""
    _, _, _, report = _perceptron_fit(docs, dim, rounds)
    return docs.sparkSession.createDataFrame(
        report, "round int, n_docs long, n_misclassified long, accuracy_ppm long"
    )


def _perceptron_fit(
    docs: DataFrame, dim: int, rounds: int
) -> tuple[dict, DataFrame, DataFrame, list]:
    """The batch-perceptron loop shared by the training report and the
    calibration audit: returns (final weights, checkpointed feats,
    checkpointed labels, per-round report rows). Same plan shapes as
    documented on :func:`perceptron_quality_train`."""
    spark = docs.sparkSession
    feats = _perc_feats(docs, dim).localCheckpoint()
    labels = (
        quality_ensemble(docs)
        .select(
            "doc_id",
            F.when(F.col("keep"), F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("label"),
        )
        .localCheckpoint()
    )
    n_docs = labels.count()
    weights: dict[int, int] = {}
    report = []
    for r in range(1, rounds + 1):
        w_rows = [(b, w) for b, w in sorted(weights.items())] or [(0, 0)]
        w_df = spark.createDataFrame(w_rows, "bucket long, w long")
        scores = (
            feats.join(F.broadcast(w_df), "bucket", "left")
            .groupBy("doc_id")
            .agg(
                F.sum(F.col("cnt") * F.coalesce(F.col("w"), F.lit(0))).alias(
                    "score"
                )
            )
        )
        # materialize the misclassified set ONCE per round: it feeds
        # both the update join and the report count, and the lazy
        # chain would otherwise re-run the whole score pass (feats ⋈
        # weights → doc agg → labels join) for each consumer — one
        # full corpus pass per round saved (r12, guide §1.2/§5).
        # persist(DISK_ONLY), not localCheckpoint (r13, VERDICT #7):
        # the set is doc-count-sized — corpus-scale at the 100 TB
        # target — so the materialization must keep a recomputable
        # lineage (executor loss re-derives blocks instead of killing
        # the round) and stay out of executor memory; the eager
        # count() fills the cache exactly once before the update join
        from pyspark import StorageLevel

        mis = (
            scores.join(labels, "doc_id")
            .where(F.col("label") * F.col("score") <= 0)
            .select("doc_id", "label")
            .persist(StorageLevel.DISK_ONLY)
        )
        n_mis = mis.count()  # eager fill + the report count
        upd = (
            feats.join(mis, "doc_id")
            .groupBy("bucket")
            .agg(F.sum(F.col("cnt") * F.col("label")).alias("delta"))
        )
        upd_rows = upd.collect()  # <= dim+1 rows: the KB-sized state
        mis.unpersist(blocking=False)  # round-local: both consumers done
        report.append(
            (
                r,
                int(n_docs),
                int(n_mis),
                (int(n_docs) - int(n_mis)) * 1_000_000 // int(n_docs),
            )
        )
        for row in upd_rows:
            weights[row.bucket] = weights.get(row.bucket, 0) + int(row.delta)
    return weights, feats, labels, report


def train_quality_weights(
    docs: DataFrame, dim: int = PERC_DIM, rounds: int = PERC_ROUNDS
) -> DataFrame:
    """(bucket, w) — the FINAL perceptron weight table, as a
    DataFrame: the TRAIN half of the train-once/score-many split (the
    same contract :mod:`~.ann_index` gives IVF-PQ — train rarely,
    score continuously). KB-sized (≤ dim+1 rows), so persisting it is
    a trivial write and scoring jobs broadcast it."""
    weights, _, _, _ = _perceptron_fit(docs, dim, rounds)
    w_rows = [(b, w) for b, w in sorted(weights.items())] or [(0, 0)]
    return docs.sparkSession.createDataFrame(w_rows, "bucket long, w long")


def save_quality_weights(
    docs: DataFrame,
    path: str,
    dim: int = PERC_DIM,
    rounds: int = PERC_ROUNDS,
) -> None:
    """Train and persist the quality-classifier weights at ``path``.
    ``meta.json`` is written LAST, so its presence marks a complete
    artifact (a crashed train is retried, never half-read) — the same
    build-complete marker protocol as :func:`~.ann_index.build_ann_index`."""
    import json
    import os

    train_quality_weights(docs, dim, rounds).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "weights"))
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump({"kind": "perceptron", "dim": dim, "rounds": rounds}, f)


def load_quality_weights(spark, path: str) -> tuple[DataFrame, dict]:
    """Read back a persisted (weights, meta) pair; raises if the
    build-complete marker is absent (half-written artifacts are
    rebuilt, never half-read)."""
    import json
    import os

    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        raise FileNotFoundError(
            f"no complete quality-weights artifact at {path}"
        )
    with open(meta_path) as f:
        meta = json.load(f)
    return spark.read.parquet(os.path.join(path, "weights")), meta


def quality_calibration(
    docs: DataFrame,
    dim: int = PERC_DIM,
    rounds: int = PERC_ROUNDS,
    weights: DataFrame | None = None,
) -> DataFrame:
    """(bin, n_docs, n_keep, keep_rate_ppm, min_score, max_score) —
    the trained classifier's RELIABILITY REPORT: score every document
    with the FINAL perceptron weights, cut the integer score range
    into 10 equal-width bins, and report per bin how often the
    teacher (:func:`quality_ensemble`) actually keeps — the audit
    that decides whether the distilled filter's score is usable as a
    threshold (keep_rate_ppm should rise monotonically with the bin).

    ``weights`` (a (bucket, w) DataFrame, e.g. from
    :func:`load_quality_weights`) skips the inline training replay —
    the SCORE half of the train-once/score-many split: the stored-
    weights path runs only one feature pass + the teacher labels, no
    ``rounds``× training shuffles. With ``weights=None`` the report
    trains inline (pure function of the corpus, so both paths emit
    identical rows — pinned by test and by the shared driver oracle).

    Exactness: scores are BIGINT sums; the bin is
    (score − min)·10 div (max − min + 1) — integer math over a 1-row
    broadcast range, NOT ntile (a global ntile sorts the corpus on one
    reducer; equal-width integer bins are map-side and hash-exact).
    keep_rate_ppm = n_keep·10⁶ div n_docs."""
    spark = docs.sparkSession
    if weights is None:
        w, feats, labels, _ = _perceptron_fit(docs, dim, rounds)
        w_rows = [(b, v) for b, v in sorted(w.items())] or [(0, 0)]
        w_df = spark.createDataFrame(w_rows, "bucket long, w long")
    else:
        w_df = weights
        feats = _perc_feats(docs, dim)
        labels = quality_ensemble(docs).select(
            "doc_id",
            F.when(F.col("keep"), F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("label"),
        )
    from ._matcache import swap_persisted

    scores = (
        feats.join(F.broadcast(w_df), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.coalesce(F.col("w"), F.lit(0))).alias(
                "score"
            )
        )
    )
    # materialize once: the range aggregate AND the binning pass both
    # read scores; one doc-sized table instead of two full feature-join
    # passes (r12, guide §5). persist(DISK_ONLY) in a session slot, not
    # localCheckpoint (r13, VERDICT #7): doc-count-sized frames keep a
    # recomputable lineage and stay out of executor memory; no cold
    # race — the range aggregate is a blocking BroadcastExchange that
    # fills the cache before the binning stage reads it.
    scores = swap_persisted("quality_calibration.scores", scores)
    rng = scores.agg(
        F.min("score").alias("mn"), F.max("score").alias("mx")
    )
    binned = (
        scores.crossJoin(F.broadcast(rng))
        .select(
            "doc_id",
            "score",
            F.expr("CAST((score - mn) * 10 div (mx - mn + 1) AS INT)").alias(
                "bin"
            ),
        )
        .join(labels, "doc_id")
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("label") == 1, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_keep"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .select(
            "bin",
            "n_docs",
            "n_keep",
            F.expr("n_keep * 1000000 div n_docs")
            .cast("long")
            .alias("keep_rate_ppm"),
            "min_score",
            "max_score",
        )
        .orderBy("bin")
    )


def _perceptron_sql_parts(src: str, dim: int, rounds: int) -> list[str]:
    """The unrolled training CTE chain (feats/labels/w_0 … w_rounds)
    shared by the training-report and calibration oracles."""
    from ..functions.hashing import md5_int60_sql

    h = md5_int60_sql("token")
    parts = [
        f"""feats AS MATERIALIZED (
  SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT doc_id, {h} % {dim} AS bucket FROM (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM {src})
    WHERE token <> '')
  GROUP BY 1, 2
  UNION ALL
  SELECT doc_id, CAST({dim} AS BIGINT) AS bucket, CAST(1 AS BIGINT) AS cnt
  FROM {src}),
labels AS MATERIALIZED (
  SELECT doc_id, CASE WHEN keep THEN CAST(1 AS BIGINT)
                      ELSE CAST(-1 AS BIGINT) END AS label
  FROM ({quality_ensemble_sql(src)})),
w_0 AS (SELECT CAST(0 AS BIGINT) AS bucket, CAST(0 AS BIGINT) AS w
        WHERE FALSE)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""scores_{r} AS MATERIALIZED (
  SELECT f.doc_id, SUM(f.cnt * coalesce(w.w, 0)) AS score
  FROM feats f LEFT JOIN w_{r - 1} w USING (bucket)
  GROUP BY 1),
mis_{r} AS MATERIALIZED (
  SELECT s.doc_id, l.label
  FROM scores_{r} s JOIN labels l USING (doc_id)
  WHERE l.label * s.score <= 0),
upd_{r} AS (
  SELECT f.bucket, SUM(f.cnt * m.label) AS delta
  FROM feats f JOIN mis_{r} m USING (doc_id)
  GROUP BY 1),
w_{r} AS MATERIALIZED (
  SELECT bucket, SUM(w) AS w FROM (
    SELECT bucket, w FROM w_{r - 1}
    UNION ALL
    SELECT bucket, delta AS w FROM upd_{r})
  GROUP BY 1)"""
        )
    return parts


def perceptron_quality_train_sql(
    src: str = "documents", dim: int = PERC_DIM, rounds: int = PERC_ROUNDS
) -> str:
    """Oracle twin of :func:`perceptron_quality_train`: the training
    loop unrolled into one MATERIALIZED CTE chain per round (the BPE
    recursive-replay pattern)."""
    parts = _perceptron_sql_parts(src, dim, rounds)
    rows = "\n  UNION ALL\n".join(
        f"""  SELECT {r} AS round,
         (SELECT count(*) FROM labels) AS n_docs,
         (SELECT count(*) FROM mis_{r}) AS n_misclassified""" 
        for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(round AS INTEGER) AS round,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_misclassified AS BIGINT) AS n_misclassified,
       CAST((n_docs - n_misclassified) * 1000000 // n_docs AS BIGINT)
         AS accuracy_ppm
FROM (
{rows})
"""
    ).strip()


def quality_calibration_sql(
    src: str = "documents", dim: int = PERC_DIM, rounds: int = PERC_ROUNDS
) -> str:
    """Oracle twin of :func:`quality_calibration`: replay training to
    the final weights, then the same integer-exact score binning."""
    parts = _perceptron_sql_parts(src, dim, rounds)
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
scores_f AS MATERIALIZED (
  SELECT f.doc_id, SUM(f.cnt * coalesce(w.w, 0)) AS score
  FROM feats f LEFT JOIN w_{rounds} w USING (bucket)
  GROUP BY 1),
rng AS (SELECT min(score) AS mn, max(score) AS mx FROM scores_f),
binned AS (
  SELECT s.doc_id, s.score,
         CAST((s.score - r.mn) * 10 // (r.mx - r.mn + 1) AS INT) AS bin
  FROM scores_f s CROSS JOIN rng r)
SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN l.label = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keep,
       CAST(SUM(CASE WHEN l.label = 1 THEN 1 ELSE 0 END) * 1000000
         // count(*) AS BIGINT) AS keep_rate_ppm,
       CAST(min(b.score) AS BIGINT) AS min_score,
       CAST(max(b.score) AS BIGINT) AS max_score
FROM binned b JOIN labels l USING (doc_id)
GROUP BY 1 ORDER BY bin
"""
    ).strip()


# ---------------------------------------------------------------------------
# vocabulary frequency spectrum (r7)
# ---------------------------------------------------------------------------


def freq_spectrum(docs: DataFrame) -> DataFrame:
    """(freq, n_types, token_mass) — the frequency-of-frequencies
    spectrum of the corpus vocabulary (Good-Turing's N_r): how many
    distinct token types occur exactly ``freq`` times, and the token
    mass they carry. The Zipf/hapax diagnostic behind vocabulary-size
    decisions, Good-Turing smoothing, and near-duplicate-corpus
    detection (a duplicated corpus shows a doubled spectrum).

    Scale: two partial-agg groupBys — corpus → per-token counts
    (vocabulary-sized), counts → spectrum (distinct-frequency-sized,
    ~O(√tokens) by Zipf) — both shrink aggressively map-side; no
    windows, no sorts."""
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    per_tok = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    return per_tok.groupBy("freq").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        (F.count(F.lit(1)) * F.col("freq")).cast("long").alias("token_mass"),
    )


def freq_spectrum_sql(src: str = "documents") -> str:
    """Oracle twin of :func:`freq_spectrum`."""
    return f"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM {src}),
per_tok AS (
  SELECT token, count(*) AS freq FROM toks WHERE token <> ''
  GROUP BY 1)
SELECT freq, CAST(count(*) AS BIGINT) AS n_types,
       CAST(count(*) * freq AS BIGINT) AS token_mass
FROM per_tok GROUP BY 1
""".strip()


# ---------------------------------------------------------------------------
# PMI collocations (corpus-level multi-word expressions)
# ---------------------------------------------------------------------------
PMI_MIN_COUNT = 5
PMI_TOPK = 100


def pmi_collocations(
    docs: DataFrame, min_count: int = PMI_MIN_COUNT, k: int = PMI_TOPK
) -> DataFrame:
    """(bigram, c_ab, lift_ppm) — the corpus's strongest collocations:
    adjacent word pairs ranked by pointwise mutual information. PMI =
    log p(ab)/(p(a)·p(b)) is MONOTONE in the integer lift
    c_ab·N_uni² / (N_bg·c_a·c_b), so the ranking needs no float log
    at all: ``lift_ppm`` is that rational floored to ppm in exact
    DECIMAL(38,0) arithmetic (the log is a display transform the
    caller can apply; the ORDER is already PMI order, immune to libm
    differences, and c_ab·N² overflows int64 long before 100 TB so
    the DECIMAL(38,0) arithmetic is load-bearing — headroom to
    ~3×10¹² tokens; past that, drop the ppm scale or bucket-shard the
    unigram table and the same plan holds).

    Scale: one bigram groupBy + one unigram groupBy (both partial-agg
    map-side combined), two broadcast-sized joins of the surviving
    ≥ min_count bigrams against the unigram table, TakeOrdered top-k.
    The min_count cut runs BEFORE the unigram joins, so join volume
    tracks the collocation vocabulary, not the corpus."""
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    bg = (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    norm, F.lit(r"(?<![^ ])(?=([^ ]+ [^ ]+))"), F.lit(1)
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    uni = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    n_bg = bg.agg(F.sum("c_ab").alias("n_bg"))
    ua = uni.select(F.col("w").alias("wa"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("wb"), F.col("c").alias("c_b"))
    survivors = bg.where(F.col("c_ab") >= min_count).select(
        "bigram",
        "c_ab",
        F.split(F.col("bigram"), " ").getItem(0).alias("wa"),
        F.split(F.col("bigram"), " ").getItem(1).alias("wb"),
    )
    return (
        survivors.join(ua, "wa")
        .join(ub, "wb")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bg))
        .select(
            "bigram",
            "c_ab",
            F.expr(
                "CAST(CAST(c_ab AS DECIMAL(38,0)) * n_uni * n_uni "
                "* 1000000 DIV (CAST(n_bg AS DECIMAL(38,0)) * c_a * c_b) "
                "AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), "bigram")
        .limit(k)
    )


def pmi_collocations_sql(
    min_count: int = PMI_MIN_COUNT, k: int = PMI_TOPK
) -> str:
    """Oracle twin of :func:`pmi_collocations`."""
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '{TOKEN_RE}') AS t
  FROM documents),
bg AS (
  SELECT t[s.i] || ' ' || t[s.i + 1] AS bigram, count(*) AS c_ab
  FROM toks, LATERAL (SELECT unnest(range(1, len(t)))) AS s(i)
  GROUP BY 1),
uni AS (
  SELECT u.w AS w, count(*) AS c
  FROM toks, LATERAL (SELECT unnest(t)) AS u(w)
  GROUP BY 1),
n_uni AS (SELECT SUM(c) AS n_uni FROM uni),
n_bg AS (SELECT SUM(c_ab) AS n_bg FROM bg),
survivors AS (
  SELECT bigram, c_ab,
         split_part(bigram, ' ', 1) AS wa,
         split_part(bigram, ' ', 2) AS wb
  FROM bg WHERE c_ab >= {min_count})
SELECT bigram, c_ab,
       CAST(CAST(c_ab AS HUGEINT) * n_uni * n_uni * 1000000
            // (CAST(n_bg AS HUGEINT) * ua.c * ub.c) AS BIGINT)
         AS lift_ppm
FROM survivors
JOIN uni ua ON wa = ua.w
JOIN uni ub ON wb = ub.w
CROSS JOIN n_uni CROSS JOIN n_bg
ORDER BY lift_ppm DESC, bigram LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# Kneser-Ney bigram LM perplexity scoring (CCNet-style quality filter)
# ---------------------------------------------------------------------------
KN_DISCOUNT = 0.75  # binary-exact double


def kn_bigram_scores(docs: DataFrame, discount: float = KN_DISCOUNT) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll) — per-document mean negative
    log-likelihood under an interpolated Kneser-Ney BIGRAM model
    trained on the corpus itself: the LM-perplexity quality filter
    (CCNet trains a KN model on a clean corpus and gates web text by
    perplexity; scoring the training corpus itself keeps the entry
    self-contained and every probability well-defined — no unseen
    backoff branch, since each scored bigram was counted).

    P(w2|w1) = (max(c(w1w2)−D, 0) + D·N1+(w1,·)·P_cont(w2)) / c(w1,·)
    with P_cont(w2) = N1+(·,w2)/T over distinct bigram types T.

    Exactness: every count is BIGINT; D = 0.75 is a binary-exact
    double; each bigram's tf·(−ln P) contribution is computed in an
    IDENTICALLY-SHAPED double expression in both engines, cast to
    DECIMAL(20,10) and summed exactly (order-independent — the
    surprisal_scores discipline), so the per-doc mean hash-matches.

    Scale: one bigram shuffle to per-(doc, bigram) counts collapses
    the corpus; the model tables (bigram stats, left/right
    continuation counts) aggregate that collapsed table; scoring is
    three key joins of the (doc, bigram) table against
    vocabulary-sized stats. The collapsed table is persisted — five
    downstream branches (stats → splits → left/right/T plus the
    scoring join) consume it, and without the persist each re-runs
    the corpus-sized regex extraction (plan-audited: 5 FileScans
    lazy → 1 persisted). No windows, no driver state."""
    from pyspark.storagelevel import StorageLevel

    d = float(discount)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    bg = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                norm, F.lit(r"(?<![^ ])(?=([^ ]+ [^ ]+))"), F.lit(1)
            )
        ).alias("bigram"),
    )
    tfb = (
        bg.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stats = tfb.groupBy("bigram").agg(F.sum("tf").alias("c12"))
    splits = stats.select(
        "bigram",
        "c12",
        F.split(F.col("bigram"), " ").getItem(0).alias("w1"),
        F.split(F.col("bigram"), " ").getItem(1).alias("w2"),
    )
    left = splits.groupBy("w1").agg(
        F.sum("c12").alias("c1row"),
        F.count(F.lit(1)).alias("nf1"),  # N1+(w1, ·)
    )
    right = splits.groupBy("w2").agg(
        F.count(F.lit(1)).alias("np2")  # N1+(·, w2)
    )
    tt = stats.agg(F.count(F.lit(1)).alias("t_types"))
    p = (
        F.greatest(F.col("c12").cast("double") - F.lit(d), F.lit(0.0))
        + F.lit(d)
        * F.col("nf1").cast("double")
        * (F.col("np2").cast("double") / F.col("t_types").cast("double"))
    ) / F.col("c1row").cast("double")
    contrib = (F.col("tf").cast("double") * -F.log(p)).cast(
        "decimal(20,10)"
    )
    return (
        tfb.join(splits, "bigram")
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(tt))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(contrib).alias("s_dec"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("s_dec").cast("double")
                / F.col("n_bigrams").cast("double"),
                6,
            ).alias("avg_nll"),
        )
    )


def kn_bigram_scores_sql(discount: float = KN_DISCOUNT) -> str:
    """Oracle twin of :func:`kn_bigram_scores` — the identical
    expression shapes so the doubles agree bit-for-bit."""
    d = float(discount)
    p = (
        f"(greatest(CAST(c12 AS DOUBLE) - {d!r}, 0.0) "
        f"+ {d!r} * CAST(nf1 AS DOUBLE) "
        f"* (CAST(np2 AS DOUBLE) / CAST(t_types AS DOUBLE))) "
        f"/ CAST(c1row AS DOUBLE)"
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '\\S+') AS t
  FROM documents),
bg AS (
  SELECT doc_id, t[s.i] || ' ' || t[s.i + 1] AS bigram
  FROM toks, LATERAL (SELECT unnest(range(1, len(t)))) AS s(i)),
tfb AS (SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY 1, 2),
stats AS (SELECT bigram, SUM(tf) AS c12 FROM tfb GROUP BY 1),
splits AS (
  SELECT bigram, c12,
         split_part(bigram, ' ', 1) AS w1,
         split_part(bigram, ' ', 2) AS w2
  FROM stats),
lft AS (SELECT w1, SUM(c12) AS c1row, CAST(count(*) AS BIGINT) AS nf1
        FROM splits GROUP BY 1),
rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS np2
        FROM splits GROUP BY 1),
tt AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM stats),
per_doc AS (
  SELECT tfb.doc_id, SUM(tfb.tf) AS n_bigrams,
         SUM(CAST(CAST(tfb.tf AS DOUBLE) * -ln({p})
             AS DECIMAL(20,10))) AS s_dec
  FROM tfb
  JOIN splits USING (bigram)
  JOIN lft USING (w1)
  JOIN rgt USING (w2)
  CROSS JOIN tt
  GROUP BY 1)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       round(CAST(s_dec AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6)
         AS avg_nll
FROM per_doc
""".strip()


# ---------------------------------------------------------------------------
# weighted sampling without replacement — exponential-race keys
# (Efraimidis & Spirakis, IPL 2006: "Weighted random sampling with a
# reservoir"): each item draws u ~ U(0,1] and keys ln(u)/w; the top-k
# keys ARE a weighted sample without replacement. One map pass + a
# TakeOrdered — the canonical distributed weighted sampler (no global
# sort, no sequential reservoir), here made deterministic by drawing
# u from the salted md5 hash.
# ---------------------------------------------------------------------------
WS_K = 25
_WS_DENOM = float(1 << 60)


def weighted_sample(docs: DataFrame, k: int = WS_K) -> DataFrame:
    """(doc_id, weight, key, rank) — a deterministic weighted sample
    without replacement of ``k`` documents, weight = n_chars (longer
    docs proportionally likelier — the token-mass-faithful sampling a
    mixing pipeline wants): u = (h + 1)/2^60 from the salted 60-bit
    md5 (never 0), key = ln(u)/w, top-k by key desc. Same corpus ⇒
    same sample across engines/runs/partitionings (the corpus_split
    reproducibility argument applied to sampling).

    Scale: map-side hash + one ln per row, TakeOrdered top-k — no
    shuffle of the corpus at all.

    Zero-weight docs are filtered BEFORE keying (r9 ADVICE): an
    n_chars = 0 doc has zero selection probability by definition, and
    keying it anyway would hand it ln(u)/0 = -Infinity — correct only
    while both engines keep IEEE division semantics, and still
    sampleable when fewer than k positive-weight docs exist."""
    from ..functions.hashing import md5_int60_col
    from pyspark.sql.window import Window

    docs = docs.filter(F.col("n_chars") > 0)
    h = md5_int60_col(
        F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))
    )
    u = (h.cast("double") + 1.0) / F.lit(_WS_DENOM)
    w = F.col("n_chars").cast("double")
    keyed = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        F.round(F.log(u) / w, 9).alias("key"),
    )
    top = keyed.orderBy(F.col("key").desc(), "doc_id").limit(int(k))
    rnk = F.row_number().over(
        Window.orderBy(F.col("key").desc(), F.col("doc_id"))
    )
    return top.withColumn("rank", rnk.cast("int"))


def weighted_sample_sql(k: int = WS_K, src: str = "documents") -> str:
    from ..functions.hashing import md5_int60_sql

    h = md5_int60_sql("'ws:' || CAST(doc_id AS VARCHAR)")
    u = f"((CAST({h} AS DOUBLE) + 1.0) / {_WS_DENOM!r})"
    return f"""
WITH keyed AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         round(ln({u}) / CAST(n_chars AS DOUBLE), 9) AS key
  FROM {src} WHERE n_chars > 0)
SELECT doc_id, weight, key, rank FROM (
  SELECT doc_id, weight, key,
         CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INT)
           AS rank
  FROM keyed)
WHERE rank <= {int(k)}
""".strip()
