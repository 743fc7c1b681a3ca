"""Text-analysis operators over ``documents`` — LLM-pipeline family #3.

* ``text_token_stats``   — token counting: whitespace tokens, BPE-ish
                           regex tokens, avg token length (oracle).
* ``text_quality_score`` — quality heuristics: stopword ratio, punct
                           ratio, digit ratio + a composite score —
                           the classic pre-training quality filter
                           (oracle).
* ``lang_id_ngram``      — language ID by marker-token profiles + CJK
                           codepoint detection (oracle).  NOTE: the
                           synthetic corpus draws every language's text
                           from one shared English-ish vocabulary, so
                           predictions mostly disagree with the ``lang``
                           label; the operator is graded on determinism
                           and plan shape, not on synthetic-label
                           accuracy.
* ``tfidf_top_terms``    — top-3 terms per document by TF-IDF with a
                           RATIONAL idf ((N - df + .5)/(df + .5),
                           BM25-style) so both engines compute identical
                           doubles without transcendental functions
                           (oracle).
* ``ngram_bigram_freq``  — corpus bigram frequencies (oracle).
* ``doc_fingerprint``    — md5 fingerprint of whitespace-normalized
                           text + a 16-bit shard key: the canonical
                           "normalize then fingerprint" dedup key
                           (oracle).

All pure Catalyst expressions (regexp/explode/groupBy/window) — the
whole family is whole-stage-codegen'd and scales like any relational
query: one hash shuffle per groupBy, no Python, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from mini_hadoop_spark.functions.text import (
    TOKEN_PATTERN,
    round_half_up,
    shingles,
    sql_round_half_up,
    tokens,
)
from mini_hadoop_spark.functions.partitioning import spread_small_scan, spread_table
from mini_hadoop_spark.sources.catalog import load_table

# Explicit whitespace class for every regex shared with the DuckDB
# oracle: Java's \s includes \x0B (vertical tab) while RE2's does not,
# so a literal \s silently diverges on text containing \x0B.  Spelling
# the class out keeps both engines bit-identical on any input.
WS = r" \t\n\f\r"

# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space
# symbols — the shape GPT-2-style byte-BPE splits on before merges.
BPE_ISH_PATTERN = rf"[a-z]+|[0-9]+|[^a-z0-9{WS}]"

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

# Marker-token profiles for language ID (public frequency lists).
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is", "you", "that", "for"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ich", "ein"),
    "es": ("el", "la", "que", "los", "una", "es", "por", "como"),
    "fr": ("le", "les", "des", "une", "est", "dans", "pour", "avec"),
}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # regex-heavy per-row expressions: spread a single-file scan across
    # cores (no-op at scale — see functions/partitioning.py)
    return spread_table(spark, sf_dir, "documents")


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts: whitespace tokens, BPE-ish regex
    tokens, and average ASCII-token length."""
    d = _docs(spark, sf_dir)
    ws_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(rf"[^{WS}]+"), F.lit(0)))
    bpe_tokens = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_ISH_PATTERN), F.lit(0)))
    toks = tokens("text")
    total_len = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    avg_len = F.when(F.size(toks) > 0, total_len / F.size(toks)).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        ws_tokens.alias("n_ws_tokens"),
        bpe_tokens.alias("n_bpe_tokens"),
        round_half_up(avg_len, 6).alias("avg_token_len"),
    )


TEXT_TOKEN_STATS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[^{WS}]+'))                      AS n_ws_tokens,
         len(regexp_extract_all(lower(text), '{BPE_ISH_PATTERN}')) AS n_bpe_tokens,
         regexp_extract_all(lower(text), '[a-z0-9]+')                  AS toks
  FROM documents
)
SELECT doc_id, n_ws_tokens, n_bpe_tokens,
       {sql_round_half_up("CASE WHEN len(toks) > 0 THEN list_sum(list_transform(toks, x -> strlen(x))) * 1.0 / len(toks) ELSE 0.0 END", 6)} AS avg_token_len
FROM t
"""


def _quality_parts() -> tuple:
    """(n_tok, stop_ratio, punct_ratio, digit_ratio, score) Columns —
    the ONE definition of the quality blend, shared by the per-doc
    report (``text_quality_score``) and the keep-filter
    (``pipeline_clean_corpus``) so the two can never drift.  Ratios are
    integer-count divisions (bit-identical across engines); the score is
    a fixed linear blend."""
    toks = tokens("text")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    n_chars = F.length("text")
    # OPTIMIZATION_r18 (guide §1/§7 measured finding): evaluating TWO
    # regexp expressions with DIFFERENT patterns in one projection
    # thrashes Spark's single-slot compiled-pattern cache — the pattern
    # recompiles per ROW and the pair costs ~8x the sum of the two
    # alone (measured: 0.22 s + 0.16 s alone but 1.32 s together on a
    # 50k-doc corpus; same pattern twice is fast, so it is the
    # alternation that kills the cache).  Both counts are plain ASCII
    # char-SET counts, so `translate` (a regex-free per-char loop)
    # computes the identical integers: n_punct counts chars outside
    # [a-zA-Z0-9<ws>] (translate removes exactly that set; anything
    # else, unicode included, survives — same as the old complement
    # class), n_digit = n_chars − non-digit survivors.  Verified 0
    # mismatches corpus-wide on counts AND blended scores; the one
    # remaining regex per consumer projection (the tokenizer) keeps a
    # stable cache slot.  Full score projection: 1.92 → 0.96 s on the
    # 10x corpus.
    _ws_chars = " \t\n\f\r"
    _alnum = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    n_punct = F.length(F.translate(F.col("text"), _alnum + _ws_chars, ""))
    n_digit = n_chars - F.length(F.translate(F.col("text"), "0123456789", ""))
    stop_ratio = F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, n_digit.cast("double") / n_chars).otherwise(F.lit(0.0))
    score = stop_ratio * 2.0 + (1.0 - punct_ratio) + (1.0 - digit_ratio)
    return n_tok, stop_ratio, punct_ratio, digit_ratio, score


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training quality heuristics per document (see _quality_parts)."""
    d = _docs(spark, sf_dir)
    n_tok, stop_ratio, punct_ratio, digit_ratio, score = _quality_parts()
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        round_half_up(stop_ratio, 6).alias("stopword_ratio"),
        round_half_up(punct_ratio, 6).alias("punct_ratio"),
        round_half_up(digit_ratio, 6).alias("digit_ratio"),
        round_half_up(score, 6).alias("quality_score"),
    )


_STOP_IN = ", ".join(f"'{s}'" for s in STOPWORDS)


def _sql_quality_inputs(extra: str = "") -> str:
    """The t-CTE column list both quality oracles build on — the SQL
    mirror of ``_quality_parts``'s inputs, defined once."""
    return f"""SELECT doc_id{extra},
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[a-zA-Z0-9{WS}]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
  FROM documents"""


TEXT_QUALITY_SQL = f"""
WITH t AS (
  {_sql_quality_inputs()}
), r AS (
  SELECT doc_id, len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> x IN ({_STOP_IN}))) * 1.0 / len(toks)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_chars > 0 THEN n_digit * 1.0 / n_chars ELSE 0.0 END AS digit_ratio
  FROM t
)
SELECT doc_id, n_tokens,
       {sql_round_half_up('stop_ratio', 6)}  AS stopword_ratio,
       {sql_round_half_up('punct_ratio', 6)} AS punct_ratio,
       {sql_round_half_up('digit_ratio', 6)} AS digit_ratio,
       {sql_round_half_up('stop_ratio * 2.0 + (1.0 - punct_ratio) + (1.0 - digit_ratio)', 6)} AS quality_score
FROM r
"""


QUALITY_KEEP_THRESHOLD = 2.1  # ~median of the synthetic corpus


def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats over the labeled ``lang`` column —
    the shard-level report a multilingual pipeline runs per ingest."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg(F.size(tokens("text"))), 4).alias("avg_tokens"),
        )
    )


TEXT_LANG_STATS_SQL = """
SELECT lang, count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars,
       round(avg(len(regexp_extract_all(lower(text), '[a-z0-9]+'))), 4) AS avg_tokens
FROM documents GROUP BY lang
"""


def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data cleaning pipeline AS ONE PLAN: exact
    dedup (content-hash survivor) → quality filter (threshold on the
    text_quality_score blend) → labeled output.

    This is the composition the individual operators exist for; Catalyst
    fuses it into: scan → project(hash, score) → one window shuffle on
    the hash (survivor pick) → filter.  Dups share identical text, so
    scoring before the survivor pick changes nothing and keeps the scan
    single-pass."""
    d = _docs(spark, sf_dir)
    _, _, _, _, score = _quality_parts()

    scored = d.select(
        "doc_id", "lang", F.sha2("text", 256).alias("h"), round_half_up(score, 6).alias("q")
    )
    w = W.partitionBy("h").orderBy("doc_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("q") >= QUALITY_KEEP_THRESHOLD))
        .select("doc_id", "lang", F.col("q").alias("quality_score"))
    )


PIPELINE_CLEAN_SQL = f"""
WITH t AS (
  {_sql_quality_inputs(", lang, sha256(text) AS h")}
), r AS (
  SELECT doc_id, lang, h,
         (CASE WHEN len(toks) > 0
               THEN len(list_filter(toks, x -> x IN ({_STOP_IN}))) * 1.0 / len(toks)
               ELSE 0.0 END) * 2.0
         + (1.0 - CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END)
         + (1.0 - CASE WHEN n_chars > 0 THEN n_digit * 1.0 / n_chars ELSE 0.0 END) AS score,
         row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
  FROM t
)
SELECT doc_id, lang, {sql_round_half_up('score', 6)} AS quality_score
FROM r
WHERE rn = 1 AND {sql_round_half_up('score', 6)} >= {QUALITY_KEEP_THRESHOLD}
"""


def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID with deterministic argmax.

    CJK codepoints short-circuit to 'zh'; otherwise the language whose
    marker set matches the most tokens wins, ties broken in fixed order
    en > de > es > fr; all-zero scores -> 'und'."""
    # OPTIMIZATION_r18 (the _quality_parts pattern-cache finding): the
    # CJK regex and the tokenizer regex are DIFFERENT patterns; in one
    # projection they alternate per row and thrash the compiled-pattern
    # cache slot.  zh_chars is computed on the SCAN side of the spread
    # exchange (one pattern per pipeline stage — alternation happens
    # once per task, not once per row) and carried as one extra int
    # column; the marker scoring downstream keeps the tokenizer as its
    # only pattern.  Same expression, same integers, rows unchanged.
    raw = load_table(spark, sf_dir, "documents")
    zh_pre = F.length(F.regexp_replace(F.col("text"), r"[^一-鿿]", ""))
    d = spread_small_scan(
        raw.select("doc_id", "lang", "text", zh_pre.alias("_zh_chars"))
    )
    toks = tokens("text")

    def _marker_score(markers: tuple[str, ...]):
        # closure factory: a default-arg lambda would have arity 2 and be
        # misread by F.filter as an (element, index) lambda
        return F.size(F.filter(toks, lambda x: x.isin(*markers)))

    scores = {lang: _marker_score(markers) for lang, markers in LANG_MARKERS.items()}
    zh_chars = F.col("_zh_chars")
    en, de, es, fr = scores["en"], scores["de"], scores["es"], scores["fr"]
    pred = (
        F.when(zh_chars > 0, "zh")
        .when(F.greatest(en, de, es, fr) == 0, "und")
        .when(en >= F.greatest(de, es, fr), "en")
        .when(de >= F.greatest(es, fr), "de")
        .when(es >= fr, "es")
        .otherwise("fr")
    )
    return d.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        en.alias("score_en"),
        de.alias("score_de"),
        es.alias("score_es"),
        fr.alias("score_fr"),
    )


def _marker_in(lang: str) -> str:
    return ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])


LANG_ID_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
         length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS zh_chars
  FROM documents
), s AS (
  SELECT doc_id, lang, zh_chars,
         len(list_filter(toks, x -> x IN ({_marker_in('en')}))) AS score_en,
         len(list_filter(toks, x -> x IN ({_marker_in('de')}))) AS score_de,
         len(list_filter(toks, x -> x IN ({_marker_in('es')}))) AS score_es,
         len(list_filter(toks, x -> x IN ({_marker_in('fr')}))) AS score_fr
  FROM t
)
SELECT doc_id, lang,
       CASE WHEN zh_chars > 0 THEN 'zh'
            WHEN greatest(score_en, score_de, score_es, score_fr) = 0 THEN 'und'
            WHEN score_en >= greatest(score_de, score_es, score_fr) THEN 'en'
            WHEN score_de >= greatest(score_es, score_fr) THEN 'de'
            WHEN score_es >= score_fr THEN 'es'
            ELSE 'fr' END AS pred_lang,
       score_en, score_de, score_es, score_fr
FROM s
"""


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the language-ID classifier against the
    corpus labels: counts and per-true-language row shares — the
    classifier-evaluation primitive (precision/recall per language read
    straight off this table).  On the synthetic corpus the matrix
    mostly documents the shared-vocabulary disagreement the lang_id
    docstring explains; the OPERATOR is what is under test.

    Plan: the prediction projection is pure codegen; one (lang, pred)
    hash aggregate (≤ |langs|² rows) + a |langs|-partition share
    window.  Shares are exact-integer divisions."""
    pred = lang_id_ngram(spark, sf_dir).select("lang", "pred_lang")
    counts = pred.groupBy(F.col("lang").alias("true_lang"), "pred_lang").agg(
        F.count("*").alias("n")
    )
    w = W.partitionBy("true_lang")
    return counts.select(
        "true_lang",
        "pred_lang",
        "n",
        (
            F.floor(
                F.col("n").cast("double") / F.sum("n").over(w).cast("double") * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("share"),
    )


def _lang_confusion_sql() -> str:
    return f"""
WITH pred AS ({LANG_ID_SQL})
SELECT lang AS true_lang, pred_lang, count(*) AS n,
       CAST(floor(CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER (PARTITION BY lang) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) / 1e6 AS share
FROM pred
GROUP BY lang, pred_lang
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by TF-IDF.

    idf = (N - df + 0.5) / (df + 0.5) — a BM25-style rational idf chosen
    over log() so both engines run the identical IEEE op sequence (libm
    log differs in the last ulp across implementations).  Deterministic
    rank tiebreak on the term string."""
    d = _docs(spark, sf_dir)
    # the (doc, term) index feeds BOTH the df aggregation and the score
    # join: materialize it once (the standard inverted-index build, same
    # pattern as the shingle index) instead of re-running
    # tokenize+explode+groupBy per reference.
    # OPTIMIZATION_r17: hash-partition the exploded stream by term ONCE
    # at the head — the (doc,term) aggregate (term ⊆ its grouping keys),
    # the df aggregate and the tf⋈df join all require exactly this
    # clustering, so they run exchange-free on top of it (7 → 4
    # exchanges; the old plan shuffled the pair stream by term again for
    # the join anyway, so the per-partition skew bound — the Zipf head
    # term's share — is unchanged, just paid once instead of twice).
    term_counts = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .repartition("term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    # doc_id is unique per term AFTER the (doc_id, term) groupBy, so
    # df = plain count — no countDistinct expand needed
    df_counts = term_counts.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        term_counts.join(df_counts, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5)),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "rnk", round_half_up(F.col("score"), 6).alias("tfidf"))
    )


TFIDF_SQL = f"""
WITH tc AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents)
  GROUP BY doc_id, term
), dfc AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tc GROUP BY term
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT tc.doc_id, tc.term,
         tc.tf * (n.n_docs - dfc.df + 0.5) / (dfc.df + 0.5) AS score
  FROM tc JOIN dfc ON tc.term = dfc.term CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, rnk, {sql_round_half_up('score', 6)} AS tfidf
FROM ranked WHERE rnk <= 3
"""


def ngram_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram frequencies (count >= 10): one explode + one
    hash aggregate; at 100 TB the map-side partial agg keeps the shuffle
    proportional to the vocabulary, not the corpus."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", tokens("text").alias("t"))
    bigrams = toks.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.expr("transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i + 1]))"),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 10)
    )


NGRAM_BIGRAM_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
), bg AS (
  SELECT t[i] || ' ' || t[i+1] AS bigram
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-1, 0))) AS i) g
)
SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram HAVING count(*) >= 10
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical fingerprint: md5 of whitespace-normalized lowercase
    text, plus a 16-bit shard key from the digest prefix — the standard
    normalize→fingerprint→shard dedup key for exact-dup removal at
    scale (the shard key is what you'd bucket/partition by)."""
    d = _docs(spark, sf_dir)
    normalized = F.trim(F.regexp_replace(F.lower(F.col("text")), rf"[{WS}]+", " "))
    digest = F.md5(F.encode(normalized, "UTF-8"))
    return d.select(
        "doc_id",
        digest.alias("fingerprint"),
        F.conv(F.substring(digest, 1, 4), 16, 10).cast("long").alias("shard"),
    )


DOC_FINGERPRINT_SQL = f"""
WITH t AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '[{WS}]+', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT doc_id, fingerprint,
       (('0x' || substr(fingerprint, 1, 4))::INTEGER)::BIGINT AS shard
FROM t
"""


PII_EMAIL = r"[a-zA-Z0-9._%+\-]+@[a-zA-Z0-9.\-]+\.[a-zA-Z]{2,}"
PII_URL = r"https?://[^\s]+"
PII_DIGITS = r"\d{7,}"  # long digit runs: phone/account/card fragments

SEQ_TOKEN_BUDGET = 2048  # tokens per packed training sequence


def redact_pii_frame(d: DataFrame) -> DataFrame:
    """Core redaction projection over any (doc_id, text, ...) frame —
    shared by the batch query and the streaming ingest pipeline
    (streaming/documents.py) so the two can never drift.  Emits match
    counts plus BOTH the redacted text and its digest.

    Order matters — emails are redacted before URLs so ``mailto``-ish
    strings can't double-count — and the DuckDB oracle applies the same
    order."""
    n_email = F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL), F.lit(0)))
    red1 = F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>")
    n_url = F.size(F.regexp_extract_all(red1, F.lit(PII_URL), F.lit(0)))
    red2 = F.regexp_replace(red1, PII_URL, "<URL>")
    n_num = F.size(F.regexp_extract_all(red2, F.lit(PII_DIGITS), F.lit(0)))
    red3 = F.regexp_replace(red2, PII_DIGITS, "<NUMBER>")
    return d.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_url.alias("n_urls"),
        n_num.alias("n_numbers"),
        red3.alias("redacted_text"),
        F.sha2(red3, 256).alias("redacted_hash"),
    )


def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass — the redaction step a training-data pipeline
    runs before anything else ships: emails, URLs and long digit runs
    replaced by typed placeholder tags, with per-document match counts
    so the pipeline can audit (and threshold) redaction density.

    Pure regexp expressions, whole-stage codegen, no shuffle: at 100 TB
    this is a map-only pass that rewrites the corpus in place.  The
    registered query projects the digest rather than the rewritten body
    (hash-comparable across engines); the streaming twin keeps the
    body."""
    return redact_pii_frame(_docs(spark, sf_dir)).drop("redacted_text")


TEXT_REDACT_SQL = f"""
WITH r1 AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_emails,
         regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g') AS t
  FROM documents
), r2 AS (
  SELECT doc_id, n_emails,
         len(regexp_extract_all(t, '{PII_URL}')) AS n_urls,
         regexp_replace(t, '{PII_URL}', '<URL>', 'g') AS t
  FROM r1
)
SELECT doc_id, n_emails, n_urls,
       len(regexp_extract_all(t, '{PII_DIGITS}')) AS n_numbers,
       sha256(regexp_replace(t, '{PII_DIGITS}', '<NUMBER>', 'g')) AS redacted_hash
FROM r2
"""


def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing — concatenate documents in stable order
    and cut at a token budget, the way LLM training shards pack many
    short documents into fixed context windows.  Deterministic contract:
    per language, documents concatenate in doc_id order; a document
    belongs to the sequence its FIRST token lands in
    (seq_id = (cumulative_tokens - own_tokens) DIV budget).

    One window pass over (lang, doc_id) + one hash aggregate.  At
    100 TB: the window partitions by lang (bounded cardinality), so each
    language's running sum is a single sorted pass; skewed languages
    would shard the key (lang, doc_id range) first — the output contract
    is unchanged because packing is defined per contiguous run."""
    d = _docs(spark, sf_dir)
    toks = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0)))
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    packed = (
        d.select("doc_id", "lang", toks.alias("n_tokens"))
        .withColumn("cum", F.sum("n_tokens").over(w))
        # integer DIV (not double division) — bit-exact at any corpus size
        .withColumn("seq_id", F.expr(f"(cum - n_tokens) DIV {SEQ_TOKEN_BUDGET}"))
    )
    return packed.groupBy("lang", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc_id"),
    )


TEXT_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(lower(text), '{{token_pattern}}')) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - n_tokens) // {SEQ_TOKEN_BUDGET} AS seq_id
  FROM t
)
SELECT lang, seq_id::BIGINT AS seq_id, count(*) AS n_docs,
       sum(n_tokens)::BIGINT AS seq_tokens, min(doc_id) AS first_doc_id
FROM c GROUP BY lang, seq_id
""".format(token_pattern=TOKEN_PATTERN)


def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus health profile — the stats a pipeline checks
    before training: row/null counts, distinct languages and sources,
    text-length distribution, duplicate-text count.  Everything folds
    into a single hash aggregate (count-distincts expand to partial
    aggs); at 100 TB swap the exact count-distincts for
    approx_count_distinct and the shape is unchanged."""
    d = _docs(spark, sf_dir)
    return d.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("text").isNull() | (F.length("text") == 0), 1).otherwise(0)).alias(
            "n_empty_text"
        ),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("text").alias("n_distinct_texts"),
        F.min(F.length("text")).alias("min_len"),
        F.max(F.length("text")).alias("max_len"),
        round_half_up(F.avg(F.length("text")), 4).alias("avg_len"),
    )


CORPUS_PROFILE_SQL = f"""
SELECT count(*) AS n_rows,
       sum(CASE WHEN text IS NULL OR len(text) = 0 THEN 1 ELSE 0 END)::BIGINT AS n_empty_text,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources,
       count(DISTINCT text) AS n_distinct_texts,
       min(len(text)) AS min_len,
       max(len(text)) AS max_len,
       {sql_round_half_up('avg(len(text))', 4)} AS avg_len
FROM documents
"""


def mix_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source domain-mixing stats for training-data curation:
    document/token counts, each source's share of total tokens, and the
    ``rebalance_factor`` a sampler would apply to equalize sources
    (target = 1/n_sources of the corpus; factor > 1 → oversample).

    All arithmetic is rational over exact integer sums (no sqrt/log in
    the output), so both engines produce bit-identical doubles.  Scale
    shape: one map-side-combined hash shuffle to (source) — domain
    cardinality is tiny (thousands at most), so the per-source frame
    and the broadcast totals row are negligible at any corpus size."""
    d = _docs(spark, sf_dir)
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text"))).alias("n_tokens"),
    )
    totals = per.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        F.count("*").alias("n_sources"),
    )
    share = F.col("n_tokens") / F.col("tot_tokens")
    target = F.col("tot_tokens") / F.col("n_sources")
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            round_half_up(share, 6).alias("token_share"),
            round_half_up(target / F.col("n_tokens"), 6).alias("rebalance_factor"),
        )
    )


MIX_DOMAIN_SQL = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))::BIGINT AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT sum(n_tokens) AS tot_tokens, count(*) AS n_sources FROM per
)
SELECT source, n_docs, n_tokens,
       {sql_round_half_up('n_tokens * 1.0 / tot_tokens', 6)} AS token_share,
       {sql_round_half_up('(tot_tokens * 1.0 / n_sources) / n_tokens', 6)} AS rebalance_factor
FROM per, tot
"""


def mix_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual sampling weights — the XLM-R /
    mBERT up/down-sampling recipe (Conneau et al. 2020, α = 0.5 i.e.
    T = 2): q_i ∝ p_i^α over per-LANGUAGE token shares, flattening the
    language distribution so low-resource languages are oversampled
    without drowning the head.  Complements ``mix_domain_weights``
    (source-equalizing factors) with the published temperature curve.

    α is FIXED at 0.5 because p^0.5 = sqrt(p) is the one non-rational
    exponent both engines compute identically — IEEE 754 requires sqrt
    be correctly rounded (pow(p, 0.7) carries no such guarantee), and
    the normalization sum runs over fixed-point BIGINTs (order-
    independent), so the whole pipeline stays bit-identical and fully
    oracled.  Output per language: token counts, raw share, the
    temperature weight q_i, and the resulting over/under-sampling factor
    q_i/p_i (> 1 → oversample).

    Scale shape: identical to mix_domain_weights — one map-combined
    hash shuffle to (lang) plus two 1-row broadcast scalar-attaches;
    language cardinality is tiny at any corpus size."""
    d = _docs(spark, sf_dir)
    per = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text"))).alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("tot_tokens"))
    p = F.col("n_tokens").cast("double") / F.col("tot_tokens").cast("double")
    withr = per.crossJoin(F.broadcast(tot)).withColumn(
        "r", F.floor(F.sqrt(p) * F.lit(1e9) + F.lit(0.5)).cast("long")
    )
    sr = withr.agg(F.sum("r").alias("sum_r"))
    q = F.col("r").cast("double") / F.col("sum_r").cast("double")
    return (
        withr.crossJoin(F.broadcast(sr))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            round_half_up(p, 6).alias("token_share"),
            round_half_up(q, 6).alias("temp_weight"),
            round_half_up(q / p, 6).alias("sample_factor"),
        )
    )


MIX_TEMPERATURE_SQL = f"""
WITH per AS (
  SELECT lang, count(*) AS n_docs,
         sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))::BIGINT AS n_tokens
  FROM documents GROUP BY lang
), tot AS (
  SELECT sum(n_tokens)::BIGINT AS tot_tokens FROM per
), withr AS (
  SELECT per.*, tot_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS r
  FROM per, tot
), sr AS (
  SELECT sum(r)::BIGINT AS sum_r FROM withr
)
SELECT lang, n_docs, n_tokens,
       {sql_round_half_up('CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)', 6)} AS token_share,
       {sql_round_half_up('CAST(r AS DOUBLE) / CAST(sum_r AS DOUBLE)', 6)} AS temp_weight,
       {sql_round_half_up('(CAST(r AS DOUBLE) / CAST(sum_r AS DOUBLE)) / (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE))', 6)} AS sample_factor
FROM withr, sr
"""


def pipeline_pretrain_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END pretraining curation pipeline as ONE declarative
    plan — the composition every individual operator in this family
    exists for:

      1. quality filter + exact dedup (content-hash survivor pick, the
         ``pipeline_clean_corpus`` predicate);
      2. decontamination: drop the eval partition itself AND every train
         doc sharing an exact 5-gram with an eval doc (broadcast
         anti-join against the contaminated-id set — eval/benchmark
         shingle sets are tiny next to a 100 TB corpus);
      3. domain mixing: per-source rebalance factors computed over the
         SURVIVING corpus (exact rational arithmetic).

    Output: one manifest row per kept document —
    (doc_id, source, lang, n_tokens, quality_score, rebalance_factor).
    Catalyst fuses 1 into scan → project → one hash-window shuffle; 2 is
    a shingle equi-join vs a broadcast eval index + a broadcast
    anti-join; 3 adds one map-combined source aggregate and two
    broadcast attaches.  Nothing collects; every join's build side is
    bounded (eval index, contaminated ids, per-source weights)."""
    from mini_hadoop_spark.operators.dedup import CONTAM_EVAL_MODULUS, CONTAM_K

    d = _docs(spark, sf_dir)
    _, _, _, _, score = _quality_parts()
    scored = d.select(
        "doc_id",
        "source",
        "lang",
        F.sha2("text", 256).alias("h"),
        F.size(tokens("text")).alias("n_tokens"),
        round_half_up(score, 6).alias("quality_score"),
    )
    w = W.partitionBy("h").orderBy("doc_id")
    clean = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("quality_score") >= QUALITY_KEEP_THRESHOLD))
        .drop("_rn", "h")
    )

    sh = d.select("doc_id", tokens("text").alias("t")).select(
        "doc_id", F.explode(shingles("t", CONTAM_K)).alias("shingle")
    )
    is_eval = F.col("doc_id") % CONTAM_EVAL_MODULUS == 0
    eval_sh = sh.filter(is_eval).select("shingle").distinct()
    contaminated = (
        sh.filter(~is_eval).join(F.broadcast(eval_sh), "shingle").select("doc_id").distinct()
    )
    # OPTIMIZATION_r17 (guide §2.4): materialize the surviving manifest
    # rows ONCE.  `kept` is referenced three times downstream (the output
    # side, the per-source aggregate, and the corpus total inside it) and
    # the three subtrees are not exchange-reuse-identical, so the whole
    # quality-scoring scan + survivor window + anti-join ran 3x.  The
    # checkpointed frame is compact (6 narrow columns, no text) and lazy,
    # so the bench still times its materialization.
    kept = (
        clean.filter(~is_eval)
        .join(F.broadcast(contaminated), "doc_id", "left_anti")
        .localCheckpoint(eager=False)
    )

    per = kept.groupBy("source").agg(F.sum("n_tokens").alias("_src_tokens"))
    tot = per.agg(F.sum("_src_tokens").alias("_tot"), F.count("*").alias("_ns"))
    weights = per.crossJoin(F.broadcast(tot)).select(
        "source",
        round_half_up((F.col("_tot") / F.col("_ns")) / F.col("_src_tokens"), 6).alias(
            "rebalance_factor"
        ),
    )
    return kept.join(F.broadcast(weights), "source").select(
        "doc_id", "source", "lang", "n_tokens", "quality_score", "rebalance_factor"
    )


def _pretrain_manifest_sql() -> str:
    from mini_hadoop_spark.operators.dedup import CONTAM_EVAL_MODULUS, CONTAM_K

    joined = " || ' ' || ".join(f"t[i+{j}]" for j in range(CONTAM_K))
    score = (
        f"(CASE WHEN len(toks) > 0"
        f" THEN len(list_filter(toks, x -> x IN ({_STOP_IN}))) * 1.0 / len(toks)"
        f" ELSE 0.0 END) * 2.0"
        f" + (1.0 - CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END)"
        f" + (1.0 - CASE WHEN n_chars > 0 THEN n_digit * 1.0 / n_chars ELSE 0.0 END)"
    )
    return f"""
WITH t AS (
  {_sql_quality_inputs(", lang, source, sha256(text) AS h")}
), r AS (
  SELECT doc_id, lang, source, len(toks) AS n_tokens, {score} AS score,
         row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
  FROM t
), clean AS (
  SELECT doc_id, source, lang, n_tokens, {sql_round_half_up('score', 6)} AS quality_score
  FROM r WHERE rn = 1 AND {sql_round_half_up('score', 6)} >= {QUALITY_KEEP_THRESHOLD}
), toksrc AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, {joined} AS shingle
  FROM toksrc, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-{CONTAM_K - 1}, 0))) AS i) g
), contaminated AS (
  SELECT DISTINCT tr.doc_id
  FROM sh tr JOIN sh ev ON tr.shingle = ev.shingle
  WHERE tr.doc_id % {CONTAM_EVAL_MODULUS} <> 0 AND ev.doc_id % {CONTAM_EVAL_MODULUS} = 0
), kept AS (
  SELECT * FROM clean
  WHERE doc_id % {CONTAM_EVAL_MODULUS} <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
), per AS (
  SELECT source, sum(n_tokens) AS src_tokens FROM kept GROUP BY source
), tot AS (
  SELECT sum(src_tokens) AS tot, count(*) AS ns FROM per
), wts AS (
  SELECT source, {sql_round_half_up('(tot * 1.0 / ns) / src_tokens', 6)} AS rebalance_factor
  FROM per, tot
)
SELECT k.doc_id, k.source, k.lang, k.n_tokens, k.quality_score, w.rebalance_factor
FROM kept k JOIN wts w ON k.source = w.source
"""


#: top-movers budget for the vocabulary drift report
VOCAB_DRIFT_K = 20
VOCAB_DRIFT_BUCKETS = 2  # md5(doc_id) % 2: split 0 = reference, 1 = current


def vocab_drift_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between two corpus snapshots: the VOCAB_DRIFT_K
    tokens whose frequency SHARE moved most between the md5-split
    reference and current halves — the "what changed in the data"
    monitoring report a retraining decision reads next to the numeric
    drift audit (dq_distribution_drift).  Output: (token, n_ref, n_cur,
    share_ref, share_cur, delta), delta = share_cur − share_ref, ranked
    by |delta| with a token tiebreak.

    Exactness: counts are integers, shares are single IEEE divisions of
    those integers, delta one subtraction — bit-identical across
    engines, so the top-K selection order agrees exactly.  Plan: one
    map-combined hash shuffle on token, a 1-row totals attach, and a
    distributed top-K (TakeOrderedAndProject) — no global sort, no
    window; linear in corpus at any scale."""
    d = _docs(spark, sf_dir)
    split = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % VOCAB_DRIFT_BUCKETS
    )
    toks = d.select(
        split.alias("split"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.sum(F.when(F.col("split") == 0, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("split") == 1, 1).otherwise(0)).alias("n_cur"),
    )
    totals = F.broadcast(
        counts.agg(F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur"))
    )
    # empty-half guard (ADVICE r8 #2): Spark's Divide returns NULL on a
    # zero denominator while DuckDB's IEEE division returns inf — pin the
    # degenerate one-empty-split case to share 0.0 in BOTH engines
    share_r = F.when(
        F.col("t_ref") > 0, F.col("n_ref").cast("double") / F.col("t_ref")
    ).otherwise(F.lit(0.0))
    share_c = F.when(
        F.col("t_cur") > 0, F.col("n_cur").cast("double") / F.col("t_cur")
    ).otherwise(F.lit(0.0))
    delta = share_c - share_r
    return (
        counts.crossJoin(totals)
        .withColumn("d_raw", delta)
        .orderBy(F.abs(F.col("d_raw")).desc(), "token")
        .limit(VOCAB_DRIFT_K)
        .select(
            "token",
            "n_ref",
            "n_cur",
            round_half_up(share_r, 6).alias("share_ref"),
            round_half_up(share_c, 6).alias("share_cur"),
            round_half_up(F.col("d_raw"), 6).alias("delta"),
        )
    )


VOCAB_DRIFT_SQL = f"""
WITH toks AS (
  SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {VOCAB_DRIFT_BUCKETS} AS split,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents
), counts AS (
  SELECT token,
         sum(CASE WHEN split = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ref,
         sum(CASE WHEN split = 1 THEN 1 ELSE 0 END)::BIGINT AS n_cur
  FROM toks GROUP BY token
), tot AS (
  SELECT sum(n_ref)::BIGINT AS t_ref, sum(n_cur)::BIGINT AS t_cur FROM counts
), scored AS (
  SELECT token, n_ref, n_cur,
         CASE WHEN t_ref > 0 THEN CAST(n_ref AS DOUBLE) / t_ref ELSE 0.0 END AS share_r,
         CASE WHEN t_cur > 0 THEN CAST(n_cur AS DOUBLE) / t_cur ELSE 0.0 END AS share_c
  FROM counts, tot
)
SELECT token, n_ref, n_cur,
       {sql_round_half_up('share_r', 6)} AS share_ref,
       {sql_round_half_up('share_c', 6)} AS share_cur,
       {sql_round_half_up('share_c - share_r', 6)} AS delta
FROM scored
ORDER BY abs(share_c - share_r) DESC, token
LIMIT {VOCAB_DRIFT_K}
"""


QUERIES = {
    "vocab_drift_top_movers": vocab_drift_top_movers,
    "text_token_stats": text_token_stats,
    "mix_domain_weights": mix_domain_weights,
    "mix_temperature_weights": mix_temperature_weights,
    "pipeline_pretrain_manifest": pipeline_pretrain_manifest,
    "text_quality_score": text_quality_score,
    "lang_id_ngram": lang_id_ngram,
    "lang_id_confusion": lang_id_confusion,
    "tfidf_top_terms": tfidf_top_terms,
    "ngram_bigram_freq": ngram_bigram_freq,
    "doc_fingerprint": doc_fingerprint,
    "text_lang_stats": text_lang_stats,
    "pipeline_clean_corpus": pipeline_clean_corpus,
    "text_redact_pii": text_redact_pii,
    "text_pack_sequences": text_pack_sequences,
    "corpus_profile": corpus_profile,
}

ORACLES = {
    "vocab_drift_top_movers": VOCAB_DRIFT_SQL,
    "mix_domain_weights": MIX_DOMAIN_SQL,
    "mix_temperature_weights": MIX_TEMPERATURE_SQL,
    "pipeline_pretrain_manifest": _pretrain_manifest_sql(),
    "text_redact_pii": TEXT_REDACT_SQL,
    "text_pack_sequences": TEXT_PACK_SQL,
    "corpus_profile": CORPUS_PROFILE_SQL,
    "text_token_stats": TEXT_TOKEN_STATS_SQL,
    "text_quality_score": TEXT_QUALITY_SQL,
    "lang_id_ngram": LANG_ID_SQL,
    "lang_id_confusion": _lang_confusion_sql(),
    "tfidf_top_terms": TFIDF_SQL,
    "ngram_bigram_freq": NGRAM_BIGRAM_SQL,
    "doc_fingerprint": DOC_FINGERPRINT_SQL,
    "text_lang_stats": TEXT_LANG_STATS_SQL,
    "pipeline_clean_corpus": PIPELINE_CLEAN_SQL,
}
