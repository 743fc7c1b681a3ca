"""Document-quality scoring operators — LLM-pipeline family #3 (cont.).

Three pre-training corpus filters from the published playbooks, each a
pure-Catalyst plan with a DuckDB oracle twin:

* ``quality_gopher_rules``    — the Gopher/MassiveText rule filter
                                (Rae et al. 2021 §A1.1): word count,
                                mean word length, symbol-to-word ratio,
                                bullet-line / ellipsis-line fractions,
                                stopword presence — each as a flag plus
                                the conjunctive ``keep``.
* ``text_repetition_ratio``   — repetition signals (same paper §A1.1):
                                top-bigram mass fraction + duplicate-
                                line fraction per document.
* ``text_char_bigram_novelty`` — gibberish/outlier detection: fraction
                                of a doc's char bigrams that are RARE in
                                the corpus-wide bigram table (the
                                integer-exact stand-in for a char-LM
                                perplexity filter à la CCNet — rare-
                                event counting needs no transcendental
                                log, so both engines agree bit-for-bit).

Every ratio is an integer-count division (exact on both engines) and
every rounding is the shared floor-half-up idiom — no float-sum
order-dependence anywhere.

Scale posture: gopher rules are a zero-shuffle projection.  Repetition
is one explode + a doc_id-keyed agg + a doc_id join (both AQE-planned).
Novelty builds the corpus bigram table (bounded by |charset|² — a few
thousand rows regardless of corpus size), broadcasts it back over the
doc bigram stream, and aggregates per doc: the canonical
"broadcast-the-model" shape that survives 100 TB because the model side
is corpus-size-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from mini_hadoop_spark.functions.partitioning import spread_table
from mini_hadoop_spark.functions.text import round_half_up, sql_round_half_up, tokens
from mini_hadoop_spark.operators.text_analysis import STOPWORDS, WS


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread_table(spark, sf_dir, "documents")


_STOP_IN = ", ".join(f"'{s}'" for s in STOPWORDS)

# Gopher-style thresholds, adapted to the synthetic corpus's scale
# (docs average ~300 chars, so the word-count floor is 10, not 50).
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 2.0
GOPHER_MAX_MEAN_WORD_LEN = 12.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_STOP_HITS = 1


def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule filter: one boolean flag per rule + conjunctive keep.

    Zero shuffles — a single codegen'd projection over the scan; at
    100 TB this is embarrassingly parallel and reads only (doc_id,
    text).  Ratios are exact integer divisions; the mean word length is
    rounded with the shared half-up idiom before the range test so the
    flag itself is engine-stable."""
    d = _docs(spark, sf_dir)
    toks = tokens("text")
    ws_words = F.regexp_extract_all(F.col("text"), F.lit(rf"[^{WS}]+"), F.lit(0))
    n_words = F.size(ws_words)
    tok_len_sum = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    mean_wl = round_half_up(
        F.when(F.size(toks) > 0, tok_len_sum.cast("double") / F.size(toks)).otherwise(F.lit(0.0)), 6
    )
    # OPTIMIZATION_r18: regex-free equivalents (see text_analysis.
    # _quality_parts — two DIFFERENT regex patterns in one projection
    # thrash the compiled-pattern cache slot and recompile per row).
    # '#' count is an exact char-set count (translate removes exactly
    # the '#'s); the "..." count uses the literal string replace, which
    # consumes non-overlapping occurrences left-to-right exactly like
    # the regex did.  Both integers verified identical corpus-wide.
    n_hash = F.length("text") - F.length(F.translate(F.col("text"), "#", ""))
    n_ellipsis = (F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))) / 3
    symbol_ratio = round_half_up(
        F.when(n_words > 0, (n_hash + n_ellipsis).cast("double") / n_words).otherwise(F.lit(0.0)), 6
    )
    lines = F.filter(F.split(F.col("text"), "\n"), lambda x: F.length(F.trim(x)) > 0)
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda x: F.substring(F.ltrim(x), 1, 1).isin("-", "*")))
    n_ell_end = F.size(F.filter(lines, lambda x: F.rtrim(x).endswith("...")))
    bullet_frac = round_half_up(
        F.when(n_lines > 0, n_bullet.cast("double") / n_lines).otherwise(F.lit(0.0)), 6
    )
    ellipsis_frac = round_half_up(
        F.when(n_lines > 0, n_ell_end.cast("double") / n_lines).otherwise(F.lit(0.0)), 6
    )
    stop_hits = F.size(F.filter(F.array_distinct(toks), lambda x: x.isin(*STOPWORDS)))

    f_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    f_wl = (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN) & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
    f_sym = symbol_ratio < GOPHER_MAX_SYMBOL_RATIO
    f_bullet = bullet_frac < GOPHER_MAX_BULLET_FRAC
    f_ell = ellipsis_frac < GOPHER_MAX_ELLIPSIS_FRAC
    f_stop = stop_hits >= GOPHER_MIN_STOP_HITS
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        stop_hits.alias("stop_hits"),
        f_words.alias("ok_words"),
        f_wl.alias("ok_word_len"),
        f_sym.alias("ok_symbols"),
        f_bullet.alias("ok_bullets"),
        f_ell.alias("ok_ellipsis"),
        f_stop.alias("ok_stopwords"),
        (f_words & f_wl & f_sym & f_bullet & f_ell & f_stop).alias("keep"),
    )


QUALITY_GOPHER_SQL = f"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
         len(regexp_extract_all(text, '[^{WS}]+')) AS n_words,
         length(regexp_replace(text, '[^#]', '', 'g')) AS n_hash,
         (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3 AS n_ellipsis,
         list_filter(str_split(text, chr(10)), x -> length(trim(x)) > 0) AS lines
  FROM documents
), r AS (
  SELECT doc_id, n_words,
         {sql_round_half_up("CASE WHEN len(toks) > 0 THEN list_sum(list_transform(toks, x -> strlen(x))) * 1.0 / len(toks) ELSE 0.0 END", 6)} AS mean_word_len,
         {sql_round_half_up("CASE WHEN n_words > 0 THEN (n_hash + n_ellipsis) * 1.0 / n_words ELSE 0.0 END", 6)} AS symbol_ratio,
         {sql_round_half_up("CASE WHEN len(lines) > 0 THEN len(list_filter(lines, x -> left(ltrim(x), 1) IN ('-', '*'))) * 1.0 / len(lines) ELSE 0.0 END", 6)} AS bullet_frac,
         {sql_round_half_up("CASE WHEN len(lines) > 0 THEN len(list_filter(lines, x -> right(rtrim(x), 3) = '...')) * 1.0 / len(lines) ELSE 0.0 END", 6)} AS ellipsis_frac,
         len(list_filter(list_distinct(toks), x -> x IN ({_STOP_IN}))) AS stop_hits
  FROM t
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac, ellipsis_frac, stop_hits,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})        AS ok_words,
       (mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN} AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}) AS ok_word_len,
       (symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO})                               AS ok_symbols,
       (bullet_frac < {GOPHER_MAX_BULLET_FRAC})                                 AS ok_bullets,
       (ellipsis_frac < {GOPHER_MAX_ELLIPSIS_FRAC})                             AS ok_ellipsis,
       (stop_hits >= {GOPHER_MIN_STOP_HITS})                                    AS ok_stopwords,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
        AND mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN} AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}
        AND symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO}
        AND bullet_frac < {GOPHER_MAX_BULLET_FRAC}
        AND ellipsis_frac < {GOPHER_MAX_ELLIPSIS_FRAC}
        AND stop_hits >= {GOPHER_MIN_STOP_HITS})                                AS keep
FROM r
"""


# C4-style thresholds (Raffel et al. 2020 §2.2 cleanup heuristics,
# adapted: the synthetic docs are short, so 3 words/line and 3 kept
# lines instead of 5 sentences/page).
C4_MIN_LINE_WORDS = 3
C4_MIN_KEPT_LINES = 3
_C4_TERMINALS = (".", "!", "?", '"')


def quality_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleanup-rule filter (Raffel et al. 2020) — the line-level
    complement to the page-level Gopher rules: keep lines ending in
    terminal punctuation with >= 3 words; drop pages with fewer than 3
    such lines or containing 'lorem ipsum', a curly brace, or
    'javascript'.  One boolean flag per rule + the conjunctive keep.

    Zero shuffles — a single codegen'd projection over the scan (line
    split, list filters, substring probes), embarrassingly parallel at
    100 TB; ratios are exact integer divisions rounded half-up."""
    d = _docs(spark, sf_dir)
    lines = F.filter(F.split(F.col("text"), "\n"), lambda x: F.length(F.trim(x)) > 0)
    kept = F.filter(
        lines,
        lambda x: F.right(F.rtrim(x), F.lit(1)).isin(*_C4_TERMINALS)
        & (F.size(F.split(F.trim(x), r"\s+")) >= C4_MIN_LINE_WORDS),
    )
    lower = F.lower(F.col("text"))
    n_lines = F.size(lines)
    n_kept = F.size(kept)
    kept_frac = round_half_up(
        F.when(n_lines > 0, n_kept.cast("double") / n_lines).otherwise(F.lit(0.0)), 6
    )
    has_lorem = lower.contains("lorem ipsum")
    has_brace = F.col("text").contains("{")
    has_js = lower.contains("javascript")
    return d.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        kept_frac.alias("kept_frac"),
        has_lorem.alias("has_lorem_ipsum"),
        has_brace.alias("has_brace"),
        has_js.alias("has_javascript"),
        (
            (n_kept >= C4_MIN_KEPT_LINES) & ~has_lorem & ~has_brace & ~has_js
        ).alias("keep"),
    )


QUALITY_C4_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(str_split(text, chr(10)), x -> length(trim(x)) > 0) AS lines,
         (position('lorem ipsum' IN lower(text)) > 0) AS has_lorem_ipsum,
         (position('{{' IN text) > 0) AS has_brace,
         (position('javascript' IN lower(text)) > 0) AS has_javascript
  FROM documents
), r AS (
  SELECT doc_id, len(lines) AS n_lines,
         len(list_filter(lines, x ->
             right(rtrim(x), 1) IN ('.', '!', '?', '"')
             AND len(regexp_split_to_array(trim(x), '\\s+')) >= {C4_MIN_LINE_WORDS}))
           AS n_kept_lines,
         has_lorem_ipsum, has_brace, has_javascript
  FROM t
)
SELECT doc_id, n_lines, n_kept_lines,
       {sql_round_half_up("CASE WHEN n_lines > 0 THEN n_kept_lines * 1.0 / n_lines ELSE 0.0 END", 6)} AS kept_frac,
       has_lorem_ipsum, has_brace, has_javascript,
       (n_kept_lines >= {C4_MIN_KEPT_LINES}
        AND NOT has_lorem_ipsum AND NOT has_brace AND NOT has_javascript) AS keep
FROM r
"""


def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals per document: the fraction of bigram mass
    taken by the single most frequent bigram, and the fraction of
    duplicated (non-empty) lines.

    Plan (r17): everything is a pure per-document projection — zero
    shuffles, one scan.  The per-doc bigram stats are functions of the
    doc's own token array: n_bigrams = |bigram array| and top_cnt = the
    longest equal-run in the SORTED bigram array (exact integer
    arithmetic, identical to the old explode → (doc_id, bigram) count →
    doc_id re-agg → join-back pipeline, which shuffled the corpus-sized
    bigram stream twice and re-joined it on doc_id).  Per-row cost is
    O(L log L) in the doc's own length — the same per-doc bound the old
    shuffle path had, without moving the bigrams off the scan tasks."""
    d = _docs(spark, sf_dir)
    toks = tokens("text")
    lines = F.filter(F.split(F.col("text"), "\n"), lambda x: F.length(F.trim(x)) > 0)
    # project toks into a COLUMN first: lambda bodies are not hoisted by
    # subexpression elimination (the text_char_bigram_novelty lesson), so
    # the bigram transform must index a materialized array, not re-derive
    # the tokenize per element
    base = d.select(
        "doc_id",
        toks.alias("toks"),
        F.size(lines).alias("n_lines"),
        F.size(F.array_distinct(lines)).alias("n_distinct_lines"),
    )
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr("transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"),
    ).otherwise(F.array().cast("array<string>"))
    # longest equal-run in the sorted array == max per-doc bigram count;
    # "" can never equal a real bigram (tokens are non-empty), so it is a
    # safe initial `prev`
    sorted_bg = F.array_sort(bigrams)
    run = lambda acc, x: F.when(x == acc["prev"], acc["run"] + 1).otherwise(
        F.lit(1).cast("long")
    )
    top_cnt = F.aggregate(
        sorted_bg,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run(acc, x).alias("run"),
            F.greatest(run(acc, x), acc["best"]).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    stats = base.select(
        "doc_id",
        "n_lines",
        "n_distinct_lines",
        F.size(bigrams).cast("long").alias("n_bigrams"),
        top_cnt.alias("top_cnt"),
    )
    dup_frac = F.when(
        F.col("n_lines") > 0,
        (F.col("n_lines") - F.col("n_distinct_lines")).cast("double") / F.col("n_lines"),
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        F.col("n_bigrams") > 0,
        F.col("top_cnt").cast("double") / F.col("n_bigrams"),
    ).otherwise(F.lit(0.0))
    return stats.select(
        "doc_id",
        "n_bigrams",
        round_half_up(top_frac, 6).alias("top_bigram_frac"),
        round_half_up(dup_frac, 6).alias("dup_line_frac"),
    )


TEXT_REPETITION_SQL = f"""
WITH base AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
         list_filter(str_split(text, chr(10)), x -> length(trim(x)) > 0) AS lines
  FROM documents
), bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM base
  WHERE len(toks) >= 2
), per_bigram AS (
  SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY doc_id, bigram
), per_doc AS (
  SELECT doc_id, max(cnt) AS top_cnt, CAST(sum(cnt) AS BIGINT) AS n_bigrams
  FROM per_bigram GROUP BY doc_id
)
SELECT b.doc_id,
       COALESCE(p.n_bigrams, 0) AS n_bigrams,
       {sql_round_half_up("CASE WHEN COALESCE(p.n_bigrams, 0) > 0 THEN p.top_cnt * 1.0 / p.n_bigrams ELSE 0.0 END", 6)} AS top_bigram_frac,
       {sql_round_half_up("CASE WHEN len(b.lines) > 0 THEN (len(b.lines) - len(list_distinct(b.lines))) * 1.0 / len(b.lines) ELSE 0.0 END", 6)} AS dup_line_frac
FROM base b LEFT JOIN per_doc p ON b.doc_id = p.doc_id
"""


# rare-bigram test: corpus_count * RARE_SCALE < corpus_total (integers —
# an exact, SF-relative rarity threshold of 1/RARE_SCALE of all mass).
# 200 ≈ the 5th-percentile mass cut on the synthetic corpus (the charset
# is ~114 bigram types, so per-type shares are large); real text with a
# big charset would use a higher scale.
NOVELTY_RARE_SCALE = 200
NOVELTY_PREFIX_CHARS = 256


def text_char_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each document's character bigrams that are corpus-
    rare — the integer-exact form of a char-LM perplexity filter
    (gibberish and encoding junk score high).

    Plan: the corpus bigram table is bounded by |charset|² no matter the
    corpus size, so it broadcasts back over the doc-bigram stream (the
    model is small; the data never re-shuffles on the model key).  The
    1-row total attaches by scalar crossJoin.  Docs are capped at the
    first NOVELTY_PREFIX_CHARS chars — scoring cost is O(docs), not
    O(corpus text)."""
    d = _docs(spark, sf_dir)
    # OPTIMIZATION_r17: project the lowercased prefix into a COLUMN
    # first — the old inline form re-evaluated
    # substring(lower(text), 1, N) inside the transform lambda for EVERY
    # character position (subexpression elimination does not hoist into
    # lambda bodies), making the pair derivation O(prefix²) per doc;
    # against a materialized column each element is one O(2) substring,
    # exactly the oracle's CTE shape.
    prefixed = d.select(
        "doc_id", F.substring(F.lower(F.col("text")), 1, NOVELTY_PREFIX_CHARS).alias("s")
    )
    pairs = F.when(
        F.length("s") >= 2,
        F.expr("transform(sequence(1, length(s) - 1), i -> substring(s, i, 2))"),
    ).otherwise(F.array().cast("array<string>"))
    # the explode is deliberately recomputed on both branches: each
    # branch immediately partial-aggregates map-side (pair: ≤|charset|²
    # partials; doc_id: |docs| partials), so both shuffles stay tiny.
    # Pre-grouping to (doc_id, pair) to share one exchange was measured
    # SLOWER at sf0.1 (2.4s vs 1.6s min-of-3): it shuffles |docs|×|doc
    # charset²| rows where the recompute shuffles almost nothing —
    # recompute-then-combine beats materialize-then-share here.
    doc_pairs = prefixed.select("doc_id", F.explode(pairs).alias("pair"))
    pair_counts = doc_pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
    total = pair_counts.agg(F.sum("cnt").alias("total"))
    # r17: score only the RARE instances.  n_pairs per doc is length(s)-1
    # by construction (every position yields a pair and `flagged` held
    # every corpus pair, so the old inner join kept every instance — the
    # per-instance count was a projection in disguise).  The broadcast
    # shrinks to the rare subset and the per-doc aggregate touches only
    # rare hits instead of every bigram instance in the corpus.
    rare = (
        pair_counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * NOVELTY_RARE_SCALE < F.col("total"))
        .select("pair")
    )
    rare_hits = (
        doc_pairs.join(F.broadcast(rare), "pair")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_rare"))
    )
    n_pairs = F.when(F.length("s") >= 2, F.length("s") - 1).otherwise(F.lit(0))
    base = prefixed.select("doc_id", n_pairs.cast("long").alias("n_pairs"))
    rare_frac = F.when(
        F.col("n_pairs") > 0,
        F.coalesce(F.col("n_rare"), F.lit(0)).cast("double") / F.col("n_pairs"),
    ).otherwise(F.lit(0.0))
    return (
        base.join(rare_hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_pairs",
            F.coalesce(F.col("n_rare"), F.lit(0)).cast("long").alias("n_rare"),
            round_half_up(rare_frac, 6).alias("rare_frac"),
        )
    )


TEXT_NOVELTY_SQL = f"""
WITH s AS (
  SELECT doc_id, substr(lower(text), 1, {NOVELTY_PREFIX_CHARS}) AS s FROM documents
), dp AS (
  SELECT doc_id, unnest(list_transform(range(1, strlen(s)), i -> substr(s, i, 2))) AS pair
  FROM s WHERE strlen(s) >= 2
), pc AS (
  SELECT pair, count(*) AS cnt FROM dp GROUP BY pair
), tot AS (
  SELECT sum(cnt) AS total FROM pc
), flagged AS (
  SELECT pair, (cnt * {NOVELTY_RARE_SCALE} < total) AS is_rare FROM pc, tot
), per_doc AS (
  SELECT dp.doc_id,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN f.is_rare THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
  FROM dp JOIN flagged f ON dp.pair = f.pair
  GROUP BY dp.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_pairs, 0) AS n_pairs,
       COALESCE(p.n_rare, 0) AS n_rare,
       {sql_round_half_up("CASE WHEN COALESCE(p.n_pairs, 0) > 0 THEN p.n_rare * 1.0 / p.n_pairs ELSE 0.0 END", 6)} AS rare_frac
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


#: minimum corpus frequency for a bigram to be scored (rare pairs have
#: unstable PMI; the classic Church & Hanks 1990 guard)
PMI_MIN_COUNT = 10
#: collocations reported
PMI_TOP = 100


def ngram_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by PMI lift — the classic phrase-mining /
    tokenizer-vocabulary signal (Church & Hanks 1990; word2vec's
    phrase pass uses the same count ratio).

    ``lift = P(w1 w2) / (P(w1)·P(w2)) = (c_ab·N²) / (NB·c_a·c_b)`` —
    PMI is ``log lift``; since log is monotone, ranking by the raw
    ratio avoids transcendental functions entirely, so both engines
    compute bit-identical doubles (exact BIGINT products, two exact-int
    divisions, one multiply, in the same order).

    Scale posture: unigram/bigram tables are vocabulary-bounded
    (map-side partial agg collapses each partition before the shuffle);
    the two probability attachments are token-keyed equi-joins
    (AQE-planned — vocab tables grow with corpus richness, not size, so
    no broadcast assumption); corpus totals are 1-row broadcasts; the
    top-k is a TakeOrdered (per-partition heaps, no global sort), and
    the rank window runs over ≤``PMI_TOP`` rows post-limit."""
    d = _docs(spark, sf_dir)
    toks = d.select(tokens("text").alias("t"))
    # OPTIMIZATION_r17: ONE tokenize pass emits unigrams and bigrams
    # together (tagged), ONE vocabulary-bounded aggregate counts both,
    # and the materialized count table feeds uni, bg and the totals —
    # the old plan re-ran tokenize+explode four times (uni, bg, and
    # once more each inside the totals' scalar aggregates).
    both = F.concat(
        F.transform(F.col("t"), lambda w: F.struct(F.lit("u").alias("kind"), w.alias("gram"))),
        F.when(
            F.size("t") >= 2,
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> struct('b' as kind, concat_ws(' ', t[i], t[i + 1]) as gram))"
            ),
        ).otherwise(F.array().cast("array<struct<kind:string,gram:string>>")),
    )
    counts = (
        toks.select(F.explode(both).alias("g"))
        .select("g.kind", "g.gram")
        .groupBy("kind", "gram")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    uni = counts.filter(F.col("kind") == "u").select(
        F.col("gram").alias("w"), F.col("cnt").alias("cnt_w")
    )
    bg = counts.filter(F.col("kind") == "b").select(
        F.col("gram").alias("bigram"), F.col("cnt").alias("cnt_ab")
    )
    totals = F.broadcast(
        uni.agg(F.sum("cnt_w").alias("n_tok")).crossJoin(bg.agg(F.sum("cnt_ab").alias("n_bg")))
    )
    cand = (
        bg.filter(F.col("cnt_ab") >= PMI_MIN_COUNT)
        .withColumn("w1", F.element_at(F.split("bigram", " "), 1))
        .withColumn("w2", F.element_at(F.split("bigram", " "), 2))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("cnt_w").alias("cnt_a"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cnt_w").alias("cnt_b"))
    scored = (
        cand.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(totals)
        .withColumn(
            "lift_raw",
            (F.col("cnt_ab") * F.col("n_tok")).cast("double")
            / (F.col("cnt_a") * F.col("cnt_b")).cast("double")
            * (F.col("n_tok").cast("double") / F.col("n_bg").cast("double")),
        )
    )
    top = scored.orderBy(F.desc("lift_raw"), "bigram").limit(PMI_TOP)
    rnk = F.row_number().over(W.orderBy(F.desc("lift_raw"), "bigram"))
    return top.select(
        "bigram",
        "cnt_ab",
        round_half_up(F.col("lift_raw"), 6).alias("lift"),
        rnk.alias("rnk"),
    )


NGRAM_PMI_SQL = f"""
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
), uni AS (
  SELECT w, count(*) AS cnt_w
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
), bg AS (
  SELECT bigram, count(*) AS cnt_ab
  FROM (
    SELECT t[i] || ' ' || t[i+1] AS bigram
    FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-1, 0))) AS i) g
  ) GROUP BY bigram
), tot AS (
  SELECT (SELECT sum(cnt_w) FROM uni) AS n_tok, (SELECT sum(cnt_ab) FROM bg) AS n_bg
), scored AS (
  SELECT b.bigram, b.cnt_ab,
         CAST(b.cnt_ab * t.n_tok AS DOUBLE) / CAST(u1.cnt_w * u2.cnt_w AS DOUBLE)
           * (CAST(t.n_tok AS DOUBLE) / CAST(t.n_bg AS DOUBLE)) AS lift_raw
  FROM bg b
  JOIN uni u1 ON u1.w = split_part(b.bigram, ' ', 1)
  JOIN uni u2 ON u2.w = split_part(b.bigram, ' ', 2)
  CROSS JOIN tot t
  WHERE b.cnt_ab >= {PMI_MIN_COUNT}
), top AS (
  SELECT * FROM scored ORDER BY lift_raw DESC, bigram LIMIT {PMI_TOP}
)
SELECT bigram, cnt_ab,
       {sql_round_half_up('lift_raw', 6)} AS lift,
       row_number() OVER (ORDER BY lift_raw DESC, bigram) AS rnk
FROM top
"""


#: vocabulary size for the OOV-coverage audit (top-K corpus tokens)
VOCAB_K = 1000


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build a top-``VOCAB_K``
    frequency vocabulary from the corpus, then report each document's
    out-of-vocabulary token fraction — the go/no-go check run before
    committing a fixed vocab (high OOV docs are the ones a tokenizer
    will shred into bytes).

    Deterministic end to end: the vocab cut is a total order
    (count desc, token) and the rate is one exact-integer division.

    Plan: token counts are vocabulary-bounded (map-side combine); the
    vocab cut is a TakeOrdered (per-partition heaps, K rows); membership
    attaches by BROADCAST left join (the vocab is K rows by
    construction — the legitimate broadcast); the per-doc agg is one
    doc_id shuffle with map-side combine.  Empty docs come back via a
    final doc_id left join instead of an outer explode."""
    d = _docs(spark, sf_dir)
    # OPTIMIZATION_r17 (guide §2.3/§2.4): ONE tokenize pass.  The vocab
    # counts and the per-doc scoring each exploded the corpus token
    # stream (2 regexp passes).  Both are exact-integer functions of the
    # per-doc word histogram (doc_id, w, cnt) — corpus counts are
    # Σ-over-docs of cnt, per-doc totals are Σ cnt / Σ cnt·[oov] — so
    # the histogram (far smaller than the token stream: one row per
    # DISTINCT word per doc) is computed once, checkpointed lazily, and
    # shared.  The membership probe now touches |doc-word pairs| rows
    # instead of |tokens|.
    tok_doc = (
        d.select("doc_id", F.explode(tokens("text")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("dcnt"))
        .localCheckpoint(eager=False)
    )
    cnts = tok_doc.groupBy("w").agg(F.sum("dcnt").alias("cnt"))
    vocab = (
        cnts.orderBy(F.desc("cnt"), "w").limit(VOCAB_K).select("w", F.lit(1).alias("iv"))
    )
    per = (
        tok_doc.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("dcnt").alias("n_tokens"),
            F.sum(F.when(F.col("iv").isNull(), F.col("dcnt")).otherwise(F.lit(0))).alias(
                "n_oov"
            ),
        )
    )
    return d.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        round_half_up(
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.col("n_oov").cast("double") / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("oov_rate"),
    )


VOCAB_OOV_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents
), cnts AS (
  SELECT w, count(*) AS cnt FROM toks GROUP BY w
), vocab AS (
  SELECT w FROM cnts ORDER BY cnt DESC, w LIMIT {VOCAB_K}
), per AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
  FROM toks t LEFT JOIN vocab v ON t.w = v.w
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_tokens, 0) AS n_tokens,
       coalesce(p.n_oov, 0) AS n_oov,
       {sql_round_half_up("CASE WHEN coalesce(p.n_tokens, 0) > 0 THEN p.n_oov * 1.0 / p.n_tokens ELSE 0.0 END", 6)} AS oov_rate
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
"""


# The synthetic corpus draws from a ~31-type word list, so the curve's
# candidate sizes are scaled to show real variation here; a production
# corpus would use (1k, 4k, 16k, 64k, ...) with the identical plan.
VOCAB_CURVE_KS = (4, 8, 16, 32)


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing curve: for each candidate vocabulary size K in
    ``VOCAB_CURVE_KS``, the share of all token INSTANCES covered by the
    top-K most frequent token types — the plot a team reads to pick a
    vocab size ("16k types cover 99.2%; 4k covers 94%").  Complements
    ``vocab_oov_rate`` (which audits documents against ONE fixed vocab).

    Output: (vocab_k, covered_tokens, total_tokens, covered_share),
    one row per K.  Deterministic: the frequency ranking totals on
    (count desc, token); every number is an exact integer until the one
    rounded share division.

    Plan (r16, VERDICT r15 #3): one vocabulary-bounded token count
    (map-side combine); the grand total is a plain scalar aggregate
    (1-row broadcast); the curve only ever needs the top-max(K) types,
    so they are selected with ``orderBy().limit(max(K))`` — per-
    partition heaps folding to TakeOrderedAndProject — and the
    rank/cumsum window runs over only those ≤max(K) survivors (the
    ``skew_heavy_hitters`` / ``ngram_pmi_top`` idiom).  The old global
    window ranked the FULL type table in one task — Heaps-law sublinear
    but still 10⁸–10⁹ rows at web scale; a production K of 64k keeps
    the survivor window trivially single-task-safe.  Selection order
    (cnt desc, w) is total, so covered_k ≡ the full-table formulation:
    cum at rank min(k, |types|) — and when k ≥ |types| the last
    survivor's cum equals the grand total, exactly as before.  ONE
    aggregate folds every K; rows out = |VOCAB_CURVE_KS|."""
    d = _docs(spark, sf_dir)
    cnts = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    total = F.broadcast(cnts.agg(F.sum("cnt").alias("total")))
    max_k = max(VOCAB_CURVE_KS)
    top = cnts.orderBy(F.desc("cnt"), "w").limit(max_k)
    w_rank = W.orderBy(F.desc("cnt"), "w")
    ranked = top.select(
        F.row_number().over(w_rank).alias("rk"),
        F.sum("cnt")
        .over(w_rank.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
    )
    agg = ranked.agg(
        *[
            F.coalesce(F.max(F.when(F.col("rk") <= k, F.col("cum"))), F.lit(0))
            .cast("long")
            .alias(f"c{k}")
            for k in VOCAB_CURVE_KS
        ],
    ).crossJoin(total)
    stack_args = ", ".join(f"{k}L, c{k}" for k in VOCAB_CURVE_KS)
    return agg.select(
        F.expr(
            f"stack({len(VOCAB_CURVE_KS)}, {stack_args}) as (vocab_k, covered_tokens)"
        ),
        F.col("total").cast("long").alias("total_tokens"),
    ).select(
        "vocab_k",
        "covered_tokens",
        "total_tokens",
        round_half_up(
            F.col("covered_tokens").cast("double") / F.col("total_tokens"), 6
        ).alias("covered_share"),
    )


def _vocab_curve_sql() -> str:
    c_cols = ",\n         ".join(
        f"coalesce(max(CASE WHEN rk <= {k} THEN cum END), 0)::BIGINT AS c{k}"
        for k in VOCAB_CURVE_KS
    )
    arms = "\n  UNION ALL ".join(
        f"SELECT {k}::BIGINT AS vocab_k, c{k} AS covered_tokens, total AS total_tokens FROM agg"
        for k in VOCAB_CURVE_KS
    )
    return f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents
), cnts AS (
  SELECT w, count(*) AS cnt FROM toks GROUP BY w
), ranked AS (
  SELECT cnt,
         row_number() OVER (ORDER BY cnt DESC, w) AS rk,
         sum(cnt) OVER (ORDER BY cnt DESC, w
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM cnts
), agg AS (
  SELECT max(cum)::BIGINT AS total,
         {c_cols}
  FROM ranked
), stacked AS (
  {arms}
)
SELECT vocab_k, covered_tokens, total_tokens,
       {sql_round_half_up('CAST(covered_tokens AS DOUBLE) / total_tokens', 6)} AS covered_share
FROM stacked
"""


VOCAB_CURVE_SQL = _vocab_curve_sql()


#: Cut-sample budget for the quality-decile thresholds — same md5-ranked
#: type-1 sampled-cut idiom as relational_ext.RFM_SAMPLE_BUDGET /
#: dq.DRIFT_SAMPLE_BUDGET: rank error ~ 1/sqrt(budget) ≈ 2%, bit-identical
#: across engines (pure md5 top-K selection + row-selection quantiles).
QDD_SAMPLE_BUDGET = 2048


def quality_dup_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication rate by quality decile — the cross-family curation
    question "do low-quality documents duplicate more?", answered with
    exact arithmetic: decile thresholds are type-1 decile cuts of a
    deterministic md5-ranked sample of the scores (value-threshold bins:
    score ties stay in one bin, empty bins emit no row), dup flag from
    the exact content-hash group size, rates as exact-integer divisions,
    and the mean score from a DECIMAL sum of already-rounded scores
    (order-independent).

    Plan: the quality projection is pure codegen; dup flags are one
    digest-partition window; the decile cuts come from a distributed
    top-K sample (TakeOrderedAndProject) packed into one sorted array —
    the r7 single-task global ntile sort is gone and no unpartitioned
    window remains anywhere in the plan; bin assignment is a per-row
    fold over 9 broadcast cuts; the report is ≤10 rows."""
    from mini_hadoop_spark.operators.text_analysis import _quality_parts

    # OPTIMIZATION_r17: the dup flag (a content-hash window) and the
    # quality score (a pure per-row projection, the SAME expression
    # text_quality_score registers) are computed on ONE stream — the old
    # shape ran them as two full document scans re-associated by a
    # doc_id equi-join (doc_id is the corpus primary key, so the fused
    # row set is identical).
    docs = _docs(spark, sf_dir)
    *_, _score = _quality_parts()
    # r17: LAZY localCheckpoint of the fused (doc_id, score, is_dup)
    # frame — compact, no text.  The sample pick and the decile scoring
    # both consume it; without the pin the regex-heavy quality score and
    # the document scan ran TWICE (the sample subtree pruned the window
    # but re-ran the whole scoring projection).  Lazy, so the bench
    # still times the materialization inside the query.
    # OPTIMIZATION_r18 (guide §2.3 — project before the exchange): the
    # score used to be computed ABOVE the content-hash window, so the
    # full `text` column had to travel through the window's exchange
    # just to feed the post-window projection (Catalyst has no rule
    # pushing a Project below a Window).  Scoring and hashing in ONE
    # pre-window projection shuffles (doc_id, h, score) — ~80 bytes —
    # instead of the document text, and runs the regex-heavy score on
    # the spread scan side.  Same h ⇒ same groups ⇒ same is_dup;
    # values bit-identical (oracle re-verified both SFs).
    pre = docs.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("_h"),
        round_half_up(_score, 6).alias("quality_score"),
    )
    j = pre.withColumn(
        "is_dup", F.count("*").over(W.partitionBy("_h")) > 1
    ).select("doc_id", "quality_score", "is_dup").localCheckpoint(eager=False)
    q = j.select("doc_id", "quality_score")
    samp = (
        q.select(
            "quality_score", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("mh")
        )
        .orderBy("mh", "doc_id")
        .limit(QDD_SAMPLE_BUDGET)
    )
    # greatest(1, ...) + coalesce: empty-sample degenerate case behaves
    # identically on both engines (NULL cuts, everything in bin 1) — see
    # dq.dq_distribution_drift's identical guard.
    cuts = F.broadcast(
        samp.agg(
            F.array_sort(F.collect_list(F.struct("quality_score", "doc_id"))).alias("arr")
        ).select(
            F.transform(
                F.sequence(F.lit(1), F.lit(9)),
                lambda qq: F.element_at(
                    F.col("arr"),
                    F.greatest(
                        F.lit(1),
                        F.ceil(
                            qq.cast("double") * F.size(F.col("arr")) / F.lit(10)
                        ).cast("int"),
                    ),
                )["quality_score"],
            ).alias("cuts")
        )
    )
    decile = F.lit(1) + F.aggregate(
        F.col("cuts"),
        F.lit(0),
        lambda acc, c: acc + F.coalesce((F.col("quality_score") > c).cast("int"), F.lit(0)),
    )
    d = j.crossJoin(cuts).withColumn("decile", decile).drop("cuts")
    agg = d.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_dups"),
        F.sum(F.col("quality_score").cast("decimal(18,6)")).alias("score_sum"),
    )
    rate = (
        F.floor(
            F.col("n_dups").cast("double") / F.col("n_docs").cast("double") * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    mean_q = (
        F.floor(
            F.col("score_sum").cast("double") / F.col("n_docs").cast("double") * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    return agg.select(
        "decile", "n_docs", "n_dups", rate.alias("dup_rate"), mean_q.alias("mean_quality")
    )


def _quality_dup_deciles_sql() -> str:
    from mini_hadoop_spark.operators.text_analysis import TEXT_QUALITY_SQL

    return f"""
WITH q AS ({TEXT_QUALITY_SQL}),
h AS (
  SELECT doc_id, count(*) OVER (PARTITION BY sha256(text)) > 1 AS is_dup FROM documents
), samp AS (
  SELECT quality_score FROM q
  ORDER BY md5(doc_id::VARCHAR), doc_id
  LIMIT {QDD_SAMPLE_BUDGET}
), ns AS (
  SELECT count(*) AS n_s FROM samp
), ranked AS (
  SELECT quality_score, row_number() OVER (ORDER BY quality_score) AS rr FROM samp
), cuts AS (
  SELECT g.q AS qq, max(CASE WHEN rr = ceil(g.q * n_s / 10.0) THEN quality_score END) AS cut
  FROM ranked, ns, LATERAL (SELECT unnest(generate_series(1, 9)) AS q) g
  GROUP BY g.q
), j AS (
  SELECT q.doc_id, q.quality_score, h.is_dup,
         1 + (SELECT count(*) FROM cuts c WHERE q.quality_score > c.cut) AS decile
  FROM q JOIN h ON q.doc_id = h.doc_id
), agg AS (
  SELECT decile, count(*) AS n_docs,
         CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         sum(quality_score::DECIMAL(18,6)) AS score_sum
  FROM j GROUP BY decile
)
SELECT decile, n_docs, n_dups,
       CAST(floor(CAST(n_dups AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1e6 + 0.5) AS BIGINT) / 1e6 AS dup_rate,
       CAST(floor(CAST(score_sum AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1e6 + 0.5) AS BIGINT) / 1e6 AS mean_quality
FROM agg
"""


#: power-of-2 length-bucket edges for the corpus length profile
LEN_BUCKETS = (64, 128, 256, 512, 1024, 2048, 4096)


def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: documents per power-of-2 character-length
    bucket, with share and cumulative share — the distribution every
    packing/batching decision (`text_pack_sequences`' budget, max-len
    truncation loss) is read off of.

    A FIXED bucket ladder (explicit CASE, no transcendental log2) keeps
    both engines bit-identical; counts/shares are exact.  Plan: one
    zero-shuffle bucket projection + a ≤|buckets|-row aggregate + tiny
    windows over that bounded report."""
    d = _docs(spark, sf_dir)
    n = F.length("text")
    bucket = F.lit(f">={LEN_BUCKETS[-1]}")
    for edge in reversed(LEN_BUCKETS):
        bucket = F.when(n < edge, F.lit(f"<{edge}")).otherwise(bucket)
    agg = d.select(bucket.alias("len_bucket"), n.alias("n_chars")).groupBy(
        "len_bucket"
    ).agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    total = F.sum("n_docs").over(W.partitionBy())
    run = F.sum("n_docs").over(
        W.orderBy("min_chars").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    share = (
        F.floor(F.col("n_docs").cast("double") / total.cast("double") * F.lit(1e6) + F.lit(0.5))
        / F.lit(1e6)
    )
    cum = (
        F.floor(run.cast("double") / total.cast("double") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    )
    return agg.select(
        "len_bucket", "n_docs", "min_chars", "max_chars",
        share.alias("share"), cum.alias("cum_share"),
    )


def _len_hist_sql() -> str:
    ladder = " ".join(
        f"WHEN length(text) < {e} THEN '<{e}'" for e in LEN_BUCKETS
    )
    return f"""
WITH b AS (
  SELECT CASE {ladder} ELSE '>={LEN_BUCKETS[-1]}' END AS len_bucket,
         length(text) AS n_chars
  FROM documents
), agg AS (
  SELECT len_bucket, count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars
  FROM b GROUP BY len_bucket
)
SELECT len_bucket, n_docs, min_chars, max_chars,
       CAST(floor(CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE) * 1e6 + 0.5) AS BIGINT) / 1e6 AS share,
       CAST(floor(CAST(sum(n_docs) OVER (ORDER BY min_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE) * 1e6 + 0.5) AS BIGINT) / 1e6 AS cum_share
FROM agg
"""


def quality_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based WORD-bigram LM quality score — the statistical-LM
    document filter of the CCNet/KenLM playbook (Wenzek et al. 2020)
    made engine-exact: train a bigram count model on the corpus itself,
    then score every document by its average conditional probability
    P(w2|w1) = cnt(w1,w2)/cnt(w1·) under that model.  Predictable,
    natural text scores high; gibberish and boilerplate-free noise score
    near the unigram floor.  Complements `text_char_bigram_novelty`
    (char-level rare-event fraction) with the word-level expected-
    probability signal a real perplexity filter ranks by — log-free
    (avg probability, not log perplexity) so there is no transcendental
    to disagree on: each conditional is ONE division of exact integer
    counts (IEEE-identical both engines), fixed-point rounded at 1e-9
    and summed as BIGINT (order-independent), divided once per doc.
    Output: (doc_id, n_bigrams, avg_cond_p); docs with <2 tokens emit
    (0, -1.0) via the left join (empty-half guard).

    Plan & 100 TB posture: one explode + two vocabulary-keyed hash aggs
    train the model (map-side combine keeps shuffle ~|bigram vocab|);
    scoring joins the doc bigram stream to the model on (w1,w2) — a
    plain equi-join like dup_span_coverage's shingle join, NOT broadcast
    (the model grows with vocabulary), AQE-skew-covered; one doc_id agg
    + one doc_id left join finish.  No window, no cartesian, no Python.

    Cites reference surface: none (extension operator — SURVEY §2.3)."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", tokens("text").alias("t"))
    big = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                ),
            ).otherwise(F.expr("array()").cast("array<struct<w1:string,w2:string>>"))
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    # OPTIMIZATION_r17 (guide §2.3/§2.4): ONE tokenize+explode pass.
    # The model counts and the scoring join both consumed `big`, so the
    # corpus was tokenized and bigram-exploded twice.  Both are exact-
    # integer functions of the per-doc bigram histogram
    # (doc_id, w1, w2, dc): model counts are Σ-over-docs of dc, and the
    # per-doc score Σ fp over bigram INSTANCES equals Σ dc·fp over
    # distinct-per-doc bigrams.  The histogram is computed once,
    # checkpointed lazily, and shared; the model join now probes
    # |distinct bigrams per doc| rows instead of |bigram instances|.
    hist = (
        big.groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("dc"))
        .localCheckpoint(eager=False)
    )
    m12 = hist.groupBy("w1", "w2").agg(F.sum("dc").alias("c12"))
    m1 = m12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    model = m12.join(m1, "w1")
    fp = F.floor(
        F.col("c12").cast("double") / F.col("c1").cast("double") * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    per_doc = (
        hist.join(model, ["w1", "w2"])
        .select("doc_id", "dc", (F.col("dc") * fp).alias("sfp"))
        .groupBy("doc_id")
        .agg(F.sum("dc").alias("n_bigrams"), F.sum("sfp").alias("s"))
    )
    avg = round_half_up(
        F.col("s").cast("double") / (F.col("n_bigrams").cast("double") * F.lit(1e9)), 6
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias("n_bigrams"),
            F.when(F.col("n_bigrams") > 0, avg).otherwise(F.lit(-1.0)).alias("avg_cond_p"),
        )
    )


QUALITY_BIGRAM_LM_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
), big AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i) g
), m12 AS (
  SELECT w1, w2, count(*)::BIGINT AS c12 FROM big GROUP BY w1, w2
), m1 AS (
  SELECT w1, sum(c12)::BIGINT AS c1 FROM m12 GROUP BY w1
), per_doc AS (
  SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
         sum(CAST(floor(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE) * 1e9 + 0.5) AS BIGINT))::BIGINT AS s
  FROM big b JOIN m12 USING (w1, w2) JOIN m1 USING (w1)
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_bigrams, 0)::BIGINT AS n_bigrams,
       CASE WHEN p.n_bigrams > 0
            THEN {sql_round_half_up('CAST(s AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 1e9)', 6)}
            ELSE -1.0 END AS avg_cond_p
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


QUERIES = {
    "quality_gopher_rules": quality_gopher_rules,
    "quality_c4_rules": quality_c4_rules,
    "text_length_histogram": text_length_histogram,
    "text_repetition_ratio": text_repetition_ratio,
    "text_char_bigram_novelty": text_char_bigram_novelty,
    "ngram_pmi_top": ngram_pmi_top,
    "vocab_oov_rate": vocab_oov_rate,
    "vocab_coverage_curve": vocab_coverage_curve,
    "quality_dup_deciles": quality_dup_deciles,
    "quality_bigram_lm_score": quality_bigram_lm_score,
}

ORACLES = {
    "quality_gopher_rules": QUALITY_GOPHER_SQL,
    "quality_c4_rules": QUALITY_C4_SQL,
    "text_length_histogram": _len_hist_sql(),
    "text_repetition_ratio": TEXT_REPETITION_SQL,
    "text_char_bigram_novelty": TEXT_NOVELTY_SQL,
    "ngram_pmi_top": NGRAM_PMI_SQL,
    "vocab_oov_rate": VOCAB_OOV_SQL,
    "vocab_coverage_curve": VOCAB_CURVE_SQL,
    "quality_dup_deciles": _quality_dup_deciles_sql(),
    "quality_bigram_lm_score": QUALITY_BIGRAM_LM_SQL,
}
