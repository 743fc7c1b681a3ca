"""Compression-flavored pre-training utilities — more LLM-pipeline
surface beyond the reference (whose only text workload is WordCount,
word_count.ex; these reuse the same tokenizer family via
functions/text.py).

* ``bpe_merge_candidates``     — corpus-weighted adjacent character-pair
                                 counts within tokens, top
                                 ``BPE_TOP_MERGES``: the first step of
                                 byte-pair-encoding tokenizer training
                                 (Sennrich et al. 2016 — BPE is
                                 literally a compression algorithm run
                                 on the corpus).  Distinct from
                                 ``ngram_bigram_freq`` (WORD bigrams)
                                 and ``text_char_bigram_novelty``
                                 (char bigrams of raw text per doc):
                                 this is within-token, corpus-global,
                                 frequency-weighted — the merge-table
                                 input.
* ``quantize_embeddings_int8`` — symmetric per-vector int8 quantization
                                 of the embedding column with exact
                                 integer checksums and reconstruction-
                                 error stats: the vector-store
                                 compression pass (4x smaller ANN
                                 index), reported as a quality audit.

Scale posture:

* bpe: two explodes (corpus tokens -> within-token char pairs) feeding
  ONE hash aggregate whose key space is bounded by |charset|² — map-side
  partial aggregation collapses each partition to at most that many
  rows before the shuffle, so shuffle volume is independent of corpus
  size.  The final top-K is a TakeOrdered over <=|charset|² rows.
* quantize: a pure per-row projection — zero shuffles, embarrassingly
  parallel, never moves the vectors.  All arithmetic follows the
  functions/vectors.py determinism contract (cast to double first,
  fold-ordered sums) so the DuckDB oracle hash-matches bit-for-bit;
  roundings use the shared floor-half-up idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mini_hadoop_spark.functions.partitioning import spread_table
from mini_hadoop_spark.functions.text import round_half_up, sql_round_half_up, tokens
from mini_hadoop_spark.functions.vectors import as_double, dot
from mini_hadoop_spark.session import build_once

BPE_TOP_MERGES = 20

# int8 symmetric quantization: q = clamp(round(x / scale), ±127),
# scale = max|x| / 127.
QUANT_LEVELS = 127


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``BPE_TOP_MERGES`` adjacent char pairs within tokens, by
    corpus-weighted count (every occurrence of every token counts).
    Ties break on the pair string so the cutoff is engine-stable.

    Output: (pair, cnt)."""
    d = spread_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens("text")).alias("tok")).where(F.length("tok") >= 2)
    pairs = tok.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(BPE_TOP_MERGES)
    )


BPE_MERGE_SQL = f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents
), pairs AS (
  SELECT unnest(list_transform(range(1, strlen(tok)), i -> substr(tok, i, 2))) AS pair
  FROM tok WHERE strlen(tok) >= 2
)
SELECT pair, count(*) AS cnt FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT {BPE_TOP_MERGES}
"""


#: merge rounds for the iterative BPE trainer.  r12: 64 (up from 8 —
#: VERDICT r10 #5): the synthetic corpus's 31-token vocabulary exhausts
#: all mergeable pairs at round 89 (measured at every SF), so 64 is the
#: deepest power-of-2 with safe headroom; production tokenizers train
#: 30k+ rounds, which the driver-side merge loop below reaches without
#: new machinery (the per-round cost is the bounded vocab dict, not the
#: corpus).
BPE_TRAIN_ROUNDS = 64


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the memoized trained BPE merge table.  A merge
    table IS a tokenizer model — a build-once artifact exactly like the
    IVF quantizer and PQ codebook, so it shares their per-(session,
    sf_dir) memo+localCheckpoint discipline (bench.py itemizes the
    one-time training as a `bpe_model` index build).  Plan + training
    semantics: _bpe_train_plan below.

    Projection of the SHARED combined training pass (_bpe_combined):
    the curve query reads the same 8-row artifact, so the 8-round
    training chain runs ONCE per (session, corpus), not once per
    consumer (VERDICT r9 #3's double-pay trim)."""
    return _bpe_combined(spark, sf_dir).select(
        "rnd", "left_sym", "right_sym", "merged", "cnt"
    )


def _bpe_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memoized combined BPE training artifact: one BPE_TRAIN_ROUNDS-round training
    pass emitting (rnd, left_sym, right_sym, merged, cnt,
    corpus_syms_after) — the merge table AND the sizing curve as
    projections of the same rows."""
    return build_once(
        spark,
        sf_dir,
        "bpe_combined",
        lambda: _bpe_train_plan(spark, sf_dir).localCheckpoint(eager=True),
    )


#: Frequency floor on the collected BPE vocabulary (VERDICT r12 #3).
#: The driver-side merge loop collects the DISTINCT-token vocab; at
#: 100 TB of web text Heaps' law puts distinct tokens at 10^8-10^9 —
#: tens of GB without a floor.  Production trainers (SentencePiece/HF)
#: prune at exactly this seam: tokens below the floor can't influence
#: a 30k-round merge table anyway (a pair's corpus count is dominated
#: by frequent tokens).  1 at the registered SFs — a no-op, so every
#: oracle hash is unchanged; a 100 TB deployment sets ~10-100 (or a
#: top-N cut), mirrored verbatim in the oracle's v0 CTE below.
BPE_VOCAB_MIN_COUNT = 1


def _bpe_vocab_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS-SCALE half of BPE training: distinct tokens with
    corpus counts, encoded as '<sym><sym>…' strings — one map-combined
    shuffle over the documents scan (the only part of training that
    touches the corpus; plan-guarded in tests/test_plan_guards.py),
    bounded by the BPE_VOCAB_MIN_COUNT frequency floor before anything
    reaches the driver."""
    d = spread_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= BPE_VOCAB_MIN_COUNT)
        .select(F.regexp_replace(F.col("tok"), "(.)", "<$1>").alias("s"), "cnt")
    )


def _bpe_train_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer TRAINING (Sennrich et al. 2016) — the
    end-to-end form of ``bpe_merge_candidates``, which computes one
    round: train ``BPE_TRAIN_ROUNDS`` merges, each round (1) counting
    adjacent symbol pairs corpus-weighted, (2) picking the most frequent
    pair (ties on the pair strings ascending), (3) merging it greedily
    left-to-right in every token, then repeating on the MERGED symbol
    sequences — so later rounds can merge previously-merged symbols.
    Output: (rnd, left_sym, right_sym, merged, cnt, corpus_syms_after) —
    the learned merge table, each row also carrying the post-merge
    corpus symbol total so the sizing curve is a free projection of the
    same pass.

    ARCHITECTURE (r12, VERDICT r10 #5 — 8 rounds → 64): standard BPE
    trains on the word-frequency dict, not the raw corpus stream — the
    SentencePiece/HF trainer design — and so does this plan, in two
    stages with different scales:

    * DISTRIBUTED: ``_bpe_vocab_plan`` — ONE corpus-scale map-combined
      shuffle producing the (symbol-string, count) vocabulary.  This is
      the only stage that reads the corpus; at 100 TB it is a plain
      token count.
    * DRIVER-SIDE: the greedy merge loop over the collected vocabulary.
      The vocab is BOUNDED by distinct-token count (millions at web
      scale, not corpus-sized), and each round is a dict pass — the
      previous form ran every round as a Spark job (pair aggregate +
      top-1 + checkpoint), which at 64 rounds costs ~2 minutes of pure
      task-scheduling overhead on a 31-token vocab.  A per-round
      distributed job only wins when the VOCAB ITSELF overflows driver
      memory (billions of distinct tokens) — past that, shard the vocab
      or sample counts, exactly what production trainers do.

    Merge semantics are the engine-portable contract the oracle
    replays: symbol sequences are '<sym><sym>…' strings, a merge is a
    plain non-overlapping left-to-right ``replace('<a><b>' -> '<ab>')``
    — Python ``str.replace``, Spark ``F.replace`` and DuckDB
    ``replace`` all implement exactly that — counts are exact integers,
    and the winner tie-breaks on (cnt DESC, a ASC, b ASC) with
    [a-z0-9]-only symbols, where Python tuple comparison and SQL
    ORDER BY agree bytewise.  The oracle is the identical chain
    unrolled as MATERIALIZED DuckDB CTEs (v0 -> b1 -> v1 -> …)."""
    rows = [(r.s, int(r.cnt)) for r in _bpe_vocab_plan(spark, sf_dir).collect()]
    out = []
    vocab = dict(rows)
    for rnd in range(1, BPE_TRAIN_ROUNDS + 1):
        pairs: dict[tuple[str, str], int] = {}
        for s, cnt in vocab.items():
            syms = s[1:-1].split("><")
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                pairs[key] = pairs.get(key, 0) + cnt
        if not pairs:
            # pair space exhausted (every token fully merged): stop —
            # the trained table simply has < BPE_TRAIN_ROUNDS rows.
            # The oracle agrees: its b{r} CTE is empty past this round
            # and the LEFT JOIN keeps v{r} = v{r-1}, so both engines
            # emit the identical truncated merge table on ANY corpus
            # (the registered sf corpora exhaust at round 89 > 64).
            break
        (a, b) = min(pairs, key=lambda k: (-pairs[k], k))
        cnt = pairs[(a, b)]
        nxt: dict[str, int] = {}
        for s, c in vocab.items():
            m = s.replace(f"<{a}><{b}>", f"<{a}{b}>")
            nxt[m] = nxt.get(m, 0) + c
        vocab = nxt
        syms_after = sum(c * s.count("<") for s, c in vocab.items())
        out.append((rnd, a, b, a + b, cnt, syms_after))
    return spark.createDataFrame(
        out,
        "rnd bigint, left_sym string, right_sym string, merged string, "
        "cnt bigint, corpus_syms_after bigint",
    )


def _bpe_train_ctes() -> str:
    """The training loop unrolled as an explicit DuckDB CTE chain
    (v0 → p1/b1/v1 → … → b{N}/v{N}) — the audit-query composition idiom
    (DESIGN lesson 27) applied to an ITERATIVE plan, like pagerank's
    unrolled oracle.  Shared by the trainer oracle (reads b1..bN) and
    the encoder oracle (replays b1..bN over the documents)."""
    # every v{r}/b{r} is referenced more than once (next round + the
    # final selection / encode replay): MATERIALIZED, or DuckDB re-
    # inlines each reference and the 64-round chain blows up
    # exponentially (the pagerank_converged lesson, parity.py)
    ctes = [
        f"""v0 AS MATERIALIZED (
  SELECT regexp_replace(tok, '(.)', '<\\1>', 'g') AS s, cnt FROM (
    SELECT tok, count(*)::BIGINT AS cnt FROM (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents)
    GROUP BY tok
    HAVING count(*) >= {BPE_VOCAB_MIN_COUNT})
)"""
    ]
    prev = "v0"
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        ctes.append(
            f"""p{r} AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, cnt
  FROM (SELECT regexp_extract_all(s, '<([^<>]+)>', 1) AS syms, cnt FROM {prev}),
       LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS i) g
  WHERE len(syms) >= 2
), b{r} AS MATERIALIZED (
  SELECT a, b, sum(cnt)::BIGINT AS cnt FROM p{r} GROUP BY a, b
  ORDER BY cnt DESC, a, b LIMIT 1
), v{r} AS MATERIALIZED (
  SELECT CASE WHEN m.a IS NULL THEN s
              ELSE replace(s, '<' || m.a || '><' || m.b || '>', '<' || m.a || m.b || '>')
         END AS s,
         {prev}.cnt AS cnt
  FROM {prev} LEFT JOIN b{r} m ON TRUE
)"""
        )
        prev = f"v{r}"
    return ",\n".join(ctes)


def bpe_compression_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE compression curve — corpus symbol count after EACH merge
    round: (rnd, merged, pair_cnt, corpus_syms_after).  This is the
    how-many-merges-do-I-need sizing curve (the BPE analogue of
    vocab_coverage_curve): pair_cnt is the winning pair's corpus-
    weighted frequency, corpus_syms_after the total symbols remaining
    across the corpus once round r's GREEDY merge is applied —
    deliberately NOT cumsum(pair_cnt), because greedy non-overlapping
    replacement applies fewer merges than the pair frequency on runs
    ('aaa' counts (a,a) twice but merges once), so the curve must
    re-measure the merged vocab, which is exactly what it does
    (sum over the weighted vocab of each token's symbol count).

    Consistency invariant (pytest-pinned): the final row equals
    sum(bpe_encode_docs.n_bpe_syms) — the curve's corpus total and the
    per-document encoder agree exactly.

    Plan: a PROJECTION of the shared combined training artifact
    (_bpe_combined) — the per-round symbol total is measured inside the
    trainer's own loop (one |vocab|-row aggregate per round folded into
    the same pass), so the curve adds ZERO extra training chains.
    Oracle: the shared unrolled chain with a per-round scalar subquery
    over v{r}."""
    return _bpe_combined(spark, sf_dir).select(
        "rnd", "merged", F.col("cnt").alias("pair_cnt"), "corpus_syms_after"
    )


def _bpe_train_sql() -> str:
    arms = [
        f"SELECT {r}::BIGINT AS rnd, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, cnt FROM b{r}"
        for r in range(1, BPE_TRAIN_ROUNDS + 1)
    ]
    return (
        "WITH " + _bpe_train_ctes() + "\n"
        + "\nUNION ALL\n".join(arms)
        + "\nORDER BY rnd"
    )


BPE_TRAIN_SQL = _bpe_train_sql()


def _bpe_curve_sql() -> str:
    n_syms = "strlen(s) - strlen(replace(s, '<', ''))"
    arms = [
        f"SELECT {r}::BIGINT AS rnd, a || b AS merged, cnt AS pair_cnt,\n"
        f"       (SELECT sum(cnt * ({n_syms}))::BIGINT FROM v{r}) AS corpus_syms_after\n"
        f"FROM b{r}"
        for r in range(1, BPE_TRAIN_ROUNDS + 1)
    ]
    return (
        "WITH " + _bpe_train_ctes() + "\n"
        + "\nUNION ALL\n".join(arms)
        + "\nORDER BY rnd"
    )


BPE_CURVE_SQL = _bpe_curve_sql()


def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the TRAINED BPE merge table to every document — the encode
    half of the tokenizer pair (train: ``bpe_train_merges``), and the
    operator a pipeline actually budgets with: token counts under the
    trained tokenizer decide sequence packing, context-window fill and
    training-step cost.  Output: (doc_id, n_char_syms, n_bpe_syms,
    n_merges_applied) — symbols before merging (= alnum chars),
    symbols after all BPE_TRAIN_ROUNDS merges, and their difference
    (each applied merge removes exactly one symbol).

    Plan: the memoized 8-row merge table collapses into ONE broadcast
    row carrying the rnd-ordered (a, b) array; each document folds the
    merges over its '<sym>'-encoded text with ``aggregate(...,
    replace(...))`` — a pure zero-shuffle codegen projection over the
    corpus scan (the same broadcast-the-model shape as PQ/centroid
    assignment).  Token boundaries are '|' separators in the symbol
    string, so a '<a><b>' merge pattern can never span two tokens —
    BPE merges are within-token by construction, matching the trainer.
    At 100 TB: linear corpus scan, the model side is 8 tiny rows.

    Oracle: the shared unrolled training chain (b1..bN) replayed over
    the documents as a chained scalar CROSS JOIN — both engines apply
    the same replaces in the same rnd order."""
    merges = bpe_train_merges(spark, sf_dir)
    m_arr = F.broadcast(
        merges.agg(
            F.array_sort(
                F.collect_list(F.struct("rnd", "left_sym", "right_sym"))
            ).alias("ms")
        )
    )
    d = spread_table(spark, sf_dir, "documents")
    s0 = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", "|"),
        "([a-z0-9])",
        "<$1>",
    )
    n_syms = lambda c: F.length(c) - F.length(F.replace(c, F.lit("<")))
    folded = F.aggregate(
        F.col("ms"),
        F.col("s0"),
        lambda acc, m: F.replace(
            acc,
            F.concat(F.lit("<"), m["left_sym"], F.lit("><"), m["right_sym"], F.lit(">")),
            F.concat(F.lit("<"), m["left_sym"], m["right_sym"], F.lit(">")),
        ),
    )
    return (
        d.select("doc_id", s0.alias("s0"))
        .crossJoin(m_arr)
        .select("doc_id", F.col("s0"), folded.alias("s1"))
        .select(
            "doc_id",
            n_syms(F.col("s0")).cast("long").alias("n_char_syms"),
            n_syms(F.col("s1")).cast("long").alias("n_bpe_syms"),
            (n_syms(F.col("s0")) - n_syms(F.col("s1"))).cast("long").alias("n_merges_applied"),
        )
    )


def _bpe_encode_sql() -> str:
    ctes = [_bpe_train_ctes()]
    ctes.append(
        """e0 AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', '|', 'g'),
                        '([a-z0-9])', '<\\1>', 'g') AS s
  FROM documents
)"""
    )
    prev = "e0"
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        # MATERIALIZED: keeps each replay round one pass over the doc
        # strings instead of a 64-deep inlined expression tree
        ctes.append(
            f"""e{r} AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN m.a IS NULL THEN s
              ELSE replace(s, '<' || m.a || '><' || m.b || '>', '<' || m.a || m.b || '>')
         END AS s
  FROM {prev} LEFT JOIN b{r} m ON TRUE
)"""
        )
        prev = f"e{r}"
    chain = ",\n".join(ctes)
    return f"""
WITH {chain}
SELECT e0.doc_id,
       (strlen(e0.s) - strlen(replace(e0.s, '<', '')))::BIGINT AS n_char_syms,
       (strlen({prev}.s) - strlen(replace({prev}.s, '<', '')))::BIGINT AS n_bpe_syms,
       (strlen(e0.s) - strlen(replace(e0.s, '<', ''))
        - strlen({prev}.s) + strlen(replace({prev}.s, '<', '')))::BIGINT AS n_merges_applied
FROM e0 JOIN {prev} USING (doc_id)
"""


BPE_ENCODE_SQL = _bpe_encode_sql()


def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — mean BPE symbols per word, the
    standard multilingual tokenizer-equity metric (a language whose
    fertility is 2x another's pays 2x the context window and 2x the
    inference cost for the same text; reported per-language before a
    tokenizer ships).  Output: (lang, n_docs, n_words, n_bpe_syms,
    fertility) with fertility = n_bpe_syms / n_words rounded at 6.

    Plan: the per-document encoder fold (the same 1-row broadcast merge
    table + zero-shuffle string fold as bpe_encode_docs, plus a word
    count per doc) feeding ONE map-combined lang aggregate — integer
    counts shuffled, one IEEE division per lang row, so the oracle
    hash-matches exactly.  Oracle: the shared b1..bN chain replayed
    over documents, grouped by lang."""
    merges = bpe_train_merges(spark, sf_dir)
    m_arr = F.broadcast(
        merges.agg(
            F.array_sort(
                F.collect_list(F.struct("rnd", "left_sym", "right_sym"))
            ).alias("ms")
        )
    )
    d = spread_table(spark, sf_dir, "documents")
    s0 = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", "|"),
        "([a-z0-9])",
        "<$1>",
    )
    n_syms = lambda c: F.length(c) - F.length(F.replace(c, F.lit("<")))
    folded = F.aggregate(
        F.col("ms"),
        F.col("s0"),
        lambda acc, m: F.replace(
            acc,
            F.concat(F.lit("<"), m["left_sym"], F.lit("><"), m["right_sym"], F.lit(">")),
            F.concat(F.lit("<"), m["left_sym"], m["right_sym"], F.lit(">")),
        ),
    )
    per_doc = (
        d.select("lang", s0.alias("s0"), F.size(tokens("text")).alias("n_words"))
        .crossJoin(m_arr)
        .select("lang", "n_words", n_syms(folded).cast("long").alias("n_bpe"))
    )
    agg = per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_bpe").alias("n_bpe_syms"),
    )
    fert = F.when(
        F.col("n_words") > 0, F.col("n_bpe_syms").cast("double") / F.col("n_words")
    ).otherwise(F.lit(0.0))
    return agg.select(
        "lang", "n_docs", "n_words", "n_bpe_syms",
        round_half_up(fert, 6).alias("fertility"),
    )


def _bpe_fertility_sql() -> str:
    ctes = [_bpe_train_ctes()]
    ctes.append(
        """e0 AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_words,
         regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', '|', 'g'),
                        '([a-z0-9])', '<\\1>', 'g') AS s
  FROM documents
)"""
    )
    prev = "e0"
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        ctes.append(
            f"""e{r} AS (
  SELECT doc_id, lang, n_words,
         replace(s, '<' || a || '><' || b || '>', '<' || a || b || '>') AS s
  FROM {prev}, b{r}
)"""
        )
        prev = f"e{r}"
    chain = ",\n".join(ctes)
    fert = sql_round_half_up(
        "CASE WHEN sum(n_words) > 0"
        " THEN CAST(sum(strlen(s) - strlen(replace(s, '<', ''))) AS DOUBLE)"
        " / sum(n_words) ELSE 0.0 END",
        6,
    )
    return f"""
WITH {chain}
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(n_words)::BIGINT AS n_words,
       sum(strlen(s) - strlen(replace(s, '<', '')))::BIGINT AS n_bpe_syms,
       {fert} AS fertility
FROM {prev} GROUP BY lang
"""


BPE_FERTILITY_SQL = _bpe_fertility_sql()


def quantize_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization audit: scale, exact integer
    checksums of the quantized vector (sum / sum-of-abs — these are
    EXACT cross-engine, the strongest oracle signal), and
    reconstruction error (MSE + max abs error, 9-decimal rounded).

    Zero-vector guard: scale 0 -> q all zeros, zero error."""
    emb = spread_table(spark, sf_dir, "embeddings")
    d = emb.select("vec_id", as_double("embedding").alias("e"))
    max_abs = F.array_max(F.transform(F.col("e"), lambda x: F.abs(x)))
    d = d.withColumn("scale", max_abs / F.lit(float(QUANT_LEVELS)))
    lo, hi = F.lit(-QUANT_LEVELS).cast("long"), F.lit(QUANT_LEVELS).cast("long")
    q = F.when(
        F.col("scale") > 0,
        F.transform(
            F.col("e"),
            lambda x: F.greatest(lo, F.least(hi, F.floor(x / F.col("scale") + F.lit(0.5)))),
        ),
    ).otherwise(F.transform(F.col("e"), lambda x: F.lit(0).cast("long")))
    d = d.withColumn("q", q)
    err = F.zip_with(
        F.col("e"), F.col("q"), lambda x, qi: x - qi.cast("double") * F.col("scale")
    )
    d = d.withColumn("err", err).withColumn("n_dims", F.size("e").cast("long"))
    sum_q = F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + x)
    sum_abs_q = F.aggregate(
        F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
    )
    mse = dot(F.col("err"), F.col("err")) / F.col("n_dims")
    max_err = F.array_max(F.transform(F.col("err"), lambda x: F.abs(x)))
    return d.select(
        "vec_id",
        "n_dims",
        round_half_up(F.col("scale"), 9).alias("scale_r"),
        sum_q.alias("sum_q"),
        sum_abs_q.alias("sum_abs_q"),
        round_half_up(mse, 9).alias("mse_r"),
        round_half_up(max_err, 9).alias("max_abs_err_r"),
    )


QUANTIZE_INT8_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), s AS (
  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / {float(QUANT_LEVELS)} AS scale
  FROM e
), q AS (
  SELECT vec_id, e, scale,
         CASE WHEN scale > 0
              THEN list_transform(e, x -> greatest(CAST(-{QUANT_LEVELS} AS BIGINT),
                     least(CAST({QUANT_LEVELS} AS BIGINT), CAST(floor(x / scale + 0.5) AS BIGINT))))
              ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END AS q
  FROM s
), err AS (
  SELECT vec_id, scale, q, CAST(len(e) AS BIGINT) AS n_dims,
         list_transform(range(1, len(e) + 1), i -> e[i] - q[i] * scale) AS err
  FROM q
)
SELECT vec_id, n_dims,
       {sql_round_half_up("scale", 9)} AS scale_r,
       CAST(list_sum(q) AS BIGINT) AS sum_q,
       CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS sum_abs_q,
       {sql_round_half_up("list_dot_product(err, err) / n_dims", 9)} AS mse_r,
       {sql_round_half_up("list_max(list_transform(err, x -> abs(x)))", 9)} AS max_abs_err_r
FROM err
"""


# Product quantization: PQ_M subspaces of PQ_SUBDIM dims each, PQ_KS
# centroids per subspace -> each vector compresses to PQ_M 4-bit codes
# (here stored as longs for the audit).  Jegou et al. 2011, "Product
# Quantization for Nearest Neighbor Search" — the standard vector-store
# compression behind IVF-PQ indexes.
PQ_M = 8
PQ_SUBDIM = 8  # PQ_M * PQ_SUBDIM = embedding dim (64)
PQ_KS = 16


def _pq_d9(sv, ce):
    """Integer fixed-point squared distance between two equal-length
    double arrays: per-element squared diffs round half-up at 1e-9 to
    BIGINT and integer-sum — order-independent, bit-identical in DuckDB
    (no float tie ambiguity in any downstream argmin/ranking)."""
    return F.aggregate(
        F.zip_with(
            sv,
            ce,
            lambda x, y: F.floor((x - y) * (x - y) * F.lit(1e9) + F.lit(0.5)).cast(
                "long"
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def pq_subvectors(v: DataFrame, vec_col: str = "e", id_col: str = "vec_id") -> DataFrame:
    """(id, m, sv) — split each vector into PQ_M contiguous PQ_SUBDIM-dim
    subvectors (one transform + posexplode, no shuffle)."""
    return v.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                lambda m: F.slice(F.col(vec_col), m * PQ_SUBDIM + 1, PQ_SUBDIM),
            )
        ).alias("m", "sv"),
    )


def _pq_assign(sub_df: DataFrame, codebook: DataFrame) -> DataFrame:
    """Per-(vec, m) nearest centroid via one broadcast codebook array
    — pure projection, no shuffle (the similarity._assign idiom).
    The codebook broadcasts as an m-INDEXED array-of-arrays
    (element_at by m, no per-row linear scan of all PQ_M x PQ_KS
    entries), and the argmin is a single aggregate fold over the
    PQ_KS scored structs instead of a comparator sort — both cut
    the interpreted higher-order-function work per row (measured
    ~10x together on the 10x corpus; DESIGN lesson 22)."""
    per_m = codebook.groupBy("m").agg(
        F.array_sort(F.collect_list(F.struct("cid", "ce"))).alias("entries")
    )
    cb = F.broadcast(
        per_m.agg(
            F.array_sort(F.collect_list(F.struct("m", "entries"))).alias("cbs")
        )
    )
    mine = F.element_at(F.col("cbs"), (F.col("m") + 1).cast("int"))["entries"]
    scores = F.transform(
        mine, lambda s: F.struct(_pq_d9(F.col("sv"), s["ce"]).alias("d"), s["cid"].alias("cid"))
    )
    best = F.aggregate(
        scores,
        F.struct(
            F.lit(2**63 - 1).cast("long").alias("d"),
            F.lit(-1).cast("long").alias("cid"),
        ),
        lambda acc, s: F.when(
            (s["d"] < acc["d"]) | ((s["d"] == acc["d"]) & (s["cid"] < acc["cid"])),
            s,
        ).otherwise(acc),
    )
    return sub_df.crossJoin(cb).select(
        "vec_id", "m", "sv", best["cid"].alias("cid"), best["d"].alias("d9")
    )


# Like the IVF quantizer/lists: the PQ codebook and the full-corpus code
# assignment are build-once session-scoped indexes shared by the audit
# query and the IVF-PQ ANN query.


def pq_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memoized, materialized PQ codebook (m, cid, ce): deterministic
    seeds = the first PQ_KS vectors' subvectors, one Lloyd step with the
    order-independent fixed-point mean."""

    def build() -> DataFrame:
        emb = spread_table(spark, sf_dir, "embeddings")
        v = emb.select("vec_id", as_double("embedding").alias("e"))
        sub = pq_subvectors(v)
        seeds = (
            sub.join(
                F.broadcast(v.orderBy("vec_id").limit(PQ_KS).select("vec_id")), "vec_id"
            ).select(F.col("m"), F.col("vec_id").alias("cid"), F.col("sv").alias("ce"))
        )
        a0 = _pq_assign(sub, seeds)
        comp = a0.select("m", "cid", F.posexplode("sv").alias("pos", "x"))
        cent = (
            comp.groupBy("m", "cid", "pos")
            .agg(
                (
                    F.sum(
                        F.floor(F.col("x") * F.lit(1e9) + F.lit(0.5)).cast("long")
                    ).cast("double")
                    / (F.count("*") * F.lit(1e9))
                ).alias("mm")
            )
            .groupBy("m", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mm"))).alias("pm"))
            .select("m", "cid", F.col("pm.mm").alias("ce"))
        )
        return cent.localCheckpoint(eager=True)

    return build_once(spark, sf_dir, "pq_model", build)


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memoized full-corpus PQ code assignment (vec_id, m, cid, d9)
    against the refined codebook."""

    def build() -> DataFrame:
        emb = spread_table(spark, sf_dir, "embeddings")
        v = emb.select("vec_id", as_double("embedding").alias("e"))
        sub = pq_subvectors(v)
        return (
            _pq_assign(sub, pq_model(spark, sf_dir))
            .select("vec_id", "m", "cid", "d9")
            .localCheckpoint(eager=True)
        )

    return build_once(spark, sf_dir, "pq_codes", build)


def quantize_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization audit: train one ``PQ_KS``-centroid codebook
    per ``PQ_M`` subspace (deterministic seeds = the first PQ_KS vectors
    by vec_id, one Lloyd refinement step), encode every vector as its
    PQ_M nearest-centroid codes, and report the codes plus the
    reconstruction MSE — (vec_id, code_0..code_7, recon_mse).  The
    compression go/no-go a vector store runs before switching its ANN
    index to IVF-PQ (similarity_ann_ivfpq shares the memoized codebook
    and code assignment).

    Cross-engine exactness (the same round-7 discipline as the IVF
    quantizer): centroid means are integer fixed-point sums, and every
    DISTANCE is an integer too — per-element squared diffs round
    half-up at 1e-9 to BIGINT and sum, so argmin ranking compares
    integers (no float tie ambiguity anywhere) and DuckDB reproduces
    codes and MSE bit-for-bit.

    Scale: codebooks are (PQ_M x PQ_KS)-row broadcast artifacts; both
    assignment passes are ZERO-SHUFFLE per-row projections over an
    m-indexed broadcast codebook array (fold argmin — DESIGN lesson
    22); the only shuffles are the (m, cid, pos) fixed-point mean
    (bounded key space) and the final per-vector pivot."""
    codes = pq_codes(spark, sf_dir)
    total_dims = PQ_M * PQ_SUBDIM
    return codes.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("m") == i, F.col("cid"))).cast("long").alias(f"code_{i}")
            for i in range(PQ_M)
        ],
        round_half_up(
            F.sum("d9").cast("double") / F.lit(float(total_dims) * 1e9), 6
        ).alias("recon_mse"),
    )


def pq_ctes() -> str:
    """Shared DuckDB CTE chain for the PQ build — assumes a CTE ``v``
    with (vec_id, e: DOUBLE[]) is already defined; ends in ``pq_a1``
    (vec_id, m, cid, d9) and ``pq_cent`` (m, cid, ce).  Reproduces
    pq_model/pq_codes bit-for-bit (fixed-point means + integer
    distances).  Used by the PQ audit oracle AND the IVF-PQ ANN oracle."""
    dist9 = (
        "sum(CAST(floor((s.sv[i] - c.ce[i]) * (s.sv[i] - c.ce[i]) * 1e9 + 0.5) AS BIGINT))"
    )
    return f"""pq_sub AS (
  SELECT vec_id, m, e[(m * {PQ_SUBDIM} + 1):((m + 1) * {PQ_SUBDIM})] AS sv
  FROM v, LATERAL (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) g
), pq_seeds AS (
  SELECT m, vec_id AS cid, sv AS ce FROM pq_sub
  WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT {PQ_KS})
), pq_d0 AS (
  SELECT s.vec_id, s.m, c.cid, {dist9} AS d9
  FROM pq_sub s JOIN pq_seeds c ON c.m = s.m,
       LATERAL (SELECT unnest(generate_series(1, {PQ_SUBDIM})) AS i) g
  GROUP BY s.vec_id, s.m, c.cid
), pq_a0 AS (
  SELECT vec_id, m, cid FROM (
    SELECT vec_id, m, cid,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d9, cid) AS r
    FROM pq_d0) WHERE r = 1
), pq_comp AS (
  SELECT a.m, a.cid, i AS pos, s.sv[i] AS x
  FROM pq_a0 a JOIN pq_sub s ON s.vec_id = a.vec_id AND s.m = a.m,
       LATERAL (SELECT unnest(generate_series(1, {PQ_SUBDIM})) AS i) g
), pq_cent AS (
  SELECT m, cid, list(mm ORDER BY pos) AS ce FROM (
    SELECT m, cid, pos,
           CAST(sum(CAST(floor(x * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
             / (count(*) * 1e9) AS mm
    FROM pq_comp GROUP BY m, cid, pos)
  GROUP BY m, cid
), pq_d1 AS (
  SELECT s.vec_id, s.m, c.cid, {dist9} AS d9
  FROM pq_sub s JOIN pq_cent c ON c.m = s.m,
       LATERAL (SELECT unnest(generate_series(1, {PQ_SUBDIM})) AS i) g
  GROUP BY s.vec_id, s.m, c.cid
), pq_a1 AS (
  SELECT vec_id, m, cid, d9 FROM (
    SELECT vec_id, m, cid, d9,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d9, cid) AS r
    FROM pq_d1) WHERE r = 1
)"""


def _pq_sql() -> str:
    codes = ",\n       ".join(
        f"max(CASE WHEN m = {i} THEN cid END)::BIGINT AS code_{i}" for i in range(PQ_M)
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), {pq_ctes()}
SELECT vec_id,
       {codes},
       {sql_round_half_up(f'CAST(sum(d9) AS DOUBLE) / ({PQ_M * PQ_SUBDIM} * 1e9)', 6)} AS recon_mse
FROM pq_a1 GROUP BY vec_id
"""


QUANTIZE_PQ_SQL = _pq_sql()


QUERIES = {
    "bpe_merge_candidates": bpe_merge_candidates,
    "bpe_train_merges": bpe_train_merges,
    "bpe_compression_curve": bpe_compression_curve,
    "bpe_encode_docs": bpe_encode_docs,
    "bpe_fertility_by_lang": bpe_fertility_by_lang,
    "quantize_embeddings_int8": quantize_embeddings_int8,
    "quantize_pq_codes": quantize_pq_codes,
}

ORACLES = {
    "bpe_merge_candidates": BPE_MERGE_SQL,
    "bpe_train_merges": BPE_TRAIN_SQL,
    "bpe_compression_curve": BPE_CURVE_SQL,
    "bpe_encode_docs": BPE_ENCODE_SQL,
    "bpe_fertility_by_lang": BPE_FERTILITY_SQL,
    "quantize_embeddings_int8": QUANTIZE_INT8_SQL,
    "quantize_pq_codes": QUANTIZE_PQ_SQL,
}
