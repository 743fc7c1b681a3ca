"""Deduplication operators over the ``documents`` table — the first of
the four LLM-data-pipeline operator families (driver contract
BASELINE.json ``north_star``; absent from the reference, whose only
workloads are WordCount/PageRank — SURVEY.md §2.3).

Four operators, in increasing scale-sophistication:

* ``dedup_exact``          — content-hash grouping (oracle-checked).
* ``dedup_near_jaccard``   — exact word-3-gram Jaccard over an INVERTED
                             SHINGLE INDEX self-join (oracle-checked).
                             No cartesian product: only documents sharing
                             at least one shingle ever meet, which is a
                             superset of every pair with Jaccard > 0
                             (zero false negatives by construction).
* ``dedup_minhash_lsh``    — MinHash signatures + banded LSH bucket join
                             (the 100 TB path; rows-only check — DuckDB
                             has no xxhash64 twin).
* ``dedup_simhash``        — 64-bit SimHash + block-pigeonhole candidate
                             join + exact Hamming verify (rows-only).

Scale posture (100 TB):

* exact: one hash shuffle on a 64-hex key — embarrassingly scalable.
* inverted index: candidate count is bounded by sum over shingles of
  df(shingle)^2; hot shingles explode it, which is exactly why the
  MinHash variant exists.  At 100 TB run ``dedup_minhash_lsh``:
  signature build is one explode + one groupBy (map-side partial min),
  banding multiplies rows by BANDS (16), and the bucket self-join only
  shuffles (band_id, band_hash) groups — never all-pairs.
* Everything below is pure Catalyst expressions (xxhash64, transform,
  aggregate) — no Python in the hot path.
"""

from __future__ import annotations

import threading
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from mini_hadoop_spark.functions.text import (
    round_half_up,
    shingles,
    sql_round_half_up,
    tokens,
)
from mini_hadoop_spark.functions.partitioning import spread_small_scan
from mini_hadoop_spark.functions.vectors import cosine, dot
from mini_hadoop_spark.session import build_once
from mini_hadoop_spark.sources.catalog import load_table

# Near-dup output threshold: sf0.01 has 25 planted near-dup pairs with
# Jaccard >= 0.2 and a long tail of sub-0.05 incidental overlap.
JACCARD_THRESHOLD = 0.2

# MinHash parameters: 64 hashes = 16 bands x 4 rows.  P(candidate) =
# 1 - (1 - j^4)^16; j=0.2 -> 2.5%, j=0.5 -> 64%, j=0.8 -> 99.98%.
NUM_HASHES = 64
BANDS = 16
ROWS_PER_BAND = 4

SIMHASH_BITS = 64
SIMHASH_BLOCKS = 4  # pigeonhole: hamming <= 3 guarantees one equal block
SIMHASH_MAX_HAMMING = 3


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) — one row per DISTINCT shingle per document,
    MEMOIZED + materialized (eager localCheckpoint) per session+sf_dir.

    Tokenize+explode is the CPU-heavy base of FOUR pipelines (exact
    Jaccard, containment, xxhash64 MinHash, md5 MinHash); before r7 each
    pair-graph build recomputed it, which dominated bench.py's cold
    index_build (the judge measured the md5 build at 22.7 s where the
    warm plan costs ~3.6 s).  One shared materialization means the first
    build pays it and the other three reuse the checkpointed blocks —
    same build_once memo as the pair/label frames below.

    The scan is spread across cores first: a small-SF single-file scan
    would otherwise tokenize on one core (see functions/partitioning.py
    — no-op at scale).

    r17: the index rows additionally carry ``n_sh`` — the document's
    DISTINCT-shingle count, i.e. ``size(sharr)`` carried through the
    explode via the struct-transform idiom (a bare-Attribute generator
    child would let InferFiltersFromGenerate push the whole
    tokenize+shingle expression into a scan filter — the
    contamination_ngram 25x trap) — and the checkpoint is hash-
    partitioned on ``shingle``.  LogicalRDD preserves that partitioning,
    so the inverted-index self-joins (Jaccard pairs, containment) and
    the df-count aggregates (dup_span_coverage) ride the stored
    clustering with NO exchange, and consumers that need per-doc sizes
    read the carried column instead of re-aggregating + joining the
    corpus-sized stream.  The one-time repartition cost lands in the
    itemized index build, like the materialization itself."""

    def build() -> DataFrame:
        docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
        return (
            docs.select("doc_id", tokens("text").alias("t"))
            .select("doc_id", shingles("t").alias("sharr"))
            .select(
                "doc_id",
                F.explode(
                    F.transform(
                        "sharr",
                        lambda x: F.struct(
                            x.alias("shingle"), F.size("sharr").alias("n_sh")
                        ),
                    )
                ).alias("g"),
            )
            .select("doc_id", F.col("g.shingle").alias("shingle"), F.col("g.n_sh").alias("n_sh"))
            .repartition("shingle")
            .localCheckpoint(eager=True)
        )

    return build_once(spark, sf_dir, "doc_shingles", build)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct content, with
    the survivor (min doc_id) and the duplicate count.

    Plan: project → sha2 → single hash aggregate on the digest (map-side
    partial agg).  The digest, not the text, is the shuffle key — at
    100 TB the shuffle moves 64-byte keys, not document bodies."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.sha2(F.col("text"), 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


DEDUP_EXACT_SQL = """
SELECT sha256(text) AS content_hash,
       min(doc_id)  AS keep_doc_id,
       count(*)     AS n_copies
FROM documents
GROUP BY sha256(text)
"""


def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on NORMALIZED text: lowercase, collapse every
    non-alphanumeric run to one space, trim — so case, whitespace and
    punctuation variants of the same content hash together.  The first
    rung between exact dedup (misses a doubled space) and Jaccard (pays
    a shingle index for what is really the same string; real pipelines
    run this cheap pass first and reserve similarity for what remains).

    Same scale shape as ``dedup_exact``: normalization is a per-row
    projection, the shuffle key is the 64-hex digest, never the text."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    return (
        docs.select(F.sha2(norm, 256).alias("norm_hash"), "doc_id")
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


DEDUP_EXACT_NORMALIZED_SQL = """
SELECT sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_hash,
       min(doc_id) AS keep_doc_id,
       count(*)    AS n_copies
FROM documents
GROUP BY 1
"""


def dedup_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication profile: for each copy-count k, how many distinct
    contents have exactly k copies and how many documents they account
    for — the one-page answer to "how duplicated is this corpus" that
    decides whether dedup is worth a full pass (a long k-tail means big
    token savings; all-k=1 means skip it).

    Plan: the exact-dedup digest aggregate followed by a SECOND tiny
    aggregate over |distinct contents| rows keyed by k (bounded by the
    max copy count); both map-side combined."""
    docs = load_table(spark, sf_dir, "documents")
    groups = (
        docs.select(F.sha2(F.col("text"), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_copies"))
    )
    return groups.groupBy("n_copies").agg(
        F.count("*").alias("n_groups"),
        F.sum("n_copies").alias("n_docs"),
    )


DEDUP_HISTOGRAM_SQL = """
WITH g AS (
  SELECT sha256(text) AS content_hash, count(*) AS n_copies
  FROM documents GROUP BY 1
)
SELECT n_copies, count(*) AS n_groups, CAST(sum(n_copies) AS BIGINT) AS n_docs
FROM g GROUP BY n_copies
"""


def dedup_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rung dedup funnel: how many documents each cheap rung keeps
    (raw → exact content hash → normalized hash) — the planning report
    that sizes the expensive similarity passes by showing what the
    cheap ones already remove.

    One scan, one aggregate (two distinct-counts share it), unpivoted
    to a fixed 3-row report."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    agg = docs.select(
        F.sha2(F.col("text"), 256).alias("h_exact"),
        F.sha2(norm, 256).alias("h_norm"),
    ).agg(
        F.count("*").alias("n_raw"),
        F.count_distinct("h_exact").alias("n_exact"),
        F.count_distinct("h_norm").alias("n_norm"),
    )
    return agg.selectExpr(
        "stack(3, 'raw', n_raw, CAST(0 AS BIGINT), "
        "'exact', n_exact, n_raw - n_exact, "
        "'normalized', n_norm, n_raw - n_norm) AS (rung, n_kept, n_removed)"
    )


DEDUP_FUNNEL_SQL = """
WITH a AS (
  SELECT count(*) AS n_raw,
         count(DISTINCT sha256(text)) AS n_exact,
         count(DISTINCT sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS n_norm
  FROM documents
)
SELECT 'raw' AS rung, n_raw AS n_kept, CAST(0 AS BIGINT) AS n_removed FROM a
UNION ALL
SELECT 'exact', n_exact, n_raw - n_exact FROM a
UNION ALL
SELECT 'normalized', n_norm, n_raw - n_norm FROM a
"""


#: deterministic batch split for the incremental-dedup query: docs whose
#: doc_id-hash bucket is >= this are the "incoming batch", the rest the
#: "existing corpus" (id-hash, NOT content-hash, so duplicate texts can
#: straddle the boundary — the case the query exists to catch)
INCR_EXISTING_BUCKETS = 8
INCR_TOTAL_BUCKETS = 10


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the production shape for an ongoing
    crawl: a new batch is deduped (a) against the EXISTING corpus's
    fingerprint set and (b) within itself, without ever rescanning
    existing document bodies.  Output: one row per surviving new
    fingerprint with its keeper and the batch-internal copy count.

    The batch boundary is a deterministic doc_id-hash split (80/20) so
    both engines carve identical "existing" and "incoming" sets from
    the driver's one corpus.

    Plan: every shuffle — the existing-side distinct, the batch
    aggregate, and the anti join — is keyed on the 64-hex digest, never
    text; at 100 TB the existing side is a fingerprint INDEX you
    materialize once and maintain across batches (here derived in-query
    because the driver provides one static table)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(INCR_TOTAL_BUCKETS),
    )
    d = docs.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("content_hash"), bucket.alias("b")
    )
    existing_fp = d.filter(F.col("b") < INCR_EXISTING_BUCKETS).select("content_hash").distinct()
    batch = (
        d.filter(F.col("b") >= INCR_EXISTING_BUCKETS)
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_batch_copies"))
    )
    return batch.join(existing_fp, "content_hash", "left_anti")


DEDUP_INCREMENTAL_SQL = f"""
WITH d AS (
  SELECT doc_id, sha256(text) AS content_hash,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {INCR_TOTAL_BUCKETS} AS b
  FROM documents
), existing AS (
  SELECT DISTINCT content_hash FROM d WHERE b < {INCR_EXISTING_BUCKETS}
), batch AS (
  SELECT content_hash, min(doc_id) AS keep_doc_id, count(*) AS n_batch_copies
  FROM d WHERE b >= {INCR_EXISTING_BUCKETS} GROUP BY content_hash
)
SELECT b.content_hash, b.keep_doc_id, b.n_batch_copies
FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.content_hash = b.content_hash)
"""


# ---------------------------------------------------------------------------
# Shared near-dup pair pipeline.
#
# ``dedup_near_jaccard``, ``dedup_clusters`` and ``graph_triangle_count``
# all consume the same scored pair set, and the clustering queries also
# share one connected-components labeling.  Each registered query must
# stay standalone (the driver calls them independently), so the sharing
# mechanism is a per-(application, sf_dir, method) memo of the SMALL
# materialized results (pairs ≈ dozens of rows, labels ≈ clustered docs)
# — the expensive candidate generation runs once per session instead of
# once per query.  ``method`` selects the candidate generator:
#
#   * "jaccard" — exact inverted-index pairs (oracle-checkable; candidate
#     count bounded by Σ df(shingle)², hot shingles blow it up at 100 TB)
#   * "minhash" — banded-LSH pairs (the 100 TB path: candidates bounded
#     by bucket sizes, immune to hot shingles)
#
# The clustering/triangle operators accept either, so at scale the whole
# family swaps to LSH candidates with one argument.
# ---------------------------------------------------------------------------

_PAIR_METHODS = ("jaccard", "minhash", "minhash_md5")


def near_dup_pairs(spark: SparkSession, sf_dir: str, method: str = "jaccard") -> DataFrame:
    """(doc_a, doc_b, score) near-dup pairs via ``method``, memoized and
    materialized (localCheckpoint) per session+sf_dir.  ``score`` is
    ``jaccard`` (exact) or ``est_jaccard`` (minhash estimate)."""
    if method not in _PAIR_METHODS:
        raise ValueError(f"unknown near-dup method {method!r}; expected one of {_PAIR_METHODS}")
    plan = {
        "jaccard": _near_jaccard_plan,
        "minhash": _minhash_lsh_plan,
        "minhash_md5": _minhash_lsh_md5_plan,
    }[method]
    return build_once(
        spark,
        sf_dir,
        ("near_dup_pairs", method),
        lambda: plan(spark, sf_dir).localCheckpoint(eager=True),
    )


def near_dup_labels(spark: SparkSession, sf_dir: str, method: str = "jaccard") -> DataFrame:
    """(id, label) connected-component labels over the near-dup pair
    graph — memoized so clusters/triangles run the HashMin loop once."""

    def build() -> DataFrame:
        pairs = near_dup_pairs(spark, sf_dir, method).select("doc_a", "doc_b")
        return connected_components(pairs, src="doc_a", dst="doc_b", max_iter=CC_MAX_ITER)

    return build_once(spark, sf_dir, ("near_dup_labels", method), build)


def _near_jaccard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by EXACT word-3-gram Jaccard similarity,
    candidate-generated through an inverted shingle index (self-join on
    shingle) — never a cartesian product.

    shared(a,b) = |S_a ∩ S_b| falls out of the index join; sizes join
    back in; jaccard = shared / (|S_a| + |S_b| - shared) is integer
    arithmetic + one double division — bit-identical across engines.

    The shingle index is materialized once (memo) and pre-partitioned
    on shingle, so the self-join adds no exchange; per-doc sizes ride
    the index's carried ``n_sh`` column through the pair aggregate as
    ``max()`` (constant within each (doc_a, doc_b) group), replacing
    the old sizes aggregate + two join-backs of the corpus stream."""
    sh = _doc_shingles(spark, sf_dir)  # memoized, already materialized
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("shared"),
            F.max(F.col("a.n_sh")).alias("na"),
            F.max(F.col("b.n_sh")).alias("nb"),
        )
    )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", round_half_up(jac, 6).alias("jaccard"))
    )


def dedup_near_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the memoized exact-Jaccard pair set."""
    return near_dup_pairs(spark, sf_dir, "jaccard")


def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate which: the near-dup pair graph rolled up
    to an unordered source x source matrix — (source_x, source_y,
    n_pairs, pair_share).  A curation team reads this to find copy
    FLOWS (mirror sites, syndication, cross-crawl overlap) before
    deciding per-source dedup policy; within-source rows (x == y) are
    internal duplication, cross rows are syndication.

    Plan: the pair set is the MEMOIZED exact-Jaccard graph (built once
    per session — this query adds two broadcast-able joins of the tiny
    (doc_id, source) projection onto dozens of pair rows plus one
    bounded |sources|^2 aggregate and a 1-row total attach.  Scale: swap
    the jaccard pair method for the LSH one with one argument, matrix
    stays |sources|^2."""
    pairs = near_dup_pairs(spark, sf_dir, "jaccard").select("doc_a", "doc_b")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    labeled = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
    )
    mat = labeled.groupBy("source_x", "source_y").agg(F.count("*").alias("n_pairs"))
    total = F.broadcast(mat.agg(F.sum("n_pairs").alias("n_total")))
    return mat.crossJoin(total).select(
        "source_x",
        "source_y",
        "n_pairs",
        round_half_up(F.col("n_pairs").cast("double") / F.col("n_total"), 6).alias(
            "pair_share"
        ),
    )


DEDUP_CROSS_SOURCE_SQL = None  # assigned below _JACCARD_CTES (import-order)


# Containment output threshold: at sf0.01 the planted sub-document pairs
# sit at containment >= 0.9 while incidental overlap tops out below 0.3 —
# 0.5 has a wide margin on both sides (no boundary instability).
CONTAINMENT_THRESHOLD = 0.5


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-CONTAINMENT pairs: C(a→b) = |S_a ∩ S_b| / |S_a| —
    the sub-document duplication detector Jaccard misses.  When a short
    document is wholly embedded in a much longer one, Jaccard is diluted
    by the big doc's size (|S_a∩S_b| / |S_a∪S_b| → small) but containment
    of the inner doc stays ≈ 1.  Pipelines use this to catch quote-farms,
    boilerplate wrappers, and page-of-pages aggregators that survive a
    symmetric near-dup pass.

    Output: (doc_inner, doc_outer, containment) — one DIRECTED row per
    qualifying ordered pair (both directions evaluated independently).

    Plan: the same inverted shingle index as ``dedup_near_jaccard`` —
    shared counts fall out of the shingle equi-join (never all-pairs),
    the two direction rows are a union over one joined pair set, and the
    division is integer/integer → one double op, bit-identical across
    engines.  Scale: identical posture to the Jaccard pass (candidate
    count bounded by Σ df(shingle)²; swap in the MinHash index when hot
    shingles explode it) — containment is a POST-join scoring change,
    not a new join.

    r17: per-doc sizes ride the index's carried ``n_sh`` column through
    the pair aggregate as ``max()`` (constant within each pair group) —
    the sizes aggregate and its two join-backs are gone, and the
    pre-partitioned index makes the self-join exchange-free.  The two
    direction rows come from ONE explode over the joined pair set: the
    old fwd/rev union duplicated the whole join+aggregate subtree
    because the two branches planned with different join orientations,
    defeating ReuseExchange."""
    sh = _doc_shingles(spark, sf_dir)  # memoized, already materialized
    a = sh.alias("a")
    b = sh.alias("b")
    both = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("shared"),
            F.max(F.col("a.n_sh")).alias("na"),
            F.max(F.col("b.n_sh")).alias("nb"),
        )
    )
    directed = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_inner"),
                    F.col("doc_b").alias("doc_outer"),
                    (F.col("shared") / F.col("na")).alias("c"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_inner"),
                    F.col("doc_a").alias("doc_outer"),
                    (F.col("shared") / F.col("nb")).alias("c"),
                ),
            )
        ).alias("x")
    ).select("x.*")
    return (
        directed.filter(F.col("c") >= CONTAINMENT_THRESHOLD)
        .select("doc_inner", "doc_outer", round_half_up(F.col("c"), 6).alias("containment"))
    )


# Shared CTE chain: shingle index → sizes → shared-count → qualifying
# pairs.  Used by BOTH the near-dup oracle and the cluster oracle (which
# builds its recursive closure on top of the same pair set).
_JACCARD_CTES = f"""toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 0))) AS i) g
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT doc_a, doc_b,
         shared * 1.0 / (sa.n_shingles + sb.n_shingles - shared) AS jac
  FROM shared
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE shared * 1.0 / (sa.n_shingles + sb.n_shingles - shared) >= {JACCARD_THRESHOLD}
)"""

DEDUP_NEAR_JACCARD_SQL = f"""
WITH {_JACCARD_CTES}
SELECT doc_a, doc_b, {sql_round_half_up('jac', 6)} AS jaccard
FROM pairs
"""

DEDUP_CONTAINMENT_SQL = f"""
WITH {_JACCARD_CTES}, directed AS (
  SELECT doc_a AS doc_inner, doc_b AS doc_outer,
         shared * 1.0 / sa.n_shingles AS c
  FROM shared JOIN sizes sa ON doc_a = sa.doc_id
  UNION ALL
  SELECT doc_b, doc_a, shared * 1.0 / sb.n_shingles
  FROM shared JOIN sizes sb ON doc_b = sb.doc_id
)
SELECT doc_inner, doc_outer, {sql_round_half_up('c', 6)} AS containment
FROM directed WHERE c >= {CONTAINMENT_THRESHOLD}
"""

# (defined here, BELOW _JACCARD_CTES — module-level f-strings evaluate at
# import, in file order; see the r6 NameError lesson)
DEDUP_CROSS_SOURCE_SQL = f"""
WITH {_JACCARD_CTES}, labeled AS (
  SELECT least(da.source, db.source) AS source_x,
         greatest(da.source, db.source) AS source_y
  FROM pairs
  JOIN documents da ON pairs.doc_a = da.doc_id
  JOIN documents db ON pairs.doc_b = db.doc_id
), mat AS (
  SELECT source_x, source_y, count(*) AS n_pairs
  FROM labeled GROUP BY source_x, source_y
)
SELECT source_x, source_y, n_pairs,
       {sql_round_half_up(
           "n_pairs * 1.0 / (SELECT sum(n_pairs) FROM mat)", 6)} AS pair_share
FROM mat
"""


# Window size for positional duplicated-span detection (tokens).  5-gram
# repeats are long enough to be non-accidental in natural text and short
# enough to catch boilerplate fragments; the classic ExactSubstr dedup
# (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
# Better") uses a 50-BYTE threshold — roughly this order in tokens.
SPAN_K = 5


def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional span-excision report — the ExactSubstr-style dedup the
    shingle-coverage audit (``dup_span_coverage``) only hints at: for
    each document, find every token POSITION covered by a word-5-gram
    that also appears in some OTHER document, merge covered positions
    into maximal spans, and report what excising those spans would
    remove: (doc_id, n_tokens, n_dup_positions, n_spans, longest_span,
    removed_frac).  A curation pipeline reads this to cut duplicated
    boilerplate OUT of long documents instead of dropping whole docs
    (the case where doc-level near-dup passes either over-delete or
    under-delete).

    Plan: tokenize once; 5-grams with their start position come from one
    ``transform`` over the token array (no window); cross-doc duplicated
    grams fall out of one gram aggregate (count distinct docs >= 2);
    covered positions explode from qualifying gram starts and dedupe on
    (doc, pos); maximal spans are the classic gaps-and-islands
    lag/running-sum pair over each doc's covered positions — the only
    per-doc window, partitioned by doc_id, linear rows.  Scale: the gram
    aggregate is the heavy shuffle, so grams travel as a PORTABLE 60-bit
    md5 key (8-byte long), never the 5-word string — the 10x smoke
    ratio dropped 7.5x -> ~3x with the narrow key, and because DuckDB
    computes the identical md5 key the oracle stays bit-identical
    (collisions, were any to occur, affect both engines equally).
    Everything after the gram agg is bounded by duplicated-position
    counts."""
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    t = tokens("text")
    gram_structs = F.when(
        F.size(t) >= F.lit(SPAN_K),
        F.transform(
            F.sequence(F.lit(1), F.size(t) - F.lit(SPAN_K - 1)),
            lambda i: F.struct(
                (i - F.lit(1)).cast("long").alias("pos"),
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(" ", F.slice(t, i, SPAN_K))), 1, 15
                    ),
                    16,
                    10,
                ).cast("long").alias("gkey"),
            ),
        ),
    )
    # OPTIMIZATION_r17: hash-partition the gram stream by gkey ONCE —
    # the dup aggregate (grouping key gkey) and the grams⋈dup probe both
    # require exactly this clustering, so the two consumers share a
    # single ReusedExchange instead of each re-running the md5 gram
    # derivation and shuffling separately.
    grams = (
        d.select("doc_id", F.explode(gram_structs).alias("g"))
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gkey").alias("gkey"))
        .repartition("gkey")
    )
    # "appears in >= 2 distinct docs" as min(doc) != max(doc) — the same
    # predicate without countDistinct's per-(gkey, doc) dedup phase.
    # OPTIMIZATION_r18 (guide §2.4): the flag is attached as a pair of
    # min/max WINDOW functions over the gkey clustering instead of a
    # separate aggregate joined back onto the gram stream — the old
    # shape sorted grams AND the dup key set for an SMJ re-association;
    # the window computes the same per-group extremes in the one sorted
    # pass the exchange already feeds.  Same qualifying rows (the
    # predicate is identical), integer output unchanged; 1.59 → 1.13 s
    # min-of-6 interleaved at sf0.1.
    from pyspark.sql import Window as W

    wg = W.partitionBy("gkey")
    hit = (
        grams.withColumn("d_lo", F.min("doc_id").over(wg))
        .withColumn("d_hi", F.max("doc_id").over(wg))
        .filter(F.col("d_lo") != F.col("d_hi"))
    )
    # ONE doc_id clustering for the whole tail (r17): the covered-
    # position distinct (doc_id, cpos), the gaps-and-islands windows and
    # both per-doc aggregates all accept hash(doc_id) — before, the
    # distinct shuffled on (doc_id, cpos) and the window re-shuffled its
    # output on doc_id.
    cov = (
        hit.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(SPAN_K - 1))
            ).alias("cpos"),
        )
        .repartition("doc_id")
        .distinct()
    )

    w = W.partitionBy("doc_id").orderBy("cpos")
    spans = cov.withColumn(
        "brk",
        F.when(F.col("cpos") - F.lag("cpos").over(w) == 1, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn(
        "span_id",
        F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    per_span = spans.groupBy("doc_id", "span_id").agg(F.count("*").alias("span_len"))
    per_doc = per_span.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum("span_len").alias("n_dup_positions"),
        F.max("span_len").alias("longest_span"),
    )
    nt = d.select("doc_id", F.size(t).cast("long").alias("n_tokens"))
    frac = F.when(
        F.col("n_tokens") > 0,
        F.coalesce(F.col("n_dup_positions"), F.lit(0)).cast("double")
        / F.col("n_tokens"),
    ).otherwise(F.lit(0.0))
    return nt.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_dup_positions"), F.lit(0)).cast("long").alias("n_dup_positions"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.col("longest_span"), F.lit(0)).cast("long").alias("longest_span"),
        round_half_up(frac, 6).alias("removed_frac"),
    )


def _span_gram_concat_sql() -> str:
    parts = " || ' ' || ".join(f"t[i + {j}]" for j in range(SPAN_K))
    return parts


DEDUP_SPAN_REMOVAL_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
), grams AS (
  SELECT doc_id, (i - 1)::BIGINT AS pos,
         ('0x' || substr(md5({_span_gram_concat_sql()}), 1, 15))::BIGINT AS gkey
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, greatest(len(t) - {SPAN_K - 1}, 0))) AS i) g
), dup AS (
  SELECT gkey FROM grams GROUP BY gkey HAVING count(DISTINCT doc_id) >= 2
), cov AS (
  SELECT DISTINCT g.doc_id, g.pos + d.k AS cpos
  FROM grams g
  JOIN dup USING (gkey),
       LATERAL (SELECT unnest(generate_series(0, {SPAN_K - 1})) AS k) d
), runs AS (
  SELECT doc_id, cpos,
         CASE WHEN cpos - lag(cpos) OVER (PARTITION BY doc_id ORDER BY cpos) = 1
              THEN 0 ELSE 1 END AS brk
  FROM cov
), spans AS (
  SELECT doc_id, cpos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY cpos) AS span_id
  FROM runs
), per_span AS (
  SELECT doc_id, span_id, count(*) AS span_len FROM spans GROUP BY doc_id, span_id
), per_doc AS (
  SELECT doc_id, count(*) AS n_spans, sum(span_len) AS n_dup_positions,
         max(span_len) AS longest_span
  FROM per_span GROUP BY doc_id
), nt AS (
  SELECT doc_id, len(t)::BIGINT AS n_tokens FROM toks
)
SELECT n.doc_id, n.n_tokens,
       COALESCE(p.n_dup_positions, 0)::BIGINT AS n_dup_positions,
       COALESCE(p.n_spans, 0)::BIGINT AS n_spans,
       COALESCE(p.longest_span, 0)::BIGINT AS longest_span,
       {sql_round_half_up(
           "CASE WHEN n.n_tokens > 0"
           " THEN COALESCE(p.n_dup_positions, 0) * 1.0 / n.n_tokens ELSE 0.0 END",
           6,
       )} AS removed_frac
FROM nt n LEFT JOIN per_doc p USING (doc_id)
"""


def minhash_signatures(sh: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """(doc_id, sig: array<long>) — MinHash signature per document.

    One explode is already done (input is (doc_id, shingle)); the
    signature is a single groupBy with ``num_hashes`` min-aggregates —
    map-side partial min makes the shuffle tiny.  The variable-length
    shingle STRING is hashed exactly once (``h0``); the per-function
    hashes re-mix the resulting fixed-width long, so per-row hash cost is
    1 string hash + num_hashes long mixes instead of num_hashes string
    hashes."""
    based = sh.withColumn("h0", F.xxhash64(F.col("shingle")))
    aggs = [F.min(F.xxhash64(F.lit(i), F.col("h0"))).alias(f"h{i}") for i in range(num_hashes)]
    wide = based.groupBy("doc_id").agg(*aggs)
    return wide.select("doc_id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_signature_column(shingles_col: str, num_hashes: int = NUM_HASHES) -> Column:
    """Per-ROW MinHash signature expression over a shingle-ARRAY column —
    no explode, no shuffle: sig[i] = min over shingles of
    xxhash64(i, xxhash64(shingle)).

    Identical values to ``minhash_signatures`` (same base hash h0, same
    per-function remix, min over the same distinct-shingle set — the
    groupBy form aggregates the exploded rows, this folds the array), so
    batch and streaming signatures can never drift; a parity test holds
    the two forms equal.  This is the STREAMING form: a document arrives
    whole in one row, so its signature is a map-only projection —
    the per-micro-batch plan needs no stateful aggregation."""
    # hash each distinct shingle string once (h0), then remix per hash
    # function — the same two-level scheme as the groupBy form.  The i
    # index comes from sequence(), whose INT elements hash identically
    # to the groupBy form's int literals (xxhash64 is type-sensitive;
    # a long index here would silently change every signature).
    hs = f"transform(array_distinct({shingles_col}), s -> xxhash64(s))"
    return F.expr(
        f"transform(sequence(0, {num_hashes - 1}), i -> "
        f"array_min(transform({hs}, h -> xxhash64(i, h))))"
    )


def _lsh_pairs(sigs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) from (doc_id, sig) MinHash signatures
    of any hash family: explode into BANDS (band_id, band_hash) keys →
    self-join per bucket (only same-bucket docs meet; no all-pairs) →
    estimate Jaccard as the fraction of equal signature positions →
    threshold.

    Band key = xxhash64 over the band's signature longs DIRECTLY
    (multi-arg form): equal slices hash equal, so every pair sharing a
    whole band meets, and the estimate + threshold decide the output
    (a rare 64-bit key collision only adds a candidate the threshold
    then judges).  The per-doc key build is 16 long hashes instead of
    16 string concats over 64 casts (measured ~2.4x on the whole query
    at sf0.1)."""
    band_hashes = F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[F.col("sig").getItem(b * ROWS_PER_BAND + r) for r in range(ROWS_PER_BAND)],
            )
            for b in range(BANDS)
        ]
    )
    banded = sigs.select("doc_id", "sig", F.posexplode(band_hashes).alias("band_id", "band_hash"))
    a = banded.alias("a")
    b = banded.alias("b")
    # estimate + threshold INSIDE the join stage (deterministic, so equal
    # across a pair's duplicate bucket collisions); the dedupe then
    # shuffles only surviving scalar rows, never the signature arrays.
    est = F.size(
        F.expr("filter(zip_with(a.sig, b.sig, (x, y) -> x = y), v -> v)")
    ) / F.lit(float(NUM_HASHES))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            round_half_up(est, 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _minhash_lsh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup — the 100 TB path: xxhash64
    signatures into the shared :func:`_lsh_pairs` tail.  Fully
    deterministic (xxhash64 is seeded, data-dependent, engine-stable)
    but DuckDB lacks xxhash64, so the driver applies the rows-only
    check; tests/test_llm_pipeline.py verifies recall against the
    exact-Jaccard twin instead."""
    return _lsh_pairs(minhash_signatures(_doc_shingles(spark, sf_dir)))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the memoized banded-LSH pair set."""
    return near_dup_pairs(spark, sf_dir, "minhash")


# ---------------------------------------------------------------------------
# Oracle-auditable MinHash twin (md5-derived hash family)
#
# The production MinHash path above hashes with xxhash64 — Spark-only, so
# the driver can apply only a rows-only check.  This twin replaces the hash
# family with one BOTH engines compute bit-identically:
#   h0  = first 15 hex chars of md5(shingle) parsed base-16 (60-bit, >= 0)
#   h_i = (A_i * (h0 % P) + B_i) % P            P = 2^31 - 1 (Mersenne)
# A_i/B_i are fixed constants from a seeded PRNG, embedded in both the
# Spark expressions and the DuckDB SQL.  Only the signature differs: it
# feeds the production banding → bucket equi-join → position-agreement
# estimate tail (``_lsh_pairs``, never all-pairs), so the driver's
# hash-match on this twin checks that tail itself.  md5 is ~3x the per-shingle
# hash cost of xxhash64 — the xxhash64 form stays the 100 TB path.
# ---------------------------------------------------------------------------

MD5_MINHASH_P = 2_147_483_647  # 2^31 - 1


def _md5_minhash_coeffs(num_hashes: int = NUM_HASHES) -> list[tuple[int, int]]:
    import random

    rng = random.Random(0x5EED_2026)
    return [
        (rng.randrange(1, MD5_MINHASH_P), rng.randrange(0, MD5_MINHASH_P))
        for _ in range(num_hashes)
    ]


MD5_MINHASH_COEFFS = _md5_minhash_coeffs()


def _minhash_lsh_md5_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-auditable MinHash+LSH: engine-portable md5 signatures into
    the same :func:`_lsh_pairs` tail as ``_minhash_lsh_plan``.  The
    oracle's ``concat_ws`` band keys meet on exactly the equal slices
    the xxhash64 keys meet on, so the thresholded pair sets agree."""
    p = MD5_MINHASH_P
    sh = _doc_shingles(spark, sf_dir)
    h0p = (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("long")
        % F.lit(p)
    )
    based = sh.select("doc_id", h0p.alias("h0p"))
    aggs = [
        F.min((F.lit(a) * F.col("h0p") + F.lit(b)) % F.lit(p)).alias(f"h{i}")
        for i, (a, b) in enumerate(MD5_MINHASH_COEFFS)
    ]
    wide = based.groupBy("doc_id").agg(*aggs)
    return _lsh_pairs(
        wide.select("doc_id", F.array(*[f"h{i}" for i in range(NUM_HASHES)]).alias("sig"))
    )


def dedup_minhash_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the oracle-auditable md5 MinHash+LSH pair set
    (memoized build-once index like its xxhash64 sibling; the build cost
    is itemized in bench.py's index_build)."""
    return near_dup_pairs(spark, sf_dir, "minhash_md5")


def _md5_minhash_ctes() -> str:
    """The shared CTE chain ending in ``mpairs`` (the qualifying md5-LSH
    pair set) — used by BOTH the pair oracle and the cluster oracle
    (which closes it transitively with a recursive CTE, mirroring the
    exact-Jaccard pattern)."""
    p = MD5_MINHASH_P
    sig_cols = ",\n         ".join(
        f"min(({a} * h0p + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(MD5_MINHASH_COEFFS)
    )
    band_arms = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_id, "
        f"concat_ws('-', h{b * ROWS_PER_BAND}, h{b * ROWS_PER_BAND + 1}, "
        f"h{b * ROWS_PER_BAND + 2}, h{b * ROWS_PER_BAND + 3}) AS band_key "
        "FROM sig"
        for b in range(BANDS)
    )
    eq_terms = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
        for i in range(NUM_HASHES)
    )
    return f"""toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 0))) AS i) g
), h AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {p} AS h0p FROM sh
), sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM h GROUP BY doc_id
), bands AS (
{band_arms}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
), est AS (
  SELECT doc_a, doc_b, ({eq_terms}) / {float(NUM_HASHES)} AS e
  FROM cand
  JOIN sig sa ON cand.doc_a = sa.doc_id
  JOIN sig sb ON cand.doc_b = sb.doc_id
), mpairs AS (
  SELECT doc_a, doc_b, e FROM est WHERE e >= {JACCARD_THRESHOLD}
)"""


DEDUP_MINHASH_LSH_MD5_SQL = f"""
WITH {_md5_minhash_ctes()}
SELECT doc_a, doc_b, {sql_round_half_up('e', 6)} AS est_jaccard
FROM mpairs
"""

DEDUP_CLUSTERS_LSH_MD5_SQL = f"""
WITH RECURSIVE {_md5_minhash_ctes()}, und AS (
  SELECT doc_a AS a, doc_b AS b FROM mpairs
  UNION ALL
  SELECT doc_b, doc_a FROM mpairs
), reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT a AS doc_id,
       least(min(b), a) AS cluster_id,
       least(min(b), a) = a AS is_survivor
FROM reach GROUP BY a
"""


def dedup_clusters_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-auditable clusters over the md5 MinHash-LSH pair set —
    the full 100 TB dedup pipeline (banded LSH candidates → CC labeling
    → survivor pick) with a DuckDB hash-match end to end; the xxhash64
    ``dedup_clusters_lsh`` is the same plan with the cheaper
    production hash."""
    return dedup_clusters(spark, sf_dir, method="minhash_md5")


# SWAR packing for the SimHash aggregate: 16 aggregates, each carrying
# FOUR per-bit counts in independent 16-bit lanes of one long.
_SIMHASH_LANE_BITS = 16
_SIMHASH_LANE_MASK = 0x0001_0001_0001_0001  # one counter LSB per lane


def simhash(
    docs_tokens: DataFrame, num_bits: int = SIMHASH_BITS, h_col: str | None = None
) -> DataFrame:
    """(doc_id, simhash: long) from (doc_id, token, cnt) rows.

    ``h_col`` names a precomputed per-token hash column (any long whose
    low ``num_bits`` bits are the fingerprint domain — the md5 twin
    passes a 60-bit base-16-parsed digest); default hashes with
    xxhash64.  ``num_bits`` <= 64; bits above it are never set.

    Classic Charikar SimHash, with the per-bit majority computed through
    SWAR-packed aggregates: bit ``b`` of the fingerprint is set iff the
    cnt-weighted majority of token hashes has bit ``b`` set —
    ``2*set_b > total`` is algebraically the textbook ``sum(±cnt) > 0``
    (weight = set_b - (total - set_b)).  ``set_b`` for bits
    ``k, k+16, k+32, k+48`` accumulates in the four 16-bit lanes of ONE
    long aggregate ``sum(((h >> k) & 0x0001000100010001) * cnt)``, so
    the hash aggregate carries 17 accumulator columns instead of 65 and
    each row costs one shift+and+multiply per aggregate instead of four
    sign conditionals (halved dedup_simhash wall time at sf0.1).  Lanes
    cannot carry into each other while ``sum(cnt)`` per document stays
    below 2^16; but the TOP lane occupies bits 48-63 of the signed long,
    so its accumulator spills into the sign bit once ``sum(cnt)`` reaches
    2^15 (32k tokens).  With ``spark.sql.ansi.enabled=false`` (this
    engine's setting) the sum wraps two's-complement and the subsequent
    ``& 0xFFFF`` lane extraction still recovers the exact lane value, so
    results stay correct up to 2^16; under ANSI mode the overflow would
    THROW at 2^15 instead.  Chunk pathological >32k-token documents
    upstream if ANSI is ever enabled."""
    hashed = (
        docs_tokens
        if h_col is not None
        else docs_tokens.withColumn("h", F.xxhash64(F.col("token")))
    )
    hname = h_col or "h"
    aggs = [
        F.sum(
            F.shiftright(F.col(hname), k).bitwiseAND(F.lit(_SIMHASH_LANE_MASK))
            * F.col("cnt")
        ).alias(f"p{k}")
        for k in range(_SIMHASH_LANE_BITS)
    ]
    wide = hashed.groupBy("doc_id").agg(F.sum("cnt").alias("tot"), *aggs)

    def n_set(b: int) -> Column:
        k, lane = b % _SIMHASH_LANE_BITS, b // _SIMHASH_LANE_BITS
        return F.shiftright(F.col(f"p{k}"), _SIMHASH_LANE_BITS * lane).bitwiseAND(
            F.lit(0xFFFF)
        )

    packed = reduce(
        lambda acc, bit: acc.bitwiseOR(
            F.when(
                n_set(bit) * 2 > F.col("tot"),
                F.shiftleft(F.lit(1).cast("long"), bit),
            ).otherwise(F.lit(0).cast("long"))
        ),
        range(num_bits),
        F.lit(0).cast("long"),
    )
    return wide.select("doc_id", packed.alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: block-pigeonhole candidates + exact Hamming.

    The 64-bit fingerprint splits into 4 x 16-bit blocks; any pair with
    Hamming distance <= 3 must agree on at least one whole block
    (pigeonhole), so candidates come from 4 equality self-joins on
    (block_id, block_value) — never all-pairs.  Deterministic; rows-only
    driver check (no xxhash64 in DuckDB).  The pair set is MEMOIZED and
    materialized per (session, sf_dir) — the same build-once index
    policy as the MinHash family (bench itemizes the build as
    index_build.pairs_simhash)."""

    def build() -> DataFrame:
        docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
        # token INSTANCES with cnt=1, not a pre-counted (doc, token) frame:
        # sum_instances(±1) == sum_distinct(cnt·±1), so skipping the
        # (doc_id, token) count drops a full shuffle of the token stream —
        # the 64 weight aggregates partial-combine map-side either way, and
        # the one remaining shuffle carries docs x 65 partial rows only.
        toks = (
            docs.select("doc_id", F.explode(tokens("text")).alias("token"))
            .withColumn("cnt", F.lit(1).cast("long"))
        )
        # materialize the (doc_id, simhash) table before the block self-join:
        # both join sides otherwise re-run the whole tokenize+64-weight
        # fingerprint pipeline (the same build-the-index-once pattern as the
        # LSH/IVF/shingle indexes; |docs| rows of 2 longs)
        fp = simhash(toks).localCheckpoint(eager=False)
        return _simhash_block_pairs(fp, SIMHASH_BITS).localCheckpoint(eager=True)

    return build_once(spark, sf_dir, ("near_dup_pairs", "simhash"), build)


def _simhash_block_pairs(fp: DataFrame, num_bits: int) -> DataFrame:
    """Pigeonhole candidate join + exact Hamming over a (doc_id,
    simhash) fingerprint table: split ``num_bits`` into SIMHASH_BLOCKS
    equal blocks; Hamming <= SIMHASH_MAX_HAMMING guarantees at least one
    whole equal block, so candidates come from equality self-joins on
    (block_id, block_val) — never all-pairs."""
    block_width = num_bits // SIMHASH_BLOCKS
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("block_id"),
                F.shiftright(F.col("simhash"), i * block_width)
                .bitwiseAND(F.lit((1 << block_width) - 1))
                .alias("block_val"),
            )
            for i in range(SIMHASH_BLOCKS)
        ]
    )
    keyed = fp.select("doc_id", "simhash", F.explode(blocks).alias("b")).select(
        "doc_id", "simhash", F.col("b.block_id").alias("block_id"), F.col("b.block_val").alias("block_val")
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming <= SIMHASH_MAX_HAMMING)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


# 60-bit md5 SimHash twin: 15 hex chars of md5 parse to a POSITIVE
# 60-bit BIGINT on both engines (16 would overflow DuckDB's signed
# parse), so the whole fingerprint pipeline — per-bit majorities,
# packing, 4x15-bit pigeonhole blocks, xor+bit_count Hamming — is
# engine-portable and the driver gets a full hash-match for the SimHash
# family (the 64-bit xxhash64 form above stays the production path;
# same plan shape, cheaper hash).
SIMHASH_MD5_BITS = 60


def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-auditable SimHash near-dup twin (md5-derived 60-bit
    hashes): identical plan shape to ``dedup_simhash`` — SWAR-packed
    majority aggregate, block-pigeonhole candidates, exact Hamming.
    Memoized + materialized per (session, sf_dir) like its sibling."""

    def build() -> DataFrame:
        docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
        toks = (
            docs.select("doc_id", F.explode(tokens("text")).alias("token"))
            .withColumn("cnt", F.lit(1).cast("long"))
            .withColumn(
                "hm", F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("long")
            )
        )
        fp = simhash(toks, num_bits=SIMHASH_MD5_BITS, h_col="hm").localCheckpoint(eager=False)
        return _simhash_block_pairs(fp, SIMHASH_MD5_BITS).localCheckpoint(eager=True)

    return build_once(spark, sf_dir, ("near_dup_pairs", "simhash_md5"), build)


def _simhash_md5_sql() -> str:
    nb = SIMHASH_MD5_BITS
    width = nb // SIMHASH_BLOCKS
    set_cols = ",\n         ".join(
        f"sum((hm >> {b}) & 1)::BIGINT AS s{b}" for b in range(nb)
    )
    fp_terms = " + ".join(
        f"(CASE WHEN 2 * s{b} > tot THEN {1 << b} ELSE 0 END)" for b in range(nb)
    )
    block_arms = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {i} AS block_id, "
        f"(simhash >> {i * width}) & {(1 << width) - 1} AS block_val FROM fp"
        for i in range(SIMHASH_BLOCKS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS hm FROM toks
), wide AS (
  SELECT doc_id, count(*)::BIGINT AS tot,
         {set_cols}
  FROM h GROUP BY doc_id
), fp AS (
  SELECT doc_id, ({fp_terms})::BIGINT AS simhash FROM wide
), blocks AS (
{block_arms}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM blocks a
JOIN blocks b ON a.block_id = b.block_id AND a.block_val = b.block_val
            AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


DEDUP_SIMHASH_MD5_SQL = _simhash_md5_sql()


COSINE_DUP_THRESHOLD = 0.95
GRID_DIMS = 2  # blocking dims; 3^GRID_DIMS probe cells per vector
PRUNE_DIMS = 8  # scalar-prefilter dims (lossless; safe if dim < PRUNE_DIMS)

# Preflight bound for embedding_dup_pairs (DESIGN lesson 37, VERDICT r13
# #2): grid blocking is measured QUADRATIC on isotropic corpora
# (SCALE_GRID.json: 9,936x candidates on a 100x corpus), so the engine
# must refuse the join when the cell-histogram estimate shows it has
# degenerated.  Small corpora may brute-force within a fixed absolute
# budget (the repo's absolute-budget idiom; sf0.1's near-all-pairs
# 1.97M candidates stay under it by design — the exact baseline keeps
# running at test SFs); past that, candidates must stay O(n).
GRID_MAX_CANDIDATE_FACTOR = 64  # c in the c*n linear bound
GRID_MAX_CANDIDATES_ABS = 4_000_000  # small-corpus brute-force budget


class GridBlockingDegenerateError(RuntimeError):
    """Grid blocking degenerated toward all-pairs on this corpus (the
    cell-histogram preflight estimate exceeded the candidate bound).
    Raised BEFORE the candidate join runs — the estimate costs one
    histogram aggregation, the degenerate join costs hours at scale
    (a 100x isotropic corpus measured ~2e10 candidate rows,
    SCALE_GRID.json).  Routes: ``dedup_semantic_semdedup`` (corpus-
    scaled K, measured linear) or the ANN family
    (``similarity_ann_lsh`` / ``similarity_ann_ivf`` /
    ``similarity_ann_ivfpq``) — exact grid near-dup is sub-quadratic
    only on anisotropic/clustered corpora."""


def grid_candidate_estimate(
    v: DataFrame, threshold: float = COSINE_DUP_THRESHOLD, grid_dims: int = GRID_DIMS
) -> tuple[int, int]:
    """EXACT candidate count of :func:`_grid_candidate_join` computed
    from the cell histogram WITHOUT materializing a single pair
    (DESIGN lesson 37(a): the join is a pure cell equi-join, so its
    output cardinality is histogram arithmetic — same-cell C(m,2) plus
    sum over positive offsets of m_c * m_{c+o}).  Returns
    ``(n_vectors, candidate_estimate)``.

    Plan: ONE corpus scan into a hash agg keyed by the cell tuple
    (|occupied cells| rows, distributed, persisted for the duration of
    the call so the 1-row total and the offset self-join both read the
    cached histogram instead of re-aggregating the corpus), then a
    histogram self-join on the exploded positive-offset cells —
    everything downstream of the histogram is bounded by cell count,
    never by pair count.  Sums run in double (overflow-safe even when
    the estimate is astronomically quadratic — its only consumer is a
    bound comparison; tests pin estimate == join count at small n where
    doubles are exact)."""
    import itertools

    from mini_hadoop_spark.functions.vectors import norm

    d = float((2.0 - 2.0 * threshold) ** 0.5)
    u = F.transform(F.col("e"), lambda x: x / F.col("nrm"))
    hist = (
        v.select("e", norm(F.col("e")).alias("nrm"))
        .select(u.alias("u"))
        .select(
            *[
                F.floor(F.col("u").getItem(i) / F.lit(d)).cast("long").alias(f"c{i}")
                for i in range(grid_dims)
            ]
        )
        .groupBy(*[f"c{i}" for i in range(grid_dims)])
        .agg(F.count("*").alias("n_cell"))
        .persist()
    )
    try:
        base = hist.agg(
            F.sum("n_cell").alias("n"),
            F.sum(
                F.col("n_cell").cast("double") * (F.col("n_cell") - F.lit(1)) / F.lit(2.0)
            ).alias("same"),
        ).collect()[0]
        pos_offsets = [
            o
            for o in itertools.product((-1, 0, 1), repeat=grid_dims)
            if o > tuple([0] * grid_dims)
        ]
        home = F.concat_ws(
            ",", *[F.col(f"c{i}").cast("string") for i in range(grid_dims)]
        )
        probes = F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ",",
                        *[
                            (F.col(f"c{i}") + F.lit(o[i])).cast("string")
                            for i in range(grid_dims)
                        ],
                    )
                    for o in pos_offsets
                ]
            )
        )
        cross_row = (
            hist.select(F.col("n_cell").alias("na"), probes.alias("cell"))
            .join(hist.select(F.col("n_cell").alias("nb"), home.alias("cell")), "cell")
            # na cast BEFORE the multiply so the per-row product runs in
            # double too (ADVICE r14: a long*long product wraps silently
            # on exactly the degenerate corpora this guard exists for;
            # casting only the SUM would still overflow per-row)
            .agg(F.sum(F.col("na").cast("double") * F.col("nb")).alias("x"))
            .collect()[0]
        )
    finally:
        hist.unpersist(blocking=False)
    n = int(base["n"] or 0)
    return n, int(round((base["same"] or 0.0) + float(cross_row["x"] or 0.0)))


def _grid_candidate_join(
    v: DataFrame, threshold: float, grid_dims: int
) -> DataFrame:
    """The blocking half of :func:`embedding_dup_pairs`: the oriented
    cell-join candidate set (each qualifying pair generated exactly
    once), BEFORE the scalar prefilter and exact-cosine verify.  Split
    out so the scale smoke (tools/scale_smoke.py --grid-family) can
    measure the candidate volume — the quantity grid blocking must keep
    ~linear in corpus size — without running the verify stage."""
    import itertools

    from mini_hadoop_spark.functions.vectors import norm

    d = float((2.0 - 2.0 * threshold) ** 0.5)
    # per-vector norm computed ONCE (the per-pair cosine is then a single
    # fold: dot / na / nb — same IEEE op order as the oracle's
    # dot/sqrt/sqrt, with the sqrt hoisted per vector)
    u = F.transform(F.col("e"), lambda x: x / F.col("nrm"))
    keyed = (
        v.select("vec_id", "e", norm(F.col("e")).alias("nrm"))
        .select("vec_id", "e", "nrm", u.alias("u"))
        .select(
            "vec_id", "e", "nrm",
            *[
                F.floor(F.col("u").getItem(i) / F.lit(d)).cast("long").alias(f"c{i}")
                for i in range(grid_dims)
            ],
            *[
                # coalesce: a short vector's missing component contributes 0
                # to the projected distance — still a valid lower bound
                F.coalesce(F.col("u").getItem(i), F.lit(0.0)).alias(f"p{i}")
                for i in range(PRUNE_DIMS)
            ],
        )
    )

    # Each qualifying pair's cells differ by at most 1 per dim, i.e. by
    # exactly one offset δ.  Side A probes only the home cell plus the
    # lexicographically-POSITIVE offsets; same-cell pairs are oriented by
    # vec_id.  Every qualifying pair is therefore generated EXACTLY once —
    # half the candidates and no dropDuplicates shuffle at all.
    pos_offsets = [
        o for o in itertools.product((-1, 0, 1), repeat=grid_dims) if o > tuple([0] * grid_dims)
    ]
    home = F.concat_ws(",", *[F.col(f"c{i}").cast("string") for i in range(grid_dims)])

    def probe_cell(o):
        return F.concat_ws(
            ",", *[(F.col(f"c{i}") + F.lit(o[i])).cast("string") for i in range(grid_dims)]
        )

    probes = F.explode(
        F.array(
            F.struct(home.alias("cell"), F.lit(True).alias("same_cell")),
            *[F.struct(probe_cell(o).alias("cell"), F.lit(False).alias("same_cell")) for o in pos_offsets],
        )
    )
    a = keyed.select(
        F.col("vec_id").alias("ia"), F.col("e").alias("ea"), F.col("nrm").alias("na"),
        *[F.col(f"p{i}").alias(f"pa{i}") for i in range(PRUNE_DIMS)],
        probes.alias("p"),
    ).select(
        "ia", "ea", "na", *[f"pa{i}" for i in range(PRUNE_DIMS)],
        F.col("p.cell").alias("cell"), F.col("p.same_cell").alias("same_cell"),
    )
    b = keyed.select(
        F.col("vec_id").alias("ib"), F.col("e").alias("eb"), F.col("nrm").alias("nb"),
        *[F.col(f"p{i}").alias(f"pb{i}") for i in range(PRUNE_DIMS)],
        home.alias("cell"),
    )
    return a.join(b, ["cell"]).filter(
        (~F.col("same_cell") & (F.col("ia") != F.col("ib"))) | (F.col("ia") < F.col("ib"))
    )


def embedding_dup_pairs(
    v: DataFrame,
    threshold: float = COSINE_DUP_THRESHOLD,
    grid_dims: int = GRID_DIMS,
    preflight: bool = True,
    max_candidates: int | None = None,
    precomputed_estimate: tuple[int, int] | None = None,
) -> DataFrame:
    """EXACT embedding near-dup pairs (cosine >= threshold) via lossless
    grid blocking — all-pairs-free with zero false negatives.

    For unit-normalized vectors u, cos(a,b) >= t  ⟺  ||ua-ub|| <= d
    where d = sqrt(2-2t); then |ua_i - ub_i| <= d for EVERY component i,
    so a qualifying pair's cells (floor(u_i/d)) differ by at most 1 per
    blocked dim.  Side A explodes into its 3^grid_dims neighbor cells and
    equi-joins side B's home cell (:func:`_grid_candidate_join`): a
    superset of all qualifying pairs by construction, verified with the
    exact cosine.

    Input: (vec_id, e: array<double>).  Scale: one explode (x3^dims), one
    equi-join shuffle on the cell key, no cartesian — but the PRUNING
    POWER is corpus-spread-derived, not corpus-size-derived: the
    lossless cell width equals d (threshold-fixed), so blocking
    discriminates only where some blockable coordinate's spread exceeds
    d.  On ISOTROPIC high-dim corpora (per-coordinate std << d — this
    synthetic corpus measures std ≈ 0.13 vs d ≈ 0.316) every coordinate
    spans ~1 cell and the candidate set degrades toward all-pairs:
    measured QUADRATIC (SCALE_GRID.json: 9936x candidates on a 100x
    corpus; raising grid_dims doesn't help — 9914x at dims+1 — and a
    PCA-projected basis can't either, top projected std ≈ 0.14).  Exact
    near-dup join is sub-quadratic only on anisotropic/clustered
    corpora (real embedding corpora concentrate in cones; raise
    ``grid_dims`` there for 3^k-probe tighter buckets); on spread-less
    corpora use the registered approximate scale path — SemDeDup
    (corpus-scaled K, measured linear) or the ANN family.

    PREFLIGHT (r14, VERDICT r13 #2 / DESIGN lesson 37): before the
    candidate join runs, :func:`grid_candidate_estimate` computes the
    EXACT candidate count from the cell histogram (pennies: one keyed
    agg + a cell-count-bounded self-join).  If it exceeds
    ``max_candidates`` (default ``max(GRID_MAX_CANDIDATES_ABS,
    GRID_MAX_CANDIDATE_FACTOR * n)``) the operator raises
    :class:`GridBlockingDegenerateError` with the measured numbers and
    the SemDeDup/ANN routes — a degenerate 100x corpus now fails in
    seconds instead of running a ~2e10-row join for hours.  Pass
    ``preflight=False`` to run unguarded (the scale smoke's measured
    negative result does this deliberately)."""
    from mini_hadoop_spark.functions.vectors import dot

    if preflight:
        n, est = precomputed_estimate or grid_candidate_estimate(
            v, threshold, grid_dims
        )
        bound = (
            max_candidates
            if max_candidates is not None
            else max(GRID_MAX_CANDIDATES_ABS, GRID_MAX_CANDIDATE_FACTOR * n)
        )
        if est > bound:
            raise GridBlockingDegenerateError(
                f"grid blocking is degenerate on this corpus: estimated "
                f"{est:,} candidate pairs for n={n:,} vectors (bound "
                f"{bound:,} = max(abs {GRID_MAX_CANDIDATES_ABS:,}, "
                f"{GRID_MAX_CANDIDATE_FACTOR}*n)); the corpus has too "
                f"little per-coordinate spread for threshold-width cells "
                f"(d={float((2.0 - 2.0 * threshold) ** 0.5):.3f}).  Use "
                f"dedup_semantic_semdedup (corpus-scaled K, measured "
                f"linear) or the ANN family (similarity_ann_lsh / "
                f"similarity_ann_ivf / similarity_ann_ivfpq), or raise "
                f"grid_dims on anisotropic corpora."
            )

    d = float((2.0 - 2.0 * threshold) ** 0.5)
    candidates = _grid_candidate_join(v, threshold, grid_dims)

    # Lossless scalar prefilter: cos >= t ⟺ ||ua-ub||² <= d², and a
    # coordinate-subset projection only SHRINKS the squared distance, so
    # Σ_{i<PRUNE_DIMS}(ua_i-ub_i)² > d² safely rejects.  Plain double
    # columns — runs in whole-stage codegen; the interpreted array fold
    # below only ever sees the survivors.
    proj_dist2 = reduce(
        lambda acc, i: acc + (F.col(f"pa{i}") - F.col(f"pb{i}")) * (F.col(f"pa{i}") - F.col(f"pb{i}")),
        range(PRUNE_DIMS),
        F.lit(0.0),
    )
    cos = dot(F.col("ea"), F.col("eb")) / F.col("na") / F.col("nb")
    return (
        candidates
        # tiny epsilon: the bound holds in real arithmetic; don't let a
        # last-ulp float wobble reject an exactly-at-threshold pair
        .filter(proj_dist2 <= F.lit(d * d * (1.0 + 1e-9) + 1e-12))
        .filter(cos >= threshold)
        .select(
            F.least("ia", "ib").alias("vec_a"),
            F.greatest("ia", "ib").alias("vec_b"),
            round_half_up(cos, 6).alias("cos_sim"),
        )
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over the ``embeddings`` table — exact
    pairs at cosine >= 0.95 through the grid-blocked plan (no all-pairs;
    the DuckDB oracle brute-forces the same answer).  The synthetic
    corpus has no planted embedding dups (max pairwise cosine ≈ 0.51), so
    the result is empty at test SFs; tests/test_llm_pipeline.py plants
    duplicates and asserts parity with brute force.

    The preflight estimate (see :func:`embedding_dup_pairs`) is
    memoized per (session, corpus) — a fixed corpus's cell histogram
    never changes, so the guard's two tiny jobs run once, not per
    invocation; dropped by ``session.clear`` like every other
    session-scoped artifact."""
    emb = spread_small_scan(load_table(spark, sf_dir, "embeddings"))
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    estimate = build_once(
        spark,
        sf_dir,
        ("grid_estimate", COSINE_DUP_THRESHOLD, GRID_DIMS),
        lambda: grid_candidate_estimate(v, COSINE_DUP_THRESHOLD, GRID_DIMS),
    )
    return embedding_dup_pairs(v, precomputed_estimate=estimate)


DEDUP_EMBEDDING_COSINE_SQL = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_dot_product(a.e, b.e)
           / sqrt(list_dot_product(a.e, a.e))
           / sqrt(list_dot_product(b.e, b.e)) AS cos
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, {{round6}} AS cos_sim
FROM pairs WHERE cos >= {COSINE_DUP_THRESHOLD}
""".format(round6=sql_round_half_up("cos", 6))


# HashMin needs diameter+1 iterations; 50 covers any plausible near-dup
# chain (a 50-link versioned-document chain) while still bounding a
# pathological input.  Callers with wider graphs pass their own limit.
CC_MAX_ITER = 50
CC_CHECKPOINT_EVERY = 5  # truncate lineage every N iterations


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = CC_MAX_ITER,
    algorithm: str = "hashmin",
) -> DataFrame:
    """Connected-component labels ``(id, label)``: every vertex's label
    converges to the minimum vertex id of its component.

    Two algorithms:

    * ``"hashmin"`` (default) — label propagation, O(diameter)
      iterations of one equi-join + one min-aggregate.  Right for
      near-dup graphs, whose clusters have tiny diameters.
    * ``"two-phase"`` — the large-star/small-star alternation (Kiveris
      et al., "Connected Components in MapReduce and Beyond", SoCC'14):
      O(log² n) rounds regardless of diameter, each round two
      groupBy+join passes over the shrinking edge set.  Right for
      long-chain / high-diameter graphs where HashMin's per-hop
      propagation would need hundreds of keyed shuffles.
    """
    if algorithm == "two-phase":
        return _with_adaptive_shuffle(edges, _cc_two_phase, src, dst, max_iter)
    if algorithm != "hashmin":
        raise ValueError(f"unknown CC algorithm {algorithm!r}; expected 'hashmin' or 'two-phase'")
    return _with_adaptive_shuffle(edges, _cc_hashmin, src, dst, max_iter)


# One shuffle partition per this many edges, clamped to the session
# setting.  Near-dup graphs are FILTERED pair sets — often thousands of
# rows against a session conf sized for full-table shuffles — and the
# iterative loop pays per-task scheduling overhead EVERY hop, so sizing
# the loop's shuffles to the graph (measured 2-3x on the small end)
# matters more here than anywhere else.  A billion-edge graph hits the
# session clamp and behaves exactly as before.
_CC_EDGES_PER_PARTITION = 200_000

#: serializes the conf save/set/restore below (r15 code review + DESIGN
#: lesson 41): the target is PER-GRAPH, so it cannot be shared by a
#: refcount the way streaming._drain_scope's constant can — two
#: concurrent CC builds interleaving restores would leak a clamped
#: value into the session and distort every later plan.  The lock makes
#: any caller safe; bench additionally keeps the label builds
#: sequential so the lock is never contended in the measured path.
_adaptive_shuffle_lock = threading.Lock()


def _with_adaptive_shuffle(edges: DataFrame, fn, src: str, dst: str, max_iter: int) -> DataFrame:
    """Run a CC loop with shuffle partitions sized to the edge count.

    The conf is session-global, so it is set only for the duration of
    the loop (every action inside — witness aggs, the eager final
    checkpoint — plans under the scaled setting), restored in a
    finally, and the whole scope is serialized by
    ``_adaptive_shuffle_lock`` (see the note above) so concurrent
    callers cannot interleave restores."""
    spark = edges.sparkSession
    n_edges = edges.count()  # pair inputs are memoized/checkpointed; cheap
    with _adaptive_shuffle_lock:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        target = max(1, min(int(prev), n_edges // _CC_EDGES_PER_PARTITION + 1))
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
        try:
            return fn(edges, src, dst, max_iter)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def _cc_hashmin(edges: DataFrame, src: str, dst: str, max_iter: int) -> DataFrame:
    """HashMin label propagation: every vertex's label converges to the
    minimum vertex id of its connected component.

    Per iteration: one equi-join (labels onto undirected edges) + one
    min-aggregate — O(diameter) iterations, each a single keyed shuffle
    (near-dup clusters have tiny diameters; web-scale graphs would use
    the large-star/small-star variant to cut iteration count).  The
    edge list is persisted once; per-iteration label frames are
    persisted/released pairwise and lineage is truncated every
    ``CC_CHECKPOINT_EVERY`` iterations (the PageRank lesson: without
    truncation, recomputing a lost cached partition at iteration k
    cascades through every unpersisted predecessor).  Raises if not
    converged within ``max_iter`` — a half-converged labeling is
    silently WRONG, not approximate."""
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # cache pre-partitioned on the per-iteration join key: the edge
    # shuffle happens once here, not once per iteration (the cached
    # hashpartitioning satisfies the join's distribution requirement)
    und = (
        und.unionAll(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition(F.col("a"))
        .persist()
    )
    labels = (
        und.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id")).persist()
    )
    # Convergence witness: HashMin labels are non-increasing per vertex,
    # so sum(label) strictly decreases until the fixpoint — an unchanged
    # sum IS convergence.  One scalar agg per iteration (also the action
    # that fills new_labels' cache), no extra self-join to diff labels.
    # decimal(38,0) sum: an int64 sum could overflow (and wrap) on
    # billions of large ids, corrupting the convergence witness
    _wit = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = labels.agg(_wit).first()[0]
    converged = False

    def hashmin_step(lab: DataFrame) -> DataFrame:
        nbr_min = (
            und.join(lab, und["a"] == lab["id"])
            .groupBy(F.col("b").alias("nid"))
            .agg(F.min("label").alias("nbr_label"))
        )
        return lab.join(nbr_min, lab["id"] == nbr_min["nid"], "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )

    # max_iter counts HOPS; each loop pass applies two hops before the
    # convergence check: the witness agg is a full job (driver action),
    # so halving the action count nearly halves the loop's fixed cost.
    # The worst case is one redundant hop after the fixpoint, which is
    # cheap (labels stable, the extra join changes nothing).  Correctness
    # is unaffected — HashMin steps are idempotent at the fixpoint and
    # the witness still observes exact convergence.
    for it in range((max_iter + 1) // 2):
        new_labels = hashmin_step(hashmin_step(labels))
        if (it + 1) % CC_CHECKPOINT_EVERY == 0:
            # lineage truncation: the plan otherwise nests all prior
            # iterations, and a lost cached partition would recompute
            # through every (unpersisted) predecessor.  localCheckpoint
            # stores its own blocks — it REPLACES persist() here
            # (stacking both would conflict on the storage level).
            new_labels = new_labels.localCheckpoint(eager=False)
        else:
            new_labels = new_labels.persist()
        new_sum = new_labels.agg(_wit).first()[0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        labels.unpersist()
        und.unpersist()
        raise RuntimeError(f"connected_components did not converge in {max_iter} hops")
    result = labels.localCheckpoint(eager=True)
    labels.unpersist()
    und.unpersist()
    return result


def _cc_two_phase(edges: DataFrame, src: str, dst: str, max_iter: int) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    SoCC'14) — O(log² n) rounds independent of graph diameter.

    Edges are kept canonical ``(a, b), a < b``.  Per round:

    * LARGE-STAR: for each vertex u (edges directed both ways), with
      m = min(neighbors ∪ {u}), rewire every neighbor v > u to m.
    * SMALL-STAR: orient edges high→low; for each u with smaller
      neighborhood Γ and m = min(Γ), rewire every v ∈ Γ∖{m} to m and
      connect u to m.

    Both steps only ever LOWER edge-endpoint sums (a rewrite replaces
    (v,u) with (v,m), m ≤ u, strict when anything changes), so an
    unchanged (count, Σ endpoints) pair IS the fixpoint — one scalar agg
    per round, which doubles as the cache-fill action, no edge-set diff
    join.  At the fixpoint the edge set is a forest of stars: every
    non-root vertex holds exactly its (root, v) edge — labels fall out
    by projection.  Raises if not converged within ``max_iter`` rounds
    (log₂²(n) is a handful for any real graph)."""
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # all original vertices (self-loops included) get a label row
    verts = (
        raw.select(F.col("a").alias("id"))
        .unionAll(raw.select(F.col("b").alias("id")))
        .distinct()
        .persist()
    )
    e = (
        raw.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .persist()
    )
    # decimal sums: int64 could overflow (and wrap) on billions of large
    # ids, corrupting the convergence witness
    _wit = [
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("a").cast("decimal(38,0)") + F.col("b").cast("decimal(38,0)")).alias("s"),
    ]
    prev = e.agg(*_wit).first()
    converged = False
    for it in range(max_iter):
        # ---- large-star ----
        d = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).select(
            F.col("a").alias("u"), F.col("b").alias("v")
        )
        mins = d.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("mn"), F.col("u"))
        ls = (
            d.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(m.alias("a"), F.col("v").alias("b"))  # m <= u < v: canonical
            .distinct()
        )
        # ---- small-star (edges oriented high->low: u=b, v=a) ----
        d2 = ls.select(F.col("b").alias("u"), F.col("a").alias("v"))
        mins2 = d2.groupBy("u").agg(F.min("v").alias("m"))
        rewired = (
            d2.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))  # m = min(Γ) < v
        )
        anchors = mins2.select(F.col("m").alias("a"), F.col("u").alias("b"))  # m < u
        # checkpoint EVERY round (not every CC_CHECKPOINT_EVERY like
        # HashMin): one round references `e` ~6 times (union both
        # directions, then ls feeds d2/mins2/rewired), so the analyzed
        # plan grows ~6x per round — persist() caches data but never
        # truncates the logical plan, and Catalyst analysis goes
        # exponential by round 3.  The lazy checkpoint materializes on
        # the witness agg below, which doubles as the cache-fill action.
        new_e = rewired.unionAll(anchors).distinct().localCheckpoint(eager=False)
        cur = new_e.agg(*_wit).first()  # fills the checkpoint
        e.unpersist()
        e = new_e
        if (cur["cnt"], cur["s"]) == (prev["cnt"], prev["s"]):
            converged = True
            break
        prev = cur
    if not converged:
        e.unpersist()
        verts.unpersist()
        raise RuntimeError(f"two-phase CC did not converge in {max_iter} rounds")
    # star forest: non-roots are the b side (label = a); everything else
    # (roots, isolated vertices) labels itself.  The min-agg makes the
    # projection a function of id by construction (at the fixpoint each
    # non-root has exactly one root edge anyway).
    roots = e.groupBy(F.col("b").alias("id")).agg(F.min("a").alias("root"))
    labels = (
        verts.join(roots, "id", "left")
        .select("id", F.coalesce("root", "id").alias("label"))
        .localCheckpoint(eager=True)
    )
    e.unpersist()
    verts.unpersist()
    return labels


def dedup_clusters(spark: SparkSession, sf_dir: str, method: str = "jaccard") -> DataFrame:
    """Near-dup CLUSTERS with survivor selection — the step after pair
    finding that an actual dedup pipeline needs: pairs only say "a~b";
    clustering says "a,b,c,d are one group, keep min(doc_id), drop the
    rest" (and is transitive-safe: a~b, b~c groups a,c together even if
    the a~c pair fell below threshold).

    Output: one row per clustered doc (docs with no near-dup are
    implicitly their own singleton and omitted).  DuckDB oracle: the
    same Jaccard pairs closed transitively with a recursive CTE.

    ``method="minhash"`` composes the same clustering with the banded-LSH
    pair set instead — the 100 TB form (registered as
    ``dedup_clusters_lsh``; tests assert its clusters cover the exact
    ones at the planted-dup threshold)."""
    labels = near_dup_labels(spark, sf_dir, method)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).alias("is_survivor"),
    )


def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: clusters over LSH candidates (rows-only check —
    the pair generator has no DuckDB twin)."""
    return dedup_clusters(spark, sf_dir, method="minhash")


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_JACCARD_CTES}, und AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT a AS doc_id,
       least(min(b), a) AS cluster_id,
       least(min(b), a) = a AS is_survivor
FROM reach GROUP BY a
"""


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the near-dup graph — the density diagnostic that
    distinguishes chain-shaped clusters (versioned documents, 0
    triangles) from clique-shaped ones (true dup groups, many): a
    cluster's triangle count tells a pipeline whether transitive
    merging was aggressive or safe.

    Standard oriented enumeration: with edges kept as doc_a < doc_b,
    each triangle a<b<c is found EXACTLY once by joining (a,b)+(b,c)
    and probing (a,c) — two equi-join shuffles on vertex keys, no
    orientation dedupe needed.  Output: per-cluster triangle counts.

    Both the pair set and the component labels come from the memoized
    shared pipeline (already materialized) — this query adds only the
    two triangle joins and the final aggregate."""
    pairs = near_dup_pairs(spark, sf_dir, "jaccard").select("doc_a", "doc_b")
    ab = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    bc = pairs.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    ac = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    labels = near_dup_labels(spark, sf_dir, "jaccard")
    return (
        tri.join(labels.select(F.col("id").alias("a"), F.col("label").alias("cluster_id")), "a")
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_triangles"))
    )


GRAPH_TRIANGLES_SQL = f"""
WITH RECURSIVE {_JACCARD_CTES}, e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
), und AS (
  SELECT a, b FROM e UNION ALL SELECT b, a FROM e
), reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
), labels AS (
  SELECT a AS id, least(min(b), a) AS cluster_id FROM reach GROUP BY a
), tri AS (
  SELECT ab.a, ab.b, bc.b AS c
  FROM e ab JOIN e bc ON ab.b = bc.a JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
)
SELECT l.cluster_id, count(*) AS n_triangles
FROM tri t JOIN labels l ON t.a = l.id
GROUP BY l.cluster_id
"""


# ---------------------------------------------------------------------------
# Benchmark-contamination check: which TRAIN documents share exact word
# n-grams with an EVAL/benchmark document?  The canonical pre-training
# decontamination pass (n-gram overlap against held-out eval sets).
# ---------------------------------------------------------------------------

CONTAM_K = 5  # word n-gram length for the overlap test
CONTAM_EVAL_MODULUS = 10  # doc_id % 10 == 0 plays the held-out eval set


def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination: (train_doc_id, eval_doc_id, n_shared,
    contam_frac) for every train document sharing >= 1 exact word
    5-gram with an eval document; ``contam_frac`` = shared / train's
    distinct 5-grams (integer division → bit-identical cross-engine).

    Scale shape: the eval set is BROADCAST — benchmark suites are a few
    thousand documents against a 100 TB train corpus, so the eval
    shingle table (eval_docs x shingles rows) ships to every executor
    and the train side streams through a broadcast hash join with NO
    shuffle of train shingles; the only shuffle is the per-pair count
    aggregation over matched rows.  (With a huge eval set, drop the
    broadcast hint and Catalyst falls back to a sort-merge join on the
    shingle key — same semantics.)

    ``n_train_shingles`` is ``size(shingles(t))`` carried through the
    explode — ``shingles`` is ``array_distinct`` per doc, so the array
    size IS the distinct-5-gram count the old corpus-wide
    count-per-doc aggregate computed, and any doc surviving the hits
    join has >= 1 shingle, so the old inner join back to ``sizes``
    dropped nothing this projection keeps.  That kills one full
    tokenize+shingle pass over the train corpus, its doc_id-keyed
    shuffle, and the join."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", tokens("text").alias("t")).select(
        "doc_id", shingles("t", CONTAM_K).alias("sharr")
    )
    is_eval = F.col("doc_id") % CONTAM_EVAL_MODULUS == 0
    # The generator child is a non-Attribute expression ON PURPOSE:
    # InferFiltersFromGenerate only infers (size > 0, isnotnull)
    # pre-filters for bare Attribute children, and that inferred filter
    # gets expression-substituted through the projections down to the
    # raw scan, re-running the tokenize ~12x per row (measured 0.98 s
    # -> 25 s at sf0.1 with explode(sharr)).  The struct explode also
    # carries the per-doc count at O(1) per element (sharr is a row
    # field here, so size() is an array-length lookup, not a recompute).
    train = (
        base.filter(~is_eval)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sharr, x -> struct(x AS shingle, size(sharr) AS n_train_shingles))"
                )
            ).alias("s"),
        )
        .select("doc_id", "s.shingle", "s.n_train_shingles")
    )
    eval_sh = (
        docs.filter(is_eval)
        .select("doc_id", tokens("text").alias("t"))
        .select(
            F.col("doc_id").alias("eval_doc_id"),
            F.explode(shingles("t", CONTAM_K)).alias("shingle"),
        )
    )
    return (
        train.join(F.broadcast(eval_sh), "shingle")
        .groupBy(F.col("doc_id").alias("train_doc_id"), "eval_doc_id")
        .agg(
            F.count("*").alias("n_shared"),
            # constant within each (train, eval) group: every exploded row
            # of one train doc carries the same array size
            F.max("n_train_shingles").alias("n_train_shingles"),
        )
        .select(
            "train_doc_id",
            "eval_doc_id",
            "n_shared",
            round_half_up(F.col("n_shared") / F.col("n_train_shingles"), 6).alias("contam_frac"),
        )
    )


_CONTAM_JOINED = " || ' ' || ".join(f"t[i+{j}]" for j in range(CONTAM_K))

CONTAMINATION_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, {_CONTAM_JOINED} AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-{CONTAM_K - 1}, 0))) AS i) g
), sizes AS (
  SELECT doc_id, count(*) AS n_train_shingles FROM sh
  WHERE doc_id % {CONTAM_EVAL_MODULUS} <> 0 GROUP BY doc_id
), hits AS (
  SELECT tr.doc_id AS train_doc_id, ev.doc_id AS eval_doc_id, count(*) AS n_shared
  FROM sh tr JOIN sh ev ON tr.shingle = ev.shingle
  WHERE tr.doc_id % {CONTAM_EVAL_MODULUS} <> 0 AND ev.doc_id % {CONTAM_EVAL_MODULUS} = 0
  GROUP BY 1, 2
)
SELECT train_doc_id, eval_doc_id, n_shared,
       {sql_round_half_up('n_shared * 1.0 / s.n_train_shingles', 6)} AS contam_frac
FROM hits h JOIN sizes s ON h.train_doc_id = s.doc_id
"""


#: Jaccard cutoffs the threshold-sensitivity curve probes.  The floor is
#: the pipeline's operating JACCARD_THRESHOLD (0.2 — the memoized pair
#: graph is built there, so the curve reuses it instead of re-running
#: the shingle self-join per probe); the rest ladder up to near-exact.
DEDUP_THRESHOLD_PROBES = (0.2, 0.3, 0.5, 0.7, 0.9)


def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-threshold sensitivity curve — the dedup family's tuning
    dial (the ``similarity_ann_nprobe_curve`` of near-dup): per cutoff
    in DEDUP_THRESHOLD_PROBES, how many pairs survive, how many
    distinct documents they touch, and what share of the corpus that
    is.  A curation team reads the knee of this curve to set the
    operating threshold — too low and the cluster pass erases real
    content, too high and syndicated copy survives to training.  A FLAT
    segment is itself the finding: it means the pair population is
    bimodal (real dups far above, incidental overlap far below) and the
    threshold is insensitive across it — the healthiest answer a corpus
    can give (this synthetic corpus reads exactly so: planted dups sit
    >= ~0.9, incidental overlap < 0.05).  The curve deliberately starts
    AT the operating threshold: probing below it would need the raw
    unthresholded pair graph — the near-all-pairs blowup the operating
    cutoff exists to avoid building at 100 TB.

    Plan: the pair set is the MEMOIZED exact-Jaccard graph (built once
    per session); probes attach via a 5-row broadcast non-equi join
    (bounded x bounded — the scalar-attach shape), a LEFT join so a
    cutoff that kills every pair still emits its zero row; counts are
    two tiny aggregates + a 1-row corpus total attach.  Comparisons run
    on the graph's 6-decimal rounded jaccard — the same doubles both
    engines computed bit-identically.  At 100 TB the pair graph is the
    audited linear-candidate build; this curve stays O(|pairs|)."""
    pairs = near_dup_pairs(spark, sf_dir, "jaccard")
    probes = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in DEDUP_THRESHOLD_PROBES])
        ).alias("threshold")
    )
    hits = probes.join(
        F.broadcast(pairs), F.col("jaccard") >= F.col("threshold"), "left"
    )
    np_ = hits.groupBy("threshold").agg(F.count("doc_a").alias("n_pairs"))
    nd = (
        hits.select(
            "threshold", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .groupBy("threshold")
        .agg(F.count_distinct("d").alias("n_docs"))  # count_distinct skips NULLs
    )
    total = F.broadcast(
        load_table(spark, sf_dir, "documents").agg(F.count("*").alias("n_total"))
    )
    return (
        np_.join(nd, "threshold")
        .crossJoin(total)
        .select(
            "threshold",
            "n_pairs",
            "n_docs",
            round_half_up(
                F.col("n_docs").cast("double") / F.col("n_total"), 6
            ).alias("doc_share"),
        )
    )


def dedup_lsh_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision audit of the MinHash-LSH near-dup pipeline
    against the exact-Jaccard truth — the acceptance gate an LSH config
    (bands x rows, signature length, threshold) must pass before it
    replaces exact shingle-join dedup at scale.  n_true = exact pairs at
    JACCARD_THRESHOLD, n_detected = banded-candidate pairs whose
    SIGNATURE estimate clears the same threshold (the end-to-end md5
    pipeline, band probe + verify), n_hit = their intersection; recall
    and precision are exact integer ratios.  Output: ONE row.

    Promotes the pytest-only recall gate into a registered, fully
    oracled query (the DuckDB twin recomputes both pair sets from their
    bit-identical oracle chains).  Plan: both pair sets are the MEMOIZED
    checkpointed graphs every other pair consumer shares, so the audit
    itself adds one scalar-pair equi-join and three 1-row aggregates.
    At 100 TB the same audit runs on a corpus sample; the pair builders
    are the audited linear-candidate plans (never all-pairs)."""
    truth = near_dup_pairs(spark, sf_dir, "jaccard").select("doc_a", "doc_b")
    det = near_dup_pairs(spark, sf_dir, "minhash_md5").select("doc_a", "doc_b")
    t = truth.agg(F.count("*").alias("n_true"))
    d = det.agg(F.count("*").alias("n_detected"))
    h = truth.join(det, ["doc_a", "doc_b"]).agg(F.count("*").alias("n_hit"))
    hit = F.col("n_hit").cast("double")
    recall = F.when(
        F.col("n_true") > 0, round_half_up(hit / F.col("n_true"), 6)
    ).otherwise(F.lit(0.0))
    precision = F.when(
        F.col("n_detected") > 0, round_half_up(hit / F.col("n_detected"), 6)
    ).otherwise(F.lit(0.0))
    return (
        t.crossJoin(d)
        .crossJoin(h)
        .select(
            "n_true",
            "n_detected",
            "n_hit",
            recall.alias("recall"),
            precision.alias("precision"),
        )
    )


DEDUP_LSH_QUALITY_SQL = f"""
WITH truth AS (
  SELECT doc_a, doc_b FROM ({DEDUP_NEAR_JACCARD_SQL})
), det AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_LSH_MD5_SQL})
), t AS (SELECT count(*)::BIGINT AS n_true FROM truth),
d AS (SELECT count(*)::BIGINT AS n_detected FROM det),
h AS (
  SELECT count(*)::BIGINT AS n_hit
  FROM truth JOIN det USING (doc_a, doc_b)
)
SELECT n_true, n_detected, n_hit,
       CASE WHEN n_true > 0
            THEN {sql_round_half_up('CAST(n_hit AS DOUBLE) / n_true', 6)}
            ELSE 0.0 END AS recall,
       CASE WHEN n_detected > 0
            THEN {sql_round_half_up('CAST(n_hit AS DOUBLE) / n_detected', 6)}
            ELSE 0.0 END AS precision
FROM t, d, h
"""


DEDUP_THRESHOLD_CURVE_SQL = f"""
WITH rp AS (
  SELECT doc_a, doc_b, jaccard FROM ({DEDUP_NEAR_JACCARD_SQL})
), probes AS (
  SELECT unnest([{", ".join(f"{t}::DOUBLE" for t in DEDUP_THRESHOLD_PROBES)}]) AS threshold
), hit AS (
  SELECT p.threshold, r.doc_a, r.doc_b
  FROM probes p LEFT JOIN rp r ON r.jaccard >= p.threshold
), np AS (
  SELECT threshold, count(doc_a)::BIGINT AS n_pairs FROM hit GROUP BY threshold
), nd AS (
  SELECT threshold, count(DISTINCT d)::BIGINT AS n_docs FROM (
    SELECT threshold, doc_a AS d FROM hit
    UNION ALL
    SELECT threshold, doc_b FROM hit)
  GROUP BY threshold
), tot AS (
  SELECT count(*)::BIGINT AS n_total FROM documents
)
SELECT threshold, n_pairs, n_docs,
       {sql_round_half_up('CAST(n_docs AS DOUBLE) / n_total', 6)} AS doc_share
FROM np JOIN nd USING (threshold), tot
"""


# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
# k-means-cluster the embeddings, then prune near-duplicates WITHIN each
# cluster — the cluster assignment is the blocking structure, so the
# pair space is Σ|cluster|² instead of n², and K grows with the corpus
# to keep per-cluster size bounded (the paper runs K=50k on LAION).
SEMDEDUP_TAU = 0.9


def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: every vector joins ONLY its
    own semantic cluster (the memoized IVF coarse-quantizer assignment —
    the same k-means structure the ANN family probes), scores cosine
    against its cluster peers, and is marked pruned if a LOWER-id peer
    sits within SEMDEDUP_TAU (deterministic keep-lowest-id
    representative per ε-ball, the paper's keep-one policy made
    engine-stable).  Output per vector: (vec_id, cid, n_cluster,
    max_other_cos, is_dup) — the per-item curation decision plus the
    evidence a reviewer needs (cluster size, nearest-peer similarity;
    singleton clusters report max_other_cos = -1).

    The synthetic corpus has no planted semantic dups (max pairwise
    cosine ≈ 0.5) so is_dup is all-zero at test SFs, but max_other_cos
    carries real per-vector values — the oracle hash is meaningful;
    planted-duplicate semantics are pinned in tests/test_llm_pipeline.py.

    Plan: one cid equi-self-join of the memoized lists (shuffle bounded
    by cluster sizes), a per-vector aggregate, and a broadcast-able
    cluster-size attach — no window, no all-pairs.  K is DERIVED FROM
    THE CORPUS COUNT (``semdedup_k``: ceil(n / 32), clamped), so cluster
    cardinality — and with it the within-cluster pair space — stays
    bounded as the corpus grows: linear total pair work, exactly the
    published K-scaling recipe (the r9 verdict's one weak item).

    Cites reference surface: none (extension operator; the reference
    engine has no embedding layer — SURVEY §2.3)."""
    from mini_hadoop_spark.operators.similarity import (
        corpus_vector_count,
        ivf_lists,
        semdedup_k,
    )

    k = semdedup_k(corpus_vector_count(spark, sf_dir))
    lists = ivf_lists(spark, sf_dir, k).select("vec_id", "e", "nv", "cid")
    peers = lists.select(
        F.col("vec_id").alias("peer_id"), F.col("e").alias("pe"),
        F.col("nv").alias("pnv"), "cid",
    )
    pair_cos = (dot(F.col("e"), F.col("pe")) / F.col("nv") / F.col("pnv"))
    scored = (
        lists.join(peers, "cid")
        .filter(F.col("peer_id") != F.col("vec_id"))
        .select(
            "vec_id", "cid",
            pair_cos.alias("cos"),
            (
                (F.col("peer_id") < F.col("vec_id"))
                & (pair_cos >= F.lit(SEMDEDUP_TAU))
            ).cast("long").alias("dup_vote"),
        )
        .groupBy("vec_id", "cid")
        .agg(F.max("cos").alias("max_cos"), F.max("dup_vote").alias("is_dup"))
    )
    sizes = lists.groupBy("cid").agg(F.count("*").alias("n_cluster"))
    return (
        lists.select("vec_id", "cid")
        .join(sizes, "cid")
        .join(scored.select("vec_id", "max_cos", "is_dup"), "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            "n_cluster",
            round_half_up(F.coalesce(F.col("max_cos"), F.lit(-1.0)), 6).alias(
                "max_other_cos"
            ),
            F.coalesce(F.col("is_dup"), F.lit(0).cast("long")).alias("is_dup"),
        )
    )


def _semdedup_sql() -> str:
    from mini_hadoop_spark.operators.similarity import (
        SEMDEDUP_K_MAX,
        SEMDEDUP_K_MIN,
        SEMDEDUP_TARGET_CLUSTER,
        _ivf_ctes,
    )

    # kparam mirrors similarity.semdedup_k: K derived from count(*) in
    # SQL so the oracle tracks the Spark side at EVERY scale factor.
    return f"""
WITH kparam AS (
  SELECT greatest(least(CAST(ceil(count(*) / {SEMDEDUP_TARGET_CLUSTER}.0) AS BIGINT),
                        {SEMDEDUP_K_MAX}), {SEMDEDUP_K_MIN}) AS k
  FROM embeddings
), {_ivf_ctes('(SELECT k FROM kparam)')}, pairs AS (
  SELECT a.vec_id, a.cid,
         list_dot_product(a.e, b.e) / a.nv / b.nv AS cos,
         CASE WHEN b.vec_id < a.vec_id
               AND list_dot_product(a.e, b.e) / a.nv / b.nv >= {SEMDEDUP_TAU}
              THEN 1 ELSE 0 END AS dup_vote
  FROM lists a JOIN lists b ON a.cid = b.cid AND a.vec_id <> b.vec_id
), scored AS (
  SELECT vec_id, max(cos) AS max_cos, max(dup_vote)::BIGINT AS is_dup
  FROM pairs GROUP BY vec_id
), sizes AS (
  SELECT cid, count(*)::BIGINT AS n_cluster FROM lists GROUP BY cid
)
SELECT l.vec_id, l.cid, z.n_cluster,
       {sql_round_half_up('coalesce(s.max_cos, -1.0)', 6)} AS max_other_cos,
       coalesce(s.is_dup, 0)::BIGINT AS is_dup
FROM lists l
JOIN sizes z USING (cid)
LEFT JOIN scored s ON s.vec_id = l.vec_id
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_semantic_semdedup": dedup_semantic_semdedup,
    "dedup_lsh_quality_audit": dedup_lsh_quality_audit,
    "dedup_threshold_curve": dedup_threshold_curve,
    "dedup_exact_normalized": dedup_exact_normalized,
    "dedup_incremental": dedup_incremental,
    "dedup_histogram": dedup_histogram,
    "dedup_funnel_report": dedup_funnel_report,
    "contamination_ngram": contamination_ngram,
    "dedup_near_jaccard": dedup_near_jaccard,
    "dedup_containment": dedup_containment,
    "dedup_span_removal": dedup_span_removal,
    "dedup_cross_source_matrix": dedup_cross_source_matrix,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_lsh_md5": dedup_minhash_lsh_md5,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_md5": dedup_simhash_md5,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_clusters": dedup_clusters,
    "dedup_clusters_lsh": dedup_clusters_lsh,
    "dedup_clusters_lsh_md5": dedup_clusters_lsh_md5,
    "graph_triangle_count": graph_triangle_count,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_semantic_semdedup": _semdedup_sql(),
    "dedup_lsh_quality_audit": DEDUP_LSH_QUALITY_SQL,
    "dedup_threshold_curve": DEDUP_THRESHOLD_CURVE_SQL,
    "dedup_exact_normalized": DEDUP_EXACT_NORMALIZED_SQL,
    "dedup_incremental": DEDUP_INCREMENTAL_SQL,
    "dedup_histogram": DEDUP_HISTOGRAM_SQL,
    "dedup_funnel_report": DEDUP_FUNNEL_SQL,
    "contamination_ngram": CONTAMINATION_SQL,
    "dedup_near_jaccard": DEDUP_NEAR_JACCARD_SQL,
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
    "dedup_span_removal": DEDUP_SPAN_REMOVAL_SQL,
    "dedup_cross_source_matrix": DEDUP_CROSS_SOURCE_SQL,
    "dedup_minhash_lsh_md5": DEDUP_MINHASH_LSH_MD5_SQL,
    "dedup_simhash_md5": DEDUP_SIMHASH_MD5_SQL,
    "dedup_clusters_lsh_md5": DEDUP_CLUSTERS_LSH_MD5_SQL,
    "dedup_embedding_cosine": DEDUP_EMBEDDING_COSINE_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "graph_triangle_count": GRAPH_TRIANGLES_SQL,
    # dedup_minhash_lsh / dedup_simhash / dedup_clusters_lsh: xxhash64-
    # based, no DuckDB twin — rows-only driver check; recall/coverage
    # verified in tests/test_llm_pipeline.py.
}
