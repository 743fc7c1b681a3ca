"""Unit tests for the LLM-pipeline operator families beyond the oracle
battery: the xxhash64/LSH operators have no DuckDB twin, so their
correctness is asserted here as recall/estimation properties against
their exact counterparts, plus exactness tests for the multimodal
plumbing."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def _exact_pairs(spark, threshold):
    from mini_hadoop_spark.operators.dedup import dedup_near_jaccard

    rows = dedup_near_jaccard(spark, SF_DIR).collect()
    return {(r.doc_a, r.doc_b): r.jaccard for r in rows if r.jaccard >= threshold}


def test_minhash_recall_on_high_jaccard_pairs(spark):
    """Every exact pair with Jaccard >= 0.5 must surface as a MinHash
    LSH candidate (16 bands x 4 rows -> P(miss at j=0.5) ~ (1-0.5^4)^16
    = 35%... per band-set; across 0.9+ planted dups it's ~0), and the
    signature estimate must be within 0.3 of the exact value."""
    from mini_hadoop_spark.operators.dedup import dedup_minhash_lsh

    exact = _exact_pairs(spark, threshold=0.5)
    assert exact, "test data should contain planted near-dup pairs"
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup_minhash_lsh(spark, SF_DIR).collect()
    }
    high = {p: j for p, j in exact.items() if j >= 0.8}
    missed = [p for p in high if p not in est]
    assert not missed, f"LSH missed high-similarity pairs: {missed}"
    for p in high:
        assert abs(est[p] - exact[p]) <= 0.3, (p, est[p], exact[p])


def test_minhash_deterministic(spark):
    from mini_hadoop_spark.operators.dedup import dedup_minhash_lsh

    a = sorted(map(tuple, dedup_minhash_lsh(spark, SF_DIR).collect()))
    b = sorted(map(tuple, dedup_minhash_lsh(spark, SF_DIR).collect()))
    assert a == b


def test_clusters_lsh_covers_exact_clusters(spark):
    """Composition gate for the 100 TB path: clustering over the LSH
    candidate pairs must co-cluster every planted (Jaccard >= 0.8) exact
    pair — swapping the scale-limited exact pair generator for the
    banded-LSH one cannot split a true dup group."""
    from mini_hadoop_spark.operators.dedup import dedup_clusters_lsh

    high = _exact_pairs(spark, threshold=0.8)
    assert high, "test data should contain planted near-dup pairs"
    labels = {
        r.doc_id: r.cluster_id for r in dedup_clusters_lsh(spark, SF_DIR).collect()
    }
    split = [
        p for p in high
        if labels.get(p[0]) is None or labels.get(p[0]) != labels.get(p[1])
    ]
    assert not split, f"LSH clustering split planted dup pairs: {split}"


def test_near_dup_pair_memo_shares_one_materialization(spark):
    """The shared pipeline memoizes per (app, sf_dir, method): repeated
    query calls return the SAME checkpointed frame (no recompute), and
    clusters/triangles consume exactly that pair set."""
    from mini_hadoop_spark.operators.dedup import dedup_near_jaccard, near_dup_pairs

    a = dedup_near_jaccard(spark, SF_DIR)
    b = near_dup_pairs(spark, SF_DIR, "jaccard")
    assert a is b, "memo must return the identical materialized frame"


def test_simhash_pairs_are_valid(spark):
    from mini_hadoop_spark.operators.dedup import (
        SIMHASH_MAX_HAMMING,
        dedup_simhash,
    )

    rows = dedup_simhash(spark, SF_DIR).collect()
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= SIMHASH_MAX_HAMMING


def test_simhash_identical_docs_collide(spark):
    """Two documents with identical token multisets must get the same
    SimHash (hamming 0)."""
    from pyspark.sql import functions as F

    from mini_hadoop_spark.functions.text import tokens
    from mini_hadoop_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(1, "spark shuffles the hash join"), (2, "spark shuffles the hash join")],
        ["doc_id", "text"],
    )
    toks = (
        df.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
    )
    fps = {r.doc_id: r.simhash for r in simhash(toks).collect()}
    assert fps[1] == fps[2]


def test_exact_dedup_counts_duplicates(spark):
    """Planted exact duplicates must collapse to one survivor row with
    the right copy count (the sf tables have no exact dups, so build
    the input here)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other text")], ["doc_id", "text"]
    )
    out = (
        df.select(F.sha2("text", 256).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep"), F.count("*").alias("n"))
        .collect()
    )
    by_keep = {r.keep: r.n for r in out}
    assert by_keep == {1: 2, 3: 1}


def test_per_row_minhash_signature_matches_groupby_form(spark):
    """The streaming per-row signature expression and the batch groupBy
    aggregation must produce IDENTICAL signatures for every document —
    the no-drift guarantee the incremental LSH operator depends on."""
    from pyspark.sql import functions as F

    from mini_hadoop_spark.functions.text import shingles, tokens
    from mini_hadoop_spark.operators import dedup

    sh = dedup._doc_shingles(spark, SF_DIR)
    groupby_form = dedup.minhash_signatures(sh)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    per_row = (
        docs.select("doc_id", tokens("text").alias("t"))
        .select("doc_id", shingles("t").alias("shg"))
        .filter(F.size("shg") > 0)
        .select("doc_id", dedup.minhash_signature_column("shg").alias("sig"))
    )
    j = groupby_form.alias("a").join(per_row.alias("b"), "doc_id")
    n = j.count()
    assert n == per_row.count()  # same doc coverage
    assert j.filter(F.expr("a.sig = b.sig")).count() == n


def test_normalized_dedup_collapses_variants(spark, tmp_path):
    """Case/whitespace/punctuation variants hash together under the
    normalized pass; genuinely different content does not (the sf tables
    have no planted variants, so build the input here)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mini_hadoop_spark.operators.dedup import dedup_exact_normalized

    docs = [
        (1, "Hello,  World!", "a", "en"),
        (2, "hello world", "a", "en"),
        (3, "HELLO ... world", "a", "en"),
        (4, "hello worlds", "a", "en"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs]),
                "source": pa.array([d[2] for d in docs]),
                "lang": pa.array([d[3] for d in docs]),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    out = dedup_exact_normalized(spark, str(tmp_path)).collect()
    by_keep = {r.keep_doc_id: r.n_copies for r in out}
    assert by_keep == {1: 3, 4: 1}


def _write_docs(tmp_path, texts, langs=None):
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(texts)
    langs = langs or ["en"] * n
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, n + 1), pa.int64()),
                "text": pa.array(texts),
                "source": pa.array(["t"] * n),
                "lang": pa.array(langs),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    return str(tmp_path)


def test_redact_pii_planted(spark, tmp_path):
    """Planted PII must be counted and scrubbed; clean text untouched
    (the sf corpus has no planted PII, so build the input here)."""
    import hashlib

    from mini_hadoop_spark.operators.text_analysis import text_redact_pii

    d = _write_docs(
        tmp_path,
        [
            "contact alice@example.com or bob@test.org today",
            "see https://example.com/x?id=9 and call 5551234567",
            "clean document with short 123 number",
        ],
    )
    rows = {r.doc_id: r for r in text_redact_pii(spark, d).collect()}
    assert (rows[1].n_emails, rows[1].n_urls, rows[1].n_numbers) == (2, 0, 0)
    assert (rows[2].n_emails, rows[2].n_urls, rows[2].n_numbers) == (0, 1, 1)
    assert (rows[3].n_emails, rows[3].n_urls, rows[3].n_numbers) == (0, 0, 0)
    assert rows[1].redacted_hash == hashlib.sha256(
        b"contact <EMAIL> or <EMAIL> today"
    ).hexdigest()
    assert rows[3].redacted_hash == hashlib.sha256(
        b"clean document with short 123 number"
    ).hexdigest()


def test_pack_sequences_planted(spark, tmp_path):
    """Packing contract: concatenate in doc_id order per lang, cut at
    the budget; a doc belongs to the sequence its first token lands in."""
    from mini_hadoop_spark.operators import text_analysis as ta

    # 3 docs x 1500 tokens (budget 2048): doc1 starts at 0 -> seq 0;
    # doc2 starts at 1500 -> seq 0; doc3 starts at 3000 -> seq 1
    word = "tok "
    d = _write_docs(tmp_path, [word * 1500, word * 1500, word * 1500])
    rows = {
        (r.lang, r.seq_id): r for r in ta.text_pack_sequences(spark, d).collect()
    }
    assert rows[("en", 0)].n_docs == 2 and rows[("en", 0)].seq_tokens == 3000
    assert rows[("en", 1)].n_docs == 1 and rows[("en", 1)].first_doc_id == 3


def test_embedding_dup_pairs_matches_brute_force(spark):
    """Grid-blocked exact cosine dedup must find EXACTLY the brute-force
    pairs (zero false negatives by the lossless-blocking argument, zero
    false positives by the exact verify) — planted near-dup vectors,
    since the sf tables contain none (max pairwise cosine ~0.51)."""
    import itertools
    import math
    import random

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(6)]
    vecs = []
    for i, b in enumerate(base):
        vecs.append((i * 10, b))
        # near-copy: tiny perturbation -> cosine ~0.999
        vecs.append((i * 10 + 1, [x + rng.gauss(0, 0.02) for x in b]))

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a)) / math.sqrt(sum(x * x for x in b))

    expected = {
        (ia, ib)
        for (ia, va), (ib, vb) in itertools.combinations(vecs, 2)
        if cos(va, vb) >= 0.95
    }
    assert expected, "perturbation should plant qualifying pairs"

    from mini_hadoop_spark.operators.dedup import embedding_dup_pairs

    df = spark.createDataFrame(vecs, "vec_id long, e array<double>")
    got = {(r.vec_a, r.vec_b) for r in embedding_dup_pairs(df).collect()}
    assert got == expected


def test_embedding_dup_query_empty_on_sf_tables(spark):
    """The synthetic embeddings have no near-dups; the declared query
    must return an empty frame with the contracted schema."""
    from mini_hadoop_spark.operators.dedup import dedup_embedding_cosine

    out = dedup_embedding_cosine(spark, SF_DIR)
    assert out.columns == ["vec_a", "vec_b", "cos_sim"]
    assert out.count() == 0


def test_grid_candidate_estimate_equals_join_count(spark):
    """DESIGN lesson 37(a) pinned at 1x (VERDICT r13 #2): the preflight
    cell-histogram estimate must equal the REAL oriented candidate
    join's row count exactly — the join is a pure cell equi-join, so
    its cardinality is histogram arithmetic, and any drift between the
    two means the guard is guarding a different join than the one that
    runs."""
    from pyspark.sql import functions as F

    from mini_hadoop_spark.operators.dedup import (
        COSINE_DUP_THRESHOLD,
        GRID_DIMS,
        _grid_candidate_join,
        grid_candidate_estimate,
    )
    from mini_hadoop_spark.sources.catalog import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    n, est = grid_candidate_estimate(v, COSINE_DUP_THRESHOLD, GRID_DIMS)
    joined = _grid_candidate_join(v, COSINE_DUP_THRESHOLD, GRID_DIMS).count()
    assert n == v.count()
    assert est == joined, (est, joined)


def test_grid_preflight_raises_on_degenerate_corpus(spark):
    """The engine must ENFORCE its own measured quadratic bound
    (VERDICT r13 #2): a spread-less corpus whose estimated candidates
    exceed max(abs budget, c*n) fails fast with the actionable routing
    error, BEFORE the candidate join materializes anything."""
    import random

    import pytest as _pytest

    from mini_hadoop_spark.operators.dedup import (
        GridBlockingDegenerateError,
        embedding_dup_pairs,
    )

    rng = random.Random(11)
    # isotropic tight blob: every unit vector lands in the same few
    # cells, so candidates ~ C(n,2); a tiny max_candidates makes the
    # degenerate-at-scale shape reproducible with 200 vectors
    vecs = [(i, [1.0 + rng.gauss(0, 0.01) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, e array<double>")
    with _pytest.raises(GridBlockingDegenerateError, match="dedup_semantic_semdedup"):
        embedding_dup_pairs(df, max_candidates=1000)
    # unguarded escape hatch (the scale smoke's measured-negative mode)
    assert embedding_dup_pairs(df, preflight=False).count() >= 0


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

def test_ann_lsh_subset_of_true_cosines(spark):
    """Every ANN result must carry the TRUE cosine for its pair (LSH
    only prunes candidates, never distorts scores): spot-check against
    the brute-force top-k where pairs overlap, and check rank ordering."""
    from collections import defaultdict

    from mini_hadoop_spark.operators.similarity import (
        similarity_ann_lsh,
        similarity_topk_brute,
    )

    ann = similarity_ann_lsh(spark, SF_DIR).collect()
    assert ann, "ANN should return candidates on the test data"
    brute = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity_topk_brute(spark, SF_DIR).collect()
    }
    overlap = [r for r in ann if (r.query_id, r.neighbor_id) in brute]
    for r in overlap:
        assert r.cos_sim == pytest.approx(brute[(r.query_id, r.neighbor_id)], abs=1e-9)
    per_query = defaultdict(list)
    for r in ann:
        per_query[r.query_id].append(r)
    for rows in per_query.values():
        rows.sort(key=lambda r: r.rnk)
        for a, b in zip(rows, rows[1:]):
            assert a.cos_sim >= b.cos_sim


def test_ann_ivf_recall_and_score_exactness(spark):
    """IVF candidates carry TRUE cosines (the quantizer only prunes), and
    top-1 recall vs brute force must be substantial (nprobe=4 of 32
    centroids on isotropic data won't be perfect — assert a floor)."""
    from mini_hadoop_spark.operators.similarity import (
        similarity_ann_ivf,
        similarity_topk_brute,
    )

    ivf = similarity_ann_ivf(spark, SF_DIR).collect()
    assert ivf, "IVF should return candidates"
    brute = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity_topk_brute(spark, SF_DIR).collect()
    }
    for r in ivf:
        if (r.query_id, r.neighbor_id) in brute:
            assert r.cos_sim == pytest.approx(brute[(r.query_id, r.neighbor_id)], abs=1e-9)
    brute_top1 = {}
    for (q, n), c in brute.items():
        if q not in brute_top1 or c > brute_top1[q][1]:
            brute_top1[q] = (n, c)
    ivf_hits = {(r.query_id, r.neighbor_id) for r in ivf}
    hits = sum(1 for q, (n, _) in brute_top1.items() if (q, n) in ivf_hits)
    assert hits / len(brute_top1) >= 0.3, f"top-1 recall too low: {hits}/{len(brute_top1)}"


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------

def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_decode_payload_real_path():
    """fake=False: video always fails loudly, audio fails loudly on
    NON-WAV payloads (the stdlib wave decoder handles PCM WAV — tested
    below); image uses PIL when importable, fails loudly otherwise —
    parametrized by environment, never silently stubbed."""
    from mini_hadoop_spark.operators.multimodal import FEATURE_DIM, decode_payload

    for modality in ("audio", "video"):
        with pytest.raises(NotImplementedError):
            decode_payload(b"\x00\x01", modality)  # audio: not a WAV

    if not _pil_available():
        # formats beyond the stdlib BMP/JPEG/PNG arms fail loudly
        with pytest.raises(NotImplementedError):
            decode_payload(b"GIF89a\x00\x00", "image")
        # a PNG-magic payload that is corrupt is a ValueError (the
        # stdlib PNG arm decodes real ones — tests/test_png.py)
        with pytest.raises(ValueError):
            decode_payload(b"\x89PNG\r\n\x1a\n\x00\x00", "image")
        return
    # real decode on a genuine in-memory PNG
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (4, 4), (255, 255, 255)).save(buf, format="PNG")
    feats = decode_payload(buf.getvalue(), "image")
    assert len(feats) == FEATURE_DIM
    assert feats[-1] == pytest.approx(1.0)  # all-white -> top luma bin
    assert sum(feats) == pytest.approx(1.0)


def test_decode_payload_fake_histogram():
    from mini_hadoop_spark.operators.multimodal import FEATURE_DIM, decode_payload

    feats = decode_payload(bytes([0, 8, 16, 1]), "image", fake=True)
    assert len(feats) == FEATURE_DIM
    assert feats[0] == pytest.approx(3 / 4)  # bytes 0, 8, 16 -> bin 0
    assert feats[1] == pytest.approx(1 / 4)  # byte 1 -> bin 1
    assert sum(feats) == pytest.approx(1.0)


def test_extract_features_end_to_end(spark):
    from mini_hadoop_spark.operators.multimodal import (
        extract_features,
        synth_binary_docs,
    )

    src = synth_binary_docs(spark, SF_DIR)
    out = extract_features(src, fake=True)
    rows = out.collect()
    assert len(rows) == src.count()
    for r in rows[:20]:
        assert r.modality in ("image", "audio", "video")
        assert len(r.features) == 8
        assert sum(r.features) == pytest.approx(1.0, abs=1e-9)
        assert r.n_bytes > 0


def test_expression_features_match_mapinpandas_exactly(spark):
    """The registered JVM-expression byte histogram and the Arrow-batched
    mapInPandas fake decoder must agree BIT-FOR-BIT on every document —
    the guarantee that swapping in a real decoder changes the decode
    step only, not the surrounding contract."""
    from pyspark.sql import functions as F

    from mini_hadoop_spark.operators.multimodal import (
        FEATURE_DIM,
        byte_histogram_features,
        extract_features,
        synth_binary_docs,
    )

    src = synth_binary_docs(spark, SF_DIR)
    expr = {
        r.doc_id: [r[f"f{i}"] for i in range(FEATURE_DIM)]
        for r in src.select(
            "doc_id",
            *[f.alias(f"f{i}") for i, f in enumerate(byte_histogram_features(F.col("payload")))],
        ).collect()
    }
    arrow = {r.doc_id: list(r.features) for r in extract_features(src, fake=True).collect()}
    assert expr == arrow  # exact float equality, no tolerance


def test_sample_frames_slicing_exact(spark):
    """1→N frame expansion: every 4th 64-byte slice, exact boundaries."""
    from mini_hadoop_spark.operators.multimodal import FRAME_SIZE, sample_frames

    payload = bytes(range(256)) * 2  # 512 bytes -> 8 frames -> idx 0, 4
    df = spark.createDataFrame([(1, payload), (2, b"xy")], "doc_id long, payload binary")
    rows = {(r.doc_id, r.frame_idx): r for r in sample_frames(df).collect()}
    assert set(rows) == {(1, 0), (1, 4), (2, 0)}
    assert rows[(1, 0)].n_frames == 8
    assert bytes(rows[(1, 0)].frame_payload) == payload[:FRAME_SIZE]
    assert bytes(rows[(1, 4)].frame_payload) == payload[4 * FRAME_SIZE : 5 * FRAME_SIZE]
    assert rows[(2, 0)].n_frames == 1
    assert bytes(rows[(2, 0)].frame_payload) == b"xy"


def test_resize_payloads_exact(spark):
    from mini_hadoop_spark.operators.multimodal import resize_payloads

    df = spark.createDataFrame(
        [(1, "image", b"abc"), (2, "image", b"")], "doc_id long, modality string, payload binary"
    )
    rows = {r.doc_id: r for r in resize_payloads(df, width=2, height=3).collect()}
    assert bytes(rows[1].payload) == b"abcabc"  # tiled to 6 bytes
    assert bytes(rows[2].payload) == bytes(6)  # empty -> zero-filled
    assert (rows[1].width, rows[1].height) == (2, 3)


def test_extract_features_real_decoder_fails_loudly(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from mini_hadoop_spark.operators.multimodal import (
        extract_features,
        synth_binary_docs,
    )

    out = extract_features(synth_binary_docs(spark, SF_DIR), fake=False)
    with pytest.raises((PythonException, Py4JJavaError)):
        out.collect()


def test_connected_components_transitive_and_converged(spark):
    """Planted chain a-b-c-d plus a separate pair e-f: labels must close
    transitively (one cluster per chain, min id as label) even though no
    direct a-d edge exists; singleton-free output; convergence required."""
    import pytest as pt
    from pyspark.sql import functions as F

    from mini_hadoop_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r.id: r.label for r in connected_components(edges, "doc_a", "doc_b").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    # a long path needs diameter-many iterations: max_iter=1 must raise,
    # not return a half-propagated labeling
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "doc_a long, doc_b long"
    )
    with pt.raises(RuntimeError, match="did not converge"):
        connected_components(chain, "doc_a", "doc_b", max_iter=1)


def test_connected_components_long_chain_exercises_checkpoint(spark):
    """A 12-link chain needs >10 iterations — crossing the
    CC_CHECKPOINT_EVERY=5 lineage truncations twice (the code path a
    short input never runs) and still converging to one component."""
    from mini_hadoop_spark.operators.dedup import CC_CHECKPOINT_EVERY, connected_components

    n = 13  # diameter 12 > 2 * CC_CHECKPOINT_EVERY
    assert n - 2 > 2 * CC_CHECKPOINT_EVERY
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long"
    )
    got = {r.id: r.label for r in connected_components(chain, "doc_a", "doc_b").collect()}
    assert got == {i: 1 for i in range(1, n + 1)}


def test_two_phase_cc_converges_where_hashmin_cannot(spark):
    """A 60-vertex chain has diameter 59: HashMin needs ~59 propagation
    rounds and must raise at max_iter=12, while the two-phase large-star/
    small-star variant collapses it within the same 12-round budget —
    the high-diameter escape hatch the HashMin docstring promises."""
    import pytest as pt

    from mini_hadoop_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "doc_a long, doc_b long"
    )
    with pt.raises(RuntimeError, match="did not converge"):
        connected_components(chain, "doc_a", "doc_b", max_iter=12)
    got = {
        r.id: r.label
        for r in connected_components(
            chain, "doc_a", "doc_b", max_iter=12, algorithm="two-phase"
        ).collect()
    }
    assert got == {i: 0 for i in range(61)}


def test_two_phase_cc_matches_hashmin_on_mixed_graph(spark):
    """Same labels as HashMin on a graph mixing chains, a clique, self
    loops, reversed edges and singleton components."""
    from mini_hadoop_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (3, 2), (4, 3),            # chain with reversed edge
         (10, 11), (11, 12), (10, 12),      # triangle
         (20, 20),                          # self-loop singleton
         (30, 31)],
        "doc_a long, doc_b long",
    )
    hashmin = {
        r.id: r.label for r in connected_components(edges, "doc_a", "doc_b").collect()
    }
    two_phase = {
        r.id: r.label
        for r in connected_components(
            edges, "doc_a", "doc_b", algorithm="two-phase"
        ).collect()
    }
    assert two_phase == hashmin
    assert two_phase[20] == 20  # self-loop vertex labels itself


def test_triangle_enumeration_on_planted_graphs(spark):
    """K4 (4 vertices, all 6 oriented edges) has exactly 4 triangles;
    a 4-chain has 0 — the oriented a<b<c enumeration must count each
    exactly once, via the same join shape as graph_triangle_count."""
    from pyspark.sql import functions as F

    def count_triangles(edge_rows):
        pairs = spark.createDataFrame(edge_rows, "doc_a long, doc_b long")
        ab = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        bc = pairs.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
        ac = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
        return ab.join(bc, "b").join(ac, ["a", "c"]).count()

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    assert count_triangles(k4) == 4
    chain = [(1, 2), (2, 3), (3, 4)]
    assert count_triangles(chain) == 0


def test_cluster_kmeans_topics_contract(spark):
    """Clustering report: every vector is assigned exactly once (sizes
    sum to the corpus), ≤ ivf_k(n) clusters, fractions/cohesions in
    range, majority label is real, and repeated runs are row-identical
    (the determinism contract in the module docstring)."""
    from mini_hadoop_spark.operators.clustering import cluster_kmeans_topics
    from mini_hadoop_spark.operators.similarity import ivf_k
    from mini_hadoop_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    rows = cluster_kmeans_topics(spark, SF_DIR).collect()
    n_corpus = load_table(spark, SF_DIR, "embeddings").count()
    assert 0 < len(rows) <= ivf_k(n_corpus)
    assert sum(r.n_vecs for r in rows) == n_corpus
    labels = {
        r.label for r in load_table(spark, SF_DIR, "embeddings").select("label").distinct().collect()
    }
    for r in rows:
        assert 0.0 < r.top_label_frac <= 1.0
        assert -1.0 <= r.cohesion <= 1.0
        assert r.top_label in labels
    again = cluster_kmeans_topics(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_matryoshka_kernel_rejects_ragged_and_null_vectors():
    """The scoring kernel's flat reshape must not misalign rows: here the
    lengths 3 + 1 sum to 2 x 2, which a bare reshape(2, 2) accepts."""
    import pyarrow as pa

    from mini_hadoop_spark.operators.similarity import _arrow_matrix

    assert _arrow_matrix(pa.array([[1.0, 2.0], [3.0, 4.0]]), 2).tolist() == [
        [1.0, 2.0], [3.0, 4.0]
    ]
    with pytest.raises(ValueError, match="2 dims each; 2 of 2 rows"):
        _arrow_matrix(pa.array([[1.0, 2.0, 3.0], [4.0]]), 2)
    with pytest.raises(ValueError, match="1 of 2 rows"):
        _arrow_matrix(pa.array([[1.0, 2.0], None]), 2)
    with pytest.raises(ValueError, match="1 null elements"):
        _arrow_matrix(pa.array([[1.0, None], [3.0, 4.0]]), 2)


def test_matryoshka_agreement_go_no_go_semantics(spark):
    """Pin the audit's decision semantics under the md5-budget sample:
    the report must still answer "can prefix k stand in for the full
    vector" — energy share must be strictly monotone in k (guaranteed by
    nested prefixes), agreement must be a valid fraction that does not
    DEGRADE as the prefix grows, and the query-set size must be the
    absolute budget (the linear-at-scale property the sample buys)."""
    from mini_hadoop_spark.operators.similarity import (
        MATRYOSHKA_DIMS,
        MATRYOSHKA_QUERY_BUDGET,
        similarity_matryoshka_agreement,
    )

    rows = {
        r["trunc_dim"]: r
        for r in similarity_matryoshka_agreement(spark, SF_DIR).collect()
    }
    assert sorted(rows) == sorted(MATRYOSHKA_DIMS)
    dims = sorted(MATRYOSHKA_DIMS)
    for k in dims:
        r = rows[k]
        assert r["n_queries"] == MATRYOSHKA_QUERY_BUDGET
        assert 0.0 <= r["topk_agreement"] <= 1.0
        assert 0.0 < r["mean_energy_share"] <= 1.0
    # nested prefixes: energy share strictly grows with k
    for lo, hi in zip(dims, dims[1:]):
        assert rows[lo]["mean_energy_share"] < rows[hi]["mean_energy_share"]
    # go/no-go ordering: a longer prefix may not agree WORSE than the
    # shortest one (the monotone trend the serving decision reads)
    assert rows[dims[-1]]["topk_agreement"] >= rows[dims[0]]["topk_agreement"]


def test_dedup_span_removal_planted_spans(spark, tmp_path):
    """Two docs share an 8-token run (positions 3-10 of doc 1, 0-7 of
    doc 2) and doc 3 is clean: the 4 overlapping duplicated 5-grams must
    merge into ONE maximal span of 8 positions in each sharing doc, the
    clean doc reports zeros, and removed_frac is exact."""
    from mini_hadoop_spark.operators.dedup import dedup_span_removal

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    sf = _write_docs(
        tmp_path,
        [
            f"one two three {shared} tail1 tail2",       # 13 tokens, span at 3..10
            f"{shared} extra1 extra2 extra3 extra4",      # 12 tokens, span at 0..7
            "totally unrelated words with no overlap at all here",  # 9 tokens
        ],
    )
    rows = {r["doc_id"]: r for r in dedup_span_removal(spark, sf).collect()}
    assert rows[1]["n_tokens"] == 13 and rows[2]["n_tokens"] == 12
    for doc in (1, 2):
        r = rows[doc]
        assert r["n_spans"] == 1, f"doc {doc}: overlapping grams must merge"
        assert r["n_dup_positions"] == 8
        assert r["longest_span"] == 8
    assert rows[1]["removed_frac"] == round(8 / 13, 6)
    assert rows[2]["removed_frac"] == round(8 / 12, 6)
    assert rows[3]["n_spans"] == 0
    assert rows[3]["n_dup_positions"] == 0
    assert rows[3]["removed_frac"] == 0.0


def test_quantize_pq_codes_contract(spark):
    """PQ audit invariants: every vector is fully encoded (8 codes, each
    a seed-derived centroid id), reconstruction error is non-negative,
    and codes are deterministic across runs (no RNG anywhere)."""
    from mini_hadoop_spark.operators.compression import PQ_KS, PQ_M, quantize_pq_codes

    df = quantize_pq_codes(spark, SF_DIR)
    rows = {r["vec_id"]: r for r in df.collect()}
    n_vec = len(rows)
    assert n_vec > 0
    seed_ids = set(sorted(rows)[:PQ_KS])  # first PQ_KS vec_ids are the seeds
    for r in rows.values():
        for i in range(PQ_M):
            assert r[f"code_{i}"] in seed_ids, "codes must be seed centroid ids"
        assert r["recon_mse"] >= 0.0
    again = {r["vec_id"]: r for r in quantize_pq_codes(spark, SF_DIR).collect()}
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_ann_ivfpq_selects_genuinely_similar(spark):
    """IVF-PQ quality contract: exact top-3 overlap with the
    uncompressed ranking is weak BY CONSTRUCTION on near-random
    synthetic vectors (PQ distortion reorders the fine ranking), so pin
    the robust property instead: neighbors selected through the
    compressed codes must be genuinely directionally similar — their
    TRUE mean cosine far above the ~0 background of random pairs.  Plus
    structure: exactly 3 ranked rows per query, deterministic."""
    from pyspark.sql import functions as F

    from mini_hadoop_spark.functions.vectors import dot
    from mini_hadoop_spark.operators.similarity import (
        _vectors,
        similarity_ann_ivfpq,
    )

    pq = similarity_ann_ivfpq(spark, SF_DIR).collect()
    per_q = {}
    for r in pq:
        per_q.setdefault(r["query_id"], []).append(r["rnk"])
    assert per_q, "no queries produced"
    for ranks in per_q.values():
        assert sorted(ranks) == [1, 2, 3]

    v = _vectors(spark, SF_DIR).select("vec_id", "e", "nv")
    q = v.select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nv").alias("nq"))
    n = v.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ne"), F.col("nv").alias("nn"))
    pairs = spark.createDataFrame(
        [(r["query_id"], r["neighbor_id"]) for r in pq], "query_id long, neighbor_id long"
    )
    cos = F.avg(dot(F.col("qe"), F.col("ne")) / F.col("nq") / F.col("nn"))
    mean_sel = pairs.join(q, "query_id").join(n, "neighbor_id").agg(cos).first()[0]
    bg = (
        q.filter(F.col("query_id") % 50 == 0)
        .crossJoin(n.filter(F.col("neighbor_id") % 7 == 0))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .agg(cos)
        .first()[0]
    )
    assert abs(bg) < 0.05, f"background cosine should be ~0, got {bg}"
    assert mean_sel >= 0.1, (
        f"ADC-selected neighbors carry no similarity signal: mean cosine "
        f"{mean_sel} vs background {bg}"
    )


def test_hard_negatives_contract(spark):
    """Every mined negative must carry a label different from its
    query's, ranks are dense 1..K per query, and the query set has
    exactly the md5 budget (or the whole corpus if smaller)."""
    from mini_hadoop_spark.operators.similarity import (
        HARD_NEG_BUDGET,
        HARD_NEG_K,
        similarity_hard_negatives,
    )

    rows = similarity_hard_negatives(spark, SF_DIR).collect()
    per_q = {}
    for r in rows:
        assert r["query_label"] != r["neighbor_label"]
        per_q.setdefault(r["query_id"], []).append(r["rnk"])
    assert len(per_q) == HARD_NEG_BUDGET
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, HARD_NEG_K + 1))


def test_cross_source_matrix_shares_sum_to_one(spark):
    from mini_hadoop_spark.operators.dedup import dedup_cross_source_matrix

    rows = dedup_cross_source_matrix(spark, SF_DIR).collect()
    assert rows, "sf corpus plants near-dup pairs; matrix must be non-empty"
    total_share = sum(r["pair_share"] for r in rows)
    assert abs(total_share - 1.0) < 1e-4
    for r in rows:
        assert r["source_x"] <= r["source_y"], "matrix must be unordered-canonical"
        assert r["n_pairs"] >= 1


def test_storage_report_reclaimable_consistency(spark):
    """reclaimable = total - bytes of one copy per distinct payload, and
    dup_assets = n_assets - n_distinct_payloads — per modality."""
    from mini_hadoop_spark.operators.multimodal import multimodal_storage_report

    for r in multimodal_storage_report(spark, SF_DIR).collect():
        assert r["dup_assets"] == r["n_assets"] - r["n_distinct_payloads"]
        assert 0 <= r["reclaimable_bytes"] <= r["total_bytes"]
        assert r["n_distinct_payloads"] <= r["n_assets"]


def test_lifecycle_consistent_with_weekly_retention(spark):
    """Growth-accounting identities vs the independent retention query:
    new + retained + resurrected == n_active per week, retained matches
    events_weekly_retention's count, and churned(w) == active(w-1) -
    retained(w) for every week inside the corpus range."""
    from mini_hadoop_spark.operators.events import (
        events_user_lifecycle,
        events_weekly_retention,
    )

    ret = {r["week"]: r for r in events_weekly_retention(spark, SF_DIR).collect()}
    life = {r["week"]: r for r in events_user_lifecycle(spark, SF_DIR).collect()}
    weeks = sorted(ret)
    for w in weeks:
        lr = life[w]
        assert (
            lr["n_new"] + lr["n_retained"] + lr["n_resurrected"] == ret[w]["n_active"]
        ), f"week {w}: lifecycle classes must partition the active set"
        assert lr["n_retained"] == ret[w]["n_retained"]
    for prev, cur in zip(weeks, weeks[1:]):
        assert life[cur]["n_churned"] == ret[prev]["n_active"] - life[cur]["n_retained"], (
            f"week {cur}: churn must equal last week's active minus retained"
        )


def test_semdedup_prunes_planted_cluster_dups(spark, tmp_path):
    """SemDeDup keep-lowest-id pruning on planted near-copies: copies get
    HIGH vec_ids so they are not quantizer seeds, land in their base's
    cluster (cos ~0.999 to the base dwarfs inter-base cosine), and are
    marked pruned while every base survives.  The sf tables have no
    semantic dups, so the planted corpus is built here."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mini_hadoop_spark.operators.dedup import SEMDEDUP_TAU, dedup_semantic_semdedup
    from mini_hadoop_spark.session import clear

    rng = random.Random(11)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(40)]
    copies = [
        (1000 + i, [x + rng.gauss(0, 0.01) for x in vecs[i][1]]) for i in range(6)
    ]
    allv = vecs + copies
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([v for v, _ in allv], pa.int64()),
                "embedding": pa.array([e for _, e in allv], pa.list_(pa.float64())),
                "label": pa.array([0] * len(allv), pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    clear()
    out = {r.vec_id: r for r in dedup_semantic_semdedup(spark, str(tmp_path)).collect()}
    clear()

    assert len(out) == len(allv)
    for i in range(6):
        base, copy = out[i], out[1000 + i]
        assert copy.cid == base.cid, f"copy of {i} split from its base's cluster"
        assert copy.is_dup == 1 and copy.max_other_cos >= SEMDEDUP_TAU
        assert base.is_dup == 0, "keep-lowest-id must retain the base"
    assert sum(r.is_dup for r in out.values()) == 6


def test_bigram_lm_score_ranks_predictable_text(spark, tmp_path):
    """The count-LM quality score must rank repetitive/predictable text
    above a shuffled-gibberish doc drawn from the same vocabulary, and
    emit the (0, -1.0) guard row for a sub-2-token doc.  Hand-checkable
    corpus: in the two-doc model below every 'the cat' transition is
    deterministic in doc 1 (avg P -> high) while doc 2's transitions
    split the context counts (avg P lower)."""
    from mini_hadoop_spark.operators.text_scoring import quality_bigram_lm_score

    sf = _write_docs(
        tmp_path,
        [
            "the cat the cat the cat the cat",  # fully predictable chain
            "cat ran the dog cat the ran dog the cat ran",  # mixed contexts
            "solo",  # <2 tokens -> guard row
        ],
    )
    out = {r.doc_id: r for r in quality_bigram_lm_score(spark, sf).collect()}
    assert out[3].n_bigrams == 0 and out[3].avg_cond_p == -1.0
    assert out[1].n_bigrams == 7 and out[2].n_bigrams == 10
    assert out[1].avg_cond_p > out[2].avg_cond_p
    # doc 1's only contexts are 'the'->'cat' (shared with doc 2) and
    # 'cat'->'the' — every conditional is cnt12/cnt1 of the JOINT corpus
    # model, so the exact values are auditable by hand if this moves
    assert out[1].avg_cond_p > 0.6


def test_mix_temperature_weights_invariants(spark):
    """Temperature weights are a probability distribution (sum == 1 up
    to the 1e-6 rounding) that FLATTENS the share distribution: every
    language's temp_weight sits between its raw share and the uniform
    1/n (sqrt pulls toward uniform), so under-represented languages get
    sample_factor > 1 and over-represented ones < 1."""
    from mini_hadoop_spark.operators.text_analysis import mix_temperature_weights

    rows = mix_temperature_weights(spark, SF_DIR).collect()
    n = len(rows)
    assert n >= 2
    assert abs(sum(r.temp_weight for r in rows) - 1.0) < n * 1e-6
    uniform = 1.0 / n
    for r in rows:
        lo, hi = sorted((r.token_share, uniform))
        assert lo - 1e-6 <= r.temp_weight <= hi + 1e-6, r
        if r.token_share < uniform - 1e-6:
            assert r.sample_factor > 1.0, r
        elif r.token_share > uniform + 1e-6:
            assert r.sample_factor < 1.0, r


def test_bigram_lm_score_bounds(spark):
    """Every scored document's avg conditional probability is a real
    probability: in (0, 1] for docs with bigrams, exactly -1.0 for the
    guard rows; n_bigrams == max(token_count - 1, 0) per doc."""
    from pyspark.sql import functions as F

    from mini_hadoop_spark.functions.text import tokens
    from mini_hadoop_spark.operators.text_scoring import quality_bigram_lm_score
    from mini_hadoop_spark.sources.catalog import load_table

    out = {r.doc_id: r for r in quality_bigram_lm_score(spark, SF_DIR).collect()}
    toks = {
        r.doc_id: r.n
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", F.size(tokens("text")).alias("n"))
        .collect()
    }
    assert set(out) == set(toks)
    for doc_id, r in out.items():
        assert r.n_bigrams == max(toks[doc_id] - 1, 0)
        if r.n_bigrams:
            assert 0.0 < r.avg_cond_p <= 1.0, r
        else:
            assert r.avg_cond_p == -1.0


def test_semdedup_k_clamps_and_scales():
    """K derivation: ceil(n/target) inside the clamp, the floor for tiny
    corpora, the ceiling for planetary ones — and monotone in n."""
    from mini_hadoop_spark.operators.similarity import (
        SEMDEDUP_K_MAX,
        SEMDEDUP_K_MIN,
        SEMDEDUP_TARGET_CLUSTER,
        semdedup_k,
    )

    assert semdedup_k(0) == SEMDEDUP_K_MIN
    assert semdedup_k(1) == SEMDEDUP_K_MIN
    assert semdedup_k(500) == max(SEMDEDUP_K_MIN, -(-500 // SEMDEDUP_TARGET_CLUSTER))
    assert semdedup_k(2000) == -(-2000 // SEMDEDUP_TARGET_CLUSTER)
    assert semdedup_k(10**12) == SEMDEDUP_K_MAX
    ks = [semdedup_k(n) for n in (0, 10, 100, 1000, 10**6, 10**9)]
    assert ks == sorted(ks)


def test_ivf_k_clamps_scales_and_matches_sql():
    """IVF K derivation (r12): ceil(sqrt(2n)) inside the clamp, floor
    for tiny corpora, ceiling for planetary ones, monotone in n — and
    the SQL twin (IVF_KPARAM_SQL) derives the IDENTICAL value from
    count(*), the cross-engine lockstep every IVF oracle depends on."""
    import math

    import duckdb

    from mini_hadoop_spark.operators.similarity import (
        IVF_K_MAX,
        IVF_K_MIN,
        IVF_KPARAM_SQL,
        ivf_k,
    )

    assert ivf_k(0) == IVF_K_MIN
    assert ivf_k(1) == IVF_K_MIN
    assert ivf_k(500) == 32  # the driver's sf0.01 corpus — historical K
    assert ivf_k(2000) == 64  # sf0.1
    assert ivf_k(10**12) == IVF_K_MAX
    ks = [ivf_k(n) for n in (0, 10, 100, 1000, 10**6, 10**9)]
    assert ks == sorted(ks)
    con = duckdb.connect()
    for n in (0, 1, 7, 31, 32, 33, 499, 500, 501, 2000, 123457, 10**9):
        con.execute(f"CREATE OR REPLACE VIEW embeddings AS SELECT * FROM range({n})")
        sql_k = con.sql(f"SELECT {IVF_KPARAM_SQL} AS k").fetchone()[0]
        assert sql_k == ivf_k(n), (n, sql_k, ivf_k(n))


def test_ivf_list_balance_invariants(spark):
    """ivf_list_balance (r12): one row whose integer fields reconcile —
    list sizes sum to the corpus, quantiles sit inside [min, max],
    imbalance = max/avg >= 1, and empty + non-empty = configured K
    (the corpus-derived ivf_k)."""
    from mini_hadoop_spark.operators.similarity import (
        corpus_vector_count,
        ivf_k,
        ivf_list_balance,
    )

    rows = ivf_list_balance(spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]
    n = corpus_vector_count(spark, SF_DIR)
    assert r.k_configured == ivf_k(n)
    assert r.n_lists + r.empty_lists == r.k_configured
    assert r.n_vectors == n
    assert r.min_list <= r.p50_list <= r.p90_list <= r.max_list
    assert r.imbalance >= 1.0
    assert r.avg_list == pytest.approx(n / r.n_lists, abs=1e-6)


def test_dedup_threshold_curve_invariants(spark):
    """dedup_threshold_curve (r12): one row per probe, counts monotone
    NON-INCREASING as the cutoff tightens, doc counts consistent with
    pair counts, and the bottom probe equal to the full operating pair
    graph (the curve starts AT the memoized graph's threshold)."""
    from mini_hadoop_spark.operators.dedup import (
        DEDUP_THRESHOLD_PROBES,
        dedup_near_jaccard,
        dedup_threshold_curve,
    )

    rows = sorted(dedup_threshold_curve(spark, SF_DIR).collect(), key=lambda r: r.threshold)
    assert [r.threshold for r in rows] == sorted(DEDUP_THRESHOLD_PROBES)
    pair_counts = [r.n_pairs for r in rows]
    doc_counts = [r.n_docs for r in rows]
    assert pair_counts == sorted(pair_counts, reverse=True)
    assert doc_counts == sorted(doc_counts, reverse=True)
    for r in rows:
        assert r.n_docs <= 2 * r.n_pairs
        if r.n_pairs:
            assert r.n_docs >= 2
    assert rows[0].n_pairs == dedup_near_jaccard(spark, SF_DIR).count()


def test_contamination_semantic_invariants(spark):
    """contamination_semantic (r12): one row per md5-budget eval vector;
    n_train excludes the eval set, the flag count is bounded by it, the
    nearest train vector is never an eval vector, and max_cos is a
    valid cosine."""
    from mini_hadoop_spark.operators.similarity import (
        ANN_QUERY_BUDGET,
        _vectors,
        ann_query_ids,
        contamination_semantic,
        corpus_vector_count,
    )

    rows = contamination_semantic(spark, SF_DIR).collect()
    n = corpus_vector_count(spark, SF_DIR)
    budget = min(ANN_QUERY_BUDGET, n)
    assert len(rows) == budget
    eval_ids = {
        r.vec_id for r in ann_query_ids(_vectors(spark, SF_DIR)).collect()
    }
    assert {r.eval_id for r in rows} == eval_ids
    for r in rows:
        assert r.n_train == n - budget
        assert 0 <= r.n_contaminated <= r.n_train
        assert -1.0 <= r.max_cos <= 1.0
        assert r.nearest_train_id not in eval_ids
    # the threshold is calibrated to flag a real (non-empty, non-total)
    # tail on this corpus family
    total_flagged = sum(r.n_contaminated for r in rows)
    assert 0 < total_flagged < sum(r.n_train for r in rows)


def test_ann_nprobe_curve_monotone(spark):
    """Probing more inverted lists can only widen the candidate set, so
    recall@3 must be non-decreasing in nprobe, and the largest arm's
    recall must match the registered fixed-nprobe IVF audit."""
    from mini_hadoop_spark.operators.similarity import (
        IVF_NPROBE,
        similarity_ann_nprobe_curve,
    )

    rows = sorted(
        similarity_ann_nprobe_curve(spark, SF_DIR).collect(), key=lambda r: r.nprobe
    )
    assert [r.nprobe for r in rows] == [1, 2, 4, 8]
    recalls = [r.recall for r in rows]
    assert recalls == sorted(recalls)
    assert all(r.n_hit <= r.n_true for r in rows)
    # all arms share one ground truth
    assert len({(r.n_queries, r.n_true) for r in rows}) == 1
    assert IVF_NPROBE in [r.nprobe for r in rows]


def test_png_fixture_is_structurally_valid():
    """tests/fixtures/gray_8x8.png is a committed REAL PNG (hand-built
    from the spec with stdlib zlib/struct — no PIL needed to create or
    check it): magic, IHDR geometry, per-chunk CRCs, and the IDAT
    scanlines all verify.  Keeps the fixture honest in containers
    without PIL; the skip-marked test below actually decodes it."""
    import struct
    import zlib
    from pathlib import Path

    data = Path(__file__).parent.joinpath("fixtures", "gray_8x8.png").read_bytes()
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    pos, chunks = 8, {}
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        assert crc == zlib.crc32(typ + body) & 0xFFFFFFFF, f"bad CRC on {typ}"
        chunks[typ] = body
        pos += 12 + length
    w, h, depth, ctype = struct.unpack_from(">IIBB", chunks[b"IHDR"])
    assert (w, h, depth, ctype) == (8, 8, 8, 2)  # 8x8, 8-bit RGB
    raw = zlib.decompress(chunks[b"IDAT"])
    assert len(raw) == 8 * (1 + 8 * 3)
    for row in range(8):
        line = raw[row * 25 : (row + 1) * 25]
        assert line[0] == 0 and set(line[1:]) == {0x80}  # filter 0, all-gray


def test_bmp_fixture_decodes_without_pil(spark):
    """tests/fixtures/gray_8x8.bmp is a committed REAL 24-bit BI_RGB
    BMP; the stdlib parser (r12) decodes it with NO external imaging
    library, so the image arm genuinely EXECUTES in this container:
    uniform gray 0x80 -> integer luma 128 -> one-hot bin 4, through
    decode_payload directly AND through the mapInPandas Arrow seam."""
    from pathlib import Path

    from mini_hadoop_spark.operators.multimodal import (
        FEATURE_DIM,
        _decode_bmp_rgb,
        decode_payload,
        extract_features,
    )

    payload = Path(__file__).parent.joinpath("fixtures", "gray_8x8.bmp").read_bytes()
    assert _decode_bmp_rgb(payload) == [(0x80, 0x80, 0x80)] * 64
    feats = decode_payload(payload, "image")
    assert len(feats) == FEATURE_DIM
    assert feats[4] == pytest.approx(1.0) and sum(feats) == pytest.approx(1.0)
    df = spark.createDataFrame(
        [(1, "image", bytearray(payload))], "doc_id long, modality string, payload binary"
    )
    rows = extract_features(df, fake=False).collect()
    assert len(rows) == 1 and list(rows[0].features) == feats


def test_bmp_decoder_padding_flip_and_rejections():
    """BMP layout edges: 4-byte row padding + bottom-up storage flip
    back to raster order; palette/truncated/non-BMP payloads reject
    loudly with ValueError (never a silent stub)."""
    import struct

    from mini_hadoop_spark.operators.multimodal import _decode_bmp_rgb

    def bmp24(width, height, pixel_rows):
        stride = (width * 3 + 3) & ~3
        data = bytearray()
        for row in reversed(pixel_rows):
            line = bytearray()
            for (r, g, b) in row:
                line += bytes((b, g, r))
            line += bytes(stride - len(line))
            data += line
        dib = struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0
        )
        off = 14 + 40
        return b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off) + dib + bytes(data)

    top, bot = [(255, 0, 0)] * 3, [(0, 0, 255)] * 3
    px = _decode_bmp_rgb(bmp24(3, 2, [top, bot]))  # stride 9 -> padded 12
    assert px == top + bot
    good = bmp24(3, 2, [top, bot])
    with pytest.raises(ValueError, match="not a BMP"):
        _decode_bmp_rgb(b"XX" + good[2:])
    with pytest.raises(ValueError, match="not a BMP"):
        _decode_bmp_rgb(good[:40])
    bad8 = bytearray(good)
    struct.pack_into("<H", bad8, 28, 8)
    with pytest.raises(ValueError, match="only 24-bit"):
        _decode_bmp_rgb(bytes(bad8))


def test_video_decode_bmp_avi_end_to_end_without_pil():
    """FULL video decode with zero external libraries: an in-memory AVI
    whose two 00db frames are 24-bit BMPs — stdlib RIFF demux + stdlib
    BMP per-frame decode + frame-mean features.  Gray 16 -> luma 16 ->
    bin 0; gray 240 -> luma 240 -> bin 7; the mean is 0.5/0.5."""
    import struct

    from mini_hadoop_spark.operators.multimodal import FEATURE_DIM, decode_payload

    def bmp_gray(g):
        stride = 8 * 3
        data = bytes((g, g, g)) * 8 * 8
        dib = struct.pack("<IiiHHIIiiII", 40, 8, 8, 1, 24, 0, len(data), 2835, 2835, 0, 0)
        off = 14 + 40
        return b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off) + dib + data

    def chunk(fourcc, body):
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(t, body):
        inner = t + body
        return b"LIST" + struct.pack("<I", len(inner)) + inner

    movi = lst(b"movi", b"".join(chunk(b"00db", bmp_gray(g)) for g in (16, 240)))
    body = b"AVI " + movi
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    feats = decode_payload(payload, "video")
    assert len(feats) == FEATURE_DIM
    assert feats[0] == pytest.approx(0.5) and feats[7] == pytest.approx(0.5)
    assert sum(feats) == pytest.approx(1.0)


def test_real_image_features_on_png_fixture():
    """The REAL decode arm (multimodal._real_image_features) on the
    committed PNG — un-gated from PIL in r15 (the stdlib zlib decoder
    handles 8-bit PNGs): a uniform gray (0x80) image gives the same
    one-hot 8-bin luma histogram under BOTH arms (PIL's RGB convert +
    16x16 resize leaves a uniform image unchanged) — luma =
    (299+587+114)*128//1000 = 128 -> bin 4."""
    from pathlib import Path

    from mini_hadoop_spark.operators.multimodal import FEATURE_DIM, decode_payload

    payload = Path(__file__).parent.joinpath("fixtures", "gray_8x8.png").read_bytes()
    feats = decode_payload(payload, "image")
    assert len(feats) == FEATURE_DIM
    assert feats[4] == pytest.approx(1.0)
    assert sum(feats) == pytest.approx(1.0)


def test_wav_fixture_is_structurally_valid():
    """tests/fixtures/tone_8samples.wav is a committed REAL RIFF/WAVE
    file: magic, fmt geometry (mono 16-bit PCM @ 8 kHz) and the 8 known
    samples all verify with stdlib struct — no audio libs needed."""
    import struct
    from pathlib import Path

    data = Path(__file__).parent.joinpath("fixtures", "tone_8samples.wav").read_bytes()
    assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
    fmt_at = data.index(b"fmt ")
    audio_fmt, nch, rate, _, _, bits = struct.unpack_from("<HHIIHH", data, fmt_at + 8)
    assert (audio_fmt, nch, rate, bits) == (1, 1, 8000, 16)  # PCM mono 16-bit
    data_at = data.index(b"data")
    (nbytes,) = struct.unpack_from("<I", data, data_at + 4)
    samples = struct.unpack_from(f"<{nbytes // 2}h", data, data_at + 8)
    assert samples == (0, 8192, -8192, 16384, -16384, 24576, 32767, -32768)


def test_real_audio_features_on_wav_fixture(spark):
    """The REAL audio decode arm (stdlib wave — always available): the
    known 8 samples land in exactly the predicted amplitude bins, both
    through decode_payload directly AND through the mapInPandas Arrow
    seam (extract_features with fake=False) — the real-decoder batch
    contract, not just the scalar function."""
    from pathlib import Path

    from mini_hadoop_spark.operators.multimodal import decode_payload, extract_features

    payload = Path(__file__).parent.joinpath("fixtures", "tone_8samples.wav").read_bytes()
    # |amp| bins at dim=8: 0->b0, 8192->b2 (x2), 16384->b4 (x2),
    # 24576->b6, 32767->b7, 32768->clamped b7
    want = [0.125, 0.0, 0.25, 0.0, 0.25, 0.0, 0.125, 0.25]
    assert decode_payload(payload, "audio") == want
    df = spark.createDataFrame(
        [(1, "audio", bytearray(payload))], "doc_id long, modality string, payload binary"
    )
    rows = extract_features(df, fake=False).collect()
    assert len(rows) == 1
    assert rows[0].n_bytes == len(payload)
    assert list(rows[0].features) == want


def test_avi_fixture_demuxes_to_exact_frames(spark):
    """tests/fixtures/clip_3frames.avi is a committed REAL RIFF/AVI
    container (hand-built: hdrl/avih + movi with three 00dc frame
    chunks, one odd-sized to exercise even-byte padding).  The stdlib
    demuxer recovers the exact frame payloads, and the mapInPandas twin
    (sample_avi_frames) emits them through the Arrow row-expanding
    batch contract."""
    from pathlib import Path

    from mini_hadoop_spark.operators.multimodal import demux_avi_frames, sample_avi_frames

    data = Path(__file__).parent.joinpath("fixtures", "clip_3frames.avi").read_bytes()
    frames = demux_avi_frames(data)
    assert frames == [b"FRAME-0-PAYLOAD!", b"FRAME-1-ODD", b"FRAME-2-PAYLOAD!"]
    with pytest.raises(ValueError):
        demux_avi_frames(b"\x00\x01")
    df = spark.createDataFrame(
        [(7, "video", bytearray(data))], "doc_id long, modality string, payload binary"
    )
    rows = sorted(sample_avi_frames(df, every_n=2).collect(), key=lambda r: r.frame_idx)
    assert [(r.doc_id, r.frame_idx, bytes(r.frame_payload), r.n_frames) for r in rows] == [
        (7, 0, b"FRAME-0-PAYLOAD!", 3),
        (7, 2, b"FRAME-2-PAYLOAD!", 3),
    ]


def test_video_decode_demuxes_then_gates_on_pil():
    """decode_payload('video'): the demux stage is REAL and always runs
    (its frame count appears in the loud error when PIL is absent);
    non-AVI payloads and empty containers fail loudly too."""
    from pathlib import Path

    from mini_hadoop_spark.operators.multimodal import decode_payload

    data = Path(__file__).parent.joinpath("fixtures", "clip_3frames.avi").read_bytes()
    if _pil_available():
        # frames here are not JPEGs; PIL decode of raw bytes must raise
        # loudly, never silently stub
        with pytest.raises(Exception):
            decode_payload(data, "video")
    else:
        with pytest.raises(NotImplementedError, match="demuxed 3 real frames"):
            decode_payload(data, "video")
    with pytest.raises(NotImplementedError, match="neither a RIFF/AVI nor an ISO-BMFF"):
        decode_payload(b"\x00\x01", "video")


def test_mjpeg_fixture_is_structurally_valid():
    """tests/fixtures/clip_2frames_mjpeg.avi is a committed REAL MJPEG
    AVI (VERDICT r12 #6): two hand-built baseline JFIF frames (solid
    mid-gray 8x8, one MCU — DC category 0 + EOB scan), differing quant
    tables so the frames aren't byte-identical.  Verified with stdlib
    struct: both frames demux, and each parses as a complete JPEG
    marker stream (SOI, DQT, SOF0 with 8x8 dims, two DHTs, SOS, EOI) —
    the fixture stays honest in containers without any JPEG decoder."""
    import struct
    from pathlib import Path

    from mini_hadoop_spark.operators.multimodal import demux_avi_frames

    data = Path(__file__).parent.joinpath("fixtures", "clip_2frames_mjpeg.avi").read_bytes()
    frames = demux_avi_frames(data)
    assert len(frames) == 2 and frames[0] != frames[1]
    for f in frames:
        assert f[:2] == b"\xff\xd8" and f[-2:] == b"\xff\xd9"
        pos, markers = 2, []
        while pos < len(f) - 2:
            assert f[pos] == 0xFF, "marker stream must stay in sync"
            marker = f[pos + 1]
            markers.append(marker)
            (seg_len,) = struct.unpack_from(">H", f, pos + 2)
            if marker == 0xC0:  # SOF0: baseline, 8-bit, 8x8, 1 component
                prec, h, w, ncomp = struct.unpack_from(">BHHB", f, pos + 4)
                assert (prec, h, w, ncomp) == (8, 8, 8, 1)
            if marker == 0xDA:  # SOS: entropy data runs to EOI
                break
            pos += 2 + seg_len
        assert markers.count(0xDB) == 1 and markers.count(0xC4) == 2
        assert markers[-1] == 0xDA


def test_mjpeg_fixture_decode_gate(spark):
    """decode_payload('video') on the committed MJPEG fixture decodes
    END-TO-END with or without PIL (r15, VERDICT r14 #6: baseline-JPEG
    frames go through the stdlib T.81 decoder when PIL is absent): both
    solid mid-gray frames give luma 128 -> the one-hot bin-4 histogram,
    identical under both arms, so the pixel stats are pinned exactly.
    Also drives the sniffing frame sampler over the fixture through the
    Arrow seam — the scale-relevant demux path works PIL or not."""
    from pathlib import Path

    from mini_hadoop_spark.operators.multimodal import (
        FEATURE_DIM,
        decode_payload,
        sample_video_frames,
    )

    data = Path(__file__).parent.joinpath("fixtures", "clip_2frames_mjpeg.avi").read_bytes()
    feats = decode_payload(data, "video")
    assert len(feats) == FEATURE_DIM
    assert feats[4] == pytest.approx(1.0)
    assert sum(feats) == pytest.approx(1.0)
    df = spark.createDataFrame(
        [(3, "video", bytearray(data))], "doc_id long, modality string, payload binary"
    )
    rows = sorted(sample_video_frames(df, every_n=1).collect(), key=lambda r: r.frame_idx)
    assert [(r.doc_id, r.frame_idx, r.n_frames) for r in rows] == [(3, 0, 2), (3, 1, 2)]
    assert all(bytes(r.frame_payload)[:2] == b"\xff\xd8" for r in rows)


@pytest.mark.skipif(not _pil_available(), reason="PIL not installed in this container")
def test_video_decode_real_mjpeg_end_to_end():
    """With PIL present: an in-memory MJPEG AVI (JPEG frames) decodes
    end-to-end — demux, per-frame luma histogram, frame mean."""
    import io
    import struct

    from PIL import Image

    from mini_hadoop_spark.operators.multimodal import FEATURE_DIM, decode_payload

    def jpeg(gray):
        buf = io.BytesIO()
        Image.new("RGB", (8, 8), (gray, gray, gray)).save(buf, format="JPEG")
        return buf.getvalue()

    def chunk(fourcc, body):
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(t, body):
        inner = t + body
        return b"LIST" + struct.pack("<I", len(inner)) + inner

    movi = lst(b"movi", b"".join(chunk(b"00dc", jpeg(g)) for g in (16, 240)))
    body = b"AVI " + movi
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    feats = decode_payload(payload, "video")
    assert len(feats) == FEATURE_DIM
    assert sum(feats) == pytest.approx(1.0)


def _mp4_box(btype: bytes, body: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(body)) + btype + body


def test_mp4_fixture_demuxes_to_exact_frames(spark):
    """tests/fixtures/clip_3frames.mp4 is a committed REAL ISO-BMFF
    container (hand-built per ISO/IEC 14496-12: ftyp + mdat + moov with
    a vide trak whose stsz/stsc/stco tables split the 3 samples across
    2 chunks — the stsc run logic is exercised, not just 1:1 chunks).
    The stdlib demuxer recovers the exact sample payloads; the
    container-sniffing mapInPandas twin (sample_video_frames) emits
    them through the Arrow row-expanding batch contract for a MIXED
    AVI+MP4 corpus in one DataFrame."""
    from pathlib import Path

    from mini_hadoop_spark.operators.multimodal import (
        demux_mp4_frames,
        demux_video_frames,
        sample_video_frames,
    )

    fixtures = Path(__file__).parent / "fixtures"
    mp4 = fixtures.joinpath("clip_3frames.mp4").read_bytes()
    avi = fixtures.joinpath("clip_3frames.avi").read_bytes()
    want = [b"FRAME-0-PAYLOAD!", b"FRAME-1-ODD", b"FRAME-2-PAYLOAD!"]
    assert demux_mp4_frames(mp4) == want
    # the sniffer routes both containers to the same frame list
    assert demux_video_frames(mp4) == want
    assert demux_video_frames(avi) == want
    with pytest.raises(ValueError):
        demux_mp4_frames(b"\x00\x01\x02\x03")
    with pytest.raises(ValueError, match="neither a RIFF/AVI nor an ISO-BMFF"):
        demux_video_frames(b"\x00\x01\x02\x03")
    df = spark.createDataFrame(
        [(7, "video", bytearray(avi)), (9, "video", bytearray(mp4))],
        "doc_id long, modality string, payload binary",
    )
    rows = sorted(
        sample_video_frames(df, every_n=2).collect(), key=lambda r: (r.doc_id, r.frame_idx)
    )
    assert [(r.doc_id, r.frame_idx, bytes(r.frame_payload), r.n_frames) for r in rows] == [
        (7, 0, want[0], 3),
        (7, 2, want[2], 3),
        (9, 0, want[0], 3),
        (9, 2, want[2], 3),
    ]


def test_mp4_demux_co64_largesize_and_negatives():
    """ISO-BMFF edge paths: 64-bit chunk offsets (co64), the size==1
    largesize box header, fixed-size stsz, and the loud rejections a
    real reader needs (no moov, no video track, sample table past the
    payload end)."""
    import struct

    from mini_hadoop_spark.operators.multimodal import demux_mp4_frames

    box = _mp4_box
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    f = b"XYZW"  # one fixed-size 4-byte sample per chunk
    # mdat with a LARGESIZE header: size field == 1, 64-bit size follows
    mdat_body = f * 2
    mdat = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(mdat_body)) + mdat_body
    data_start = len(ftyp) + 16
    stsz = box(b"stsz", struct.pack(">III", 0, len(f), 2))  # fixed-size arm
    stsc = box(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, 1, 1))
    co64 = box(b"co64", struct.pack(">II", 0, 2) + struct.pack(">QQ", data_start, data_start + 4))
    stbl = box(b"stbl", stsz + stsc + co64)
    hdlr = box(b"hdlr", struct.pack(">II", 0, 0) + b"vide" + b"\x00" * 12)
    mdia = box(b"mdia", hdlr + box(b"minf", stbl))
    moov = box(b"moov", box(b"trak", mdia))
    assert demux_mp4_frames(ftyp + mdat + moov) == [f, f]

    with pytest.raises(ValueError, match="no moov"):
        demux_mp4_frames(ftyp + mdat)
    sound = box(b"hdlr", struct.pack(">II", 0, 0) + b"soun" + b"\x00" * 12)
    moov_audio = box(b"moov", box(b"trak", box(b"mdia", sound + box(b"minf", stbl))))
    with pytest.raises(ValueError, match="no video"):
        demux_mp4_frames(ftyp + mdat + moov_audio)
    bad_stco = box(b"stco", struct.pack(">II", 0, 1) + struct.pack(">I", 1 << 24))
    bad_stbl = box(b"stbl", stsz + stsc + bad_stco)
    bad_moov = box(b"moov", box(b"trak", box(b"mdia", hdlr + box(b"minf", bad_stbl))))
    with pytest.raises(ValueError, match="past the payload end"):
        demux_mp4_frames(ftyp + mdat + bad_moov)


def test_mp4_corrupt_sample_tables_raise_valueerror():
    """Box-valid but corrupt sample tables (truncated stsz body,
    oversized counts) must surface as the documented ValueError, never
    escape as struct.error (ADVICE r12: demux_video_frames and
    decode_payload only convert ValueError, so a raw struct.error would
    crash an executor task on untrusted crawl payloads)."""
    import struct

    from mini_hadoop_spark.operators.multimodal import (
        decode_payload,
        demux_mp4_frames,
        demux_video_frames,
    )

    box = _mp4_box
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    hdlr = box(b"hdlr", struct.pack(">II", 0, 0) + b"vide" + b"\x00" * 12)
    stsc = box(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, 1, 1))
    stco = box(b"stco", struct.pack(">II", 0, 1) + struct.pack(">I", 0))

    # fixed-size arm with a bomb count: 1-byte samples, sample_count
    # 0xFFFFFFFF — must raise BEFORE allocating the ~4e9-element list
    bomb_stsz = box(b"stsz", struct.pack(">III", 0, 1, 0xFFFFFFFF))
    # stsz body truncated: header says 4 variable sizes, body has none
    short_stsz = box(b"stsz", struct.pack(">III", 0, 0, 4))
    # stsz body cut mid-header: not even sample_size/sample_count fit
    headerless_stsz = box(b"stsz", b"\x00\x00")
    # stsc run count overflows its body
    big_stsc = box(b"stsc", struct.pack(">II", 0, 1 << 20))
    # stco entry count overflows its body
    big_stco = box(b"stco", struct.pack(">II", 0, 1 << 20))
    cases = [
        bomb_stsz + stsc + stco,
        short_stsz + stsc + stco,
        headerless_stsz + stsc + stco,
        box(b"stsz", struct.pack(">III", 0, 4, 1)) + big_stsc + stco,
        box(b"stsz", struct.pack(">III", 0, 4, 1)) + stsc + big_stco,
    ]
    for stbl_body in cases:
        moov = box(
            b"moov",
            box(b"trak", box(b"mdia", hdlr + box(b"minf", box(b"stbl", stbl_body)))),
        )
        payload = ftyp + moov
        with pytest.raises(ValueError, match="corrupt ISO-BMFF sample tables"):
            demux_mp4_frames(payload)
        # and the wrappers convert, as their contracts document
        with pytest.raises(ValueError):
            demux_video_frames(payload)
        with pytest.raises(NotImplementedError):
            decode_payload(payload, "video")


def test_video_decode_mp4_gates_on_pil():
    """decode_payload('video') on the MP4 fixture: demux is REAL and
    always runs; per-frame codec decode gates on PIL exactly like the
    AVI path (frame count surfaces in the loud error)."""
    from pathlib import Path

    from mini_hadoop_spark.operators.multimodal import decode_payload

    data = Path(__file__).parent.joinpath("fixtures", "clip_3frames.mp4").read_bytes()
    if _pil_available():
        with pytest.raises(Exception):  # fixture frames are not JPEGs
            decode_payload(data, "video")
    else:
        with pytest.raises(NotImplementedError, match="demuxed 3 real frames"):
            decode_payload(data, "video")


@pytest.mark.skipif(not _pil_available(), reason="PIL not installed in this container")
def test_video_decode_real_mjpeg_mp4_end_to_end():
    """With PIL present: an in-memory MJPEG-in-MP4 (JPEG samples indexed
    by real stsz/stsc/stco tables) decodes end-to-end — demux, per-frame
    luma histogram, frame mean — the ISO-BMFF twin of the AVI test."""
    import io
    import struct

    from PIL import Image

    from mini_hadoop_spark.operators.multimodal import FEATURE_DIM, decode_payload

    def jpeg(gray):
        buf = io.BytesIO()
        Image.new("RGB", (8, 8), (gray, gray, gray)).save(buf, format="JPEG")
        return buf.getvalue()

    box = _mp4_box
    frames = [jpeg(16), jpeg(240)]
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    mdat = box(b"mdat", b"".join(frames))
    data_start = len(ftyp) + 8
    sizes = struct.pack(">III", 0, 0, 2) + struct.pack(">II", len(frames[0]), len(frames[1]))
    stsz = box(b"stsz", sizes)
    stsc = box(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, 2, 1))
    stco = box(b"stco", struct.pack(">II", 0, 1) + struct.pack(">I", data_start))
    stbl = box(b"stbl", stsz + stsc + stco)
    hdlr = box(b"hdlr", struct.pack(">II", 0, 0) + b"vide" + b"\x00" * 12)
    moov = box(b"moov", box(b"trak", box(b"mdia", hdlr + box(b"minf", stbl))))
    feats = decode_payload(ftyp + mdat + moov, "video")
    assert len(feats) == FEATURE_DIM
    assert sum(feats) == pytest.approx(1.0)


def test_window_cume_dist_null_safe_join(spark):
    """ADVICE r13: the sufficient-statistics join-back must be NULL-SAFE
    — a nullable source's NULL-key rows get the whole-cohort window's
    own answers (NULL quantity sorts FIRST in its flag cohort; NULL
    flag is its own partition), not a silent drop."""
    from pyspark.sql import Window as W, functions as F

    import mini_hadoop_spark.operators.relational_ext as rx

    rows = [
        (1, 1, "A", 10.0),
        (2, 1, "A", None),
        (3, 1, None, 5.0),
        (4, 1, "A", 10.0),
        (5, 1, "A", 20.0),
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_returnflag string, l_quantity double",
    )
    orig = rx._t
    rx._t = lambda sp, d, t: df
    try:
        got = {
            r.l_orderkey: (r.pct_rank, r.cum_dist)
            for r in rx.window_cume_dist(spark, "ignored").collect()
        }
    finally:
        rx._t = orig
    w = W.partitionBy("l_returnflag").orderBy("l_quantity")
    exp = {
        r.l_orderkey: (
            round(r.pr, 6),
            round(r.cd, 6),
        )
        for r in df.select(
            "l_orderkey",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        ).collect()
    }
    assert got == exp, (got, exp)


def _wav_pcm(samples, sampwidth):
    """Write a mono PCM WAV in-memory with stdlib wave (the encoder is
    independent of the decoder under test)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(sampwidth)
        w.setframerate(8000)
        if sampwidth == 1:
            frames = bytes(samples)
        elif sampwidth == 2:
            frames = struct.pack(f"<{len(samples)}h", *samples)
        elif sampwidth == 3:
            frames = b"".join(struct.pack("<i", s)[:3] for s in samples)
        else:
            frames = struct.pack(f"<{len(samples)}i", *samples)
        w.writeframes(frames)
    return buf.getvalue()


def test_audio_pcm_widths_share_the_amplitude_convention():
    """r15 (VERDICT r14 missing #2): 8/24/32-bit PCM decode through the
    same 0..32768 |amplitude| histogram convention as the 16-bit arm —
    the SAME physical tone at different widths lands in the same bins."""
    from mini_hadoop_spark.operators.multimodal import FEATURE_DIM, decode_payload

    # half-scale amplitude in each width -> bin 4 of 8; silence -> bin 0
    cases = [
        (1, [128 + 64, 128 - 64, 128, 128]),      # 8-bit unsigned
        (2, [16384, -16384, 0, 0]),               # 16-bit
        (3, [4194304, -4194304, 0, 0]),           # 24-bit (2^22)
        (4, [1073741824, -1073741824, 0, 0]),     # 32-bit (2^30)
    ]
    histos = []
    for width, samples in cases:
        feats = decode_payload(_wav_pcm(samples, width), "audio")
        assert len(feats) == FEATURE_DIM
        assert sum(feats) == pytest.approx(1.0)
        histos.append(feats)
    assert all(h == histos[0] for h in histos[1:]), histos
    assert histos[0][4] == pytest.approx(0.5) and histos[0][0] == pytest.approx(0.5)


def test_audio_float_wav_manual_riff_arm():
    """IEEE-float WAV (format code 3 — stdlib wave refuses it) decodes
    through the manual RIFF walk with the same convention; float64 too;
    out-of-range samples clamp to full scale."""
    import struct

    from mini_hadoop_spark.operators.multimodal import decode_payload

    def fwav(vals, bits):
        tag = "f" if bits == 32 else "d"
        data = struct.pack(f"<{len(vals)}{tag}", *vals)
        fmt = struct.pack("<HHIIHH", 3, 1, 8000, 8000 * bits // 8, bits // 8, bits)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    for bits in (32, 64):
        feats = decode_payload(fwav([0.5, -0.5, 0.0, 0.0], bits), "audio")
        assert feats[4] == pytest.approx(0.5) and feats[0] == pytest.approx(0.5)
    # clamp: |v| > 1.0 -> full-scale bin 7, never an index error
    feats = decode_payload(fwav([3.5, -9.0], 32), "audio")
    assert feats[7] == pytest.approx(1.0)
    # a float WAV with a non-3 format code is NOT claimed by the float
    # arm: it re-raises through the loud NotImplementedError gate
    bad = fwav([0.5], 32).replace(
        struct.pack("<HH", 3, 1), struct.pack("<HH", 85, 1), 1  # 85 = MP3
    )
    with pytest.raises(NotImplementedError, match="not a PCM or IEEE-float"):
        decode_payload(bad, "audio")
