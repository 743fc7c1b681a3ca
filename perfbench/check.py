"""Output checks, run outside the timed passes.

* Registry queries: the Spark result and the query's DuckDB oracle over
  the same tables are reduced to one digest each by the oracle battery's
  canonical recipe (columns sorted by name, floats at 9 significant
  digits, nulls as ``<null>``, rows sorted) and compared.
* The MapReduce flow: byte-identical retrieval, the job's and the
  DataFrame WordCount against a Python ``Counter`` under the same
  tokenizer, two-iteration PageRank against a NumPy replay of its float
  arithmetic, and fixed-point PageRank (ranks and stop iteration)
  against a bit-exact NumPy replay of its integer rule.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import numpy as np
import pandas as pd


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    """Order-insensitive canonical form of a result frame."""
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            listlike = isinstance(v, (list, tuple, np.ndarray))
            if v is None or (not listlike and pd.isna(v)):
                vals.append("<null>")
            elif isinstance(v, float):
                vals.append(f"{v:.9g}")
            elif isinstance(v, int):
                vals.append(str(int(v)))
            else:
                vals.append(str(v))
        rows.append(tuple(vals))
    return sorted(rows)


def canonical_digest(df: pd.DataFrame) -> str:
    """sha256 over the sorted column names and the canonical rows."""
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(df.columns)).encode())
    for row in canonical_rows(df):
        h.update(b"\n")
        h.update("\x1f".join(row).encode())
    return h.hexdigest()


def oracle_digests(sf_dir: str, tables: tuple[str, ...], sqls: dict[str, str],
                   cache_path: str) -> dict[str, str]:
    """Canonical digest of each oracle query's DuckDB result over the
    tables in ``sf_dir``.  Digests are cached in ``cache_path``, keyed
    by the SQL text, so each oracle query runs once per work dir."""
    import json
    import os

    import duckdb

    cache: dict[str, str] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    key = {name: hashlib.sha256(sql.encode()).hexdigest() for name, sql in sqls.items()}
    missing = [name for name in sqls if key[name] not in cache]
    if missing:
        con = duckdb.connect()
        try:
            for t in tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            for name in missing:
                cache[key[name]] = canonical_digest(con.sql(sqls[name]).fetchdf())
        finally:
            con.close()
        with open(cache_path, "w") as f:
            json.dump(cache, f)
    return {name: cache[key[name]] for name in sqls}


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def wc_map(block: str, _ctx) -> list[tuple[str, int]]:
    """MapReduce WordCount mapper: lowercase, whitespace split, keep
    alphanumerics and ``_``; counts combined within the block."""
    out: dict[str, int] = {}
    for w in block.lower().split():
        w = "".join(c for c in w if c.isalnum() or c == "_")
        if w:
            out[w] = out.get(w, 0) + 1
    return list(out.items())


def wc_reduce(_key, values, _ctx) -> int:
    return sum(values)


def shim_word_counts(path: str) -> Counter:
    """What ``wc_map``/``wc_reduce`` produce over a whole file (blocks
    are newline-aligned, so splitting the file into blocks changes no
    word)."""
    with open(path, encoding="utf-8") as f:
        return Counter(dict(wc_map(f.read(), None)))


def readme_word_counts(path: str) -> Counter:
    """What ``workloads.wordcount.word_count`` gives over a text file:
    lowercase, then every ``[a-z0-9_]+`` run is a word."""
    with open(path, encoding="utf-8") as f:
        return Counter(re.findall(r"[a-z0-9_]+", f.read().lower()))


def read_edges(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) int64 arrays parsed like ``adjacency_edges``."""
    src, dst = [], []
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            parts = line.rstrip("\n").split("\t")
            s = int(parts[0])
            for t in parts[1].strip().split():
                src.append(s)
                dst.append(int(t))
    return np.asarray(src, np.int64), np.asarray(dst, np.int64)


def pagerank_replay(src: np.ndarray, dst: np.ndarray, iterations: int = 2,
                    damping: float = 0.85) -> dict[int, float]:
    """Float PageRank with the module's semantics: every source starts at
    rank 1.0 and emits the baseline (1-d)/n; pure targets get only
    in-edge contributions."""
    pages, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s_idx, d_idx = inv[: len(src)], inv[len(src):]
    n = len(pages)
    deg = np.bincount(s_idx, minlength=n).astype(np.float64)
    is_src = deg > 0
    baseline = (1.0 - damping) / n
    rank = np.ones(n)
    for _ in range(iterations):
        w = rank / np.where(is_src, deg, 1.0)
        rank = np.bincount(d_idx, weights=damping * w[s_idx], minlength=n)
        rank[is_src] += baseline
    present = is_src | (np.bincount(d_idx, minlength=n) > 0)
    return dict(zip(pages[present].tolist(), rank[present].tolist()))


def pagerank_fixed_point_replay(src: np.ndarray, dst: np.ndarray, damping: float = 0.85,
                                tol9: int = 50_000_000, max_iters: int = 12) -> tuple[dict[int, int], int]:
    """``pagerank_fixed_point``'s integer rule in NumPy: ranks in units
    of 1e-9, each edge contributes ``floor(d * rank9 / deg + 0.5)``
    (the same double operations), every source adds the teleport term,
    and the loop stops at the first iteration ``k >= 2`` whose summed
    absolute change is below ``tol9`` per page.  Returns (page -> rank9,
    stop iteration); integer sums make it bit-exact."""
    pages, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s_idx, d_idx = inv[: len(src)], inv[len(src):]
    n = len(pages)
    deg = np.bincount(s_idx, minlength=n).astype(np.float64)
    is_src = deg > 0
    t9 = int(math.floor((1.0 - damping) / n * 1e9 + 0.5))

    def step(rank9: np.ndarray) -> np.ndarray:
        c9 = np.floor(damping * rank9[s_idx].astype(np.float64) / deg[s_idx] + 0.5).astype(np.int64)
        out = np.zeros(n, np.int64)
        np.add.at(out, d_idx, c9)
        out[is_src] += t9
        return out

    prev = step(np.full(n, 1_000_000_000, np.int64))
    for k in range(2, max_iters + 1):
        cur = step(prev)
        if int(np.abs(cur - prev).sum()) < tol9 * n:
            return dict(zip(pages.tolist(), cur.tolist())), k
        prev = cur
    return dict(zip(pages.tolist(), prev.tolist())), max_iters


def ranks_match(got: dict[int, float], want: dict[int, float], decimals: int = 8) -> bool:
    """Same pages, and ranks equal at ``decimals`` rounding up to one
    unit in the last place (summation order differs between engines)."""
    if got.keys() != want.keys():
        return False
    unit = 10.0 ** -decimals
    return all(abs(round(got[k], decimals) - round(want[k], decimals)) <= unit * 1.01 for k in want)
