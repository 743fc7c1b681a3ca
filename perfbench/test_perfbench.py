"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from perfbench import check, speed, stats, trace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- percentile selection under the >=10-beyond rule -----------------------

def test_nearest_rank_percentile():
    values = list(range(1, 101))
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile([3.0], 90) == 3.0


def test_beyond_counts_samples_above_the_percentile():
    assert stats.beyond(100, 90) == 10
    assert stats.beyond(99, 90) == 9
    assert stats.beyond(20, 50) == 10


@pytest.mark.parametrize("n, pct", [
    (1000, 99), (999, 95), (200, 95), (199, 90), (100, 90), (99, 75), (40, 75), (39, 50), (20, 50),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    assert stats.beyond(n, pct) >= stats.MIN_BEYOND


def test_tail_percentile_none_below_twenty_samples():
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(0) is None


# --- job-interval union and driver-side gap --------------------------------

def test_union_merges_overlaps_and_skips_gaps():
    assert trace.union_length([]) == 0.0
    assert trace.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert trace.union_length([(3, 4), (0, 10)]) == pytest.approx(10.0)
    assert trace.union_length([(1, 1), (2, 1)]) == 0.0


def test_gap_is_wall_minus_clipped_union():
    # jobs overlap each other and stick out of the call window [10, 20]
    jobs = [(9.0, 12.0), (11.0, 13.0), (15.0, 16.0), (19.5, 25.0)]
    gap = trace.gap_seconds(10.0, 20.0, jobs)
    covered = (13.0 - 10.0) + (16.0 - 15.0) + (20.0 - 19.5)
    assert gap == pytest.approx(10.0 - covered)
    assert gap + trace.union_length(trace.clip(jobs, 10.0, 20.0)) == pytest.approx(10.0)


def test_gap_without_jobs_is_the_whole_wall():
    assert trace.gap_seconds(1.0, 3.5, []) == pytest.approx(2.5)


# --- span self time with nested children -----------------------------------

def test_self_time_subtracts_the_union_of_children():
    t = trace.Tracer("r")
    root = t.record("pass", 0.0, 10.0)
    call = t.record("operators.dedup", 1.0, 6.0, root)
    t.record("spark.job", 2.0, 4.0, call)
    t.record("spark.job", 3.0, 5.0, call)  # overlaps its sibling
    other = t.record("operators.events", 6.0, 9.0, root)
    t.record("spark.job", 8.0, 12.0, other)  # runs past its parent's end
    own = t.self_times()
    assert own[root] == pytest.approx(10.0 - 8.0)
    assert own[call] == pytest.approx(5.0 - 3.0)
    assert own[other] == pytest.approx(3.0 - 1.0)
    by_name = t.self_time_by_name()
    assert by_name["spark.job"] == pytest.approx(2.0 + 2.0 + 4.0)


def test_closed_span_takes_its_end():
    t = trace.Tracer("r")
    s = t.record("pass", 1.0, 1.0)
    t.close(s, 4.0)
    assert t.self_times()[s] == pytest.approx(3.0)


# --- canonical digest -------------------------------------------------------

FIXTURE = pd.DataFrame({
    "b": [2.5, None, 1.0 / 3.0],
    "a": ["x", "y", None],
    "c": np.array([3, 1, 2], dtype=np.int64),
})


def test_canonical_rows_sort_columns_and_rows():
    assert check.canonical_rows(FIXTURE) == [
        ("<null>", "0.333333333", "2"),
        ("x", "2.5", "3"),
        ("y", "<null>", "1"),
    ]


def test_canonical_digest_is_known_and_order_insensitive():
    text = "a\x1fb\x1fc\n<null>\x1f0.333333333\x1f2\nx\x1f2.5\x1f3\ny\x1f<null>\x1f1"
    want = hashlib.sha256(text.encode()).hexdigest()
    assert check.canonical_digest(FIXTURE) == want
    shuffled = FIXTURE.iloc[[2, 0, 1]][["c", "a", "b"]]
    assert check.canonical_digest(shuffled) == want


def test_canonical_digest_sees_a_changed_value():
    changed = FIXTURE.copy()
    changed.loc[0, "b"] = 2.5000001
    assert check.canonical_digest(changed) != check.canonical_digest(FIXTURE)


# --- reference values for the MapReduce flow -------------------------------

def _edges():
    src = np.array([1, 1, 2, 3, 3, 3], np.int64)
    dst = np.array([2, 4, 3, 1, 2, 4], np.int64)
    return src, dst


def test_pagerank_replay_matches_a_loop():
    src, dst = _edges()
    d, n = 0.85, 4
    deg = {1: 2, 2: 1, 3: 3}
    rank = {p: 1.0 for p in deg}
    for _ in range(2):
        new = {p: 0.0 for p in (1, 2, 3, 4)}
        for s, t in zip(src.tolist(), dst.tolist()):
            new[t] += d * rank[s] / deg[s]
        for s in deg:
            new[s] += (1.0 - d) / n
        rank = new
    got = check.pagerank_replay(src, dst)
    assert got.keys() == rank.keys()
    assert check.ranks_match(got, rank)


def test_ranks_match_allows_one_unit_of_rounding_only():
    assert check.ranks_match({1: 0.123456785}, {1: 0.123456775})
    assert not check.ranks_match({1: 0.12345679}, {1: 0.12345681})
    assert not check.ranks_match({1: 0.1}, {2: 0.1})


def test_fixed_point_replay_matches_an_integer_loop():
    src, dst = _edges()
    d, n, tol9 = 0.85, 4, 50_000_000
    deg = {1: 2, 2: 1, 3: 3}
    t9 = math.floor(0.15 / n * 1e9 + 0.5)

    def step(rank):
        new = {p: 0 for p in (1, 2, 3, 4)}
        for s, t in zip(src.tolist(), dst.tolist()):
            new[t] += math.floor(d * rank[s] / deg[s] + 0.5)
        for s in deg:
            new[s] += t9
        return new

    prev, stop = step({p: 10**9 for p in deg}), None
    for k in range(2, 13):
        cur = step(prev)
        done = sum(abs(cur[p] - prev[p]) for p in cur) < tol9 * n
        prev = cur
        if done:
            stop = k
            break
    assert check.pagerank_fixed_point_replay(src, dst) == (prev, stop)


def test_word_counts_of_a_file(tmp_path):
    p = tmp_path / "w.txt"
    p.write_text("the cat\nThe dog_1 cat\n")
    assert check.shim_word_counts(str(p)) == {"the": 2, "cat": 2, "dog_1": 1}
    p.write_text("Don't re-use the_cat, the CAT!\n")
    assert check.readme_word_counts(str(p)) == {"don": 1, "t": 1, "re": 1, "use": 1, "the_cat": 1,
                                               "the": 1, "cat": 1}


# --- host-speed scaling ------------------------------------------------------

def test_scale_is_the_reference_over_the_lower_quartile_probe():
    probes = [0.05, 0.02, 0.04, 0.03, 0.09, 0.03, 0.06, 0.04]
    assert speed.scale(probes) == pytest.approx(speed.PROBE_REF_S / 0.03)
    # a host twice as slow doubles every probe and halves the factor
    assert speed.scale([2 * p for p in probes]) == pytest.approx(speed.scale(probes) / 2)
    # a few probes slowed by a stall do not move it
    assert speed.scale(probes[:6] + [0.5, 0.5]) == pytest.approx(speed.scale(probes))


def test_scale_of_no_probes_is_an_error():
    with pytest.raises(ValueError):
        speed.scale([])


def test_probe_makes_its_round_trips_and_returns_wall_time():
    calls = []
    system = SimpleNamespace(nanoTime=lambda: calls.append(1))
    jvm = SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(System=system)))
    assert 0 < speed.probe(jvm) < 5
    assert len(calls) == speed.ROUND_TRIPS


# --- the declared metrics match what a run reports --------------------------

def test_benchmark_json_lists_the_reported_metrics():
    from perfbench import driver, workload

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _ in driver.end_to_end_metrics()]
    assert [m["unit"] for m in spec["end_to_end"]] == [u for _, u in driver.end_to_end_metrics()]
    assert [m["name"] for m in spec["per_layer"]] == [n for n, _ in driver.per_layer_metrics()]
    assert [m["unit"] for m in spec["per_layer"]] == [u for _, u in driver.per_layer_metrics()]
    assert [w["name"] for w in spec["workloads"]] == list(workload.WORKLOADS)
