"""bench.py emits ONE JSON line the driver must be able to parse back.
VERDICT r17 #2: the round-16 artifact's line never parsed and the whole
round lost its round-over-round comparison — so the emitter now
self-checks and fails loudly (rc=2) on a line that would not round-trip."""

from __future__ import annotations

import io
import json
import math
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _ok_payload():
    return {
        "metric": "total_query_wall_sec",
        "value": 1.23,
        "unit": "sec",
        "queries": {"q": 1.23},
        "sf": 0.1,
    }


def test_emit_ok_round_trips():
    buf = io.StringIO()
    assert bench.emit_result_line(_ok_payload(), stream=buf) == 0
    lines = buf.getvalue().splitlines()
    assert len(lines) == 1
    assert json.loads(lines[0])["value"] == 1.23


def test_emit_nan_fails_rc2():
    out = _ok_payload()
    out["queries"]["broken"] = math.nan  # a broken timing must not ship
    buf = io.StringIO()
    assert bench.emit_result_line(out, stream=buf) == 2
    assert buf.getvalue() == ""  # nothing printed on failure


def test_emit_infinity_fails_rc2():
    out = _ok_payload()
    out["value"] = math.inf
    buf = io.StringIO()
    assert bench.emit_result_line(out, stream=buf) == 2
    assert buf.getvalue() == ""


def test_host_speed_fields_scale_value_and_cold_total():
    """The host-speed keys scale both totals by the perfbench factor
    (reference probe time over the probes' lower quartile) and emit."""
    from perfbench import speed

    probes = [speed.PROBE_REF_S * 2] * 3 + [speed.PROBE_REF_S * 4]
    fields = bench.host_speed_fields(probes, 10.0, 30.0)
    assert fields["host_speed"] == {
        "probe_lq_s": round(speed.PROBE_REF_S * 2, 6),
        "factor": 0.5,
        "n_probes": 4,
    }
    assert fields["value_scaled"] == 5.0
    assert fields["value_cold_total_scaled"] == 15.0
    out = {**_ok_payload(), **fields}
    buf = io.StringIO()
    assert bench.emit_result_line(out, stream=buf) == 0
    assert json.loads(buf.getvalue())["host_speed"]["n_probes"] == 4


def test_host_speed_fields_without_probes_scale_by_one():
    fields = bench.host_speed_fields([], 10.0, 30.0)
    assert fields["host_speed"]["factor"] == 1.0
    assert fields["value_scaled"] == 10.0
    assert bench.emit_result_line({**_ok_payload(), **fields}, stream=io.StringIO()) == 0
