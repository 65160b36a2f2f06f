"""Driver-contract guard for bench.py's stdout artifact.

Round-8 fix for a two-round telemetry outage: BENCH_r06/r07 recorded
``parsed: null`` because the single JSON line outgrew the driver's
~2000-char stdout tail window (the r6/r7 protocol blocks — per-order
mins, heavy_ab, load, concurrent_burst — pushed it past 4 KB). The
full blob now goes to ``bench_full.json``; stdout's final line is a
compact summary. These tests pin that contract WITHOUT running the
(minutes-long) bench itself: they feed worst-case-width numbers through
``bench.compact_line``, the helper ``bench.main`` prints with, and
bound the line's size.
"""

from __future__ import annotations

import json
import os

import bench

# The driver stores the last ~2000 chars of stdout. Keep real margin:
# the line before the JSON (the bench_full.json pointer) also lands in
# the tail. Since r17 the line carries TWO per-query maps (means +
# mins — the verdict's de-noising ask), so the width assumption is
# calibrated to plausible values (<= 999.999 s per query — a bench
# query past 16 minutes is a broken run, not a wide number) and
# bench.main additionally hard-guards the final line at
# COMPACT_LINE_MAX, dropping ONLY the new ``mins`` field on overflow
# so the pre-r17 fields can never regress to ``parsed: null``.
TAIL_WINDOW = 2000
BUDGET = bench.COMPACT_LINE_MAX


def _compact_line(per_query: dict[str, float]) -> str:
    # worst-case-width numbers through the same helper bench.main prints
    return bench.compact_line(
        value=99999.999,
        queries=per_query,
        mins=per_query,
        total_min=99999.999,
        burst_speedup=99.99,
        burst_equal=False,
        load1_start=99.99,
        full="bench_full.json",
    )


def test_compact_line_fits_tail_window():
    # plausible worst-case widths: every mean AND min at 3+3 digits
    line = _compact_line({k: 999.999 for k in bench.HEADLINE})
    assert len(line) <= BUDGET, (
        f"compact bench line is {len(line)} chars — over the {BUDGET} "
        f"budget (driver tail window {TAIL_WINDOW}); trim fields or "
        "move more detail into bench_full.json"
    )
    assert "mins" in json.loads(line)  # fits without the fallback


def test_compact_line_is_parseable_and_has_driver_fields():
    line = _compact_line({k: 1.0 for k in bench.HEADLINE})
    parsed = json.loads(line)
    # the driver contract: ONE JSON line with metric/value/unit/queries/sf
    # (+ the r17 additive mins map)
    for field in ("metric", "value", "unit", "queries", "mins", "sf"):
        assert field in parsed
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert set(parsed["mins"]) == set(bench.HEADLINE)


def _padded() -> dict[str, float]:
    # ten more headline queries at worst-case name width
    padded = {k: 999.999 for k in bench.HEADLINE}
    for i in range(10):
        padded[f"future_round_added_query_number_{i:02d}"] = 999.999
    return padded


def test_headline_growth_headroom():
    # growth must still produce a line that fits AFTER the runtime
    # mins-dropping guard — growth can cost the new mins field, never
    # the pre-r17 contract
    padded = _padded()
    line = _compact_line(padded)
    assert len(line) <= TAIL_WINDOW
    assert set(json.loads(line)["queries"]) == set(padded)


def test_overflow_drops_only_mins():
    # the runtime guard: a line past COMPACT_LINE_MAX loses mins and
    # nothing else
    padded = _padded()
    full = json.dumps(
        {"queries": padded, "mins": padded}, separators=(",", ":")
    )
    assert len(full) > bench.COMPACT_LINE_MAX  # the guard must fire
    parsed = json.loads(_compact_line(padded))
    assert "mins" not in parsed
    for field in (
        "metric", "value", "unit", "queries", "total_min", "burst_speedup",
        "burst_equal", "load1_start", "sf", "reps", "full",
    ):
        assert field in parsed


def test_load_gate_defaults():
    # the r17 load gate: documented defaults stay wired to the env
    # knobs — a knob set in the environment overrides its default
    gate = os.environ.get("SPARK_GRAFT_BENCH_LOAD_GATE", "2.5")
    wait = os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT", "60")
    assert bench.LOAD_GATE == float(gate)
    assert bench.LOAD_WAIT == float(wait)
