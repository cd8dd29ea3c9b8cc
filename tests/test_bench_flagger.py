"""The bench superlinear flagger must be contention-robust (r9 verdict
item 2): the driver's official r9 artifact flagged ssjoin_jaccard_prefix
at 16.9x under machine load while the isolated truth was 2.7x. These
tests pin the two defenses — calibration normalization and the
isolation re-measure — against synthetic-load scenarios, pure-function
style (no Spark session)."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _bench_module():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("bench", mod)
    spec.loader.exec_module(mod)
    return mod


FLAG = _bench_module().compute_superlinear_flags

# A healthy suite at data_ratio 10: times grow ~3x (sublinear).
BASE = {"q_linear": 0.50, "q_heavy": 1.60, "q_tiny": 0.02}
MAIN = {"q_linear": 1.50, "q_heavy": 4.40, "q_tiny": 0.06}


def test_healthy_pass_no_flags():
    assert FLAG(MAIN, BASE, 10.0, cal_main=0.42, cal_base=0.42) == []


def test_uniformly_slowed_pass_does_not_flag():
    # The r9 failure mode: the whole main pass (including calibration) runs
    # under ~4x machine load. Raw ratios for q_heavy become 4.4*4/1.6 = 11x
    # vs threshold 15 — push it further with a 6x slowdown so the RAW ratio
    # (16.5x) would trip the old flagger, then show calibration
    # normalization cancels it.
    slowed = {q: round(t * 6.0, 3) for q, t in MAIN.items()}
    raw_ratio = slowed["q_heavy"] / BASE["q_heavy"]
    assert raw_ratio > 1.5 * 10.0  # the naive check would flag this
    assert (
        FLAG(slowed, BASE, 10.0, cal_main=0.42 * 6.0, cal_base=0.42) == []
    )


def test_genuine_superlinear_is_flagged():
    # q_quad grows 40x at 10x data with IDENTICAL calibration — a real
    # O(N^2); the isolation re-measure confirms it.
    main = dict(MAIN, q_quad=20.0)
    base = dict(BASE, q_quad=0.5)
    flags = FLAG(
        main,
        base,
        10.0,
        cal_main=0.42,
        cal_base=0.42,
        remeasure=lambda q: (19.5, 0.5),
    )
    assert flags == ["q_quad"]


def test_isolation_remeasure_refutes_transient_spike():
    # One query's timing window caught a load spike (calibration happened
    # to be clean, so normalization can't help) — the isolated re-measure
    # shows the true sublinear ratio and the flag is suppressed.
    main = dict(MAIN, q_spiked=25.0)
    base = dict(BASE, q_spiked=1.6)
    flags = FLAG(
        main,
        base,
        10.0,
        cal_main=0.42,
        cal_base=0.42,
        remeasure=lambda q: (4.3, 1.6),  # isolated truth: 2.7x
    )
    assert flags == []


def test_subsecond_timings_never_flag():
    # q_tiny's ratio is 30x but at 0.06 s it's planner overhead, not scale.
    main = dict(BASE, q_tiny=0.45)
    assert FLAG(main, BASE, 10.0, cal_main=0.42, cal_base=0.42) == []


def test_no_remeasure_hook_still_flags_on_normalized_ratio():
    # remeasure=None (e.g. a unit-test caller): the calibration-normalized
    # threshold alone decides.
    main = dict(MAIN, q_quad=20.0)
    base = dict(BASE, q_quad=0.5)
    assert FLAG(main, base, 10.0, cal_main=0.42, cal_base=0.42) == ["q_quad"]


def test_missing_calibration_degrades_to_raw_ratio():
    main = dict(MAIN, q_quad=20.0)
    base = dict(BASE, q_quad=0.5)
    assert FLAG(main, base, 10.0) == ["q_quad"]


def test_inflated_main_calibration_cannot_hide_a_real_quadratic():
    # Early-session JVM warmth inflates cal_main 2x (the r10 artifact
    # pattern). A genuine O(N^2) at raw 18x / normalized 9x must still
    # surface through the raw-ratio candidacy + isolation confirmation —
    # normalization may only ADD candidates, never remove them.
    main = dict(MAIN, q_quad=9.0)
    base = dict(BASE, q_quad=0.5)  # raw 18x > 15
    flags = FLAG(
        main,
        base,
        10.0,
        cal_main=0.84,
        cal_base=0.42,  # normalized 9x < 15
        remeasure=lambda q: (9.0, 0.5),  # isolated truth: still 18x
    )
    assert flags == ["q_quad"]


def test_without_arbiter_a_candidate_needs_both_ratios():
    # Same inflated-calibration scenario, no remeasure hook: raw trips,
    # normalized doesn't -> ambiguous, not flagged (and the inverse for
    # the uniformly-slowed pass is covered above).
    main = dict(MAIN, q_quad=9.0)
    base = dict(BASE, q_quad=0.5)
    assert FLAG(main, base, 10.0, cal_main=0.84, cal_base=0.42) == []


def test_per_query_chunks_roundtrip_and_ordering():
    """r12 verdict item 2: the driver keeps only the last ~2 KB of bench
    stdout, so the per-query map is re-emitted as short chunk lines with
    the slowest queries LAST. Pin: (a) every line parses alone and stays
    under the size cap, (b) merging all chunks reconstructs the map
    exactly, (c) the final chunk holds the slowest query."""
    import json

    mod = _bench_module()
    timings = {f"q_{i:03d}": round(0.05 * i, 3) for i in range(1, 336)}
    lines = mod.per_query_chunks(timings)
    merged: dict[str, float] = {}
    for line in lines:
        assert len(line) <= 240, f"chunk line over cap: {len(line)}"
        obj = json.loads(line)
        assert obj["metric"] == "per_query"
        assert obj["parts"] == len(lines)
        merged.update(obj["queries"])
    assert merged == timings
    last = json.loads(lines[-1])["queries"]
    assert "q_335" in last  # slowest row rides the tail-surviving chunk


def test_per_query_chunks_tail_window_is_parseable():
    """The 2000-char tail window must land on complete lines for all but
    at most one leading fragment — i.e. chunk lines must be short enough
    that a tail cut loses at most one line."""
    import json

    mod = _bench_module()
    timings = {f"very_long_query_name_{i:03d}_suffix": 1.0 + i for i in range(335)}
    out = "\n".join(mod.per_query_chunks(timings))
    tail = out[-1600:]  # summary line (~400 B) uses the rest of the window
    whole_lines = tail.split("\n")[1:]  # drop the (possibly cut) first line
    assert len(whole_lines) >= 4
    for line in whole_lines:
        json.loads(line)


def test_per_query_chunks_rejects_an_entry_over_the_cap():
    """An entry that cannot fit under the cap even alone on its line must
    fail loudly, not emit an over-cap line that breaks the tail window."""
    import pytest

    mod = _bench_module()
    ok = mod.per_query_chunks({"q_short": 1.0, "x" * 120: 2.0})
    assert all(len(line) <= 240 for line in ok)
    with pytest.raises(ValueError, match="cannot fit"):
        mod.per_query_chunks({"q_short": 1.0, "x" * 240: 2.0})


def test_headline_names_exist_in_registry():
    """HEADLINE is derived from the registry minus UNBENCHED; a typo'd or
    renamed UNBENCHED entry would silently bench a query nobody meant to
    time, so every excluded name must exist and the benched set must stay
    the frozen 335."""
    import bench
    from annotations_ingester_spark.plans.queries import REGISTRY

    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not missing, f"HEADLINE names not in registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate HEADLINE rows"
    stale = sorted(bench.UNBENCHED - set(REGISTRY))
    assert not stale, f"UNBENCHED names not in registry: {stale}"
    assert len(bench.HEADLINE) == 335
