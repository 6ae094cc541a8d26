"""Round-8 verdict asks #1/#3: the bench artifact must stay
machine-parseable (BENCH_r07.json came back parsed:null when the JSON
line outgrew the driver's 2,000-char capture window), and the anchor
bands that define "healthy host" must live in a committed,
provenance-carrying artifact instead of hand-edited constants."""

from __future__ import annotations

import json
import os
import re

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the driver's line-capture window; the compact line must clear it
# with room for value drift (longer floats, a degraded verdict, …)
LINE_BUDGET = 1800
MAX_BAND_AGE_ROUNDS = 3


def _calibrate_mod():
    # share the calibrator's EXACT rules (round derivation, band
    # margins) — a second copy here could silently disagree and
    # defang the staleness / consistency pins
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "calibrate_anchors", f"{REPO}/scripts/calibrate_anchors.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _current_round() -> int:
    return _calibrate_mod().current_round()


def _representative_full() -> dict:
    """A full bench payload with worst-case-width values (3-decimal
    times in the hundreds, every optional block present)."""
    queries = {n: 123.456 for n in bench.BENCH_QUERIES}
    return {
        "metric": "headline-suite-wall", "value": 1234.567, "unit": "sec",
        "queries": queries,
        "query_runs": {n: [123.456] * 5 for n in queries},
        "reps": 5, "sf": 0.1,
        "jvm_anchor_sec": 12.345,
        "jvm_anchor_runs": [12.345] * 5,
        "shuffle_anchor_sec": 12.345,
        "shuffle_anchor_runs": [12.345] * 5,
        "band_anchor_sec": 12.345,
        "band_anchor_runs": [12.345] * 5,
        "queries_anchor_ratio": {n: 99.99 for n in queries},
        "queries_shuffle_ratio": {n: 99.99 for n in queries},
        "queries_band_ratio": {n: 99.99 for n in queries},
        "host_state": {
            "calibrated": True, "verdict": "degraded", "bands_round": 88,
            "anchors": {k: {"value": 12.345, "band": [1.0, 2.0],
                            "state": "degraded"}
                        for k in ("jvm_anchor_sec", "shuffle_anchor_sec",
                                  "band_anchor_sec",
                                  "frozen_docs_per_sec")}},
        "x_extract_spans_source_layout_sec": 123.456,
        "extraction": {"docs": 5_000_000, "wall_sec": 12345.678,
                       "docs_per_sec": 12345.67,
                       "runs_sec": [12345.678] * 5, "spans": 176_370_000},
        "extraction_frozen_r02_corpus": {
            "docs": 5_000_000, "wall_sec": 12345.678,
            "docs_per_sec": 12345.67, "runs_sec": [12345.678] * 5},
    }


def test_bench_compact_line_budget():
    """The stdout line carries headline + per-query mins + the four
    anchors + host verdict, and stays under the capture window even
    with worst-case value widths."""
    full = _representative_full()
    compact = bench.compact_payload(full, "/x/BENCH_DETAIL_last.json")
    line = json.dumps(compact)
    assert len(line) <= LINE_BUDGET, (len(line), line)
    # everything cross-round tooling reads is on the compact line
    for key in ("value", "queries", "jvm_anchor_sec", "shuffle_anchor_sec",
                "band_anchor_sec", "frozen_docs_per_sec", "docs_per_sec",
                "host_state", "detail_file", "sf", "reps"):
        assert key in compact, key
    assert compact["host_state"]["verdict"] == "degraded"
    assert compact["queries"] == full["queries"]
    assert compact["detail_file"] == "BENCH_DETAIL_last.json"


def test_anchor_bands_artifact():
    """ANCHOR_BANDS.json: committed, complete, provenance-carrying,
    and not stale — a band calibrated more than MAX_BAND_AGE_ROUNDS
    ago fails here, forcing a scripts/calibrate_anchors.py rerun
    instead of silently grading against a drifted host."""
    doc = bench.load_anchor_bands()
    assert doc["schema"] == "anchor-bands-v1"
    for key in ("round", "date", "config", "tolerance_degraded",
                "discipline", "bands"):
        assert key in doc, key
    for key in ("sf", "cpus", "pair_scope"):
        assert key in doc["config"], key
    assert set(doc["bands"]) == {
        "jvm_anchor_sec", "shuffle_anchor_sec", "band_anchor_sec",
        "frozen_docs_per_sec"}
    current = _current_round()
    for name, spec in doc["bands"].items():
        for key in ("band", "lower_is_better", "code_ref",
                    "calibrated_round", "calibration_runs", "provenance"):
            assert key in spec, (name, key)
        lo, hi = spec["band"]
        assert lo < hi, name
        assert len(spec["calibration_runs"]) >= 2, name
        # the code ref must point at something that still exists
        m = re.match(r"bench\.py:(\w+)", spec["code_ref"])
        assert m and hasattr(bench, m.group(1)), spec["code_ref"]
        age = current - spec["calibrated_round"]
        assert 0 <= age <= MAX_BAND_AGE_ROUNDS, (
            f"{name} was calibrated in round {spec['calibrated_round']} "
            f"(current {current}) — rerun scripts/calibrate_anchors.py "
            "in a healthy phase and commit the regenerated artifact")

    # r8 ADVICE: each band must DERIVE from its own calibration_runs
    # under the calibrator's margins — an inherited width from an
    # older round (r07 shuffle/band bands survived the r08 regen)
    # lets a host ~2x slower than the recorded healthy runs still
    # grade "healthy", silently defanging the health verdict.
    cal = _calibrate_mod()
    for name, spec in doc["bands"].items():
        runs = spec["calibration_runs"]
        lo, hi = spec["band"]
        if spec["lower_is_better"]:
            want_lo, want_hi = (min(runs) * cal.LO_MARGIN,
                                max(runs) * cal.HI_MARGIN)
            tol = 0.002
        else:
            want_lo, want_hi = (min(runs) * cal.DPS_LO,
                                max(runs) * cal.DPS_HI)
            tol = 0.2
        assert abs(lo - want_lo) <= tol and abs(hi - want_hi) <= tol, (
            f"{name}: band [{lo}, {hi}] does not derive from its "
            f"calibration_runs (want ~[{want_lo:.3f}, {want_hi:.3f}]) "
            "— rerun scripts/calibrate_anchors.py instead of "
            "inheriting a stale width")


def test_host_state_grades_against_committed_bands():
    doc = bench.load_anchor_bands()
    hi = doc["bands"]["jvm_anchor_sec"]["band"][1]
    tol = doc["tolerance_degraded"]
    mid = {
        "shuffle": doc["bands"]["shuffle_anchor_sec"]["band"][1],
        "dps": doc["bands"]["frozen_docs_per_sec"]["band"][0],
        "band": doc["bands"]["band_anchor_sec"]["band"][1],
    }
    healthy = bench._host_state(hi, mid["shuffle"], mid["dps"],
                                calibrated=True, band_anchor=mid["band"],
                                bands_doc=doc)
    assert healthy["verdict"] == "healthy"
    assert healthy["bands_round"] == doc["round"]
    degraded = bench._host_state(hi * tol * 1.01, mid["shuffle"],
                                 mid["dps"], calibrated=True,
                                 band_anchor=mid["band"], bands_doc=doc)
    assert degraded["verdict"] == "degraded"
    assert degraded["anchors"]["jvm_anchor_sec"]["state"] == "degraded"
    marginal = bench._host_state(hi * (1 + (tol - 1) / 2), mid["shuffle"],
                                 mid["dps"], calibrated=True,
                                 band_anchor=mid["band"], bands_doc=doc)
    assert marginal["verdict"] == "marginal"
    un = bench._host_state(1.0, 1.0, 1.0, calibrated=False, bands_doc=doc)
    assert un["verdict"] == "uncalibrated"


def test_oracle_sql_renders_identically_across_hash_seeds():
    """Every SQL text the driver grades must render byte-identically in
    any interpreter.  A set interpolated in iteration order (as
    x_exam_info once did with ``WRITTEN_TYPES``) renders a different
    text per ``PYTHONHASHSEED``; seeds 1 and 2 differed that way."""
    import subprocess
    import sys

    code = ("import json, sys, __spark_entry__ as e; "
            "sys.stdout.write(json.dumps(e.oracle_sql(), sort_keys=True))")
    outs = [subprocess.run([sys.executable, "-c", code], cwd=REPO,
                           env=dict(os.environ, PYTHONHASHSEED=seed),
                           capture_output=True, check=True).stdout
            for seed in ("1", "2")]
    assert len(json.loads(outs[0])) == 50
    assert outs[0] == outs[1]
