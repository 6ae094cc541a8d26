"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark-backed tests run ``perfbench/run.py`` at the reduced
``--tiny`` scale (a minute or so each): every named metric must be
printed with its unit, and a planted wrong oracle digest or query hash
must make the output check fail.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run as bench
from perfbench.common import ROOT, Tracer

RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str, cwd: str = ROOT) -> tuple[int, list[dict]]:
    p = subprocess.run(RUN + list(args), cwd=cwd, capture_output=True,
                       text=True, timeout=600)
    lines = [json.loads(x) for x in p.stdout.splitlines()
             if x.startswith("{")]
    return p.returncode, lines


def test_declared_metrics_match_the_runner():
    spec = _spec()
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] \
        == [(n, u, b) for n, (u, b) in bench.END_TO_END.items()]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == [(n, u, b) for n, (u, b) in bench._per_layer().items()]
    assert [w["name"] for w in spec["workloads"]] \
        == ["fat_tail", "curation_queries"]
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_tracer_self_time_excludes_children():
    tr = Tracer("t", True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    selft = tr.self_times()
    assert selft[outer["id"]] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))
    off = Tracer("t", False)
    with off.span("x") as rec:
        assert rec is None
    assert off.spans == []


def _assert_metrics(line: dict, names: dict) -> None:
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["attempted"] >= 1
    assert list(line["metrics"]) == list(names)
    for name, (unit, _) in names.items():
        got = line["metrics"][name]
        assert got["unit"] == unit
        assert isinstance(got["value"], (int, float))


def test_tiny_fat_tail_prints_metrics_and_catches_a_wrong_digest():
    rc, lines = _run("--workload", "fat_tail", "--seed", "3",
                     "--seconds", "1", "--trace", "0", "--tiny",
                     "--plant-wrong-digest")
    assert rc == 0
    line = lines[-1]
    _assert_metrics(line, bench.END_TO_END)
    assert all(line["metrics"][n]["value"] > 0 for n in bench.END_TO_END)
    # the planted digest fails once per graded call (warm-up included),
    # nothing else does
    record = lines[-2]["record"]
    assert line["failed"] == len(record["checks"]) >= 3
    assert line["correct"] is False
    shares = record["shares"]
    assert shares["giant"]["docs"] and shares["pdf"]["docs"] \
        and shares["corrupt"]["docs"]


def test_tiny_curation_catches_a_wrong_query_hash():
    rc, lines = _run("--workload", "curation_queries", "--seed", "3",
                     "--seconds", "1", "--trace", "0", "--tiny",
                     "--plant-wrong-hash", "pricing_summary")
    assert rc == 0
    line = lines[-1]
    _assert_metrics(line, bench.END_TO_END)
    record = lines[-2]["record"]
    passes = 1 + len(record["passes"])           # warm-up + measured
    assert line["failed"] == passes and line["correct"] is False
    assert all("pricing_summary" in f for f in record["failures"])


@pytest.mark.parametrize("workload", ["fat_tail", "curation_queries"])
def test_tiny_traced_run_prints_every_layer(workload):
    rc, lines = _run("--workload", workload, "--seed", "5",
                     "--seconds", "1", "--trace", "1", "--tiny")
    assert rc == 0
    line = lines[-1]
    assert line["correct"] is True and line["failed"] == 0
    spec = bench._per_layer()
    _assert_metrics(line, spec)
    m = {n: v["value"] for n, v in line["metrics"].items()}
    if workload == "fat_tail":
        assert m["operators.extract_paged.giant_page_rows"] == 240
        assert m["operators.extract_paged.extract_auto_s"] > 0
        assert m["core.pdf.parse_us"] > 0
        assert sum(v for n, v in m.items()
                   if n.startswith("operators.extract.quarantined.")) == 5
    else:
        assert m["operators.dedupe.minhash_lsh_pairs.construct_jobs"] >= 1
        assert m["plans.relational.revenue_by_nation.shuffle_bytes"] > 0
    assert m["spark.jobs"] > 0
    run_id = lines[-2]["record"]["run_id"]
    with open(os.path.join(ROOT, ".perfbench", "results",
                           run_id + "-spans.json")) as f:
        spans = json.load(f)
    assert spans["spans"] and all("self_s" in s for s in spans["spans"])


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = _run("--workload", "fat_tail", "--seed", "1",
                     "--seconds", "1", "--trace", "0", cwd=str(tmp_path))
    assert rc != 0 and lines == []
