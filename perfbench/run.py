"""Benchmark of the engine's durable extraction path and its curation
queries.

    python3 perfbench/run.py --workload fat_tail --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Workloads (``BENCHMARK.json`` says why each was chosen):

* ``fat_tail`` - ``sources.manifest.run_extraction`` with engine
  defaults over a seeded corpus of mostly ordinary documents plus
  PDFs, giants and corrupt payloads; every document of every call is
  graded against the single-node oracle (``durable.py``);
* ``curation_queries`` - nine derived-table queries, each graded by
  its value hash against DuckDB or the Python oracle (``curation.py``).

One run: start a ``local[k]`` session (k = usable cores, at most 4),
build the seeded inputs and the oracle's expected outputs, warm up,
then repeat the operation (one ``run_extraction`` call, or one pass
over the nine queries) for ``--seconds`` and at least twice, and
report medians.  The last stdout line is ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer table with ``--trace 1`` (a layer a workload does not
exercise reads 0).  The line before it is the full record
(environment, input shares, every operation, and the workload's own
figures such as docs/s or the per-group query times); records and
trace spans are also written under ``.perfbench/results``.

``--workload all`` runs both workloads in turn (one session each) and
prints each one's figures by name and unit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("fat_tail", "curation_queries")

# name -> (unit, better); the order is the order of BENCHMARK.json
END_TO_END = {
    "op_s": ("s", "lower"),
    "peak_worker_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}

# units of every figure a record's end_to_end block may hold
REPORTED_UNITS = {n: u for n, (u, _) in END_TO_END.items()}
REPORTED_UNITS.update({"docs_per_s": "1/s", "pairs_s": "s",
                       "relational_s": "s", "parse_validate_s": "s",
                       "failed_share": "ratio"})


def _per_layer() -> dict[str, tuple[str, str]]:
    from perfbench.curation import QUERIES
    from perfbench.durable import QUARANTINE_CLASSES

    m = {
        "sources.io.scan_s": ("s", "lower"),
        "operators.extract.extract_s": ("s", "lower"),
        "operators.extract.body_share": ("ratio", "higher"),
        "operators.extract_paged.extract_auto_s": ("s", "lower"),
        "operators.extract_paged.router_ratio": ("ratio", "lower"),
        "operators.extract_paged.extract_auto_full_s": ("s", "lower"),
        "operators.extract_paged.giant_explode_s": ("s", "lower"),
        "operators.extract_paged.giant_paged_s": ("s", "lower"),
        "operators.extract_paged.giant_page_rows": ("count", "lower"),
        "operators.extract_paged.shard_rows": ("count", "lower"),
        "operators.extract_paged.proc_us_p50": ("us", "lower"),
        "operators.extract_paged.proc_us_p99": ("us", "lower"),
        "sources.manifest.write_commit_derived_s": ("s", "lower"),
        "sources.manifest.resume_noop_s": ("s", "lower"),
        "sources.manifest.read_extracted_s": ("s", "lower"),
        "sources.manifest.bytes_per_input_byte": ("ratio", "lower"),
        "sources.manifest.files_written": ("count", "lower"),
        "core.assemble.decode_us": ("us", "lower"),
        "core.assemble.assemble_us": ("us", "lower"),
        "core.detector.detect_us": ("us", "lower"),
        "core.pdf.parse_us": ("us", "lower"),
    }
    for c in QUARANTINE_CLASSES + ("other",):
        m[f"operators.extract.quarantined.{c}"] = ("count", "lower")
    m["workload.docs_per_s"] = ("1/s", "higher")
    for _, module, q in QUERIES:
        m[f"{module}.{q}.construct_s"] = ("s", "lower")
        m[f"{module}.{q}.construct_jobs"] = ("count", "lower")
        m[f"{module}.{q}.exec_s"] = ("s", "lower")
        m[f"{module}.{q}.shuffle_bytes"] = ("bytes", "lower")
    for g in ("pairs", "relational", "parse_validate"):
        m[f"curation.{g}_s"] = ("s", "lower")
    m.update({
        "spark.jobs": ("count", "lower"),
        "spark.tasks": ("count", "lower"),
        "spark.tasks_failed": ("count", "lower"),
        "setup.session_s": ("s", "lower"),
        "setup.inputs_s": ("s", "lower"),
        "setup.oracle_s": ("s", "lower"),
        "setup.warmup_s": ("s", "lower"),
        "trace.overhead_s": ("s", "lower"),
        "workload.failed_share": ("ratio", "lower"),
    })
    return m


def run_one(workload: str, seed: int, seconds: float, trace: bool,
            tiny: bool, plant: str | None) -> tuple[dict, dict]:
    """One workload in its own session; returns (result line, record)."""
    t_begin = time.perf_counter()
    k = common.cores()
    common.confine_env(k)
    run_id = f"{workload}-seed{seed}-trace{int(trace)}"
    tracer = common.Tracer(run_id, trace)
    results = common.state_dir("results")
    sess = None
    try:
        with tracer.span("setup.session"):
            sess = common.Session(k)
        session_s = time.perf_counter() - t_begin
        env = common.environment(k)
        if workload == "curation_queries":
            from perfbench import curation
            res = curation.run(sess, seed, seconds, trace, tracer,
                               tiny=tiny, wrong_hash=plant)
        else:
            from perfbench import durable
            res = durable.run(sess, seed, seconds, trace, tracer,
                              tiny=tiny, wrong_digest=bool(plant))
        res["setup"]["session_s"] = session_s
        setup_s = res.pop("setup_end") - t_begin
    finally:
        if sess is not None:
            with tracer.span("teardown"):
                sess.stop()
        if trace:
            tracer.dump(os.path.join(results, run_id + "-spans.json"))

    attempted, failed = res["attempted"], res["failed"]
    e2e = dict(res["e2e"], setup_s=setup_s)
    if trace:
        layers = dict(res.get("layers", {}))
        for phase, v in res["setup"].items():
            layers[f"setup.{phase}"] = v
        layers["workload.failed_share"] = failed / attempted
        spec = _per_layer()
        metrics = {n: {"value": common.finite(layers.get(n, 0.0)),
                       "unit": u} for n, (u, _) in spec.items()}
    else:
        metrics = {n: {"value": common.finite(e2e[n]), "unit": u}
                   for n, (u, _) in END_TO_END.items()}
    line = {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}
    record = {"run_id": run_id, "workload": workload, "seed": seed,
              "seconds": seconds, "trace": trace, "tiny": tiny,
              "environment": env, "failed_share": failed / attempted,
              "end_to_end": e2e,
              **{k: v for k, v in res.items() if k != "e2e"}}
    with open(os.path.join(results, run_id + ".json"), "w") as f:
        json.dump({"result": line, "record": record}, f, indent=1,
                  default=str)
    return line, record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="reduced inputs (the benchmark's own tests)")
    ap.add_argument("--plant-wrong-digest", action="store_true",
                    help="durable workloads: replace one oracle digest by "
                         "a wrong one, so the check must fail")
    ap.add_argument("--plant-wrong-hash", metavar="QUERY",
                    help="curation_queries: replace QUERY's oracle hash "
                         "by a wrong one, so the check must fail")
    args = ap.parse_args(argv)

    try:
        import exam_pdf_parser_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable ({e}); "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    line = None
    for name in names:
        plant = (args.plant_wrong_hash if name == "curation_queries"
                 else ("digest" if args.plant_wrong_digest else None))
        try:
            line, record = run_one(name, args.seed, args.seconds,
                                   bool(args.trace), args.tiny, plant)
        except Exception:
            traceback.print_exc()
            return 3
        print(json.dumps({"record": record}, default=str))
        if len(names) > 1:
            shown = dict(record["end_to_end"],
                         failed_share=record["failed_share"])
            print(f"{name}: " + ", ".join(
                f"{n}={v:.4g} {REPORTED_UNITS[n]}" for n, v in shown.items()))
            print(json.dumps(line))
    if len(names) == 1:
        print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
