"""Shared plumbing of the benchmark: where it writes, the Spark session
it owns, the tracer, and the probes it reads layers through.

Everything the benchmark writes lives under ``<checkout>/.perfbench``
(Spark local dirs, the JVM and Python temp dirs, run outputs, caches,
trace files), so a run never touches anything outside its checkout.
The engine is only ever called through its public functions.
"""

from __future__ import annotations

import gc
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")


def state_dir(*parts: str) -> str:
    path = os.path.join(STATE, *parts)
    os.makedirs(path, exist_ok=True)
    return path


def fresh_dir(*parts: str) -> str:
    path = os.path.join(STATE, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def cores() -> int:
    """k for ``local[k]``: every core the process may use, at most 4."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def confine_env(k: int) -> None:
    """Point every temp/scratch location at the checkout before pyspark
    (and the JVM it launches) is imported or started."""
    tmp = state_dir("tmp")
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = None          # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = state_dir("spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(k)
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def md5_json(obj) -> str:
    return hashlib.md5(json.dumps(obj).encode()).hexdigest()


def source_tag(*parts: str) -> str:
    """Cache key of something derived from the engine's generator and
    kernels: the bytes of ``core/`` and ``corpus/``, of each file named
    in ``parts`` (the deriving module) and of the other ``parts``."""
    import glob

    h = hashlib.md5()
    pkg = os.path.join(ROOT, "exam_pdf_parser_spark")
    files = sorted(glob.glob(os.path.join(pkg, "core", "*.py"))) + sorted(
        glob.glob(os.path.join(pkg, "corpus", "*.py")))
    for p in files + [p for p in parts if os.path.isfile(p)]:
        with open(p, "rb") as f:
            h.update(f.read())
    for p in parts:
        if not os.path.isfile(p):
            h.update(p.encode())
    return h.hexdigest()[:16]


def canon_hash(records: list[dict], cols: list[str]) -> str:
    """Order-insensitive value hash of a query result, computed with
    ``scripts/crosscheck.py``'s ``canon`` so the benchmark grades
    outputs exactly as the repository's correctness gate does."""
    return md5_json(_script("crosscheck").canon(records, sorted(cols)))


def _script(name: str):
    """A module of the repository's ``scripts/`` directory."""
    import importlib

    scripts = os.path.join(ROOT, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    return importlib.import_module(name)


def rss_monitor(interval: float = 0.1):
    """``scripts/giant_stress_bench.py``'s /proc sampler of per-process
    Python-worker RSS (max single process), started."""
    mon = _script("giant_stress_bench").RssMonitor(interval=interval)
    mon.start()
    return mon


def stop_monitor(mon) -> float:
    """Stop a monitor from :func:`rss_monitor`; its peak in MB.  (The
    sampler thread ends on its next tick; RssMonitor's ``_stop`` event
    shadows ``Thread._stop``, so it cannot be joined.)"""
    mon.stop()
    return mon.max_single_kb / 1024.0


# --------------------------------------------------------------------------
# tracing


class Tracer:
    """In-memory spans: name, start, end, parent and run id.  Disabled
    tracers hand out no-op spans, so untraced runs pay nothing beyond a
    context-manager call.  ``dump`` writes spans plus self time (span
    duration minus what its child spans cover) once, at exit."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] or s["start"]) - s["start"] - child[s["id"]]
                for s in self.spans}

    def dump(self, path: str) -> None:
        selft = self.self_times()
        by_name: dict[str, dict] = {}
        for s in self.spans:
            s["self_s"] = selft[s["id"]]
            agg = by_name.setdefault(s["name"], {"n": 0, "total_s": 0.0,
                                                 "self_s": 0.0})
            agg["n"] += 1
            agg["total_s"] += (s["end"] or s["start"]) - s["start"]
            agg["self_s"] += s["self_s"]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "by_name": by_name}, f, indent=1, default=str)


def traced_span(tracer: Tracer, traced: bool, name: str, **attrs):
    """``tracer.span`` for a traced operation; nothing for a plain one
    (traced runs interleave the two)."""
    return tracer.span(name, **attrs) if traced else nullcontext()


# --------------------------------------------------------------------------
# Spark session lifecycle and probes


class Session:
    """The benchmark's one SparkSession on ``local[k]`` with
    ``get_spark`` defaults; only placement settings are added (scratch
    and temp dirs inside the checkout, no console progress bar)."""

    def __init__(self, k: int):
        from exam_pdf_parser_spark.session import get_spark

        tmp = state_dir("tmp")
        self.k = k
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.local.dir": state_dir("spark-local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            })
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.tracker = self.sc.statusTracker()
        self._group = 0

    @contextmanager
    def job_group(self, counts: dict | None):
        """Tag the jobs fired inside the block and add their job /
        completed-task / failed-task counts to ``counts``; a no-op when
        ``counts`` is None."""
        if counts is None:
            yield
            return
        self._group += 1
        gid = f"perfbench-{self._group}"
        self.sc.setJobGroup(gid, gid, False)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count(gid, counts)

    def _count(self, gid: str, counts: dict) -> None:
        jobs = self.tracker.getJobIdsForGroup(gid)
        counts["jobs"] = counts.get("jobs", 0) + len(jobs)
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    counts["tasks"] = (counts.get("tasks", 0)
                                       + st.numCompletedTasks)
                    counts["tasks_failed"] = (counts.get("tasks_failed", 0)
                                              + st.numFailedTasks)

    def settle(self) -> None:
        """Collect garbage in the driver and the JVM before a timed
        operation, so a collection the previous one left due does not
        land inside it."""
        gc.collect()
        self.spark._jvm.System.gc()

    def stop(self) -> None:
        """Stop Spark, the JVM gateway and every Python worker, and wait
        until each process has ended."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        kids = descendants(proc.pid) if proc is not None else []
        self.spark.stop()
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # the gateway may already be gone
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while kids and time.monotonic() < deadline:
            kids = [p for p in kids if _alive(p)]
            if kids:
                time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, 9)
            except OSError:
                pass
        while any(_alive(p) for p in kids):
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ")[-1][:1] != "Z"
    except OSError:
        return False


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().split(") ")[-1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def noop_write(df) -> None:
    """Execute a DataFrame fully without a sink cost."""
    df.write.format("noop").mode("overwrite").save()


def shuffle_bytes(df) -> int:
    """Bytes written by every shuffle exchange of ``df``'s executed
    plan.  Walk the AQE-final plan (query stages unwrapped, as
    ``scripts/explain_audit.py`` reads it after the action) and sum the
    exchanges' ``dataSize`` metrics; reused exchanges count once."""
    total = 0

    def walk(node):
        nonlocal total
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if cls == "ReusedExchangeExec":
            return
        if cls == "ShuffleExchangeExec":
            m = node.metrics().get("dataSize")
            if m.isDefined():
                total += int(m.get().value())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return total


def environment(k: int) -> dict:
    """What the result depends on besides the code."""
    import pyarrow
    import pyspark

    import exam_pdf_parser_spark.core.assemble as asm

    try:
        import orjson
        orjson_v = orjson.__version__
    except ImportError:
        orjson_v = None
    # core.assemble binds _orjson only when the import succeeded; the
    # stdlib fallback is silent and ~6x slower on decode
    uses_orjson = hasattr(asm, "_orjson")
    return {
        "nproc": len(os.sched_getaffinity(0))
        if hasattr(os, "sched_getaffinity") else os.cpu_count(),
        "cpu_count": os.cpu_count(),
        "k": k,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "orjson": orjson_v,
        "assemble_json_parser": "orjson" if uses_orjson else "stdlib",
    }


def finite(x: float) -> float:
    return x if isinstance(x, (int, float)) and math.isfinite(x) else 0.0
