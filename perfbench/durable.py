"""The durable-extraction workload ``fat_tail``: ``run_extraction``
with engine defaults (scan -> size-route -> extract -> bucketed write
-> manifest commit) over mostly ordinary XLAY1 documents plus real
``%PDF-`` payloads, multi-thousand-page giants and planted corrupt
payloads, so the bulk path, routing, the page-parallel path, output
sharding, ``core.pdf`` and quarantine all do real work.  Every
document of every call is graded against the single-node oracle.
"""

from __future__ import annotations

import glob
import os
import random
import time
import zlib
from concurrent.futures import ThreadPoolExecutor

from .common import (
    Tracer, fresh_dir, median, md5_json, noop_write, rss_monitor,
    source_tag, state_dir, stop_monitor, traced_span,
)

# ordinary docs, the share of them turned into PDFs, giants and their
# page count, the warm-up giant's page count, planted corrupt payloads
SIZE = {"docs": 1000, "pdf_share": 0.03, "giants": 2, "giant_pages": 2000,
        "warm_giant_pages": 300, "corrupt": 10}
# a reduced scale for the benchmark's own tests
TINY = {"docs": 120, "pdf_share": 0.05, "giants": 1, "giant_pages": 240,
        "warm_giant_pages": 160, "corrupt": 5}
WORKLOAD = "fat_tail"
MIN_OPS = 2
TRACED_MIN_OPS = 4      # plain, traced, traced, plain
WARMUP_DOCS = 200        # ordinary docs in the warm-up call
POOL_SEED = 7
POOL_DOCS = {False: 8000, True: 300}    # by tiny
KERNEL_SAMPLE = 200      # XLAY docs timed per kernel phase in the driver
PDF_SAMPLE = 30

SPAN_FIELDS = ("question_number", "page_idx", "x0", "y0", "x1", "y1",
               "text_preview", "spans_page", "group_range", "region_idx")
QUARANTINE_CLASSES = ("ValueError", "error", "JSONDecodeError",
                      "AttributeError")


# --------------------------------------------------------------------------
# inputs


def _corrupt(kind: str, good: bytes, rng: random.Random) -> bytes:
    """Planted corrupt payloads, one per quarantine error class."""
    from exam_pdf_parser_spark.core.assemble import PAYLOAD_MAGIC

    if kind == "bad_magic":                     # ValueError
        return b"garbage payload " + rng.randbytes(64)
    if kind == "truncated_zlib":                # zlib.error
        return good[:len(good) // 2]
    if kind == "bad_json":                      # JSONDecodeError
        return PAYLOAD_MAGIC + zlib.compress(b'{"v":1,"pages":[{' +
                                             rng.randbytes(8).hex().encode())
    if kind == "broken_pdf":                    # ValueError (no catalog)
        return b"%PDF-1.4\n" + rng.randbytes(512)
    if kind == "bad_pages":                     # AttributeError
        return PAYLOAD_MAGIC + zlib.compress(b'{"v":1,"pages":[1,2,3]}')
    raise ValueError(kind)


CORRUPT_KINDS = ("bad_magic", "truncated_zlib", "bad_json", "broken_pdf",
                 "bad_pages")


def _giant(sources: list[bytes], n_pages: int) -> bytes:
    """One ``n_pages``-page document made of the pages of distinct
    ordinary documents, renumbered.  (Distinct pages keep the payload
    about as incompressible as real content; tiling one document's
    pages, as ``scripts/giant_stress_bench.py`` does, lets zlib shrink
    it by a factor that depends on that document's size.)"""
    from exam_pdf_parser_spark.core.assemble import (
        decode_payload, encode_payload,
    )

    pages: list[dict] = []
    for html in sources:
        for p in decode_payload(html)["pages"][:n_pages - len(pages)]:
            q = dict(p)
            q["page_idx"] = len(pages)
            pages.append(q)
        if len(pages) == n_pages:
            break
    if len(pages) < n_pages:
        raise ValueError(f"{len(sources)} documents hold < {n_pages} pages")
    return encode_payload({"v": 1, "pages": pages})


def doc_pool(sess, n: int):
    """A pool of ``n`` ordinary documents from the engine's generator
    with their oracle digests, built once per checkout (on the
    executors, then graded in the driver) and cached under
    ``.perfbench/pool`` keyed by the code that produces them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from exam_pdf_parser_spark.operators.extract import corpus_df

    base = state_dir("pool", source_tag(__file__, f"{n}:{POOL_SEED}"))
    path = os.path.join(base, "pool.parquet")
    if not os.path.exists(path):
        gen = fresh_dir("pool", "generating")
        corpus_df(sess.spark, n, seed=POOL_SEED,
                  partitions=4 * sess.k).select("url", "html").write.mode(
            "overwrite").parquet(gen)
        t = pq.read_table(gen)
        digests = [oracle_one(u, h)[0] for u, h in zip(
            t.column("url").to_pylist(), t.column("html").to_pylist())]
        t = t.append_column("digest", pa.array(digests, pa.string()))
        pq.write_table(t, path + ".tmp")
        os.replace(path + ".tmp", path)
    return pq.read_table(path)


def plan_inputs(sess, seed: int, size: dict, pool) -> dict:
    """The seeded documents of one run: a seeded sample of the pool in
    seeded order, with (fat tail) real PDFs made from sampled documents
    and planted corrupt payloads; oracle digests are known for the
    untouched pool documents and ``None`` elsewhere.  Also writes the
    warm-up input: a slice of the ordinary documents, a few PDFs, every
    corrupt payload and (fat tail) one smaller giant, so that every
    code path has run once before timing.  The full-size giants and
    the main input file come from :func:`finish_inputs`."""
    import pyarrow as pa

    from exam_pdf_parser_spark.core.assemble import decode_payload
    from exam_pdf_parser_spark.core.pdf import build_pdf

    rng = random.Random(seed)
    order = list(range(pool.num_rows))
    rng.shuffle(order)
    pick, spare = order[:size["docs"]], order[size["docs"]:]
    sel = pool.take(pa.array(pick))
    urls = sel.column("url").to_pylist()
    htmls = sel.column("html").to_pylist()
    digests = sel.column("digest").to_pylist()
    kinds = ["xlay"] * len(urls)

    n_pdf = round(size["pdf_share"] * len(urls))
    n_bad = size["corrupt"]
    for i in range(n_pdf):
        htmls[i] = build_pdf(decode_payload(htmls[i])["pages"])
        kinds[i] = "pdf"
        digests[i] = None
    for j, i in enumerate(range(n_pdf, n_pdf + n_bad)):
        kind = CORRUPT_KINDS[j % len(CORRUPT_KINDS)]
        htmls[i] = _corrupt(kind, htmls[i], rng)
        kinds[i] = "corrupt:" + kind
        digests[i] = None
    perm = list(range(len(urls)))
    rng.shuffle(perm)
    docs = {"urls": [urls[i] for i in perm], "htmls": [htmls[i] for i in perm],
            "kinds": [kinds[i] for i in perm],
            "digests": [digests[i] for i in perm],
            "spare_html": pool.take(pa.array(spare)).column("html").to_pylist()}

    kinds = docs["kinds"]
    w = [i for i, kd in enumerate(kinds) if kd == "xlay"][:WARMUP_DOCS] \
        + [i for i, kd in enumerate(kinds) if kd == "pdf"][:5] \
        + [i for i, kd in enumerate(kinds) if kd.startswith("corrupt")]
    warm = {k: [docs[k][i] for i in w]
            for k in ("urls", "htmls", "kinds", "digests")}
    if size["giants"]:
        warm["urls"].append(f"https://giant.example/{seed}/warmup")
        warm["htmls"].append(_giant(docs["spare_html"][::-1],
                                    size["warm_giant_pages"]))
        warm["kinds"].append("giant")
        warm["digests"].append(None)
    _check_routing(warm)
    warm["dir"], _ = _write_table(fresh_dir("run", WORKLOAD, "warmup"),
                                  warm["urls"], warm["htmls"], sess.k)
    docs["warm"] = warm
    return docs


def finish_inputs(sess, seed: int, size: dict, docs: dict) -> None:
    """Add the full-size giants to :func:`plan_inputs`' documents, write
    the main input and record its measured shares."""
    urls, htmls = docs["urls"], docs["htmls"]
    kinds, digests = docs["kinds"], docs["digests"]
    spare = docs.pop("spare_html")
    # giants are spread evenly over the input files, so their cost does
    # not swing with the seed's file placement
    n_g = size["giants"]
    per_giant = len(spare) // (n_g + 1)
    for g in range(n_g):
        at = (2 * g + 1) * len(urls) // (2 * n_g)
        urls.insert(at, f"https://giant.example/{seed}/{g}")
        htmls.insert(at, _giant(spare[g * per_giant:(g + 1) * per_giant],
                                size["giant_pages"]))
        kinds.insert(at, "giant")
        digests.insert(at, None)
    _check_routing(docs)
    docs["dir"], docs["input_bytes"] = _write_table(
        fresh_dir("run", WORKLOAD, "input"), urls, htmls, 4 * sess.k)

    total_bytes = sum(len(h) for h in htmls)
    docs["shares"] = {}
    for label in ("xlay", "pdf", "giant", "corrupt"):
        idx = [i for i, kd in enumerate(kinds) if kd.split(":")[0] == label]
        docs["shares"][label] = {
            "docs": len(idx),
            "doc_share": len(idx) / len(urls),
            "byte_share": sum(len(htmls[i]) for i in idx) / total_bytes,
        }
    docs["max_html_bytes"] = max(len(h) for h in htmls)


def _check_routing(docs: dict) -> None:
    """Exactly the planted giants are above the router's threshold, so
    a change to routing cannot move ordinary documents onto the paged
    path (or giants off it) unnoticed."""
    from exam_pdf_parser_spark.operators.extract_paged import GIANT_BYTES

    for url, kind, html in zip(docs["urls"], docs["kinds"], docs["htmls"]):
        if (kind == "giant") != (len(html) > GIANT_BYTES):
            raise RuntimeError(f"{kind} payload {url} of {len(html)} bytes "
                               f"routes the wrong way")


def _write_table(out_dir: str, urls, htmls, n_files: int):
    """(url, html) as ``n_files`` parquet files; (dir, total bytes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({"url": pa.array(urls, pa.string()),
                      "html": pa.array(htmls, pa.binary())})
    step = -(-len(urls) // n_files)
    total = 0
    for f in range(n_files):
        part = table.slice(f * step, step)
        if part.num_rows:
            path = os.path.join(out_dir, f"part-{f:03d}.parquet")
            pq.write_table(part, path)
            total += os.path.getsize(path)
    return out_dir, total


# --------------------------------------------------------------------------
# oracle and output check


def doc_digest(status: str, text, spans, error) -> str:
    """Digest of one document's extraction result; ``spans`` is a list
    of per-span field sequences in SPAN_STRUCT order."""
    if status == "ok":
        return md5_json(["ok", text, [list(s) for s in spans]])
    return md5_json([status, error])


def oracle_one(url: str, html: bytes) -> tuple[str, float]:
    """The single-node oracle's (``core.oracle.oracle_spans_and_text``)
    digest of one document, and its kernel time in seconds.  A payload
    it cannot decode is expected in quarantine with the exception text
    the engine records."""
    from exam_pdf_parser_spark.core.oracle import oracle_spans_and_text

    t0 = time.perf_counter()
    try:
        spans, ext = oracle_spans_and_text([{"url": url, "html": html}])
    except Exception as e:  # the engine quarantines these
        return (doc_digest("error", None, None,
                           f"{type(e).__name__}: {e}"[:500]),
                time.perf_counter() - t0)
    took = time.perf_counter() - t0
    return doc_digest("ok", ext[0]["extracted_text"],
                      [[s[f] for f in SPAN_FIELDS] for s in spans],
                      None), took


def complete_oracle(inputs: dict, recompute: bool) -> float:
    """Fill the digests the pool did not have; with ``recompute``,
    grade every document afresh (and require the pool's digests to
    agree).  Returns the driver-side kernel time (s) summed over the
    documents below ``GIANT_BYTES``."""
    from exam_pdf_parser_spark.operators.extract_paged import GIANT_BYTES

    kernel_s = 0.0
    for i, (url, html) in enumerate(zip(inputs["urls"], inputs["htmls"])):
        known = inputs["digests"][i]
        if known is not None and not recompute:
            continue
        digest, took = oracle_one(url, html)
        if len(html) <= GIANT_BYTES:
            kernel_s += took
        if known is not None and known != digest:
            raise RuntimeError(f"cached oracle digest of {url} is stale")
        inputs["digests"][i] = digest
    return kernel_s


def _digest_batches(batches):
    """Executor side of the output check: one digest per output row."""
    import pandas as pd

    for pdf in batches:
        out = []
        for text, spans, status, error in zip(
                pdf["extracted_text"], pdf["spans"], pdf["status"],
                pdf["error"]):
            rows = [] if spans is None else [
                [d[f] for f in SPAN_FIELDS] for d in spans]
            out.append(doc_digest(status, text, rows, error))
        yield pd.DataFrame({"url": pdf["url"], "status": pdf["status"],
                            "digest": out})


def check_output(spark, out_dir: str, inputs: dict) -> dict:
    """Grade one durable output directory document by document.  A
    document fails when its row is missing or duplicated, when its
    digest differs from the oracle's, or when it is misclassified (a
    planted corrupt payload comes out ok, or a good one is not ok)."""
    from exam_pdf_parser_spark.operators.extract_paged import (
        reassemble_sharded,
    )
    from exam_pdf_parser_spark.sources.manifest import (
        read_extracted, restore_reader_batch,
    )

    from pyspark.sql import functions as F

    cols = ["url", "extracted_text", "spans", "status", "error"]
    out = read_extracted(spark, out_dir)
    # only sharded documents need the (shuffling) reassembly
    whole = out.filter(F.col("n_shards") == 1).select(*cols)
    sharded = reassemble_sharded(out.filter(F.col("n_shards") > 1)).select(
        *cols)
    rows = whole.unionByName(sharded).mapInPandas(
        _digest_batches, "url string, status string, digest string"
    ).collect()
    restore_reader_batch(spark)          # read_extracted's conf is sticky
    got: dict[str, list] = {}
    for r in rows:
        got.setdefault(r["url"], []).append(r)
    failed = misclassified = missing = mismatched = 0
    for url, kind, want in zip(inputs["urls"], inputs["kinds"],
                               inputs["digests"]):
        rs = got.pop(url, [])
        if len(rs) != 1:
            missing += 1
            failed += 1
            continue
        r = rs[0]
        if (r["status"] == "ok") == kind.startswith("corrupt"):
            misclassified += 1
            failed += 1
        elif r["digest"] != want:
            mismatched += 1
            failed += 1
    extra = sum(len(v) for v in got.values())
    return {"attempted": len(inputs["urls"]), "failed": failed + extra,
            "missing": missing, "mismatched": mismatched,
            "misclassified": misclassified, "unexpected_rows": extra}


def committed_docs(out_dir: str, run_id: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for p in glob.glob(os.path.join(out_dir, "manifest", "*.parquet")):
        t = pq.read_table(p).to_pydict()
        n += sum(d for rid, d in zip(t["run_id"], t["docs_in"])
                 if rid == run_id)
    return n


# --------------------------------------------------------------------------
# the workload


def run(sess, seed: int, seconds: float, trace: bool, tracer: Tracer,
        tiny: bool = False, wrong_digest: bool = False) -> dict:
    """``wrong_digest`` replaces one expected digest by a wrong one, to
    show that the check fails (the benchmark's tests)."""
    from exam_pdf_parser_spark.sources.manifest import run_extraction

    spark = sess.spark
    size = TINY if tiny else SIZE
    setup = {}
    t0 = time.perf_counter()
    with tracer.span("setup.inputs"):
        pool = doc_pool(sess, POOL_DOCS[tiny])
        inputs = plan_inputs(sess, seed, size, pool)
    setup["inputs_s"] = time.perf_counter() - t0
    warm = inputs["warm"]
    docs = None                           # the main input, once written

    attempted = failed = 0
    checks = []

    def extract_op(i, traced, src=None):
        """One timed ``run_extraction`` call into a fresh directory."""
        src = docs if src is None else src
        out_dir = fresh_dir("run", WORKLOAD, f"out{i % 2}")
        counts = {} if traced else None
        mon = rss_monitor()
        with traced_span(tracer, traced, "run_extraction", op=i), \
                sess.job_group(counts):
            t0 = time.perf_counter()
            summary = run_extraction(spark, src, out_dir, f"op{i}")
            wall = time.perf_counter() - t0
        committed = committed_docs(out_dir, f"op{i}")
        return {"wall_s": wall, "rss_mb": stop_monitor(mon),
                "committed": committed, "docs_per_s": committed / wall,
                "traced": traced, "counts": counts,
                "buckets": summary["buckets_processed"], "out_dir": out_dir}

    def grade(op, graded, traced=False):
        nonlocal attempted, failed
        t0 = time.perf_counter()
        with traced_span(tracer, traced, "check"):
            chk = check_output(spark, op["out_dir"], graded)
        chk["check_s"] = time.perf_counter() - t0
        attempted += chk["attempted"]
        failed += chk["failed"]
        checks.append(chk)

    def finish_and_grade_inputs():
        # the rest of the inputs, and the driver-side oracle; traced
        # runs grade every document afresh, since the summed kernel time
        # is the numerator of body_share
        nonlocal docs
        t0 = time.perf_counter()
        with tracer.span("setup.inputs.finish"):
            finish_inputs(sess, seed, size, inputs)
        docs = spark.read.parquet(inputs["dir"])
        t1 = time.perf_counter()
        setup["inputs_s"] += t1 - t0
        with tracer.span("setup.oracle"):
            kernel = complete_oracle(inputs, recompute=trace)
            complete_oracle(warm, recompute=False)
        if wrong_digest:
            planted = inputs["urls"][0]
            for d in (inputs, warm):
                if planted in d["urls"]:
                    d["digests"][d["urls"].index(planted)] = "0" * 32
        setup["oracle_s"] = time.perf_counter() - t1
        return kernel

    t0 = time.perf_counter()
    warm_src = spark.read.parquet(warm["dir"])
    if trace:
        kernel_s = finish_and_grade_inputs()
        t0 = time.perf_counter()
        with tracer.span("setup.warmup"):
            grade(extract_op(0, False, warm_src), warm)
    else:
        # the rest of the input and the oracle overlap the warm-up call
        with ThreadPoolExecutor(1) as ex:
            fut = ex.submit(extract_op, 0, False, warm_src)
            kernel_s = finish_and_grade_inputs()
            warm_op = fut.result()
        grade(warm_op, warm)
    setup_end = time.perf_counter()
    setup["warmup_s"] = setup_end - t0

    ops = []
    t_start = time.perf_counter()
    i = 1
    while time.perf_counter() - t_start < seconds \
            or len(ops) < (TRACED_MIN_OPS if trace else MIN_OPS):
        # traced runs order plain and traced ops ABBA, so the overhead of
        # tracing (the difference of the two medians) is not confounded
        # with the warm-up drift
        sess.settle()
        op = extract_op(i, trace and i % 4 in (2, 3))
        grade(op, inputs, op["traced"])
        ops.append(op)
        i += 1
    measure_s = time.perf_counter() - t_start

    plain = [o for o in ops if not o["traced"]]
    result = {
        "n_docs": len(inputs["urls"]),
        "attempted": attempted, "failed": failed, "checks": checks,
        "setup": setup, "setup_end": setup_end, "measure_s": measure_s,
        "ops": [{k: v for k, v in o.items() if k != "out_dir"} for o in ops],
        "shares": inputs["shares"], "max_html_bytes": inputs["max_html_bytes"],
        "e2e": {
            "op_s": median([o["wall_s"] for o in plain]),
            "peak_worker_rss_mb": median([o["rss_mb"] for o in plain]),
            "docs_per_s": median([o["docs_per_s"] for o in plain]),
        },
    }
    if trace:
        result["layers"] = layers(sess, inputs, docs, ops, kernel_s, tracer)
    return result


def _timed(fn, reps: int) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return median(ts)


def layers(sess, inputs, docs, ops, kernel_s, tracer) -> dict:
    """Per-layer attribution of the durable path (traced run only)."""
    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from exam_pdf_parser_spark.core.shard import DEFAULT_SHARD_CHARS
    from exam_pdf_parser_spark.operators.extract import extract
    from exam_pdf_parser_spark.operators.extract_paged import (
        GIANT_BYTES, explode_pages, extract_auto, extract_paged,
        release_routed_cache,
    )
    from exam_pdf_parser_spark.sources.manifest import (
        read_extracted, restore_reader_batch, run_extraction,
    )

    spark, k = sess.spark, sess.k
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    m: dict[str, float] = {}

    def auto_noop(src):
        # the router exactly as run_extraction calls it
        res = extract_auto(src, with_timing=True,
                           shard_chars=DEFAULT_SHARD_CHARS)
        noop_write(res)
        release_routed_cache(res)

    # scan / kernel / router probes run on the documents below
    # GIANT_BYTES: the router's overhead over the plain kernel on a
    # giant-free corpus (giants are probed on their own below)
    bulk = docs.filter(F.length("html") <= GIANT_BYTES)
    with tracer.span("sources.io.scan"):
        m["sources.io.scan_s"] = _timed(
            lambda: noop_write(bulk.select("url", "html")), 3)
    with tracer.span("operators.extract.extract"):
        m["operators.extract.extract_s"] = _timed(
            lambda: noop_write(extract(bulk, with_timing=True)), 2)
    with tracer.span("operators.extract_paged.extract_auto"):
        m["operators.extract_paged.extract_auto_s"] = _timed(
            lambda: auto_noop(bulk), 2)
        m["operators.extract_paged.extract_auto_full_s"] = _timed(
            lambda: auto_noop(docs), 1)
    m["operators.extract.body_share"] = kernel_s / (
        m["operators.extract.extract_s"] * k)
    m["operators.extract_paged.router_ratio"] = (
        m["operators.extract_paged.extract_auto_s"]
        / m["operators.extract.extract_s"])

    giants = docs.filter(F.length("html") > GIANT_BYTES)
    n_giants = sum(1 for kd in inputs["kinds"] if kd == "giant")
    if n_giants:
        with tracer.span("operators.extract_paged.giants"):
            m["operators.extract_paged.giant_explode_s"] = _timed(
                lambda: noop_write(explode_pages(giants)), 1)
            m["operators.extract_paged.giant_paged_s"] = _timed(
                lambda: noop_write(extract_paged(
                    explode_pages(giants), shard_chars=DEFAULT_SHARD_CHARS)),
                1)
            m["operators.extract_paged.giant_page_rows"] = \
                explode_pages(giants).count()
    else:
        for name in ("giant_explode_s", "giant_paged_s", "giant_page_rows"):
            m["operators.extract_paged." + name] = 0

    # the last op's durable output is still on disk
    out_dir = ops[-1]["out_dir"]
    ext = os.path.join(out_dir, "extracted")
    t = pq.read_table(ext, columns=["url", "status", "error", "proc_us",
                                    "shard_idx", "n_shards"]).to_pydict()
    m["operators.extract_paged.shard_rows"] = sum(
        1 for n in t["n_shards"] if n and n > 1)
    procs = np.array([p for p, s in zip(t["proc_us"], t["shard_idx"])
                      if p is not None and not s], dtype=np.float64)
    m["operators.extract_paged.proc_us_p50"] = float(np.percentile(procs, 50))
    m["operators.extract_paged.proc_us_p99"] = float(np.percentile(procs, 99))
    quarantine = {c: 0 for c in QUARANTINE_CLASSES + ("other",)}
    for st, err, s in zip(t["status"], t["error"], t["shard_idx"]):
        if st == "error" and not s:
            cls = (err or "").split(":", 1)[0]
            quarantine[cls if cls in quarantine else "other"] += 1
    for c, n in quarantine.items():
        m[f"operators.extract.quarantined.{c}"] = n
    files = glob.glob(os.path.join(ext, "**", "*.parquet"), recursive=True)
    m["sources.manifest.files_written"] = len(files)
    m["sources.manifest.bytes_per_input_byte"] = (
        sum(os.path.getsize(f) for f in files) / inputs["input_bytes"])
    m["sources.manifest.write_commit_derived_s"] = (
        median([o["wall_s"] for o in traced])
        - m["operators.extract_paged.extract_auto_full_s"])

    with tracer.span("sources.manifest.resume"):
        t0 = time.perf_counter()
        again = run_extraction(spark, docs, out_dir, "resume")
        m["sources.manifest.resume_noop_s"] = time.perf_counter() - t0
    if again["buckets_processed"] != 0:
        raise RuntimeError(f"resume reprocessed {again['buckets_processed']}"
                           " buckets")
    with tracer.span("sources.manifest.read_extracted"):
        m["sources.manifest.read_extracted_s"] = _timed(
            lambda: noop_write(read_extracted(spark, out_dir)), 2)
        restore_reader_batch(spark)

    with tracer.span("core.kernels"):
        m.update(kernel_phases(inputs))

    m["spark.jobs"] = median([o["counts"].get("jobs", 0) for o in traced])
    m["spark.tasks"] = median([o["counts"].get("tasks", 0) for o in traced])
    m["spark.tasks_failed"] = median(
        [o["counts"].get("tasks_failed", 0) for o in traced])
    m["trace.overhead_s"] = (median([o["wall_s"] for o in traced])
                             - median([o["wall_s"] for o in plain]))
    m["workload.docs_per_s"] = median([o["docs_per_s"] for o in plain])
    return m


def kernel_phases(inputs: dict) -> dict:
    """Per-document time (us) of each kernel phase, single-threaded in
    the driver over a fixed sample of the workload's own documents."""
    from exam_pdf_parser_spark.core.assemble import (
        annotate_block_texts, assemble_text, decode_payload,
    )
    from exam_pdf_parser_spark.core.detector import detect_regions
    from exam_pdf_parser_spark.core.pdf import parse_pdf_pages

    xlay = [h for h, kd in zip(inputs["htmls"], inputs["kinds"])
            if kd == "xlay"][:KERNEL_SAMPLE]
    pdfs = [h for h, kd in zip(inputs["htmls"], inputs["kinds"])
            if kd == "pdf"][:PDF_SAMPLE]
    dec = asm = det = 0.0
    for h in xlay:
        t0 = time.perf_counter()
        pages = decode_payload(h).get("pages", [])
        t1 = time.perf_counter()
        annotate_block_texts(pages)
        assemble_text(pages)
        t2 = time.perf_counter()
        detect_regions(pages, 1, 50)
        t3 = time.perf_counter()
        dec += t1 - t0
        asm += t2 - t1
        det += t3 - t2
    parse = 0.0
    for h in pdfs:
        t0 = time.perf_counter()
        parse_pdf_pages(h)
        parse += time.perf_counter() - t0
    n = max(1, len(xlay))
    return {
        "core.assemble.decode_us": dec / n * 1e6,
        "core.assemble.assemble_us": asm / n * 1e6,
        "core.detector.detect_us": det / n * 1e6,
        "core.pdf.parse_us": parse / len(pdfs) * 1e6 if pdfs else 0.0,
    }
