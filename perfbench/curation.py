"""``curation_queries``: nine derived-table queries over an sf0.1-shaped
star schema plus documents and embeddings tables, each graded by its
canonical value hash against an independent oracle (the DuckDB twin
SQL the query registers, or the single-node Python oracle
``core.oracle_x`` for the two parse/validate queries).

The tables are synthesized here, deterministically, at the row counts
of the sf0.1 driver data (documents are fewer, so the parse and
validate queries fit a run); they and the oracle hashes are cached
under ``.perfbench/curation`` keyed by the source that produces them.
The run seed permutes the query order only.
"""

from __future__ import annotations

import json
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from .common import (
    Tracer, canon_hash, median, rss_monitor, shuffle_bytes, source_tag,
    state_dir, stop_monitor, traced_span,
)

# (group, module path, query) in registry order
QUERIES = [
    ("pairs", "operators.dedupe", "minhash_lsh_pairs"),
    ("pairs", "operators.dedupe", "simhash_near_pairs"),
    ("pairs", "operators.similarity", "ann_topk_dot"),
    ("relational", "plans.relational", "pricing_summary"),
    ("relational", "plans.relational", "revenue_by_nation"),
    ("relational", "plans.relational", "top_parts_by_brand"),
    ("relational", "operators.dedupe", "exact_dup_assignment"),
    ("parse_validate", "operators.parsed", "x_parsed_questions"),
    ("parse_validate", "operators.validation", "x_validation_issues"),
]
GROUPS = ("pairs", "relational", "parse_validate")

ROWS = {"nation": 25, "customer": 15_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "documents": 300,
        "embeddings": 2_000}
TINY_ROWS = {"nation": 25, "customer": 300, "part": 400, "orders": 3_000,
             "lineitem": 12_000, "documents": 60, "embeddings": 200}
DATA_SEED = 42
MIN_PASSES = 2
TRACED_MIN_PASSES = 4   # plain, traced, traced, plain
WARMUP_THREADS = 4

_VOCAB = ("batch part spark line column order small sort fast value scan a "
          "hash slow group agg filter query big key window row table stream "
          "merge data vector join index page cache").split()
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def generate_tables(out_dir: str, rows: dict) -> None:
    """Write the seeded tables (one parquet file each)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(DATA_SEED)

    def write(name, cols):
        pq.write_table(pa.table(cols),
                       os.path.join(out_dir, f"{name}.parquet"))

    n_nat = rows["nation"]
    write("nation", {
        "n_nationkey": pa.array(np.arange(n_nat, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(n_nat)],
        "n_regionkey": pa.array((np.arange(n_nat) % 5).astype(np.int32)),
    })
    n_c = rows["customer"]
    write("customer", {
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, n_nat, n_c, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_c), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], n_c),
    })
    n_p = rows["part"]
    write("part", {
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": rng.choice(["large ring", "hot bolt", "small gear",
                              "blue pipe", "red valve"], n_p),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "PROMO"], n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p, dtype=np.int32)),
        "p_retailprice": np.round(900 + np.arange(n_p) * 0.1, 2),
    })
    n_o = rows["orders"]
    write("orders", {
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o, dtype=np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_o), 2),
        "o_orderdate": pa.array(
            (np.datetime64("1992-01-01")
             + rng.integers(0, 3650, n_o).astype("timedelta64[D]")
             ).astype("datetime64[us]")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_o),
    })
    n_l = rows["lineitem"]
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_o, n_l, dtype=np.int64),
        "l_partkey": rng.integers(0, n_p, n_l, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1000, n_l, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n_l) / 100.0,
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["O", "F"], n_l),
        "l_shipdate": pa.array(
            (np.datetime64("1992-01-01")
             + rng.integers(0, 3650, n_l).astype("timedelta64[D]")
             ).astype("datetime64[us]")),
    })
    n_d = rows["documents"]
    texts = []
    for i in range(n_d):
        if i % 125 == 7 and texts:        # planted exact duplicates
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        n_words = int(rng.integers(10, 101))
        texts.append(" ".join(rng.choice(_VOCAB, n_words)))
    write("documents", {
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_d),
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_e = rows["embeddings"]
    centers = rng.normal(0, 0.12, (10, 64))
    labels = rng.integers(0, 10, n_e)
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_e, 64))).astype(
        np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_e, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def _oracle_sql() -> dict[str, str]:
    from exam_pdf_parser_spark.operators import dedupe, similarity
    from exam_pdf_parser_spark.plans import relational

    sql = {}
    for mod in (dedupe, similarity, relational):
        sql.update(mod.ORACLE)
    return sql


def _cache_tag(rows: dict) -> str:
    """Everything the cached tables and oracle hashes depend on."""
    sql = _oracle_sql()
    return source_tag(__file__, json.dumps(rows, sort_keys=True),
                      *(sql.get(q, "") for _, _, q in QUERIES))


def oracle_hashes(data_dir: str, rows: dict) -> dict[str, str]:
    """Value hash of each query's expected result, from DuckDB over the
    twin SQL or from ``core.oracle_x`` for the ``x_*`` queries."""
    import duckdb
    import pandas as pd

    from exam_pdf_parser_spark.core.oracle_x import X_ORACLES
    from exam_pdf_parser_spark.corpus.generator import build_document

    sql = _oracle_sql()
    con = duckdb.connect()
    try:
        for t in ROWS:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        docs = None
        for _, _, q in QUERIES:
            if q in X_ORACLES:
                if docs is None:
                    docs = [build_document(i)
                            for i in range(rows["documents"])]
                odf = pd.DataFrame(X_ORACLES[q](docs))
            else:
                odf = con.sql(sql[q]).df()
            out[q] = canon_hash(odf.to_dict("records"), list(odf.columns))
        return out
    finally:
        con.close()


def prepare(tiny: bool, setup: dict) -> tuple[str, dict]:
    """The cached tables and oracle hashes, built on first use; adds
    the time of each step to ``setup``."""
    rows = TINY_ROWS if tiny else ROWS
    tag = _cache_tag(rows)
    base = state_dir("curation", tag)
    data_dir = state_dir("curation", tag, "data")
    meta_path = os.path.join(base, "oracle.json")
    t0 = time.perf_counter()
    if not os.path.exists(meta_path):
        generate_tables(data_dir, rows)
        t1 = time.perf_counter()
        hashes = oracle_hashes(data_dir, rows)
        setup["oracle_s"] = time.perf_counter() - t1
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(hashes, f)
        os.replace(tmp, meta_path)
    with open(meta_path) as f:
        hashes = json.load(f)
    setup["inputs_s"] = time.perf_counter() - t0 - setup.get("oracle_s", 0.0)
    setup.setdefault("oracle_s", 0.0)
    return data_dir, hashes


def run(sess, seed: int, seconds: float, trace: bool, tracer: Tracer,
        tiny: bool = False, wrong_hash: str | None = None) -> dict:
    """``wrong_hash`` names a query whose expected hash is replaced by a
    wrong one, to show that the check fails (the benchmark's tests)."""
    import __spark_entry__ as entry

    setup: dict = {}
    with tracer.span("setup.inputs"):
        data_dir, expected = prepare(tiny, setup)
    if wrong_hash:
        expected = dict(expected, **{wrong_hash: "0" * 32})
    registry = entry.queries()
    order = list(QUERIES)
    random.Random(seed).shuffle(order)

    attempted = failed = 0
    failures: list[str] = []

    def one_pass(p: int, traced: bool) -> dict:
        nonlocal attempted, failed
        per_q = {}
        counts = {} if traced else None
        mon = rss_monitor()
        with traced_span(tracer, traced, "pass", n=p):
            for group, module, q in order:
                rec = {"group": group}
                attempted += 1
                try:
                    with traced_span(tracer, traced, f"{module}.{q}"):
                        rec.update(_one_query(sess, registry[q], data_dir,
                                              traced, tracer))
                except Exception as e:  # a query that raises is a failure
                    failed += 1
                    failures.append(f"{q}: {type(e).__name__}: {e}"[:300])
                    per_q[q] = rec
                    continue
                if rec.pop("hash") != expected[q]:
                    failed += 1
                    failures.append(f"{q}: value hash differs from oracle")
                if traced:
                    for key in ("jobs", "tasks", "tasks_failed"):
                        counts[key] = (counts.get(key, 0)
                                       + rec["counts"].get(key, 0))
                per_q[q] = rec
        rss = stop_monitor(mon)
        wall = sum(r.get("construct_s", 0) + r.get("exec_s", 0)
                   for r in per_q.values())
        return {"wall_s": wall, "rss_mb": rss, "queries": per_q,
                "traced": traced, "counts": counts}

    def warm_up() -> None:
        # every query once, graded like any pass.  A plan's first run is
        # dominated by driver-side planning, code generation and JIT,
        # so several queries run at a time to overlap that cost
        nonlocal attempted, failed

        def run_group(names):
            hashes = {}
            for q in names:
                pdf = registry[q](sess.spark, data_dir).toPandas()
                hashes[q] = canon_hash(pdf.to_dict("records"),
                                       list(pdf.columns))
            return hashes

        # the parse/validate queries share the engine's derived-corpus
        # cache, whose first build must not race: they run in one thread
        jobs = [[q] for g, _, q in order if g != "parse_validate"] + [
            [q for g, _, q in order if g == "parse_validate"]]
        with ThreadPoolExecutor(WARMUP_THREADS) as ex:
            futs = [(names, ex.submit(run_group, names)) for names in jobs]
            for names, fut in futs:
                attempted += len(names)
                try:
                    got = fut.result()
                except Exception as e:  # a query that raises is a failure
                    failed += len(names)
                    failures.append(
                        f"{names}: {type(e).__name__}: {e}"[:300])
                    continue
                for q in names:
                    if got[q] != expected[q]:
                        failed += 1
                        failures.append(
                            f"{q}: value hash differs from oracle")

    t0 = time.perf_counter()
    with tracer.span("setup.warmup"):
        warm_up()
    setup_end = time.perf_counter()
    setup["warmup_s"] = setup_end - t0

    passes = []
    t_start = time.perf_counter()
    p = 1
    while time.perf_counter() - t_start < seconds \
            or len(passes) < (TRACED_MIN_PASSES if trace else MIN_PASSES):
        # plain and traced passes in ABBA order (see durable.run)
        sess.settle()
        passes.append(one_pass(p, trace and p % 4 in (2, 3)))
        p += 1
    measure_s = time.perf_counter() - t_start
    plain = [x for x in passes if not x["traced"]]

    def group_s(ps, group):
        return median([sum(r.get("construct_s", 0) + r.get("exec_s", 0)
                           for r in x["queries"].values()
                           if r["group"] == group) for x in ps])

    result = {
        "attempted": attempted, "failed": failed, "failures": failures,
        "setup": setup, "setup_end": setup_end, "measure_s": measure_s,
        "order": [q for _, _, q in order],
        "passes": [{"wall_s": x["wall_s"], "rss_mb": x["rss_mb"],
                    "traced": x["traced"],
                    "queries": {q: {k: r.get(k) for k in
                                    ("construct_s", "exec_s")}
                                for q, r in x["queries"].items()}}
                   for x in passes],
        "shares": {"rows": TINY_ROWS if tiny else ROWS},
        "e2e": {
            "op_s": median([x["wall_s"] for x in plain]),
            "peak_worker_rss_mb": median([x["rss_mb"] for x in plain]),
            **{f"{g}_s": group_s(plain, g) for g in GROUPS},
        },
    }
    if trace:
        traced = [x for x in passes if x["traced"]]
        m = {}
        for _, module, q in QUERIES:
            for key in ("construct_s", "construct_jobs", "exec_s",
                        "shuffle_bytes"):
                m[f"{module}.{q}.{key}"] = median(
                    [x["queries"][q].get(key) for x in traced])
        for g in GROUPS:
            m[f"curation.{g}_s"] = group_s(plain, g)
        for key in ("jobs", "tasks", "tasks_failed"):
            m[f"spark.{key}"] = median([x["counts"].get(key, 0)
                                        for x in traced])
        m["trace.overhead_s"] = (median([x["wall_s"] for x in traced])
                                 - median([x["wall_s"] for x in plain]))
        result["layers"] = m
    return result


def _one_query(sess, fn, data_dir, traced, tracer) -> dict:
    """Build and execute one query; its timings and value hash, plus
    (traced) its job counts and shuffle bytes."""
    c_counts = {} if traced else None
    e_counts = {} if traced else None
    with traced_span(tracer, traced, "construct"), sess.job_group(c_counts):
        t0 = time.perf_counter()
        df = fn(sess.spark, data_dir)
        t1 = time.perf_counter()
    with traced_span(tracer, traced, "execute"), sess.job_group(e_counts):
        pdf = df.toPandas()
        t2 = time.perf_counter()
    rec = {"construct_s": t1 - t0, "exec_s": t2 - t1,
           "hash": canon_hash(pdf.to_dict("records"), list(pdf.columns))}
    if traced:
        rec["construct_jobs"] = c_counts.get("jobs", 0)
        rec["shuffle_bytes"] = shuffle_bytes(df)
        rec["counts"] = {k: c_counts.get(k, 0) + e_counts.get(k, 0)
                         for k in ("jobs", "tasks", "tasks_failed")}
    return rec
