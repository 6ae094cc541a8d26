"""Stage A+B: the zero-shuffle extraction core.

Design (SURVEY.md §7.0, re-thought Spark-first): the reference's whole
per-document loop (layout → detect → assemble; src/parser.py:34-77,
src/cropper/detector.py:39-77) collapses into ONE ``mapInArrow`` over
the ``documents`` table, giant documents included.  Documents are
independent, so the core
extraction needs **no shuffle at all** — parallelism is across rows,
Arrow-batched, and throughput scales linearly with cores/executors
(the north rule's N→4N efficiency criterion).  Cross-document logic
(validation, evaluation, dedup) happens downstream as native relational
ops on the much smaller ``spans``/``parsed`` tables.

One decode per document produces BOTH byte-identity artifacts:
``extracted_text`` and the ``spans`` array; ``spans`` explodes to the
flat span table without re-decoding (explode is a narrow op).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DoubleType, IntegerType,
    StringType, StructField, StructType, TimestampType,
)

from ..core.assemble import extract_document

DOCUMENTS_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("html", BinaryType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
])

SPAN_STRUCT = StructType([
    StructField("question_number", IntegerType(), False),
    StructField("page_idx", IntegerType(), False),
    StructField("x0", DoubleType(), False),
    StructField("y0", DoubleType(), False),
    StructField("x1", DoubleType(), False),
    StructField("y1", DoubleType(), False),
    StructField("text_preview", StringType(), False),
    StructField("spans_page", BooleanType(), False),
    StructField("group_range", StringType(), True),
    StructField("region_idx", IntegerType(), False),
])

EXTRACT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("extracted_text", StringType(), True),
    StructField("spans", ArrayType(SPAN_STRUCT), False),
    StructField("status", StringType(), False),
    StructField("error", StringType(), True),
])


# Whole-doc payloads run ~1,000 compressed bytes per page on the
# corpus (measured over 50 docs), so this byte size is the header-cheap
# page-count proxy: 100_000 B ≈ a 100-page document, ~20× the largest
# ordinary doc.  The emitter gives a document above it an Arrow batch
# of its own, so a worker never holds a giant next to a batch of
# ordinary rows.
GIANT_BYTES = 100_000

# EXTRACT_SCHEMA + the shard coordinates (core/shard.py): emitted when
# giant-output sharding is enabled so no single output row can exceed
# task memory at the bucketed write
SHARDED_EXTRACT_SCHEMA = StructType(
    EXTRACT_SCHEMA.fields + [
        StructField("shard_idx", IntegerType(), False),
        StructField("n_shards", IntegerType(), False),
    ])


def extract(documents: DataFrame, min_q: int = 1, max_q: int = 50,
            with_timing: bool = False, shard_chars: int | None = None,
            shard_spans: int | None = None) -> DataFrame:
    """documents(url, …, html, …) → (url, extracted_text, spans, status, error).

    Catalyst prunes unused input columns before the UDF (only ``url``
    and ``html`` are read), so the scan never materializes ``text``.

    Quarantine semantics: a corrupt/undecodable payload must NOT fail
    the job at web scale — the row is emitted with ``status='error'``,
    a null text, no spans, and the exception message (reference
    analogue: the P9 MIME/size gate + per-file error capture,
    scripts/batch_parser.py:84-89).

    ``with_timing=True`` appends a ``proc_us`` column (per-document
    processing time, measured inside the task) — the source of the
    manifest's per-partition throughput metrics.  Off by default so
    the byte-identity output contract stays timing-free.

    ``shard_chars`` (opt-in): bound every OUTPUT row under the
    ``core/shard.py`` rule — output gains ``(shard_idx, n_shards)`` and
    a document whose text exceeds ``shard_chars`` chars or whose span
    list exceeds ``shard_spans`` (default
    ``core.shard.DEFAULT_SHARD_SPANS``) is emitted as several rows, so
    the durable write never materializes one hundreds-of-MB row.  The
    rule is applied to every document, not only to large payloads: a
    small payload can still expand to a giant output (zlib bombs).
    A sharded document's ``proc_us`` lands on shard 0 (0 on the rest),
    so per-url sums stay its kernel time.  Byte identity holds under
    ``operators.extract_paged.reassemble_sharded``.

    Giant documents (payload above ``GIANT_BYTES``) are extracted in
    place by the same kernel call: the emitter flushes its pending rows
    first and emits the giant's rows as a batch of their own, so peak
    worker memory stays O(one document).
    """
    import time

    import pyarrow as pa

    from ..core.shard import DEFAULT_SHARD_SPANS, shard_count

    docs = documents.select("url", "html")
    sharding = shard_chars is not None
    if sharding and shard_spans is None:
        shard_spans = DEFAULT_SHARD_SPANS
    schema = SHARDED_EXTRACT_SCHEMA if sharding else EXTRACT_SCHEMA
    names = [f.name for f in schema.fields]
    if with_timing:
        from pyspark.sql.types import LongType
        schema = StructType(
            schema.fields + [StructField("proc_us", LongType())])
        names.append("proc_us")

    # r10 (guide §4.2): the emitter builds the Arrow output DIRECTLY —
    # flat per-field lists + one offsets array assembled into the
    # list<struct> spans column — instead of handing pandas a
    # list-of-dicts object column per row and paying pyarrow's
    # dict-walking conversion for ~35 span structs per document.
    # Output is hash-identical to the mapInPandas form (verified over
    # the full sf1 corpus) and the quarantine contract is unchanged.
    span_pa = pa.struct([
        ("question_number", pa.int32()), ("page_idx", pa.int32()),
        ("x0", pa.float64()), ("y0", pa.float64()),
        ("x1", pa.float64()), ("y1", pa.float64()),
        ("text_preview", pa.string()), ("spans_page", pa.bool_()),
        ("group_range", pa.string()), ("region_idx", pa.int32()),
    ])
    span_types = [f.type for f in span_pa]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # one list per output column, then one list per span field
        urls, texts, status, errors, sidx, nsh, procs = ([] for _ in range(7))
        offs = [0]
        fields = [[] for _ in span_types]

        def add(url, text, regions, st, err, proc, i=0, n=1):
            urls.append(url)
            texts.append(text)
            status.append(st)
            errors.append(err)
            sidx.append(i)
            nsh.append(n)
            procs.append(proc if i == 0 else 0)
            for r in regions:
                fields[0].append(r.question_number)
                fields[1].append(r.page_idx)
                fields[2].append(r.x0)
                fields[3].append(r.y0)
                fields[4].append(r.x1)
                fields[5].append(r.y1)
                fields[6].append(r.text_preview)
                fields[7].append(r.spans_page)
                fields[8].append(r.group_range)
                fields[9].append(r.region_idx)
            offs.append(offs[-1] + len(regions))

        def flush() -> pa.RecordBatch:
            struct = pa.StructArray.from_arrays(
                [pa.array(f, t) for f, t in zip(fields, span_types)],
                fields=list(span_pa))
            cols = [pa.array(urls, pa.string()),
                    pa.array(texts, pa.string()),
                    pa.ListArray.from_arrays(pa.array(offs, pa.int32()),
                                             struct),
                    pa.array(status, pa.string()),
                    pa.array(errors, pa.string())]
            if sharding:
                cols += [pa.array(sidx, pa.int32()),
                         pa.array(nsh, pa.int32())]
            if with_timing:
                cols.append(pa.array(procs, pa.int64()))
            for col in (urls, texts, status, errors, sidx, nsh, procs,
                        *fields):
                col.clear()
            del offs[1:]
            return pa.RecordBatch.from_arrays(cols, names=names)

        for rb in batches:
            for url, html in zip(rb.column(0).to_pylist(),
                                 rb.column(1).to_pylist()):
                giant = html is not None and len(html) > GIANT_BYTES
                if giant and urls:
                    yield flush()
                t0 = time.perf_counter_ns()
                try:
                    text, regions = extract_document(
                        bytes(html), min_q, max_q)
                except Exception as e:  # quarantine, never fail the task
                    add(url, None, (), "error",
                        f"{type(e).__name__}: {e}"[:500],
                        (time.perf_counter_ns() - t0) // 1000)
                else:
                    proc = (time.perf_counter_ns() - t0) // 1000
                    n = shard_count(len(text), len(regions), shard_chars,
                                    shard_spans) if sharding else 1
                    if n == 1:
                        add(url, text, regions, "ok", None, proc)
                    for i in range(n if n > 1 else 0):
                        a, b = i * shard_chars, i * shard_spans
                        add(url, text[a:a + shard_chars],
                            regions[b:b + shard_spans], "ok", None, proc, i, n)
                if giant:
                    yield flush()
            # one output batch per input batch: an empty input batch
            # emits nothing (list<struct> inference has no rows to see)
            if urls:
                yield flush()

    return docs.mapInArrow(run, schema)


def quarantine_table(extracted: DataFrame) -> DataFrame:
    """Rows that failed to decode — routed to a reject sink, not lost."""
    return extracted.filter(F.col("status") == "error").select("url", "error")


def spans_table(extracted: DataFrame) -> DataFrame:
    """Flatten the spans array → FIXTURES.md §3 span table (narrow op)."""
    return (
        extracted
        .select("url", F.explode("spans").alias("s"))
        .select("url", "s.*")
    )


def extracted_table(extracted: DataFrame) -> DataFrame:
    return (
        extracted.filter(F.col("status") == "ok")
        .select("url", "extracted_text")
    )


def salted_repartition(df: DataFrame, num_partitions: int, salt_mod: int = 16) -> DataFrame:
    """Break key-level url skew before a heavy per-row stage
    (SURVEY.md §4 item 1): a per-ROW salt spreads even identical urls
    (re-crawls, duplicate WARC records) over ``salt_mod`` partitions —
    a salt derived from the key itself could never do that.  Placement
    is allowed to vary run-to-run; row content is untouched."""
    salt = F.floor(F.rand(7) * salt_mod).cast("int")
    return df.repartition(num_partitions, F.pmod(F.hash("url"), F.lit(10**9)) + salt)


# ---------------------------------------------------------------------------
# Distributed corpus generation (same pure function as the driver-side
# generator — byte-identical either way).
# ---------------------------------------------------------------------------

CORPUS_FULL_SCHEMA = StructType(
    DOCUMENTS_SCHEMA.fields
    + [
        StructField("answer_md", StringType(), False),
        StructField("n_questions", IntegerType(), False),
        StructField("n_listening", IntegerType(), False),
    ]
)


def corpus_df(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    partitions: int | None = None,
    with_answer_key: bool = False,
) -> DataFrame:
    """Generate the synthetic corpus distributed over executors."""
    from ..corpus.generator import build_document

    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [build_document(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame({
                "url": [r["url"] for r in rows],
                "warc_ts": [r["warc_ts"] for r in rows],
                "html": [r["html"] for r in rows],
                "text": [r["text"] for r in rows],
                "lang": [r["lang"] for r in rows],
                "answer_md": [r["answer_md"] for r in rows],
                "n_questions": [r["n_questions"] for r in rows],
                "n_listening": [r["n_listening"] for r in rows],
            })

    df = spark.range(0, n_docs, 1, parts).mapInPandas(gen, CORPUS_FULL_SCHEMA)
    if with_answer_key:
        return df
    return df.select(*[f.name for f in DOCUMENTS_SCHEMA.fields])
