"""Giant-document skew path (SURVEY.md §7.3.5): page-granularity
stage A, url-regrouped stage B.

The whole-doc ``extract()`` is optimal when documents are small and
numerous.  One pathological document (thousands of pages) would stall
a task there — this variant takes a PAGED input table
``(url, page_idx, page_html)`` (one payload per page, the shape an
Iceberg ingest of chunked WARC records would produce), decodes pages
fully in parallel, then shuffles blocks by url for the stateful
detection — "page-level parallelism inside one url, then a url-keyed
group; the shuffle is the price of balance".

Byte-identity: stage B rebuilds the exact pages list (sorted by
page_idx) and calls the same shared ``detect_regions``/
``assemble_text`` — output equals the whole-doc path bit for bit
(asserted in tests/test_extract_paged.py).

Cost: measured 3.6× slower than the whole-doc path at 120k ordinary
docs (1,669 vs 6,038 docs/sec at local[16]) — the url shuffle plus the
page JSON round-trip.  So it is only for input that already arrives
paged: whole-document input, giants included, goes through
``extract()``, which extracts each giant in place in one kernel call
(the page split, shuffle and regroup would add a second serial stage
and parallelize nothing, since detection is serial per url anyway).
``explode_pages`` reshapes whole-doc input for this path (tests,
benchmarks).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType,
)

from ..core.assemble import (
    annotate_block_texts, assemble_text, decode_payload, encode_payload,
)
from ..core.detector import detect_regions
from ..core.shard import DEFAULT_SHARD_SPANS, shard_row
from .extract import (  # noqa: F401  (GIANT_BYTES: re-exported)
    EXTRACT_SCHEMA, GIANT_BYTES, SHARDED_EXTRACT_SCHEMA, extract,
)

PAGED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("page_idx", IntegerType(), False),
    StructField("page_html", BinaryType(), False),
])

_DECODED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("page_idx", IntegerType(), False),
    StructField("page_json", StringType(), False),
])


def paged_corpus_df(spark: SparkSession, n_docs: int, seed: int = 42,
                    partitions: int | None = None) -> DataFrame:
    """The synthetic corpus re-shaped to one row per page."""
    from ..corpus.generator import build_document

    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, idxs, payloads = [], [], []
            for i in pdf["id"]:
                d = build_document(int(i), seed)
                pages = decode_payload(d["html"])["pages"]
                for p in pages:
                    urls.append(d["url"])
                    idxs.append(p["page_idx"])
                    payloads.append(encode_payload({"v": 1, "pages": [p]}))
            if urls:
                yield pd.DataFrame(
                    {"url": urls, "page_idx": idxs, "page_html": payloads})

    return spark.range(0, n_docs, 1, parts).mapInPandas(gen, PAGED_SCHEMA)


def extract_paged(paged: DataFrame, min_q: int = 1, max_q: int = 50,
                  shard_chars: int | None = None,
                  shard_spans: int | None = None) -> DataFrame:
    """(url, page_idx, page_html) → EXTRACT_SCHEMA rows, byte-identical
    to ``extract()`` over the equivalent whole-doc table.

    ``shard_chars`` (opt-in, round-7 ask #1): bound the OUTPUT row size
    — a document whose assembled text exceeds ``shard_chars`` chars or
    whose span list exceeds ``shard_spans`` (default
    ``core.shard.DEFAULT_SHARD_SPANS``) is emitted as multiple
    SHARDED_EXTRACT_SCHEMA rows under the ``core/shard.py`` rule, so the
    durable write never has to materialize one hundreds-of-MB row
    (the measured ~250 MB/slot OOM).  Byte identity holds under the
    documented reassembly rule (:func:`reassemble_sharded`)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # stage A: heavy zlib+json decode, embarrassingly parallel per PAGE
        for pdf in batches:
            urls, idxs, jsons = [], [], []
            for url, idx, blob in zip(
                    pdf["url"], pdf["page_idx"], pdf["page_html"]):
                try:
                    pgs = decode_payload(bytes(blob))["pages"]
                    # a decodable payload with zero pages is NOT
                    # corrupt — mark it so stage B reproduces the
                    # whole-doc path's empty-but-ok output
                    page = pgs[0] if pgs else {"__no_pages__": True}
                except Exception as e:  # quarantine with the REAL
                    page = {"__error__":      # message (extract() parity)
                            f"{type(e).__name__}: {e}"[:500]}
                urls.append(url)
                idxs.append(int(idx))
                jsons.append(json.dumps(page, ensure_ascii=False,
                                        sort_keys=True))
            if urls:
                yield pd.DataFrame(
                    {"url": urls, "page_idx": idxs, "page_json": jsons})

    decoded = paged.mapInPandas(decode, _DECODED_SCHEMA)

    sharding = shard_chars is not None
    if sharding and shard_spans is None:
        shard_spans = DEFAULT_SHARD_SPANS
    out_schema = SHARDED_EXTRACT_SCHEMA if sharding else EXTRACT_SCHEMA

    def _rows(row: dict) -> pd.DataFrame:
        # single exit point: apply the shard rule (or pass through) so
        # the quarantine path and the ok path emit the same shape
        if sharding:
            return pd.DataFrame(shard_row(row, shard_chars, shard_spans))
        return pd.DataFrame([row])

    def detect(key, pdf):
        # stage B: the url-keyed stateful scan over rebuilt pages.
        # Same quarantine contract as extract(): nothing a document
        # contains may fail the task.
        url = key[0]
        try:
            return _rows(_detect_one(url, pdf))
        except Exception as e:
            return _rows({
                "url": url, "extracted_text": None, "spans": [],
                "status": "error",
                "error": f"{type(e).__name__}: {e}"[:500],
            })

    def _detect_one(url: str, pdf: pd.DataFrame) -> dict:
        pages = []
        corrupt = False
        errs: list[str] = []
        # column iteration, not iterrows() — no per-row Series boxing
        for page_json in pdf.sort_values("page_idx")["page_json"]:
            page = json.loads(page_json)
            if page is None:           # legacy corrupt marker
                corrupt = True
                continue
            if isinstance(page, dict) and "__error__" in page:
                corrupt = True
                errs.append(page["__error__"])
                continue
            if isinstance(page, dict) and page.get("__no_pages__"):
                continue               # decodable doc with zero pages
            pages.append(page)
        if corrupt and not pages:
            return {
                "url": url, "extracted_text": None, "spans": [],
                "status": "error",
                "error": errs[0] if errs else "all pages undecodable",
            }
        annotate_block_texts(pages)  # single text pass, as in extract()
        regions = detect_regions(pages, min_q, max_q)
        return {
            "url": url,
            "extracted_text": assemble_text(pages),
            "spans": [{
                "question_number": r.question_number,
                "page_idx": r.page_idx,
                "x0": r.x0, "y0": r.y0, "x1": r.x1, "y1": r.y1,
                "text_preview": r.text_preview,
                "spans_page": r.spans_page,
                "group_range": r.group_range,
                "region_idx": r.region_idx,
            } for r in regions],
            "status": "ok" if not corrupt else "partial",
            "error": None if not corrupt else "some pages undecodable",
        }

    return decoded.groupBy("url").applyInPandas(detect, out_schema)


def reassemble_sharded(df: DataFrame) -> DataFrame:
    """SHARDED_EXTRACT_SCHEMA rows → one EXTRACT_SCHEMA row per url,
    under the ``core/shard.py`` reassembly rule: text chunks and span
    slices concatenated in ``shard_idx`` order; single-shard rows pass
    through (preserving a null error text).

    This is the VERIFICATION / small-consumer side of the contract —
    it deliberately rebuilds the giant row, so it must only run where
    that row fits (tests, spot-checks).  Scale consumers should read
    the sharded shape directly: ``spans`` slices explode to the same
    flat span table without reassembly, and text chunks stream.

    A document whose shard rows are not exactly ``0..n_shards-1``
    after the sort (a missing shard, a double-read file duplicating
    one) is QUARANTINED — status ``error``, NULL text, empty spans,
    and an error naming the observed shard_idx list — never silently
    concatenated truncated/doubled.  Same detection rule as the
    oracle side (``core.shard.reassemble_rows``, which raises); here
    it is per-document so one corrupt doc can't kill a full-corpus
    reassembly job."""
    from pyspark.sql import functions as F

    # no shard columns at all (a directory no run ever sharded, read
    # without the normalizing reader) — every row is a whole document
    if "shard_idx" not in df.columns:
        df = (df.withColumn("shard_idx", F.lit(0))
                .withColumn("n_shards", F.lit(1)))
    # NULL shard coordinates (rows read from a pre-shard directory
    # under a sharded schema) mean "the row is the whole document":
    # coalesce them to (0, 1) so such rows take the single-shard
    # pass-through below instead of the concat path — which would
    # silently coerce an error row's NULL text to "".
    parts = F.array_sort(F.collect_list(F.struct(
        F.coalesce(F.col("shard_idx"), F.lit(0)).alias("shard_idx"),
        F.col("extracted_text").alias("t"),
        F.col("spans").alias("s"))))
    agg = df.groupBy("url").agg(
        parts.alias("parts"),
        F.max(F.coalesce(F.col("n_shards"), F.lit(1))).alias("n_shards"),
        F.first("status").alias("status"),
        F.first("error").alias("error"),
    )
    # shard-set validity: after the sort the observed shard_idx list
    # must be exactly 0..n_shards-1 — count alone can't catch a
    # duplicated shard masking a missing one (same rule as the oracle
    # side, core.shard.reassemble_rows)
    idxs = F.transform("parts", lambda p: p["shard_idx"])
    idx_ok = idxs == F.sequence(F.lit(0), F.col("n_shards") - F.lit(1))
    # r10 (r8 ADVICE follow-through): a structurally VALID multi-shard
    # set where one part carries NULL spans would flatten() to NULL on
    # an ok-status row (size() reads -1 downstream).  The oracle twin
    # (core.shard.reassemble_rows) RAISES on that input (NULL is not
    # iterable), so the Spark side quarantines it; single-shard rows
    # pass through verbatim on both sides, NULL spans included.
    multi_null_spans = (F.col("n_shards") > 1) & F.exists(
        "parts", lambda p: p["s"].isNull())
    ok = idx_ok & ~multi_null_spans
    bad_err = F.when(~idx_ok, F.concat(
        F.lit("corrupt shard set: shard_idx ["),
        F.concat_ws(",", F.transform(
            "parts", lambda p: p["shard_idx"].cast("string"))),
        F.lit("] != 0.."), (F.col("n_shards") - 1).cast("string"))
    ).otherwise(F.lit("corrupt shard set: NULL spans in a multi-shard part"))
    # n_shards == 1: pass the chunk through untouched (it may be NULL —
    # concat_ws would coerce it to "")
    text = F.when(F.col("n_shards") == 1,
                  F.element_at("parts", 1)["t"]).otherwise(
        F.concat_ws("", F.transform("parts", lambda p: p["t"])))
    spans = F.flatten(F.transform("parts", lambda p: p["s"]))
    # Quarantine branch must ALWAYS be [] (the docstring's contract) —
    # but if any part carries NULL spans, flatten() is NULL and
    # F.slice(NULL, 1, 0) stays NULL, so size(spans) would read -1.
    # Coalesce to an empty array typed to THIS frame's spans column
    # (tests may use narrower span structs than SPAN_STRUCT).
    empty_spans = F.array().cast(df.schema["spans"].dataType)
    return agg.select(
        "url",
        F.when(ok, text).alias("extracted_text"),
        F.when(ok, spans)
         .otherwise(F.coalesce(F.slice(spans, 1, 0), empty_spans))
         .alias("spans"),
        F.when(ok, F.col("status")).otherwise(F.lit("error"))
         .alias("status"),
        F.when(ok, F.col("error")).otherwise(bad_err).alias("error"))


# --- whole-document input ---------------------------------------------------


def _page_rows_of(url, blob) -> list[tuple]:
    """One document's (url, page_idx, page_html) page rows.  A payload
    that fails to decode is forwarded whole as its own page row — the
    paged pipeline's stage-A quarantine then flags it (nothing is
    dropped); a decodable zero-page payload gets one empty-marker page
    row so the url stays alive through the paged pipeline."""
    blob = bytes(blob) if blob is not None else b""
    try:
        pages = decode_payload(blob)["pages"]
    except Exception:
        return [(url, 0, blob)]
    if not pages:
        return [(url, 0, encode_payload({"v": 1, "pages": []}))]
    return [
        (url, int(p.get("page_idx", 0)),
         encode_payload({"v": 1, "pages": [p]}))
        for p in pages
    ]


def explode_pages(documents: DataFrame) -> DataFrame:
    """(url, html) → one PAGED_SCHEMA row per page: whole-doc input
    reshaped for ``extract_paged`` (see :func:`_page_rows_of` for the
    quarantine contract)."""
    src = documents.select("url", "html")

    def split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, idxs, payloads = [], [], []
            for url, blob in zip(pdf["url"], pdf["html"]):
                for u, idx, payload in _page_rows_of(url, blob):
                    urls.append(u)
                    idxs.append(idx)
                    payloads.append(payload)
            if urls:
                yield pd.DataFrame(
                    {"url": urls, "page_idx": idxs, "page_html": payloads})

    return src.mapInPandas(split, PAGED_SCHEMA)


# ``extract()`` extracts giants in place (see its docstring); this is
# the name callers written against the size-routed design import.
extract_auto = extract


def release_routed_cache(result: DataFrame) -> None:
    """No-op: ``extract_auto`` no longer persists anything.  Kept so
    callers written against the cached router keep working."""
