"""The extraction operator: spans-in → article-spans-out via ``mapInPandas``.

This is the engine's only Python execution surface (SURVEY.md §2.9): Arrow
ships batches of whole documents into the Python worker, the per-document
kernel (go_readability_spark.kernel) runs inside the batch, and results are
yielded back as Arrow batches.  No per-row Python UDFs, no RDDs — the
surrounding plan (scan, repartition, filters, aggregations, writes) stays
entirely JVM-side for Catalyst/Tungsten to optimize.

Scale notes (10^12-doc design point, SURVEY.md §4.2):
- Memory is bounded per-worker by the output chunk bound in
  ``_batch_extractor`` (output rows are yielded in small chunks, by count
  and by input bytes, independent of Arrow input batch size) plus the
  Arrow input batch — cap ``spark.sql.execution.arrow.maxRecordsPerBatch``
  so one mega-doc can't co-batch with hundreds of peers.
- Oversized docs degrade to ``status='too_large'`` rows via
  ``max_elems_to_parse`` instead of stalling a task (readability.go:2176-2181).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..codec.spans import html_fragment_to_normalized_spans
from ..kernel.options import Options
from ..kernel.readability import parse_document
from .schema import ARTICLES_SCHEMA

DEFAULT_URI = "http://fakehost/test/page.html"

_EMPTY = {
    "spans": None,
    "title": None,
    "byline": None,
    "dir": None,
    "lang": None,
    "excerpt": None,
    "site_name": None,
    "published_time": None,
    "text_content": None,
    "length": None,
}


def extract_one(
    doc_id: str,
    html: str,
    uri: str | None,
    options: Options,
    prescreen: bool = False,
) -> dict:
    """Run the kernel on one document's reassembled HTML → one articles-row dict.

    ``prescreen`` is the reference's advertised two-step workflow
    (readerable.go:20-27: "check IsProbablyReaderable before you parse"):
    the cheap readerable scan runs first and non-readerable documents
    return ``status='not_readerable'`` rows without paying the grab
    loop / cleanup / serialization (same two-parse cost profile as
    calling the reference's two entry points in sequence).  Measured on a
    70/30 article/link-farm mix (10k docs, local[16], min-of-3): wall
    2.42 → 1.68 s (−31%), and without the gate every link farm extracts
    as a plausible-looking ``status='ok'`` row of navigation text — the
    gate buys corpus QUALITY as well as wall time.  Real crawls skew far
    more non-readerable than 30%."""
    if prescreen:
        from ..kernel.readerable import is_probably_readerable

        try:
            readerable = is_probably_readerable(html or "", options)
        except Exception:
            readerable = True  # scan failure: let the full parse decide
        if not readerable:
            return {"doc_id": doc_id, "status": "not_readerable", "error": None, **_EMPTY}
    result, _article, status = parse_document(html or "", uri or DEFAULT_URI, options)
    if result is None:
        return {"doc_id": doc_id, "status": status, "error": None, **_EMPTY}
    try:
        out_spans = [
            s.as_row() for s in html_fragment_to_normalized_spans(result.html_content)
        ]
    except Exception as exc:  # one bad article is a row, never a failed task
        return {
            "doc_id": doc_id,
            "status": "parse_error",
            "error": f"{type(exc).__name__}: {str(exc)[:200]}",
            **_EMPTY,
        }
    return {
        "doc_id": doc_id,
        "spans": out_spans,
        "title": result.title,
        "byline": result.byline,
        "dir": result.dir,
        "lang": result.lang,
        "excerpt": result.excerpt,
        "site_name": result.site_name,
        "published_time": result.published_time,
        "text_content": result.text_content,
        "length": result.length,
        "status": status,
        "error": None,
    }


def _batch_extractor(
    options: Options,
    emit_every: int = 64,
    emit_bytes: int = 1_000_000,
    prescreen: bool = False,
):
    cols = [f.name for f in ARTICLES_SCHEMA.fields]

    def extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out: list[dict] = []
        out_sz = 0
        for pdf in batches:
            has_uri = "uri" in pdf.columns
            for row in pdf.itertuples(index=False):
                uri = getattr(row, "uri", None) if has_uri else None
                size = len(row.html or "")
                # flush BEFORE parsing: a document that would take the
                # buffer past emit_bytes runs with the buffer empty, and its
                # row leaves before the next document runs — a mega-doc's
                # parse never overlaps another large output row (input
                # length is a safe upper proxy for output)
                if out and (len(out) >= emit_every or out_sz + size >= emit_bytes):
                    yield pd.DataFrame(out, columns=cols)
                    out, out_sz = [], 0
                out.append(
                    extract_one(row.doc_id, row.html, uri, options, prescreen)
                )
                out_sz += size
        if out:
            yield pd.DataFrame(out, columns=cols)

    return extract_batch


# JVM-side span reassembly: sort by offset, concatenate text.  Shipping ONE
# string per document through Arrow is ~3× cheaper than shipping the nested
# array<struct> column (measured: 0.9s vs 3.1s for 30k docs at local[8]) and
# moves the sort+concat into whole-stage codegen.
_HTML_EXPR = (
    "array_join(transform("
    "array_sort(spans, (a, b) -> a.offset - b.offset), s -> s.text), '')"
)


def extract_articles(
    df: DataFrame,
    options: Options | None = None,
    prescreen: bool = False,
) -> DataFrame:
    """documents(doc_id, spans[, uri]) → articles (ARTICLES_SCHEMA).

    Column pruning: only doc_id/spans/uri are read from the scan, whatever
    else the input table carries; spans are reassembled to HTML JVM-side so
    only flat strings cross the Arrow boundary.  ``prescreen`` gates each
    document through IsProbablyReaderable first (see ``extract_one``).
    """
    opts = options or Options(classes_to_preserve=["page", "caption"])
    cols = [F.col("doc_id"), F.expr(_HTML_EXPR).alias("html")]
    if "uri" in df.columns:
        cols.append(F.col("uri"))
    return df.select(*cols).mapInPandas(
        _batch_extractor(opts, prescreen=prescreen),
        schema=ARTICLES_SCHEMA,
    )


def route_and_extract(
    df: DataFrame,
    options: Options | None = None,
    prescreen: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """One scan → one ``mapInPandas`` extraction, optionally after one
    salted shuffle.

    ``num_partitions``: pass it ONLY when the input layout is skewed or
    under-split (a computed frame, one small file, host-clustered crawl
    dumps) — it inserts a salted full-corpus shuffle, which measured ~40%
    of job wall on a well-bucketed corpus (local[16]: 3890 vs 2637 docs/s
    without/with).  The production corpus is bucketed at write time, so
    the normal path reads in place and shuffles nothing.

    The repartition key is the RAW 64-bit hash ``xxhash64(doc_id, 64)``,
    never ``pmod(hash, N)``: pre-modding to N distinct values and
    re-hashing them through the shuffle's murmur3 % N is balls-in-bins —
    ~37% of partitions land empty and the busiest carries 3-4 salt cells
    (measured), exactly the straggler shape salting exists to prevent.  A
    high-cardinality key spreads by law of large numbers instead; the
    salt literal decorrelates it from the checkpoint bucket hash
    ``xxhash64(doc_id)`` and from any upstream partitioning.
    """
    if num_partitions:
        df = df.repartition(num_partitions, F.xxhash64(F.col("doc_id"), F.lit(64)))
    return extract_articles(df, options, prescreen=prescreen)
