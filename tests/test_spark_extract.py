"""Spark-level extraction tests: the mapInPandas operator must reproduce the
pure-Python kernel's golden results through the full codec round-trip
(FIXTURES.md §2: span-sequence equality (kind, text, media_ref, order))."""

import os
import re

import pandas as pd
import pytest

from go_readability_spark.codec.spans import html_fragment_to_normalized_spans
from go_readability_spark.kernel.options import Options
from go_readability_spark.spark.corpus import FIXTURES_DIR, fixture_documents, synth_html
from go_readability_spark.spark.extract import (
    _batch_extractor,
    extract_articles,
    route_and_extract,
)

# A diverse probe subset (full 119-fixture parity is covered Spark-free by
# test_golden.py; here we verify the Spark boundary preserves it).
PROBE_FIXTURES = [
    "001",
    "base-url",
    "keep-images",
    "lazy-image-1",
    "embedded-videos",
    "rtl-1",
    "qq",
    "replace-brs",
    "remove-script-tags",
    "nytimes-1",
    "svg-parsing",
    "social-buttons",
]


@pytest.fixture(scope="module")
def fixture_articles(spark):
    docs = fixture_documents(spark)
    docs = docs.filter(docs.doc_id.isin(PROBE_FIXTURES))
    return {r.doc_id: r for r in extract_articles(docs).collect()}


def _expected_spans(name):
    with open(
        os.path.join(FIXTURES_DIR, name, "expected.html"), encoding="utf-8"
    ) as f:
        return [s.as_tuple() for s in html_fragment_to_normalized_spans(f.read())]


@pytest.mark.parametrize("name", PROBE_FIXTURES)
def test_span_equality_through_spark(fixture_articles, name):
    row = fixture_articles[name]
    assert row.status == "ok"
    got = [(s.kind, s.text, s.media_ref, s.offset) for s in row.spans]
    assert got == _expected_spans(name)


def test_all_probe_statuses_ok(fixture_articles):
    assert all(r.status == "ok" for r in fixture_articles.values())


def test_media_refs_absolutized(fixture_articles):
    imgs = [
        s for s in fixture_articles["keep-images"].spans if s.kind == "img"
    ]
    assert imgs and all(s.media_ref.startswith("http") for s in imgs)


_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    " omicron pi rho sigma tau upsilon"
).split()


def _synth_pages(n: int, poison: int | None = None) -> list[tuple[str, str]]:
    """(doc_id, html) article pages from ``synth_html``; the page numbered
    ``poison`` carries the word ``poison`` in its body."""
    pages = []
    for i in range(n):
        words = [_WORDS[(i + j) % len(_WORDS)] for j in range(80)]
        if i == poison:
            words[10] = "poison"
        pages.append((f"s{i}", synth_html(i, " ".join(words), "en", "web")))
    return pages


def _run_batches(pages, batch_rows: int, **kw) -> tuple[list[dict], list[list[str]]]:
    """Drive the worker-side extractor over pandas batches, as mapInPandas
    does → (output rows in order, doc_ids of each output chunk)."""
    batches = [
        pd.DataFrame(pages[i : i + batch_rows], columns=["doc_id", "html"])
        for i in range(0, len(pages), batch_rows)
    ]
    fn = _batch_extractor(Options(classes_to_preserve=["page", "caption"]), **kw)
    chunks = list(fn(iter(batches)))
    return [r for c in chunks for r in c.to_dict("records")], [list(c.doc_id) for c in chunks]


def test_emit_chunking_preserves_rows():
    pages = _synth_pages(10)
    small, chunks_small = _run_batches(pages, 4, emit_every=1)
    big, chunks_big = _run_batches(pages, 4, emit_every=1000)
    assert (len(chunks_small), len(chunks_big)) == (10, 1)
    assert [r["doc_id"] for r in small] == [d for d, _ in pages]
    assert all(r["status"] == "ok" for r in small)
    assert small == big


def test_emit_byte_bound_isolates_a_large_document():
    """A document that would take the output buffer past the byte bound
    is parsed with the buffer flushed, and its row leaves alone."""
    pages = _synth_pages(6)
    large = synth_html(499, " ".join(_WORDS * 4), "en", "web")  # rep=64 page
    pages.insert(3, ("large", large))
    bound = len(large)
    assert bound > 4 * max(len(h) for d, h in pages if d != "large")
    rows, chunks = _run_batches(pages, 4, emit_every=1000, emit_bytes=bound)
    assert ["large"] in chunks
    assert [r["doc_id"] for r in rows] == [d for d, _ in pages]
    assert rows == _run_batches(pages, 4, emit_every=1)[0]


def test_codec_raise_becomes_one_parse_error_row(monkeypatch):
    """A raise in the output span codec fails only its own document: it
    comes out as one parse_error row with the exception as the reason, and
    its batch neighbours still extract."""
    import go_readability_spark.spark.extract as X

    real = X.html_fragment_to_normalized_spans
    msg = "codec broke " + "x" * 300

    def flaky(html):
        if "poison" in html:
            raise ValueError(msg)
        return real(html)

    monkeypatch.setattr(X, "html_fragment_to_normalized_spans", flaky)
    rows, _ = _run_batches(_synth_pages(3, poison=1), 3)
    assert [r["doc_id"] for r in rows] == ["s0", "s1", "s2"]
    bad = rows[1]
    assert bad["status"] == "parse_error"
    assert bad["error"] == f"ValueError: {msg[:200]}"
    assert bad["spans"] is None and bad["text_content"] is None
    assert rows[0]["status"] == rows[2]["status"] == "ok"
    assert rows[0]["error"] is None and rows[0]["spans"]


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the final plan only, not the initial one
    return plan.toString()


def test_route_and_extract_is_one_scan_one_path(spark, tmp_path):
    """One extraction path: one parquet scan, no union, and a single
    exchange only when ``num_partitions`` asks for the salted shuffle;
    every document comes out exactly once."""
    from go_readability_spark.codec.spans import html_to_spans
    from go_readability_spark.spark.schema import DOCUMENTS_SCHEMA

    pages = _synth_pages(24)
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            {"doc_id": d, "uri": None, "spans": [s.as_row() for s in html_to_spans(h)]}
            for d, h in pages
        ],
        schema=DOCUMENTS_SCHEMA,
    ).repartition(3).write.parquet(path)
    docs = spark.read.parquet(path)
    for num_partitions, exchanges in ((None, 0), (4, 1)):
        out = route_and_extract(docs, num_partitions=num_partitions)
        ids = sorted(r.doc_id for r in out.collect())
        plan = _final_plan(out)
        assert plan.count("FileScan parquet") == 1, plan
        assert "Union" not in plan, plan
        assert len(re.findall(r"\bExchange\b", plan)) == exchanges, plan
        assert ids == sorted(d for d, _ in pages)


def test_malformed_spans_become_error_rows(spark):
    from go_readability_spark.spark.schema import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(
        [
            {"doc_id": "empty", "uri": None, "spans": []},
            {
                "doc_id": "just-text",
                "uri": None,
                "spans": [
                    {"kind": "markup", "text": "<p>hi</p>", "media_ref": "", "offset": 0}
                ],
            },
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    rows = {r.doc_id: r for r in extract_articles(docs).collect()}
    assert rows["empty"].status in ("no_article", "parse_error")
    # a tiny page has no article content → kernel's retry sieve gives best
    # attempt or no_article; both are data, not task failures
    assert rows["just-text"].status in ("ok", "no_article")


def test_null_and_garbage_spans_degrade_gracefully(spark):
    """Corruption shapes real 100 TB tables produce: null spans array,
    null text inside a span, negative/duplicate offsets, null doc_id text.
    All must yield status rows, never task failures."""
    from go_readability_spark.spark.extract import extract_articles
    from go_readability_spark.spark.schema import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(
        [
            {"doc_id": "null-spans", "uri": None, "spans": None},
            {
                "doc_id": "null-text-span",
                "uri": None,
                "spans": [
                    {"kind": "text", "text": None, "media_ref": None, "offset": 0},
                    {"kind": "text", "text": "<p>ok</p>", "media_ref": "", "offset": 1},
                ],
            },
            {
                "doc_id": "negative-offsets",
                "uri": None,
                "spans": [
                    {"kind": "text", "text": "<p>b</p>", "media_ref": "", "offset": -1},
                    {"kind": "text", "text": "<p>a</p>", "media_ref": "", "offset": -2},
                ],
            },
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    rows = {r.doc_id: r for r in extract_articles(docs).collect()}
    assert len(rows) == 3
    for r in rows.values():
        assert r.status in ("ok", "no_article", "parse_error")


def test_prescreen_gates_through_readerable(spark):
    """The reference's check-before-parse workflow through the Spark
    surface: with prescreen=True, every document the kernel's
    IsProbablyReaderable rejects lands as a status='not_readerable' row
    (no grab-loop output), and every readerable document extracts
    IDENTICALLY to the ungated path."""
    import os

    from go_readability_spark.codec.spans import spans_to_html, Span
    from go_readability_spark.kernel.options import Options
    from go_readability_spark.kernel.readerable import is_probably_readerable

    from pyspark.sql import functions as F

    # include the four known non-readerable fixtures plus a readerable slice
    non_readerable = ("js-link-replacement", "lazy-image-3", "mozilla-2",
                      "remove-aria-hidden")
    docs = fixture_documents(spark).filter(
        F.col("doc_id").isin(*non_readerable) | F.col("doc_id").startswith("0")
    )
    opts = Options(classes_to_preserve=["page", "caption"])
    gated = {r.doc_id: r for r in extract_articles(docs, opts, prescreen=True).collect()}
    plain = {r.doc_id: r for r in extract_articles(docs, opts).collect()}
    assert set(gated) == set(plain)
    n_skipped = 0
    for name, row in gated.items():
        src = open(
            os.path.join(FIXTURES_DIR, name, "source.html"), encoding="utf-8"
        ).read()
        truth = is_probably_readerable(src, opts)
        if truth:
            assert row.status == plain[name].status, name
            assert row.text_content == plain[name].text_content, name
            assert row.title == plain[name].title, name
        else:
            n_skipped += 1
            assert row.status == "not_readerable", name
            assert row.spans is None and row.text_content is None, name
    # the golden corpus contains deliberately non-readerable fixtures, so
    # the gate must actually fire
    assert n_skipped > 0
