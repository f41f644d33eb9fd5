"""Layer probes that run the program's kernel without Spark.

* ``twin``: ``extract_one`` over the corpus in a process pool of ``nproc``
  (the Spark-free ceiling for the extraction path).  Its rows are the
  correctness gate's reference.
* ``kernel_pass``: the same documents, one public call at a time, with a
  span around each: readerable (when prescreen is on), ``Readability(...)``
  construction (tokenize + DOM), ``.parse()``, the serializer (timed through
  the public ``Options.serializer`` hook wrapping ``Node.get_inner_html``,
  the call the default takes) and the output span codec.

Both use ``spawn`` workers; documents travel as arguments.
"""

from __future__ import annotations

import contextlib
import multiprocessing as mp
import time

from tracing import Tracer

CHUNK = 16


def job_options():
    """The options every extraction of the benchmark uses (the default of
    ``extract_articles``, passed explicitly so re-extraction matches)."""
    from go_readability_spark.kernel.options import Options

    return Options(classes_to_preserve=["page", "caption"])


def _chunks(pages: list, n: int) -> list:
    return [pages[i:i + n] for i in range(0, len(pages), n)]


def _warm(_: int) -> int:
    import go_readability_spark.spark.extract  # noqa: F401  (import cost outside the timing)

    return 0


@contextlib.contextmanager
def _pool(nproc: int):
    """A spawn pool of ``nproc`` warmed workers, joined on exit."""
    with mp.get_context("spawn").Pool(nproc) as pool:
        pool.map(_warm, range(nproc))
        yield pool
        pool.close()
        pool.join()


def _twin_chunk(args) -> list[dict]:
    from go_readability_spark.spark.extract import extract_one

    chunk, prescreen = args
    opts = job_options()
    return [extract_one(doc_id, html, uri, opts, prescreen) for doc_id, uri, html in chunk]


def twin(pages: list, nproc: int, prescreen: bool) -> tuple[dict[str, dict], float]:
    """``extract_one`` over ``pages`` on ``nproc`` processes: the rows by
    doc_id, and docs/s."""
    rows = {}
    with _pool(nproc) as pool:
        t0 = time.perf_counter()
        for chunk in pool.imap_unordered(_twin_chunk, [(c, prescreen) for c in _chunks(pages, CHUNK)]):
            rows.update((r["doc_id"], r) for r in chunk)
        dt = time.perf_counter() - t0
    return rows, len(rows) / dt


def _kernel_chunk(args) -> tuple[list, dict]:
    from go_readability_spark.codec.spans import html_fragment_to_normalized_spans
    from go_readability_spark.kernel.readability import NoArticleError, Readability, TooLargeError
    from go_readability_spark.kernel.readerable import is_probably_readerable

    chunk, prescreen, workload = args
    tracer = Tracer()
    opts = job_options()

    def timed_serializer(node):
        with tracer.span("readability.serialize"):
            return node.get_inner_html()

    opts.serializer = timed_serializer
    status: dict[str, int] = {}
    for doc_id, uri, html in chunk:
        trace = f"{workload}/{doc_id}"
        st = "ok"
        with tracer.span("kernel.doc", trace):
            if prescreen:
                with tracer.span("readerable", trace):
                    readerable = is_probably_readerable(html or "", opts)
                if not readerable:
                    status["not_readerable"] = status.get("not_readerable", 0) + 1
                    continue
            try:
                with tracer.span("dom", trace):
                    r = Readability(html or "", uri, opts)
                with tracer.span("readability", trace):
                    result = r.parse()
                with tracer.span("spans.out", trace):
                    html_fragment_to_normalized_spans(result.html_content)
            except TooLargeError:
                st = "too_large"
            except NoArticleError:
                st = "no_article"
            except Exception:  # the kernel's own parse_error fold
                st = "parse_error"
            status[st] = status.get(st, 0) + 1
    return tracer.spans, status


def kernel_pass(tracer: Tracer, pages: list, nproc: int, prescreen: bool, workload: str) -> tuple[dict, float]:
    """Per-document spans (merged into ``tracer``) and status counts;
    returns (status counts, wall seconds)."""
    status: dict[str, int] = {}
    with _pool(nproc) as pool:
        t0 = time.perf_counter()
        args = [(c, prescreen, workload) for c in _chunks(pages, CHUNK)]
        for spans, st in pool.imap_unordered(_kernel_chunk, args):
            tracer.merge(spans)
            for k, v in st.items():
                status[k] = status.get(k, 0) + v
        dt = time.perf_counter() - t0
    return status, dt
