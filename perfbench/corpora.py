"""Seeded corpus generators for the three benchmark workloads.

Each generator returns a list of ``Doc`` records, a pure function of
``(workload, seed)``.  Nothing here imports the program: the pages, their
span decomposition and the parquet layout are owned by the benchmark, so a
change to ``spark/corpus.py`` or the span codec cannot change a workload.

Every workload keeps the same *shape* for every seed: page sizes come from
stratified quantiles of the target distribution (only their order and the
words change with the seed), and the few special pages of ``heavy_tail``
have fixed sizes.  That is what lets runs on different seeds be compared.

Words come from the 31-word vocabulary of the project's
``documents.parquet`` test corpus (sf0.001-sf0.1 all use it).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import re
import shutil
import statistics
from dataclasses import dataclass
from statistics import NormalDist

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

WORKLOADS = ("articles_uniform", "heavy_tail", "crawl_mix_resume")

# Router thresholds of ``route_and_extract`` (bytes, '<' count); used only
# to describe the corpus shape, never to build it.
MEGA_BYTES = 4_000_000
MEGA_TAGS = 100_000

N_FILES = 16  # parquet files per corpus: the pre-bucketed layout, one split each
WARMUP_DOCS = 64

# Page classes that are not readerable by construction.
NON_READERABLE = ("farm", "hub", "empty", "malformed", "stub")


@dataclass(frozen=True)
class Doc:
    doc_id: str
    uri: str
    html: str
    cls: str  # page class: article, farm, hub, empty, malformed, stub, nest, mega_*


def generator_hash() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


# --- page builders ---------------------------------------------------------


def _sentence(rng: random.Random, n: int) -> str:
    s = " ".join(rng.choice(WORDS) for _ in range(n))
    return s[:1].upper() + s[1:] + "."


def _paragraph(rng: random.Random, n_sent: int = 4) -> str:
    return " ".join(_sentence(rng, rng.randint(9, 15)) for _ in range(n_sent))


def article_page(rng: random.Random, no: int, target_bytes: int) -> str:
    """Article-shaped page with boilerplate the kernel must strip; paragraphs
    are added until the page reaches ``target_bytes``."""
    title = _sentence(rng, 5)[:-1]
    head = [
        "<!DOCTYPE html>",
        '<html lang="en"><head>',
        f"<title>{title} | BenchSite</title>",
        f'<meta property="og:title" content="{title}"/>',
        '<meta property="og:site_name" content="BenchSite"/>',
        f'<meta name="author" content="Author {no % 7}"/>',
        "</head><body>",
        '<nav><ul><li><a href="/home">Home</a></li><li><a href="/about">About</a></li>'
        '<li><a href="/archive">Archive</a></li></ul></nav>',
        '<div class="sidebar"><a href="/ad1">Sponsored one</a><a href="/ad2">Sponsored two</a></div>',
        '<div id="main"><article>',
        f"<h1>{title}</h1>",
        f'<p class="byline">By Author {no % 7}</p>',
    ]
    tail = [
        "</article></div>",
        '<div id="comments"><div class="comment">First comment</div>'
        '<div class="comment">Totally agree with this</div></div>',
        '<div class="share"><a href="/share/fb">Share</a><a href="/share/tw">Tweet</a></div>',
        "<footer><p>Copyright BenchSite. All rights reserved.</p></footer>",
        "<script>var tracking = 1;</script>",
        "</body></html>",
    ]
    size = sum(len(p) + 1 for p in head + tail)
    body: list[str] = []
    i = 0
    while size < target_bytes or i < 2:
        part = f"<p>{_paragraph(rng)}</p>"
        if i % 3 == 1:
            part += f'<img src="/images/{no}-{i}.jpg" alt="figure {i}"/>'
        if i % 7 == 5:
            part += f'<figure><img src="/figures/{no}-{i}.png"/><figcaption>Figure {i}</figcaption></figure>'
        body.append(part)
        size += len(part) + 1
        i += 1
    return "\n".join(head + body + tail)


def link_farm(rng: random.Random, no: int, n_links: int) -> str:
    links = "".join(
        f'<li><a href="/p/{no}/{k}">{rng.choice(WORDS)} {rng.choice(WORDS)}</a></li>'
        for k in range(n_links)
    )
    return f"<html><head><title>Links {no}</title></head><body><ul>{links}</ul></body></html>"


def nav_hub(rng: random.Random, no: int, n_sections: int) -> str:
    secs = []
    for s in range(n_sections):
        items = "".join(
            f'<a class="nav-item" href="/s{s}/{k}">{rng.choice(WORDS)}</a> | ' for k in range(12)
        )
        secs.append(f'<div class="section"><h3>{rng.choice(WORDS).title()}</h3>{items}</div>')
    return (
        f"<html><head><title>Hub {no}</title></head><body><header><nav>Menu</nav></header>"
        + "".join(secs)
        + "<footer>About | Contact</footer></body></html>"
    )


_MALFORMED = (
    '<div class="a" <p>{w}<<>> <span',
    "<<<{w}>>> </i></b></div>",
    "<html><body><table><tr><td>{w}<td><tr></table",
    '\x00\x01{w}<a href="',
    "<html><head><title>{w}</head><body><p>{w}",
)


def malformed(rng: random.Random, no: int) -> str:
    w = " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 12)))
    return _MALFORMED[no % len(_MALFORMED)].format(w=w)


def stub(rng: random.Random, no: int) -> str:
    return (
        f"<html><head><title>Stub {no}</title></head><body>"
        f"<p>{_sentence(rng, rng.randint(4, 10))}</p></body></html>"
    )


def nest(rng: random.Random, tag: str, depth: int) -> str:
    return (
        "<html><body>" + f"<{tag}>" * depth + f"<p>{_paragraph(rng, 12)}</p>" + f"</{tag}>" * depth
        + "</body></html>"
    )


# --- workloads -------------------------------------------------------------


def _stratified(rng: random.Random, n: int, ppf) -> list[float]:
    """n values at the mid-quantiles of a distribution, in seeded order."""
    vals = [ppf((i + 0.5) / n) for i in range(n)]
    rng.shuffle(vals)
    return vals


def _articles_uniform(rng: random.Random, seed: int) -> list[Doc]:
    n = 8000
    sizes = _stratified(rng, n, NormalDist(2048, 180).inv_cdf)
    return [
        Doc(f"au{seed}-{i:06d}", f"http://news.example/a/{i}.html",
            article_page(rng, i, int(s)), "article")
        for i, s in enumerate(sizes)
    ]


def _heavy_tail(rng: random.Random, seed: int) -> list[Doc]:
    n = 500
    # lognormal body: median 4 KB, 1 KB floor, top quantile ~170 KB
    ln = NormalDist(math.log(4096), 1.3)
    sizes = _stratified(rng, n, lambda q: max(1024.0, math.exp(ln.inv_cdf(q))))
    docs = [
        Doc(f"ht{seed}-{i:06d}", f"http://blog.example/p/{i}.html",
            article_page(rng, i, int(s)), "article")
        for i, s in enumerate(sizes)
    ]
    special = [
        ("mega_bytes", article_page(rng, n, 4_200_000)),  # over the byte threshold
        ("mega_tags", link_farm(rng, n + 1, 25_150)),  # ~100.6k '<': a markup-dense link hub
        ("nest", nest(rng, "span", 3000)),
        ("nest", nest(rng, "b", 3000)),
        # block nests cost quadratic time in depth (div-3000: ~7.5 s on one core)
        ("nest", nest(rng, "div", 1500)),
    ]
    for k, (cls, html) in enumerate(special):
        docs.append(Doc(f"ht{seed}-s{k:02d}", f"http://blog.example/s/{k}.html", html, cls))
    return docs


def _crawl_mix(rng: random.Random, seed: int) -> list[Doc]:
    mix = (
        ("farm", 700), ("hub", 230), ("empty", 120), ("malformed", 120),
        ("stub", 110), ("article", 320),
    )
    classes = [c for c, k in mix for _ in range(k)]
    rng.shuffle(classes)
    art_sizes = iter(_stratified(rng, dict(mix)["article"], NormalDist(3072, 400).inv_cdf))
    docs = []
    for i, cls in enumerate(classes):
        if cls == "farm":
            html = link_farm(rng, i, rng.randint(60, 180))
        elif cls == "hub":
            html = nav_hub(rng, i, rng.randint(4, 10))
        elif cls == "empty":
            html = ""
        elif cls == "malformed":
            html = malformed(rng, i)
        elif cls == "stub":
            html = stub(rng, i)
        else:
            html = article_page(rng, i, int(next(art_sizes)))
        docs.append(Doc(f"cm{seed}-{i:06d}", f"http://crawl{i % 97}.example/{i}", html, cls))
    return docs


_GENERATORS = {
    "articles_uniform": _articles_uniform,
    "heavy_tail": _heavy_tail,
    "crawl_mix_resume": _crawl_mix,
}


def generate(workload: str, seed: int) -> list[Doc]:
    key = int.from_bytes(hashlib.sha256(f"{workload}:{seed}".encode()).digest()[:8], "big")
    return _GENERATORS[workload](random.Random(key), seed)


# --- documents table -------------------------------------------------------

_IMG = re.compile(r"<img\b[^>]*>", re.IGNORECASE)
_SRC = re.compile(r"""\bsrc\s*=\s*["']?([^"'\s>]*)""", re.IGNORECASE)


def to_spans(html: str) -> list[dict]:
    """Split a page into interleaved markup / img spans whose texts, in
    offset order, concatenate back to the page."""
    spans: list[dict] = []
    pos = 0
    for m in _IMG.finditer(html):
        if m.start() > pos:
            spans.append({"kind": "markup", "text": html[pos:m.start()], "media_ref": "", "offset": len(spans)})
        src = _SRC.search(m.group())
        spans.append({"kind": "img", "text": m.group(), "media_ref": src.group(1) if src else "", "offset": len(spans)})
        pos = m.end()
    if pos < len(html):
        spans.append({"kind": "markup", "text": html[pos:], "media_ref": "", "offset": len(spans)})
    return spans


def _arrow_schema():
    import pyarrow as pa

    span = pa.struct([
        pa.field("kind", pa.string(), False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), False),
    ])
    return pa.schema([
        pa.field("doc_id", pa.string(), False),
        pa.field("uri", pa.string()),
        pa.field("spans", pa.list_(pa.field("element", span, False))),
    ])


def _write_parquet(docs: list[Doc], path: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    schema = _arrow_schema()
    per = math.ceil(len(docs) / n_files)
    for f in range(n_files):
        part = docs[f * per:(f + 1) * per]
        if not part:
            continue
        table = pa.Table.from_pylist(
            [{"doc_id": d.doc_id, "uri": d.uri, "spans": to_spans(d.html)} for d in part],
            schema=schema,
        )
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def _layout(docs: list[Doc], seed: int) -> list[Doc]:
    """File order: the special pages (megas and nests) go to distinct
    files, rotated by seed, so no seed stacks two stragglers in one file;
    the other pages fill the files in order."""
    is_special = [d.cls in ("mega_bytes", "mega_tags", "nest") for d in docs]
    special = [d for d, s in zip(docs, is_special) if s]
    body = [d for d, s in zip(docs, is_special) if not s]
    per = math.ceil(len(docs) / N_FILES)
    slots: list[list[Doc]] = [[] for _ in range(N_FILES)]
    step = max(1, N_FILES // max(1, len(special)))
    for k, d in enumerate(special):
        slots[(seed + k * step) % N_FILES].append(d)
    it = iter(body)
    for s in slots:
        while len(s) < per:
            nxt = next(it, None)
            if nxt is None:
                break
            s.append(nxt)
    return [d for s in slots for d in s]


def shape(docs: list[Doc]) -> dict:
    sizes = sorted(len(d.html.encode()) for d in docs)
    tags = sorted(d.html.count("<") for d in docs)
    classes: dict[str, int] = {}
    for d in docs:
        classes[d.cls] = classes.get(d.cls, 0) + 1

    def pct(v: list[int], q: float) -> int:
        return v[min(len(v) - 1, int(q * len(v)))]

    over = sum(1 for d in docs if len(d.html.encode()) > MEGA_BYTES or d.html.count("<") > MEGA_TAGS)
    return {
        "docs": len(docs),
        "bytes_total": sum(sizes),
        "bytes_p50": int(statistics.median(sizes)),
        "bytes_p99": pct(sizes, 0.99),
        "bytes_max": sizes[-1],
        "tags_p99": pct(tags, 0.99),
        "tags_max": tags[-1],
        "over_router_threshold": over,
        "over_router_threshold_share": over / len(docs),
        "non_readerable_share": sum(classes.get(c, 0) for c in NON_READERABLE) / len(docs),
        "classes": classes,
    }


def materialize(workload: str, seed: int, cache_root: str, keep: int = 8) -> str:
    """Write (or reuse) the corpus for (workload, seed, generator hash):
    ``docs/`` (N_FILES parquet files), ``warmup/`` (the smallest ordinary
    pages in the same layout, for the set-up's first extraction) and
    ``shape.json``.  Returns the corpus directory."""
    path = os.path.join(cache_root, f"{workload}-{seed}-{generator_hash()}")
    if os.path.exists(os.path.join(path, "shape.json")):
        os.utime(path)
        return path
    docs = _layout(generate(workload, seed), seed)
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _write_parquet(docs, os.path.join(tmp, "docs"), N_FILES)
    warm = sorted((d for d in docs if d.cls in ("article", "farm", "hub")),
                  key=lambda d: len(d.html))[:WARMUP_DOCS]
    _write_parquet(warm, os.path.join(tmp, "warmup"), N_FILES)
    with open(os.path.join(tmp, "shape.json"), "w") as f:
        json.dump(shape(docs), f, indent=1)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    _prune(cache_root, keep)
    return path


def _prune(cache_root: str, keep: int) -> None:
    entries = sorted(
        (os.path.join(cache_root, e) for e in os.listdir(cache_root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)


def read_pages(corpus_dir: str) -> list[tuple[str, str, str]]:
    """(doc_id, uri, html) for every document of a materialized corpus,
    html reassembled from the spans in offset order."""
    import pyarrow.dataset as ds

    rows = ds.dataset(os.path.join(corpus_dir, "docs"), format="parquet").to_table().to_pylist()
    return [
        (r["doc_id"], r["uri"], "".join(s["text"] or "" for s in sorted(r["spans"] or [], key=lambda s: s["offset"])))
        for r in rows
    ]
