"""Seeded generators: the same seed gives byte-identical corpora, another
seed gives other documents with the same shape."""

import os

import pytest

import corpora


def _files(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", corpora.WORKLOADS)
def test_same_seed_gives_byte_identical_corpus(tmp_path, workload):
    a = corpora.materialize(workload, 7, str(tmp_path / "a"))
    b = corpora.materialize(workload, 7, str(tmp_path / "b"))
    fa, fb = _files(a), _files(b)
    assert fa and fa == fb


@pytest.mark.parametrize("workload", corpora.WORKLOADS)
def test_other_seed_changes_documents_not_shape(workload):
    a, b = corpora.generate(workload, 1), corpora.generate(workload, 2)
    assert [d.html for d in a] != [d.html for d in b]
    sa, sb = corpora.shape(a), corpora.shape(b)
    assert sa["docs"] == sb["docs"]
    assert sa["classes"] == sb["classes"]
    assert sa["over_router_threshold"] == sb["over_router_threshold"]
    assert abs(sa["bytes_total"] - sb["bytes_total"]) / sa["bytes_total"] < 0.02


def test_spans_reassemble_to_the_page():
    html = '<p>a</p><img src="/x.png" alt=1><p>b</p><IMG SRC=\'/y.jpg\'>tail'
    spans = corpora.to_spans(html)
    assert "".join(s["text"] for s in sorted(spans, key=lambda s: s["offset"])) == html
    assert [(s["kind"], s["media_ref"]) for s in spans if s["kind"] == "img"] == [("img", "/x.png"), ("img", "/y.jpg")]
    assert corpora.to_spans("") == []


def test_cache_is_reused_and_pruned(tmp_path):
    first = corpora.materialize("crawl_mix_resume", 1, str(tmp_path))
    mtime = os.path.getmtime(os.path.join(first, "shape.json"))
    assert corpora.materialize("crawl_mix_resume", 1, str(tmp_path)) == first
    assert os.path.getmtime(os.path.join(first, "shape.json")) == mtime
    for seed in range(2, 5):
        corpora.materialize("crawl_mix_resume", seed, str(tmp_path), keep=2)
    assert len(os.listdir(tmp_path)) == 2


def test_heavy_tail_crosses_both_router_thresholds():
    docs = corpora.generate("heavy_tail", 3)
    assert any(len(d.html.encode()) > corpora.MEGA_BYTES for d in docs)
    assert any(d.html.count("<") > corpora.MEGA_TAGS for d in docs)
