"""The correctness gate trips on a dropped row, a duplicated row, an
altered span and a missing lineage commit, over a tiny committed output."""

import copy
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gate

SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())])
ARTICLES = pa.schema(
    [("doc_id", pa.string()), ("spans", pa.list_(SPAN))]
    + [(c, pa.string()) for c in ("title", "byline", "dir", "lang", "excerpt", "site_name",
                                  "published_time", "text_content")]
    + [("length", pa.int32()), ("status", pa.string()), ("error", pa.string())]
)
LINEAGE = pa.schema([("run_id", pa.string()), ("bucket_id", pa.int32()), ("status", pa.string())])
N_BUCKETS = 2
RUN = "run-1"


def _row(doc_id, status="ok"):
    ok = status == "ok"
    return {
        "doc_id": doc_id,
        "spans": [{"kind": "markup", "text": f"<p>{doc_id} body</p>", "media_ref": "", "offset": 0},
                  {"kind": "img", "text": '<img src="/a.png">', "media_ref": "/a.png", "offset": 1}] if ok else None,
        "title": f"T {doc_id}" if ok else None, "byline": None, "dir": None, "lang": None,
        "excerpt": None, "site_name": None, "published_time": None,
        "text_content": f"{doc_id} body" if ok else None, "length": 9 if ok else None,
        "status": status, "error": None,
    }


ROWS = {0: [_row("d1"), _row("d2")], 1: [_row("d3"), _row("d4", "not_readerable")]}
DOC_IDS = ["d1", "d2", "d3", "d4"]


def _write(root, rows_by_bucket, lineage_buckets):
    for b, rows in rows_by_bucket.items():
        d = os.path.join(root, "articles", f"bucket_id={b}")
        os.makedirs(d)
        pq.write_table(pa.Table.from_pylist(rows, schema=ARTICLES), os.path.join(d, "part-0.parquet"))
    os.makedirs(os.path.join(root, "lineage"))
    lineage = [{"run_id": RUN, "bucket_id": b, "status": "done"} for b in lineage_buckets]
    pq.write_table(pa.Table.from_pylist(lineage, schema=LINEAGE), os.path.join(root, "lineage", "part-0.parquet"))
    return str(root)


def _expected():
    return {r["doc_id"]: r for rows in ROWS.values() for r in rows}


def test_clean_output_passes(tmp_path):
    res = gate.check(_write(tmp_path, ROWS, [0, 1]), DOC_IDS, RUN, N_BUCKETS, gate.Reference(_expected()))
    assert res.ok, res.problems
    assert res.committed == 4
    assert res.failed_docs == 0
    assert res.status_counts == {"ok": 3, "not_readerable": 1}


def test_clean_output_is_compared_as_one_table(tmp_path, monkeypatch):
    ref = gate.Reference(_expected())

    def row_by_row(_):
        raise AssertionError("a clean output was compared row by row")

    monkeypatch.setattr(gate, "_norm", row_by_row)
    res = gate.check(_write(tmp_path, ROWS, [0, 1]), DOC_IDS, RUN, N_BUCKETS, ref)
    assert res.ok, res.problems
    assert res.digest == ref.digest


def test_dropped_row_trips(tmp_path):
    rows = copy.deepcopy(ROWS)
    rows[0].pop()
    res = gate.check(_write(tmp_path, rows, [0, 1]), DOC_IDS, RUN, N_BUCKETS, gate.Reference(_expected()))
    assert not res.ok
    assert any("missing" in p for p in res.problems)
    assert res.failed_docs == 1


def test_duplicated_row_trips(tmp_path):
    rows = copy.deepcopy(ROWS)
    rows[1].append(rows[0][0])
    res = gate.check(_write(tmp_path, rows, [0, 1]), DOC_IDS, RUN, N_BUCKETS, gate.Reference(_expected()))
    assert not res.ok
    assert any("duplicated" in p for p in res.problems)


def test_altered_span_trips(tmp_path):
    rows = copy.deepcopy(ROWS)
    rows[1][0]["spans"][1]["media_ref"] = "/b.png"
    res = gate.check(_write(tmp_path, rows, [0, 1]), DOC_IDS, RUN, N_BUCKETS, gate.Reference(_expected()))
    assert not res.ok
    assert any("d3" in p and "spans" in p for p in res.problems)


def test_missing_lineage_commit_trips(tmp_path):
    res = gate.check(_write(tmp_path, ROWS, [0]), DOC_IDS, RUN, N_BUCKETS, gate.Reference(_expected()))
    assert not res.ok
    assert any("lineage" in p for p in res.problems)
    assert res.committed == 0


@pytest.mark.parametrize("status", ["parse_error", "timeout"])
def test_error_status_counts_as_failed_not_as_gate_problem(tmp_path, status):
    rows = copy.deepcopy(ROWS)
    rows[0][1] = _row("d2", status)
    expected = _expected()
    expected["d2"] = rows[0][1]
    res = gate.check(_write(tmp_path, rows, [0, 1]), DOC_IDS, RUN, N_BUCKETS, gate.Reference(expected))
    assert res.ok, res.problems
    assert res.failed_docs == 1


def test_digest_changes_with_content(tmp_path):
    a = gate.digest([_row("d1")])
    changed = _row("d1")
    changed["title"] = "other"
    assert a == gate.digest([_row("d1")]) != gate.digest([changed])
