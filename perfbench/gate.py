"""Correctness gate over one committed ``run_extraction`` output.

Reads the output root with pyarrow (not Spark) and checks:

* every input ``doc_id`` has exactly one articles row, and no other row exists;
* every row carries a known status;
* lineage holds exactly one ``done`` row per bucket for the run;
* every committed row matches the reference row for its document, the
  program's ``extract_one`` with the job's options, run outside Spark
  (``layers.twin``): spans, metadata, status.

``parse_error`` / ``timeout`` rows are valid rows but count as failed
documents (the numerator of ``error_rate``), as do missing, duplicated and
mismatching documents.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

KNOWN_STATUS = ("ok", "no_article", "not_readerable", "too_large", "parse_error", "timeout")
ERROR_STATUS = ("parse_error", "timeout")
COMPARED = (
    "spans", "title", "byline", "dir", "lang", "excerpt", "site_name",
    "published_time", "text_content", "length", "status",
)


@dataclass
class GateResult:
    problems: list[str] = field(default_factory=list)
    status_counts: dict[str, int] = field(default_factory=dict)
    committed: int = 0
    failed_docs: int = 0
    digest: str = ""

    @property
    def ok(self) -> bool:
        return not self.problems


class Reference:
    """The expected row of every document, with its digest and, once the
    committed schema is known, the same rows as an Arrow table sorted by
    doc_id (so a clean output is compared in Arrow, not row by row)."""

    def __init__(self, rows: dict[str, dict]) -> None:
        self.rows = rows
        self.digest = digest(rows.values())
        self._table = None

    def table(self, schema):
        import pyarrow as pa

        if self._table is None or self._table.schema != schema:
            ordered = [self.rows[d] for d in sorted(self.rows)]
            self._table = pa.Table.from_pylist(ordered, schema=schema)
        return self._table


def read_table(path: str, columns: list[str] | None = None):
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return None
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def read_rows(path: str, columns: list[str] | None = None) -> list[dict]:
    table = read_table(path, columns)
    return [] if table is None else table.to_pylist()


def check(
    out_root: str,
    doc_ids: list[str],
    run_id: str,
    n_buckets: int,
    ref: Reference,
) -> GateResult:
    res = GateResult()
    table = read_table(os.path.join(out_root, "articles"), ["doc_id", *COMPARED])
    ids = [] if table is None else table.column("doc_id").to_pylist()
    statuses = [] if table is None else table.column("status").to_pylist()
    count: dict[str, int] = {}
    for d in ids:
        count[d] = count.get(d, 0) + 1
    wanted = set(doc_ids)
    missing = [d for d in doc_ids if d not in count]
    dup = [d for d, n in count.items() if n > 1]
    extra = [d for d in count if d not in wanted]
    bad_status = sorted(set(statuses) - set(KNOWN_STATUS))
    for what, bad in (("missing", missing), ("duplicated", dup), ("unexpected", extra)):
        if bad:
            res.problems.append(f"{len(bad)} {what} doc_id(s), e.g. {sorted(bad)[:3]}")
    if bad_status:
        res.problems.append(f"unknown status values {bad_status}")

    sorted_table = None if table is None else table.sort_by("doc_id").combine_chunks()
    clean = (not (missing or dup or extra) and sorted_table is not None
             and sorted_table.equals(ref.table(sorted_table.schema)))
    mismatched = []
    if clean:
        res.digest = ref.digest
    else:
        rows = [] if table is None else table.to_pylist()
        by_id = {}
        for r in rows:
            by_id.setdefault(r["doc_id"], []).append(r)
        for d, want in sorted(ref.rows.items()):
            got = by_id.get(d)
            if not got or len(got) != 1:
                continue
            diff = [k for k in COMPARED if _norm(got[0].get(k)) != _norm(want.get(k))]
            if diff:
                mismatched.append((d, diff))
        res.digest = digest(rows)
    if mismatched:
        res.problems.append(f"{len(mismatched)} committed row(s) differ from the reference, e.g. " +
                            ", ".join(f"{d} in {diff}" for d, diff in mismatched[:3]))

    lineage = [r for r in read_rows(os.path.join(out_root, "lineage"), ["run_id", "bucket_id", "status"])
               if r["run_id"] == run_id and r["status"] == "done"]
    per_bucket: dict[int, int] = {}
    for r in lineage:
        per_bucket[r["bucket_id"]] = per_bucket.get(r["bucket_id"], 0) + 1
    wrong = {b: per_bucket.get(b, 0) for b in range(n_buckets) if per_bucket.get(b, 0) != 1}
    if wrong or set(per_bucket) - set(range(n_buckets)):
        res.problems.append(f"lineage 'done' rows per bucket != 1: {dict(sorted(wrong.items())[:5])}")

    for s in statuses:
        res.status_counts[s] = res.status_counts.get(s, 0) + 1
    errors = {d for d, s in zip(ids, statuses) if s in ERROR_STATUS}
    res.failed_docs = len(set(missing) | set(dup) | {d for d, _ in mismatched} | errors)
    res.committed = 0 if wrong else len([d for d in doc_ids if count.get(d) == 1])
    return res


def _norm(v):
    """Row values as comparable plain data (pyarrow returns spans as a
    list of dicts, the same shape ``Span.as_row`` gives)."""
    if isinstance(v, list):
        return [dict(sorted(x.items())) if isinstance(x, dict) else x for x in v]
    return v


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        h.update(json.dumps([r["doc_id"]] + [_norm(r.get(k)) for k in COMPARED], sort_keys=True).encode())
    return h.hexdigest()[:16]
