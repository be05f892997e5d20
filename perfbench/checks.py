"""Output checks that do not go through Spark.

Expected results come from the program's pure-Python reference parser
(``parse_ref.parse_page``) and record hash, and from a Python recompute of
word-n-gram Jaccard. Every ``check_*`` function returns a list of problem
strings; an empty list means the output is correct. ``selftest`` feeds each
checker one right and several deliberately wrong results, so a checker that
stopped rejecting anything is caught on every run.
"""

from __future__ import annotations

import json
import re

import numpy as np

from log_server_spark.functions.hashing import record_hash_batch
from log_server_spark.parse_ref import OK, canonical_record_id, parse_page

# Java regex \s (what Spark's split uses), not Python's wider \s
_JAVA_WS = re.compile(r"[ \t\n\x0B\f\r]+")


class IngestModel:
    """What the warehouse must hold after each update, from the pages fed.

    Mirrors the ingest contract: an ok record is added iff its dedup key
    (table, record id, record hash) was never committed before (first
    occurrence wins, in-batch and across batches); error rows are kept
    once per distinct row within a batch."""

    def __init__(self) -> None:
        self.keys: set[tuple] = set()
        self.by_id: dict[tuple[str, str], set[tuple[int, str]]] = {}
        self.id_order: list[tuple[str, str]] = []
        self.added = 0
        self.errors = 0

    def apply(self, pages: list[dict]) -> dict:
        """Fold one arrival in; returns the expected update counters and
        ``cross``, the distinct ok keys of the arrival already committed."""
        ok_recs, err_rows = [], set()
        for p in pages:
            for r in parse_page(p["html"]):
                if r.status == OK:
                    ok_recs.append(r)
                else:
                    err_rows.add((p["url"], p["warc_ts"], p["lang"], r.seq, r.status,
                                  r.table or "", r.record_id or "", r.ts_millis, r.text))
        hashes = record_hash_batch(
            [r.text.encode("utf-8") for r in ok_recs],
            np.array([r.ts_millis for r in ok_recs], dtype=np.int64),
        ) if ok_recs else []
        keys = [(r.table, r.record_id or "", int(h)) for r, h in zip(ok_recs, hashes)]
        cross = len(set(keys) & self.keys)
        added = 0
        for r, key in zip(ok_recs, keys):
            if key in self.keys:
                continue
            self.keys.add(key)
            added += 1
            if r.record_id:
                ident = (r.table, r.record_id)
                if ident not in self.by_id:
                    self.by_id[ident] = set()
                    self.id_order.append(ident)
                self.by_id[ident].add((r.ts_millis, r.text))
        self.added += added
        self.errors += len(err_rows)
        return {"n_ok": len(ok_recs), "added": added, "errors": len(err_rows), "cross": cross}

    def expected_get(self, table: str, record_id) -> set[tuple[int, str]]:
        return set(self.by_id.get((table, canonical_record_id(str(record_id))), ()))


def check_update(got: tuple[int, int, int], want: dict) -> list[str]:
    """``got`` = (added, duplicates, errors) as the update reported them."""
    added, dups, errors = got
    out = []
    if added != want["added"]:
        out.append(f"added {added} != distinct new ok keys {want['added']}")
    if added + dups != want["n_ok"]:
        out.append(f"added+duplicates {added + dups} != ok records {want['n_ok']}")
    if errors != want["errors"]:
        out.append(f"errors {errors} != distinct error rows {want['errors']}")
    return out


def records_table_counts(records_dir: str) -> tuple[int, int]:
    """(ok rows, error rows) of the stored records table, read with pyarrow."""
    import pyarrow.dataset as ds

    status = ds.dataset(records_dir, format="parquet", partitioning="hive").to_table(
        columns=["status"]
    ).column("status").to_pylist()
    n_ok = sum(1 for s in status if s == OK)
    return n_ok, len(status) - n_ok


def check_records_counts(counts: tuple[int, int], model: IngestModel) -> list[str]:
    n_ok, n_err = counts
    out = []
    if n_ok != model.added:
        out.append(f"records table holds {n_ok} ok rows, expected {model.added}")
    if n_err != model.errors:
        out.append(f"records table holds {n_err} error rows, expected {model.errors}")
    return out


def check_get(table: str, record_id, json_rows: list[str], want: set) -> list[str]:
    """A get answer: every stored version of the id, ts-ascending, with the
    id in its RecordId-canonical form; nothing for an absent id."""
    rows = [json.loads(j) for j in json_rows]
    canon = canonical_record_id(str(record_id))
    out = []
    ts = [r["timestamp"] for r in rows]
    if ts != sorted(ts):
        out.append(f"get {table}/{record_id!r}: rows not timestamp-ascending")
    if any(r["tableName"] != table or r["id"] != canon for r in rows):
        out.append(f"get {table}/{record_id!r}: row carries the wrong table or id")
    got = [(r["timestamp"], r["data"]) for r in rows]
    if len(got) != len(want) or set(got) != want:
        out.append(f"get {table}/{record_id!r}: {len(got)} rows, expected {len(want)}")
    return out


def shingles(text: str, n: int) -> set[str]:
    """The operator's shingle definition: split the space-trimmed text on
    Java whitespace runs, join each n consecutive words with one space."""
    w = _JAVA_WS.split(text.strip(" "))
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)} if len(w) >= n else set()


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def check_near_dup(
    docs: list[tuple[int, str]],
    planted: set[tuple[int, int]],
    pairs: list[tuple[int, int, float]],
    labels: dict[int, int],
    threshold: float,
    shingle_n: int,
    recall_floor: float,
) -> tuple[list[str], float]:
    """Emitted pairs must really be near-duplicates, the planted ones must
    be found, and every doc's label must be the smallest id of its
    connected component over the emitted pairs. Returns (problems, recall)."""
    text = dict(docs)
    sh: dict[int, set] = {}

    def _sh(i: int) -> set:
        if i not in sh:
            sh[i] = shingles(text[i], shingle_n)
        return sh[i]

    out = []
    bad = [
        (a, b) for a, b, j in pairs
        if round(jaccard(_sh(a), _sh(b)), 4) < threshold or abs(jaccard(_sh(a), _sh(b)) - j) > 1e-3
    ]
    if bad:
        out.append(f"{len(bad)} emitted pairs fail the Python Jaccard recompute, e.g. {bad[0]}")
    truth = {p for p in planted if round(jaccard(_sh(p[0]), _sh(p[1])), 4) >= threshold}
    found = {(a, b) for a, b, _ in pairs}
    recall = len(truth & found) / len(truth) if truth else 1.0
    if recall < recall_floor:
        out.append(f"planted-pair recall {recall:.3f} < {recall_floor}")
    parent = {i: i for i, _ in docs}

    def _root(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b, _ in pairs:
        ra, rb = _root(a), _root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    wrong = [i for i, _ in docs if labels.get(i) != _root(i)]
    if wrong or len(labels) != len(docs):
        out.append(f"{len(wrong)} docs carry a wrong component label ({len(labels)} labelled)")
    return out, recall


def selftest() -> list[str]:
    """Run every checker on one right and several wrong results. Returns
    the names of the cases that were judged wrongly."""
    from perfbench import gen

    failures = []

    def expect(name: str, problems: list[str], ok: bool) -> None:
        if bool(problems) == ok:
            failures.append(name)

    pages = gen.fresh_pages(seed=7, arrival=0, n=60)
    m = IngestModel()
    want = m.apply(pages + pages[:5])
    right = (want["added"], want["n_ok"] - want["added"], want["errors"])
    expect("update right", check_update(right, want), True)
    expect("update added+1", check_update((right[0] + 1, right[1] - 1, right[2]), want), False)
    expect("update dups-1", check_update((right[0], right[1] - 1, right[2]), want), False)
    expect("update errors+1", check_update((right[0], right[1], right[2] + 1), want), False)
    expect("records right", check_records_counts((m.added, m.errors), m), True)
    expect("records short", check_records_counts((m.added - 1, m.errors), m), False)

    table, rid = next(k for k in m.id_order if len(m.by_id[k]) >= 1)
    rows = sorted(m.by_id[(table, rid)])
    js = [json.dumps({"tableName": table, "id": rid, "timestamp": t, "data": d}) for t, d in rows]
    padded = f"{int(rid):09d}" if rid.isdigit() else rid
    expect("get right", check_get(table, padded, js, m.expected_get(table, padded)), True)
    expect("get missing row", check_get(table, rid, js[1:] if len(js) > 1 else [], m.expected_get(table, rid)), False)
    bad_id = [j.replace(f'"id": "{rid}"', '"id": "x"') for j in js]
    expect("get wrong id", check_get(table, rid, bad_id, m.expected_get(table, rid)), False)
    two = js + [json.dumps({"tableName": table, "id": rid, "timestamp": -1, "data": "z"})]
    expect("get unsorted", check_get(table, rid, two, m.expected_get(table, rid) | {(-1, "z")}), False)
    expect("get absent answered", check_get(table, "99999999", js, m.expected_get(table, "99999999")), False)

    docs, planted = gen.docs_shard(seed=7, shard=0, n_docs=120, dup_share=0.2)
    pairs = []
    for a, b in sorted(planted):
        j = jaccard(shingles(dict(docs)[a], 3), shingles(dict(docs)[b], 3))
        if round(j, 4) >= 0.5:
            pairs.append((a, b, round(j, 4)))
    parent = {i: i for i, _ in docs}
    for a, b, _ in pairs:  # planted sources precede their copies
        parent[b] = parent[a]
    labels = {i: parent[i] for i, _ in docs}
    args = (0.5, 3, 0.9)
    expect("near_dup right", check_near_dup(docs, planted, pairs, labels, *args)[0], True)
    far = (docs[0][0], docs[1][0], 0.9)
    expect("near_dup false pair", check_near_dup(docs, planted, pairs + [far], labels, *args)[0], False)
    expect("near_dup low recall", check_near_dup(docs, planted, pairs[: len(pairs) // 2], labels, *args)[0], False)
    relabel = {**labels, pairs[0][1]: pairs[0][1]}
    expect("near_dup wrong label", check_near_dup(docs, planted, pairs, relabel, *args)[0], False)
    return failures
