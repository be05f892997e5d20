"""Seeded input generators for the benchmark workloads.

Self-contained on purpose: the inputs must stay byte-identical across the
commits being compared, so nothing here imports the program's own
generator. Every function is a pure function of its arguments.

Pages follow the program's page format: each page's ``html`` holds one or
two log records (header ``---- yyyy-MM-dd HH:mm:ss ... table:<t> id:<n>``,
then a body), records separated by a blank line. Planted classes, by page
index ``i`` within an arrival:

- ``i % 13 == 6``: exact copy of the previous page (in-batch duplicate);
- ``i % 23`` in (7, 11, 15): malformed (no newline / bad date / no table);
- ``i % 19 == 3``: cp1251-encoded page;
- ``i % 11 == 5``: ``ros.``-prefixed table (normalisation);
- ``i % 29 == 21``: ``u<n>`` string id; ``i % 29 == 13``: zero-padded id;
- ``i % 7 == 2``: no id token.

Record ids come from a small per-table pool, so one id collects several
versions over a run (what ``get`` returns as a multi-row answer).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["users", "orders", "events", "payments", "sessions"]
OPS = ["create", "update", "delete", "read", "sync"]
LANGS = ["en", "ru", "de", "fr", "es", "zh", "ja", "pt", "it", "nl"]
_LANG_P = np.array([0.38, 0.14, 0.10, 0.09, 0.08, 0.06, 0.05, 0.04, 0.03, 0.03])
_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi "
    "omicron pi rho sigma tau upsilon phi chi psi omega request response batch "
    "commit rollback shard replica index scan merge flush"
).split()
_RU = "привет мир тест данные".split()
N_DOMAINS = 40
RID_POOL = 3000
BASE_TS = datetime(2024, 3, 1, tzinfo=timezone.utc)
ARRIVAL_SPAN = timedelta(hours=6)

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _domain(k: int) -> str:
    return f"d{k:03d}.example.{['com', 'org', 'net', 'io', 'dev'][k % 5]}"


def _record(ts: datetime, table: str, rid, op: str, body: str) -> str:
    idtok = f" id:{rid}" if rid is not None else ""
    head = f"---- {ts:%Y-%m-%d %H:%M:%S} level:INFO table:{table}{idtok} op:{op}"
    return f"{head}\n{body}\nstatus=done bytes={len(body)}"


def fresh_pages(seed: int, arrival: int, n: int) -> list[dict]:
    """``n`` new pages whose record timestamps lie in this arrival's 6-hour
    slot, in ascending timestamp order (a live log arrives time-ordered)."""
    rng = np.random.default_rng([seed, arrival, 1])
    t0 = BASE_TS + arrival * ARRIVAL_SPAN
    offs = np.sort(rng.integers(0, int(ARRIVAL_SPAN.total_seconds()) - 120, size=n))
    lang_idx = rng.choice(len(LANGS), size=n, p=_LANG_P)
    dom_idx = np.where(rng.random(n) < 0.3, 0, rng.integers(1, N_DOMAINS, size=n))
    rids = rng.integers(1, RID_POOL + 1, size=n)
    tbl = rng.integers(0, len(TABLES), size=n)
    op = rng.integers(0, len(OPS), size=n)
    nwords = rng.integers(40, 160, size=n)
    pages: list[dict] = []
    for i in range(n):
        if i % 13 == 6 and pages:
            pages.append(dict(pages[-1]))
            continue
        ts = t0 + timedelta(seconds=int(offs[i]))
        table = TABLES[tbl[i]]
        if i % 11 == 5:
            table = "ros." + table
        rid = None if i % 7 == 2 else int(rids[i])
        if rid is not None and i % 29 == 21:
            rid = f"u{rid}"
        elif rid is not None and i % 29 == 13:
            rid = f"{rid:09d}"
        words = rng.integers(0, len(_WORDS), size=int(nwords[i]))
        body = " ".join(_WORDS[w] for w in words) + f" uniq{seed}x{arrival}x{i}"
        ru = i % 19 == 3
        if ru:
            body += " " + " ".join(_RU)
        if i % 23 == 7:
            text = f"---- {ts:%Y-%m-%d %H:%M:%S} level:WARN table:{table} lonely-header"
        elif i % 23 == 11:
            text = f"---- not-a-valid-datetime! table:{table} id:{rid or 1}\n{body}"
        elif i % 23 == 15:
            text = f"---- {ts:%Y-%m-%d %H:%M:%S} level:INFO id:{rid or 1} op:x\n{body}"
        else:
            recs = [_record(ts, table, rid, OPS[op[i]], body)]
            if i % 5 == 0:
                recs.append(
                    _record(ts + timedelta(seconds=60), table, rid,
                            OPS[(op[i] + 1) % len(OPS)], body[: len(body) // 2])
                )
            text = "\n\n".join(recs)
        pages.append(
            {
                "url": f"https://{_domain(int(dom_idx[i]))}/p/{seed}-{arrival}-{i}",
                "warc_ts": ts,
                "html": text.encode("cp1251", errors="replace") if ru else text.encode(),
                "text": text,
                "lang": "ru" if ru else LANGS[lang_idx[i]],
            }
        )
    return pages


def live_arrival(
    seed: int, arrival: int, n_fresh: int, replay_share: float, history: list[list[dict]]
) -> list[dict]:
    """One live arrival: ``n_fresh`` new pages plus a ``replay_share`` of
    pages re-sent verbatim from the last three arrivals in ``history``
    (upstream retries)."""
    pages = fresh_pages(seed, arrival, n_fresh)
    recent = [p for a in history[-3:] for p in a]
    n_rep = min(len(recent), int(round(n_fresh * replay_share)))
    if n_rep:
        rng = np.random.default_rng([seed, arrival, 2])
        for j in sorted(rng.choice(len(recent), size=n_rep, replace=False)):
            pages.append(recent[j])
    return pages


def write_pages(pages: list[dict], path: str, row_groups: int = 12) -> int:
    """Write one arrival as a parquet file split into ``row_groups`` row
    groups, so the scan can spread it over every core. Returns its size."""
    tbl = pa.Table.from_pylist(pages, schema=PAGES_SCHEMA)
    pq.write_table(tbl, path, row_group_size=max(1, -(-tbl.num_rows // row_groups)))
    return os.path.getsize(path)


def write_lookups(data_dir: str) -> None:
    """The two small dimension tables the pipeline left-joins."""
    fam = {"en": "germanic", "de": "germanic", "nl": "germanic", "ru": "slavic"}
    pq.write_table(
        pa.table(
            {
                "lang": LANGS,
                "lang_name": [f"Lang-{x}" for x in LANGS],
                "lang_family": [fam.get(x, "other") for x in LANGS],
            }
        ),
        os.path.join(data_dir, "lang_lookup.parquet"),
    )
    doms = [k for k in range(N_DOMAINS) if k % 10 != 9]  # some domains unknown
    cats = ["news", "blog", "shop", "docs", "forum"]
    pq.write_table(
        pa.table(
            {
                "domain": [_domain(k) for k in doms],
                "category": [cats[k % 5] for k in doms],
                "country": [["us", "de", "ru", "fr", "jp"][k % 5] for k in doms],
                "is_error_prone": [k % 7 == 0 for k in doms],
            }
        ),
        os.path.join(data_dir, "domain_lookup.parquet"),
    )


def get_requests(
    seed: int, cycle: int, count: int, committed: list[tuple[str, str]], absent_share: float
) -> list[tuple[str, object]]:
    """``count`` get requests drawn Zipf-skewed (a=1.2) over ``committed``
    ids in first-commit order. Numeric ids are sent as int, as string, or
    zero-padded (all one id after RecordId coercion); ``absent_share`` of
    the requests ask for ids that were never written."""
    rng = np.random.default_rng([seed, cycle, 3])
    out: list[tuple[str, object]] = []
    for j in range(count):
        if rng.random() < absent_share or not committed:
            out.append((TABLES[j % len(TABLES)], str(RID_POOL + 1 + int(rng.integers(0, 10**6)))))
            continue
        rank = int(rng.zipf(1.2)) - 1
        table, rid = committed[rank % len(committed)]
        if rid.lstrip("-").isdigit():
            form = int(rng.integers(0, 3))
            out.append((table, [int(rid), rid, f"{int(rid):09d}"][form]))
        else:
            out.append((table, rid))
    return out


def docs_shard(seed: int, shard: int, n_docs: int, dup_share: float):
    """A fresh document shard with planted near-duplicates.

    Returns (rows [(id, text)], planted pairs {(id_a, id_b)}). A planted
    doc copies an earlier doc of the shard and replaces a few words, which
    keeps its word-3-gram Jaccard with the source near 0.8."""
    rng = np.random.default_rng([seed, shard, 4])
    vocab = 6000
    base = shard * 1_000_000
    rows: list[tuple[int, str]] = []
    toks: list[list[int]] = []
    planted: set[tuple[int, int]] = set()
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_share:
            src = int(rng.integers(0, i))
            t = list(toks[src])
            for pos in rng.choice(len(t), size=max(1, len(t) // 40), replace=False):
                t[pos] = int(rng.integers(0, vocab))
            planted.add((base + src, base + i))
        else:
            t = [int(x) for x in rng.integers(0, vocab, size=int(rng.integers(40, 100)))]
        toks.append(t)
        rows.append((base + i, " ".join(f"w{x}" for x in t)))
    return rows, planted
