"""Check that two traced runs of one seed submitted the same Spark work.

    python3 perfbench/compare_traces.py .perfbench_out/trace-A.json .perfbench_out/trace-B.json

Spans are matched by (op id, span name, occurrence within the op); only op
ids present in both runs are compared, since a run measures as many ops as
fit in its time. Exits 1 if any job, stage or task count differs.
"""

from __future__ import annotations

import json
import sys

COUNTS = ("jobs", "stages", "tasks")


def keyed(path: str) -> dict[tuple, dict]:
    with open(path) as f:
        spans = json.load(f)["spans"]
    out, seen = {}, {}
    for s in spans:
        k = (s["op"], s["name"])
        seen[k] = seen.get(k, 0) + 1
        out[(*k, seen[k])] = {c: s.get(c) for c in COUNTS}
    return out


def main(a: str, b: str) -> int:
    ka, kb = keyed(a), keyed(b)
    ops = {k[0] for k in ka} & {k[0] for k in kb}
    keys = sorted(k for k in ka.keys() | kb.keys() if k[0] in ops)
    bad = [(k, ka.get(k), kb.get(k)) for k in keys if ka.get(k) != kb.get(k)]
    for k, x, y in bad:
        print(f"op {k[0]} {k[1]}#{k[2]}: {x} != {y}")
    print(f"{len(keys)} spans over {len(ops)} ops compared, {len(bad)} differ")
    return 1 if bad or not keys else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
