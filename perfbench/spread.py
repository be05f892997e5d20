"""Run-to-run spread of the benchmark, judged against BENCHMARK.json.

    python3 perfbench/spread.py --workload live --seeds 1-10 [--trace 0]

Runs ``perfbench/run.py`` once per seed, one after another, from the
checkout root, then prints for every metric the median and the
interquartile range as a share of the median (``statistics.quantiles``,
n=4), next to the metric's bound. Results go to
``.perfbench_out/spread-<workload>-<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            [*bench["command"], "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        diag = json.loads(lines[-2]) if res and len(lines) > 1 else {}
        runs.append({"seed": seed, "rc": p.returncode, "wall": time.time() - t0,
                     "result": res, "diag": diag})
        ok = res and res["correct"] and not res["failed"]
        print(f"seed {seed}: rc={p.returncode} correct={bool(ok)} wall={time.time() - t0:.0f}s "
              f"steal={diag.get('host.steal_s', 0):.1f}s", flush=True)
    good = [r["result"]["metrics"] for r in runs if r["result"]]
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"spread-{a.workload}-{a.trace}.json"), "w") as f:
        json.dump(runs, f, indent=1)
    worst = 0.0
    for name in good[0] if good else []:
        vals = [m[name]["value"] for m in good]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) >= 2 else [med, med, med]
        rel = (q[2] - q[0]) / med if med else 0.0
        b = bounds.get(name)
        if b is not None and name != "setup_s":
            worst = max(worst, rel / b)
        print(f"{name:40s} median={med:<12.5g} iqr/median={rel:.3f}  bound={b}")
    ok = len(good) == len(runs) and all(m for m in good)
    print(f"worst spread / bound = {worst:.2f} ({'within' if worst <= 1 else 'OUTSIDE'} bounds)")
    return 0 if ok and worst <= 1 else 1


if __name__ == "__main__":
    sys.exit(main())
