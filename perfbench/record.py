"""Run the benchmark over several seeds and record the spread per metric.

    python3 perfbench/record.py --seeds 1-10 --out perfbench/results/set_a.json

Runs ``run.py --trace 0`` once per (workload in ``BENCHMARK.json``, seed), and
writes every run's JSON plus, per workload and metric, the median, the
quartiles (``statistics.quantiles(n=4)``) and the spread: the interquartile
distance as a share of the median, the rule ``BENCHMARK.json`` bounds are
checked against.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    runs: dict[str, list[dict]] = {w: [] for w in names}
    for w in names:
        for s in seeds(args.seeds):
            cmd = [*spec["command"], "--workload", w, "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                   "--trace", "0"]
            t0 = time.monotonic()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.monotonic() - t0
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            runs[w].append({"seed": s, "rc": p.returncode, "wall_s": wall, "result": res})
            print(f"{w} seed={s} rc={p.returncode} wall={wall:.1f}s "
                  f"{json.dumps(res['metrics']) if res else p.stderr[-300:]}", flush=True)
    out = {"runs": runs, "summary": {}}
    for w, rs in runs.items():
        ok = [r["result"] for r in rs if r["result"] and r["result"]["correct"]]
        if len(ok) < 2:
            continue
        out["summary"][w] = {
            "correct_runs": len(ok),
            "runs": len(rs),
            **{m: stats.spread([r["metrics"][m]["value"] for r in ok]) for m in ok[0]["metrics"]},
        }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out["summary"], indent=1))
    return 0 if all(r["rc"] == 0 for rs in runs.values() for r in rs) else 1


if __name__ == "__main__":
    sys.exit(main())
