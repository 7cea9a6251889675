"""Run one workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload cdc_fs --seeds 1-10 [--out FILE]

For every end-to-end metric: the median of the runs and the distance
between the first and third quartiles (``statistics.quantiles(n=4)``) as
a share of the median. Each run's full record is kept in the output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for seed in seeds(args.seeds):
        t = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, timeout=600, check=False,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            sys.stderr.write(p.stderr[-4000:])
            raise SystemExit(f"seed {seed}: exit {p.returncode}")
        result, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
        runs.append({"seed": seed, "wall_s": time.perf_counter() - t,
                     "result": result, "record": record})
        print(seed, f"{runs[-1]['wall_s']:.1f}s", json.dumps(
            {k: round(v["value"], 4) for k, v in result["metrics"].items()}), flush=True)
    summary = {}
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        summary[name] = {"median": med, "iqr_share": (q[2] - q[0]) / med if med else None}
    out = {"workload": args.workload, "seeds": args.seeds, "summary": summary,
           "all_correct": all(r["result"]["correct"] for r in runs),
           "mean_wall_s": statistics.mean(r["wall_s"] for r in runs), "runs": runs}
    print(json.dumps({k: out[k] for k in ("workload", "summary", "all_correct", "mean_wall_s")}))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
