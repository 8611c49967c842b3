"""Run the benchmark several times per workload, each with its own seed, and
report every end-to-end metric's median and quartile spread.

    python3 perfbench/stability.py --runs 10 --seconds 20 --out stability.json

The spread is the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median; the bounds
in ``BENCHMARK.json`` are set from it. Runs are sequential and each is
waited for.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench.stats import quartile_spread  # noqa: E402

WORKLOADS = ("pack_etl", "nested_query", "dedup_pipeline")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", nargs="+", default=list(WORKLOADS), choices=WORKLOADS)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    record = {"runs": args.runs, "seconds": args.seconds, "workloads": {}}
    for wl in args.workloads:
        runs = []
        for k in range(args.runs):
            seed = args.seed0 + k
            t = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", wl, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", "0"],
                cwd=HERE.parent, capture_output=True, text=True, timeout=600,
            )
            wall = time.perf_counter() - t
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(proc.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"{wl} seed {seed} exited {proc.returncode}")
            result = json.loads(lines[-1])
            runs.append({"seed": seed, "wall_s": wall, "result": result, "log": lines[:-1]})
            vals = {m: round(v["value"], 4) for m, v in result["metrics"].items()}
            print(f"{wl} seed {seed}: wall {wall:.1f} s, correct {result['correct']}, {vals}",
                  flush=True)
        summary = {}
        for m in runs[0]["result"]["metrics"]:
            values = [r["result"]["metrics"][m]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(values, n=4)
            summary[m] = {"median": med, "q1": q1, "q3": q3,
                          "spread": quartile_spread(values), "values": values}
            print(f"  {m:12s} median {med:12.4f}  spread {summary[m]['spread']:.4f}")
        record["workloads"][wl] = {
            "summary": summary,
            "max_wall_s": max(r["wall_s"] for r in runs),
            "mean_wall_s": statistics.mean(r["wall_s"] for r in runs),
            "runs": runs,
        }
        Path(args.out).write_text(json.dumps(record, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
