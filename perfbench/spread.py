"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload bulk_crawl --seeds 1-10

Runs the benchmark once per seed (untraced, ``run_seconds`` from
BENCHMARK.json), then prints per metric the median and the quartile spread
(Q3 - Q1) / median next to the metric's bound, for the headline values (at
the reference machine speed) and for the values as measured (from each
run's sidecar). Each run's headline goes to .perfbench/spread/<workload>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
    sys.path[0] = ROOT

from perfbench.stats import median, quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out_dir = os.path.join(ROOT, ".perfbench", "spread")
    os.makedirs(out_dir, exist_ok=True)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    measured: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    ok = True
    with open(os.path.join(out_dir, f"{args.workload}.jsonl"), "a") as log:
        for seed in seeds(args.seeds):
            t0 = time.time()
            proc = subprocess.run(
                [*bench["command"], "--workload", args.workload, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=180,
            )
            took = time.time() - t0
            lines = proc.stdout.strip().splitlines()
            head = json.loads(lines[-1])
            side = next(line.split(": ", 1)[1] for line in lines if line.startswith("sidecar: "))
            with open(os.path.join(ROOT, side)) as f:
                raw = json.load(f)["measured_metrics"]
            log.write(json.dumps({"seed": seed, "took_s": took, **head}) + "\n")
            ok = ok and proc.returncode == 0 and head["correct"]
            for name in values:
                values[name].append(head["metrics"][name]["value"])
                measured[name].append(raw[name]["value"])
            print(f"seed {seed}: {took:.1f}s correct={head['correct']} "
                  + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        spread = quartile_spread(v)
        print(f"{m['name']}: median={median(v):.5g} spread={spread:.4f} bound={m['bound']} "
              f"third={'ok' if spread < m['bound'] / 3 else 'OVER'} | as measured: "
              f"median={median(measured[m['name']]):.5g} spread={quartile_spread(measured[m['name']]):.4f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
