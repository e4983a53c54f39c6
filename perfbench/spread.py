"""Run the benchmark on several seeds and report each end-to-end
metric's median and quartile spread against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload routes --seeds 1 2 3 4 5

Run from the repository root. Prints one line per run, then per metric
the median, the quartiles (``statistics.quantiles(values, n=4)``) and
the spread (third minus first quartile, as a share of the median).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0",
        ]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={out['correct']} attempted={out['attempted']} "
              f"failed={out['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()), flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread = (q3 - q1) / med
        print(f"{m['name']:<14} median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
              f"spread {spread:.3f} (bound {m['bound']}, {spread / m['bound']:.2f} of it)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
