"""Steadiness self-check: run each workload with several seeds and print
every metric's median, quartiles and spread.

    python3 perfbench/selfcheck.py                      # 10 seeds, all workloads
    python3 perfbench/selfcheck.py --workloads cc_scan --seeds 5

The spread of a metric is (Q3 - Q1) / median over the runs, with the
quartiles of ``statistics.quantiles(values, n=4)``.  A metric passes when
its spread is below a third of its bound in BENCHMARK.json; ``setup_s``
is reported but not held to that.  Exits 1 if a run fails or a spread is
too wide.  Runs are sequential: they must not share the machine.
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


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, Q1, Q3, (Q3 - Q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def run_once(cmd: list[str], workload: str, seed: int,
             seconds: int) -> tuple[dict, float]:
    """(result object, wall seconds) of one run."""
    t = time.perf_counter()
    p = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1]), time.perf_counter() - t


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(
        w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for wl in args.workloads.split(","):
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            r, wall = run_once(bench["command"], wl, seed,
                               bench["run_seconds"])
            ok &= r["correct"]
            runs.append(r["metrics"])
            print(f"{wl} seed {seed} ({wall:.0f} s): " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                flush=True)
        for name, bound in bounds.items():
            med, q1, q3, s = spread([m[name]["value"] for m in runs])
            steady = s <= bound / 3 or name == "setup_s"
            ok &= steady
            print(f"  {wl:16s} {name:18s} median {med:12.4f}  "
                  f"IQR [{q1:.4f}, {q3:.4f}]  spread {s:6.2%}  "
                  f"bound {bound:.0%}  {'ok' if steady else 'WIDE'}",
                  flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
