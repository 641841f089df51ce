#!/usr/bin/env python3
"""Run the benchmark several times per workload, one seed per run, and
report each end-to-end metric's median and interquartile spread (as a
share of the median) against the bounds in BENCHMARK.json.

    python3 perfbench/spread.py [--workloads a,b] [--seeds 1-10] [--seconds S]

Run from the root of a checkout. Runs are sequential (one Spark JVM at a
time). Each run's last stdout line is appended to
``.perfbench_out/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from stats import percentile, spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = ROOT / ".perfbench_out" / "spread.jsonl"
    log.parent.mkdir(exist_ok=True)
    ok = True
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        walls = []
        for seed in _seeds(args.seeds):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [*bench["command"], "--workload", wl, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            walls.append(time.perf_counter() - t0)
            if proc.returncode != 0:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                ok = False
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": wl, "seed": seed, "wall_s": walls[-1], **res}) + "\n")
            if not res["correct"]:
                ok = False
                print(f"{wl} seed {seed}: incorrect ({res['failed']}/{res['attempted']} failed)")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"== {wl}: {len(walls)} runs, wall median {percentile(walls, 50):.1f} s, "
              f"max {max(walls):.1f} s")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            sp = spread(vs)
            bound = bounds.get(k)
            flag = "" if bound is None or k == "setup_s" or sp < bound / 3 else "  <-- above bound/3"
            print(f"  {k:16s} median {percentile(vs, 50):12.4f}  spread {sp:6.3f}"
                  f"  bound {bound}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
