"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads batch,lake,stream --seeds 1-10 [--save perfbench/baseline.json]

For every workload and metric it prints the median, the quartiles and
the interquartile range as a share of the median, as
``statistics.quantiles(values, n=4)`` gives them, and checks each
end-to-end spread against the bound in ``BENCHMARK.json``; it exits 1
when one is over its bound. Results are also written to
``.perfbench/spread-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()


def seeds_of(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    got = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
    wall = time.time() - t0
    if got.returncode != 0:
        sys.stderr.write(got.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {got.returncode}")
    line = json.loads(got.stdout.strip().splitlines()[-1])
    line["run_wall_s"] = wall
    return line


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--save", type=Path, default=None,
                    help="also write the per-metric summary here (e.g. perfbench/baseline.json)")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {}
    over: list[str] = []
    for w in args.workloads.split(","):
        runs = []
        for seed in seeds_of(args.seeds):
            r = one_run(w, seed, bench["run_seconds"])
            runs.append(r)
            print(f"{w} seed {seed}: {r['run_wall_s']:.1f}s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']}", flush=True)
        rep = {"runs": runs, "metrics": {}}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else 0.0
            rep["metrics"][name] = {"median": med, "q1": q1, "q3": q3, "spread": spread}
            flag = ""
            if name in bounds:
                flag = "ok" if spread <= bounds[name] / 3 else (
                    "WITHIN BOUND" if spread <= bounds[name] else "OVER BOUND")
                if spread > bounds[name]:
                    over.append(f"{w}:{name}")
            print(f"  {name:28s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {spread:6.3f} {flag}", flush=True)
        walls = [r["run_wall_s"] for r in runs]
        print(f"  run wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s", flush=True)
        rep["run_wall_s"] = {"median": statistics.median(walls), "max": max(walls)}
        report[w] = rep
    out = ROOT / ".perfbench" / f"spread-{int(time.time())}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(report, indent=1))
    if args.save:
        summary = {
            "seeds": args.seeds,
            "run_seconds": bench["run_seconds"],
            "workloads": {w: {"metrics": rep["metrics"], "run_wall_s": rep["run_wall_s"]}
                          for w, rep in report.items()},
        }
        args.save.write_text(json.dumps(summary, indent=1, sort_keys=True) + "\n")
    if over:
        print(f"over bound: {', '.join(over)}", flush=True)
        sys.exit(1)


if __name__ == "__main__":
    main()
