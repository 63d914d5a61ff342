"""Benchmark self-tests on traced runs.

    python3 perfbench/selftest.py --workloads batch,lake,stream --seed 1

For each workload it makes three untraced and two traced runs at the
same seed, alternating (untraced, traced, untraced, traced, untraced)
so that a drift in host speed reaches both sides alike, and checks:

- phase reconciliation: each query's build + plan + execute spans in the
  traced runs (median of the two) against the same query's latency on
  the untraced path in the same pass (median over the untraced runs,
  which run the passes in the same order). The gap is reported as a
  share of the untraced latency and should stay within 5%. Since the two
  sides come from different processes, the gap holds tracing overhead,
  a layer the spans miss, and run-to-run noise;
- tracing overhead: traced against untraced ``cold_pass_s`` (medians);
- job-count repeatability: the Spark job count of every (pass, query,
  phase) is the same in both traced runs. A count that differs is not
  usable as evidence of a change.

It prints one line per workload and writes the verdicts to
``perfbench/evidence.json``. It exits 1 when a workload does not
reconcile.
"""

from __future__ import annotations

import argparse
import glob
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
RECONCILE_TOLERANCE = 0.05
#: Whether each run of a workload is traced, in the order they are made.
RUN_ORDER = (0, 1, 0, 1, 0)


def run_record(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    got = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
    if got.returncode != 0:
        sys.stderr.write(got.stderr[-3000:])
        raise SystemExit(f"{workload}: run with --trace {trace} exited {got.returncode}")
    pattern = f"{workload}-seed{seed}-trace{trace}-*.json"
    newest = max(glob.glob(str(ROOT / ".perfbench" / "records" / pattern)))
    return json.loads(Path(newest).read_text())


def untraced_latencies(runs: list[dict]) -> dict[str, float]:
    """``"pass:query"`` -> median net latency over ``runs``."""
    samples: dict[str, list[float]] = {}
    for r in runs:
        for p in r["record"]["passes"]:
            for q in p["queries"]:
                if q["ok"]:
                    samples.setdefault(f"{p['pass']}:{q['query']}", []).append(q["net_s"])
    return {k: statistics.median(v) for k, v in samples.items()}


def cold_pass(runs: list[dict]) -> float:
    return statistics.median(r["summary"]["end_to_end"]["cold_pass_s"] for r in runs)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    evidence: dict = {}
    ok = True
    for w in args.workloads.split(","):
        runs = [(t, run_record(w, args.seed, seconds, t)) for t in RUN_ORDER]
        plain = [r for t, r in runs if not t]
        a, b = (r for t, r in runs if t)
        ref = untraced_latencies(plain)
        sa, sb = a["record"]["phase_sums"], b["record"]["phase_sums"]
        gaps = {
            k: (statistics.median([sa[k], sb[k]]) - ref[k]) / ref[k]
            for k in sorted(sa.keys() & sb.keys() & ref.keys())
        }
        worst = max(abs(g) for g in gaps.values())
        traced_cold, plain_cold = cold_pass([a, b]), cold_pass(plain)
        ja, jb = a["record"]["phase_jobs"], b["record"]["phase_jobs"]
        unstable = sorted(
            f"{key}:{phase}"
            for key in ja.keys() | jb.keys()
            for phase in ja.get(key, {}).keys() | jb.get(key, {}).keys()
            if ja.get(key, {}).get(phase) != jb.get(key, {}).get(phase)
        )
        stable = sorted(
            f"{key}:{phase}" for key in ja for phase in ja[key]
            if f"{key}:{phase}" not in unstable
        )
        evidence[w] = {
            "seed": args.seed,
            "run_order": ["traced" if t else "untraced" for t in RUN_ORDER],
            "reconcile_gaps": gaps,
            "reconcile_gap_max": worst,
            "reconcile_gap_median": statistics.median(abs(g) for g in gaps.values()),
            "reconciles": worst <= RECONCILE_TOLERANCE,
            "cold_pass_s": {"traced": traced_cold, "untraced": plain_cold},
            "tracing_overhead": (traced_cold - plain_cold) / plain_cold,
            "job_counts": {k: ja[k] for k in sorted(ja)},
            "job_counts_repeat": stable,
            "job_counts_not_evidence": unstable,
        }
        ok &= worst <= RECONCILE_TOLERANCE
        print(f"{w}: reconcile gap max {worst:.4f} median "
              f"{evidence[w]['reconcile_gap_median']:.4f} "
              f"({'ok' if worst <= RECONCILE_TOLERANCE else 'OVER 5%'}); "
              f"tracing overhead {evidence[w]['tracing_overhead']:+.3f} of cold_pass_s; "
              f"{len(stable)} job counts repeat, {len(unstable)} do not: {unstable}",
              flush=True)
    (ROOT / "perfbench" / "evidence.json").write_text(json.dumps(evidence, indent=1) + "\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
