"""Benchmark entry point: one run of one workload, one JSON line out.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates the run's fixtures from
``--seed``, starts ``worker.py`` in a fresh process with its own temp
and Spark local dirs, measures what the run leaves behind in them, and
prints as the last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The full
run record (host state, per-query phases, layer totals) is kept under
``.perfbench/records/``; spans of traced runs go beside it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
TIMEOUT_S = 160.0
DRIVER_MEM = "1g"
MB = 1024.0 * 1024.0

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_gmean_s": "s",
    "jvm_live_heap_mb": "MB",
}


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it, as
    ``(value, percentile, n)``; with 10 samples or fewer, the maximum."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 11 if n >= 11 else n - 1
    return xs[k], 100.0 * (k + 1) / n, n


def host_state() -> dict:
    meminfo = {}
    for line in Path("/proc/meminfo").read_text().splitlines():
        key, _, rest = line.partition(":")
        if key in ("Dirty", "Writeback"):
            meminfo[key + "_kb"] = int(rest.split()[0])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": Path("/proc/loadavg").read_text().split()[:3],
        **meminfo,
        "commit": source_id(),
    }


def source_id() -> str:
    """The git commit when there is one, else a digest of the engine
    sources (a benchmark checkout is not a git repository)."""
    if (ROOT / ".git").exists():
        got = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, check=False)
        if got.returncode == 0:
            return got.stdout.strip()
    h = hashlib.sha256()
    for p in sorted((ROOT / "chess_ratings_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return "src-" + h.hexdigest()[:16]


def dir_bytes(path: Path) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def group_alive(pgid: int) -> bool:
    """Whether any process of group ``pgid`` is still running (zombies
    left to an init that does not reap them do not count)."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            raw = Path(f"/proc/{entry}/stat").read_text()
        except OSError:
            continue
        state, _, pgrp = raw[raw.rindex(")") + 2:].split()[:3]
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def kill_group(proc: subprocess.Popen) -> None:
    """Stop every process the run started and wait until each has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 5.0
    while group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.05)


def query_medians(passes: list[dict]) -> list[float]:
    """Each mix query's median latency over ``passes``."""
    by_query: dict[str, list[float]] = {}
    for p in passes:
        for q in p["queries"]:
            if q["ok"]:
                by_query.setdefault(q["query"], []).append(q["net_s"])
    return [statistics.median(v) for v in by_query.values()]


def summarize(rec: dict, disk_left_b: int) -> dict:
    """End-to-end metrics of one run. Times are net of hypervisor steal
    (``tracer.net_of_steal``); the raw walls stay in the record."""
    passes = rec["passes"]
    execs = [q for p in passes for q in p["queries"]]
    raised = sum(1 for q in execs if not q["ok"])
    failed = raised + len(rec["oracle_mismatches"])
    nets = [q["net_s"] for q in execs if q["ok"]]
    tail_v, tail_p, tail_n = tail(nets)
    e2e = {
        "setup_s": rec["setup"]["setup_net_s"],
        "cold_pass_s": sum(q["net_s"] for q in passes[0]["queries"]),
        # A hiccup in one pass moves a per-query median little.
        "warm_pass_s": sum(query_medians(passes[1:])),
        # Every query weighs the same, whatever its latency: a pooled
        # median of a few-query mix jumps between queries.
        "query_gmean_s": statistics.geometric_mean(query_medians(passes)),
        "jvm_live_heap_mb": rec["jvm_live_heap_mb"],
    }
    return {
        "attempted": len(execs),
        "failed": failed,
        "failed_frac": failed / len(execs),
        "disk_left_mb": disk_left_b / MB,
        "jvm_peak_rss_mb": rec["jvm_peak_rss_mb"],
        "query_p50_s": statistics.median(nets),
        "query_tail_s": tail_v,
        "query_tail_pct": tail_p,
        "query_tail_n": tail_n,
        "raw_setup_s": rec["setup"]["setup_s"],
        "raw_cold_pass_s": passes[0]["wall_s"],
        "end_to_end": e2e,
    }


def main() -> int:
    sys.path.insert(0, str(HERE.parent))
    from perfbench import gen
    from perfbench.tracer import host_cpu_s
    from perfbench.workloads import MIXES

    ap = argparse.ArgumentParser(description="one benchmark run")
    ap.add_argument("--workload", required=True, choices=sorted(MIXES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "chess_ratings_spark" / "registry.py").is_file():
        print("perfbench: run from the repository root (engine not found)", file=sys.stderr)
        return 2

    t_start = time.time()
    state = ROOT / ".perfbench"
    run_dir = state / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    records = state / "records"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local, fx = run_dir / "tmp", run_dir / "local", run_dir / "fixtures"
    for d in (tmp, local, records):
        d.mkdir(parents=True, exist_ok=True)
    gen.write(fx, args.seed)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t_start)}"
    out = run_dir / "record.json"

    os.sync()
    host = host_state()
    env = dict(os.environ)
    nproc = str(host["nproc"])
    env.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(local),
        SPARK_GRAFT_CPUS=nproc,
        SPARK_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        # Keep the JVMs' temp files (and no perf-data files) inside the run,
        # and fix the heap size so heap resizing does not vary run to run.
        PYSPARK_SUBMIT_ARGS="--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}")
        + " pyspark-shell",
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONUNBUFFERED="1",
        PERFBENCH_HOST_CPU0=json.dumps(host_cpu_s()),
        PERFBENCH_T0=repr(time.time()),
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--fixtures", str(fx), "--out", str(out),
        "--spans", str(records / f"{stem}.spans.jsonl"),
    ]
    steal0 = host_cpu_s()["steal"]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, TIMEOUT_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        code = None
    kill_group(proc)
    host["cpu_steal_s"] = host_cpu_s()["steal"] - steal0
    disk_left_b = dir_bytes(tmp) + dir_bytes(local)
    rec = json.loads(out.read_text()) if code == 0 and out.is_file() else None
    shutil.rmtree(run_dir, ignore_errors=True)
    if rec is None:
        print(f"perfbench: worker exited with {code}", file=sys.stderr)
        return 1

    summ = summarize(rec, disk_left_b)
    if args.trace:
        layers = dict(rec["layers"])
        layers["trace.cold_pass_s"] = summ["end_to_end"]["cold_pass_s"]
        layers["run.disk_left_mb"] = summ["disk_left_mb"]
        layers["run.failed_frac"] = summ["failed_frac"]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in summ["end_to_end"].items()}
    (records / f"{stem}.json").write_text(
        json.dumps({"host": host, "summary": summ, "record": rec}, indent=1))
    print(json.dumps({
        "correct": summ["failed"] == 0,
        "attempted": summ["attempted"],
        "failed": summ["failed"],
        "metrics": metrics,
    }))
    return 0


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_frac")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
