"""One benchmark run inside a fresh process (started by ``run.py``).

Set-up (session, one read of each fixture, engine-generic warm-ups),
then pass 1 over the workload's mix in a fresh JVM, then further passes
until there are ``MIN_PASSES`` and the measuring window is used up, then
the oracle check outside the timed window, on the results of pass 1 and
of the last pass. Writes one JSON record to ``--out``.

Each query runs in three phases: build (``Query.fn``), plan
(``executedPlan``) and execute (a ``noop`` write). A traced run runs
exactly two passes and adds the spans of ``tracer.py``.
"""

from __future__ import annotations

import argparse
import datetime as _dt
import decimal
import json
import math
import os
import sys
import tempfile
import time
import traceback
from collections import Counter
from pathlib import Path

T_PROC0 = float(os.environ.get("PERFBENCH_T0", time.time()))

#: An untraced run makes at least this many passes (pass 1 cold, then
#: warm ones), and more while the measuring window is not used up.
MIN_PASSES = 4

import chess_ratings_spark.plans  # noqa: E402,F401  (populates the registry)
from chess_ratings_spark import tables  # noqa: E402
from chess_ratings_spark.registry import REGISTRY  # noqa: E402
from chess_ratings_spark.session import get_spark  # noqa: E402

from perfbench import tracer as tr  # noqa: E402
from perfbench.workloads import MIXES, STREAMING, pass_order  # noqa: E402

#: Guest CPU counters when ``run.py`` started this process.
HOST_CPU0 = json.loads(os.environ.get("PERFBENCH_HOST_CPU0", "null")) or tr.host_cpu_s()


def warm_streaming(spark) -> None:
    """The first availableNow streaming query in a JVM pays seconds of
    class loading and state-store start-up that would otherwise land on
    whichever streaming query of the mix runs first."""
    src = tempfile.mkdtemp(prefix="perfbench_warm_")
    spark.range(1).write.mode("overwrite").parquet(src + "/in")
    (
        spark.readStream.schema("id long").parquet(src + "/in")
        .groupBy("id").count()
        .writeStream.outputMode("complete").format("noop")
        .trigger(availableNow=True).start().awaitTermination()
    )


# -- oracle check (the multiset rule of scripts/driver_sim.py) -------------


def _norm(v):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _multiset(cols: list[str], rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda j: cols[j])
    return Counter(tuple(_norm(r[j]) for j in order) for r in rows)


def oracle_mismatch(con, name: str, df) -> str | None:
    """None when ``df`` equals the query's DuckDB oracle as a multiset."""
    cur = con.execute(REGISTRY[name].oracle)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    if sorted(df.columns) != sorted(o_cols):
        return f"columns {sorted(df.columns)} != {sorted(o_cols)}"
    if _multiset(df.columns, df.collect()) != _multiset(o_cols, o_rows):
        return "values differ from the oracle"
    return None


# -- process probes ---------------------------------------------------------


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def live_heap_mb(spark) -> float:
    """Heap still in use after a full collection: what the run retains."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0)


def host_counters(spark, pid: int) -> dict:
    st = tr.proc_stat(pid)
    return {
        "jvm_cpu_s": st["cpu_s"],
        "pyworker_cpu_s": tr.pyworker_cpu_s(pid),
        "gc_s": gc_s(spark),
        "wchar_b": tr.proc_io_wchar(pid),
    }


# -- the run ------------------------------------------------------------------


def run_query(spark, name: str, fx: str, tracer, tag: str):
    """Build, plan and execute one query; returns (record, DataFrame)."""
    q = REGISTRY[name]
    rec = {"query": name}
    phases: list[dict] = []
    qspan = tracer.open("query", None, query=name) if tracer else None
    host0 = tr.host_cpu_s()
    t0 = time.perf_counter()
    try:
        if tracer:
            phases.append(tracer.begin_phase(qspan, "build", f"pb:{tag}:build"))
        df = q.fn(spark, fx)
        t1 = time.perf_counter()
        if tracer:
            tracer.end_phase()
            phases.append(tracer.begin_phase(qspan, "plan", f"pb:{tag}:plan"))
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        if tracer:
            tracer.end_phase()
            phases.append(tracer.begin_phase(qspan, "execute", f"pb:{tag}:execute"))
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        rec.update(build_s=t1 - t0, plan_s=t2 - t1, execute_s=t3 - t2, wall_s=t3 - t0, ok=True)
    except Exception as exc:
        df = None
        rec.update(wall_s=time.perf_counter() - t0, ok=False, error=repr(exc)[:500])
        print(f"# perfbench: {name} failed: {traceback.format_exc(limit=3)}", file=sys.stderr)
    finally:
        rec["net_s"] = tr.net_of_steal(rec["wall_s"], host0, tr.host_cpu_s())
        if tracer:
            if tracer.phase is not None:
                tracer.end_phase()
            tracer.close(qspan)
    if tracer:
        tracer.harvest(phases)
        rec["span"] = qspan
        rec["phases"] = phases
    return rec, df


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(MIXES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--fixtures", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()
    fx = args.fixtures

    t_import = time.time()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.time()
    pid = jvm_pid(spark)
    tracer = tr.Tracer(spark) if args.trace else None
    if tracer:
        tracer.install()
    for t in tables.TABLES:
        tables.load(spark, fx, t).count()
    if args.workload in STREAMING:
        warm_streaming(spark)
    t_ready = time.time()
    setup = {
        "setup_s": t_ready - T_PROC0,
        "setup_net_s": tr.net_of_steal(t_ready - T_PROC0, HOST_CPU0, tr.host_cpu_s()),
        "import_s": t_import - T_PROC0,
        "session_start_s": t_session - T_PROC0,
        "loads_warmups_s": t_ready - t_session,
    }

    c0 = host_counters(spark, pid)
    passes: list[dict] = []
    # The frames the queries returned in pass 1 and in the latest pass,
    # checked against the oracle once the window is over.
    first: dict = {}
    last: dict = {}
    w0 = time.perf_counter()
    pass_no = 0
    while True:
        pass_no += 1
        order = pass_order(args.workload, args.seed, pass_no)
        cpu0, host0 = tr.tree_cpu_s(pid), tr.host_cpu_s()
        p0 = time.perf_counter()
        recs = []
        frames = {}
        for i, name in enumerate(order):
            rec, df = run_query(spark, name, fx, tracer, tag=f"{pass_no}.{i}")
            recs.append(rec)
            if df is not None:
                frames[name] = df
        wall = time.perf_counter() - p0
        if pass_no == 1:
            first = frames
        else:
            last = frames
        host1 = tr.host_cpu_s()
        passes.append({
            "pass": pass_no,
            "wall_s": wall,
            "cpu_s": tr.tree_cpu_s(pid) - cpu0,
            "host_busy_s": host1["busy"] - host0["busy"],
            "steal_s": host1["steal"] - host0["steal"],
            "queries": recs,
        })
        elapsed = time.perf_counter() - w0
        if args.trace and pass_no == 2:
            break
        if not args.trace and pass_no >= MIN_PASSES and elapsed >= args.seconds:
            break
    window_s = time.perf_counter() - w0
    c1 = host_counters(spark, pid)
    peak_rss_mb = vm_hwm_mb(pid)
    heap_mb = live_heap_mb(spark)

    import duckdb

    con = duckdb.connect()
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables.path_of(fx, t)}')")
    mismatches: dict[str, str] = {}
    checked = 0
    for pass_no, frames in ((1, first), (len(passes), last)):
        for name, df in frames.items():
            checked += 1
            try:
                why = oracle_mismatch(con, name, df)
            except Exception as exc:
                why = f"oracle check raised {exc!r}"[:500]
            if why:
                mismatches[f"{pass_no}:{name}"] = why
    con.close()

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "setup": setup,
        "window_s": window_s,
        "passes": [
            {**p, "queries": [{k: v for k, v in q.items() if k not in ("span", "phases")}
                              for q in p["queries"]]}
            for p in passes
        ],
        "oracle_checked": checked,
        "oracle_mismatches": mismatches,
        "jvm_peak_rss_mb": peak_rss_mb,
        "jvm_live_heap_mb": heap_mb,
        "counters": {k: c1[k] - c0[k] for k in c0},
    }
    if tracer:
        tracer.attach_batches([ph for p in passes for q in p["queries"] for ph in q.get("phases", [])])
        flat = [q for p in passes for q in p["queries"] if "span" in q]
        layers = tr.layer_metrics(tracer, flat)
        layers["session.start_s"] = setup["session_start_s"]
        layers["pyworker.cpu_s"] = record["counters"]["pyworker_cpu_s"]
        layers["jvm.cpu_s"] = record["counters"]["jvm_cpu_s"]
        layers["jvm.gc_s"] = record["counters"]["gc_s"]
        layers["jvm.wchar_mb"] = record["counters"]["wchar_b"] / (1024.0 * 1024.0)
        layers["jvm.peak_rss_mb"] = peak_rss_mb
        record["layers"] = layers
        # Each query's build + plan + execute spans, net of steal as its
        # wall is, for selftest.py to set against untraced runs.
        record["phase_sums"] = {
            f"{p['pass']}:{q['query']}":
                sum(ph["end_ms"] - ph["start_ms"] for ph in q["phases"]) / 1000.0
                * q["net_s"] / q["wall_s"]
            for p in passes for q in p["queries"] if q["ok"]
        }
        record["phase_jobs"] = {
            f"{p['pass']}:{q['query']}": {
                ph["name"]: sum(1 for s in tracer.spans
                                if s["parent"] == ph["id"] and s["name"].startswith("job "))
                for ph in q["phases"]
            }
            for p in passes for q in p["queries"] if "phases" in q
        }
        tracer.uninstall()
        tracer.write(Path(args.spans))
    spark.stop()
    Path(args.out).write_text(json.dumps(record, indent=1))


if __name__ == "__main__":
    main()
