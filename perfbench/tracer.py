"""Outside-in tracing for the benchmark's traced runs.

Everything here wraps the engine's public entry points from the outside;
no engine code is edited. Spans nest query -> phase (build / plan /
execute) -> Spark job -> stage. Wrapper spans around ``tables.load``, the
``TableLog`` public methods and the ``stream_ops`` public functions hang
under the phase that was open when they were called, and every streaming
micro-batch reported to a ``StreamingQueryListener`` becomes a span under
the phase whose window holds its start. Spans stay in memory and are
written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import os
import threading
import time
from collections import Counter
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

#: TableLog verbs by kind; any other public method counts as a read.
WRITE_VERBS = (
    "append", "append_manifest_sharded", "append_range_bucketed",
    "optimize", "compact_shards", "update_cow", "update_mor", "merge_mor",
    "write_checkpoint", "vacuum", "clone_to", "create_branch",
    "fast_forward", "restore",
)
COMMIT_VERBS = ("commit", "try_commit")

_MB = 1024.0 * 1024.0

#: Every per-layer metric a traced run reports, zero when a layer is idle.
LAYER_METRICS = (
    "session.start_s", "tables.load_calls", "tables.load_s",
    "plans.build_s", "plans.build_jobs", "plans.build_driver_s",
    "spark.plan_s", "spark.exec_s", "spark.exec_jobs", "spark.exec_driver_s",
    "spark.stages", "spark.task_s", "spark.task_wall_ratio",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "tablelog.commit_calls", "tablelog.commit_s", "tablelog.conflicts",
    "tablelog.write_verbs_s", "tablelog.read_verbs_s",
    "stream_ops.calls", "stream_ops.s",
    "streaming.queries", "streaming.micro_batches", "streaming.batch_s",
    "streaming.state_rows",
    "pyworker.cpu_s", "jvm.gc_s", "jvm.cpu_s", "jvm.wchar_mb",
)


def _now_ms() -> float:
    return time.time() * 1000.0


def proc_stat(pid: int) -> dict:
    """CPU seconds (own and reaped children) of one process."""
    tick = os.sysconf("SC_CLK_TCK")
    raw = Path(f"/proc/{pid}/stat").read_text()
    fields = raw[raw.rindex(")") + 2:].split()
    return {
        "cpu_s": (int(fields[11]) + int(fields[12])) / tick,
        "child_cpu_s": (int(fields[13]) + int(fields[14])) / tick,
    }


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid``."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            raw = Path(f"/proc/{entry}/stat").read_text()
        except OSError:
            continue
        ppid = int(raw[raw.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU of the PySpark Python workers: live Python descendants of the
    JVM (with the workers they reaped) plus the workers the JVM reaped."""
    total = proc_stat(jvm_pid)["child_cpu_s"]
    for pid in descendants(jvm_pid):
        try:
            st = proc_stat(pid)
        except OSError:
            continue
        total += st["cpu_s"] + st["child_cpu_s"]
    return total


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU of everything the run computes with: this process, the JVM and
    the Python workers."""
    own = os.times()
    return own.user + own.system + proc_stat(jvm_pid)["cpu_s"] + pyworker_cpu_s(jvm_pid)


def host_cpu_s() -> dict[str, float]:
    """This guest's CPU time since boot, summed over its CPUs: ``busy``
    (running anything) and ``steal`` (runnable, but the hypervisor ran
    another guest; 0 on bare metal)."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    f += [0] * (8 - len(f))
    tick = os.sysconf("SC_CLK_TCK")
    return {"busy": (f[0] + f[1] + f[2] + f[5] + f[6]) / tick, "steal": f[7] / tick}


def net_of_steal(wall_s: float, before: dict, after: dict) -> float:
    """``wall_s`` less the share of it the hypervisor stole: the guest's
    stolen CPU time over its busy plus stolen time in the same interval.
    On a host that steals nothing this is ``wall_s`` itself."""
    steal = after["steal"] - before["steal"]
    runnable = after["busy"] - before["busy"] + steal
    return wall_s * (1.0 - steal / runnable) if runnable > 0 else wall_s


def proc_io_wchar(pid: int) -> int:
    for line in Path(f"/proc/{pid}/io").read_text().splitlines():
        if line.startswith("wchar:"):
            return int(line.split()[1])
    return 0


class _BatchListener(StreamingQueryListener):
    """Records every micro-batch progress event as a span candidate."""

    def __init__(self, tracer: "Tracer") -> None:
        self.tracer = tracer

    def onQueryStarted(self, event) -> None:
        with self.tracer.lock:
            self.tracer.totals["streaming.queries"] += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        dur = dict(p.durationMs or {})
        state_rows = sum(int(s.numRowsTotal) for s in (p.stateOperators or []))
        with self.tracer.lock:
            self.tracer.batches.append({
                "run_id": str(p.runId),
                "batch": int(p.batchId),
                "timestamp": p.timestamp,
                "ms": float(dur.get("triggerExecution", 0)),
                "input_rows": int(p.numInputRows),
                "state_rows": state_rows,
            })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Spans and counters for one traced run."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.lock = threading.Lock()
        self.local = threading.local()
        self.ids = itertools.count(1)
        self.spans: list[dict] = []
        self.totals: Counter = Counter()
        self.batches: list[dict] = []
        self.phase: dict | None = None
        self.next_job = 0
        self._undo: list = []

    # -- spans ----------------------------------------------------------

    def open(self, name: str, parent: dict | None, **attrs) -> dict:
        span = {
            "id": next(self.ids),
            "parent": parent["id"] if parent else None,
            "name": name,
            "start_ms": _now_ms(),
            "end_ms": None,
            **attrs,
        }
        with self.lock:
            self.spans.append(span)
        return span

    @staticmethod
    def close(span: dict) -> None:
        span["end_ms"] = _now_ms()

    def begin_phase(self, query_span: dict, phase: str, group: str) -> dict:
        self.sc.setJobGroup(group, f"perfbench {phase}")
        self.phase = self.open(phase, query_span, group=group)
        return self.phase

    def end_phase(self) -> None:
        self.close(self.phase)
        self.phase = None
        self.sc.setJobGroup("perfbench:idle", "perfbench idle")

    # -- wrappers around the engine's public entry points ---------------

    def _wrap(self, owner, attr: str, layer: str, kind: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = tracer.local.__dict__.setdefault("stack", [])
            parent = stack[-1] if stack else tracer.phase
            outer = not any(s["layer"] == layer for s in stack)
            span = tracer.open(f"{layer}.{attr}", parent, layer=layer, kind=kind)
            stack.append(span)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            except Exception as exc:
                if type(exc).__name__ == "CommitConflict":
                    with tracer.lock:
                        tracer.totals["tablelog.conflicts"] += 1
                raise
            finally:
                dt = time.perf_counter() - t0
                stack.pop()
                tracer.close(span)
                tracer._account(layer, kind, dt, outer, stack)

        self._undo.append((owner, attr, inspect.getattr_static(owner, attr)))
        setattr(owner, attr, wrapper)

    def _account(self, layer, kind, dt, outer, stack) -> None:
        with self.lock:
            if layer == "tablelog":
                if kind == "commit":
                    if not any(s.get("kind") == "commit" for s in stack):
                        self.totals["tablelog.commit_calls"] += 1
                        self.totals["tablelog.commit_s"] += dt
                elif outer:
                    self.totals[f"tablelog.{kind}_verbs_s"] += dt
            elif outer:
                prefix = "tables.load_" if layer == "tables" else f"{layer}."
                self.totals[prefix + "calls"] += 1
                self.totals[prefix + "s"] += dt

    def install(self) -> None:
        from chess_ratings_spark import tables
        from chess_ratings_spark.operators.tablelog import TableLog
        from chess_ratings_spark.streaming import stream_ops

        self._wrap(tables, "load", "tables", "load")
        for attr, raw in vars(TableLog).items():
            if attr.startswith("_") or not inspect.isfunction(raw):
                continue
            kind = "commit" if attr in COMMIT_VERBS else (
                "write" if attr in WRITE_VERBS else "read")
            self._wrap(TableLog, attr, "tablelog", kind)
        for attr, raw in vars(stream_ops).items():
            if (attr.startswith("_") or not inspect.isfunction(raw)
                    or raw.__module__ != stream_ops.__name__):
                continue
            self._wrap(stream_ops, attr, "stream_ops", "call")
        self.listener = _BatchListener(self)
        self.spark.streams.addListener(self.listener)
        self.next_job = self._first_unseen_job()

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._undo):
            setattr(owner, attr, raw)
        self._undo.clear()
        self.spark.streams.removeListener(self.listener)

    # -- Spark status store ---------------------------------------------

    def _first_unseen_job(self) -> int:
        i = 0
        while self._job(i) is not None:
            i += 1
        return i

    def _job(self, job_id: int):
        try:
            return self.store.job(job_id)
        except Exception:  # py4j: NoSuchElementException for unknown ids
            return None

    @staticmethod
    def _opt_ms(opt) -> float | None:
        return float(opt.get().getTime()) if opt.isDefined() else None

    def harvest(self, phases: list[dict]) -> None:
        """Attach every job and stage the status store recorded since the
        last harvest to the phase that launched it: by the benchmark's
        job group when the job carries it, else by submission time."""
        try:
            self.bus.waitUntilEmpty(10_000)
        except Exception:
            pass
        by_group = {p["group"]: p for p in phases}
        misses = 0
        while misses < 3:
            job = self._job(self.next_job + misses)
            if job is None:
                misses += 1
                continue
            self.next_job += misses + 1
            misses = 0
            submit = self._opt_ms(job.submissionTime())
            done = self._opt_ms(job.completionTime()) or submit
            group = job.jobGroup().get() if job.jobGroup().isDefined() else None
            phase = by_group.get(group) or next(
                (p for p in phases if submit is not None
                 and p["start_ms"] <= submit <= (p["end_ms"] or submit)), None)
            if phase is None:
                continue
            jspan = {
                "id": next(self.ids), "parent": phase["id"],
                "name": f"job {job.jobId()}", "start_ms": submit, "end_ms": done,
                "status": str(job.status()),
            }
            self.spans.append(jspan)
            it = job.stageIds().iterator()
            while it.hasNext():
                self._harvest_stage(int(it.next()), jspan)

    def _harvest_stage(self, stage_id: int, jspan: dict) -> None:
        try:
            attempts = self.store.stageData(stage_id, False, None, False, None)
        except Exception:
            return
        it = attempts.iterator()
        while it.hasNext():
            st = it.next()
            status = str(st.status())
            if status not in ("COMPLETE", "FAILED"):
                continue
            self.spans.append({
                "id": next(self.ids), "parent": jspan["id"],
                "name": f"stage {stage_id}.{st.attemptId()}",
                "start_ms": self._opt_ms(st.submissionTime()),
                "end_ms": self._opt_ms(st.completionTime()),
                "status": status,
                "tasks": int(st.numTasks()),
                "task_ms": int(st.executorRunTime()),
                "shuffle_write_b": int(st.shuffleWriteBytes()),
                "shuffle_read_b": int(st.shuffleReadBytes()),
                "spill_b": int(st.diskBytesSpilled()),
            })

    def attach_batches(self, phases: list[dict]) -> None:
        """Turn listener progress events into micro-batch spans."""
        from datetime import datetime

        for b in self.batches:
            start = datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00"))
            start_ms = start.timestamp() * 1000.0
            phase = next((p for p in phases if p["start_ms"] - 1 <= start_ms
                          <= (p["end_ms"] or start_ms) + 1), None)
            self.spans.append({
                "id": next(self.ids), "parent": phase["id"] if phase else None,
                "name": f"batch {b['batch']}", "start_ms": start_ms,
                "end_ms": start_ms + b["ms"], "run_id": b["run_id"],
                "input_rows": b["input_rows"], "state_rows": b["state_rows"],
            })

    def write(self, path: Path) -> None:
        with path.open("w") as fh:
            for span in self.spans:
                fh.write(json.dumps(span) + "\n")


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(tracer: Tracer, queries: list[dict]) -> dict[str, float]:
    """Per-layer totals over the traced passes."""
    kids: dict[int, list[dict]] = {}
    for s in tracer.spans:
        kids.setdefault(s["parent"], []).append(s)
    out: Counter = Counter({name: 0 for name in LAYER_METRICS})
    for q in queries:
        for ph in kids.get(q["span"]["id"], []):
            jobs = [j for j in kids.get(ph["id"], []) if j["name"].startswith("job ")]
            wall = (ph["end_ms"] - ph["start_ms"]) / 1000.0
            busy = union_ms([(j["start_ms"], j["end_ms"]) for j in jobs],
                            ph["start_ms"], ph["end_ms"]) / 1000.0
            name = ph["name"]
            pre = "plans.build" if name == "build" else "spark.exec"
            if name == "plan":
                out["spark.plan_s"] += wall
            else:
                out[f"{pre}_s"] += wall
                out[f"{pre}_jobs"] += len(jobs)
                out[f"{pre}_driver_s"] += wall - busy
            for j in jobs:
                for st in kids.get(j["id"], []):
                    if not st["name"].startswith("stage "):
                        continue
                    out["spark.stages"] += 1
                    out["spark.task_s"] += st["task_ms"] / 1000.0
                    out["spark.shuffle_write_mb"] += st["shuffle_write_b"] / _MB
                    out["spark.shuffle_read_mb"] += st["shuffle_read_b"] / _MB
                    out["spark.spill_mb"] += st["spill_b"] / _MB
    walls = sum(q["wall_s"] for q in queries)
    out["spark.task_wall_ratio"] = out["spark.task_s"] / walls if walls else 0.0
    out.update(tracer.totals)
    batches = [s for s in tracer.spans if s["name"].startswith("batch ")]
    out["streaming.micro_batches"] = len(batches)
    out["streaming.batch_s"] = sum(b["end_ms"] - b["start_ms"] for b in batches) / 1000.0
    peak: dict[str, int] = {}
    for b in batches:
        peak[b["run_id"]] = max(peak.get(b["run_id"], 0), b["state_rows"])
    out["streaming.state_rows"] = sum(peak.values())
    return dict(out)
