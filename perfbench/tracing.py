"""Outside-in tracing for one benchmark run.

Every number here is taken from the engine's public surface: wrappers
installed on ``engine.session``'s public functions, the Spark status
store, a streaming query listener, and ``/proc``. No engine file changes.

Spans: run -> pass -> key -> {build, plan, exec} -> Spark job -> stage,
with streaming micro-batches under the key that ran them. They stay in
memory and are written as JSON, with each span's self time, when the
run ends. Jobs are attributed to build or exec by submission time, not
job group: engine thread pools do not propagate local properties, and
only one key runs at a time, so the time window is exact.
"""

from __future__ import annotations

import datetime
import functools
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: the session layer's public functions (engine/session.py)
SESSION_FUNCS = (
    "load_table",
    "load_events",
    "T",
    "tune",
    "parallelize_scan",
    "scratch_cache",
    "drain_scratch_caches",
    "scan_units",
    "table_rows",
    "scratch_dir",
)

#: metrics reported even when no traced key produced them (e.g. no
#: streaming batch on olap_tpch), so every run prints every metric
ZERO_METRICS = (
    "streaming.batches", "streaming.add_batch_s", "streaming.wal_commit_s",
    "streaming.commit_offsets_s", "streaming.planning_s",
    "streaming.state_commit_s", "streaming.state_rows",
)

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


class SessionProbe:
    """Counts and times outermost calls into the session layer."""

    def __init__(self):
        self.active = False
        self.calls = 0
        self.seconds = 0.0
        self._lock = threading.Lock()
        self._depth = threading.local()

    def install(self, module) -> None:
        for name in SESSION_FUNCS:
            setattr(module, name, self._wrap(getattr(module, name)))

    def _wrap(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            depth = getattr(self._depth, "n", 0)
            if not self.active or depth:
                return fn(*args, **kwargs)
            self._depth.n = 1
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t
                self._depth.n = 0
                with self._lock:
                    self.calls += 1
                    self.seconds += dt

        return wrapper


class BatchListener(StreamingQueryListener):
    """Keeps every micro-batch progress event."""

    def __init__(self):
        self.events: list = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        start = datetime.datetime.fromisoformat(p.timestamp).timestamp()
        self.events.append(
            {
                "start": start,
                "batch_s": p.batchDuration / 1000,
                "ms": dict(p.durationMs),
                "state_commit_ms": sum(o.commitTimeMs for o in p.stateOperators),
                "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                "query": str(p.runId),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def proc_cpu(pid: int) -> tuple[float, float]:
    """(own CPU s, reaped children's CPU s) of a process."""
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return (int(f[11]) + int(f[12])) / CLK_TCK, (int(f[13]) + int(f[14])) / CLK_TCK


def worker_cpu(jvm_pid: int) -> float:
    """CPU of every process under the JVM (the PySpark daemon and its
    workers), live or already reaped."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
    total = proc_cpu(jvm_pid)[1]
    todo = list(children.get(jvm_pid, ()))
    while todo:
        pid = todo.pop()
        try:
            own, reaped = proc_cpu(pid)
        except OSError:
            continue
        total += own + reaped
        todo.extend(children.get(pid, ()))
    return total


def tree_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total / MB


def _ms(opt) -> float | None:
    """scala.Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000 if opt.isDefined() else None


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Per-layer metrics and spans for the traced passes of one run."""

    def __init__(self, tree: str):
        self.scratch = os.path.join(tree, ".scratch")
        self.session = SessionProbe()
        self.listener = BatchListener()
        self.spans: list[dict] = []
        self.passes: list[dict] = []
        self._pass = None
        self._t_timed = None

    def attach(self, spark) -> None:
        sc = spark._jsc.sc()
        self.spark = spark
        self.store = sc.statusStore()
        self.bus = sc.listenerBus()
        self.jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        spark.streams.addListener(self.listener)
        self.run_span = self._span("run", "run", None, time.time())

    def begin_timed(self) -> None:
        """Micro-batches from here on feed the batch latency metrics."""
        self._t_timed = time.time()

    def _span(self, kind, name, parent, start, end=None, **attrs) -> dict:
        span = {"id": len(self.spans), "parent": parent, "kind": kind,
                "name": name, "start": start, "end": end, **attrs}
        self.spans.append(span)
        return span

    def begin_pass(self) -> None:
        self._pass = {
            "span": self._span("pass", f"pass{len(self.passes)}",
                               self.run_span["id"], time.time()),
            "py_cpu": sum(os.times()[:2]),
            "jvm_cpu": proc_cpu(self.jvm_pid)[0],
            "m": {},
        }

    def end_pass(self) -> None:
        p = self._pass
        p["span"]["end"] = time.time()
        m = p["m"]
        m["driver.py_cpu_s"] = sum(os.times()[:2]) - p["py_cpu"]
        m["driver.jvm_cpu_s"] = proc_cpu(self.jvm_pid)[0] - p["jvm_cpu"]
        m["streaming.mem_sink_tables"] = sum(
            1 for r in self.spark.sql("SHOW TABLES").collect()
            if r.tableName.startswith("stream_mem_")
        )
        self.passes.append(m)
        self._pass = None

    def _add(self, name: str, value: float) -> None:
        m = self._pass["m"]
        m[name] = m.get(name, 0.0) + value

    def run_key(self, key: str, build, materialize) -> float:
        """Build, plan and execute one key under the probes; returns its
        latency (build call + materialize)."""
        self.bus.waitUntilEmpty()
        n_events = len(self.listener.events)
        mb0 = tree_mb(self.scratch)
        udf0 = worker_cpu(self.jvm_pid)
        s_calls, s_sec = self.session.calls, self.session.seconds
        self.session.active = True
        try:
            t0 = time.time()
            df = build()
            t1 = time.time()
            plan = df._jdf.queryExecution().executedPlan().toString()
            t2 = time.time()
            materialize(df)
            t3 = time.time()
        finally:
            self.session.active = False
        self.bus.waitUntilEmpty()

        key_span = self._span("key", key, self._pass["span"]["id"], t0, t3)
        for kind, a, b in (("build", t0, t1), ("plan", t1, t2), ("exec", t2, t3)):
            self._span(kind, key, key_span["id"], a, b)
        jobs = self._jobs_since(t0)
        job_iv = []
        for job in jobs:
            phase = "build" if job["start"] < t1 else "exec"
            parent = next(s["id"] for s in self.spans[key_span["id"]:]
                          if s["kind"] == phase)
            span = self._span("job", f"job{job['id']}", parent,
                              job["start"], job["end"])
            job_iv.append((job["start"], job["end"]))
            for st in job["stages"]:
                self._span("stage", f"stage{st['id']}", span["id"],
                           st["start"], st["end"], tasks=st["tasks"])
        stages = {st["id"]: st for job in jobs for st in job["stages"]}
        for ev in self.listener.events[n_events:]:
            self._span("batch", ev["query"], key_span["id"], ev["start"],
                       ev["start"] + ev["batch_s"])
            ms = ev["ms"]
            self._add("streaming.batches", 1)
            self._add("streaming.add_batch_s", ms.get("addBatch", 0) / 1000)
            self._add("streaming.wal_commit_s", ms.get("walCommit", 0) / 1000)
            self._add("streaming.commit_offsets_s",
                      ms.get("commitOffsets", 0) / 1000)
            self._add("streaming.planning_s",
                      ms.get("queryPlanning", 0) / 1000)
            self._add("streaming.state_commit_s", ev["state_commit_ms"] / 1000)
            self._add("streaming.state_rows", ev["state_rows"])

        self._add("registry.build_s", t1 - t0)
        self._add("registry.build_jobs", sum(1 for j in jobs if j["start"] < t1))
        self._add("session.calls", self.session.calls - s_calls)
        self._add("session.s", self.session.seconds - s_sec)
        self._add("session.scratch_written_mb", max(0.0, tree_mb(self.scratch) - mb0))
        self._add("spark.plan_s", t2 - t1)
        self._add("spark.exchanges", plan.count("Exchange"))
        self._add("spark.exec_s", t3 - t2)
        self._add("spark.jobs", len(jobs))
        self._add("spark.stages", len(stages))
        self._add("spark.tasks", sum(s["tasks"] for s in stages.values()))
        self._add("spark.task_cpu_s", sum(s["cpu_s"] for s in stages.values()))
        self._add("spark.gc_s", sum(s["gc_s"] for s in stages.values()))
        self._add("spark.shuffle_mb", sum(s["shuffle_mb"] for s in stages.values()))
        self._add("spark.spill_mb", sum(s["spill_mb"] for s in stages.values()))
        self._add("spark.gap_s", (t3 - t0) - covered(job_iv, t0, t3))
        self._add("udfs.worker_cpu_s", worker_cpu(self.jvm_pid) - udf0)
        return t3 - t0

    def _jobs_since(self, t0: float) -> list[dict]:
        """Jobs submitted at or after ``t0``, read from the status store
        (newest first; it keeps only the most recent jobs and stages)."""
        jobs = []
        listed = self.store.jobsList(None)
        seen_stages: set[int] = set()
        for i in range(listed.size()):
            j = listed.apply(i)
            start = _ms(j.submissionTime())
            if start is None:
                continue
            if start < int(t0 * 1000) / 1000:
                break
            stage_ids = j.stageIds()
            stages = []
            for k in range(stage_ids.size()):
                sid = int(stage_ids.apply(k))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = self.store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                stages.append({
                    "id": sid,
                    "start": _ms(st.submissionTime()) or start,
                    "end": _ms(st.completionTime()) or start,
                    "tasks": st.numCompleteTasks(),
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1000,
                    "shuffle_mb": st.shuffleWriteBytes() / MB,
                    "spill_mb": st.diskBytesSpilled() / MB,
                })
            jobs.append({
                "id": j.jobId(),
                "start": start,
                "end": _ms(j.completionTime()) or start,
                "stages": stages,
            })
        return jobs

    def metrics(self) -> dict[str, tuple[float, str]]:
        """Median over traced passes of each per-pass sum."""
        names = sorted({n for m in self.passes for n in m} | set(ZERO_METRICS))
        out = {}
        for n in names:
            short = n.split(".", 1)[1]
            unit = ("s" if short == "s" or short.endswith("_s")
                    else "MB" if short.endswith("_mb") else "count")
            out[n] = (statistics.median(m.get(n, 0.0) for m in self.passes), unit)
        # every batch of the timed passes, traced or not
        self.bus.waitUntilEmpty()
        b = sorted(e["batch_s"] for e in self.listener.events
                   if e["start"] >= self._t_timed)
        out["streaming.batch_p50_s"] = (statistics.median(b) if b else 0.0, "s")
        # the highest percentile with 10 batches beyond it; the largest
        # batch when there are fewer than 11
        tail = b[-11] if len(b) >= 11 else (b[-1] if b else 0.0)
        out["streaming.batch_tail_s"] = (tail, "s")
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            hwm = next(l for l in fh if l.startswith("VmHWM:"))
        out["driver.jvm_rss_peak_mb"] = (int(hwm.split()[1]) / 1024, "MB")
        return out

    def dump(self, trace_dir, workload, seed, detail, e2e) -> str:
        """Write the spans, with self time, as one JSON file."""
        self.run_span["end"] = time.time()
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - covered(kids.get(s["id"], []),
                                               s["start"], s["end"])
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{workload}-seed{seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": workload, "seed": seed, "detail": detail,
                       "end_to_end": e2e, "spans": self.spans}, fh)
        return path

