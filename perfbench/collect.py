"""Outside-in measurement: nothing here reaches inside the package.

Sources, all of which ship with Spark or Linux:
  * ``StreamingQueryProgress`` for the per-trigger split, state and sink rows;
  * a DataFrame's ``QueryPlanningTracker`` for analysis / optimization /
    planning time;
  * the live status store (jobs and stages) for task CPU, run time and
    shuffle bytes;
  * ``/proc`` for CPU seconds and peak memory of the whole process tree
    (driver Python, the JVM and the Python workers).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc: the process tree rooted at this interpreter
# ---------------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return [s[s.index("(") + 1 : s.rindex(")")]] + s[s.rindex(")") + 2 :].split()


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids.setdefault(int(st[2]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime of each live process, plus that of its reaped
    children, so a worker that exits is still counted exactly once."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # after the name: state ppid ... utime(13) stime(14) cutime(15) cstime(16)
            total += sum(int(x) for x in st[12:16])
    return total / _CLK


def python_worker_pids(pids: list[int]) -> list[int]:
    me = os.getpid()
    return [p for p in pids if p != me and (_stat(p) or [""])[0].startswith("python")]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


class CpuWindow:
    """CPU seconds of the process tree between ``start()`` and ``stop()``;
    ``python_s`` is the share spent in Python worker processes."""

    def start(self) -> None:
        pids = process_tree()
        self.t0 = time.perf_counter()
        self.c0 = cpu_seconds(pids)
        self.p0 = cpu_seconds(python_worker_pids(pids))
        self._py_seen = set(python_worker_pids(pids))

    def stop(self) -> None:
        pids = process_tree()
        self.elapsed = time.perf_counter() - self.t0
        self.cpu_s = cpu_seconds(pids) - self.c0
        workers = python_worker_pids(pids)
        # a worker that started inside the window counts from zero
        born = [p for p in workers if p not in self._py_seen]
        old = [p for p in workers if p in self._py_seen]
        self.python_s = max(0.0, cpu_seconds(old) - self.p0) + cpu_seconds(born)


# ---------------------------------------------------------------------------
# Spans, kept in memory and written out when the run ends
# ---------------------------------------------------------------------------


class Tracer:
    """Spans with a name, start, end, parent and a shared trace id. A
    disabled tracer records nothing, so untraced runs pay nothing."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {"trace": self.trace_id, "id": len(self.spans), "parent": parent,
             "name": name, "start": start, "end": end, **attrs}
        )
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------

# the parts of a trigger, in the order the micro-batch runs them
PROGRESS_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def progress_start(p: dict) -> float:
    """Epoch seconds at which the trigger started."""
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def trace_batches(tracer: Tracer, progresses: list[dict], parent: int | None) -> None:
    """One span per micro-batch, its ``durationMs`` parts as children."""
    if not tracer.enabled:
        return
    for p in progresses:
        t0 = progress_start(p)
        d = p["durationMs"]
        sid = tracer.add("microbatch", t0, t0 + d["triggerExecution"] / 1e3, parent, batch=p["batchId"])
        t = t0
        for part in PROGRESS_PARTS:
            ms = d.get(part, 0)
            tracer.add(f"microbatch.{part}", t, t + ms / 1e3, sid, batch=p["batchId"])
            t += ms / 1e3


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def stream_layers(progresses: list[dict]) -> dict[str, float]:
    """Per-layer medians over the timed micro-batches."""
    def dm(p, k):
        return p["durationMs"].get(k, 0)

    def st(p, k):
        ops = p.get("stateOperators") or [{}]
        return ops[0].get(k, 0)

    named = lambda p: sum(dm(p, k) for k in PROGRESS_PARTS)  # noqa: E731
    return {
        "sources.files.offset_ms": median(dm(p, "latestOffset") for p in progresses),
        "sources.files.get_batch_ms": median(dm(p, "getBatch") for p in progresses),
        "sources.files.input_rows": median(p["numInputRows"] for p in progresses),
        "plans.query_planning_ms": median(dm(p, "queryPlanning") for p in progresses),
        "streaming.topology.add_batch_ms": median(dm(p, "addBatch") for p in progresses),
        "streaming.topology.state_rows": float(st(progresses[-1], "numRowsTotal")),
        "streaming.topology.state_rows_updated": median(st(p, "numRowsUpdated") for p in progresses),
        "streaming.topology.state_mb": st(progresses[-1], "memoryUsedBytes") / 2**20,
        "streaming.topology.state_update_ms": median(st(p, "allUpdatesTimeMs") for p in progresses),
        "streaming.topology.state_commit_ms": median(st(p, "commitTimeMs") for p in progresses),
        "streaming.topology.ms_per_updated_cell": median(
            st(p, "allUpdatesTimeMs") / max(1, st(p, "numRowsUpdated")) for p in progresses
        ),
        "streaming.topology.output_rows": median(
            (p.get("sink") or {}).get("numOutputRows", 0) for p in progresses
        ),
        "sink.commit_ms": median(dm(p, "walCommit") + dm(p, "commitOffsets") for p in progresses),
        "driver.gap_ms": median(dm(p, "triggerExecution") - named(p) for p in progresses),
    }


# ---------------------------------------------------------------------------
# Catalyst planning phases
# ---------------------------------------------------------------------------


def planning_phases_ms(df) -> dict[str, float]:
    """analysis / optimization / planning milliseconds from the DataFrame's
    QueryPlanningTracker (only phases that have run are present)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        if opt.isDefined():
            out[k] = float(opt.get().durationMs())
    return out


# ---------------------------------------------------------------------------
# Status store: jobs and stages
# ---------------------------------------------------------------------------


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


class StatusStore:
    """Jobs and stage metrics from the live application status store."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()

    def jobs(self) -> list[dict]:
        """Every submitted job: id, group, stage ids, start and end (epoch ms)."""
        out = []
        for j in _seq(self._store.jobsList(None)):
            sub = _opt(j.submissionTime())
            if sub is None:
                continue
            done = _opt(j.completionTime())
            out.append(
                {
                    "id": j.jobId(),
                    "group": _opt(j.jobGroup()),
                    "stages": list(_seq(j.stageIds())),
                    "start_ms": sub.getTime(),
                    "end_ms": (done or sub).getTime(),
                }
            )
        return out

    def exec_layers(self, jobs: list[dict]) -> dict[str, float]:
        """Task CPU / run time, shuffle, job and task counts over the
        stages of ``jobs``; skew is max/median task time in the stage
        with the most run time."""
        wanted = {s for j in jobs for s in j["stages"]}
        no_quantiles = self._jvm.java.lang.reflect.Array.newInstance(
            self._jvm.java.lang.Double.TYPE, 0
        )
        stages = self._store.stageList(
            None, False, False, no_quantiles, self._jvm.java.util.ArrayList()
        )
        cpu_ns = run_ms = shuffle = tasks = 0
        heaviest = None
        for s in _seq(stages):
            if s.stageId() not in wanted:
                continue
            cpu_ns += s.executorCpuTime()
            run_ms += s.executorRunTime()
            shuffle += s.shuffleWriteBytes() + s.shuffleReadBytes()
            tasks += s.numTasks()
            if heaviest is None or s.executorRunTime() > heaviest[2]:
                heaviest = (s.stageId(), s.attemptId(), s.executorRunTime())
        skew = 1.0
        if heaviest is not None:
            times = []
            for t in _seq(self._store.taskList(heaviest[0], heaviest[1], 100000)):
                m = _opt(t.taskMetrics())
                if m is not None:
                    times.append(m.executorRunTime())
            if times and statistics.median(times) > 0:
                skew = max(times) / statistics.median(times)
        return {
            "exec.task_cpu_s": cpu_ns / 1e9,
            "exec.task_run_s": run_ms / 1e3,
            "exec.shuffle_mb": shuffle / 2**20,
            "exec.jobs": float(len(jobs)),
            "exec.tasks": float(tasks),
            "exec.task_skew": float(skew),
        }


def busy_ms(jobs: list[dict]) -> float:
    """Milliseconds covered by at least one running job."""
    spans = sorted((j["start_ms"], j["end_ms"]) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
