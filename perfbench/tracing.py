"""Tracing for the per-layer run: spans, Spark event-log task metrics and
process memory.

Spans are recorded by the benchmark around its own calls into the engine
(and, for calls the engine makes internally, around replacements the
benchmark installs on the calling module's names, see :func:`patched`).
Each span labels the Spark jobs it starts with ``setJobGroup``, so the event
log ties every task back to the innermost span that was open when its job
started.  Spans stay in memory and are written out once, at the end of the
run.  :data:`NULL` has the same ``span`` interface and records nothing: a
workload runs the same code with and without tracing.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"
RSS_INTERVAL_S = 0.25


class Tracer:
    """Span recorder: name, layer, start, end, parent and job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # perf_counter() + epoch = Unix time, the event log's clock
        self.epoch = time.time() - time.perf_counter()

    @contextmanager
    def span(self, layer: str, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "layer": layer, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"{GROUP_PREFIX}{sid}", "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.spans[self._stack[-1]]["group"], "", False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, module, attr: str, layer: str, name: str):
        """:func:`patched` with a span around each call of ``module.attr``."""

        def around(orig, *a, **kw):
            with self.span(layer, name):
                return orig(*a, **kw)

        return patched(module, attr, around)

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def descendants(self, root: dict) -> list[dict]:
        ids = {root["id"]}
        out = [root]
        for s in self.spans:  # parents always precede children
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def per_root(self, roots: list[dict], name: str) -> float:
        """Mean over ``roots`` of the summed duration of the spans called
        ``name`` below each root."""
        return sum(self.duration(s) for r in roots for s in self.descendants(r)
                   if s["name"] == name) / len(roots)

    def window_ms(self, rec: dict) -> tuple[float, float]:
        return (rec["start"] + self.epoch) * 1000, (rec["end"] + self.epoch) * 1000

    def dump(self, path: str) -> None:
        base = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump([{**s, "start": s["start"] - base, "end": s["end"] - base}
                       for s in self.spans], f, indent=1)


class _NullTracer:
    @contextmanager
    def span(self, layer: str, name: str):
        yield None


NULL = _NullTracer()


@contextmanager
def patched(module, attr: str, around):
    """Replace ``module.attr`` by ``around(orig, *args, **kwargs)`` for the
    duration of the block."""
    orig = getattr(module, attr)
    setattr(module, attr, functools.wraps(orig)(lambda *a, **kw: around(orig, *a, **kw)))
    try:
        yield
    finally:
        setattr(module, attr, orig)


def coverage(tracer: Tracer, log: EventLog, roots: list[dict]) -> float:
    """Share of the executor run time of every Spark job submitted while a
    root span was open that ran in jobs labelled with a layer span below
    it.  A job that starts outside any layer span -- in the root's own
    group or with no group -- counts against it."""
    windows = [tracer.window_ms(r) for r in roots]
    jobs = [j for j, t in log.job_submit_ms.items()
            if any(lo <= t <= hi for lo, hi in windows)]
    layer_groups = {s["group"] for r in roots for s in tracer.descendants(r)
                    if s["layer"] != "trace"}
    total = log.run_ms(jobs)
    return log.run_ms([j for j in jobs if log.job_group[j] in layer_groups]) / total if total else 0.0


class EventLog:
    """Jobs, stages and task metrics parsed from a Spark JSON event log."""

    def __init__(self, log_dir: str):
        files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if not p.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        self.job_group: dict[int, str | None] = {}
        self.job_submit_ms: dict[int, int] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.stage_scopes: dict[int, set[str]] = {}
        self.tasks: list[dict] = []
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.job_group[ev["Job ID"]] = props.get("spark.jobGroup.id")
                    self.job_submit_ms[ev["Job ID"]] = ev["Submission Time"]
                    self.job_stages[ev["Job ID"]] = ev.get("Stage IDs", [])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    scopes = set()
                    for rdd in info.get("RDD Info", []):
                        scope = rdd.get("Scope")
                        if scope:
                            scopes.add(json.loads(scope).get("name", ""))
                    self.stage_scopes[info["Stage ID"]] = scopes
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks.append({
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "records_in": (m.get("Input Metrics") or {}).get("Records Read", 0)
                        + sr.get("Total Records Read", 0),
                    })

    def jobs_in(self, groups: set[str]) -> list[int]:
        return [j for j, g in self.job_group.items() if g in groups]

    def tasks_in(self, groups: set[str], kernel_only: bool = False) -> list[dict]:
        return self._tasks_of(self.jobs_in(groups), kernel_only)

    def run_ms(self, jobs: list[int]) -> int:
        return sum(t["run_ms"] for t in self._tasks_of(jobs))

    def _tasks_of(self, jobs: list[int], kernel_only: bool = False) -> list[dict]:
        """Tasks of the stages these jobs ran.  A later job lists a stage it
        reuses (skipped) too; the stage belongs to the first job listing it."""
        owner: dict[int, int] = {}
        for j in sorted(self.job_stages):
            for s in self.job_stages[j]:
                owner.setdefault(s, j)
        wanted = set(jobs)
        stages = {s for s, j in owner.items() if j in wanted}
        if kernel_only:
            stages = {s for s in stages if is_kernel_stage(self.stage_scopes.get(s, ()))}
        return [t for t in self.tasks if t["stage"] in stages]


def is_kernel_stage(scopes) -> bool:
    """A stage that runs Python code (Arrow/pandas kernels and UDFs)."""
    return any(("Arrow" in s or "Python" in s or "Pandas" in s) for s in scopes)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled from ``/proc``."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        page = os.sysconf("SC_PAGE_SIZE")
        me = os.getpid()
        while not self._stop.is_set():
            parent: dict[int, int] = {}
            rss: dict[int, int] = {}
            for d in os.listdir("/proc"):
                if not d.isdigit():
                    continue
                try:
                    with open(f"/proc/{d}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                parent[int(d)] = int(fields[1])
                rss[int(d)] = int(fields[21]) * page
            tree = {me}
            grew = True
            while grew:
                grew = False
                for pid, pp in parent.items():
                    if pp in tree and pid not in tree:
                        tree.add(pid)
                        grew = True
            self.peak_bytes = max(self.peak_bytes, sum(rss.get(p, 0) for p in tree))
            self._stop.wait(RSS_INTERVAL_S)
