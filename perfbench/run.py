"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload flagship_batch --seed 7 --seconds 6 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` and
cached under ``.perfbench_cache/``; scratch tables, Spark's local dir and
temp files go under ``.perfbench_work/`` and are removed at exit; span
dumps of traced runs go to ``.perfbench_out/``.

``--trace 0`` times the workload with tracing off and reports the
end-to-end metrics of ``BENCHMARK.json``.  ``--trace 1`` starts a session
with Spark's event log on, runs the workload's job untraced and traced
(spans, job groups, memory sampling) in turn and reports the per-layer
metrics.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  A human-readable summary line precedes it.
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()

import argparse  # noqa: E402
import functools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# how long the JVM and the Python workers get to end before they are killed
STOP_TIMEOUT_S = 30.0


def _environment(work: str) -> None:
    """Keep every file Spark and its workers write inside the checkout and
    let the Python workers import the package from it.  Session settings
    are left at the engine's defaults; the core count is the host's."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would take precedence over it
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file in the system /tmp either
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{java_opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    py_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + py_path if py_path else "")
    sys.path.insert(0, ROOT)


def _metric_units(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Runner:
    def __init__(self, workload, get_spark, t_import: float):
        self.wl = workload
        self.get_spark = get_spark
        self.t_import = t_import
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.session_s = 0.0

    def _attempt(self, fn, *args):
        """Run one operation under test; a raise counts as one failure.
        Returns the operation's result, or None when it raised."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # any failure of the operation under test
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def _check(self, fn, *args) -> None:
        """Check the output of the operation just attempted; a failed check
        turns it into a failure."""
        try:
            fn(*args)
        except Exception:  # a mismatch or a check that could not run
            self.failed += 1
            traceback.print_exc(file=sys.stderr)

    def _setup(self, extra_confs=None) -> float:
        """Session start, staging and one warm pass; returns their wall
        time.  The warm pass's output is checked after the clock stops."""
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.get_spark(extra_confs=extra_confs)
        self.session_s = time.perf_counter() - t0
        self.wl.stage(self.spark)
        out = self._attempt(self.wl.warm, self.spark)
        wall = time.perf_counter() - t0
        if out is not None:
            self._check(self.wl.check, out)
        self.spark.catalog.clearCache()
        return wall

    def _op(self) -> tuple[float, dict] | None:
        t0 = time.perf_counter()
        parts = self._attempt(self.wl.op, self.spark)
        wall = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        return None if parts is None else (wall, parts)

    def timed(self, seconds: int) -> tuple[dict, str]:
        setup_s = self.t_import + self._setup()
        ops = []
        deadline = time.perf_counter() + seconds
        n = 0
        while n < self.wl.MIN_OPS or time.perf_counter() < deadline:
            n += 1
            r = self._op()
            if r is not None:
                ops.append(r)
        failed = self.failed
        self._check(self.wl.finish, self.spark)
        if self.failed > failed:
            # the end state covers every operation of the loop
            self.failed = failed + len(ops)
        walls = [w for w, _ in ops]
        median = statistics.median(walls) if walls else float("inf")
        metrics = {"setup_s": setup_s, "rows_per_s": self.wl.rows / median}
        parts = {k: statistics.median(p[k] for _, p in ops) for _, p0 in ops[:1] for k in p0}
        summary = (f"setup_s={setup_s:.3f} session_s={self.session_s:.3f} "
                   f"op_s={[round(w, 3) for w in walls]} rows={self.wl.rows} "
                   + " ".join(f"{k}_p50={v:.3f}" for k, v in parts.items()))
        return metrics, summary

    def traced(self, out_dir: str) -> tuple[dict, str]:
        from tracing import EventLog, RssSampler, Tracer, coverage

        log_dir = os.path.join(self.wl.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        with RssSampler() as rss:
            self._setup({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + log_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
            tracer = Tracer(self.spark)
            metrics = self._attempt(self.wl.traced, self.spark, tracer) or {}
            if metrics:
                self._check(self.wl.finish, self.spark)
            self.spark.stop()  # flushes and closes the event log
            self.spark = None
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{self.wl.name}-{self.wl.seed}.json"))
        traced_s = [tracer.duration(t) for t in self.wl.tops]
        if metrics:
            log = EventLog(log_dir)
            metrics.update(self.wl.layer_metrics(log, tracer))
            metrics["trace.coverage_frac"] = coverage(tracer, log, self.wl.tops)
            metrics["trace.overhead_frac"] = (statistics.median(traced_s)
                                              / statistics.median(self.wl.untraced_s) - 1)
        metrics["session.start_s"] = self.session_s
        metrics["session.peak_rss_mb"] = rss.peak_bytes / 2**20
        summary = (f"untraced_job_s={[round(w, 3) for w in self.wl.untraced_s]} "
                   f"traced_job_s={[round(w, 3) for w in traced_s]}")
        return metrics, summary

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _proc_stat(pid: int) -> tuple[int, str, str] | None:
    """(parent pid, state, start time) of a live process, None once it is
    gone or a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in "ZX" else (int(fields[1]), fields[0], fields[19])


def _descendants(root: int) -> dict[int, str]:
    """Every live process below ``root``, with its start time (a pid
    that is reused later is not the same process)."""
    children: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _proc_stat(int(name))):
            children.setdefault(st[0], []).append((int(name), st[2]))
    found, todo = {}, [root]
    while todo:
        for pid, start in children.get(todo.pop(), ()):
            found[pid] = start
            todo.append(pid)
    return found


def _alive(procs: dict[int, str]) -> dict[int, str]:
    return {pid: start for pid, start in procs.items()
            if (st := _proc_stat(pid)) and st[2] == start}


def _stop_processes() -> None:
    """End the Spark JVM and everything it started, and wait for each.

    The JVM of a PySpark session outlives ``SparkSession.stop()``: it ends
    when the Python process closes its standard input, so without this it
    would still be shutting down (with its Python workers) after the
    benchmark exits."""
    kids = _descendants(os.getpid())
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except (Py4JError, OSError):  # the connection may already be gone
            pass
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.perf_counter() + STOP_TIMEOUT_S
    while _alive(kids) and time.perf_counter() < deadline:
        time.sleep(0.05)
    _kill(kids)


def _kill(procs: dict[int, str]) -> None:
    """SIGKILL those of ``procs`` still alive and wait until each is gone."""
    for pid in _alive(procs):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while _alive(procs):
        time.sleep(0.05)
    for pid in procs:  # reap those that were our own children
        try:
            os.waitpid(pid, os.WNOHANG)
        except OSError:
            pass


def _terminate(work: str, signum, frame) -> None:
    """On SIGTERM or SIGINT: kill every process the run started, wait for
    each, remove the work dir and exit without a result.  A graceful
    Spark stop could block on the call the signal interrupted.  The tree
    is frozen first, so that no process forks a child that escapes it."""
    procs: dict[int, str] = {}
    while new := {p: s for p, s in _descendants(os.getpid()).items() if p not in procs}:
        for pid in new:
            try:
                os.kill(pid, signal.SIGSTOP)
            except OSError:
                pass
        procs.update(new)
    _kill(procs)
    shutil.rmtree(work, ignore_errors=True)
    os._exit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, functools.partial(_terminate, work))
    _environment(work)
    try:
        from mpower_feature_analysis_spark.session import get_spark
        from workloads import WORKLOADS

        kind = "per_layer" if args.trace else "end_to_end"
        units = _metric_units(kind)
        t_import = time.perf_counter() - T_PROC
        wl = WORKLOADS[args.workload](os.path.join(ROOT, ".perfbench_cache"), work, args.seed)
        wl.prepare()
        runner = Runner(wl, get_spark, t_import)
        try:
            if args.trace:
                values, summary = runner.traced(os.path.join(ROOT, ".perfbench_out"))
            else:
                values, summary = runner.timed(args.seconds)
        finally:
            runner.stop()
    finally:
        if "pyspark" in sys.modules:
            _stop_processes()
        shutil.rmtree(work, ignore_errors=True)

    missing = sorted(set(units) - set(values))
    # a layer the workload does not exercise did no work: 0 by measurement
    values = {name: float(values.get(name, 0.0)) for name in units}
    failed_frac = runner.failed / runner.attempted
    print(f"# {args.workload} seed={args.seed} trace={args.trace} attempted={runner.attempted} "
          f"failed={runner.failed} failed_frac={failed_frac:.4f} {summary} "
          f"idle_layers={missing}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {name: {"value": v, "unit": units[name]} for name, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
