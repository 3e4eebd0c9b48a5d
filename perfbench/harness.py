"""One benchmark run: session, set-up, timed closed loop, checks and
the metrics line.

A run lives in one process with Spark pinned to ``local[nproc]``.
Everything it writes (Spark scratch, temp files, inputs, sinks and the
event log) stays under a work directory inside the checkout, removed
at the end. The JVM and its Python workers are stopped and waited for
before the process exits.
"""

from __future__ import annotations

import os
import shutil
import signal
import sys
import tempfile
import threading
import time
import traceback
from contextlib import nullcontext
from time import perf_counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _running(pid: int) -> bool:
    """*pid* exists and has not exited (a zombie awaiting its reaper
    has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Peak resident memory of the driver plus the JVM, sampled from
    ``/proc`` every 20 ms while :attr:`active` is set."""

    def __init__(self, pids: list[int]):
        self.pids = pids
        self.peak_kb = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(0.02):
            if self.active.is_set():
                self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Session:
    """The run's SparkSession and its process tree."""

    def __init__(self, work_dir: str, app: str, event_log_dir: str | None):
        from etl_python_azure_spark.session import get_spark

        n = nproc()
        conf = {
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work_dir}/tmp",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app, master=f"local[{n}]", shuffle_partitions=n,
                               extra_conf=conf)
        sc = self.spark.sparkContext
        self.gateway = sc._gateway
        self.jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        """Stop Spark, the JVM and the Python workers, and wait for
        each to end."""
        procs = _descendants(os.getpid())
        try:
            self.spark.stop()
        finally:
            self.gateway.shutdown()
            proc = getattr(self.gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — fall through to the kill below
                    proc.kill()
                    proc.wait(timeout=10)
            # the Python worker daemon takes ~2 s to notice the JVM is
            # gone; with nothing left to serve, end it and wait
            alive = [p for p in procs if _running(p)]
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 20
            while alive and time.time() < deadline:
                time.sleep(0.05)
                alive = [p for p in alive if _running(p)]


def prepare_environment(work_dir: str) -> None:
    """Point Spark, the JVM and Python temp files into *work_dir*;
    pin the engine's core count to this machine's."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


# full-size untimed iterations in set-up: the first runs 2-3x slower
# than the next; the next few are still 10-50% above the plateau, which
# the fastest-iteration estimate below steps over
WARM_ITERATIONS = 2


def fastest(parts: list[dict[str, float]]) -> float:
    """The run's time estimate from the timed iterations' part times
    (a workload's independent parts, such as the analytics queries, or
    the whole iteration): each part's fastest time, summed. Leftover
    warm-up and the host's CPU steal (bursts of ~10% that last tens of
    seconds and slow what runs in them by 30-50%) only ever add time,
    so the fastest reading is the steadiest one of the program's own
    cost; a median still lands on them."""
    return sum(min(p[k] for p in parts) for k in parts[0]) if parts else 0.0


class Run:
    """Set-up, the timed closed loop and the metrics of one run."""

    def __init__(self, workload_cls, seed: int, seconds: float, trace: bool):
        self.workload_cls = workload_cls
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work_dir = os.path.join(
            ROOT, "perfbench", ".work", f"{workload_cls.name}-{os.getpid()}"
        )
        self.attempted = 0
        self.failed = 0
        # part times of the untraced and the traced timed iterations
        self.parts: list[dict[str, float]] = []
        self.traced_parts: list[dict[str, float]] = []
        self.landed: list[int] = []

    def _iterate(self, wl, k: int, traced: bool, layers=None) -> None:
        """One timed iteration into a fresh sink, then its check."""
        sink = os.path.join(self.work_dir, "sinks", f"it{k}")
        self.attempted += 1
        tracer = wl.tracer
        try:
            if traced:
                tracer.install()
                before = len(tracer.spans)
            if wl.counters is not None:
                for acc, zero in ((wl.counters.calls, 0), (wl.counters.failed, 0),
                                  (wl.counters.bytes, 0), (wl.counters.busy_s, 0.0),
                                  (wl.counters.urls, set())):
                    acc.value = zero
            ctx = tracer.iteration(f"it{k}") if traced else nullcontext()
            t0 = perf_counter()
            try:
                with ctx:
                    handle = wl.iteration(sink)
                dt = perf_counter() - t0
            finally:
                if traced:
                    tracer.uninstall()
            self.sampler.active.clear()
            upstream = wl.counters.snapshot() if wl.counters is not None else None
            rows = wl.check(handle, sink)
            print(f"[perfbench] iteration {k}{' traced' if traced else ''}: {dt:.3f} s",
                  file=sys.stderr)
            parts = dict(wl.parts) or {"iteration": dt}
            if traced:
                self.traced_parts.append(parts)
                layers.append(self._layer_sample(wl, before, sink, rows, upstream))
            else:
                self.parts.append(parts)
                self.landed.append(rows)
        except Exception:  # noqa: BLE001 — every miss is counted, never swallowed
            self.failed += 1
            print(f"[perfbench] iteration {k} failed:", file=sys.stderr)
            traceback.print_exc()
        finally:
            shutil.rmtree(sink, ignore_errors=True)
            self.sampler.active.set()

    def _layer_sample(self, wl, first_span: int, sink: str, rows: int, upstream) -> dict:
        from .checks import sink_files

        tracer = wl.tracer
        tracer.settle()
        spans = list(range(first_span, len(tracer.spans)))
        for i in spans:
            tracer.spans[i].counts = tracer.tracker_counts(tracer.spans[i].group)
        return {"spans": spans, "rows": rows, "upstream": upstream,
                "files": sink_files(sink), "extra": dict(wl.layer)}

    def execute(self) -> dict:
        from .trace import Tracer

        load_start = loadavg()
        t_setup = perf_counter()
        event_log = os.path.join(self.work_dir, "eventlog") if self.trace else None
        session = Session(self.work_dir, f"perfbench-{self.workload_cls.name}", event_log)
        try:
            spark = session.spark
            spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up
            tracer = Tracer(spark.sparkContext) if self.trace else None
            wl = self.workload_cls(spark, self.seed, tracer)
            wl.prepare()
            self.sampler = RssSampler([os.getpid(), session.jvm_pid])
            try:
                for _ in range(WARM_ITERATIONS):
                    self._iterate(wl, 0, traced=False)
                setup_s = perf_counter() - t_setup
                # the warm iterations count as attempted (and failed, if
                # they did), but their time is set-up
                self.parts.clear()
                self.landed.clear()
                self.sampler.peak_kb = 0
                self.sampler.active.set()
                layers: list[dict] = []
                t_loop = perf_counter()
                # traced runs time untraced, traced, untraced at least,
                # so the overhead is not just later warm-up
                least = max(wl.min_iterations, 3 if self.trace else 1)
                k = 1
                while True:
                    traced = self.trace and k % 2 == 0
                    self._iterate(wl, k, traced, layers)
                    if perf_counter() - t_loop >= self.seconds and k >= least:
                        break
                    k += 1
                self.sampler.active.clear()
                peak_mb = self.sampler.peak_kb / 1024
            finally:
                self.sampler.close()
        finally:
            session.stop()
        load_end = loadavg()
        run_s = fastest(self.parts)
        result = {
            "attempted": self.attempted,
            "failed": self.failed,
            "load": (load_start, load_end),
            "setup_s": setup_s,
            "run_s": run_s,
            "rows_per_s": max(self.landed, default=0) / run_s if run_s else 0.0,
            "ok_frac": 1 - self.failed / max(1, self.attempted),
        }
        if self.trace:
            from .layers import per_layer

            result["layers"] = per_layer(tracer, layers, event_log,
                                         fastest(self.traced_parts), run_s,
                                         (load_start, load_end))
            result["layers"]["host.peak_rss_mb"] = peak_mb
        return result

    def cleanup(self) -> None:
        shutil.rmtree(self.work_dir, ignore_errors=True)
        try:  # the shared parent, unless another run is using it
            os.rmdir(os.path.dirname(self.work_dir))
        except OSError:
            pass
