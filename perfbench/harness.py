"""Session lifetime, per-op failure accounting, memory sampling and the
summary statistics shared by every workload."""

from __future__ import annotations

import os
import signal
import statistics
import threading
import time

DRIVER_MEMORY = "2g"


class Session:
    """Starts and stops the program's SparkSession (``qsvspark.get_spark``)
    with every file Spark writes kept under ``work``. The JVM is launched
    once per process; ``restart`` stops the SparkContext and builds a new
    one in the same JVM, which is what each repeated set-up measures."""

    def __init__(self, work: str, cores: int):
        self.work = work
        self.cores = cores
        self.spark = None
        self.event_log_dir = None

    def start(self, event_log: bool = False):
        from qsvspark import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
            "spark.local.dir": f"{self.work}/spark-local",
            "spark.sql.warehouse.dir": f"{self.work}/sql-warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            self.event_log_dir = f"{self.work}/eventlog-{time.monotonic_ns()}"
            os.makedirs(self.event_log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            "perfbench", parallelism=self.cores, shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart(self, event_log: bool = False):
        self.stop_context()
        return self.start(event_log)

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def kill_jvm(self) -> None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None and proc.poll() is None:
            proc.kill()

    def shutdown(self) -> None:
        """Stop the context, then the JVM, and wait for it to exit; the
        Python workers are the JVM's children and exit with it."""
        from pyspark import SparkContext

        try:
            self.stop_context()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — a dead JVM cannot be shut down politely
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def error_class(e: BaseException) -> str:
    """Python exception class, or the Java class for a JVM-side error."""
    java = getattr(e, "java_exception", None)
    if java is not None:
        try:
            return java.getClass().getName()
        except Exception:  # noqa: BLE001 — the JVM may be dead
            pass
    return type(e).__name__


class OpLog:
    """Runs each timed op, records its duration and outcome. An op that
    raises (an exception, a JVM OutOfMemoryError) or outlives ``timeout``
    counts as failed with its error class. On timeout the op's Spark jobs
    are cancelled; if it has still not returned ``grace`` seconds later
    (stuck in driver-side work), the JVM is killed so the run can end."""

    def __init__(self, session: Session, tracer, timeout: float, grace: float = 15.0):
        self.session = session
        self.tracer = tracer
        self.timeout = timeout
        self.grace = grace
        self.records: list[dict] = []

    def run(self, kind: str, fn, layer: str, **info):
        """Run ``fn`` as one timed op inside span ``op.<kind>`` (charged to
        ``layer``); returns its result, or None when it failed."""
        rec = {"kind": kind, "seconds": None, "ok": False, "error": None, **info}
        self.records.append(rec)
        expired = threading.Event()

        def on_timeout():
            expired.set()
            try:
                self.session.spark.sparkContext.cancelAllJobs()
            except Exception:  # noqa: BLE001 — best effort
                pass

        timers = [threading.Timer(self.timeout, on_timeout),
                  threading.Timer(self.timeout + self.grace, self.session.kill_jvm)]
        for t in timers:
            t.daemon = True
            t.start()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}", layer=layer, **info):
                out = fn()
            rec["ok"] = not expired.is_set()
            if expired.is_set():
                rec["error"] = "OpTimeout"
            return out
        except Exception as e:  # noqa: BLE001 — every op failure is recorded, not raised
            rec["error"] = "OpTimeout" if expired.is_set() else error_class(e)
            rec["message"] = str(e).splitlines()[0][:300] if str(e) else ""
            return None
        finally:
            rec["seconds"] = time.perf_counter() - t0
            for t in timers:
                t.cancel()

    def fail(self, pred, reason: str) -> None:
        """Mark ops matching ``pred`` failed (a wrong answer)."""
        for r in self.records:
            if r["ok"] and pred(r):
                r["ok"] = False
                r["error"] = reason

    def ok(self, kind: str | None = None) -> list[dict]:
        return [r for r in self.records if r["ok"] and (kind is None or r["kind"] == kind)]

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(1 for r in self.records if not r["ok"])


def descendants(root: int) -> list[int]:
    """``root`` and every process below it, from /proc (parents first)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop(0)
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def reap_children() -> None:
    """Kill every process this one started (a JVM still launching when a
    signal arrived) and wait for the direct children to exit."""
    me = os.getpid()
    for pid in descendants(me)[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


class RssSampler:
    """Peak memory of the driver JVM plus every process below it (the
    Python workers), sampled from /proc. The JVM counts its resident set
    (statm: cheap, and walking its page tables for Pss would stall it);
    each worker counts its proportional set size (Pss), so pages the forked
    workers share with their parent daemon are not counted once each."""

    def __init__(self, root_pid: int, period: float = 0.5):
        self.root = root_pid
        self.period = period
        self.peak = 0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def _pss(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def _rss(self, pid: int) -> int:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * self._page

    def sample(self) -> int:
        total = procs = 0
        for pid in descendants(self.root):
            try:
                total += self._rss(pid) if pid == self.root else self._pss(pid)
                procs += 1
            except (OSError, IndexError, ValueError):
                continue
        if total > self.peak:
            self.peak, self.peak_procs = total, procs
        return total

    def _loop(self):
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples). With fewer than 11 samples no percentile
    qualifies and the maximum (percentile 100) is returned instead."""
    xs = sorted(values)
    n = len(xs)
    if n >= 11:
        return xs[n - 11], 100.0 * (n - 10) / n, n
    return xs[-1], 100.0, n


def median(values: list[float]) -> float:
    return statistics.median(values)
