"""The repository benchmark: one closed-loop client driving qsvspark on
``local[nproc]`` through one workload, in one process.

    python3 perfbench/run.py --workload qsv_ops --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, sets up three times (session start, input generation, a checked
pandas-UDF and mapInArrow batch on every core), runs one untimed warm
repetition of the workload, measures for at least ``--seconds`` in whole
repetitions, checks the program's outputs, and prints as its last line one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run measures once untraced, then again with spans and the Spark event log
on, and the metrics are the per-layer ones (see README.md). Everything it
writes stays under ``perfbench/.work`` (deleted at exit) and ``perfbench/out``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
# stop starting new repetitions after this long, so a slow run still ends
# well inside the three-minute limit
REP_DEADLINE_S = 110.0


class Killed(BaseException):
    """A kill signal. A BaseException, so neither an op's failure handler
    nor py4j's error handling records it as an op failure."""

    def __init__(self, signum: int):
        super().__init__(signal.Signals(signum).name)
        self.signum = signum


def _on_signal(signum, _frame):
    raise Killed(signum)


class Ctx:
    def __init__(self, session, work, seed, cores, tracer):
        self.session = session
        self.work = work
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.ops = None

    @property
    def spark(self):
        return self.session.spark


def measure(wl, ops, seconds: float, t_process: float) -> int:
    """Whole repetitions until ``seconds`` have passed (at least min_reps)."""
    wl.ctx.ops = ops
    t0 = time.perf_counter()
    i = 0
    while i < wl.min_reps or time.perf_counter() - t0 < seconds:
        if i and time.perf_counter() - t_process > REP_DEADLINE_S:
            break
        wl.rep(i)
        i += 1
        if any(r["error"] not in (None, "WrongAnswer") for r in ops.records):
            break  # the JVM may be gone (OOM, timeout kill): report, do not retry
    return i


def environment(spark, cores: int) -> str:
    import pyarrow
    import pyspark

    java = spark.sparkContext._jvm.System.getProperty("java.version")
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    return (f"nproc={cores} master=local[{cores}] driver_heap={heap} spark={pyspark.__version__} "
            f"pyarrow={pyarrow.__version__} python={platform.python_version()} java={java}")


def run(args, work: str, t_process: float) -> tuple[dict, list[str]]:
    from harness import OpLog, RssSampler, Session, median
    from tracing import Tracer
    from workloads import WORKLOADS, warm_python_workers

    lines: list[str] = []
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-{int(time.time())}"
    tracer = Tracer(run_id, enabled=False)
    session = Session(work, cores)
    ctx = Ctx(session, work, args.seed, cores, tracer)
    wl = WORKLOADS[args.workload](ctx)
    try:
        setups = []
        for i in range(1 if args.trace else SETUPS):
            t0 = time.perf_counter()
            if i:
                session.restart()
            else:
                tracer.enabled = bool(args.trace)
                with tracer.span("session.start", layer="session"):
                    session.start(event_log=bool(args.trace))
                tracer.enabled = False
            wl.prepare()
            warm_python_workers(session.spark, cores)
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        lines.append("env: " + environment(session.spark, cores))
        lines.append("setup_s = median(" + ", ".join(f"{s:.3f}" for s in setups)
                     + f") + warm repetition {warm_s:.3f}")

        if args.trace:
            return _traced(args, lines, wl, session, tracer, t_process), lines
        ops = OpLog(session, tracer, wl.op_timeout)
        t0 = time.perf_counter()
        with RssSampler(session.jvm_pid()) as rss:
            reps = measure(wl, ops, args.seconds, t_process)
        lines.append(f"measured {reps} repetition(s) in {time.perf_counter() - t0:.3f} s")
        t0 = time.perf_counter()
        bad = wl.check()
        lines.append(f"output checks after measuring took {time.perf_counter() - t0:.3f} s (untimed)")
        e2e, named = wl.e2e()
        e2e["setup_s"] = median(setups) + warm_s
        e2e["peak_rss_mb"] = rss.peak_mb
        return _report(lines, wl, ops, reps, bad, named, e2e, rss), lines
    finally:
        tracer.unwrap_all()
        session.shutdown()


def _traced(args, lines, wl, session, tracer, t_process) -> dict:
    """Measure with spans, job groups and the event log on (the session was
    started with the event log), and return the per-layer metrics. Then,
    for the tracing overhead, measure again untraced in a new SparkContext.
    The untraced pass runs second, on a JVM the traced pass warmed, so the
    overhead reads high rather than low."""
    from harness import OpLog, RssSampler
    from layers import PER_LAYER, compute, install_wrappers
    from tracing import EventLog, find_event_log
    from workloads import warm_python_workers

    tracer.bind(session.spark.sparkContext)
    install_wrappers(tracer)
    tracer.enabled = True
    t_traced = time.perf_counter()
    ops = OpLog(session, tracer, wl.op_timeout)
    with RssSampler(session.jvm_pid()) as rss:
        reps = measure(wl, ops, args.seconds, t_process)
    probes = wl.probes()
    tracer.enabled = False
    tracer.unwrap_all()
    bad = wl.check()
    traced, named = wl.e2e()
    session.stop_context()
    matched = EventLog(find_event_log(session.event_log_dir)).attach(tracer)
    layer = compute(tracer, probes, wl.layer_extra())

    if wl.untraced_in_trace:
        session.restart()
        warm_python_workers(session.spark, session.cores)
        wl.warm()
        measure(wl, OpLog(session, tracer, wl.op_timeout), args.seconds, t_process)
        plain, _ = wl.e2e()
        layer["trace.overhead.op_p50_s"] = traced["op_p50_s"] / plain["op_p50_s"] - 1
        layer["trace.overhead.rows_per_s"] = plain["rows_per_s"] / traced["rows_per_s"] - 1
        lines.append("trace overhead (untraced pass after the traced one, same run): " + ", ".join(
            f"{k}: {plain[k]:.4g} -> {traced[k]:.4g}" for k in ("op_p50_s", "op_tail_s", "rows_per_s")))
    else:
        lines.append("trace overhead: not measured for this workload (no untraced pass: "
                     "one repetition can take most of the run's time limit)")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    spans_path = os.path.join(HERE, "out", f"{tracer.run_id}.spans.jsonl")
    tracer.dump(spans_path, t_traced)
    lines.append(f"trace: {len(tracer.spans)} spans ({matched} with Spark jobs) "
                 f"written to {os.path.relpath(spans_path, ROOT)}")
    own = tracer.layer_self_seconds()
    lines.append("self time per layer (s): " + ", ".join(
        f"{k}={v:.3f}" for k, v in sorted(own.items(), key=lambda kv: -kv[1])))
    metrics = {name: (layer.get(name, 0.0), unit) for name, unit in PER_LAYER}
    return _report(lines, wl, ops, reps, bad, named, metrics, rss, units=False)


E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "rows_per_s": "rows/s",
             "peak_rss_mb": "MB"}


def _report(lines, wl, ops, reps, bad, named, metrics, rss, units=True) -> dict:
    for msg in bad:
        lines.append(f"check failed: {msg}")
    errors: dict[str, int] = {}
    for r in ops.records:
        if not r["ok"]:
            errors[r["error"]] = errors.get(r["error"], 0) + 1
            lines.append(f"op failed: {r['kind']} {r.get('query') or r.get('index') or ''} "
                         f"{r['error']} {r.get('message', '')}".rstrip())
    ratio = ops.failed / ops.attempted if ops.attempted else 0.0
    named = dict(named)
    named["failed_ops_ratio"] = (ratio, "failed/attempted", f"{ops.failed}/{ops.attempted}")
    named["peak_rss_mb"] = (rss.peak_mb, "MB", f"Pss of the driver JVM + Python workers, "
                                               f"{rss.peak_procs} processes at the peak")
    lines.append(f"{wl.name}: {reps} repetition(s); " + "; ".join(
        f"{k}={v:.6g} {u} ({note})" for k, (v, u, note) in named.items()))
    if errors:
        lines.append("errors by class: " + json.dumps(errors, sort_keys=True))
    by_kind: dict[str, list[str]] = {}
    for r in ops.records:
        by_kind.setdefault(r["kind"], []).append(f"{r['seconds']:.3f}")
    lines.append("op seconds in order: " + "; ".join(f"{k} [{', '.join(v)}]" for k, v in by_kind.items()))
    if units:
        metrics = {k: (v, E2E_UNITS[k]) for k, v in metrics.items()}
    return {
        "correct": not bad and not any(r["error"] == "WrongAnswer" for r in ops.records),
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    t_process = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["qsv_ops", "route_pipeline", "append_chain", "near_dup_groups"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "qsvspark", "__init__.py")):
        print(f"perfbench: no qsvspark package in {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)
    try:
        result, lines = run(args, work, t_process)
    except Killed as k:
        from harness import reap_children

        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        reap_children()
        print(f"signal: {k} received; the run was stopped before it finished "
              "(a kill is not counted as an op failure)", file=sys.stderr)
        return 128 + k.signum
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
