"""Benchmark runner. Prints ONE bounded-size JSON summary line:
  {"metric": ..., "value": total_sec, "value_steady": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "extensions": {...}, "sf": ...,
   "pipeline": {rows, seconds, sequences_per_sec},
   "scaling": {rows, scaling_efficiency, counts_match, hw_pair_efficiency,
               job_vs_hw_ceiling, rep_errors},
   "section_s": {section: wall sec}, "detail_file": "BENCH_DETAIL_<run_id>.json"}
and writes the full detail (every scaling rep, the bandwidth probes,
per-sink counts) to that file next to this one. Each run writes its own
file, so a run never overwrites a committed record.

Headline queries run at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS]. The scaling section evidences the north-rule
two-cluster-size criterion in-sandbox: the same pipeline job at 1 vs 4
taskset-pinned cores on the SAME pre-materialized parquet input (the
$QSVSPARK_BENCH_SCALE_ROWS rows the pipeline section wrote; fresh JVM per
rep, JVM/Python startup excluded), as at most 3 interleaved (local[4],
local[1]) rep pairs, reporting the ratio of per-level minimum rep times
  eff = (seconds_1 / seconds_4) / 4.
A memcpy-bandwidth pair probe before the first rep and after the last
gives the machine's own 1v4 efficiency, the noise band of that number.
Every rep is individually fenced (timeout / crash → recorded in
``scaling.errors``); the bench ALWAYS emits its final JSON line.
Delivery is kill-proof: the summary line is (re)printed after EVERY
completed section with ``"partial": true``, SIGTERM/SIGINT flush the
current state before exiting, and $QSVSPARK_BENCH_TOTAL_BUDGET (default
3200 s, 0 = off) is a total-run deadline the scaling section keeps with a
flush margin — so a consumer that takes the last parseable stdout line
always gets the most complete state.

Methodology notes (full analysis in BASELINE.md):
  - the input table is materialized ONCE (untimed) and read by every
    timed run — the north-rule job reads an existing Iceberg table, so
    timing synthetic-data generation would measure the wrong thing;
  - the warehouse + input live on tmpfs when available: a single local
    disk serializes concurrent writers, which measures the disk, not the
    pipeline — on a real cluster the sinks are distributed storage whose
    aggregate bandwidth scales with executors;
  - each measurement is a fresh JVM at steady state (small warmup run
    first) — mirroring long-running executors, not cold starts.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the pipeline section's input; every scaling rep reads all of it
SCALE_ROWS = int(os.environ.get("QSVSPARK_BENCH_SCALE_ROWS", "4000000"))
SKIP_SCALING = os.environ.get("QSVSPARK_BENCH_SKIP_SCALING", "") == "1"
# total-run deadline, measured from process start (0 disables it): the
# scaling section must leave the process time to flush the final summary
# line BEFORE an outer timeout kills it — round 4's recorded
# artifact was rc=124/parsed:null because the summary never printed.
_RUN_T0 = time.time()
TOTAL_BUDGET = int(os.environ.get("QSVSPARK_BENCH_TOTAL_BUDGET", "3200"))
FLUSH_MARGIN_S = 60


def _total_deadline() -> float:
    """Absolute unix time the whole bench run must respect; +inf when
    the total budget is disabled."""
    return _RUN_T0 + TOTAL_BUDGET if TOTAL_BUDGET > 0 else float("inf")

HEADLINE = [
    "select", "isin_numeric", "grep", "sed", "sort_head", "uniq", "count",
    "pivot", "timeline", "timeline_sum", "timeslice", "join", "stats",
    "changetz", "convert",
]

# training-data-pipeline extension ops, timed separately (the headline
# total stays comparable across rounds / to BASELINE.md §4.1)
EXTENSIONS = [
    "dedup_exact", "minhash_pairs", "simhash", "text_quality", "lang_id",
    "similarity_topk", "similarity_ivf", "multimodal_features",
    # r4 token-pipeline ops
    "seq_pack", "contamination", "pii_scrub", "text_repetition",
    # r5: the materialized training-sequence table (full value oracle)
    "pack_sequences",
    # r5 wave 2: line-dup signals, vocabulary head, exact span pairs,
    # SemDeDup-style semantic dedup, pair-graph connected components
    "line_dups", "vocab_topk", "span_pairs", "semdedup", "dedup_groups",
]

# skew stress: salted vs unsalted on a deliberately hot key (50% of rows
# on one source). Row count sized so the aggregate/join dominates noise.
SKIP_SKEW = os.environ.get("QSVSPARK_BENCH_SKIP_SKEW", "") == "1"
SKEW_ROWS = int(os.environ.get("QSVSPARK_BENCH_SKEW_ROWS", "16000000"))

# sf1 decade-of-scale section: pipeline + increment at 10× the standard
# scaling rows, plus a headline-query subset over 10×-replicated
# lineitem/orders (= TPC-H sf1 row counts). One direct decade of evidence
# that per-row rates stay flat (manifest JSON, footer enumeration, and
# IVF sampling caps are all exercised at the larger size).
SKIP_SF1 = os.environ.get("QSVSPARK_BENCH_SKIP_SF1", "") == "1"
SF1_ROWS = int(os.environ.get("QSVSPARK_BENCH_SF1_ROWS", "20000000"))
SF1_QUERIES = ["select", "isin_numeric", "uniq", "count", "pivot", "stats"]
SF1_COPIES = 10

# ~bytes of snappy parquet per synth-token row (avg 264 int32 tokens,
# near-incompressible); the sf1 section holds input + routed ≈ 2 copies
SF1_BYTES_PER_ROW = 1100


def _default_driver_mem() -> str:
    """Size the local-mode driver heap from the box: this one JVM stands
    in for a whole cluster's executors, so the 8g library default (fine
    for tests at parallelism 4) starves 32 concurrent tasks routing tens
    of GB — the first r4 full run OOMed the route write's parquet
    buffers at sf1. A quarter of RAM, capped at 32g, leaves the rest for
    tmpfs working sets and the OS."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
        gb = kb >> 20
    except (OSError, StopIteration, ValueError):
        gb = 16
    return f"{min(32, max(8, gb // 4))}g"


os.environ.setdefault("QSVSPARK_DRIVER_MEM", _default_driver_mem())


def _fast_dir() -> str:
    return "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def _fit_sf1_rows(rows: int) -> tuple[int, str | None]:
    """Largest-that-fits guard: the sf1 working set is ~2 copies of the
    token table on _fast_dir (often tmpfs = RAM). Shrink the row count
    (in 1M steps) until input+routed fits in 60% of the free space, so
    the decade run degrades to largest-that-fits instead of ENOSPC/OOM
    — the 40M default needs ~84 GB free; this box's /dev/shm plus a
    32 GB driver heap cannot hold it, which killed the first r4 run."""
    try:
        st = os.statvfs(_fast_dir())
        free = st.f_bavail * st.f_frsize
    except OSError:
        return rows, None
    budget = int(free * 0.6)
    fitted = min(rows, max(1_000_000, budget // (2 * SF1_BYTES_PER_ROW)))
    fitted = (fitted // 1_000_000) * 1_000_000
    if fitted < rows:
        return fitted, (
            f"sf1 rows reduced {rows} -> {fitted}: working set ~"
            f"{2 * rows * SF1_BYTES_PER_ROW >> 30} GiB vs "
            f"{free >> 30} GiB free on {_fast_dir()}"
        )
    return rows, None


def _materialize_input(spark, rows: int, path: str) -> None:
    from qsvspark.pipeline import synth_tokens

    (
        synth_tokens(spark, rows, seed=42, num_partitions=64)
        .write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.writer.version", "v2")
        .parquet(path, compression="snappy")
    )


def _scaling_worker(cores: int, rows: int, input_path: str) -> None:
    """Subprocess entry: read the whole shared input at local[cores],
    run the pipeline, print one JSON line."""
    from qsvspark.session import get_spark
    from qsvspark.pipeline import NorthStarPipeline

    base = _fast_dir()
    wh = tempfile.mkdtemp(prefix=f"bench_ns_{cores}_", dir=base)
    try:
        spark = get_spark(f"bench-scale-{cores}", parallelism=cores,
                          shuffle_partitions=cores)
        # JIT/codegen + Python-worker warmup on a tiny slice — we measure
        # steady-state throughput (what a long-running cluster job sees).
        warm_wh = tempfile.mkdtemp(prefix="bench_warm_", dir=base)
        warm = spark.read.parquet(input_path).limit(4000)
        NorthStarPipeline(spark, warm_wh).run(warm, "warmup")
        shutil.rmtree(warm_wh, ignore_errors=True)

        tokens = spark.read.parquet(input_path)
        pipe = NorthStarPipeline(spark, wh)
        t0 = time.time()
        m = pipe.run(tokens, input_fingerprint=f"bench-{rows}-42-{cores}")
        wall = time.time() - t0
        print(json.dumps({
            "cores": cores, "rows": rows, "seconds": round(wall, 3),
            "sequences_per_sec": round(rows / wall, 1),
            "stages": m["stages"],
            "per_sink_counts": m["per_sink_counts"],
        }))
        spark.stop()
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def _worker_cmd(cores: int, rows: int, input_path: str) -> list[str]:
    cmd = [sys.executable, __file__, "--scaling-worker", str(cores),
           str(rows), input_path]
    # Pin the WHOLE process tree (JVM task threads + GC + Python workers)
    # to exactly `cores` CPUs: a real N-core executor container confines
    # all of that to N cores, whereas unpinned local[N] lets Python/GC
    # free-ride on idle host cores — inflating low-N throughput and
    # understating scaling efficiency.
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    return cmd


def _worker_env(cores: int) -> dict:
    # The JVM sizes GC/JIT/netty pools from the MACHINE's 32 CPUs unless
    # told otherwise — ~23 ParallelGC threads inside a 4-core pin churns
    # the pin with context switches (measured: ~10% route-stage work
    # inflation). ActiveProcessorCount makes the JVM size itself for the
    # container, exactly as a cgroup-limited executor would.
    env = dict(os.environ)
    env["QSVSPARK_DRIVER_JAVA_OPTS"] = (
        "-XX:+UseParallelGC -Dio.netty.allocator.maxOrder=12 "
        f"-XX:ActiveProcessorCount={cores}"
    )
    return env


# The N vs 4N pair: 1 vs 4 pinned cores. Higher pairs measure this VM's
# DRAM-bandwidth saturation, not the engine (aggregate memcpy bandwidth
# scales 8→32 procs at only ~0.57 efficiency here; BASELINE.md §4.3). On
# a real cluster each 4N-executor node brings its own memory
# controllers, so the low-N pair is the faithful proxy.
LO, HI = 1, 4
MAX_PAIRS = 3
MIN_REP_S = 30  # a rep with less time than this left is not started


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


_BW_SNIPPET = (
    "import numpy, time, sys\n"
    "a = numpy.ones(8 << 20, dtype=numpy.float64)\n"
    "b = numpy.empty_like(a)\n"
    "t0 = time.time(); n = 0\n"
    "while time.time() - t0 < 1.5:\n"
    "    numpy.copyto(b, a); n += 1\n"
    "print(n * a.nbytes * 2 / (time.time() - t0))\n"
)


def _bandwidth_probe(procs: int) -> float | None:
    """Aggregate memcpy GB/s with `procs` concurrent processes pinned to
    cores 0..procs-1 — the same pin the scaling rep at that level uses.
    Emitted alongside each efficiency number so a run that lands in a
    bandwidth-degraded host phase (neighbors saturating the memory
    controller) is visible in the artifact: the route stage is copy-bound
    (BASELINE.md §4.3), so the job's scaling tracks this curve."""
    try:
        ps = []
        for i in range(procs):
            cmd = [sys.executable, "-c", _BW_SNIPPET]
            if shutil.which("taskset"):
                cmd = ["taskset", "-c", str(i % procs)] + cmd
            ps.append(subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True))
        total = 0.0
        for p in ps:
            out, _ = p.communicate(timeout=30)
            total += float(out.strip().splitlines()[-1])
        return round(total / 1e9, 2)
    except Exception:  # noqa: BLE001 — context metric only, never fatal
        return None


def _pair_probe(p_lo: int, p_hi: int) -> dict | None:
    """One memcpy-bandwidth measurement at both pair levels →
    {lo_gbps, hi_gbps, hw_eff, plausible}.

    plausible=False marks a reading the scheduler ruined rather than the
    memory bus: a 1-proc memcpy that reports < 1 GB/s was CPU-STARVED
    (descheduled by co-tenants — this host measures ~20 GB/s idle), and a
    pair efficiency > 1.15 is physically impossible for memcpy scaling
    (observed: a starved lo probe of 0.07 GB/s yielding 'eff 133').
    An implausible reading is kept in the detail but never enters the
    reported hardware efficiency — one starved probe would otherwise
    poison the recorded scaling artifact."""
    bw_lo, bw_hi = _bandwidth_probe(p_lo), _bandwidth_probe(p_hi)
    if not (bw_lo and bw_hi):
        return None
    eff = round((bw_hi / bw_lo) / (p_hi / p_lo), 3)
    return {
        "lo_gbps": bw_lo, "hi_gbps": bw_hi, "hw_eff": eff,
        "plausible": bw_lo >= 1.0 and eff <= 1.15,
    }


def _one_rep(
    cores: int, rows: int, input_path: str, timeout: float | None, errors: list,
    tag: str,
) -> dict | None:
    """Run one fenced worker rep; any failure is recorded and returns None.

    The worker runs in its own process group and the WHOLE group is
    killed on timeout — subprocess.run's timeout only kills the direct
    child (taskset), leaving the JVM grandchild alive to eat cores and
    contaminate every later rep. A timed-out worker's partial stdout is
    still parsed: the worker prints its result line BEFORE spark.stop(),
    so a JVM that hangs on shutdown (observed: a 45 s job blowing a
    600 s fence) does not lose an already-finished measurement.
    """
    import signal

    stdout = ""
    try:
        p = subprocess.Popen(
            _worker_cmd(cores, rows, input_path),
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            env=_worker_env(cores), start_new_session=True,
        )
        try:
            stdout, stderr = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            try:
                # process group is dead; this reaps and returns whatever
                # the worker had already written (docs: retrying
                # communicate after a timeout loses no output)
                stdout, _ = p.communicate(timeout=10)
            except Exception:  # noqa: BLE001
                stdout = ""
            lines = [l for l in (stdout or "").splitlines() if l.startswith("{")]
            if lines:  # job finished; only shutdown hung
                errors.append(f"{tag} JVM shutdown hung (result salvaged)")
                return json.loads(lines[-1])
            errors.append(f"{tag} timed out after {int(timeout)}s")
            return None
    except Exception as e:  # noqa: BLE001 — bench must always emit
        errors.append(f"{tag}: {e!r}"[:300])
        return None
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if not lines:
        errors.append(f"{tag} rc={p.returncode}: " + stderr[-300:].replace("\n", " "))
        return None
    return json.loads(lines[-1])


def _run_scaling(input_path: str, rows: int) -> dict:
    """Pipeline throughput at local[LO] vs local[HI] on the whole input:
    at most MAX_PAIRS interleaved (HI, LO) rep pairs, so a slow host
    phase cannot land on one level only, with one memcpy pair probe
    before the first rep and one after the last (the two readings are
    the noise band of the number).

    The only deadline is the total-run one, less the flush margin and
    the first probe's cost (the closing probe must fit too). A pair
    starts only when the time left holds the longest pair seen so far,
    and a rep only when MIN_REP_S are left; each rep's timeout is the
    time left (none when TOTAL_BUDGET=0 turns the deadline off). A failed rep lands in ``errors`` and the function ALWAYS
    returns a dict, so one bad rep cannot lose the artifact.
    ``scaling_efficiency`` is the ratio of the per-level minimum rep
    times over HI/LO: the minimum is the steady-state estimate on a box
    with ±30% run-to-run noise (BASELINE.md §4.4)."""
    t_start = time.time()
    out: dict = {
        "pair": (f"{LO} vs {HI} cores (process tree pinned via taskset; "
                 "interleaved reps, ratio of per-level minima)"),
        "rows": rows, "runs": {}, "errors": [], "probes": [],
    }

    def probe() -> None:
        p = _pair_probe(LO, HI)
        if p is not None:
            p["unix"] = int(time.time())
            out["probes"].append(p)

    probe()
    end = _total_deadline() - FLUSH_MARGIN_S - (time.time() - t_start)
    reps: dict[int, list[dict]] = {HI: [], LO: []}
    pair_cost = 0.0
    for i in range(1, MAX_PAIRS + 1):
        if end - time.time() < max(pair_cost, MIN_REP_S):
            break
        t0 = time.time()
        for cores in (HI, LO):
            left = end - time.time()
            if left < MIN_REP_S:
                break
            _log(f"[bench] scaling pair {i}/{MAX_PAIRS}: local[{cores}] "
                 f"(timeout {left:.0f}s)")
            # no deadline (TOTAL_BUDGET=0): the rep runs unfenced
            timeout = left if math.isfinite(left) else None
            run = _one_rep(cores, rows, input_path, timeout, out["errors"],
                           f"local[{cores}] pair {i}")
            if run is not None:
                _log(f"[bench] local[{cores}] pair {i}: {run['seconds']}s")
                reps[cores].append(run)
        pair_cost = max(pair_cost, time.time() - t0)
    probe()

    out["rep_seconds"] = {f"local[{c}]": [r["seconds"] for r in runs]
                          for c, runs in reps.items()}
    for cores, runs in reps.items():
        if runs:
            out["runs"][f"local[{cores}]"] = min(runs, key=lambda r: r["seconds"])
    eff = None
    if reps[LO] and reps[HI]:
        lo_s = out["runs"][f"local[{LO}]"]["seconds"]
        hi_s = out["runs"][f"local[{HI}]"]["seconds"]
        eff = round((lo_s / hi_s) / (HI / LO), 3)
        out["counts_match"] = len({
            json.dumps(r["per_sink_counts"], sort_keys=True)
            for r in reps[LO] + reps[HI]
        }) == 1
    hw = [p["hw_eff"] for p in out["probes"] if p["plausible"]]
    hw_eff = round(sum(hw) / len(hw), 3) if hw else None
    out["scaling_efficiency"] = eff
    out["hw_pair_efficiency"] = hw_eff
    out["job_vs_hw_ceiling"] = round(eff / hw_eff, 3) if eff and hw_eff else None
    return out


def _noop_time(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def _run_skew(spark) -> dict:
    """Salted vs unsalted on a hot-key distribution (50% of rows on one
    source, and for the aggregate also one (sink, source, bucket) group).

    Two measurements, reported honestly:
      agg  — aggregate_stage vs aggregate_stage_salted. Catalyst's
             count_distinct expand shuffles on (group, doc_id) and
             partial aggregation collapses the second exchange, so the
             aggregate is skew-NEUTRAL by plan — salting neither helps
             nor hurts; the section records that plan fact rather than
             manufacturing a win.
      join — a sort-merge enrich join with broadcast disabled (the
             dim-outgrew-broadcast regime at 10^12 rows): the hot key
             lands on one reducer, and salted_join spreads it. This is
             where the north rule's salted-repartition requirement has
             teeth; measured ~3× on this box.
    Identical results are asserted for both pairs (collected — outputs
    are aggregate-sized).
    """
    from pyspark.sql import functions as F
    from qsvspark.pipeline.northstar import (
        aggregate_stage, aggregate_stage_salted, salted_join,
    )

    base = _fast_dir()
    d = tempfile.mkdtemp(prefix="bench_skew_", dir=base)
    out: dict = {"rows": SKEW_ROWS, "hot_fraction": 0.5}
    try:
        df = spark.range(0, SKEW_ROWS, numPartitions=64)
        rid = F.col("id")
        u = F.pmod(F.xxhash64(rid, F.lit(7)), F.lit(1000)) / 1000.0
        hotmask = u < 0.5
        source = F.when(hotmask, F.lit("src-00")).otherwise(
            F.format_string(
                "src-%02d", F.pmod(F.xxhash64(rid, F.lit(8)), F.lit(19)) + 1
            )
        )
        n_tok = F.when(hotmask, F.lit(64)).otherwise(
            F.lit(16) + F.pmod(F.xxhash64(rid, F.lit(9)), F.lit(497))
        ).cast("int")
        sink = F.when(hotmask, F.lit("sink-0")).otherwise(
            F.format_string("sink-%d", F.pmod(F.xxhash64(rid, F.lit(10)), F.lit(4)))
        )
        fact_path = os.path.join(d, "fact")
        df.select(
            F.format_string("doc-%012d", rid).alias("doc_id"),
            n_tok.alias("n_tok"), source.alias("source"), sink.alias("sink"),
        ).write.mode("overwrite").parquet(fact_path)
        dim_path = os.path.join(d, "dim")
        spark.range(0, 20).select(
            F.format_string("src-%02d", F.col("id")).alias("source"),
            F.sha2(F.col("id").cast("string"), 256).alias("dim_payload"),
        ).write.mode("overwrite").parquet(dim_path)
        fact = spark.read.parquet(fact_path)
        dim = spark.read.parquet(dim_path)
        fact.limit(1000).groupBy("sink").count().collect()  # warm

        # aggregate pair: best of 2 reps each, interleaved
        agg_t = {"unsalted": [], "salted": []}
        for _ in range(2):
            agg_t["unsalted"].append(_noop_time(aggregate_stage(fact)))
            agg_t["salted"].append(_noop_time(aggregate_stage_salted(fact)))
        a = sorted(map(tuple, aggregate_stage(fact).collect()))
        b = sorted(map(tuple, aggregate_stage_salted(fact).collect()))
        out["agg"] = {
            "unsalted_sec": min(agg_t["unsalted"]),
            "salted_sec": min(agg_t["salted"]),
            "speedup": round(min(agg_t["unsalted"]) / min(agg_t["salted"]), 2),
            "results_match": a == b,
            "skew_neutral_by_plan": True,
            "note": ("count_distinct expand shuffles on (group keys, doc_id) "
                     "and partial agg collapses the second exchange — the hot "
                     "group is already spread; salting is a no-op BY PLAN"),
        }

        # join pair: broadcast disabled = the dim-too-big regime
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            def plain():
                return fact.join(dim, "source").groupBy("source").agg(
                    F.count(F.lit(1)).alias("c"),
                    F.sum(F.length("dim_payload")).alias("s"),
                )

            def salted():
                return salted_join(
                    fact, dim, "source", salt_buckets=32, salt_from=["doc_id"]
                ).groupBy("source").agg(
                    F.count(F.lit(1)).alias("c"),
                    F.sum(F.length("dim_payload")).alias("s"),
                )

            join_t = {"plain": [], "salted": []}
            for _ in range(2):
                join_t["plain"].append(_noop_time(plain()))
                join_t["salted"].append(_noop_time(salted()))
            ja = sorted(map(tuple, plain().collect()))
            jb = sorted(map(tuple, salted().collect()))
            out["join"] = {
                "plain_smj_sec": min(join_t["plain"]),
                "salted_sec": min(join_t["salted"]),
                "speedup": round(min(join_t["plain"]) / min(join_t["salted"]), 2),
                "results_match": ja == jb,
                "dim_rows": 20,
            }
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


def _run_sf1(spark, queries: dict, sf01_steady: dict) -> dict:
    """One decade of direct scale evidence: the pipeline + an increment at
    SF1_ROWS (10× the standard bench pipeline), and a headline-query
    subset over 10×-replicated lineitem/orders (TPC-H sf1 row counts,
    built deterministically by unioning key-shifted copies of the sf0.1
    parquet). Reports per-row rate ratios vs the same-run sf0.1 steady
    timings — flat constants show as ratios ≈ 1."""
    from pyspark.sql import functions as F
    from qsvspark.pipeline import NorthStarPipeline
    from qsvspark.pipeline.tokens import synth_tokens

    base = _fast_dir()
    d = tempfile.mkdtemp(prefix="bench_sf1_", dir=base)
    rows, fit_note = _fit_sf1_rows(SF1_ROWS)
    out: dict = {"rows_tokens": rows, "table_copies": SF1_COPIES}
    if fit_note:
        out["fit_note"] = fit_note
        _log(f"[bench] {fit_note}")
    try:
        # -- pipeline at 10× ------------------------------------------
        input_path = os.path.join(d, "tokens")
        _materialize_input(spark, rows, input_path)
        wh = os.path.join(d, "wh")
        pipe = NorthStarPipeline(spark, wh)
        tokens = spark.read.parquet(input_path)
        t0 = time.time()
        pipe.run(tokens, input_fingerprint=f"bench-sf1-{rows}")
        wall = round(time.time() - t0, 3)
        out["pipeline"] = {
            "seconds": wall,
            "sequences_per_sec": round(rows / wall, 1),
        }
        inc_rows = rows // 10
        day2 = synth_tokens(spark, inc_rows, id_offset=rows)
        t0 = time.time()
        im = pipe.run_increment(day2, f"bench-sf1-inc-{inc_rows}")
        wall = round(time.time() - t0, 3)
        out["increment"] = {
            "delta_rows": im["delta_rows"],
            "seconds": wall,
            "sequences_per_sec": round(im["delta_rows"] / wall, 1),
        }
        shutil.rmtree(os.path.join(d, "tokens"), ignore_errors=True)

        # -- headline subset over 10× tables --------------------------
        for tbl, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
            src = spark.read.parquet(os.path.join(SF_DIR, f"{tbl}.parquet"))
            shift = src.agg(F.max(key)).first()[0] + 1
            parts = [
                src.withColumn(key, F.col(key) + F.lit(i * shift))
                for i in range(SF1_COPIES)
            ]
            big = parts[0]
            for p in parts[1:]:
                big = big.unionByName(p)
            big.write.mode("overwrite").parquet(os.path.join(d, f"{tbl}.parquet"))
        q_cold, q_steady, ratios = {}, {}, {}
        for name in SF1_QUERIES:
            df = queries[name](spark, d)
            q_cold[name] = _noop_time(df)
            q_steady[name] = _noop_time(df)
            base_s = sf01_steady.get(name)
            if base_s and base_s > 0:
                ratios[name] = round((q_steady[name] / SF1_COPIES) / base_s, 2)
        out["queries"] = q_cold
        out["queries_steady"] = q_steady
        # per-row rate at sf1 / per-row rate at sf0.1 (steady); ≈1 = flat
        out["per_row_rate_ratio"] = ratios
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


def _emit_artifacts(
    summary: dict, detail: dict, detail_dir: str, max_line: int = 1500
) -> str:
    """Stamp BOTH artifacts with one shared run id and write the detail
    file atomically (tmp + rename) to detail_dir/BENCH_DETAIL_<run_id>.json,
    which the summary names in ``detail_file``. BENCH_r*.json and its
    detail file can never describe different executions (round-3's
    committed detail file was from an earlier run than its summary), and
    no run overwrites another run's detail file.
    Returns the bounded summary line to print."""
    run_id = (summary.get("run_id") or detail.get("run_id")
              or f"run-{int(time.time())}-{os.getpid()}")
    summary["run_id"] = run_id
    detail["run_id"] = run_id
    summary["detail_file"] = f"BENCH_DETAIL_{run_id}.json"
    detail_path = os.path.join(detail_dir, summary["detail_file"])
    tmp = detail_path + ".tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(detail, f, indent=2)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, detail_path)
    except OSError as e:  # noqa: PERF203 — the summary line must still print
        summary.setdefault("errors_count", 0)
        summary["detail_write_error"] = repr(e)[:200]
    # belt-and-braces: stay well inside a 2,000-byte stdout tail
    # capture. The per-query maps go first (the detail file always
    # carries them), then the evidence sections; totals, pipeline and
    # scaling stay.
    line = json.dumps(summary)
    for *path, key in _LINE_DROP_ORDER:
        if len(line) <= max_line:
            break
        parent = summary
        for p in path:
            parent = parent.get(p) or {}
        parent.pop(key, None)
        line = json.dumps(summary)
    return line


_LINE_DROP_ORDER = (
    ("queries",), ("extensions",), ("extensions_steady",),
    ("sf1", "per_row_rate_ratio"), ("section_probes",), ("skew",), ("sf1",),
)


def _assemble(state: dict) -> tuple[dict, dict]:
    """Build the (summary, detail) artifact pair from whatever sections
    have completed so far. Called after EVERY section (and from the
    signal handler), so a kill at any point leaves the last flushed
    stdout line parseable — round 4's driver artifact was rc=124 /
    parsed:null because the one-shot summary at the end never ran."""
    timings = state.get("timings") or {}
    steady = state.get("steady") or {}
    ext_timings = state.get("ext_timings") or {}
    ext_steady = state.get("ext_steady") or {}
    query_errors = state.get("query_errors") or {}
    pipeline = state.get("pipeline")
    skew = state.get("skew")
    sf1 = state.get("sf1")
    scaling = state.get("scaling")
    total = round(sum(timings.values()), 3)
    total_steady = round(sum(steady.values()), 3) if steady else None

    detail = {
        "metric": "qsvspark headline operator suite + parse-route-aggregate pipeline",
        "value": total,
        "value_steady": total_steady,
        "unit": "sec",
        "queries": timings,
        "queries_steady": steady,
        "extensions": ext_timings,
        "extensions_steady": ext_steady,
        "section_probes": state.get("section_probes") or {},
        "section_s": state.get("section_s") or {},
        "sf": state["sf"],
        "pipeline": pipeline,
        "skew": skew,
        "sf1": sf1,
        "scaling": scaling,
        "run_id": state["run_id"],
    }
    if query_errors:
        detail["errors"] = query_errors

    scaling_summary = None
    if scaling:
        scaling_summary = {
            k: scaling.get(k)
            for k in ("rows", "scaling_efficiency", "counts_match",
                      "hw_pair_efficiency", "job_vs_hw_ceiling")
        }
        scaling_summary["rep_errors"] = len(scaling.get("errors") or [])
    pipeline_summary = None
    if pipeline:
        pipeline_summary = {k: pipeline[k]
                            for k in ("rows", "seconds", "sequences_per_sec")
                            if k in pipeline}
        if "increment" in pipeline:
            pipeline_summary["increment_seq_per_sec"] = (
                pipeline["increment"]["sequences_per_sec"]
            )
        if "pack" in pipeline:
            pipeline_summary["pack_rows_per_sec"] = (
                pipeline["pack"]["rows_per_sec"]
            )
        if "sequences" in pipeline:
            pipeline_summary["materialize_tokens_per_sec"] = (
                pipeline["sequences"]["tokens_per_sec"]
            )
    skew_summary = None
    if skew:
        skew_summary = {
            "rows": skew["rows"],
            "agg_salted_speedup": skew.get("agg", {}).get("speedup"),
            "agg_skew_neutral_by_plan": skew.get("agg", {}).get(
                "skew_neutral_by_plan"
            ),
            "join_salted_speedup": skew.get("join", {}).get("speedup"),
            "results_match": (
                skew.get("agg", {}).get("results_match")
                and skew.get("join", {}).get("results_match")
            ),
        }
    sf1_summary = None
    if sf1:
        sf1_summary = {
            "rows_tokens": sf1["rows_tokens"],
            "pipeline_seq_per_sec": sf1.get("pipeline", {}).get(
                "sequences_per_sec"
            ),
            "increment_seq_per_sec": sf1.get("increment", {}).get(
                "sequences_per_sec"
            ),
            "per_row_rate_ratio": sf1.get("per_row_rate_ratio"),
        }
    summary = {
        "metric": detail["metric"],
        "value": total,
        "value_steady": total_steady,
        "unit": "sec",
        "queries": timings,
        "extensions": ext_timings,
        "extensions_steady": ext_steady,
        "section_probes": state.get("section_probes") or {},
        "section_s": state.get("section_s") or {},
        "sf": state["sf"],
        "pipeline": pipeline_summary,
        "skew": skew_summary,
        "sf1": sf1_summary,
        "scaling": scaling_summary,
        # a kill signal is not a query error: reported on its own
        "errors_count": sum(1 for k in query_errors if k != "__signal__"),
        "signal": query_errors.get("__signal__"),
        "run_id": state["run_id"],
        "sections_done": list(state.get("sections_done") or []),
    }
    return summary, detail


def _flush_state(state: dict, detail_dir: str, final: bool = False) -> str:
    """Emit the current artifacts: write the detail file (atomic) and
    print the bounded summary line to stdout. Non-final flushes carry
    ``"partial": true``; a consumer that takes the LAST parseable JSON
    line therefore always sees the most complete state the run reached."""
    summary, detail = _assemble(state)
    if not final:
        summary["partial"] = True
    line = _emit_artifacts(summary, detail, detail_dir)
    print(line, flush=True)
    return line


def _install_signal_flush(state: dict, detail_dir: str):
    """SIGTERM/SIGINT → flush whatever sections completed, then exit
    128+sig. The driver kills the bench with `timeout` (SIGTERM first);
    without this trap the in-flight section's results and the summary
    line die with the process."""
    import signal

    def handler(sig, frame):  # noqa: ARG001
        try:
            state.setdefault("query_errors", {})["__signal__"] = (
                f"killed by signal {sig} after "
                f"{round(time.time() - _RUN_T0, 1)}s"
            )
            _flush_state(state, detail_dir, final=False)
        finally:
            os._exit(128 + sig)

    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, handler)
    return handler


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling-worker":
        _scaling_worker(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
        return

    from qsvspark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("qsvspark-bench", parallelism=CPUS, shuffle_partitions=CPUS)
    qs = dict(entrymod.queries())
    # registry-retired variants (e.g. timeline_sum, rotated out of the
    # 50-slot driver budget) keep their module-level q_<name> functions —
    # resolve them so the 15-query headline total stays comparable to
    # every earlier round's artifact
    for _section_names in (HEADLINE, EXTENSIONS):
        for _n in _section_names:
            if _n not in qs and hasattr(entrymod, f"q_{_n}"):
                qs[_n] = getattr(entrymod, f"q_{_n}")
    timings: dict[str, float] = {}
    steady: dict[str, float] = {}
    ext_timings: dict[str, float] = {}
    ext_steady: dict[str, float] = {}
    query_errors: dict[str, str] = {}
    section_probes: dict[str, float | None] = {}
    section_s: dict[str, float] = {}
    state: dict = {
        "run_id": f"run-{int(time.time())}-{os.getpid()}",
        "sf": float(SF_DIR.rstrip("/").split("sf")[-1]),
        "sections_done": [],
        "timings": timings,
        "steady": steady,
        "ext_timings": ext_timings,
        "ext_steady": ext_steady,
        "query_errors": query_errors,
        "section_probes": section_probes,
        "section_s": section_s,
    }
    _install_signal_flush(state, REPO)
    lap_t0 = _RUN_T0

    def _lap(name: str) -> None:
        """Record ``name``'s wall seconds: the time since the last lap."""
        nonlocal lap_t0
        now = time.time()
        section_s[name] = round(now - lap_t0, 1)
        lap_t0 = now

    def _section_done(name: str) -> None:
        _lap(name)
        state["sections_done"].append(name)
        _flush_state(state, REPO)
    # Untimed warmup: first-use JVM costs (codegen JIT, noop-sink init,
    # Arrow Python-worker spawn) land on whichever query runs first —
    # rounds 1–2 charged ~1.4 s of it to `select`. Steady state is what
    # the suite measures (the scaling section already excludes warmup);
    # noted for cross-round comparability in BASELINE.md §4.
    try:
        import pandas as _wpd
        from pyspark.sql.functions import pandas_udf as _wpudf

        # real annotation OBJECTS, not `s: _wpd.Series` hints: this
        # module has `from __future__ import annotations`, which turns
        # hints into strings that pandas_udf's get_type_hints cannot
        # resolve (the alias lives in main()'s locals, not module
        # globals) — the warmup silently failed UNSUPPORTED_SIGNATURE in
        # every round until r5, charging first-use JVM costs to the
        # first queries' cold numbers
        def _warm_fn(s):
            return s * 1.0

        _warm_fn.__annotations__ = {"s": _wpd.Series, "return": _wpd.Series}
        _warm_udf = _wpudf(_warm_fn, "double")

        warm = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
        warm = warm.limit(20000).withColumn("__w", _warm_udf(warm["value"]))
        warm.write.format("noop").mode("overwrite").save()
        # warm EVERY Python worker, not just the one task limit() leaves:
        # the first mapInPandas op otherwise pays CPUS × fork+import-pandas
        # (measured: 13 s charged to multimodal_features at 32 threads)
        def _warm_all(it):
            import hashlib  # noqa: F401 — warm the module cache the
            import numpy    # noqa: F401 — extension UDFs import on first use

            for b in it:
                yield b

        spark.range(0, CPUS * 4, 1, CPUS).mapInPandas(
            _warm_all, "id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001 — warmup must never fail the bench
        _log(f"[bench] warmup skipped: {e!r}")
    # 1-proc memcpy probes bracketing each timed section: a cold shot
    # that lands in a host-degraded phase (neighbors saturating the
    # memory bus — this box measures ~20 GB/s idle, observed dips to
    # 4 GB/s) is attributable from the artifact alone, not only from
    # BASELINE.md prose (round-3 extension regressions were exactly this
    # ambiguity).
    _lap("setup")  # session start and warmup
    section_probes["before_headline_gbps"] = _bandwidth_probe(1)
    for name in HEADLINE:
        try:
            df = qs[name](spark, SF_DIR)
            t0 = time.time()
            # a real action that materializes every row without driver collect
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.time() - t0, 3)
            # steady-state rep: same plan re-executed — separates per-query
            # fixed costs (first file listing, codegen JIT, Arrow worker
            # spin-up) from throughput. Fixed costs are irrelevant at
            # 100 TB where a query runs for minutes; `value` stays the
            # cold single-shot for cross-round comparability.
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            steady[name] = round(time.time() - t0, 3)
        except Exception as e:  # noqa: BLE001 — one bad query must not kill the artifact
            query_errors[name] = repr(e)[:300]
        _log(f"[bench] headline {name}: {timings.get(name, 'ERROR')} "
             f"(steady {steady.get(name, '-')})")
    section_probes["between_gbps"] = _bandwidth_probe(1)
    _section_done("headline")

    # iterative ops run their driver loop (convergence-checked label
    # propagation) at BUILD time — timing only the returned frame's scan
    # would miss all the real work, so their reps re-run the build
    iterative = {"dedup_groups"}
    for name in EXTENSIONS:
        try:
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            build = time.time() - t0
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            ext_timings[name] = round(
                time.time() - t0 + (build if name in iterative else 0), 3
            )
            # steady rep, same rationale as the headline: fixed per-query
            # costs are irrelevant at 100 TB; the cold shot stays for
            # cross-round comparability (round-3's extension "regressions"
            # were unbracketed cold shots in a degraded host phase)
            t0 = time.time()
            if name in iterative:
                df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            ext_steady[name] = round(time.time() - t0, 3)
        except Exception as e:  # noqa: BLE001
            query_errors[name] = repr(e)[:300]
        _log(f"[bench] extension {name}: {ext_timings.get(name, 'ERROR')} "
             f"(steady {ext_steady.get(name, '-')})")
    # minhash_pairs above runs the md5-60 hash family (slow by design —
    # it exists so DuckDB can replicate every value); this is the
    # PRODUCTION family (native xxhash64, same plan shape)
    try:
        from qsvspark.functions import minhash_lsh_pairs

        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        fast = minhash_lsh_pairs(docs, hash_fn="xxhash64", max_bucket_size=64)
        t0 = time.time()
        fast.write.format("noop").mode("overwrite").save()
        ext_timings["minhash_pairs_xxhash"] = round(time.time() - t0, 3)
        t0 = time.time()
        fast.write.format("noop").mode("overwrite").save()
        ext_steady["minhash_pairs_xxhash"] = round(time.time() - t0, 3)
    except Exception as e:  # noqa: BLE001
        query_errors["minhash_pairs_xxhash"] = repr(e)[:300]
    _log(f"[bench] extension minhash_pairs_xxhash: "
         f"{ext_timings.get('minhash_pairs_xxhash', 'ERROR')}")
    section_probes["after_extensions_gbps"] = _bandwidth_probe(1)
    _section_done("extensions")

    skew: dict | None = None
    if not SKIP_SKEW:
        try:
            _log(f"[bench] skew section ({SKEW_ROWS} rows, 50% hot)")
            skew = _run_skew(spark)
            state["skew"] = skew
            _log(f"[bench] skew: agg {skew['agg']['speedup']}x, "
                 f"join {skew['join']['speedup']}x salted speedup")
        except Exception as e:  # noqa: BLE001
            query_errors["__skew__"] = repr(e)[:300]
        _section_done("skew")

    # materialize the pipeline inputs ONCE (untimed setup — the north-rule
    # job reads an existing table; generation is not part of the pipeline)
    base = _fast_dir()
    input_dir = tempfile.mkdtemp(prefix="bench_input_", dir=base)
    input_path = os.path.join(input_dir, "tokens")
    wh = tempfile.mkdtemp(prefix="bench_pipe_", dir=base)
    pipeline: dict | None = None
    scaling: dict | None = None
    sf1: dict | None = None
    try:
        _materialize_input(spark, SCALE_ROWS, input_path)

        # pipeline throughput at full parallelism
        from qsvspark.pipeline import NorthStarPipeline

        tokens = spark.read.parquet(input_path)
        pipe = NorthStarPipeline(spark, wh)
        t0 = time.time()
        pm = pipe.run(tokens, input_fingerprint=f"bench-pipe-{SCALE_ROWS}")
        pipe_wall = round(time.time() - t0, 3)
        pipeline = {
            "rows": SCALE_ROWS,
            "seconds": pipe_wall,
            "sequences_per_sec": round(SCALE_ROWS / pipe_wall, 1),
            "per_sink_counts": pm["per_sink_counts"],
        }
        state["pipeline"] = pipeline

        # steady-state increment: route a 10% "day 2" batch and append it
        # onto the committed table — the operating mode where the bulk is
        # never re-read; throughput is per DELTA row
        inc_rows = max(SCALE_ROWS // 10, 1)
        from qsvspark.pipeline.tokens import synth_tokens

        day2 = synth_tokens(spark, inc_rows, id_offset=SCALE_ROWS)
        t0 = time.time()
        im = pipe.run_increment(day2, f"bench-inc-{inc_rows}")
        inc_wall = round(time.time() - t0, 3)
        pipeline["increment"] = {
            "delta_rows": im["delta_rows"],
            "seconds": inc_wall,
            "sequences_per_sec": round(im["delta_rows"] / inc_wall, 1),
            "cumulative_rows": im["rows"],
        }

        # pack the routed corpus into fixed-length training sequences —
        # the north-star deliverable; throughput is per routed row
        t0 = time.time()
        pk = pipe.pack_sinks(seq_len=2048)
        pack_wall = round(time.time() - t0, 3)
        packed_rows = (pk or {}).get("row_count") or 0
        pipeline["pack"] = {
            "rows": packed_rows,
            "seconds": pack_wall,
            "rows_per_sec": round(packed_rows / pack_wall, 1) if pack_wall else None,
        }

        # materialize the physical sequence table (the north-star
        # deliverable: ~SCALE_ROWS×264 tokens packed and assembled in one
        # partition-local pass whose tasks write the sequences
        # themselves); throughput is per INPUT token
        t0 = time.time()
        sm = pipe.pack_sinks(seq_len=2048, materialize=True, pad_id=0)
        seq_wall = round(time.time() - t0, 3)
        n_seq = (sm or {}).get("row_count") or 0
        total_toks = n_seq * 2048  # upper bound incl. pad; exact enough
        pipeline["sequences"] = {
            "rows": n_seq,
            "seconds": seq_wall,
            "tokens_per_sec": round(total_toks / seq_wall, 1) if seq_wall else None,
        }
        _section_done("pipeline")

        if not SKIP_SF1:
            try:
                _log(f"[bench] sf1 section ({SF1_ROWS} pipeline rows, "
                     f"{SF1_COPIES}x tables)")
                sf1 = _run_sf1(spark, qs, steady)
                state["sf1"] = sf1
                _log(f"[bench] sf1 pipeline "
                     f"{sf1['pipeline']['sequences_per_sec']} seq/s, "
                     f"rate ratios {sf1.get('per_row_rate_ratio')}")
            except Exception as e:  # noqa: BLE001
                query_errors["__sf1__"] = repr(e)[:500]
            _section_done("sf1")
        spark.stop()

        if not SKIP_SCALING:
            scaling = _run_scaling(input_path, SCALE_ROWS)
            state["scaling"] = scaling
            _lap("scaling")
    except Exception as e:  # noqa: BLE001 — always emit the final JSON line
        query_errors["__pipeline__"] = repr(e)[:500]
    finally:
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(input_dir, ignore_errors=True)

    # Full detail (every scaling rep, the probes, per-sink counts) goes
    # to a SIDE FILE; the printed line is a bounded summary —
    # round 2's inlined detail grew past the driver's tail-capture window
    # and the artifact recorded parsed:null despite rc=0. The final flush
    # re-emits with partial=false; every earlier section already printed
    # its own line, so the LAST parseable stdout line is always current.
    if not SKIP_SCALING and scaling is not None:
        state["sections_done"].append("scaling")
    _flush_state(state, REPO, final=True)


if __name__ == "__main__":
    main()
