"""Per-layer metrics, computed from the spans of the traced run. Every
workload reports the same list; a layer a workload does not reach reads 0,
which is the expected value on that layer's bypass workload.

Means are per call (or per query / per op) so runs of different lengths
compare; counters come from the Spark event log (see tracing.EventLog).
"""

from __future__ import annotations

import os

from harness import median

# the program's layers, for per-layer self time (the time spent in a span
# of that layer and not in any nested span)
LAYERS = (
    "session", "engine", "ops", "ops.udf", "io.load", "io.sinks", "io.snapshot",
    "pipeline", "functions.packing", "functions.dedup",
)

PER_LAYER = [
    ("session.start_s", "s"),
    ("engine.plan_s", "s"),
    ("ops.build_s", "s"),
    ("ops.exec_s", "s"),
    ("ops.jobs_per_query", "count"),
    ("ops.executor_cpu_s", "s"),
    ("ops.gc_s", "s"),
    ("ops.shuffle_write_bytes", "bytes"),
    ("ops.task_skew", "ratio"),
    ("ops.udf.exec_s", "s"),
    ("ops.udf.python_bytes", "bytes"),
    ("io.load.s", "s"),
    ("io.sinks.stats_s", "s"),
    ("pipeline.scan_s", "s"),
    ("pipeline.parse_stage.self_s", "s"),
    ("pipeline.parse_stage.python_bytes", "bytes"),
    ("pipeline.enrich_stage.self_s", "s"),
    ("pipeline.aggregate_stage.self_s", "s"),
    ("pipeline.aggregate_stage.shuffle_bytes", "bytes"),
    ("pipeline.aggregate_stage.task_skew", "ratio"),
    ("pipeline.run_s", "s"),
    ("pipeline.run.executor_cpu_s", "s"),
    ("pipeline.run.gc_s", "s"),
    ("pipeline.run.shuffle_write_bytes", "bytes"),
    ("pipeline.run.spill_bytes", "bytes"),
    ("pipeline.run.failed_tasks", "count"),
    ("pipeline.run_increment_s", "s"),
    ("pipeline.run_increment.executor_cpu_s", "s"),
    ("pipeline.run_increment.gc_s", "s"),
    ("pipeline.run_increment.shuffle_write_bytes", "bytes"),
    ("pipeline.run_increment.failed_tasks", "count"),
    ("pipeline.dedup.drop_ratio", "ratio"),
    ("pipeline.dedup.anti_join_shuffle_bytes", "bytes"),
    ("io.snapshot.write_s", "s"),
    ("io.snapshot.write.files", "count"),
    ("io.snapshot.write.bytes", "bytes"),
    ("io.snapshot.write.executor_cpu_s", "s"),
    ("io.snapshot.write.gc_s", "s"),
    ("io.snapshot.write.task_skew", "ratio"),
    ("io.snapshot.read.resolve_s", "s"),
    ("io.snapshot.read.snapshots", "count"),
    ("io.snapshot.read.files", "count"),
    ("io.snapshot.find_committed_s", "s"),
    ("functions.packing.pack_s", "s"),
    ("functions.packing.materialize_s", "s"),
    ("functions.packing.shuffle_bytes", "bytes"),
    ("functions.packing.spill_bytes", "bytes"),
    ("functions.packing.executor_cpu_s", "s"),
    ("functions.packing.gc_s", "s"),
    ("functions.packing.task_skew", "ratio"),
    ("functions.dedup.minhash_lsh_pairs_s", "s"),
    ("functions.dedup.pairs", "count"),
    ("functions.dedup.minhash_lsh_pairs.shuffle_bytes", "bytes"),
    ("functions.dedup.connected_components_s", "s"),
    ("functions.dedup.connected_components.jobs", "count"),
    ("functions.dedup.connected_components.executor_cpu_s", "s"),
    ("functions.dedup.connected_components.failed_tasks", "count"),
    ("functions.dedup.keep_representatives_s", "s"),
    *[(f"layer.{name}.self_s", "s") for name in LAYERS],
    ("trace.overhead.op_p50_s", "ratio"),
    ("trace.overhead.rows_per_s", "ratio"),
    ("trace.spans", "count"),
    ("trace.spans_with_jobs", "count"),
]


def install_wrappers(tracer) -> None:
    """Open a span around every call into the program's public functions
    that the workloads reach only through other layers."""
    from qsvspark.functions import dedup, packing
    from qsvspark.io.snapshot import SnapshotCatalog
    from qsvspark.pipeline import northstar

    def table_of(args, kwargs):
        return {"table": args[2] if len(args) > 2 else kwargs.get("table")}

    def written(span, manifest, args):
        if manifest:
            d = os.path.join(args[0].root, manifest["table"], manifest["snapshot"], "data")
            files = nbytes = 0
            for root, _, names in os.walk(d):
                for n in names:
                    nbytes += os.path.getsize(os.path.join(root, n))
                    files += n.endswith(".parquet")
            span.attrs.update(files=files, bytes=nbytes)

    def chain(span, parts, args):
        table_dir = os.path.join(args[0].root, span.attrs["table"])
        files = sum(n.endswith(".parquet") for _, _, ns in os.walk(table_dir) for n in ns)
        span.attrs.update(snapshots=len(parts), files=files)

    tracer.wrap(SnapshotCatalog, "write", "io.snapshot.write", table_of, written)
    tracer.wrap(SnapshotCatalog, "read", "io.snapshot.read", table_of)
    tracer.wrap(SnapshotCatalog, "read_parts", "io.snapshot.read_parts", table_of, chain)
    tracer.wrap(SnapshotCatalog, "find_committed", "io.snapshot.find_committed")
    for fn in ("parse_stage", "enrich_stage", "dedup_stage", "aggregate_stage"):
        tracer.wrap(northstar, fn, f"pipeline.{fn}")
    for m in ("run", "run_increment", "pack_sinks", "routed", "aggregates"):
        tracer.wrap(northstar.NorthStarPipeline, m, f"pipeline.{m}")
    for fn in ("pack_greedy", "materialize_greedy_sequences"):
        tracer.wrap(packing, fn, f"functions.packing.{fn}")
    for fn in ("minhash_lsh_pairs", "connected_components", "keep_representatives"):
        tracer.wrap(dedup, fn, f"functions.dedup.{fn}")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def compute(trace, probes: dict, extra: dict) -> dict:
    """All PER_LAYER metrics except the trace overhead ones."""
    out = {name: 0.0 for name, _ in PER_LAYER}
    inc = {s.id: trace.inclusive(s) for s in trace.spans}

    def mean_inc(spans, key):
        return _mean(inc[s.id][key] for s in spans)

    start = trace.named("session.start")
    out["session.start_s"] = _mean(s.seconds for s in start)

    # qsv_ops: one engine.query span per query execution
    queries = trace.named("engine.query")
    if queries:
        build = [sum(k.seconds for k in trace.children(q)
                     if not k.name.endswith((".exec", ".plan"))) for q in queries]
        loads = [sum(k.seconds for k in trace.children(q) if k.name == "io.load")
                 for q in queries]
        execs = [k for q in queries for k in trace.children(q) if k.name.endswith(".exec")]
        udf = [k for k in execs if k.name == "ops.udf.exec"]
        out.update({
            "engine.plan_s": _mean(s.seconds for s in trace.named("engine.plan")),
            "ops.build_s": _mean(b - ld for b, ld in zip(build, loads)),
            "ops.exec_s": _mean(s.seconds for s in execs),
            "ops.jobs_per_query": mean_inc(queries, "jobs"),
            "ops.executor_cpu_s": mean_inc(queries, "executor_cpu_s"),
            "ops.gc_s": mean_inc(queries, "gc_s"),
            "ops.shuffle_write_bytes": mean_inc(queries, "shuffle_write_bytes"),
            "ops.task_skew": median([inc[q.id]["task_skew"] or 1.0 for q in queries]),
            "ops.udf.exec_s": _mean(s.seconds for s in udf),
            "ops.udf.python_bytes": mean_inc(udf, "python_bytes"),
            "io.load.s": _mean(loads),
            "io.sinks.stats_s": _mean(q.seconds for q in queries if q.attrs.get("query") == "stats"),
        })

    # route_pipeline stage floors (noop sink over each stage prefix)
    if probes:
        out["pipeline.scan_s"] = probes["scan"]
        out["pipeline.parse_stage.self_s"] = probes["parse_stage"] - probes["scan"]
        out["pipeline.enrich_stage.self_s"] = probes["enrich_stage"] - probes["parse_stage"]
        out["pipeline.aggregate_stage.self_s"] = probes["aggregate_stage"] - probes["enrich_stage"]
        parse = trace.named("probe.parse_stage")
        agg = trace.named("probe.aggregate_stage")
        out["pipeline.parse_stage.python_bytes"] = mean_inc(parse, "python_bytes")
        out["pipeline.aggregate_stage.shuffle_bytes"] = mean_inc(agg, "shuffle_write_bytes")
        out["pipeline.aggregate_stage.task_skew"] = median([inc[s.id]["task_skew"] for s in agg])

    for name in ("run", "run_increment"):
        spans = trace.named(f"pipeline.{name}")
        out[f"pipeline.{name}_s"] = _mean(s.seconds for s in spans)
        for key in ("executor_cpu_s", "gc_s", "shuffle_write_bytes", "failed_tasks"):
            out[f"pipeline.{name}.{key}"] = mean_inc(spans, key)
    out["pipeline.run.spill_bytes"] = mean_inc(trace.named("pipeline.run"), "spill_bytes")
    routed_inc = [s for s in trace.named("io.snapshot.write", table="routed")
                  if (p := trace.parent_of(s)) is not None and p.name == "pipeline.run_increment"]
    out["pipeline.dedup.anti_join_shuffle_bytes"] = mean_inc(routed_inc, "shuffle_write_bytes")

    writes = trace.named("io.snapshot.write")
    out["io.snapshot.write_s"] = _mean(s.seconds for s in writes)
    out["io.snapshot.write.files"] = _mean(s.attrs.get("files", 0) for s in writes)
    out["io.snapshot.write.bytes"] = _mean(s.attrs.get("bytes", 0) for s in writes)
    for key in ("executor_cpu_s", "gc_s"):
        out[f"io.snapshot.write.{key}"] = mean_inc(writes, key)
    out["io.snapshot.write.task_skew"] = median([inc[s.id]["task_skew"] for s in writes]) if writes else 0.0
    out["io.snapshot.read.resolve_s"] = _mean(s.seconds for s in trace.named("io.snapshot.read"))
    parts = trace.named("io.snapshot.read_parts")
    out["io.snapshot.read.snapshots"] = max((s.attrs.get("snapshots", 0) for s in parts), default=0)
    out["io.snapshot.read.files"] = max((s.attrs.get("files", 0) for s in parts), default=0)
    out["io.snapshot.find_committed_s"] = _mean(
        s.seconds for s in trace.named("io.snapshot.find_committed"))

    out["functions.packing.pack_s"] = _mean(
        s.seconds for s in trace.named("io.snapshot.write", table="packed"))
    out["functions.packing.materialize_s"] = _mean(
        s.seconds for s in trace.named("io.snapshot.write", table="sequences"))
    packs = trace.named("pipeline.pack_sinks")
    out["functions.packing.shuffle_bytes"] = mean_inc(packs, "shuffle_write_bytes")
    for key in ("spill_bytes", "executor_cpu_s", "gc_s"):
        out[f"functions.packing.{key}"] = mean_inc(packs, key)
    out["functions.packing.task_skew"] = median([inc[s.id]["task_skew"] for s in packs]) if packs else 0.0

    mh = trace.named("op.minhash_lsh_pairs")
    cc = trace.named("op.connected_components")
    out["functions.dedup.minhash_lsh_pairs_s"] = _mean(s.seconds for s in mh)
    out["functions.dedup.minhash_lsh_pairs.shuffle_bytes"] = mean_inc(mh, "shuffle_write_bytes")
    out["functions.dedup.connected_components_s"] = _mean(s.seconds for s in cc)
    for key in ("jobs", "executor_cpu_s", "failed_tasks"):
        out[f"functions.dedup.connected_components.{key}"] = mean_inc(cc, key)
    out["functions.dedup.keep_representatives_s"] = _mean(
        s.seconds for s in trace.named("op.keep_representatives"))

    own = trace.layer_self_seconds()
    for name in LAYERS:
        out[f"layer.{name}.self_s"] = own.get(name, 0.0)
    out["trace.spans"] = len(trace.spans)
    out["trace.spans_with_jobs"] = sum(1 for s in trace.spans if s.metrics.get("jobs"))
    out.update(extra)
    return out
