"""The four workloads. Each makes its inputs from the seed (``prepare``),
runs one checked untimed warm repetition (``warm``), repeats its timed ops
(``rep``), checks the program's outputs (``check``) and turns the op log
and the trace into metrics.

The program is driven only through its public API: ``qsvspark.Q`` and its
ops, ``NorthStarPipeline`` and its stage functions, ``SnapshotCatalog``
and the ``functions.packing`` / ``functions.dedup`` entry points.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

import inputs
from harness import median, tail

def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names)


def warm_python_workers(spark, cores: int) -> None:
    """Run one pandas-UDF batch and one mapInArrow batch on every core, so
    worker start-up is paid in set-up, and prove both ran."""
    from pyspark.sql.functions import pandas_udf

    def plus_one(s):
        return s + 1

    plus_one.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = pandas_udf(plus_one, "long")

    def double(batches):
        import pyarrow.compute as pc

        for b in batches:
            yield pa.RecordBatch.from_arrays([pc.multiply(b.column(0), 2)], names=["id"])

    n = cores * 64
    df = spark.range(0, n, 1, cores)
    got_udf = df.select(F.sum(udf("id"))).first()[0]
    got_arrow = df.mapInArrow(double, "id long").select(F.sum("id")).first()[0]
    want = n * (n - 1) // 2
    if got_udf != want + n or got_arrow != 2 * want:
        raise RuntimeError(
            f"warm-up produced wrong results: pandas-UDF {got_udf} != {want + n} "
            f"or mapInArrow {got_arrow} != {2 * want}"
        )


class Workload:
    name = ""
    min_reps = 1
    op_timeout = 60.0
    # a traced run first measures untraced, for the tracing overhead
    untraced_in_trace = True

    def __init__(self, ctx):
        self.ctx = ctx
        self.inputs_dir = os.path.join(ctx.work, "inputs")

    def prepare(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """One untimed repetition of the workload's ops; raises on failure."""
        raise NotImplementedError

    def rep(self, i: int) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        return []

    def probes(self) -> dict:
        return {}

    def e2e(self) -> tuple[dict, dict]:
        """({end-to-end metric: value}, {workload-named metric: (value, unit, note)})."""
        raise NotImplementedError

    def layer_extra(self) -> dict:
        """Per-layer values only the workload knows (counts of outcomes)."""
        return {}

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.ctx.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


# ---------------------------------------------------------------------------
# qsv_ops: the 15 headline queries of the reference's chainable surface
# ---------------------------------------------------------------------------

SINK_OPS = {"stats"}
UDF_OPS = {"changetz", "convert"}
ENGINE_OPS = {"join"}


class TQ:
    """A ``qsvspark.Q`` whose method calls each run inside a span named
    after the layer the call lands in (``ops.isin``, ``ops.udf.convert``,
    ``io.sinks.stats``, ``engine.join``)."""

    def __init__(self, q, tracer):
        self.q = q
        self.tracer = tracer

    @property
    def df(self):
        return self.q.df

    def __getattr__(self, name):
        from qsvspark import Q

        fn = getattr(self.q, name)
        layer = ("io.sinks" if name in SINK_OPS else "ops.udf" if name in UDF_OPS
                 else "engine" if name in ENGINE_OPS else "ops")

        def call(*args, **kwargs):
            args = [a.q if isinstance(a, TQ) else a for a in args]
            with self.tracer.span(f"{layer}.{name}", layer=layer):
                out = fn(*args, **kwargs)
            if isinstance(out, Q):
                return TQ(out, self.tracer)
            return TQ(Q.from_df(out), self.tracer)

        return call

    def prep(self, fn):
        """Plain DataFrame expressions a query adds around the ops."""
        from qsvspark import Q

        with self.tracer.span("engine.prep", layer="engine"):
            return TQ(Q.from_df(fn(self.q.df)), self.tracer)


def _cents(col):
    return F.round(F.col(col) * 100).cast("long")


# name -> (input tables, builder(load) -> TQ); each mirrors the query of the
# same name in __spark_entry__.queries(), rebuilt from Q and its ops
QUERIES = {
    "select": (["lineitem"], lambda L: L("lineitem").select("l_orderkey,l_linenumber,l_returnflag")),
    "isin_numeric": (["lineitem"], lambda L: L("lineitem").isin("l_linenumber", ["1", "7"])
                     .select("l_orderkey,l_linenumber")),
    "grep": (["nation"], lambda L: L("nation").grep("1$")),
    "sed": (["customer"], lambda L: L("customer").select("c_custkey,c_name")
            .sed("[0-9]", "#", column="c_name")),
    "sort_head": (["orders"], lambda L: L("orders").sort("o_totalprice,o_orderkey", desc=True)
                  .head(25).select("o_orderkey,o_totalprice")),
    "uniq": (["lineitem"], lambda L: L("lineitem").select("l_returnflag,l_linestatus").uniq(stable=False)),
    "count": (["orders"], lambda L: L("orders").select("o_orderstatus").count()),
    "pivot": (["lineitem"], lambda L: L("lineitem")
              .prep(lambda df: df.withColumn("qty_cents", _cents("l_quantity")))
              .pivot(rows="l_returnflag", cols="l_linestatus", values="qty_cents", agg="sum")),
    "timeline": (["events"], lambda L: L("events").timeline("ts", "1h")),
    "timeline_sum": (["events"], lambda L: L("events")
                     .prep(lambda df: df.withColumn("value_cents", _cents("value")))
                     .timeline("ts", "1d", agg="sum", agg_column="value_cents")
                     .prep(lambda df: df.select("timeline_1d", "count",
                                                F.col("sum_value_cents").cast("long").alias("sum_cents")))),
    "timeslice": (["events"], lambda L: L("events")
                  .timeslice("ts", start="2024-01-03 00:00:00", end="2024-01-05 12:00:00")
                  .select("event_id,event_type")),
    "join": (["orders", "customer"], lambda L: L("orders")
             .join(L("customer").renamecol("c_custkey", "o_custkey"), on="o_custkey",
                   how="inner", broadcast_small=True)
             .select("o_orderkey,o_custkey,c_name,c_mktsegment")),
    "stats": (["orders"], lambda L: L("orders").select("o_orderkey").stats()
              .prep(lambda df: df.select(
                  "column", "dtype", "count", "null_count",
                  F.round("mean", 4).alias("mean_r"), F.round("std", 4).alias("std_r"),
                  "min", "max", F.round("p25", 4).alias("p25_r"),
                  F.round("p50", 4).alias("p50_r"), F.round("p75", 4).alias("p75_r")))),
    "changetz": (["events"], lambda L: L("events")
                 .prep(lambda df: df.filter(F.col("event_id") < 500).select(
                     "event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str")))
                 .changetz("ts_str", from_tz="UTC", to_tz="Asia/Tokyo",
                           input_format="%Y-%m-%d %H:%M:%S", output_format="%Y-%m-%d %H:%M:%S")),
    "convert": (["events"], lambda L: L("events").prep(lambda df: df.select("event_id", "props"))
                .convert("props", "json", "json")),
}

# the query layer its execution is charged to
EXEC_LAYER = {"stats": "io.sinks", "changetz": "ops.udf", "convert": "ops.udf"}

# timeline_sum's oracle left __spark_entry__.oracle_sql() with its registry
# slot; this is the same SQL
TIMELINE_SUM_SQL = (
    "SELECT strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d %H:%M:%S') "
    'AS timeline_1d, COUNT(*) AS "count", '
    "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents "
    "FROM events GROUP BY 1"
)


def _row_digest(pdf: pd.DataFrame) -> np.ndarray:
    """Sorted per-row hashes of a frame with columns in name order, numbers
    as float64 rounded to 9 places and everything else as text: equal
    arrays mean equal row multisets."""
    cols = sorted(pdf.columns)
    norm = pd.DataFrame(index=range(len(pdf)))
    for c in cols:
        s = pdf[c].reset_index(drop=True)
        if pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
            norm[c] = s.astype("float64").round(9)
        else:
            norm[c] = s.astype("string").fillna("<null>")
    return np.sort(pd.util.hash_pandas_object(norm, index=False).to_numpy())


class QsvOps(Workload):
    name = "qsv_ops"
    min_reps = 3

    def prepare(self):
        self.paths = os.path.join(self.inputs_dir, "star")
        shutil.rmtree(self.inputs_dir, ignore_errors=True)
        self.rows = inputs.make_star_tables(self.paths, self.ctx.seed)

    def _load(self, table):
        from qsvspark import Q

        with self.ctx.tracer.span("io.load", layer="io.load", table=table):
            q = Q.load(self.ctx.spark, os.path.join(self.paths, f"{table}.parquet"))
        return TQ(q, self.ctx.tracer)

    def build(self, name):
        return QUERIES[name][1](self._load)

    def run_query(self, name):
        tr = self.ctx.tracer
        with tr.span("engine.query", layer="engine", query=name):
            df = self.build(name).df
            if tr.enabled:
                with tr.span("engine.plan", layer="engine"):
                    df._jdf.queryExecution().executedPlan()
            layer = EXEC_LAYER.get(name, "ops")
            with tr.span(f"{layer}.exec", layer=layer, query=name):
                noop_write(df)

    def warm(self):
        """Run each query once, collecting its rows, and compare them with
        its oracle_sql() counterpart run by duckdb over the same files. The
        timed repetitions run the same queries into a noop sink, so this is
        the output check; it is paid in set-up, not in query time."""
        import __spark_entry__ as entry

        oracles = dict(entry.oracle_sql(), timeline_sum=TIMELINE_SUM_SQL)
        con = duckdb.connect()
        try:
            for t in self.rows:
                path = os.path.join(self.paths, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.bad = {}
            for name in QUERIES:
                got = self.build(name).df.toPandas()
                want = con.execute(oracles[name]).df()
                if sorted(got.columns) != sorted(want.columns):
                    self.bad[name] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
                elif len(got) != len(want) or not np.array_equal(_row_digest(got), _row_digest(want)):
                    self.bad[name] = f"{len(got)} rows differ from the oracle's {len(want)}"
        finally:
            con.close()

    def rep(self, i):
        for name in QUERIES:
            self.ctx.ops.run("query", lambda n=name: self.run_query(n), "engine", query=name, rep=i)

    def check(self):
        for name in self.bad:
            self.ctx.ops.fail(lambda r, q=name: r.get("query") == q, "WrongAnswer")
        return [f"{name}: {msg}" for name, msg in self.bad.items()]

    def e2e(self):
        ok = self.ctx.ops.ok("query")
        times = [r["seconds"] for r in ok]
        # rows scanned per second of query time, per repetition, median over repetitions
        per_rep: dict[int, list[float]] = {}
        for r in ok:
            rows = sum(self.rows[t] for t in QUERIES[r["query"]][0])
            acc = per_rep.setdefault(r["rep"], [0.0, 0.0])
            acc[0] += rows
            acc[1] += r["seconds"]
        p50 = median(times)
        t, pct, n = tail(times)
        return (
            {"op_p50_s": p50, "op_tail_s": t,
             "rows_per_s": median([rows / secs for rows, secs in per_rep.values()])},
            {"query_p50_s": (p50, "s", f"n={n}"),
             "query_tail_s": (t, "s", f"p{pct:.1f} of n={n}")},
        )


# ---------------------------------------------------------------------------
# route_pipeline: the north-star parse -> enrich -> route -> aggregate job
# ---------------------------------------------------------------------------

SEQ_LEN = 2048


def sink_of(source_idx: np.ndarray, num_sinks: int = 4) -> np.ndarray:
    """source_dim's assignment: source ``srcNN`` lands in ``sink_{NN % 4}``."""
    return source_idx % num_sinks


class RoutePipeline(Workload):
    name = "route_pipeline"
    min_reps = 3
    rows = 40_000

    def prepare(self):
        shutil.rmtree(self.inputs_dir, ignore_errors=True)
        self.tok = inputs.make_tokens(self.ctx.seed, self.rows)
        self.tok_dir = os.path.join(self.inputs_dir, "tokens")
        self.input_bytes = self.tok.write(self.tok_dir)
        self.fp = f"tokens-seed{self.ctx.seed}-rows{self.rows}"

    def tokens(self):
        return self.ctx.spark.read.parquet(self.tok_dir)

    def warm(self):
        from qsvspark.pipeline.northstar import NorthStarPipeline

        # a quarter of the input (its first file) runs every code path
        p = NorthStarPipeline(self.ctx.spark, self.fresh_dir("warm-warehouse"))
        m = p.run(self.ctx.spark.read.parquet(os.path.join(self.tok_dir, "part-000.parquet")), "warm")
        p.pack_sinks(seq_len=SEQ_LEN, materialize=True)
        if m["rows"] != -(-self.rows // 4):
            raise RuntimeError(f"warm pipeline routed {m['rows']} rows, expected {-(-self.rows // 4)}")

    def rep(self, i):
        from qsvspark.pipeline.northstar import NorthStarPipeline

        self.warehouse = self.fresh_dir("warehouse")
        p = NorthStarPipeline(self.ctx.spark, self.warehouse)
        tokens = self.tokens()
        self.ctx.ops.run("run", lambda: p.run(tokens, self.fp), "pipeline", rep=i)
        self.ctx.ops.run("pack", lambda: p.pack_sinks(seq_len=SEQ_LEN, materialize=True),
                         "functions.packing", rep=i)
        self.last = p

    def check(self):
        p, tok = self.last, self.tok
        bad = []
        want = {f"sink_{k}": int(c) for k, c in zip(*np.unique(sink_of(tok.sources), return_counts=True))}
        got = {r["sink"]: r["count"] for r in p.routed().groupBy("sink").count().collect()}
        if got != want or sum(got.values()) != self.rows:
            bad.append(f"routed per-sink counts {got} != input source->sink counts {want}")
        agg = p.aggregates().agg(F.sum("seq_count").alias("n")).first()["n"]
        if agg != self.rows:
            bad.append(f"aggregates seq_count sum {agg} != {self.rows} input rows")
        ids = tok.doc_ids()
        picks = np.random.default_rng([self.ctx.seed, 9]).choice(self.rows, size=16, replace=False)
        samples = {ids[i]: tok.tokens_of(int(i)) for i in picks}
        rows = p.routed().where(F.col("doc_id").isin(list(samples))).select("doc_id", "tokens").collect()
        if len(rows) != len(samples) or any(
            not np.array_equal(np.asarray(r["tokens"]), samples[r["doc_id"]]) for r in rows
        ):
            bad.append("token arrays differ from the input on sampled doc_ids")
        s = p.catalog.read(p.spark, "sequences").agg(
            F.sum("n_tokens").alias("t"),
            F.sum(F.when(F.col("n_tokens") + F.col("pad") != SEQ_LEN, 1).otherwise(0)).alias("short"),
        ).first()
        if s["t"] != int(tok.n_tok.sum()) or s["short"]:
            bad.append(f"sequences hold {s['t']} non-pad tokens, input has {int(tok.n_tok.sum())}"
                       f" ({s['short']} rows not padded to {SEQ_LEN})")
        if bad:
            self.ctx.ops.fail(lambda r: True, "WrongAnswer")
        return bad

    def probes(self):
        """Noop-sink floors of each stage prefix: scan, +parse, +enrich,
        +aggregate. A stage's self time is its prefix minus the previous."""
        from qsvspark.pipeline import northstar as ns
        from qsvspark.pipeline.tokens import source_dim

        tr = self.ctx.tracer
        dim = source_dim(self.ctx.spark)
        stages = {
            "scan": lambda df: df,
            "parse_stage": lambda df: ns.parse_stage(df),
            "enrich_stage": lambda df: ns.enrich_stage(ns.parse_stage(df), dim),
            "aggregate_stage": lambda df: ns.aggregate_stage(ns.enrich_stage(ns.parse_stage(df), dim)),
        }
        out = {}
        for name, build in stages.items():
            times = []
            for _ in range(3):
                with tr.span(f"probe.{name}", layer="pipeline") as s:
                    noop_write(build(self.tokens()))
                times.append(s.seconds)
            out[name] = median(times)
        return out

    def e2e(self):
        ops = self.ctx.ops
        run = {r["rep"]: r["seconds"] for r in ops.ok("run")}
        pack = {r["rep"]: r["seconds"] for r in ops.ok("pack")}
        iters = [run[i] + pack[i] for i in run if i in pack]
        p50 = median(iters)
        t, pct, n = tail(iters)
        seq_s = self.rows / median(list(run.values()))
        tok_s = int(self.tok.n_tok.sum()) / median(list(pack.values()))
        stored = dir_bytes(self.warehouse) / self.input_bytes
        return (
            {"op_p50_s": p50, "op_tail_s": t, "rows_per_s": seq_s},
            {"pipeline_seq_per_s": (seq_s, "seq/s", f"{self.rows} input rows"),
             "materialize_tokens_per_s": (tok_s, "tokens/s", f"seq_len={SEQ_LEN}"),
             "bytes_stored_per_input_byte": (stored, "ratio", f"input {self.input_bytes} B"),
             "iteration_tail_s": (t, "s", f"p{pct:.0f} of n={n}")},
        )


# ---------------------------------------------------------------------------
# append_chain: increments with duplicate content, reads over a growing chain
# ---------------------------------------------------------------------------

class AppendChain(Workload):
    name = "append_chain"
    base_rows = 20_000
    delta_rows = 5_000
    increments = 5
    dup_share = 0.1

    def prepare(self):
        shutil.rmtree(self.inputs_dir, ignore_errors=True)
        seed = self.ctx.seed
        self.base = inputs.make_tokens(seed, self.base_rows)
        copies = int(self.delta_rows * self.dup_share)
        self.deltas = [
            inputs.make_tokens(seed, self.delta_rows, id_offset=(k + 1) * 10**8,
                               copy_from=self.base, copies=copies)
            for k in range(self.increments)
        ]
        self.copies = copies
        self.input_bytes = self.base.write(os.path.join(self.inputs_dir, "base"))
        for k, d in enumerate(self.deltas):
            self.input_bytes += d.write(os.path.join(self.inputs_dir, f"delta-{k}"))
        # expected state after each increment: every copied row is dropped
        self.cum_rows = [self.base_rows + (k + 1) * (self.delta_rows - copies)
                         for k in range(self.increments)]
        keep = [np.ones(self.base_rows, bool)] + [d.kept for d in self.deltas]
        self.long_rows = np.cumsum([int((t.n_tok[m] >= 256).sum())
                                    for t, m in zip([self.base] + self.deltas, keep)])

    def read(self, name):
        return self.ctx.spark.read.parquet(os.path.join(self.inputs_dir, name))

    def chain_reads(self, p):
        routed = (p.routed().where(F.col("n_tok") >= 256).groupBy("sink")
                  .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("t")).collect())
        aggs = p.aggregates().groupBy("sink").agg(F.sum("seq_count").alias("n")).collect()
        return sum(r["n"] for r in routed), sum(r["n"] for r in aggs)

    def warm(self):
        from qsvspark.pipeline.northstar import NorthStarPipeline

        p = NorthStarPipeline(self.ctx.spark, self.fresh_dir("warm-warehouse"), dedup="exact")
        p.run(self.ctx.spark.read.parquet(os.path.join(self.inputs_dir, "base", "part-000.parquet")),
              "warm-base")
        m = p.run_increment(self.read("delta-0"), "warm-delta")
        self.chain_reads(p)
        if m["delta_rows"] > self.delta_rows:
            raise RuntimeError(f"warm increment routed {m['delta_rows']} > {self.delta_rows} rows")

    def rep(self, i):
        from qsvspark.pipeline.northstar import NorthStarPipeline

        ops = self.ctx.ops
        self.warehouse = self.fresh_dir("warehouse")
        p = NorthStarPipeline(self.ctx.spark, self.warehouse, dedup="exact")
        ops.run("base", lambda: p.run(self.read("base"), f"base-{self.ctx.seed}"), "pipeline", rep=i)
        for k in range(self.increments):
            delta = self.read(f"delta-{k}")
            m = ops.run("increment", lambda: p.run_increment(delta, f"delta-{self.ctx.seed}-{k}"),
                        "pipeline", rep=i, index=k)
            inc = ops.records[-1]
            reads = ops.run("chain_read", lambda: self.chain_reads(p), "io.snapshot", rep=i, index=k)
            rd = ops.records[-1]
            want = self.cum_rows[k]
            if m is not None:
                inc["drop_ratio"] = 1 - m["delta_rows"] / self.delta_rows
                if m["rows"] != want:
                    inc.update(ok=False, error="WrongAnswer")
            if reads is not None and reads != (int(self.long_rows[k + 1]), want):
                rd.update(ok=False, error="WrongAnswer")
        self.last = p

    def check(self):
        bad = []
        want = self.cum_rows[-1]
        got = self.last.routed().count()
        if got != want:
            bad.append(f"routed rows after the chain {got} != base + deltas - copies = {want}")
        bad += [f"{r['kind']} {r.get('index')}: wrong cumulative count"
                for r in self.ctx.ops.records if r["error"] == "WrongAnswer"]
        if got != want:
            self.ctx.ops.fail(lambda r: r["kind"] == "increment", "WrongAnswer")
        return bad

    def layer_extra(self):
        drops = [r["drop_ratio"] for r in self.ctx.ops.records if "drop_ratio" in r]
        return {"pipeline.dedup.drop_ratio": sum(drops) / len(drops) if drops else 0.0}

    def e2e(self):
        ops = self.ctx.ops
        inc = {(r["rep"], r["index"]): r["seconds"] for r in ops.ok("increment")}
        rd = {(r["rep"], r["index"]): r["seconds"] for r in ops.ok("chain_read")}
        cycles = [inc[k] + rd[k] for k in inc if k in rd]
        p50 = median(cycles)
        t, pct, n = tail(cycles)
        it, ipct, ni = tail(list(inc.values()))
        rt, rpct, nr = tail(list(rd.values()))
        stored = dir_bytes(self.warehouse) / self.input_bytes
        return (
            {"op_p50_s": p50, "op_tail_s": t,
             "rows_per_s": self.delta_rows / median(list(inc.values()))},
            {"increment_p50_s": (median(list(inc.values())), "s", f"n={ni}"),
             "increment_tail_s": (it, "s", f"p{ipct:.0f} of n={ni}"),
             "chain_read_p50_s": (median(list(rd.values())), "s", f"n={nr}"),
             "chain_read_tail_s": (rt, "s", f"p{rpct:.0f} of n={nr}"),
             "bytes_stored_per_input_byte": (stored, "ratio", f"input {self.input_bytes} B"),
             "cycle_tail_s": (t, "s", f"p{pct:.0f} of n={n}")},
        )


# ---------------------------------------------------------------------------
# near_dup_groups: MinHash-LSH pairs -> connected components -> survivors
# ---------------------------------------------------------------------------

class NearDupGroups(Workload):
    name = "near_dup_groups"
    op_timeout = 100.0
    untraced_in_trace = False

    def prepare(self):
        shutil.rmtree(self.inputs_dir, ignore_errors=True)
        os.makedirs(self.inputs_dir)
        self.docs_path = os.path.join(self.inputs_dir, "documents.parquet")
        self.docs_rows = inputs.make_documents(self.docs_path, self.ctx.seed)

    def docs(self):
        return self.ctx.spark.read.parquet(self.docs_path)

    def warm(self):
        from qsvspark.functions import dedup

        small = self.docs().filter(F.col("doc_id") < 200)
        pairs = dedup.minhash_lsh_pairs(small, hash_fn="xxhash64")
        dedup.connected_components(pairs).count()
        dedup.keep_representatives(small, pairs).count()

    def rep(self, i):
        from qsvspark.functions import dedup

        ops = self.ctx.ops
        self.pairs_dir = self.fresh_dir("pairs")
        self.groups_dir = self.fresh_dir("groups")

        def pairs():
            dedup.minhash_lsh_pairs(self.docs(), hash_fn="xxhash64").write.parquet(self.pairs_dir)
            return self.ctx.spark.read.parquet(self.pairs_dir).count()

        self.pairs = ops.run("minhash_lsh_pairs", pairs, "functions.dedup", rep=i)
        if self.pairs is None:
            return
        read_pairs = self.ctx.spark.read.parquet(self.pairs_dir)
        ops.run("connected_components",
                lambda: dedup.connected_components(read_pairs).write.parquet(self.groups_dir),
                "functions.dedup", rep=i)
        if not ops.records[-1]["ok"]:
            return  # keep_representatives runs connected_components again: not attempted
        ops.run("keep_representatives",
                lambda: noop_write(dedup.keep_representatives(self.docs(), read_pairs)),
                "functions.dedup", rep=i)

    def check(self):
        if not self.ctx.ops.ok("connected_components"):
            return []
        spark = self.ctx.spark
        pairs = spark.read.parquet(self.pairs_dir)
        groups = spark.read.parquet(self.groups_dir)
        ga = groups.select(F.col("id").alias("id_a"), F.col("group_id").alias("ga"))
        gb = groups.select(F.col("id").alias("id_b"), F.col("group_id").alias("gb"))
        split = (pairs.join(ga, "id_a", "left").join(gb, "id_b", "left")
                 .where(F.col("ga").isNull() | F.col("gb").isNull() | (F.col("ga") != F.col("gb")))
                 .count())
        if split:
            self.ctx.ops.fail(lambda r: r["kind"] == "connected_components", "WrongAnswer")
            return [f"{split} pairs whose ids are in different groups"]
        return []

    def layer_extra(self):
        return {"functions.dedup.pairs": float(self.pairs or 0)}

    def e2e(self):
        ok = self.ctx.ops.ok()
        times = [r["seconds"] for r in ok]
        out = {}
        if times:
            out["op_p50_s"] = median(times)
            out["op_tail_s"] = tail(times)[0]
        named = {}
        if len(ok) == 3:
            rate = self.docs_rows / sum(times)
            out["rows_per_s"] = rate
            named["dedup_docs_per_s"] = (rate, "docs/s", f"{self.docs_rows} documents")
        return out, named


WORKLOADS = {w.name: w for w in (QsvOps, RoutePipeline, AppendChain, NearDupGroups)}
