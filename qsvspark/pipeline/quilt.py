"""Quilt: YAML-driven DAG of named stages over DataFrames.

Reference: /root/reference/src/operations/quilters/quilt.rs:257-659 and
README.md:595-630. Stage types: ``process`` (a sequence of load/chainable/
finalizer steps), ``concat`` (vertical union of ≥2 stages), ``join``
(equi-join of exactly 2 stages). Stages run in YAML order and may
reference earlier outputs by name (``source:`` / ``sources:``).

Improvements over the reference (SURVEY.md §3.2.6): a stage consumed by
more than one later stage is ``.cache()``d so its subplan runs once — the
reference re-executes the shared lazy subplan per consumer. Join supports
``cross`` properly (the reference documents it but silently falls back to
inner, quilt.rs:544-552) plus Spark's free ``semi``/``anti``.

Beyond the reference, the table-maintenance surface is also expressible
as stage types, so one YAML DAG covers the whole engine (ingest AND
upkeep): ``snapshot`` (read a SnapshotCatalog table/tag into the DAG),
``compact`` (rewrite_data_files, optional zorder), ``tag`` (pin a named
ref), ``rollback`` (repoint CURRENT), ``delete`` (merge-on-read equality
delete whose keys come from an earlier stage). Maintenance stages yield
the post-operation table read, so later process stages consume the
maintained data like any other source. ``pack`` (r4) lays an earlier
stage's (id, n_tok) rows out as fixed-length training sequences —
chunked or greedy mode, see qsvspark.functions.packing. ``hygiene``
(r5) stacks row-local quality/repetition/line-dup/lang/token-count
signal columns and filters on a SQL boolean over them; ``semdedup``
(r5) runs cluster-local semantic dedup and keeps survivors.
"""

from __future__ import annotations

import os
from typing import Any

import yaml
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qsvspark.engine import Q
from qsvspark.errors import InvalidArgumentError
from qsvspark.io import load as _load
from qsvspark.io import sinks

_JOIN_TYPES = {
    "inner": "inner",
    "left": "left",
    "outer": "full",
    "full": "full",
    "cross": "cross",
    "semi": "left_semi",
    "anti": "left_anti",
}


def _colnames(args: Any) -> str | list[str]:
    """YAML accepts a comma string or a list (quilt.rs:27-38)."""
    v = args.get("colnames", "*") if isinstance(args, dict) else "*"
    return v


def _apply_step(spark: SparkSession, df: DataFrame | None, name: str,
                args: Any, base_dir: str, output_override: str | None) -> DataFrame | None:
    args = args or {}
    if name == "load":
        path = args["path"] if isinstance(args, dict) else str(args)
        if not os.path.isabs(path):
            path = os.path.join(base_dir, path)  # YAML-relative (quilt.rs:339-402)
        return _load(
            spark, path,
            separator=args.get("separator") if isinstance(args, dict) else None,
            no_headers=bool(args.get("no_headers")) if isinstance(args, dict) else False,
        )
    if df is None:
        raise InvalidArgumentError(f"step '{name}' has no input (missing load/source)")
    q = Q(df)
    if name == "select":
        return q.select(_colnames(args)).df
    if name == "isin":
        return q.isin(args.get("colname", ""), [str(v) for v in args.get("values", [])]).df
    if name == "contains":
        return q.contains(args.get("colname", ""), args.get("pattern", ""),
                          bool(args.get("ignorecase"))).df
    if name == "sed":
        return q.sed(args.get("pattern", ""), args.get("replacement", ""),
                     column=args.get("colname"), ignorecase=bool(args.get("ignorecase"))).df
    if name == "grep":
        return q.grep(args.get("pattern", ""), bool(args.get("ignorecase")),
                      bool(args.get("invert_match"))).df
    if name in ("head", "tail"):
        n = args.get("number", 5) if isinstance(args, dict) else int(args or 5)
        return (q.head(n) if name == "head" else q.tail(n)).df
    if name == "sort":
        return q.sort(_colnames(args), desc=bool(args.get("desc"))).df
    if name == "count":
        return q.count().df
    if name == "uniq":
        return q.uniq().df
    if name == "renamecol":
        old = args.get("old_name") or args.get("from")
        new = args.get("new_name") or args.get("to")
        return q.renamecol(old, new).df
    if name == "changetz":
        return q.changetz(
            args.get("colname", ""), args.get("from-tz", args.get("from_tz", "")),
            args.get("to-tz", args.get("to_tz", "")),
            input_format=args.get("input_format") or args.get("input-format"),
            output_format=args.get("output_format") or args.get("output-format"),
            ambiguous=args.get("ambiguous", "earliest"),
        ).df
    if name == "timeline":
        agg = next((a for a in ("sum", "avg", "min", "max", "std") if a in args), None)
        return q.timeline(args.get("colname", args.get("time_column", "")),
                          args.get("interval", "1h"), agg=agg,
                          agg_column=args.get(agg) if agg else None).df
    if name == "timeslice":
        return q.timeslice(args.get("colname", ""), args.get("start"), args.get("end")).df
    if name == "timeround":
        return q.timeround(args.get("colname", ""), args.get("unit", "d"),
                           output=args.get("output")).df
    if name == "pivot":
        return q.pivot(args.get("rows", []), args.get("cols", []),
                       args.get("values", ""), args.get("agg", "sum")).df
    if name == "convert":
        return q.convert(args.get("colname", ""), args.get("from", "json"),
                         args.get("to", "json")).df
    # finalizers — executed for effect; pass the df through (a reference
    # process stage can end with show/dump and still feed later stages)
    if name == "show":
        sinks.show(df)
        return df
    if name == "showtable":
        sinks.showtable(df)
        return df
    if name == "headers":
        sinks.headers(df)
        return df
    if name == "stats":
        sinks.stats(df).show()
        return df
    if name == "dump":
        out = output_override or (args.get("output") if isinstance(args, dict) else None)
        sinks.dump(df, out or "dump_quilt.csv",
                   separator=(args.get("separator", ",") if isinstance(args, dict) else ","),
                   single_file=True)
        return df
    if name == "dumpcache":
        sinks.dumpcache(df, args.get("output", "cache_quilt.parquet"))
        return df
    if name == "partition":
        sinks.partition(df, args.get("colname", ""), args.get("output", "./partitions"))
        return df
    raise InvalidArgumentError(f"unknown quilt step '{name}'")


class Quilt:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.stage_results: dict[str, DataFrame] = {}

    def run_file(self, path: str, output_override: str | None = None) -> DataFrame | None:
        with open(path) as f:
            cfg = yaml.safe_load(f)
        return self.run(cfg, base_dir=os.path.dirname(os.path.abspath(path)),
                        output_override=output_override)

    def run(self, cfg: dict, base_dir: str = ".",
            output_override: str | None = None) -> DataFrame | None:
        stages = cfg.get("stages") or {}
        if not isinstance(stages, dict):
            raise InvalidArgumentError("quilt config needs a 'stages' mapping")

        # count stage consumers so shared stages get cached
        consumers: dict[str, int] = {}
        for scfg in stages.values():
            for src in self._sources_of(scfg):
                consumers[src] = consumers.get(src, 0) + 1

        last: DataFrame | None = None
        cached: list[DataFrame] = []
        for name, scfg in stages.items():  # YAML order (py3.7+ dicts)
            stype = (scfg or {}).get("type", "process")
            if stype == "process":
                df = self.stage_results.get((scfg or {}).get("source") or "")
                for step_name, step_args in (scfg.get("steps") or {}).items():
                    # duplicate step names are deduped by trailing '_'
                    # in the reference (quilt.rs:325-330) — YAML mappings
                    # can't carry true duplicates, so we just strip them
                    df = _apply_step(self.spark, df, step_name.rstrip("_"),
                                     step_args, base_dir, output_override)
            elif stype == "concat":
                srcs = self._resolve(scfg.get("sources", []))
                how = ((scfg.get("params") or {}).get("how", "vertical"))
                if how != "vertical":
                    raise InvalidArgumentError(
                        f"concat how='{how}' not supported (reference also errors)")
                df = srcs[0]
                for other in srcs[1:]:
                    df = df.unionByName(other, allowMissingColumns=False)
            elif stype == "join":
                srcs = self._resolve(scfg.get("sources", []))
                if len(srcs) != 2:
                    raise InvalidArgumentError("join stage needs exactly 2 sources")
                params = scfg.get("params") or {}
                how = _JOIN_TYPES.get(params.get("how", "inner"))
                if how is None:
                    how = "inner"  # reference warns + falls back (quilt.rs:544-552)
                key = params.get("key") or params.get("on")
                left, right = srcs
                if how == "cross":
                    df = left.crossJoin(right)
                else:
                    df = left.join(right, on=key, how=how)
            elif stype in ("snapshot", "compact", "tag", "rollback", "delete"):
                df = self._maintenance_stage(stype, scfg or {}, base_dir)
            elif stype == "decontaminate":
                # token-level benchmark decontamination: sources are
                # [corpus, benchmark]; size-guarded broadcast semi-join on
                # gram hashes, then an anti-join on the matched ids
                from qsvspark.pipeline.northstar import decontaminate_stage

                srcs = self._resolve(scfg.get("sources", []))
                if len(srcs) != 2:
                    raise InvalidArgumentError(
                        "decontaminate stage needs exactly 2 sources "
                        "(corpus, benchmark)")
                params = scfg.get("params") or {}
                df = decontaminate_stage(
                    srcs[0], srcs[1],
                    n=int(params.get("n", 8)),
                    tokens_col=params.get("tokens_col", "tokens"),
                )
            elif stype == "pack":
                # sequence packing as a DAG stage: chunked (default) or
                # greedy mode over an earlier stage's (id, n_tok) columns
                from qsvspark.functions.packing import pack_chunked, pack_greedy

                src = (scfg or {}).get("source") or ""
                if src not in self.stage_results:
                    raise InvalidArgumentError(
                        "pack stage needs 'source' (an earlier stage)")
                params = scfg.get("params") or {}
                seq_len = int(params.get("seq_len", 2048))
                n_tok = params.get("n_tok_col", "n_tok")
                idc = params.get("id_col") or params.get("order_col") or "doc_id"
                mode = params.get("mode", "chunked")
                base = self.stage_results[src]
                if mode == "chunked":
                    df = pack_chunked(
                        base, n_tok, idc, seq_len,
                        n_buckets=params.get("n_buckets"),
                        bucket_col=params.get("bucket_col"),
                    )
                elif mode == "greedy":
                    # group_cols: the sink-grouped layout ("a sequence
                    # never spans two sinks") expressed from YAML —
                    # same plumbing pack_sinks uses programmatically
                    df = pack_greedy(
                        base, n_tok, idc, seq_len,
                        num_partitions=params.get("num_partitions"),
                        group_cols=params.get("group_cols"),
                        oversized=params.get("oversized", "own"),
                    )
                else:
                    raise InvalidArgumentError(
                        f"pack mode '{mode}' not supported (chunked|greedy)")
            elif stype == "hygiene":
                # corpus-hygiene signals + optional threshold filter (the
                # Gopher-style quality-filter recipe as one YAML stage):
                # each named signal family appends its columns, then
                # 'filter' (a SQL boolean over them) keeps survivors.
                # All signal families are row-local codegen — the stage
                # adds zero shuffles regardless of how many are stacked.
                from qsvspark.functions import (
                    add_lang_id, add_line_dup_signals, add_quality,
                    add_repetition_signals, add_token_counts,
                )

                src = (scfg or {}).get("source") or ""
                if src not in self.stage_results:
                    raise InvalidArgumentError(
                        "hygiene stage needs 'source' (an earlier stage)")
                params = scfg.get("params") or {}
                text_col = params.get("text_col", "text")
                families = {
                    "quality": lambda d: add_quality(d, text_col),
                    "repetition": lambda d: add_repetition_signals(d, text_col),
                    "line_dups": lambda d: add_line_dup_signals(d, text_col),
                    "lang_id": lambda d: add_lang_id(d, text_col),
                    "token_counts": lambda d: add_token_counts(d, text_col),
                }
                df = self.stage_results[src]
                for fam in params.get("signals", ["quality"]):
                    if fam not in families:
                        raise InvalidArgumentError(
                            f"unknown hygiene signal family '{fam}' "
                            f"(expected one of {sorted(families)})")
                    df = families[fam](df)
                if params.get("filter"):
                    df = df.filter(params["filter"])
            elif stype == "semdedup":
                # SemDeDup as a DAG stage: deterministic centroid
                # training + cluster-local dedup; keeps survivors by
                # default (keep_only: false emits the flag column)
                from qsvspark.functions import semantic_dedup, train_ivf_centroids

                src = (scfg or {}).get("source") or ""
                if src not in self.stage_results:
                    raise InvalidArgumentError(
                        "semdedup stage needs 'source' (an earlier stage)")
                params = scfg.get("params") or {}
                vec_col = params.get("vec_col", "embedding")
                id_col = params.get("id_col", "vec_id")
                base = self.stage_results[src]
                cents = train_ivf_centroids(
                    base, vec_col, id_col,
                    n_centroids=int(params.get("n_centroids", 16)),
                    sample_n=int(params.get("sample_n", 256)),
                )
                flags = semantic_dedup(
                    base, cents,
                    threshold=float(params.get("threshold", 0.95)),
                    vec_col=vec_col, id_col=id_col,
                    method=params.get("method", "blas"),
                )
                if params.get("keep_only", True):
                    df = base.join(
                        flags.filter("kept").select(id_col), id_col, "left_semi"
                    )
                else:
                    df = flags
            else:
                raise InvalidArgumentError(f"unknown stage type '{stype}'")
            if consumers.get(name, 0) > 1:
                df = df.cache()
                cached.append(df)
            self.stage_results[name] = df
            last = df
        # release the shared-stage caches once the DAG has run: every
        # consuming action (finalizer steps) happened inside this loop, so
        # holding the blocks past return is a leak in a long-lived session
        # (actions the CALLER later runs on the returned frame recompute —
        # correctness is unaffected). The reference never caches at all
        # (quilt.rs re-executes shared subplans per consumer).
        for df in cached:
            df.unpersist()
        return last

    def _maintenance_stage(self, stype: str, scfg: dict,
                           base_dir: str) -> DataFrame:
        """SnapshotCatalog operations as DAG stages. Each needs
        ``catalog`` (warehouse root, YAML-relative) and ``table``;
        knobs go under ``params``. The stage result is the table read
        AFTER the operation (for ``tag``: the tagged snapshot), so the
        DAG stays one IR — maintenance output feeds process stages."""
        from qsvspark.io import SnapshotCatalog

        root = scfg.get("catalog")
        table = scfg.get("table")
        if not root or not table:
            raise InvalidArgumentError(
                f"{stype} stage needs 'catalog' (warehouse root) and 'table'")
        if not os.path.isabs(root):
            root = os.path.join(base_dir, root)
        cat = SnapshotCatalog(root)
        params = scfg.get("params") or {}
        if stype == "snapshot":
            return cat.read(self.spark, table, snap=params.get("snap"))
        if stype == "compact":
            cat.compact(
                self.spark, table,
                target_file_bytes=int(params.get("target_file_mb", 128)) << 20,
                cluster_by=params.get("cluster_by"),
                zorder=params.get("zorder"),
                force=bool(params.get("force")),
            )  # None (already compact) still reads back fine below
            return cat.read(self.spark, table)
        if stype == "tag":
            name = params.get("name")
            if not name:
                raise InvalidArgumentError("tag stage needs params.name")
            cat.tag(table, name, params.get("snap"))
            return cat.read(self.spark, table, snap=name)
        if stype == "rollback":
            snap = params.get("snap")
            if not snap:
                raise InvalidArgumentError(
                    "rollback stage needs params.snap (snapshot id or tag)")
            cat.rollback(table, snap)  # resolves tag names itself
            return cat.read(self.spark, table)
        # delete: equality-delete keys come from an earlier stage
        src = scfg.get("source")
        keys = self.stage_results.get(src or "")
        if keys is None:
            raise InvalidArgumentError(
                "delete stage needs 'source' (an earlier stage providing "
                "the key rows)")
        # YAML 1.1 resolves a bare `on:` key to boolean True — accept it
        on = params.get("on") or params.get(True) or params.get("keys")
        if not on:
            raise InvalidArgumentError(
                "delete stage needs params.on (key column list)")
        cat.delete_rows(
            self.spark, table, keys.select(*on), on=list(on),
            input_fingerprint=str(params.get("fingerprint", "")),
        )
        return cat.read(self.spark, table)

    def _sources_of(self, scfg: dict | None) -> list[str]:
        scfg = scfg or {}
        out = []
        if scfg.get("source"):
            out.append(scfg["source"])
        out.extend(scfg.get("sources") or [])
        return out

    def _resolve(self, names: list[str]) -> list[DataFrame]:
        out = []
        for n in names:
            if n not in self.stage_results:
                raise InvalidArgumentError(f"unknown stage reference '{n}'")
            out.append(self.stage_results[n])
        return out
