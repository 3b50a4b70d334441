"""Cluster entry point for the north-star pipeline.

Ship and run:

    python tools/package.py                       # builds dist/qsvspark.zip
    spark-submit --py-files dist/qsvspark.zip \
        jobs/pipeline.py \
        --input  s3://bucket/tokens_table \
        --warehouse s3://bucket/warehouse \
        --fingerprint tokens-2026-08-17 \
        [--salted] [--bucket-width 64]

On a real cluster add Iceberg via
    --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
and point --warehouse at the Iceberg warehouse; locally the snapshot
catalog emulates snapshots + manifests on plain parquet (io/snapshot.py).

The job is resumable: rerunning with the same --fingerprint skips stages
whose committed snapshots already exist (kill-and-restart safe).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# under spark-submit --py-files the qsvspark zip is on sys.path already;
# for plain-python runs fall back to the repo checkout next to jobs/
_repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_repo, "qsvspark")):
    sys.path.insert(0, _repo)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="tokens table path (parquet/Iceberg)")
    ap.add_argument("--warehouse", required=True, help="snapshot warehouse root")
    ap.add_argument("--fingerprint",
                    help="input fingerprint for resume (same input+config → resume)")
    ap.add_argument("--bucket-width", type=int, default=64)
    ap.add_argument("--num-sources", type=int, default=20,
                    help="size of the enrich dimension; widening it then "
                         "running --redrive-quarantine routes previously "
                         "unknown sources out of quarantine")
    ap.add_argument("--num-sinks", type=int, default=4)
    ap.add_argument("--salted", action="store_true",
                    help="two-level salted aggregation for heavy-hitter keys")
    ap.add_argument("--dedup", default=None, choices=["exact"],
                    help="drop duplicate token sequences (keep-first by "
                         "doc_id) before routing; increments anti-join "
                         "against the committed dedup_keys chain")
    ap.add_argument("--quarantine", action="store_true",
                    help="dead-letter rows that fail parse/enrich to the "
                         "sink_quarantine partition (with error_reason) "
                         "instead of dropping them; aggregates exclude it")
    ap.add_argument("--purge-docs", metavar="PATH", default=None,
                    help="takedown: parquet file of doc_id values to "
                         "delete from the routed table (merge-on-read "
                         "equality delete; aggregates adjusted exactly); "
                         "needs --fingerprint but no --input")
    ap.add_argument("--redrive-quarantine", action="store_true",
                    help="re-process the quarantine partition (after the "
                         "cause is fixed): newly-clean rows move to their "
                         "real sinks via dynamic partition overwrite; "
                         "implies --quarantine, needs --fingerprint but "
                         "no --input")
    ap.add_argument("--dedup-keys-buckets", type=int, default=0,
                    help="store the committed dedup_keys chain hash-bucketed "
                         "into N buckets (Iceberg bucket(N, key) transform): "
                         "the ever-growing key chain is never reshuffled by "
                         "increment anti-joins — only each delta's keys cross "
                         "an Exchange. Size ~= chain bytes / 256MB at target "
                         "scale. 0 (default) = plain layout")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--cluster-by", default=None,
                    help="comma-separated sort-order columns for the routed "
                         "sink layout (e.g. source,n_tok) — parquet min/max "
                         "row-group pruning for downstream filters")
    ap.add_argument("--compact-sinks", action="store_true",
                    help="after the run, bin-pack the routed sink's small "
                         "files (Iceberg rewrite_data_files equivalent)")
    ap.add_argument("--target-file-mb", type=int, default=128,
                    help="compaction target data-file size")
    ap.add_argument("--pack-sinks", type=int, metavar="SEQ_LEN", default=None,
                    help="after the run, lay the routed table out as "
                         "fixed-length training sequences (greedy no-split "
                         "packing per sink) into a 'packed' table")
    ap.add_argument("--pack-oversized", default="own",
                    choices=["own", "split", "truncate"],
                    help="policy for docs longer than SEQ_LEN: 'own' flags a "
                         "solo sequence, 'split' cuts at sequence boundaries "
                         "(zero padding waste), 'truncate' keeps the first "
                         "SEQ_LEN tokens")
    ap.add_argument("--materialize-sequences", action="store_true",
                    help="with --pack-sinks: write the physical 'sequences' "
                         "table (seq_id, sink, tokens, n_docs, n_tokens, pad, "
                         "parts) instead of 'packed' — docs flattened in "
                         "layout order and padded to exactly SEQ_LEN, each "
                         "row's layout in its parts; the table a training "
                         "loader consumes")
    ap.add_argument("--pad-id", type=int, default=0,
                    help="pad token id for --materialize-sequences")
    ap.add_argument("--increment", action="store_true",
                    help="append-only increment: route ONLY this input and "
                         "chain it onto the committed routed table; "
                         "aggregates maintained incrementally")
    ap.add_argument("--distinct-mode", default="merge",
                    choices=["merge", "recompute"],
                    help="increment aggregate maintenance: 'merge' re-sums "
                         "partials (exact when a doc_id never spans two "
                         "increments), 'recompute' scans the full chain")
    ap.add_argument("--history", metavar="TABLE", default=None,
                    help="print TABLE's commit log (manifests only, no "
                         "Spark job) and exit")
    ap.add_argument("--rollback", nargs=2, metavar=("TABLE", "SNAP"),
                    default=None,
                    help="repoint TABLE's CURRENT at SNAP (snapshot id or "
                         "tag name; pure metadata; newer snapshots stay "
                         "until expiry) and exit")
    ap.add_argument("--tag", nargs=2, metavar=("TABLE", "NAME"), default=None,
                    help="pin NAME to TABLE's CURRENT snapshot (immutable "
                         "named ref; read/rollback/expiry resolve it) and "
                         "exit")
    args = ap.parse_args(argv)

    # metadata-only maintenance: no SparkSession needed
    if args.history or args.rollback or args.tag:
        from qsvspark.io.snapshot import SnapshotCatalog

        cat = SnapshotCatalog(args.warehouse)
        if args.tag:
            table, name = args.tag
            snap = cat.tag(table, name)
            print(json.dumps({"tagged": table, "tag": name, "snapshot": snap}))
        if args.rollback:
            table, snap = args.rollback
            m = cat.rollback(table, snap)
            print(json.dumps({"rolled_back": table, "current": m["snapshot"],
                              "row_count": m.get("cumulative_row_count")}))
        if args.history:
            print(json.dumps(cat.history(args.history)))
        return 0
    if args.redrive_quarantine or args.purge_docs:
        if not args.fingerprint:
            ap.error("--redrive-quarantine/--purge-docs require --fingerprint")
    elif not args.input or not args.fingerprint:
        ap.error("--input and --fingerprint are required to run the pipeline")

    # On a cluster, spark-submit provides the session config (master,
    # executors); get_spark only fills in engine-level defaults.
    from qsvspark.session import get_spark
    from qsvspark.pipeline import NorthStarPipeline

    spark = get_spark("qsvspark-pipeline",
                      shuffle_partitions=args.shuffle_partitions)
    pipe = NorthStarPipeline(
        spark, args.warehouse,
        bucket_width=args.bucket_width,
        num_sources=args.num_sources,
        num_sinks=args.num_sinks,
        salted=args.salted,
        route_cluster_by=args.cluster_by.split(",") if args.cluster_by else None,
        dedup=args.dedup,
        dedup_keys_buckets=args.dedup_keys_buckets,
        quarantine=args.quarantine or args.redrive_quarantine,
    )
    if args.redrive_quarantine:
        print(json.dumps(pipe.redrive_quarantine(args.fingerprint)))
        spark.stop()
        return 0
    if args.purge_docs:
        keys = spark.read.parquet(args.purge_docs)
        print(json.dumps(pipe.purge_docs(keys, args.fingerprint)))
        spark.stop()
        return 0
    tokens = spark.read.parquet(args.input)
    if args.increment:
        metrics = pipe.run_increment(tokens, args.fingerprint,
                                     distinct_mode=args.distinct_mode)
    else:
        metrics = pipe.run(tokens, input_fingerprint=args.fingerprint)
    if args.compact_sinks:
        m = pipe.compact_sinks(target_file_bytes=args.target_file_mb * 1024 * 1024)
        metrics["compaction"] = (
            {"snapshot": m["snapshot"], "files": len(pipe.catalog.data_files("routed"))}
            if m else "already-compact"
        )
    if args.pack_sinks:
        m = pipe.pack_sinks(
            seq_len=args.pack_sinks,
            oversized=args.pack_oversized,
            materialize=args.materialize_sequences,
            pad_id=args.pad_id,
        )
        table = "sequences" if args.materialize_sequences else "packed"
        metrics[table] = (
            {"snapshot": m["snapshot"], "rows": m["row_count"]} if m else "already-packed"
        )
    print(json.dumps(metrics))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
