"""spark-submit entry point (north_star launch contract):

    python package_zip.py                                  # build dist/engine.zip
    spark-submit --py-files dist/engine.zip submit_main.py \
        --binlog-dir /data/binlog --table /lake/concepts \
        --checkpoint /lake/_ckpt/concepts [--mode stream|batch] \
        [--n-buckets 1024] [--files-per-batch 10] [--write-mode cow|mor]

On a cluster the session comes from the cluster manager (no .master here);
locally it falls back to local[*]. Replaces the reference's Makefile
orchestration (/root/reference/files/Makefile:2).
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--binlog-dir", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--mode", choices=["stream", "batch"], default="stream")
    ap.add_argument("--n-buckets", type=int, default=1024)
    ap.add_argument("--files-per-batch", type=int, default=10)
    ap.add_argument("--write-mode", choices=["cow", "mor"], default="cow")
    ap.add_argument(
        "--audit-max-delete-ratio", type=float, default=None,
        help="enable write-audit-publish: stage each batch, reject it "
             "(abort, batch_id left uncommitted) if it would tombstone "
             "more than this fraction of the pre-batch row count",
    )
    ap.add_argument(
        "--maintenance-every", type=int, default=None,
        help="stream mode: run the bounded compaction+vacuum maintenance "
             "tick after every N applied batches",
    )
    ap.add_argument(
        "--export-dest", default=None,
        help="keep a plain-parquet handoff chain synced at this path "
             "(sinks.sync_export): on the maintenance tick when enabled, "
             "and once after the replay drains",
    )
    ap.add_argument(
        "--export-max-chain", type=int, default=32,
        help="re-snapshot the handoff once its chain holds this many "
             "directories, bounding consumer reconstruction cost",
    )
    ap.add_argument(
        "--replay-dlq", action="store_true",
        help="after the replay drains, re-drive dead-letter batches "
             "as-is through the merge (recovers rows rejected by a "
             "since-fixed producer/parser defect; unrepairable rows stay "
             "dead-lettered)",
    )
    ap.add_argument(
        "--dlq-repair-id", default="v0",
        help="repair GENERATION for --replay-dlq: bump it after shipping "
             "a parser/producer fix so newly-repairable rows re-merge "
             "(a consumed generation is ledger-skipped and never "
             "rewrites its partitions again)",
    )
    args = ap.parse_args()

    from concept_catalog_etl_spark.lakehouse import LakeTable, TableSchema
    from concept_catalog_etl_spark.operators.merge import MergeConfig
    from concept_catalog_etl_spark.streaming.replay import replay_batch, replay_stream

    spark = (
        SparkSession.builder.appName("concept_catalog_etl_spark")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    if LakeTable.exists(args.table):
        table = LakeTable(args.table)
    else:
        schema = TableSchema.create(
            [
                ("doc_id", "string"),
                ("tokens", "array<int>"),
                ("n_tok", "int"),
                ("source", "string"),
            ],
            key="doc_id",
        )
        table = LakeTable.create(args.table, schema, n_buckets=args.n_buckets)

    cfg = MergeConfig(write_mode=args.write_mode)
    audit = None
    if args.audit_max_delete_ratio is not None:
        ratio = args.audit_max_delete_ratio

        def audit(sp, tbl, sid, metrics):  # noqa: ANN001 — WAP gate
            before = tbl.read(sp).count()
            after = tbl.read_stage(sp, sid).count()
            return before == 0 or (before - after) / before <= ratio

    if audit is not None and args.mode != "stream":
        ap.error("--audit-max-delete-ratio requires --mode stream")
    if args.maintenance_every is not None and args.mode != "stream":
        ap.error("--maintenance-every requires --mode stream")

    sync_derived = None
    if args.export_dest and args.maintenance_every:
        from concept_catalog_etl_spark.sinks import sync_export

        sync_derived = [lambda sp: sync_export(
            sp, table, args.export_dest, max_chain=args.export_max_chain)]

    if args.mode == "stream":
        metrics = replay_stream(
            spark, args.binlog_dir, table, args.checkpoint,
            cfg=cfg, max_files_per_trigger=args.files_per_batch,
            audit=audit, maintenance_every=args.maintenance_every,
            sync_derived=sync_derived,
        )
    else:
        files = sorted(
            os.path.join(args.binlog_dir, f)
            for f in os.listdir(args.binlog_dir)
            if f.endswith(".jsonl")
        )
        metrics = replay_batch(spark, files, table, args.files_per_batch, cfg)
    out = {"batches": len(metrics), "table_version": table.current_version()}
    if audit is not None:
        out["rejected_batches"] = sum(
            1 for m in metrics if m.get("published") is False
        )
    if args.replay_dlq:
        from concept_catalog_etl_spark.operators.dlq_replay import replay_dlq

        rec = replay_dlq(spark, table, cfg=cfg,
                         repair_id=args.dlq_repair_id)
        out["dlq_recovered"] = sum(r["recovered"] for r in rec)
        out["dlq_residual"] = sum(r["residual"] for r in rec)
    if args.export_dest:
        from concept_catalog_etl_spark.sinks import sync_export

        m = sync_export(spark, table, args.export_dest,
                        max_chain=args.export_max_chain)
        out["export"] = {"kind": m.get("kind", "noop"),
                         "version": m.get("version")}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
