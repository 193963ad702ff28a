"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship CDC replay on sf0.001-derived events.
``queries()`` / ``oracle_sql()`` — operator surface from SURVEY.md §2.1
(engine operators + training-data-pipeline ops), DuckDB-checked at sf0.01.
"""

from __future__ import annotations

import os
import shutil
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: treat sf0.001 `events` as a CDC binlog over doc keys, replay
    it through the full engine (envelope parse → DLQ → JVM normalize →
    LWW dedup → bucketed copy-on-write MERGE with exactly-once ledger) into a
    fresh LakeTable, and return the final live state.

    This is the end-to-end path the reference ETL takes
    (extract → transform → load, /root/reference/files/Makefile:2), fused
    into micro-batched snapshot commits.
    """
    import json as _json

    from concept_catalog_etl_spark.lakehouse import LakeTable, TableSchema
    from concept_catalog_etl_spark.streaming.replay import replay_batch

    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    # events → F2 change-event JSON lines (deterministic, derived from data):
    # 'error' → delete; tokens derived from (event_id, value); every 3rd
    # event arrives in the wrapped-text form to exercise normalization.
    n_tok = (F.col("value").cast("int") % 16 + 1)
    toks = F.transform(
        F.sequence(F.lit(1), n_tok),
        lambda i: (F.col("event_id") + i) % 50257,
    )
    toks_str = F.concat(F.lit("{'no': '"), F.array_join(F.transform(toks, lambda t: t.cast("string")), " "), F.lit("'}"))
    wrapped = F.col("event_id") % 3 == 0
    lines = ev.select(
        F.to_json(
            F.struct(
                F.when(F.col("event_type") == "error", "delete").otherwise(
                    F.when(F.col("event_type") == "signup", "insert").otherwise("update")
                ).alias("op"),
                F.format_string("doc-%06d", F.col("user_id")).alias("doc_id"),
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("event_ts"),
                F.col("event_id").alias("lsn"),
                F.lit(1).alias("schema_version"),
                F.when(
                    F.col("event_type") != "error",
                    F.struct(
                        F.when(~wrapped, toks).alias("tokens"),
                        F.when(wrapped, toks_str).alias("tokens_raw"),
                        n_tok.alias("n_tok"),
                        F.lit("crawl").alias("source"),
                    ),
                ).alias("payload"),
            )
        ).alias("value")
    )

    work = os.path.join(_REPO, ".scratch", "entry_run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    log_dir = os.path.join(work, "binlog")
    # materialize as text micro-batch files (the binlog) — Spark-side write,
    # no driver collect loop; batch assignment is irrelevant to the final
    # state (LWW total order), only determinism of content matters
    lines.repartitionByRange(4, F.xxhash64("value")).write.mode("overwrite").text(log_dir)
    paths = sorted(
        os.path.join(log_dir, f) for f in os.listdir(log_dir) if f.endswith(".txt")
    )

    schema = TableSchema.create(
        [("doc_id", "string"), ("tokens", "array<int>"), ("n_tok", "int"), ("source", "string")],
        key="doc_id",
    )
    table = LakeTable.create(os.path.join(work, "table"), schema, n_buckets=16)
    replay_batch(spark, paths, table, files_per_batch=1)
    return table.read(spark).orderBy("doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from concept_catalog_etl_spark.plans.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from concept_catalog_etl_spark.plans.queries import ORACLES, dynamic_oracles

    # static SQL strings + generated ones (LSH plane literals from the fixed
    # seed, IVF centroid literals re-fit deterministically from the parquet
    # the driver's DuckDB views read — see plans/queries.py)
    return {**ORACLES, **dynamic_oracles()}
