"""concept_catalog_etl_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Re-expresses the capabilities of the reference ETL
(Informasjonsforvaltning/concept-catalog-etl, ``/root/reference/files/{extract,transform,load}.py``)
as a Spark-first engine: binlog/WAL-style change events replayed into an
Iceberg-style lake table of pre-tokenized training sequences
``(doc_id:string, tokens:array<int>, n_tok:int, source:string)`` with
key-partitioned MERGE, last-writer-wins dedup on ``(doc_id, event_ts, lsn)``,
schema evolution, exactly-once commits via a batch-id ledger in snapshot
properties, record transforms as JVM codegen expressions (no Python on
the record path), and resumable checkpointed streaming replay.

Layout:
    lakehouse/   Parquet + JSON-manifest table format (snapshots, atomic commit,
                 bucket + min/max file pruning, schema evolution by field id,
                 partition-spec evolution, multi-table catalog with atomic
                 cuts and cross-table transactions)
    operators/   envelope parse/DLQ, LWW dedup, copy-on-write MERGE, skew tools
    functions/   the query suite's pandas UDF, reference-repair re-expression,
                 text analysis, dedup (minhash/simhash), similarity, multimodal
    sources/     deterministic synthetic binlog generator
    streaming/   Structured Streaming foreachBatch replay + batch replay driver
"""

__version__ = "0.1.0"
