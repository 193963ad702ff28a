"""End-to-end: binlog replay through the MERGE engine equals the oracle.

Covers SURVEY.md §5: golden final state, batch-size invariance, induced
batch replay (exactly-once), DLQ capture, n_tok recompute invariant.
"""

import glob
import os

import pytest

from concept_catalog_etl_spark.oracle import replay_dir
from concept_catalog_etl_spark.sources.binlog import generate_binlog
from concept_catalog_etl_spark.streaming.replay import replay_batch

from helpers import assert_state_equals_oracle, make_table, table_state


@pytest.fixture()
def binlog(scratch):
    d = os.path.join(scratch, "binlog")
    paths = generate_binlog(d, n_events=4000, n_docs=300, n_files=8, seed=42)
    return d, paths


def test_replay_matches_oracle(spark, scratch, binlog):
    binlog_dir, paths = binlog
    table = make_table(scratch)
    metrics = replay_batch(spark, paths, table, files_per_batch=3)
    oracle_state, _schema, ostats = replay_dir(binlog_dir)
    assert_state_equals_oracle(spark, table, oracle_state)
    # DLQ total matches oracle's dropped-event count
    dlq = table.read_dlq(spark)
    dlq_n = dlq.count() if dlq is not None else 0
    assert dlq_n == ostats["dlq"]
    assert all(not m["skipped"] for m in metrics)


def test_batch_size_invariance(spark, scratch, binlog):
    """Final state must not depend on micro-batch boundaries (LWW total order)."""
    binlog_dir, paths = binlog
    t1 = make_table(os.path.join(scratch, "a"))
    t2 = make_table(os.path.join(scratch, "b"))
    replay_batch(spark, paths, t1, files_per_batch=1)
    replay_batch(spark, paths, t2, files_per_batch=8)
    s1 = table_state(spark, t1)
    s2 = table_state(spark, t2)
    assert s1 == s2


def test_exactly_once_double_apply(spark, scratch, binlog):
    """Re-firing a committed batch_id is a no-op (ledger idempotency) —
    the Spark analog of the reference's idempotent $set
    (/root/reference/files/load.py:20-22)."""
    binlog_dir, paths = binlog
    table = make_table(scratch)
    replay_batch(spark, paths, table, files_per_batch=4)
    v_before = table.current_version()
    state_before = table_state(spark, table)
    # re-apply every batch with the same ids
    m2 = replay_batch(spark, paths, table, files_per_batch=4)
    assert all(m["skipped"] for m in m2)
    assert table.current_version() == v_before
    assert table_state(spark, table) == state_before


def test_out_of_order_and_late_events(spark, scratch):
    """A later batch carrying older events must lose LWW against the live row."""
    import json

    d = os.path.join(scratch, "log")
    os.makedirs(d)

    def ev(op, doc, ts, lsn, toks=None):
        p = None
        if op in ("insert", "update"):
            p = {"tokens": toks, "tokens_raw": None, "n_tok": len(toks), "source": "crawl"}
        return json.dumps(
            {"op": op, "doc_id": doc, "event_ts": ts, "lsn": lsn,
             "schema_version": 1, "payload": p, "schema_change": None}
        )

    f1 = os.path.join(d, "b-000.jsonl")
    f2 = os.path.join(d, "b-001.jsonl")
    with open(f1, "w") as f:
        f.write(ev("insert", "doc-a", "2026-01-01T00:00:02.000000", 10, [1, 2, 3]) + "\n")
        f.write(ev("insert", "doc-b", "2026-01-01T00:00:01.000000", 11, [9]) + "\n")
    with open(f2, "w") as f:
        # late update for doc-a: older ts → must be discarded
        f.write(ev("update", "doc-a", "2026-01-01T00:00:01.500000", 12, [7, 7]) + "\n")
        # same-ts tie for doc-b: higher lsn wins
        f.write(ev("update", "doc-b", "2026-01-01T00:00:01.000000", 13, [8, 8]) + "\n")
        # delete then nothing: doc-c never exists
        f.write(ev("delete", "doc-c", "2026-01-01T00:00:09.000000", 14) + "\n")

    table = make_table(scratch)
    replay_batch(spark, [f1, f2], table, files_per_batch=1)
    state = table_state(spark, table)
    assert state["doc-a"]["tokens"] == [1, 2, 3]  # late event lost
    assert state["doc-b"]["tokens"] == [8, 8]  # lsn tie-break applied
    assert "doc-c" not in state
    oracle_state, _s, _st = replay_dir(d)
    assert_state_equals_oracle(spark, table, oracle_state)


def test_delete_removes_row_and_bucket_rewrite_is_scoped(spark, scratch, binlog):
    binlog_dir, paths = binlog
    table = make_table(scratch)
    replay_batch(spark, paths, table, files_per_batch=8)
    import json

    # single delete for one existing doc
    state = table_state(spark, table)
    victim = sorted(state)[0]
    d2 = os.path.join(scratch, "log2")
    os.makedirs(d2)
    f = os.path.join(d2, "del.jsonl")
    with open(f, "w") as fh:
        fh.write(
            json.dumps(
                {"op": "delete", "doc_id": victim, "event_ts": "2099-01-01T00:00:00.000000",
                 "lsn": 10**9, "schema_version": 1, "payload": None, "schema_change": None}
            )
            + "\n"
        )
    m = replay_batch(spark, [f], table, files_per_batch=1, start_batch_id=100)
    assert m[0]["buckets_rewritten"] == 1  # only the victim's bucket touched
    state2 = table_state(spark, table)
    assert victim not in state2
    assert {k: v for k, v in state.items() if k != victim} == state2


def test_fast_summary_equals_exact_summary(spark, scratch, binlog, monkeypatch):
    """The steady-state fast path (schema-change probe + observe-borne
    lineage/counts) must produce identical table state, lineage offsets and
    batch accounting to the exact light-summary aggregation. The exact side
    is reached through input alone: the same events with one character per
    file written as a JSON unicode escape, which the probe cannot see
    through."""
    from concept_catalog_etl_spark.operators import merge

    _d, paths = binlog
    escaped = []
    for p in paths:
        q = os.path.join(scratch, "escaped", os.path.basename(p))
        os.makedirs(os.path.dirname(q), exist_ok=True)
        with open(p) as f:
            text = f.read()
        assert '"doc_id"' in text
        with open(q, "w") as f:
            f.write(text.replace('"doc_id"', '"\\u0064oc_id"', 1))
        escaped.append(q)

    light_calls: list = []
    parse_raw = merge.parse_raw

    def spy(*a, **kw):
        if kw.get("light"):
            light_calls.append(kw["light"])
        return parse_raw(*a, **kw)

    monkeypatch.setattr(merge, "parse_raw", spy)
    t_fast = make_table(os.path.join(scratch, "fast"))
    t_exact = make_table(os.path.join(scratch, "exact"))
    m_fast = replay_batch(spark, paths, t_fast, files_per_batch=3)
    n_fast = len(light_calls)
    m_exact = replay_batch(spark, escaped, t_exact, files_per_batch=3)
    n_exact = len(light_calls) - n_fast
    assert len(m_fast) == len(m_exact) > 1
    # a new table light-parses once to learn its sources; after that the
    # probe clears every plain batch, and sees every escaped one
    assert n_fast == 1
    assert n_exact == len(m_exact)
    assert table_state(spark, t_fast) == table_state(spark, t_exact)
    assert (t_fast.properties()["lineage_offsets"]
            == t_exact.properties()["lineage_offsets"])
    for a, b in zip(m_fast, m_exact):
        for k in ("events_total", "events_data", "dlq_count", "deletes_seen",
                  "bad_tokens", "rows_written"):
            assert a[k] == b[k], (k, a[k], b[k])


def test_schema_change_probe_matches_the_op_value(spark):
    """The text probe fires on an op of schema_change in any spelling the
    JSON reader accepts (spaces, single quotes), and not on the null
    schema_change member every data line carries."""
    from pyspark.sql import functions as F

    from concept_catalog_etl_spark.operators.merge import SCHEMA_CHANGE_OP_RE

    lines = {
        '{"op":"schema_change","schema_change":{"kind":"add"}}': True,
        '{"op" : "schema_change"}': True,
        "{'op': 'schema_change'}": True,
        '{"op": "insert", "payload": {}, "schema_change": null}': False,
        '{"op":"update","schema_change":null}': False,
    }
    df = spark.createDataFrame([(v,) for v in lines], "value string")
    hits = {r["value"] for r in df.filter(F.col("value").rlike(SCHEMA_CHANGE_OP_RE)).collect()}
    assert hits == {v for v, hit in lines.items() if hit}
    # the single-quoted spelling is a real schema change to the reader
    ops = df.select(F.from_json("value", "op string").op.alias("op")).collect()
    assert ops[2]["op"] == "schema_change"


def test_null_schema_change_struct_is_dlq_not_poison(spark, scratch):
    """An op=schema_change line WITHOUT a change struct must dead-letter
    (null_schema_change), not crash the summary collect — one hostile line
    would otherwise be an unrecoverable poison pill (restart replays the
    same batch and crashes again). Oracle mirrors the rule."""
    import json

    from concept_catalog_etl_spark.oracle import replay_dir

    d = os.path.join(scratch, "blog")
    os.makedirs(d)
    p = os.path.join(d, "binlog-000000.jsonl")
    with open(p, "w") as f:
        f.write(json.dumps({
            "op": "schema_change", "doc_id": None,
            "event_ts": "2026-01-01T00:00:00.000001", "lsn": 1,
            "schema_version": 2, "payload": None, "schema_change": None,
        }) + "\n")
        f.write(json.dumps({
            "op": "insert", "doc_id": "doc-1",
            "event_ts": "2026-01-01T00:00:00.000002", "lsn": 2,
            "schema_version": 1,
            "payload": {"tokens": [1, 2], "n_tok": 2, "source": "crawl",
                        "tokens_raw": None},
            "schema_change": None,
        }) + "\n")
    table = make_table(scratch)
    replay_batch(spark, [p], table, files_per_batch=1)
    st = table_state(spark, table)
    assert list(st) == ["doc-1"] and st["doc-1"]["tokens"] == [1, 2]
    assert table.schema().schema_version == 1  # no evolution applied
    dlq = table.read_dlq(spark)
    assert [r["_dlq_reason"] for r in dlq.collect()] == ["null_schema_change"]
    # oracle agrees on the DLQ count
    _state, _schema, ostats = replay_dir(d)
    assert ostats["dlq"] == 1
