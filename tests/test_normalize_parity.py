"""The JVM-expression normalize path (token repair, ``n_tok`` recompute,
source tagging) must match the oracle, edge inputs included."""

import os

from concept_catalog_etl_spark.oracle import replay_dir
from concept_catalog_etl_spark.sources.binlog import generate_binlog
from concept_catalog_etl_spark.streaming.replay import replay_batch

from helpers import assert_state_equals_oracle, make_table, table_state


def test_jvm_normalize_matches_oracle(spark, scratch):
    d = os.path.join(scratch, "binlog")
    paths = generate_binlog(
        d, n_events=3000, n_docs=250, n_files=4, seed=31,
        p_wrapped=0.4, p_wrong_ntok=0.2, p_null_ntok=0.1,
    )
    t = make_table(os.path.join(scratch, "jvm"))
    m = replay_batch(spark, paths, t, files_per_batch=2)
    # the dq counter sees the wrong claimed n_tok values the binlog carries
    assert sum(b["ntok_repaired"] for b in m) > 0
    oracle_state, _s, _st = replay_dir(d)
    assert_state_equals_oracle(spark, t, oracle_state)


def test_jvm_norm_edge_cases(spark, scratch):
    """Edge inputs: wrapped-empty → [], wrapped non-numeric → DLQ,
    garbage raw → DLQ; the same as the oracle."""
    import json

    d = os.path.join(scratch, "log")
    os.makedirs(d)

    def ev(doc, lsn, tokens=None, raw=None):
        return json.dumps(
            {"op": "insert", "doc_id": doc, "event_ts": f"2026-01-01T00:00:{lsn:02d}.000000",
             "lsn": lsn, "schema_version": 1,
             "payload": {"tokens": tokens, "tokens_raw": raw, "n_tok": None, "source": None},
             "schema_change": None}
        )

    f = os.path.join(d, "b.jsonl")
    with open(f, "w") as fh:
        fh.write("\n".join([
            ev("d1", 1, raw="{'no': ''}"),           # empty inner → []
            ev("d2", 2, raw="{'no': 'a b c'}"),       # non-numeric → DLQ
            ev("d3", 3, raw="plain garbage"),          # unwrapped → DLQ
            ev("d4", 4, raw='{"no": "5  6"}'),        # double spaces OK
            ev("d5", 5, tokens=[9, 8]),                # passthrough
        ]) + "\n")

    t = make_table(os.path.join(scratch, "jvm"))
    replay_batch(spark, [f], t)
    s = table_state(spark, t)
    assert set(s) == {"d1", "d4", "d5"}, s
    assert s["d1"]["tokens"] == [] and s["d1"]["n_tok"] == 0
    assert s["d4"]["tokens"] == [5, 6]
    assert s["d5"]["tokens"] == [9, 8]
    assert all(r["source"] == "crawl" for r in s.values())
    oracle_state, _s, ostats = replay_dir(d)
    assert set(oracle_state) == {"d1", "d4", "d5"}
    assert ostats["dlq"] == 2
