"""LWW dedup unit + property tests (SURVEY.md §5): the physical
strategies agree, ties break on lsn, results are permutation-invariant."""

import datetime as dt

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import types as T

from pyspark.sql import functions as F

from concept_catalog_etl_spark.operators.dedup import (
    lww_dedup,
    lww_dedup_window,
    lww_dedup_with_sideout,
)

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("event_ts", T.TimestampType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("v", T.IntegerType()),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(d, dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s), lsn, v) for d, s, lsn, v in rows],
        SCHEMA,
    )


def _result(df):
    return {
        r["doc_id"]: (r["event_ts"], r["lsn"], r["v"]) for r in df.collect()
    }


def test_lww_basic_and_tie_break(spark):
    rows = [
        ("a", 10, 1, 100),
        ("a", 20, 2, 200),  # newest ts wins
        ("a", 15, 3, 300),
        ("b", 5, 4, 400),
        ("b", 5, 9, 900),  # ts tie → higher lsn wins
        ("b", 5, 7, 700),
    ]
    df = _df(spark, rows)
    got = _result(lww_dedup(df))
    assert got["a"][2] == 200
    assert got["b"][2] == 900


def test_three_strategies_agree(spark):
    """The max_by hash aggregation, the window reference and the fused
    struct-max kernel the merge runs pick the same winners."""
    rows = [("k%d" % (i % 7), i % 13, i, i * 10) for i in range(200)]
    df = _df(spark, rows)
    a = _result(lww_dedup(df))
    b = _result(lww_dedup_window(df))
    fused = lww_dedup_with_sideout(df.withColumn("_dlq_reason", F.lit(None).cast("string")))
    c = _result(fused.select("doc_id", "_w.*"))
    assert a == b == c


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=0, max_value=999),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_lww_equals_python_reduction(spark, rows):
    # dedup identity is (key, ts, lsn): drop duplicate identities first
    # (identical identity with different payloads is undefined input)
    seen = {}
    for d, s, lsn, v in rows:
        seen[(d, s, lsn)] = v
    rows = [(d, s, lsn, v) for (d, s, lsn), v in seen.items()]
    df = _df(spark, rows)
    got = {k: v[2] for k, v in _result(lww_dedup(df)).items()}
    expect: dict[str, tuple] = {}
    for d, s, lsn, v in rows:
        cur = expect.get(d)
        if cur is None or (s, lsn) > (cur[0], cur[1]):
            expect[d] = (s, lsn, v)
    assert got == {k: v[2] for k, v in expect.items()}


def test_partial_aggregation_in_plan(spark):
    """The hot-path dedup must plan a partial/final aggregate pair — the
    map-side combine that makes a hot key shuffle O(partitions) rows, not
    O(events). (With array-typed payloads Spark picks SortAggregate — the
    partial phase is what matters for skew.)"""
    df = _df(spark, [("a", 1, 1, 1), ("a", 2, 2, 2)])
    plan = lww_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan, plan
    assert "max_by" in plan.split("Exchange")[0], "final agg above the exchange"


def test_lww_sideout_fused(spark):
    """Fused dedup + DLQ capture: winners over good rows only; every
    rejected row captured; all-bad keys yield a NULL winner."""
    import datetime as dt

    from pyspark.sql import functions as F

    from concept_catalog_etl_spark.operators.dedup import lww_dedup_with_sideout

    ts = dt.datetime(2026, 1, 1)
    rows = [
        ("k1", "update", ts, 1, "good-old", None),
        ("k1", "update", ts, 2, "good-new", None),
        ("k1", "update", ts, 9, "bad-latest", "bad_tokens"),
        ("k2", "insert", ts, 5, "bad-only", "unparseable"),
        ("k3", "insert", ts, 7, "clean", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, op string, event_ts timestamp, lsn long, "
              "payload string, _dlq_reason string",
    )
    out = lww_dedup_with_sideout(
        df, key="doc_id",
        winner_cols=["op", "event_ts", "lsn", "payload"],
        sideout_cols=[F.col("_dlq_reason"), F.col("payload")],
    ).collect()
    by_key = {r["doc_id"]: r for r in out}
    # bad rows never win LWW, even with the max (ts, lsn)
    assert by_key["k1"]["_w"]["payload"] == "good-new"
    assert [b["payload"] for b in by_key["k1"]["_bad"]] == ["bad-latest"]
    # all-bad key: null winner, rows still captured
    assert by_key["k2"]["_w"] is None
    assert [b["_dlq_reason"] for b in by_key["k2"]["_bad"]] == ["unparseable"]
    # clean key: winner, empty side-output
    assert by_key["k3"]["_w"]["payload"] == "clean" and by_key["k3"]["_bad"] == []
