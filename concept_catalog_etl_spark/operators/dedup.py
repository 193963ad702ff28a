"""Last-writer-wins dedup on ``(key, event_ts, lsn)``.

The reference's implicit dedup is "last applied ``$set`` wins" via the Mongo
``_id`` lookup (``/root/reference/files/load.py:20-22``); the engine
generalizes it to an explicit total order ``event_ts DESC, lsn DESC`` per key
(SURVEY.md §2, dedup note). Total ordering matters: without the ``lsn``
tie-break, replay results would depend on batch boundaries.

Two physical strategies:

* ``lww_dedup`` — ``max_by(struct(*), (event_ts, lsn))`` hash aggregation.
  This is the hot path: partial (map-side) aggregation means a hot key is
  combined locally on every input partition before one tiny shuffled row per
  partition reaches the reducer — inherently skew-resistant, no sort. This
  is what a salted two-phase agg does by hand, for free.
* ``lww_dedup_window`` — ``row_number() OVER (PARTITION BY key ORDER BY ts
  DESC, lsn DESC) = 1``. Needs a full sort-shuffle of all rows per key (no
  partial agg) — kept for oracle parity (it IS the SQL the DuckDB oracle
  runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F, types as T


def _order_struct(ts_col: str, seq_col: str):
    return F.struct(F.col(ts_col), F.col(seq_col))


def _dt_orderable(dt: T.DataType) -> bool:
    """Mirror of Spark's orderability rule: maps (and anything containing
    one) cannot be compared, everything else in our dialect can."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _dt_orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_dt_orderable(f.dataType) for f in dt.fields)
    return True


def _canon_ord(col: F.Column, dt: T.DataType) -> F.Column:
    """Deterministic, order-stable serialization of an unorderable column
    for use as a tie-break term: maps serialize as their KEY-SORTED entry
    list so two equal maps compare equal regardless of internal entry
    order; anything else falls back to to_json."""
    if isinstance(dt, T.MapType) and _dt_orderable(dt.keyType) \
            and _dt_orderable(dt.valueType):
        return F.to_json(F.array_sort(F.map_entries(col)))
    return F.to_json(col)


def _keys(key: str | list[str]) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def winner_max(dtypes: dict[str, T.DataType], ordered: list[str],
               good: F.Column | None = None) -> F.Column:
    """The per-key LWW winner aggregation over ``struct(*ordered)`` (the
    leading columns are the (ts, seq) coordinate; the rest ride along and
    deterministically break coordinate ties).

    Fast path: lexicographic ``max(struct)`` — one comparison, map-side
    combinable. When any column is unorderable (a map, or a struct holding
    one — Spark cannot ORDER those), fall back to ``max_by``: the VALUE
    struct keeps the exact same field layout (downstream ``_w.*`` is
    unchanged) while the ORDERING struct replaces each unorderable column
    with its canonical serialization (key-sorted map entries, so equal maps
    compare equal regardless of internal entry order) — the LWW order stays
    total and batch-boundary-invariant. Still one hash agg with map-side
    combine; the extra to_json costs only on tables that declare map
    columns."""
    value = F.struct(*[F.col(c) for c in ordered])
    if good is not None:
        value = F.when(good, value)
    unorderable = [c for c in ordered if not _dt_orderable(dtypes[c])]
    if not unorderable:
        return F.max(value)
    ord_terms = [
        _canon_ord(F.col(c), dtypes[c]) if c in unorderable else F.col(c)
        for c in ordered
    ]
    ord_struct = F.struct(*ord_terms)
    if good is not None:
        ord_struct = F.when(good, ord_struct)
    return F.max_by(value, ord_struct)


def lww_dedup(df: DataFrame, key: str | list[str] = "doc_id",
              ts_col: str = "event_ts", seq_col: str = "lsn") -> DataFrame:
    """One row per key (single or composite): the (ts, seq)-max row.
    Hash agg with map-side combine."""
    ks = _keys(key)
    payload_cols = [c for c in df.columns if c not in ks]
    winner = F.max_by(F.struct(*payload_cols), _order_struct(ts_col, seq_col)).alias("_w")
    out = df.groupBy(*ks).agg(winner)
    return out.select(*ks, "_w.*")


def lww_dedup_with_sideout(
    df: DataFrame,
    key: str | list[str] = "doc_id",
    ts_col: str = "event_ts",
    seq_col: str = "lsn",
    reason_col: str = "_dlq_reason",
    winner_cols: list[str] | None = None,
    sideout_cols: list[str] | None = None,
) -> DataFrame:
    """Fused LWW dedup + dead-letter capture in ONE hash aggregation.

    Rows with ``reason_col IS NULL`` compete for the per-key ``(ts, seq)``-max
    winner (struct-``max`` — null rows are ignored, verified semantics);
    rejected rows are gathered per key with a filtered ``collect_list``. The
    dedup and the DLQ side-output therefore share one scan and one shuffle —
    no cache, no second pass over the batch (profiled: a separate DLQ pass
    re-parsing the batch cost ~50% of replay wall).

    Output: ``key``, ``_w`` (winner struct; NULL when the key had only
    rejected rows), ``_bad`` (array of rejected-row structs; empty when
    clean). Map-side partial aggregation still absorbs hot-key skew for the
    winner; ``_bad`` is bounded by the key's rejected rows in this batch —
    rare by construction, and a poisoned hot key costs no more than shuffling
    its raw rows would.
    """
    ks = _keys(key)
    good = F.col(reason_col).isNull()
    wc = winner_cols or [c for c in df.columns if c not in (*ks, reason_col)]
    sc = sideout_cols or df.columns
    # max(struct(ts, seq, payload...)) — lexicographic struct max — measured
    # ~20% faster than max_by(payload, ord) (one comparison, no separate
    # ordering struct), and a (ts, seq) tie resolves deterministically by
    # payload comparison instead of arbitrarily (batch-boundary invariance).
    ordered = [ts_col, seq_col] + [c for c in wc if c not in (ts_col, seq_col)]
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    winner = winner_max(dtypes, ordered, good=good).alias("_w")
    bad = F.collect_list(
        F.when(~good, F.struct(*[F.col(c) if isinstance(c, str) else c for c in sc]))
    ).alias("_bad")
    return df.groupBy(*ks).agg(winner, bad)


def lww_dedup_window(df: DataFrame, key: str | list[str] = "doc_id",
                     ts_col: str = "event_ts", seq_col: str = "lsn") -> DataFrame:
    w = W.partitionBy(*_keys(key)).orderBy(F.col(ts_col).desc(), F.col(seq_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

