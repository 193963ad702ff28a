"""Change-event envelope: schema, JSON parse, DLQ routing.

Event lines (FIXTURES.md F2) are JSON::

    {"op": "insert|update|delete|schema_change", "doc_id": "...",
     "event_ts": "2026-01-01T00:00:00.000001", "lsn": 123,
     "schema_version": 1,
     "payload": {"tokens": [..]|null, "tokens_raw": "{'no': '1 2 3'}"|null,
                 "n_tok": 7|null, "source": "crawl", ...evolved columns...},
     "schema_change": {"kind": "add|rename|widen", "column": "...",
                        "new_name": ..., "new_type": ...}|null}

The stream source reads **text** lines and parsing happens inside
``foreachBatch`` with the *current* registry schema — so schema evolution
never requires restarting the streaming query. Malformed events route to the
DLQ with a reason, mirroring the reference's ``fail_log``
(``/root/reference/files/load.py:19,25-32``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..lakehouse.schema import TableSchema, parse_type

VALID_OPS = ("insert", "update", "delete", "schema_change")

SCHEMA_CHANGE_T = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("new_name", T.StringType()),
        T.StructField("new_type", T.StringType()),
        # Iceberg-style initial-default for kind='add', JSON-encoded (so
        # scalars and arrays travel in one string field). Optional: absent
        # / null = no default; feeds that never send it parse unchanged
        # (from_json yields a null field).
        T.StructField("new_default", T.StringType()),
    ]
)


def _inject_member(st: T.StructType, parent_path: list[str], leaf: str,
                   typ: T.DataType) -> T.StructType:
    """Return ``st`` with an extra member ``leaf:typ`` appended inside the
    struct at ``parent_path`` (no-op if a member of that name exists)."""
    if not parent_path:
        if leaf in st.fieldNames():
            return st
        return T.StructType(list(st.fields) + [T.StructField(leaf, typ, True)])
    head, rest = parent_path[0], parent_path[1:]
    fields = []
    for f in st.fields:
        if f.name == head and isinstance(f.dataType, T.StructType):
            fields.append(T.StructField(
                f.name, _inject_member(f.dataType, rest, leaf, typ), f.nullable
            ))
        else:
            fields.append(f)
    return T.StructType(fields)


def payload_struct(schema: TableSchema, extra_names: dict[str, str] | None = None,
                   extra_nested: dict[str, list[tuple[str, str, str]]] | None = None,
                   ) -> T.StructType:
    """Payload struct for ``from_json``: all non-key table columns by their
    CURRENT names, plus ``tokens_raw`` (wrapped-text arrival form), plus any
    ``extra_names`` (old-name → type) so a rename landing mid-batch still
    captures events that used the previous name. ``extra_nested`` does the
    same INSIDE struct columns: ``{column: [(parent_rel_path, old_leaf,
    type_str), ...]}`` injects each old member name into the parse struct so
    pre-rename events' values are still captured."""
    st = T.StructType()
    for f in schema.fields:
        if f.id in schema.key_field_ids:
            continue
        t = parse_type(f.type)
        for parent_rel, old_leaf, type_str in (extra_nested or {}).get(f.name, []):
            if isinstance(t, T.StructType):
                t = _inject_member(
                    t, [s for s in parent_rel.split(".") if s], old_leaf,
                    parse_type(type_str),
                )
        st = st.add(f.name, t, True)
    st = st.add("tokens_raw", T.StringType(), True)
    for name, type_str in (extra_names or {}).items():
        if name not in st.fieldNames():
            st = st.add(name, parse_type(type_str), True)
    return st


def key_fields(schema: TableSchema) -> list[T.StructField]:
    """Envelope key fields: one typed top-level field per key column, by its
    CURRENT schema name. The canonical single-key table (``doc_id: string``)
    yields exactly the historical hardcoded ``doc_id`` field; composite-key
    tables carry each key component as its own top-level envelope field."""
    return [
        T.StructField(f.name, parse_type(f.type))
        for f in (schema.field_by_id(i) for i in schema.key_field_ids)
    ]


def envelope_struct(schema: TableSchema, extra_names: dict[str, str] | None = None,
                    extra_nested: dict[str, list[tuple[str, str, str]]] | None = None,
                    ) -> T.StructType:
    return T.StructType(
        [
            T.StructField("op", T.StringType()),
            *key_fields(schema),
            T.StructField("event_ts", T.TimestampType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("schema_version", T.IntegerType()),
            T.StructField("payload", payload_struct(schema, extra_names, extra_nested)),
            T.StructField("schema_change", SCHEMA_CHANGE_T),
        ]
    )


def envelope_struct_light(schema: TableSchema, source_name: str | None = "source") -> T.StructType:
    """Reduced envelope for summary scans: payload carries only the source
    tag, so the JSON parser never materializes token arrays (~60% of the
    bytes). DLQ-reason semantics are unchanged (payload nullness is
    preserved by from_json)."""
    st = T.StructType()
    for f in schema.fields:
        if source_name is not None and f.name == source_name:
            st = st.add(f.name, parse_type(f.type), True)
    return T.StructType(
        [
            T.StructField("op", T.StringType()),
            *key_fields(schema),
            T.StructField("event_ts", T.TimestampType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("schema_version", T.IntegerType()),
            T.StructField("payload", st),
            T.StructField("schema_change", SCHEMA_CHANGE_T),
        ]
    )


def _any_key_null(schema: TableSchema):
    """NULL in ANY key component rejects the event (null_key): a composite
    key with a missing component has no identity to merge under."""
    cond = F.lit(False)
    for k in schema.key_names:
        cond = cond | F.col(k).isNull()
    return cond


def parse_raw(raw: DataFrame, schema: TableSchema, extra_names: dict[str, str] | None = None,
              value_col: str = "value", light: bool | str = False,
              extra_nested: dict[str, list[tuple[str, str, str]]] | None = None,
              ) -> DataFrame:
    """raw text lines → typed envelope columns + ``_dlq_reason``.

    One JVM-side ``from_json`` (whole-stage codegen); no Python.
    ``light`` (a source-column name or True) parses the summary subset only
    (see envelope_struct_light).
    """
    if light:
        env = envelope_struct_light(schema, light if isinstance(light, str) else "source")
    else:
        env = envelope_struct(schema, extra_names, extra_nested)
    # The explode(array(...)) wrapper is a deliberate optimizer barrier: a
    # Generate node materializes the parsed struct ONCE per row as an
    # attribute. Without it, Catalyst's per-field JSON pruning rewrites every
    # downstream field access into its own from_json, re-lexing each line
    # ~12x in the full merge pipeline (measured ~2x wall on the hot path).
    # array(x) is never null, so row count is preserved even for garbage
    # lines (from_json -> null struct -> one exploded null element).
    df = raw.select(
        F.col(value_col).alias("_raw"),
        F.explode(F.array(F.from_json(value_col, env))).alias("e"),
    )
    df = df.select("_raw", "e.*")
    null_key = _any_key_null(schema)
    reason = (
        F.when(F.col("op").isNull(), F.lit("unparseable"))
        .when(~F.col("op").isin(*VALID_OPS), F.lit("unknown_op"))
        .when((F.col("op") != "schema_change") & null_key, F.lit("null_key"))
        .when(
            (F.col("op") != "schema_change")
            & (F.col("event_ts").isNull() | F.col("lsn").isNull()),
            F.lit("null_ordering"),
        )
        .when(F.col("op").isin("insert", "update") & F.col("payload").isNull(), F.lit("null_payload"))
        .when(
            (F.col("op") == "schema_change") & F.col("schema_change").isNull(),
            F.lit("null_schema_change"),  # an op=schema_change line with no
        )  # change struct would poison the evolution fold downstream
    )
    return df.withColumn("_dlq_reason", reason)


def parse_envelope(df: DataFrame, schema: TableSchema,
                   extra_names: dict[str, str] | None = None,
                   light: bool | str = False,
                   extra_nested: dict[str, list[tuple[str, str, str]]] | None = None,
                   ) -> DataFrame:
    """Pre-parsed (columnar) change rows → the SAME output contract as
    ``parse_raw``: ``_raw`` + typed envelope columns + ``_dlq_reason``.

    This is the path a real 10^10-event CDC feed takes — change rows arrive
    as typed parquet/Avro (Debezium-style), so there is NO ``from_json`` and
    the scan benefits from columnar pruning: the light/summary variant reads
    only (op, doc_id, event_ts, lsn, schema_version, payload.source,
    schema_change) straight off the column chunks.

    Alignment rules mirror ``from_json`` semantics exactly: the payload
    struct is rebuilt field-by-field against the CURRENT registry schema
    (+``extra_names`` for renamed/old columns that may still appear in
    earlier files) — a field the file lacks is NULL (like a missing JSON
    key), a file field the schema lacks is dropped (like an unknown key),
    and type differences cast (widening). Payload/struct NULLNESS is
    preserved so the DLQ rules fire identically. ``_raw`` is NULL for clean
    rows and, for DLQ rows only, the original line when the file carries one
    (converter keeps it for malformed rows) else a to_json reconstruction —
    gating it on ``_dlq_reason`` keeps the reconstruction out of the per-row
    hot path (an ungated coalesce paid a full to_json per CLEAN row, since
    ``_raw`` arrives NULL for them — measured to cancel most of the
    columnar path's no-from_json win)."""
    if light:
        env = envelope_struct_light(schema, light if isinstance(light, str) else "source")
    else:
        env = envelope_struct(schema, extra_names, extra_nested)

    cols = dict(zip(df.columns, df.columns))

    def _align_expr(src: Column, src_t: T.DataType, target: T.DataType) -> Column:
        """from_json-equivalent alignment for one value: struct members
        align recursively by NAME (a member the file lacks is NULL, an
        unknown member drops, nullness is preserved); everything else
        casts (widening)."""
        if isinstance(target, T.StructType):
            have = (
                {f.name: f.dataType for f in src_t.fields}
                if isinstance(src_t, T.StructType) else {}
            )
            rebuilt = F.struct(*[
                (_align_expr(src.getField(f.name), have[f.name], f.dataType)
                 if f.name in have
                 else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in target.fields
            ])
            # struct(...) is never null — reapply the source's nullness
            # (payload:null on deletes must stay null for the DLQ rules;
            # a non-struct source keeps its nullness too, yielding a
            # struct of nulls when present — pre-existing contract)
            return F.when(src.isNotNull(), rebuilt)
        return src.cast(target)

    def _align_struct(src_name: str, target: T.StructType) -> Column:
        if src_name not in cols:
            return F.lit(None).cast(target)
        return _align_expr(F.col(src_name), df.schema[src_name].dataType, target)

    def _scalar(name: str, t: T.DataType) -> Column:
        return (F.col(name).cast(t) if name in cols else F.lit(None).cast(t))

    kfs = key_fields(schema)
    out = df.select(
        (F.col("_raw") if "_raw" in cols else F.lit(None).cast(T.StringType()))
        .alias("_raw_file"),
        _scalar("op", T.StringType()).alias("op"),
        *[_scalar(kf.name, kf.dataType).alias(kf.name) for kf in kfs],
        _scalar("event_ts", T.TimestampType()).alias("event_ts"),
        _scalar("lsn", T.LongType()).alias("lsn"),
        _scalar("schema_version", T.IntegerType()).alias("schema_version"),
        _align_struct("payload", env["payload"].dataType).alias("payload"),
        _align_struct("schema_change", SCHEMA_CHANGE_T).alias("schema_change"),
    )
    reason = (
        F.when(F.col("op").isNull(), F.lit("unparseable"))
        .when(~F.col("op").isin(*VALID_OPS), F.lit("unknown_op"))
        .when((F.col("op") != "schema_change") & _any_key_null(schema), F.lit("null_key"))
        .when(
            (F.col("op") != "schema_change")
            & (F.col("event_ts").isNull() | F.col("lsn").isNull()),
            F.lit("null_ordering"),
        )
        .when(F.col("op").isin("insert", "update") & F.col("payload").isNull(), F.lit("null_payload"))
        .when(
            (F.col("op") == "schema_change") & F.col("schema_change").isNull(),
            F.lit("null_schema_change"),  # an op=schema_change line with no
        )  # change struct would poison the evolution fold downstream
    )
    out = out.withColumn("_dlq_reason", reason)
    # DLQ-only reconstruction from the typed columns (the original df's
    # columns are gone post-select, and a faithful JSON of the typed row is
    # what the dead-letter queue wants anyway); when() keeps to_json out of
    # the clean-row codegen path entirely
    knames = [kf.name for kf in kfs]
    recon = F.to_json(F.struct(
        "op", *knames, "event_ts", "lsn", "schema_version",
        "payload", "schema_change",
    ))
    out = out.withColumn(
        "_raw",
        F.when(F.col("_dlq_reason").isNotNull(),
               F.coalesce(F.col("_raw_file"), recon)),
    )
    return out.select(
        "_raw", "op", *knames, "event_ts", "lsn", "schema_version",
        "payload", "schema_change", "_dlq_reason",
    )

