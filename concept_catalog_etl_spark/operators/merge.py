"""Copy-on-write MERGE of a change-event batch into a LakeTable.

This is the engine's heart — the distributed replacement for the reference's
sequential per-record ``update_one({'_id': k}, {'$set': payload})`` sink
(``/root/reference/files/load.py:20-22``).

Physical design (chosen for 100 TB, verified by ``.explain`` in tests):

1. **Summary first** — schema-change events must be known before the full
   parse (they decide the parse schema). Steady state: a raw-text probe for
   an ``op`` of ``schema_change`` proves none exists and per-source lineage
   + structural counts ride the main pipeline's ``observe()`` (zero extra
   parse jobs). Probe-positive / brand-new-table / large-vocabulary batches
   take the exact light-summary aggregation (envelope head only, never
   token arrays). The choice is made from the table and the batch alone.
2. **Schema-change events** apply as metadata, so data events in the same
   batch parse under the evolved schema; renames accept both old and new
   payload names within the transition batch.
3. **Full parse ONCE + JVM normalize** — one JVM-side ``from_json``
   (the dominant per-batch cost — it runs exactly once), then token payload
   normalization, ``n_tok`` recompute, source tagging as codegen column
   expressions: no Python at all on the record path. Malformed events keep
   flowing, tagged with a reason (reference ``fail_log``).
4. **Fused LWW dedup + DLQ capture** in ONE struct-``max``/filtered-
   ``collect_list`` hash aggregation: good rows compete for the per-key
   winner (lexicographic ``max(struct(ts, lsn, payload))``), rejected rows
   (structural + ``bad_tokens``) are gathered for the dead-letter table —
   dedup and DLQ share one scan and one shuffle.
   Partial (map-side) aggregation absorbs hot-key skew *before* the
   shuffle, so a doc_id with 10^6 events in a batch shuffles ~one row per
   input partition.
5. **MERGE as an aggregation, not a join**: the pruned target rows become
   pseudo-changes ``(op='keep', ts=_event_ts, lsn=_lsn)``; union with the
   deduped changes; one ``max_by`` per key picks the survivor; a winning
   ``delete`` becomes a tombstone row (``_deleted=true``, hidden by reads).
   This expresses MATCHED/NOT-MATCHED × LWW × delete in ONE aggregation —
   no full-outer join. Late events (older than the live row OR its
   tombstone) lose the max_by statelessly — the design trick that makes
   late-data handling watermark-free.
6. **One shuffle total on the hot path**: the union is repartitioned by the
   target's key-bucket; the final aggregation groups by ``(_bucket, key)``,
   whose required clustered distribution is already satisfied, and the
   bucket-partitioned write reuses the same partitioning.
7. **Atomic commit**: new files for affected buckets + batch-id ledger +
   lineage offsets (+ evolved schema) in one snapshot swap → exactly-once
   under foreachBatch's at-least-once contract.

Only buckets actually hit by the batch's keys are read and rewritten
(manifest bucket pruning), so cost scales with touched data, not table size.
"""

from __future__ import annotations

import json as _json
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..lakehouse.schema import TableSchema
from ..lakehouse.table import LakeTable, bucket_expr
from .dedup import lww_dedup_with_sideout, winner_max
from .envelope import parse_envelope, parse_raw

EPOCH = "1970-01-01 00:00:00"
# a JSON member op = "schema_change" in raw text (either quote style)
SCHEMA_CHANGE_OP_RE = r"""["']op["']\s*:\s*["']schema_change["']"""


@dataclass
class MergeConfig:
    # canonical field ids of the specially-handled payload columns (stable
    # across renames — that's the point of field ids)
    tokens_fid: int = 2
    ntok_fid: int = 3
    source_fid: int = 4
    write_dlq: bool = True
    extra_lineage: dict[str, int] = field(default_factory=dict)
    # 'cow' (copy-on-write): read + rewrite affected buckets per batch —
    #   reads stay shuffle-free, writes amplify with touched-bucket size.
    # 'mor' (merge-on-read): append batch winners as LWW delta files — NO
    #   target read, NO rewrite; ingest cost is O(batch) regardless of
    #   table size; readers resolve per-key max_by until compaction folds
    #   deltas into the base. The CDC fast path at 100 TB: a batch whose
    #   keys touch every bucket costs a bucket-wide rewrite under cow but
    #   only its own winners under mor.
    write_mode: str = "cow"
    # write-audit-publish: STAGE the batch instead of committing it — the
    # returned metrics carry 'stage_id'; the caller audits via
    # table.read_stage and then publish_stage / abort_stage. Readers never
    # see an unaudited batch; exactly-once rides the same batch_id ledger.
    stage_only: bool = False
    # ledger namespace: None = the main (streaming-tail) ledger. A secondary
    # writer replaying ids the tail already used — e.g. the DLQ recovery
    # loop re-driving dead-letter batches under their ORIGINAL batch ids —
    # must set its own namespace or the tail's ledger would skip it.
    writer_id: str | None = None
    # zombie fence: the epoch this writer incarnation acquired via
    # table.acquire_writer_epoch(writer_id). Every commit validates it
    # against the snapshot it builds on; a superseded driver's commit
    # raises WriterFencedError instead of landing. None = unfenced.
    writer_epoch: int | None = None

    @staticmethod
    def for_table(table, **kw) -> "MergeConfig":
        """MergeConfig with the contract trio's field ids resolved from the
        table's CURRENT schema by name — the defaults (2/3/4) assume the
        canonical single-key column order, which composite-key or reordered
        schemas shift. Missing names resolve to None (the kernel then skips
        that transform), matching an explicit ``tokens_fid=None``."""
        by_name = {f.name: f.id for f in table.schema().fields}
        kw.setdefault("tokens_fid", by_name.get("tokens"))
        kw.setdefault("ntok_fid", by_name.get("n_tok"))
        kw.setdefault("source_fid", by_name.get("source"))
        return MergeConfig(**kw)


def _apply_schema_changes(schema: TableSchema, sc_rows: list,
                          protected_ids: frozenset = frozenset(),
                          ) -> tuple[TableSchema, dict]:
    """Fold ordered schema_change events into the schema.

    ``protected_ids``: field ids whose DROP is refused (ValueError, the
    same loud failure as an illegal widen). The merge path protects the
    contract trio (tokens / n_tok / source): the engine's per-row invariant
    (token-array equality, n_tok == len(tokens)) and its DLQ semantics are
    DEFINED over those columns — a feed that drops one is a broken feed,
    not an evolution.

    Returns ``(new_schema, {"map": segments, "types": parse_types})`` where
    ``segments[current_name] = [(older_name, valid_below_lsn), ...]`` in
    chronological order. A rename takes effect at its STREAM position: an
    event before the rename (lsn < rename lsn) is read under the old payload
    key, an event after it under the new key ONLY — the oracle switches
    names exactly at the schema_change line, so an event that keeps sending
    the stale key after the rename must NOT match (its field reads NULL and
    e.g. source tagging falls back to the default). Chained renames within
    one batch keep every intermediate name as its own lsn segment."""
    rename_hist: dict[str, list[tuple[str, int]]] = {}
    added_at: dict[str, int] = {}
    rename_types: dict[str, str] = {}
    # nested (struct-member) evolution, same lsn-gate semantics one level
    # down: keyed by top-level column, each member tracked by its CURRENT
    # rel path. ``aug`` collects (parent_rel, old_leaf, type_str) entries
    # for the parse-struct so pre-rename events' values are still captured.
    nested_evo: dict[str, dict] = {}
    nested_aug: dict[str, list[tuple[str, str, str]]] = {}

    def _nested_member(sch: TableSchema, top: str, rel: str):
        fld = next((f for f in sch.fields if f.name == top), None)
        if fld is None or fld.nested is None:
            return None
        cur = fld.nested
        node = None
        for seg in rel.split("."):
            node = next((n for n in cur if n.name == seg), None)
            if node is None:
                return None
            cur = node.nested or []
        return node

    for r in sc_rows:
        kind, column = r["kind"], r["column"]
        if "." in column:
            top, rel = column.split(".", 1)
            evo = nested_evo.setdefault(
                top, {"renames": {}, "adds": {}, "drops": []}
            )
            member = _nested_member(schema, top, rel)
            if kind in ("rename", "drop") and member is not None \
                    and member.nested is not None:
                # evolving a struct-typed member while the same batch also
                # evolves one of its descendants would need write-time-path
                # bookkeeping two levels deep — refuse loudly, the feed can
                # split the changes across batches
                prefix = rel + "."
                if any(p.startswith(prefix)
                       for p in (*evo["renames"], *evo["adds"])):
                    raise ValueError(
                        f"nested evolution of {column!r} and one of its "
                        "descendants in the same batch is unsupported; "
                        "split the schema changes across batches"
                    )
            if kind == "rename":
                parent_rel, _, old_leaf = rel.rpartition(".")
                new_rel = (parent_rel + "." if parent_rel else "") + r["new_name"]
                hist = evo["renames"].pop(rel, [])
                hist.append((old_leaf, int(r["lsn"])))
                evo["renames"][new_rel] = hist
                if rel in evo["adds"]:
                    evo["adds"][new_rel] = evo["adds"].pop(rel)
                # descendants' gates follow the renamed ancestor (guarded
                # above for renames/adds created EARLIER; later ops use the
                # new path already since apply_change is sequential)
                nested_aug.setdefault(top, []).append(
                    (parent_rel, old_leaf,
                     member.type if member is not None else "string")
                )
            elif kind == "add":
                nd = r.get("new_default")
                evo["adds"][rel] = (
                    int(r["lsn"]), _json.loads(nd) if nd else None
                )
            elif kind == "drop":
                evo["renames"].pop(rel, None)
                evo["adds"].pop(rel, None)
                evo["drops"].append(rel)
            schema = schema.apply_change(
                kind, column, r.get("new_name"), r.get("new_type"),
                new_default=_json.loads(r["new_default"])
                if r.get("new_default") else None,
            )
            continue
        if kind == "rename":
            # capture the column's type from the schema AS IT IS at this
            # stream position — the chain start may itself be a column
            # added earlier in this batch (its type is the add's type, not
            # a batch-start type) or an already-widened one
            cur_type = next(
                (f.type for f in schema.fields if f.name == column), "string"
            )
        if kind == "drop":
            fld = next((f for f in schema.fields if f.name == column), None)
            if fld is not None and fld.id in protected_ids:
                raise ValueError(
                    f"cannot drop contract column {column!r} (field id "
                    f"{fld.id}): the token-array/n_tok/source invariants are "
                    f"defined over it"
                )
        nd = r.get("new_default")  # absent in pre-default stored envelopes
        schema = schema.apply_change(
            kind, column, r["new_name"], r["new_type"],
            new_default=_json.loads(nd) if nd else None,
        )
        if kind == "drop":
            # the column's in-batch history dies with it: a later re-add of
            # the same name is a NEW field (fresh id) whose add-gate below
            # keeps pre-re-add events from feeding it, so dropped values can
            # never leak forward even within one batch
            rename_hist.pop(column, None)
            added_at.pop(column, None)
        if kind == "rename":
            hist = rename_hist.pop(column, [])
            hist.append((column, int(r["lsn"])))
            rename_hist[r["new_name"]] = hist
            rename_types[column] = cur_type
            if column in added_at:  # column added then renamed in one batch
                added_at[r["new_name"]] = added_at.pop(column)
        elif kind == "add":
            # a column ADDED mid-batch doesn't exist for earlier events: an
            # event before the add line that already carries the key is
            # ignored by the oracle (unknown field at that stream position)
            added_at[column] = int(r["lsn"])
    for new_name, hist in rename_hist.items():
        linked = {new_name, *[o for o, _ in hist]}
        if linked & set(nested_evo):
            raise ValueError(
                f"renaming struct column {sorted(linked & set(nested_evo))} "
                "and evolving its members in the same batch is unsupported; "
                "split the schema changes across batches"
            )
    return schema, {"map": rename_hist, "types": rename_types,
                    "added_at": added_at, "nested": nested_evo,
                    "nested_aug": nested_aug}


def _jvm_norm_tokens(tokens_col: F.Column, raw_col: F.Column) -> F.Column:
    """JVM-expression token normalization (whole-stage codegen), the same
    semantics as the oracle: wrapped-text repair via the reference regex,
    blank inner → [], non-numeric token → NULL (DLQ)."""
    from ..functions.reference_repair import WRAP_RE_JAVA

    extract = F.regexp_extract(raw_col, WRAP_RE_JAVA, 1)
    parsed = F.when(
        F.length(F.trim(extract)) == 0, F.array().cast("array<int>")
    ).otherwise(F.transform(F.split(F.trim(extract), "\\s+"), lambda x: x.try_cast("int")))
    from_raw = F.when(raw_col.isNotNull() & raw_col.rlike(WRAP_RE_JAVA), parsed)
    toks = F.coalesce(tokens_col, from_raw)
    return F.when(
        F.exists(toks, lambda t: t.isNull()), F.lit(None).cast("array<int>")
    ).otherwise(toks)


def _jvm_tag_source(src: F.Column) -> F.Column:
    s = F.lower(F.trim(src))
    return F.when(s.isin("crawl", "curated", "synthetic"), s).otherwise(F.lit("crawl"))


def _normalize(data: DataFrame, schema: TableSchema, cfg: MergeConfig,
               evolution: dict) -> DataFrame:
    """Envelope payload → typed change columns. Token normalization,
    ``n_tok`` recompute and source tagging are whole-stage-codegen column
    expressions: no Python runs anywhere on the record path."""
    keys = schema.key_names

    rename_map = evolution.get("map", {})
    added_at = evolution.get("added_at", {})
    nested_evo = evolution.get("nested", {})

    def _nested_rebuild(parent: F.Column, members, evo: dict,
                        prefix: str = "") -> F.Column:
        """lsn-gated struct rebuild for in-batch STRUCT-MEMBER evolution —
        the same per-stream-position semantics as pv() one level down: a
        member renamed mid-batch reads its old name for events before the
        rename line; a member added mid-batch reads its initial-default
        for events before the add line (those rows were written before the
        member existed — Iceberg v3 backfill, which the read path applies
        to whole pre-add FILES; the gate applies it to pre-add EVENTS that
        land in post-add files)."""
        from ..lakehouse.schema import parse_type as _pt

        cols = []
        for nf in members:
            rel = prefix + nf.name
            node = parent.getField(nf.name)
            for old, upto in reversed(evo["renames"].get(rel, [])):
                node = F.when(
                    F.col("lsn") < F.lit(upto), parent.getField(old)
                ).otherwise(node)
            if nf.nested:
                sub = _nested_rebuild(node, nf.nested, evo, rel + ".")
                node = F.when(node.isNotNull(), sub)
            else:
                node = node.cast(_pt(nf.type))
            add = evo["adds"].get(rel)
            if add is not None:
                add_lsn, dflt = add
                node = F.when(F.col("lsn") > F.lit(add_lsn), node).otherwise(
                    F.lit(dflt).cast(_pt(nf.type))
                )
            cols.append(node.alias(nf.name))
        return F.struct(*cols)

    def pv(name: str) -> F.Column:
        # lsn-segmented name resolution across in-batch evolution: an event
        # reads the payload key that was CURRENT at its stream position
        # (oracle semantics): a stale key sent after a rename reads NULL,
        # and a key for a column ADDED later in the batch reads NULL for
        # events before the add line (unknown field at that position)
        expr = F.col(f"payload.{name}")
        hist = rename_map.get(name)
        if hist:
            for old, upto in reversed(hist):
                expr = F.when(F.col("lsn") < F.lit(upto), F.col(f"payload.{old}")).otherwise(expr)
        # the add gate composes WITH a rename: a column added then renamed
        # in one batch still reads NULL for events before the add line
        # (added_at follows the column through renames)
        add_lsn = added_at.get(name)
        if add_lsn is not None:
            expr = F.when(F.col("lsn") > F.lit(add_lsn), expr)
        evo = nested_evo.get(name)
        if evo:
            fld = next((f for f in schema.fields if f.name == name), None)
            if fld is not None and fld.nested:
                expr = F.when(
                    expr.isNotNull(), _nested_rebuild(expr, fld.nested, evo)
                )
        return expr

    by_fid = {f.id: f for f in schema.fields}
    tokens_f = by_fid.get(cfg.tokens_fid)
    ntok_f = by_fid.get(cfg.ntok_fid)
    source_f = by_fid.get(cfg.source_fid)
    canonical_ids = {cfg.tokens_fid, cfg.ntok_fid, cfg.source_fid,
                     *schema.key_field_ids}

    sel = [
        *[F.col(k) for k in keys],
        F.col("op"), F.col("event_ts"), F.col("lsn"),
        F.col("_raw"), F.col("_dlq_reason"),
    ]
    if "_src_raw" in data.columns:  # lineage passthrough (fast-summary path)
        sel.append(F.col("_src_raw"))
    for f in schema.fields:
        if f.id in canonical_ids:
            continue
        sel.append(pv(f.name).cast(f.type).alias(f.name))

    if tokens_f is None:
        # no token column to normalize — but a resolved source/ntok fid
        # still names a REAL payload column that must flow through (source
        # keeps its tagging contract; n_tok passes through as claimed,
        # nothing to recompute it against)
        if source_f is not None:
            sel.append(_jvm_tag_source(pv(source_f.name)).alias(source_f.name))
        if ntok_f is not None:
            sel.append(pv(ntok_f.name).cast(ntok_f.type).alias(ntok_f.name))
        out = data.select(*sel)
        return out.withColumn("_ntok_mismatch", F.lit(False))

    raw_col = F.col("payload.tokens_raw")
    toks = _jvm_norm_tokens(pv(tokens_f.name), raw_col)
    sel.append(toks.cast(tokens_f.type).alias(tokens_f.name))
    if source_f is not None:
        sel.append(_jvm_tag_source(pv(source_f.name)).alias(source_f.name))
    if ntok_f is not None:
        sel.append(pv(ntok_f.name).cast("int").alias("_ntok_claimed"))
    out = data.select(*sel)
    if ntok_f is not None:
        ntok = F.when(
            F.col(tokens_f.name).isNotNull(), F.size(F.col(tokens_f.name))
        ).cast(ntok_f.type)
        out = out.withColumn(ntok_f.name, ntok)
        out = out.withColumn(
            "_ntok_mismatch",
            F.col("_ntok_claimed").isNotNull()
            & (F.col("_ntok_claimed") != F.col(ntok_f.name).cast("int")),
        ).drop("_ntok_claimed")
    else:
        out = out.withColumn("_ntok_mismatch", F.lit(False))
    return out


def apply_batch(
    spark: SparkSession,
    table: LakeTable,
    raw: DataFrame,
    batch_id: int,
    cfg: MergeConfig | None = None,
) -> dict:
    """Apply one micro-batch of change events. Returns batch metrics.

    ``raw`` is either TEXT JSON lines (one ``value`` column — the WAL-tail
    shape) or PRE-PARSED columnar change rows (typed envelope columns, the
    shape a parquet/Avro CDC feed delivers — see ``sources/columnar.py``);
    the format is detected from the columns. The columnar path skips
    ``from_json`` entirely — the dominant per-batch cost of the text path —
    and its summary probe is a pushed column predicate instead of a
    substring scan.

    Idempotent: a batch_id already in the snapshot ledger is a no-op
    (exactly-once; the Spark analog of the reference's idempotent ``$set``).
    """
    import time as _time

    cfg = cfg or MergeConfig()
    if table.is_committed(batch_id, cfg.writer_id):
        return {"batch_id": batch_id, "skipped": True}

    is_text = "value" in raw.columns
    parse = parse_raw if is_text else parse_envelope

    phases: dict[str, float] = {}
    _t0 = _time.time()

    def _mark(name: str) -> None:
        nonlocal _t0
        now = _time.time()
        phases[name] = round(phases.get(name, 0.0) + (now - _t0), 3)
        _t0 = now

    schema = table.schema()
    expect_version = table.current_version()

    # ---- pass A: summary of the raw batch -------------------------------
    # Schema-change events must be known BEFORE the full parse (they decide
    # the parse schema). Steady state (no schema changes, known source
    # vocabulary) uses the FAST path: a probe over raw text (no JSON parse)
    # proves no event has op "schema_change", and per-source lineage +
    # structural counts ride the main pipeline's observe() against the
    # table's known source vocabulary (new sources → one tiny exact
    # follow-up aggregation). Probe-positive or large-vocabulary batches,
    # and a brand-new table, take the EXACT light-summary aggregation
    # instead: a new table takes it once to discover its source vocabulary
    # (otherwise the new-source follow-up would re-parse the whole batch).
    src0 = next((f.name for f in schema.fields if f.id == cfg.source_fid), None)
    known_sources = sorted(table.properties().get("lineage_offsets", {}).keys())
    fast_summary = (
        0 < len(known_sources) <= 64
        # COST NOTE (text): this probe is a second pass over the batch's raw
        # text, but a cheap one — one regex over the unparsed line (no JSON
        # lexing), early-exits on first hit (isEmpty → Limit 1), and it must
        # run pre-parse because its outcome decides which parse plan we
        # build. It matches the op VALUE, not the "schema_change" key every
        # envelope line carries (usually as null). It cannot miss: an op of
        # schema_change is that key/value pair in either quote style (the
        # JSON reader accepts single quotes) unless unicode-escaped, and any
        # line containing "\u" falls back; a payload field named op only
        # costs a harmless exact-path fallback. Columnar input probes the
        # typed `op` column instead — a pushed predicate over one
        # dictionary-encoded column chunk, near-free.
        and (
            raw.filter(
                F.col("value").rlike(SCHEMA_CHANGE_OP_RE)
                | F.col("value").contains("\\u")
            ).isEmpty()
            if is_text
            else (
                "op" in raw.columns
                and (
                    # adapter-guaranteed: a source that can never carry
                    # schema_change events (e.g. parse_debezium) marks the
                    # column with metadata, so we skip the probe — for a
                    # lazily-parsed frame the probe would re-evaluate the
                    # whole parse just to prove an impossibility
                    (
                        "schema_change" in raw.columns
                        and bool(raw.schema["schema_change"]
                                 .metadata.get("always_null"))
                    )
                    or raw.filter(F.col("op") == "schema_change").isEmpty()
                )
            )
        )
    )

    events_total = None
    structural_dlq = None
    lineage: dict = {}
    sc_rows: list = []
    if not fast_summary:
        parsed0 = parse(raw, schema, light=src0 or True)
        src_col = (
            F.coalesce(F.col(f"payload.{src0}"), F.lit("_default")) if src0 else F.lit("_default")
        )
        summary_rows = (
            parsed0.groupBy(src_col.alias("src"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("_dlq_reason").isNotNull().cast("int")).alias("n_dlq"),
                F.max(F.when(F.col("_dlq_reason").isNull(), F.col("lsn"))).alias("max_lsn"),
                F.collect_list(
                    F.when(
                        (F.col("op") == "schema_change") & F.col("_dlq_reason").isNull(),
                        F.struct("event_ts", "lsn", "schema_change"),
                    )
                ).alias("scs"),
            )
            .collect()
        )
        events_total = sum(r["n"] for r in summary_rows)
        structural_dlq = int(sum(r["n_dlq"] or 0 for r in summary_rows))
        lineage = {
            r["src"]: r["max_lsn"] for r in summary_rows if r["max_lsn"] is not None
        }
        # STREAM order = lsn order (a WAL's line order is its sequence
        # order). NOT (event_ts, lsn): LWW ranks data rows by event time,
        # but schema changes apply at their position in the log — the
        # oracle processes them line-by-line, and an out-of-order event_ts
        # must not reorder e.g. two chained renames (KeyError / wrong name)
        sc_rows = sorted(
            (
                {"event_ts": s["event_ts"], "lsn": s["lsn"], **s["schema_change"].asDict()}
                for r in summary_rows
                for s in r["scs"]
            ),
            key=lambda s: s["lsn"],
        )
    _mark("summary_agg")

    checks: dict = table.properties().get("check_constraints") or {}
    evolution: dict = {}
    new_schema = None
    if sc_rows:
        # a stored CHECK expression references columns by NAME: a rename or
        # drop of a referenced column would leave it dangling (evaluating
        # against nothing / the wrong column) — refuse, like Delta does
        for r in sc_rows:
            if r["kind"] in ("rename", "drop") and checks:
                hit = [nm for nm, ex in checks.items()
                       if re.search(rf"\b{re.escape(r['column'])}\b", ex)]
                if hit:
                    raise ValueError(
                        f"cannot {r['kind']} column {r['column']!r}: "
                        f"referenced by CHECK constraint(s) {hit}"
                    )
        new_schema, ren = _apply_schema_changes(
            schema, sc_rows,
            protected_ids=frozenset(
                i for i in (cfg.tokens_fid, cfg.ntok_fid, cfg.source_fid)
                if i is not None
            ),
        )
        evolution = ren
        parsed = parse(raw, new_schema, extra_names=ren["types"],
                       extra_nested=ren["nested_aug"])
        schema = new_schema
    else:
        parsed = parse(raw, schema)  # full parse (pass A was light)

    keys = schema.key_names
    # keep structurally-bad rows in the flow: the fused dedup aggregation
    # captures them for the DLQ in the same pass (only clean schema_change
    # rows leave here — they were consumed as metadata above)
    data = parsed.filter(
        F.col("_dlq_reason").isNotNull() | (F.col("op") != "schema_change")
    )
    if fast_summary:
        # raw (pre-tagging) source value — the lineage key, same semantics
        # as the exact summary's coalesce(payload.source, '_default')
        data = data.withColumn(
            "_src_raw",
            F.coalesce(F.col(f"payload.{src0}"), F.lit("_default"))
            if src0
            else F.lit("_default"),
        )

    norm = _normalize(data, schema, cfg, evolution)
    tokens_name = next((f.name for f in schema.fields if f.id == cfg.tokens_fid), None)
    is_bad_tokens = (
        F.col("_dlq_reason").isNull()
        & F.col("op").isin("insert", "update")
        & F.col(tokens_name).isNull()
        if tokens_name is not None
        else F.lit(False)
    )
    reason_chain = [
        F.col("_dlq_reason"),
        F.when(is_bad_tokens, F.lit("bad_tokens")),
    ]
    # CHECK constraints (table property, see LakeTable.create): evaluated
    # post-normalization on data rows only — SQL three-valued logic, NULL
    # passes; violations dead-letter (reason check:<name>), never crash.
    # Zero plan cost when the table declares none (this loop adds nothing).
    for _nm in sorted(checks):
        viol = (
            F.col("_dlq_reason").isNull()
            & F.col("op").isin("insert", "update")
            & ~F.coalesce(F.expr(checks[_nm]).cast("boolean"), F.lit(True))
        )
        reason_chain.append(F.when(viol, F.lit(f"check:{_nm}")))
    norm = norm.withColumn("_dlq_reason", F.coalesce(*reason_chain))
    goodish = F.col("_dlq_reason").isNull() | (F.col("_dlq_reason") == "bad_tokens")

    metric_aggs = [
        F.coalesce(F.sum(goodish.cast("int")), F.lit(0)).alias("events_data"),
        F.coalesce(F.sum(F.col("_ntok_mismatch").cast("int")), F.lit(0)).alias("ntok_repaired"),
        F.coalesce(
            F.sum(((F.col("op") == "delete") & F.col("_dlq_reason").isNull()).cast("int")),
            F.lit(0),
        ).alias("deletes_seen"),
        F.coalesce(
            F.sum((F.col("_dlq_reason") == "bad_tokens").cast("int")), F.lit(0)
        ).alias("bad_tokens"),
        F.unix_micros(
            F.max(F.when(goodish, F.col("event_ts").cast("timestamp")))
        ).alias("max_event_ts_us"),
    ]
    if checks:
        # rides the same observe/agg pass; tables without constraints keep
        # the historical metric shape (and plan) exactly
        metric_aggs.append(F.coalesce(
            F.sum(F.col("_dlq_reason").startswith("check:").cast("int")),
            F.lit(0)).alias("check_violations"))
    if fast_summary:
        # lineage counts rows the EXACT light-summary path would count: its
        # max_lsn is taken pre-normalization where bad_tokens and CHECK
        # violations are undetectable (structurally clean), so those rows
        # must advance lineage here too — and _structural_dlq must count
        # ONLY parse-time reasons (check rows are already counted by the
        # check_violations metric; overlapping would double dlq_count)
        good_lin = goodish | F.col("_dlq_reason").startswith("check:")
        metric_aggs.append(
            F.coalesce(
                F.sum((F.col("_dlq_reason").isNotNull()
                       & (F.col("_dlq_reason") != "bad_tokens")
                       & ~F.col("_dlq_reason").startswith("check:")
                       ).cast("int")),
                F.lit(0),
            ).alias("_structural_dlq")
        )
        for i, s in enumerate(known_sources):
            metric_aggs.append(
                F.max(F.when(good_lin & (F.col("_src_raw") == s), F.col("lsn")))
                .alias(f"_lin_{i}")
            )
        is_new_src = good_lin & (
            ~F.col("_src_raw").isin(*known_sources) if known_sources else F.lit(True)
        )
        metric_aggs.append(
            F.collect_set(F.when(is_new_src, F.col("_src_raw"))).alias("_lin_new")
        )
    obs = Observation(f"merge_b{batch_id}")
    norm = norm.observe(obs, *metric_aggs)

    payload_names = [f.name for f in schema.fields
                     if f.id not in schema.key_field_ids]
    # DLQ rows carry the key under a single diagnostic `doc_id` column —
    # composite keys serialize as JSON so the DLQ schema stays stable
    # across tables (replay re-parses `_raw`, so this column is display-only)
    dlq_key = (
        F.col(keys[0]).cast("string") if len(keys) == 1
        else F.to_json(F.struct(*[F.col(k) for k in keys]))
    )
    # ONE hash aggregation computes both the per-key LWW winner (good rows)
    # and the DLQ row capture (rejected rows) — dedup and dead-letter share
    # one scan + one shuffle; partial agg absorbs hot-key skew. Persisted so
    # the affected-bucket collect, the merge write and the DLQ write share
    # the computation (it is tiny: ≤1 winner row + rare bad rows per key).
    deduped_all = lww_dedup_with_sideout(
        norm,
        key=keys,
        winner_cols=["op", "event_ts", "lsn", *payload_names],
        sideout_cols=[
            F.col("_raw"),
            F.col("_dlq_reason"),
            F.col("op"),
            dlq_key.alias("doc_id"),
            F.col("event_ts"),
            F.col("lsn"),
        ],
    ).persist()
    deduped = deduped_all.filter(F.col("_w").isNotNull()).select(*keys, "_w.*")

    nb = table.n_buckets()
    metrics: dict = {"batch_id": batch_id, "skipped": False, "schema_changes": len(sc_rows)}
    files: list[dict] = []
    is_del = F.col("op") == "delete"

    if cfg.write_mode == "mor":
        # merge-on-read fast path: append the batch winners (deletes as
        # tombstones) as LWW delta files — no target read, no bucket
        # rewrite, no affected-bucket job; readers resolve per-key max_by.
        result = deduped.select(
            *[F.col(k) for k in keys],
            *[
                F.when(is_del, F.lit(None)).otherwise(F.col(n)).alias(n)
                for n in payload_names
            ],
            F.col("event_ts").alias("_event_ts"),
            F.col("lsn").alias("_lsn"),
            is_del.alias("_deleted"),
        )
        files = table.write_data_files(result, schema_override=schema, delta=True)
        affected = sorted({f["bucket"] for f in files})
        _mark("dedup_and_affected")
        _mark("merge_write")
    else:
        affected = [
            r[0]
            for r in deduped.select(bucket_expr(keys, nb).alias("b")).distinct().collect()
        ]
        _mark("dedup_and_affected")

    if cfg.write_mode != "mor" and affected:
        tgt = table.read(
            spark,
            buckets=set(affected),
            with_system_cols=True,
            schema_override=schema,
            include_deleted=True,  # tombstones must defend their (ts, lsn)
        )
        pseudo = tgt.select(
            *[F.col(k) for k in keys],
            F.when(F.coalesce(F.col("_deleted"), F.lit(False)), F.lit("delete"))
            .otherwise(F.lit("keep"))
            .alias("op"),
            F.coalesce(F.col("_event_ts"), F.lit(EPOCH).cast("timestamp")).alias("event_ts"),
            F.coalesce(F.col("_lsn"), F.lit(-1).cast("bigint")).alias("lsn"),
            *[F.col(n) for n in payload_names],
        )
        # EVENT CONTRACT: (event_ts, lsn) is unique per key — lsn is a
        # binlog/WAL sequence number, so two DIFFERENT events never share a
        # coordinate; only at-least-once re-delivery duplicates one, and a
        # re-delivered event carries an identical payload. Under that
        # contract the lexicographic struct-max below agrees with the
        # oracle's first-seen-wins strict `>` (oracle.py:132) for every
        # reachable input: on a coordinate tie the contenders are the same
        # event, so op/payload tie-break picks between equal rows. (A
        # parallel engine cannot reproduce "first seen" for genuinely
        # different events — no total order exists — hence the contract.)
        unioned = deduped.select(pseudo.columns).unionByName(pseudo)
        bucketed = unioned.withColumn("_bucket", bucket_expr(keys, nb))
        npart = min(nb, int(spark.conf.get("spark.sql.shuffle.partitions")))
        bucketed = bucketed.repartition(npart, "_bucket")
        winners = (
            bucketed.groupBy("_bucket", *keys)
            .agg(
                winner_max(
                    {f.name: f.dataType for f in bucketed.schema.fields},
                    ["event_ts", "lsn", "op", *payload_names],
                ).alias("_w")
            )
            .select("_bucket", *keys, "_w.*")
        )
        # Deletes persist as tombstone rows (payload nulled) so their
        # (ts, lsn) keeps beating late updates; read() hides them.
        result = winners.select(
            *keys,
            *[
                F.when(is_del, F.lit(None)).otherwise(F.col(n)).alias(n)
                for n in payload_names
            ],
            F.col("event_ts").alias("_event_ts"),
            F.col("lsn").alias("_lsn"),
            is_del.alias("_deleted"),
            "_bucket",
        )
        files = table.write_data_files(result, schema_override=schema)
        _mark("merge_write")

    # Observation values become available once the dedup/write actions
    # ran. Empty batches can get their CollectMetrics node pruned
    # (empty-relation propagation) → fall back to a direct aggregation.
    acted = bool(affected) or bool(files)
    try:
        m = dict(obs.get) if acted else norm.agg(*metric_aggs).collect()[0].asDict()
    except Exception:
        m = norm.agg(*metric_aggs).collect()[0].asDict()
    if fast_summary:
        structural_dlq = int(m.pop("_structural_dlq", 0) or 0)
        new_srcs = [s for s in (m.pop("_lin_new", []) or []) if s is not None]
        for i, s in enumerate(known_sources):
            v = m.pop(f"_lin_{i}", None)
            if v is not None:
                lineage[s] = int(v)
        if new_srcs:
            # rare: first sighting of a source — one exact follow-up agg
            # (goodish, like good_lin: bad_tokens rows advance lineage)
            for r in (
                norm.filter(goodish & F.col("_src_raw").isin(new_srcs))
                .groupBy("_src_raw")
                .agg(F.max("lsn").alias("mx"))
                .collect()
            ):
                if r["mx"] is not None:
                    lineage[r["_src_raw"]] = int(r["mx"])
        events_total = (int(m.get("events_data", 0) or 0) + structural_dlq
                        + int(m.get("check_violations", 0) or 0))
    metrics.update({k: (int(v) if v is not None else 0) for k, v in m.items()})
    # ingest lag: wall-clock now vs newest event applied this batch
    if metrics.get("max_event_ts_us"):
        metrics["ingest_lag_sec"] = round(
            _time.time() - metrics["max_event_ts_us"] / 1e6, 3
        )
    _mark("observe_metrics")
    metrics["rows_written"] = int(sum(f["rows"] for f in files))
    metrics["buckets_rewritten"] = len(affected)
    metrics["events_total"] = int(events_total)
    metrics["write_mode"] = cfg.write_mode

    # ---- DLQ side-output: explode the captured bad rows (no re-scan) ----
    dlq_count = (structural_dlq + metrics["bad_tokens"]
                 + metrics.get("check_violations", 0))
    if cfg.write_dlq and dlq_count:
        bad_df = deduped_all.select(F.explode("_bad").alias("b")).select("b.*")
        table.write_dlq(bad_df, batch_id, cfg.writer_id)
    metrics["dlq_count"] = int(dlq_count)
    _mark("dlq")

    for k_, v_ in cfg.extra_lineage.items():
        lineage[k_] = max(lineage.get(k_, v_), v_)
    # optimistic-concurrency commit: MoR deltas are pure appends (always
    # retryable); COW rewrites retry only across disjoint-bucket winners and
    # raise CommitConflictError on overlap (the merge must be recomputed)
    if cfg.stage_only:
        metrics["stage_id"] = table.stage_commit(
            add_files=files,
            remove_buckets=None if cfg.write_mode == "mor" else set(affected),
            batch_id=batch_id,
            writer_id=cfg.writer_id,
            lineage=lineage,
            new_schema=new_schema,
            metrics=metrics,
            # anchor at the version this merge READ (cow rewrites must not
            # stage across a commit that landed mid-merge — same race the
            # non-stage branch's expect_version catches); mor appends commute
            expect_version=None if cfg.write_mode == "mor" else expect_version,
            writer_epoch=cfg.writer_epoch,
        )
    else:
        table.commit_with_retry(
            add_files=files,
            # mor appends deltas — the base (and older deltas) stay referenced
            remove_buckets=None if cfg.write_mode == "mor" else set(affected),
            batch_id=batch_id,
            writer_id=cfg.writer_id,
            lineage=lineage,
            new_schema=new_schema,
            metrics=metrics,
            expect_version=expect_version,
            writer_epoch=cfg.writer_epoch,
        )
    _mark("commit")
    metrics["phase_sec"] = phases
    deduped_all.unpersist()
    return metrics
