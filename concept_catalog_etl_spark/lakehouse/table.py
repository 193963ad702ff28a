"""Iceberg-style lake table, from scratch: Parquet data + JSON snapshot manifests.

No Iceberg/Delta jars ship in this environment (and the north_rule wants a
from-scratch engine), so this module implements the table layer the MERGE
sink needs:

* **Layout** ::

      <root>/data/commit-<uuid>/_bucket=<b>/part-*.parquet   data files
      ... or, with a partition_spec (lakehouse/partition.py):
      <root>/data/commit-<uuid>/_part=<v>/_bucket=<b>/part-*.parquet
      <root>/meta/v<N>.json                 snapshot: O(n_buckets) manifest list
      <root>/meta/m-<bucket>-<uuid>.json    immutable per-bucket file manifests
      <root>/meta/_current                                   pointer (atomic swap)
      <root>/_dlq/writer_id=<w>/batch_id=<id>/*.parquet      dead-letter side-output
      <root>/_metrics/metrics.jsonl                          per-batch metrics

* **Snapshots** are immutable and two-level: ``v<N>.json`` holds an
  O(n_buckets) manifest list pointing at immutable per-bucket manifest
  files (each the bucket's file entries with per-file key min/max + row
  count + write-time ``name_by_id`` for rename-safe reads), plus the
  current ``TableSchema`` and a ``properties`` dict
  carrying the **batch-id ledger** and **per-source lineage offsets** — the
  exactly-once mechanism: data files + ledger entry become visible in ONE
  atomic pointer swap, so a replayed micro-batch either sees its own id in
  the ledger (skip) or re-commits idempotently.

* **Commit protocol**: write ``v<N+1>.json`` with ``open(..., "x")`` (fails
  if a concurrent writer got there first — optimistic, single-writer is the
  documented deployment), then ``os.replace`` a temp pointer over
  ``_current``. POSIX rename atomicity = Iceberg's catalog swap. Crash
  between data write and pointer swap leaves orphan files only; replay
  re-commits. ``vacuum()`` removes unreferenced files.

* **Pruning**: the table is hash-bucketed on the key column
  (``pmod(xxhash64(key), n_buckets)``). A MERGE touches only the buckets its
  batch keys hash into; within a bucket, per-file key min/max prunes point
  lookups. Pruning applies to METADATA too: a bucket-pruned read opens only
  its buckets' manifest files, and a commit rewrites only touched buckets'
  manifests — commit cost is O(affected buckets), never O(table files). At
  100 TB: raise ``n_buckets`` into the thousands, keep files ~256 MB; the
  commit protocol and reader logic are unchanged (swap JSON for Avro
  manifests if metadata volume ever warrants it).

Reference lineage: this replaces the MongoDB collection + per-record
``update_one`` sink (``/root/reference/files/load.py:20-22``) with bulk,
atomic, replayable snapshot commits.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import partition as _partition
from .schema import TableSchema, _flatten_nested, parse_type

# System columns stored in every data file (never renamed, not part of the
# logical schema): LWW ordering state so late events can be discarded
# statelessly against the live row, and `_deleted` tombstones so a delete
# keeps its (ts, lsn) — otherwise a late update arriving after the delete
# would resurrect the row (caught by the stream-resume test). Tombstones are
# retained; at scale a compaction job expires those older than the
# out-of-orderness horizon (the watermark analog).
SYS_COLS: list[tuple[str, T.DataType]] = [
    ("_event_ts", T.TimestampType()),
    ("_lsn", T.LongType()),
    ("_deleted", T.BooleanType()),
]
SYS_NAMES = [n for n, _ in SYS_COLS]

LEDGER_KEEP = 1024  # ring size of explicitly remembered batch ids

# logical types whose parquet footer min/max are harvested into manifest
# column stats (arrays/structs/binary have no useful scalar range)
_STATS_PRIMITIVES = {
    "string", "int", "integer", "bigint", "long", "smallint", "tinyint",
    "double", "float", "boolean", "timestamp", "date",
}


def _stat_norm(v):
    """JSON-safe, ORDER-PRESERVING encoding for manifest column stats.
    Timestamps become fixed-width strings (lexical order == chronological);
    bytes decode to str; numbers/bools/strings pass through."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _norm_bound(b, is_ts: bool):
    """Encode a user range bound the way the manifest stats are stored."""
    import datetime as _dt

    if b is None:
        return None
    if is_ts:
        if isinstance(b, str):
            b = _dt.datetime.fromisoformat(b)
        elif isinstance(b, _dt.date) and not isinstance(b, _dt.datetime):
            # a bare date must take the full fixed-width encoding, or it
            # lexically under-ranks equal-midnight stats and mis-prunes
            b = _dt.datetime(b.year, b.month, b.day)
    return _stat_norm(b)


def _stats_intersect(entry: dict, range_ids: dict[str, tuple]) -> bool:
    """False iff the file's column stats PROVE no row can satisfy every
    range (bounds pre-encoded via ``_norm_bound``). Missing stats for a
    column keep the file; a bound whose type can't be compared against the
    stored stats keeps the file too (never prune on a guess)."""
    stats = entry.get("col_stats") or {}
    for sid, (lo, hi) in range_ids.items():
        st = stats.get(sid)
        if st is None:
            continue
        mn, mx = st
        try:
            if hi is not None and mn is not None and mn > hi:
                return False
            if lo is not None and mx is not None and mx < lo:
                return False
        except TypeError:
            continue
    return True


def _rebuild_struct_by_id(root: F.Column, members, fmap: dict) -> F.Column:
    """Reconcile an evolved struct column against a data file written under
    an older member layout: ``fmap`` is the file's write-time
    ``{nested_id: [rel_path, type]}``. Members are matched by ID (renames
    keep values), members the file predates read their initial-default
    (Iceberg v3), widened members cast. Struct nullness is preserved at
    every level (a null sub-struct stays null, never a struct of nulls)."""

    def member_expr(nf) -> F.Column:
        ent = fmap.get(str(nf.id))
        if ent is None:
            return F.lit(nf.initial_default).cast(parse_type(nf.type))
        wpath = ent[0]
        src = root
        for seg in wpath.split("."):
            src = src.getField(seg)
        if nf.nested:
            sub = F.struct(*[member_expr(c).alias(c.name) for c in nf.nested])
            return F.when(src.isNotNull(), sub)
        return src.cast(parse_type(nf.type))

    return F.when(
        root.isNotNull(),
        F.struct(*[member_expr(n).alias(n.name) for n in members]),
    )


class VersionVacuumedError(RuntimeError):
    """A time-travel / change-feed read asked for a snapshot whose files or
    manifests were garbage-collected by ``vacuum`` (outside the retention
    window). Raised eagerly at metadata-load time with a clear message
    instead of surfacing as FileNotFoundError mid-scan."""


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency commit lost the race AND the winning commit(s)
    touched an overlapping bucket set — the caller must recompute its merge
    against the new snapshot (a blind retry would lose the winner's rows)."""


class WriterFencedError(RuntimeError):
    """A commit arrived under a RETIRED writer epoch: a newer incarnation of
    this writer has since called ``acquire_writer_epoch``, so the committer
    is a zombie (e.g. an old streaming driver whose job was restarted
    elsewhere). The commit must be abandoned, never retried — the message
    deliberately avoids the 'concurrent commit' marker so
    ``commit_with_retry`` propagates it immediately."""


_Z_BITS = 16  # per-column resolution of the z-curve (65536 cells per axis)


def _z_numeric(col, type_name: str):
    """Order-preserving numeric view of a z-order column (timestamps via
    epoch micros)."""
    return (F.unix_micros(col) if type_name == "timestamp" else col).cast("double")


def _zorder_expr(cols: list[str], bounds: dict, types: dict[str, str]):
    """Bit-interleaved z-value over ``cols`` (Morton curve): each column is
    min-max normalized to ``_Z_BITS`` bits using the PASSED bounds (computed
    once by the caller — no per-row global state), then bits interleave so
    sorting by the result clusters rows into hyper-rectangles: every output
    file's per-column min/max stats cover a small box, and
    ``read(col_ranges=...)`` prunes on EVERY z column, not just the leading
    one (the lexicographic sort's weakness). Pure JVM expression tree —
    16 × k shift/or terms, no UDF. NULL / degenerate-range columns map to
    cell 0 (they sort first; correctness is unaffected — stats pruning is
    conservative)."""
    k = len(cols)
    norms = []
    for c in cols:
        mn, mx = bounds[c]
        v = _z_numeric(F.col(c), types[c])
        if mn is None or mx is None or mn == mx:
            norms.append(F.lit(0))
            continue
        cell = F.floor((v - F.lit(float(mn))) / F.lit(float(mx - mn))
                       * F.lit(float((1 << _Z_BITS) - 1)))
        norms.append(
            F.coalesce(
                F.least(F.lit((1 << _Z_BITS) - 1), F.greatest(F.lit(0), cell)),
                F.lit(0),
            ).cast("long")
        )
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        for j, n in enumerate(norms):
            bit = F.shiftright(n, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * k + j)
    return z


def bucket_expr(key_cols: str | list[str], n_buckets: int):
    """Deterministic key→bucket assignment (same expr at write and prune
    time). Composite keys hash all components in ONE xxhash64 call — for a
    single column this is byte-identical to the historical single-key
    expression, so existing tables' layouts are unchanged."""
    cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_buckets)).cast("int")


def _partition_fields(snap: dict) -> dict:
    """Partition metadata to carry into a rebuilt snapshot dict.

    ``partition_spec`` is the CURRENT default spec (absent when the table is
    unpartitioned right now); after a spec evolution the snapshot also holds
    the full spec history ``partition_specs`` (Iceberg per-table spec list
    analog) plus ``default_spec_id``, and every file entry written since
    carries the ``spec_id`` it was laid out under (entries without one
    belong to spec 0 — the spec active at create time)."""
    out: dict = {}
    if snap.get("partition_spec"):
        out["partition_spec"] = snap["partition_spec"]
    if snap.get("partition_specs") is not None:
        out["partition_specs"] = snap["partition_specs"]
        out["default_spec_id"] = snap["default_spec_id"]
    return out


def _specs_by_id(snap: dict) -> dict[int, dict | None] | None:
    """spec_id → spec (None = unpartitioned era) for an EVOLVED table, or
    None when the table still has its create-time spec only (every file
    belongs to ``snap["partition_spec"]``, if any)."""
    specs = snap.get("partition_specs")
    if specs is None:
        return None
    return {
        int(s["spec_id"]): (s if s.get("transform") else None) for s in specs
    }


def ledger_has(props: dict, batch_id: int, writer_id: str | None = None) -> bool:
    """Whether snapshot properties ``props`` record ``batch_id`` as committed
    in the ledger of ``writer_id`` (None = the main ledger)."""
    if writer_id is not None:
        led = props.get("writer_ledgers", {}).get(writer_id, {})
        ring = led.get("ring", [])
        if batch_id in set(ring):
            return True
        floor = min(ring) if ring else led.get("max")
        return floor is not None and batch_id < floor
    ring = props.get("committed_batch_ids", [])
    if batch_id in set(ring):
        return True
    # foreachBatch ids are monotonic; anything at/below the high-water mark
    # that fell out of the ring was committed long ago. Sound only within
    # ONE writer's id sequence — concurrent writers pass writer_id above.
    floor = min(ring) if ring else props.get("max_batch_id")
    return floor is not None and batch_id < floor


class LakeTable:
    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "meta")

    # ------------------------------------------------------------------ init
    @staticmethod
    def create(root: str, schema: TableSchema, n_buckets: int = 32,
               partition_spec: dict | None = None,
               check_constraints: dict[str, str] | None = None) -> "LakeTable":
        """``partition_spec={"column": name, "transform": "day"}`` adds a
        coarse partition dimension above the hash buckets (layout
        ``_part=<v>/_bucket=<b>``) — see ``lakehouse.partition`` for the
        transforms and the key-component soundness contract. The spec can
        evolve later without rewriting data (``set_partition_spec`` —
        Iceberg-style per-file spec ids; compaction migrates old files to
        the current spec as routine maintenance).

        ``check_constraints={name: spark_sql_expr}`` declares row-level
        CHECK constraints over the table's columns (Delta CHECK analog with
        CDC-appropriate enforcement): the merge kernel evaluates them on
        every insert/update AFTER normalization and routes violating rows
        to the DLQ with reason ``check:<name>`` — a bad feed row must not
        crash a 10^10-event replay, and the reference's fail-log semantics
        (files/load.py:19) already route per-row failures, not aborts. SQL
        three-valued logic: a NULL-valued expression PASSES (only
        definitely-false violates). Renaming or dropping a referenced
        column is refused (the stored expression would dangle)."""
        t = LakeTable(root)
        os.makedirs(t.meta_dir, exist_ok=False)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        if partition_spec is not None:
            partition_spec = _partition.validate_spec(schema, partition_spec)
        snap = {
            "version": 0,
            "parent": None,
            "n_buckets": n_buckets,
            **({"partition_spec": partition_spec} if partition_spec else {}),
            "schema": schema.to_json(),
            "manifests": [],
            "properties": {
                "committed_batch_ids": [],
                "max_batch_id": None,
                "lineage_offsets": {},
                **({"check_constraints": dict(check_constraints)}
                   if check_constraints else {}),
            },
        }
        t._write_manifest(snap)
        return t

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, "meta", "_current"))

    # ------------------------------------------------------------- snapshots
    def current_version(self) -> int:
        with open(os.path.join(self.meta_dir, "_current")) as f:
            return int(f.read().strip())

    def snapshot(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        try:
            with open(os.path.join(self.meta_dir, f"v{v}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            # a branch handle's history below its fork point lives in the
            # parent's meta dir (the fork snapshot itself was copied in, so
            # this only triggers for strictly-pre-fork time travel)
            pmeta = getattr(self, "_parent_meta", None)
            if pmeta is not None and v <= self._fork_version:
                try:
                    with open(os.path.join(pmeta, f"v{v}.json")) as f:
                        return json.load(f)
                except FileNotFoundError:
                    pass  # parent vacuumed it — fall through to the error
            raise VersionVacuumedError(
                f"snapshot v{v} was expired by vacuum(retain_last=...); "
                f"oldest retained version decides how far back read(version=)/"
                f"read_changes(from_version=) can reach"
            ) from None

    def schema(self) -> TableSchema:
        return TableSchema.from_json(self.snapshot()["schema"])

    def n_buckets(self) -> int:
        return int(self.snapshot()["n_buckets"])

    def properties(self) -> dict:
        return self.snapshot()["properties"]

    # -------------------------------------------------- two-level manifests
    # The snapshot pointer file (v{N}.json) stays O(n_buckets): it lists one
    # immutable per-bucket manifest file per non-empty bucket. A commit
    # rewrites only the manifests of buckets it touched — commit metadata
    # cost is O(affected buckets), not O(table files) — and a bucket-pruned
    # read loads only its buckets' manifests (Iceberg's manifest-list idea,
    # one level, keyed by the same bucketing the data layout uses).
    def _load_bucket_manifest(self, rel_path: str) -> list[dict]:
        try:
            with open(os.path.join(self.root, rel_path)) as f:
                return json.load(f)["files"]
        except FileNotFoundError:
            raise VersionVacuumedError(
                f"bucket manifest {rel_path} was removed by vacuum — this "
                f"version is older than the retention window"
            ) from None

    def _write_bucket_manifest(self, bucket: int, entries: list[dict]) -> str:
        rel = os.path.join("meta", f"m-{bucket}-{uuid.uuid4().hex[:12]}.json")
        with open(os.path.join(self.root, rel), "x") as f:
            json.dump({"bucket": bucket, "files": entries}, f)
        return rel

    def files(
        self, version: int | None = None, buckets: set[int] | None = None,
        snap: dict | None = None,
    ) -> list[dict]:
        """Flattened file entries of a snapshot; with ``buckets`` given, only
        those buckets' manifests are even opened."""
        snap = snap or self.snapshot(version)
        out: list[dict] = []
        for m in snap["manifests"]:
            if buckets is not None and m["bucket"] not in buckets:
                continue
            out.extend(self._load_bucket_manifest(m["path"]))
        return out

    def _write_manifest(self, snap: dict) -> None:
        import time as _time

        # wall-clock commit stamp (Iceberg snapshot timestamp-ms analog):
        # set at WRITE time, always — a rollback's new snapshot gets its own
        # stamp, keeping committed_at monotone over versions, which
        # version_as_of relies on. Never used in data-path semantics.
        snap["committed_at"] = round(_time.time(), 3)
        path = os.path.join(self.meta_dir, f"v{snap['version']}.json")
        with open(path, "x") as f:  # 'x': optimistic-concurrency conflict check
            json.dump(snap, f)
        tmp = os.path.join(self.meta_dir, f"_current.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(snap["version"]))
        os.replace(tmp, os.path.join(self.meta_dir, "_current"))  # atomic swap

    # ----------------------------------------------------------------- fence
    def _validate_fence(self, writer_id: str | None, writer_epoch: int | None,
                        snap: dict | None = None, what: str = "commit") -> None:
        if writer_epoch is None:
            return
        snap = snap or self.snapshot()
        wid = writer_id or "_default"
        cur_ep = int(snap["properties"].get("writer_epochs", {}).get(wid, 0))
        if cur_ep != writer_epoch:
            raise WriterFencedError(
                f"writer '{wid}' holds epoch {writer_epoch} but the table is "
                f"at epoch {cur_ep} — a newer writer incarnation has fenced "
                f"this one; abandon the {what}"
            )

    def writer_epoch(self, writer_id: str | None = None) -> int:
        """Current epoch for a writer identity (0 = never acquired)."""
        wid = writer_id or "_default"
        return int(self.properties().get("writer_epochs", {}).get(wid, 0))

    def acquire_writer_epoch(self, writer_id: str | None = None,
                             max_retries: int = 20,
                             orphan_version_grace_sec: float = 30.0) -> int:
        """Bump and return this writer identity's epoch — the zombie fence.

        A (re)starting writer acquires an epoch ONCE and stamps it on every
        commit (``MergeConfig.writer_epoch`` / ``commit(writer_epoch=...)``).
        Acquiring retires all prior epochs for the identity: a superseded
        driver that wakes up later and tries to commit gets
        ``WriterFencedError`` instead of interleaving its stale batches with
        the new incarnation's (the Kafka transactional-producer /
        Flink-job-fencing idea, carried in snapshot properties so the fence
        travels in the same atomic pointer swap as everything else).

        The bump itself is a property-only commit re-derived from a FRESH
        snapshot on every race retry (a static extra_props under
        commit_with_retry could double-apply a stale increment). The
        FileExistsError branch runs the same age-gated orphan-version
        cleanup as ``commit_with_retry``: the replacement driver acquiring
        its fence is EXACTLY the caller most likely to face a crashed
        predecessor's dead unpublished v{N}.json — without the cleanup,
        failover would wedge on the very file fencing exists to survive."""
        wid = writer_id or "_default"
        for _ in range(max_retries + 1):
            snap = self.snapshot()
            eps = {k: int(v)
                   for k, v in snap["properties"].get("writer_epochs", {}).items()}
            new = eps.get(wid, 0) + 1
            eps[wid] = new
            try:
                self.commit(expect_version=snap["version"],
                            extra_props={"writer_epochs": eps})
                return new
            except FileExistsError:
                self._reap_orphan_version(
                    self.current_version(), orphan_version_grace_sec)
                continue
            except RuntimeError as e:
                if "concurrent commit" not in str(e):
                    raise
                continue
        raise CommitConflictError(
            f"could not acquire writer epoch for '{wid}' after "
            f"{max_retries + 1} attempts"
        )

    # ---------------------------------------------------------------- ledger
    def is_committed(self, batch_id: int, writer_id: str | None = None) -> bool:
        return ledger_has(self.properties(), batch_id, writer_id)

    # ----------------------------------------------------------------- write
    def write_data_files(
        self,
        df: DataFrame,
        key_col: str | None = None,
        schema_override: TableSchema | None = None,
        delta: bool = False,
        sort_within: bool = False,
        cluster_cols: list[str] | None = None,
        cluster_mode: str = "linear",
        cluster_bounds: dict | None = None,
        with_bloom: bool | None = None,
        n_buckets_override: int | None = None,
        max_records_per_file: int | None = None,
    ) -> list[dict]:
        """Write `df` (logical+system columns) bucketed by key; return file entries.

        If ``_bucket`` is already a column the existing partitioning is
        reused (the MERGE path arrives pre-bucketed — zero extra shuffle);
        otherwise one shuffle on the bucket column. File stats (rows, key
        min/max) are read back from parquet footers — no extra Spark job.
        ``schema_override`` lets a not-yet-committed evolved schema stamp the
        files' ``name_by_id`` mapping. ``delta=True`` marks the files as
        merge-on-read deltas: readers LWW-resolve them against the base
        (see ``read``), and compaction folds them in.
        """
        snap = self.snapshot()
        schema = schema_override or TableSchema.from_json(snap["schema"])
        keys = [key_col] if key_col else schema.key_names
        # file-level key min/max stats + bloom sidecars cover the LEADING
        # key component; for composite keys that is still a sound (just
        # conservative) pruning bound — equality lookups always know the
        # leading component, and bucket pruning already used ALL components
        key = keys[0]
        nb = n_buckets_override or int(snap["n_buckets"])
        commit_id = uuid.uuid4().hex[:12]
        rel_dir = os.path.join("data", f"commit-{commit_id}")
        out_dir = os.path.join(self.root, rel_dir)

        out = df
        if "_bucket" not in df.columns:
            out = df.withColumn("_bucket", bucket_expr(keys, nb))
            npart = min(nb, int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
            out = out.repartition(npart, "_bucket")
        part_dirs = ["_bucket"]
        pspec = snap.get("partition_spec")
        if pspec:
            # partition value derives from a key COLUMN (projection, no
            # shuffle) — see lakehouse.partition for the transforms and why
            # the source must be a key component. Ingest batches have time
            # locality, so a batch fans out over few partitions; the
            # per-(part, bucket) file fan-out stays bounded.
            if "_part" not in out.columns:
                pname = schema.field_by_id(int(pspec["field_id"])).name
                out = out.withColumn(
                    "_part", _partition.part_expr(F.col(pname), pspec["transform"])
                )
            part_dirs = ["_part", "_bucket"]
        if cluster_cols:
            # sort-order rewrite (Iceberg rewrite-with-sort-order analog):
            # clustering by payload columns gives consecutive output files
            # near-disjoint col_stats ranges on those columns, so
            # read(col_ranges=...) prunes most of a bucket after
            # compaction. Key goes last: point lookups trade row-group
            # locality for column locality, but keep bloom-sidecar pruning.
            # ``cluster_mode='zorder'`` sorts by the bit-interleaved Morton
            # value instead (bounds precomputed by the caller), so stats
            # prune on every cluster column, not just the leading one.
            if cluster_mode == "zorder":
                types = {f.name: f.type for f in schema.fields}
                types["_event_ts"] = "timestamp"
                zc = _zorder_expr(cluster_cols, cluster_bounds or {}, types)
                out = out.sortWithinPartitions("_bucket", zc, *keys)
            else:
                out = out.sortWithinPartitions("_bucket", *cluster_cols, *keys)
        elif sort_within:
            # read-optimizing layout (compaction path, NOT the hot ingest
            # path — Iceberg's split too): key-sorted rows inside each
            # bucket give tight, near-disjoint parquet row-group min/max, so
            # point/range lookups skip row groups inside big files
            out = out.sortWithinPartitions("_bucket", *keys)
        writer = out.write.partitionBy(*part_dirs).mode("overwrite")
        if max_records_per_file:
            # file-size governor (Iceberg write.target-file-size analog):
            # without it a compacted 100 TB bucket collapses into one
            # unsplittable-at-commit-granularity giant file
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.parquet(out_dir)
        if with_bloom is None:
            # blooms ride the read-optimizing (compaction) rewrites by
            # default — never the hot ingest path (hashing every key of
            # every batch would tax the replay headline); tables can opt
            # every write in via the bloom_on_write property.
            with_bloom = (
                sort_within or bool(cluster_cols)
                or bool(self.properties().get("bloom_on_write"))
            )
        entries = self._collect_file_entries(
            rel_dir, schema, key, delta=delta, with_bloom=with_bloom,
            layout_nb=nb,
        )
        if snap.get("partition_specs") is not None:
            # evolved table: entries are self-describing — they record the
            # spec they were laid out under (the snapshot THIS writer read,
            # which may lag a racing evolution; the entry stays correct
            # because its part values really were computed under that spec)
            for e in entries:
                e["spec_id"] = int(snap["default_spec_id"])
        return entries

    def _collect_file_entries(self, rel_dir: str, schema: TableSchema, key: str,
                              delta: bool = False,
                              with_bloom: bool = False,
                              layout_nb: int | None = None) -> list[dict]:
        import pyarrow.parquet as pq

        from urllib.parse import unquote

        entries: list[dict] = []
        base = os.path.join(self.root, rel_dir)
        # (part_value, bucket, rel_subdir) triples; flat layout has part=None,
        # partitioned tables nest _part=<v>/_bucket=<b> (values Hive-escaped
        # by the writer, percent-decoded here)
        bucket_dirs: list[tuple[str | None, int, str]] = []
        for d in sorted(os.listdir(base)):
            if d.startswith("_bucket="):
                bucket_dirs.append((None, int(d.split("=", 1)[1]), d))
            elif d.startswith("_part="):
                pval = unquote(d.split("=", 1)[1])
                for bd in sorted(os.listdir(os.path.join(base, d))):
                    if bd.startswith("_bucket="):
                        bucket_dirs.append(
                            (pval, int(bd.split("=", 1)[1]), os.path.join(d, bd))
                        )
        for pval, bucket, bdir in bucket_dirs:
            for fn in sorted(os.listdir(os.path.join(base, bdir))):
                if not fn.endswith(".parquet"):
                    continue
                fpath = os.path.join(base, bdir, fn)
                pf = pq.ParquetFile(fpath)
                md = pf.metadata
                phys_cols = list(pf.schema_arrow.names)
                kmin = kmax = None
                try:
                    kidx = md.schema.names.index(key)
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(kidx).statistics
                        if st is not None and st.has_min_max:
                            mn, mx = st.min, st.max
                            if isinstance(mn, bytes):
                                mn, mx = mn.decode(), mx.decode()
                            kmin = mn if kmin is None else min(kmin, mn)
                            kmax = mx if kmax is None else max(kmax, mx)
                except ValueError:
                    pass
                # tombstone-expiry planning stats. A file WITHOUT a
                # _deleted column cannot hold tombstones (has_tomb=False);
                # with the column, any row group whose stats can't rule out
                # a true value counts as "maybe" (conservative). Old
                # manifests lacking these FIELDS fall back to maybe via
                # .get("has_tombstone", True) at planning time.
                has_tomb, min_lsn = False, None
                names = md.schema.names  # physical LEAF names (top-level
                # system columns appear as themselves; nested leaves don't
                # collide with the _-prefixed system names)
                if "_deleted" in names:
                    didx = names.index("_deleted")
                    for rg in range(md.num_row_groups):
                        ds = md.row_group(rg).column(didx).statistics
                        if ds is None:
                            has_tomb = True
                        elif ds.num_values == 0:
                            pass  # all-null _deleted: no tombstones here
                        elif not ds.has_min_max or bool(ds.max):
                            has_tomb = True
                if "_lsn" in names:
                    lidx = names.index("_lsn")
                    for rg in range(md.num_row_groups):
                        ls = md.row_group(rg).column(lidx).statistics
                        if ls is not None and ls.has_min_max:
                            v = int(ls.min)
                            min_lsn = v if min_lsn is None else min(min_lsn, v)
                # Per-column min/max for primitive logical fields (Iceberg
                # manifest column-stats analog), keyed by FIELD ID so the
                # stats survive renames; `_event_ts` rides along under its
                # (never-renamed) literal name for time-window scans. Read
                # from the same footer metadata already in hand — no extra
                # file I/O on the ingest path. Non-primitive fields and
                # stat-less row groups contribute nothing (pruning stays
                # conservative: no stats → keep the file).
                col_stats: dict[str, list] = {}
                stat_fields = [
                    (str(f.id), f.name) for f in schema.fields
                    if f.name != key and f.type in _STATS_PRIMITIVES
                ] + [("_event_ts", "_event_ts")]
                for sid, sname in stat_fields:
                    if sname not in names:
                        continue
                    cidx = names.index(sname)
                    smin = smax = None
                    complete = True
                    for rg in range(md.num_row_groups):
                        cs = md.row_group(rg).column(cidx).statistics
                        if cs is None or (cs.num_values and not cs.has_min_max):
                            complete = False
                            break
                        if cs.num_values == 0:
                            continue  # all-null row group: no range to widen
                        mn, mx = _stat_norm(cs.min), _stat_norm(cs.max)
                        smin = mn if smin is None else min(smin, mn)
                        smax = mx if smax is None else max(smax, mx)
                    if complete and smin is not None:
                        col_stats[sid] = [smin, smax]
                has_bloom = False
                if with_bloom and key in md.schema.names:
                    from . import bloom as _bloom

                    kcol = pq.read_table(fpath, columns=[key]).column(0)
                    bf = _bloom.build([str(v) for v in kcol.to_pylist()
                                       if v is not None])
                    with open(fpath + ".bloom", "wb") as bfh:
                        bfh.write(_bloom.dumps(bf))
                    has_bloom = True
                entries.append(
                    {
                        "path": os.path.join(rel_dir, bdir, fn),
                        "bucket": bucket,
                        **({"part": pval} if pval is not None else {}),
                        "rows": md.num_rows,
                        "min_key": kmin,
                        "max_key": kmax,
                        "name_by_id": {str(f.id): f.name for f in schema.fields},
                        "types_by_id": {str(f.id): f.type for f in schema.fields},
                        # struct columns: write-time {nested_id: [rel_path,
                        # type]} so member renames/adds/widens reconcile by
                        # id at read, like top-level columns do
                        **({"nested_by_id": nmap} if (nmap := {
                            str(f.id): {
                                str(nid): [p, t]
                                for nid, (p, t) in _flatten_nested(f.nested).items()
                            }
                            for f in schema.fields if f.nested
                        }) else {}),
                        "schema_version": schema.schema_version,
                        "phys_cols": phys_cols,
                        "has_tombstone": has_tomb,
                        "min_lsn": min_lsn,
                        **({"col_stats": col_stats} if col_stats else {}),
                        **({"delta": True} if delta else {}),
                        **({"bloom": True} if has_bloom else {}),
                        # bucket layout these files were hashed against —
                        # commit() refuses files staged for a different
                        # n_buckets (closes the stage→commit rebucket window)
                        **({"layout_nb": layout_nb} if layout_nb else {}),
                    }
                )
        return entries

    def _rebuild_manifests(
        self,
        snap: dict,
        touched: set[int],
        add_files: list[dict] | None,
        remove_buckets: set[int] | None,
        remove_paths: set[str] | None,
    ) -> tuple[list[dict], list[str]]:
        """Next snapshot's manifest list: untouched buckets reuse their
        immutable manifest by path; touched buckets are loaded, filtered and
        rewritten. Returns (manifests, freshly-written manifest paths) — the
        second lets a STAGED (unpublished) build clean up after itself."""
        by_bucket: dict[int, list[dict]] = {}
        manifests: list[dict] = []
        written: list[str] = []
        for m in snap["manifests"]:
            if m["bucket"] in touched:  # load + rewrite only touched buckets
                by_bucket[m["bucket"]] = self._load_bucket_manifest(m["path"])
            else:
                manifests.append(m)  # untouched: reuse the immutable manifest
        for b in touched:
            by_bucket.setdefault(b, [])
        for b in touched:
            entries = [
                f
                for f in by_bucket[b]
                if (remove_buckets is None or f["bucket"] not in remove_buckets)
                and (remove_paths is None or f["path"] not in remove_paths)
            ]
            entries.extend(f for f in (add_files or []) if f["bucket"] == b)
            if entries:
                path = self._write_bucket_manifest(b, entries)
                written.append(path)
                manifests.append(
                    {"bucket": b, "path": path, "n_files": len(entries)}
                )
        manifests.sort(key=lambda m: m["bucket"])
        return manifests, written

    # ---------------------------------------------------------------- commit
    def commit(
        self,
        add_files: list[dict] | None = None,
        remove_buckets: set[int] | None = None,
        remove_paths: set[str] | None = None,
        batch_id: int | None = None,
        lineage: dict | None = None,
        new_schema: TableSchema | None = None,
        metrics: dict | None = None,
        expect_version: int | None = None,
        extra_props: dict | None = None,
        writer_id: str | None = None,
        new_n_buckets: int | None = None,
        writer_epoch: int | None = None,
        new_partition: dict | None = None,
    ) -> dict:
        """Build + atomically publish the next snapshot.

        ``new_partition``: replacement partition metadata (the full field
        set ``partition_spec``/``partition_specs``/``default_spec_id``) for
        a spec-evolution commit — see ``set_partition_spec``, which is the
        only caller and owns the fold/validation.

        Data files, ledger entry, lineage offsets and (optionally) an evolved
        schema all land in one pointer swap — the exactly-once unit. A
        ``batch_id`` already in the ledger of the snapshot the commit builds
        on makes it a no-op that returns that snapshot.

        ``new_n_buckets``: bucket-layout evolution (``rebucket``) — the old
        manifests describe buckets that no longer exist, so the manifest set
        is rebuilt from ``add_files`` alone and the snapshot records the new
        count. Ledger/lineage/properties carry over untouched (a layout
        change moves no logical data).
        """
        snap = self.snapshot()
        # zombie-writer fence: validated against the SAME snapshot the
        # commit builds on, and re-validated on every commit_with_retry
        # attempt (each re-invocation reloads the snapshot) — so a fence
        # acquired mid-retry still aborts the zombie atomically with the
        # pointer swap it would have won.
        self._validate_fence(writer_id, writer_epoch, snap)
        # exactly-once: checked on the SAME snapshot the next version number
        # comes from, so the check is atomic with the 'x'-create of
        # v{N+1}.json, whatever the caller checked before
        if batch_id is not None and ledger_has(snap["properties"], batch_id, writer_id):
            return snap
        if expect_version is not None and snap["version"] != expect_version:
            raise RuntimeError(
                f"concurrent commit: expected v{expect_version}, found v{snap['version']}"
            )
        # Layout-integrity gate: files carry the n_buckets they were hashed
        # against at staging time. An append staged under the old layout but
        # committed after a rebucket would pass version validation (appends
        # use expect_version=None) yet mis-bucket every row for pruning —
        # this check closes that stage→commit window atomically.
        want_nb = new_n_buckets if new_n_buckets is not None else int(snap["n_buckets"])
        for f in add_files or []:
            fnb = f.get("layout_nb")
            if fnb is not None and fnb != want_nb:
                raise CommitConflictError(
                    f"data files staged for a {fnb}-bucket layout but the "
                    f"table now has {want_nb} buckets — rewrite the batch's "
                    "data files against the current layout"
                )
        if new_n_buckets is not None:
            return self._commit_new_layout(
                snap, new_n_buckets, add_files or [], extra_props
            )
        # touched buckets: additions, removals, and (rare) path removals
        touched: set[int] = {f["bucket"] for f in (add_files or [])}
        if remove_buckets:
            touched |= set(remove_buckets)
        if remove_paths:
            touched |= {
                f["bucket"] for f in self.files(snap=snap) if f["path"] in remove_paths
            }
        manifests, _written = self._rebuild_manifests(
            snap, touched, add_files, remove_buckets, remove_paths
        )
        props = dict(snap["properties"])
        if batch_id is not None and writer_id is not None:
            # namespaced ledger: each concurrent writer (streaming tail,
            # backfill job, compactor) owns its own monotonic batch-id
            # sequence — the flat ledger's high-water inference ('anything
            # below min(ring) was committed long ago') is only sound within
            # ONE foreachBatch sequence, so cross-writer ids must never
            # share a floor (Iceberg analog: Flink commits keyed by job-id +
            # checkpoint-id in snapshot summary properties)
            ledgers = {k: dict(v) for k, v in props.get("writer_ledgers", {}).items()}
            led = dict(ledgers.get(writer_id, {}))
            ring = sorted(set(led.get("ring", [])) | {batch_id})[-LEDGER_KEEP:]
            prev = led.get("max")
            ledgers[writer_id] = {
                "ring": ring,
                "max": batch_id if prev is None else max(prev, batch_id),
            }
            props["writer_ledgers"] = ledgers
        elif batch_id is not None:
            ring = list(props.get("committed_batch_ids", []))
            ring.append(batch_id)
            ring = sorted(set(ring))[-LEDGER_KEEP:]
            props["committed_batch_ids"] = ring
            prev = props.get("max_batch_id")
            props["max_batch_id"] = batch_id if prev is None else max(prev, batch_id)
        if lineage:
            lo = dict(props.get("lineage_offsets", {}))
            for src, off in lineage.items():
                cur = lo.get(src)
                lo[src] = off if cur is None else max(cur, off)
            props["lineage_offsets"] = lo
        if extra_props:
            props.update(extra_props)
        new_snap = {
            "version": snap["version"] + 1,
            "parent": snap["version"],
            "n_buckets": snap["n_buckets"],
            **(_partition_fields(snap) if new_partition is None else new_partition),
            "schema": (new_schema or TableSchema.from_json(snap["schema"])).to_json(),
            "manifests": manifests,
            "properties": props,
        }
        self._write_manifest(new_snap)
        # after the swap: a commit attempt that loses the version race must
        # not leave a metrics line behind (commit_with_retry re-invokes)
        if metrics:
            self._append_metrics(metrics)
        return new_snap

    def _commit_new_layout(self, snap: dict, new_nb: int,
                           add_files: list[dict],
                           extra_props: dict | None) -> dict:
        """Publish a snapshot under an evolved bucket count: fresh manifests
        from ``add_files`` only; every pre-evolution file is implicitly
        removed (vacuum reclaims it after the retention window)."""
        by_bucket: dict[int, list[dict]] = {}
        for f in add_files:
            if not 0 <= f["bucket"] < new_nb:
                raise ValueError(
                    f"file bucket {f['bucket']} outside new layout [0,{new_nb})"
                )
            by_bucket.setdefault(f["bucket"], []).append(f)
        manifests = [
            {"bucket": b, "path": self._write_bucket_manifest(b, entries),
             "n_files": len(entries)}
            for b, entries in sorted(by_bucket.items())
        ]
        props = dict(snap["properties"])
        props["rebucketed_from"] = int(snap["n_buckets"])
        props["rebucketed_at_version"] = snap["version"] + 1
        if extra_props:
            props.update(extra_props)
        new_snap = {
            "version": snap["version"] + 1,
            "parent": snap["version"],
            "n_buckets": new_nb,
            **_partition_fields(snap),
            "schema": TableSchema.from_json(snap["schema"]).to_json(),
            "manifests": manifests,
            "properties": props,
        }
        self._write_manifest(new_snap)
        return new_snap

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> dict:
        """Bucket-count evolution (Iceberg partition-spec evolution analog):
        rewrite the table's live state — every row version a reader can see,
        i.e. LWW winners INCLUDING tombstones — into ``new_n_buckets`` and
        publish atomically. The bucket count fixed at create() time cannot
        hold across a 1000x data growth: too few buckets → giant files +
        no merge parallelism; too many → small-file explosion. Snapshots
        before the evolution keep their old layout (time travel works);
        ledger and lineage carry over so exactly-once replay is unaffected —
        a layout change moves no logical data, so undone/duplicate detection
        must not reset.

        One full-table shuffle by construction (every row re-hashes); runs
        as a maintenance job, never on the ingest path. The rewrite is
        key-sorted + bloom'd like any compaction (read-optimizing layout).
        Concurrent writers are safe: this commit validates expect_version,
        and ``commit_with_retry`` refuses to retry a commit across a layout
        change (its files are bucketed for the old count)."""
        snap = self.snapshot()
        old_nb = int(snap["n_buckets"])
        if new_n_buckets == old_nb:
            return snap
        if new_n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {new_n_buckets}")
        df = self.read(
            spark, with_system_cols=True, include_deleted=True, version=snap["version"]
        )
        files = self.write_data_files(
            df, n_buckets_override=new_n_buckets, sort_within=True
        )
        return self.commit(
            add_files=files,
            new_n_buckets=new_n_buckets,
            expect_version=snap["version"],
        )

    def set_partition_spec(self, spec: dict | None,
                           max_retries: int = 5) -> dict:
        """Partition-spec evolution (Iceberg spec-evolution analog): change
        the table's partition dimension WITHOUT rewriting a single data
        file. ``spec={"column": name, "transform": t}`` switches new writes
        to that layout; ``spec=None`` drops partitioning for new writes.

        Metadata-only commit: the snapshot gains the spec HISTORY
        (``partition_specs``, ids dense from 0 = the create-time spec) and a
        ``default_spec_id``; every file entry written afterwards records its
        ``spec_id``. Readers prune each file under its own spec — exactly,
        even across granularities (see ``read``'s soundness note): window
        reads derive per-spec bounds, point lookups derive each key's
        partition value per spec, and the new spec still must satisfy the
        key-component contract (``lakehouse.partition.validate_spec``).
        Old-era files keep pruning under their old spec forever; a
        ``compact()`` rewrites buckets under the CURRENT spec, so normal
        maintenance is the migration path (no stop-the-world rebuild).

        Concurrency: the commit anchors ``expect_version`` and refolds the
        spec list from the LATEST snapshot on a lost race, so two racing
        evolutions serialize with distinct spec ids; racing data writers
        are unaffected (their entries self-describe the spec they were
        laid out under)."""
        for _ in range(max_retries + 1):
            snap = self.snapshot()
            schema = TableSchema.from_json(snap["schema"])
            new = (_partition.validate_spec(schema, spec)
                   if spec is not None else None)
            cur = snap.get("partition_spec")
            same = (
                (new is None and not cur)
                or (new is not None and cur
                    and int(cur["field_id"]) == int(new["field_id"])
                    and cur["transform"] == new["transform"])
            )
            if same:
                return snap  # idempotent: already the default spec
            specs = list(snap.get("partition_specs") or [])
            if not specs:
                # first evolution: materialize the create-time spec as id 0
                specs = [
                    {"spec_id": 0, **cur} if cur else {"spec_id": 0}
                ]
            nid = max(int(s["spec_id"]) for s in specs) + 1
            specs.append({"spec_id": nid, **(new or {})})
            fields: dict = {"partition_specs": specs, "default_spec_id": nid}
            if new is not None:
                fields["partition_spec"] = new
            try:
                return self.commit(new_partition=fields,
                                   expect_version=snap["version"])
            except (FileExistsError, RuntimeError) as e:
                if not (isinstance(e, FileExistsError)
                        or "concurrent commit" in str(e)):
                    raise
                if isinstance(e, FileExistsError):
                    # crashed-writer wedge: same age-gated reap as
                    # commit_with_retry (which we can't use here — its
                    # blind retry would re-commit a stale spec fold)
                    self._reap_orphan_version(self.current_version(), 30.0)
                continue  # refold against the new current snapshot
        raise CommitConflictError(
            "set_partition_spec lost the commit race repeatedly")

    def _touched_buckets(self, snap: dict) -> set[int]:
        """Buckets whose manifest changed between ``snap`` and its parent —
        the commit's write set, recoverable from metadata alone (manifests
        are immutable, so identity of the path pins identity of content)."""
        parent = snap.get("parent")
        cur = {m["bucket"]: m["path"] for m in snap["manifests"]}
        if parent is None:
            return set(cur)
        prev = {m["bucket"]: m["path"] for m in self.snapshot(parent)["manifests"]}
        return {b for b in set(prev) | set(cur) if prev.get(b) != cur.get(b)}

    def _reap_orphan_version(self, cur: int, grace_sec: float) -> None:
        """Age-gated cleanup of a dead writer's unpublished ``v{cur+1}.json``
        — the one file that can permanently wedge every future commit's
        'x'-create (shared by ``commit_with_retry`` and
        ``acquire_writer_epoch``, which hit the identical collision).

        A naive ``pointer==cur`` check followed by ``os.remove`` is a TOCTOU:
        a stalled-but-live writer (paused longer than the grace window
        between its 'x'-create and pointer swap) can publish in the gap, and
        the remove would then delete the now-current snapshot. Instead the
        suspect file is CLAIMED by an atomic rename-aside, the pointer is
        re-verified after the claim, and on the losing side of the race the
        file is renamed back — the pointer references it, so restoring the
        bytes restores the published snapshot. Only when the pointer still
        sits below the claimed file is it truly orphaned and deleted."""
        import time as _t_

        nxt = os.path.join(self.meta_dir, f"v{cur + 1}.json")
        try:
            age = _t_.time() - os.path.getmtime(nxt)
        except OSError:
            return  # already gone (another cleaner, or publish+vacuum)
        if age < grace_sec or self.current_version() != cur:
            _t_.sleep(0.1)  # live racer mid-publish — let it swap
            return
        aside = f"{nxt}.reap-{uuid.uuid4().hex}"
        try:
            os.rename(nxt, aside)  # atomic claim: only one cleaner wins
        except OSError:
            return  # another cleaner claimed it first
        if self.current_version() > cur:
            # the 'dead' writer was merely stalled and published between the
            # re-verify and the claim — the claimed file IS the current
            # snapshot; put it back.
            os.rename(aside, nxt)
            return
        os.remove(aside)

    def commit_with_retry(
        self, *, expect_version: int | None = None, max_retries: int = 5,
        orphan_version_grace_sec: float = 30.0, **kwargs
    ) -> dict:
        """Optimistic-concurrency commit (Iceberg-style): on losing the
        version race, reload the snapshot and retry — data files are already
        on disk; only manifests rebuild, so a retry is O(affected buckets).

        Retry is UNCONDITIONAL for pure appends (``remove_buckets`` and
        ``remove_paths`` both None — e.g. merge-on-read delta commits):
        appends commute, whatever the winner touched. A rewrite commit
        (compaction / copy-on-write merge) retries only if every winning
        commit's touched-bucket set is disjoint from ours; an overlap means
        the winner rewrote rows we computed against, so a blind retry would
        lose its writes → ``CommitConflictError`` tells the caller to redo
        the merge. If a racing writer already landed OUR ``batch_id``, the
        commit degrades to the idempotent skip (exactly-once holds).

        Crash recovery: a writer that died between creating ``v{N}.json``
        and swapping the pointer leaves a DEAD unpublished version file —
        the pointer swap is the commit point, so nothing references it, but
        it permanently collides with every future commit's 'x'-create.
        When the collision target exists while the pointer has NOT advanced
        past it, and the file is older than ``orphan_version_grace_sec``,
        it is removed and the commit retried (Iceberg's age-gated
        orphan-metadata cleanup, scoped to the one file that can wedge the
        table). A young collider is a LIVE racer mid-publish: back off
        briefly and retry instead — the grace window only needs to exceed
        the sub-second gap between a healthy writer's 'x'-create and its
        pointer swap."""
        is_append = (
            kwargs.get("remove_buckets") is None and kwargs.get("remove_paths") is None
        )
        # the bucket layout the caller's staged files assume: the snapshot
        # they validated against if given, else the layout right now
        nb_at_entry = (
            self.snapshot(expect_version)["n_buckets"]
            if expect_version is not None
            else self.snapshot()["n_buckets"]
        )
        ours = {f["bucket"] for f in (kwargs.get("add_files") or [])} | set(
            kwargs.get("remove_buckets") or []
        )
        batch_id = kwargs.get("batch_id")
        writer_id = kwargs.get("writer_id")
        ev = expect_version
        if ev is None and not is_append:
            ev = self.current_version()  # rewrites always validate overlap
        # Schema-evolving commits must serialize: new_schema was folded from
        # the schema at ``ev`` — if another writer evolved the schema since,
        # re-committing ours would ERASE their change (and two concurrent
        # ADDs would mint the same field id from one next_field_id). Anchor
        # the base schema_version here; the retry path refuses to proceed
        # past a schema change with CommitConflictError (caller refolds).
        sv_at_entry = None
        if kwargs.get("new_schema") is not None:
            if ev is None:
                ev = self.current_version()
            sv_at_entry = TableSchema.from_json(
                self.snapshot(ev)["schema"]).schema_version
        if kwargs.get("remove_paths"):
            # a path-level removal's write set is the buckets those paths
            # live in. Resolve against the EXPECTED snapshot, not the current
            # one: under the very race this guards, a winner that already
            # rewrote those paths would make a current-snapshot lookup return
            # nothing, leaving `ours` empty and the overlap check vacuous.
            targets = set(kwargs["remove_paths"])
            base = self.files(snap=self.snapshot(ev)) if ev is not None else self.files()
            ours |= {f["bucket"] for f in base if f["path"] in targets}
        for attempt in range(max_retries + 1):
            try:
                return self.commit(expect_version=ev, **kwargs)
            except (FileExistsError, RuntimeError) as e:
                conflict = isinstance(e, FileExistsError) or "concurrent commit" in str(e)
                if not conflict or attempt == max_retries:
                    raise
                # another writer landed our batch: skip. commit() would skip
                # it on the next attempt too, but the overlap checks below
                # run first and would refuse a rewrite that lost to it
                if batch_id is not None and self.is_committed(batch_id, writer_id):
                    return self.snapshot()
                cur = self.current_version()
                if isinstance(e, FileExistsError):
                    # the collision target while the pointer sits below it:
                    # either a crashed writer's dead unpublished version
                    # file (the wedge described in the docstring) or a live
                    # racer an instant from its pointer swap — age decides,
                    # with the claim-then-verify dance in _reap_orphan_version
                    # guarding against deleting a just-published snapshot.
                    self._reap_orphan_version(cur, orphan_version_grace_sec)
                    cur = self.current_version()
                if self.snapshot(cur)["n_buckets"] != nb_at_entry:
                    # a rebucket landed mid-race: our data files are laid
                    # out for the OLD bucket count — a blind retry would
                    # break bucket-key co-location. Caller must rewrite.
                    raise CommitConflictError(
                        "bucket layout evolved during commit — rewrite the "
                        "batch's data files against the new layout"
                    ) from None
                if sv_at_entry is not None:
                    cur_sv = TableSchema.from_json(
                        self.snapshot(cur)["schema"]).schema_version
                    if cur_sv != sv_at_entry:
                        raise CommitConflictError(
                            f"schema evolved during commit (schema_version "
                            f"{sv_at_entry} → {cur_sv} since v{ev}) — "
                            f"recompute the schema fold against v{cur}"
                        ) from None
                if not is_append and ev is not None:
                    for v in range(ev + 1, cur + 1):
                        theirs = self._touched_buckets(self.snapshot(v))
                        if theirs & ours:
                            raise CommitConflictError(
                                f"commit v{v} touched buckets "
                                f"{sorted(theirs & ours)} that this rewrite "
                                f"also touches — recompute the merge against "
                                f"v{cur}"
                            ) from None
                ev = cur
        raise AssertionError("unreachable")

    # ------------------------------------------------- write-audit-publish
    # Iceberg WAP analog on the linear snapshot chain: a writer STAGES a
    # commit (data files + real bucket manifests on disk, but no pointer
    # advance and no v{N}.json in the chain), audits the staged state
    # through the normal read path, then PUBLISHES by re-driving the stored
    # commit kwargs through commit_with_retry — so the published commit gets
    # every existing guard for free (version validation, overlap check,
    # bucket-layout gate, namespaced ledger). Readers of the table never see
    # an unpublished stage. If main advances between stage and publish, an
    # append publishes cleanly (appends commute); a rewrite raises
    # CommitConflictError exactly like a raced commit_with_retry.

    def stage_commit(
        self,
        *,
        add_files: list[dict] | None = None,
        remove_buckets: set[int] | None = None,
        remove_paths: set[str] | None = None,
        batch_id: int | None = None,
        writer_id: str | None = None,
        lineage: dict | None = None,
        extra_props: dict | None = None,
        new_schema: TableSchema | None = None,
        metrics: dict | None = None,
        expect_version: int | None = None,
        writer_epoch: int | None = None,
    ) -> str:
        """Stage a commit for audit; returns a ``stage_id``. The staged
        state is readable via ``read_stage`` but invisible to every other
        reader. Give ``batch_id`` (+ ``writer_id`` for multi-writer tables)
        to make publish exactly-once across a crash between the commit and
        the stage-marker cleanup — the same ledger contract as ``commit``.
        ``new_schema`` stages a schema evolution with the data (the audit
        surface reads under the evolved schema); ``metrics`` land in the
        metrics log only at publish. ``expect_version`` anchors the stage at
        the version the WORK was computed from (a COW merge's read
        snapshot): a commit landing between that read and the stage is a
        conflict NOW, not a silent clobber at publish — same contract as
        ``commit``."""
        snap = self.snapshot()
        # fail the zombie at STAGE time (publish re-validates through
        # commit() regardless — this just avoids staging dead work)
        self._validate_fence(writer_id, writer_epoch, snap, what="stage")
        if expect_version is not None and snap["version"] != expect_version:
            raise CommitConflictError(
                f"concurrent commit before stage: expected v{expect_version},"
                f" found v{snap['version']} — recompute against the new"
                " snapshot"
            )
        touched: set[int] = {f["bucket"] for f in (add_files or [])}
        if remove_buckets:
            touched |= set(remove_buckets)
        if remove_paths:
            touched |= {
                f["bucket"] for f in self.files(snap=snap)
                if f["path"] in remove_paths
            }
        manifests, written = self._rebuild_manifests(
            snap, touched, add_files, remove_buckets, remove_paths
        )
        stage_id = uuid.uuid4().hex[:12]
        audit_snap = {
            "version": snap["version"] + 1,  # nominal: assigned for real at publish
            "parent": snap["version"],
            "n_buckets": snap["n_buckets"],
            **_partition_fields(snap),
            "schema": new_schema.to_json() if new_schema else snap["schema"],
            "manifests": manifests,
            "properties": dict(snap["properties"]),
        }
        record = {
            "stage_id": stage_id,
            "base_version": snap["version"],
            "audit_snapshot": audit_snap,
            "audit_manifests": written,  # fresh paths; safe to delete on cleanup
            "kwargs": {
                "add_files": add_files or [],
                "remove_buckets": sorted(remove_buckets) if remove_buckets else None,
                "remove_paths": sorted(remove_paths) if remove_paths else None,
                "batch_id": batch_id,
                "writer_id": writer_id,
                "lineage": lineage,
                "extra_props": extra_props,
                "new_schema": new_schema.to_json() if new_schema else None,
                "metrics": metrics,
                "writer_epoch": writer_epoch,
            },
        }
        # atomic marker publish (tmp + rename — uuid ids can't collide, so
        # no exclusivity needed): a crash mid-write must never leave a
        # truncated stage-*.json that wedges stages()/vacuum() forever
        path = os.path.join(self.meta_dir, f"stage-{stage_id}.json")
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.replace(tmp, path)
        return stage_id

    def _load_stage(self, stage_id: str) -> dict:
        path = os.path.join(self.meta_dir, f"stage-{stage_id}.json")
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            raise KeyError(f"no such stage: {stage_id}") from None

    def stages(self) -> list[dict]:
        """All unpublished stages (stage_id, base_version, batch_id)."""
        out = []
        for fn in sorted(os.listdir(self.meta_dir)):
            if fn.startswith("stage-") and fn.endswith(".json"):
                try:
                    rec = self._load_stage(fn[len("stage-"):-len(".json")])
                except KeyError:
                    continue  # published/aborted between listdir and load
                out.append({
                    "stage_id": rec["stage_id"],
                    "base_version": rec["base_version"],
                    "batch_id": rec["kwargs"].get("batch_id"),
                })
        return out

    def read_stage(self, spark: SparkSession, stage_id: str, **read_kw) -> DataFrame:
        """The table AS IF the stage were published — the audit surface.
        Full read() semantics (MoR resolve, pruning, schema reconciliation);
        accepts read()'s keyword args."""
        rec = self._load_stage(stage_id)
        return self.read(spark, _snap=rec["audit_snapshot"], **read_kw)

    def _cleanup_stage(self, rec: dict) -> None:
        for rel in rec.get("audit_manifests", []):
            try:
                os.remove(os.path.join(self.root, rel))
            except OSError:
                pass
        try:
            os.remove(os.path.join(self.meta_dir, f"stage-{rec['stage_id']}.json"))
        except OSError:
            pass

    def publish_stage(self, stage_id: str, max_retries: int = 5,
                      missing_ok: bool = False) -> dict:
        """Atomically publish an audited stage. Exactly-once when the stage
        carries a batch_id: a crash after the commit but before the marker
        cleanup makes re-publish a ledger skip, never a double-apply.
        ``missing_ok=True`` treats a vanished marker as already settled
        (published or aborted by a racing publisher) — the contract a
        multi-process audit service wants; the default raises KeyError so a
        typo'd stage_id fails loudly."""
        try:
            rec = self._load_stage(stage_id)
        except KeyError:
            if missing_ok:
                return self.snapshot()
            raise
        kw = rec["kwargs"]
        batch_id, writer_id = kw.get("batch_id"), kw.get("writer_id")
        # a shortcut for a re-publish after a crash (it also needs no
        # base snapshot, which vacuum may have expired since): exactly-once
        # itself is commit()'s ledger check, atomic with the pointer swap
        if batch_id is not None and self.is_committed(batch_id, writer_id):
            self._cleanup_stage(rec)
            return self.snapshot()
        is_append = not kw["remove_buckets"] and not kw["remove_paths"]
        snap = self.commit_with_retry(
            add_files=kw["add_files"] or None,
            remove_buckets=set(kw["remove_buckets"]) if kw["remove_buckets"] else None,
            remove_paths=set(kw["remove_paths"]) if kw["remove_paths"] else None,
            batch_id=batch_id,
            writer_id=writer_id,
            lineage=kw.get("lineage"),
            extra_props=kw.get("extra_props"),
            new_schema=TableSchema.from_json(kw["new_schema"])
            if kw.get("new_schema") else None,
            metrics=kw.get("metrics"),
            writer_epoch=kw.get("writer_epoch"),
            # a REWRITE stage validates against the version it was computed
            # from — the overlap walk then covers every commit that landed
            # during the audit (publishing against "current" would silently
            # drop an interleaved commit's rows from the removed buckets).
            # Appends commute; they publish against whatever is current —
            # EXCEPT evolving appends: new_schema was folded from the
            # stage-time base, so the schema-race guard must anchor there,
            # or a schema change landing during the audit window would be
            # silently erased by the stale fold.
            expect_version=rec["base_version"]
            if (not is_append or kw.get("new_schema")) else None,
            max_retries=max_retries,
        )
        self._cleanup_stage(rec)
        return snap

    def abort_stage(self, stage_id: str) -> None:
        """Drop an audited-and-rejected stage: its manifests go now, its
        data files become orphans that ``vacuum`` reclaims after the grace
        window. The table chain is untouched — readers never saw it."""
        self._cleanup_stage(self._load_stage(stage_id))

    def history(self, spark: SparkSession) -> DataFrame:
        """Commit history of the retained snapshots (Iceberg
        ``table.history()`` analog): one row per version with its parent,
        touched-bucket count, file/row totals, ledger high-water mark and
        schema version — recovered purely from the immutable snapshot
        metadata, O(retained versions × buckets)."""
        rows = []
        oldest = self.oldest_retained_version()
        for v in range(oldest, self.current_version() + 1):
            snap = self.snapshot(v)
            files = self.files(snap=snap)
            props = snap.get("properties", {})
            parent = snap.get("parent")
            rows.append({
                "version": v,
                "parent": parent,
                # the oldest retained version's parent may be expired —
                # its diff is unrecoverable, report its full manifest set
                "touched_buckets": len(self._touched_buckets(snap))
                if parent is not None and parent >= oldest else len(snap["manifests"]),
                "n_files": len(files),
                "n_rows": int(sum(f["rows"] for f in files)),
                "n_delta_files": sum(1 for f in files if f.get("delta")),
                "max_batch_id": props.get("max_batch_id"),
                "schema_version": TableSchema.from_json(snap["schema"]).schema_version,
                "committed_at": snap.get("committed_at"),
            })
        return spark.createDataFrame(
            rows,
            "version int, parent int, touched_buckets int, n_files int, "
            "n_rows bigint, n_delta_files int, max_batch_id bigint, "
            "schema_version int, committed_at double",
        )

    def version_as_of(self, ts: float) -> int:
        """Latest retained version committed at or before wall-clock ``ts``
        (Iceberg snapshot-as-of-timestamp analog; epoch seconds, or a
        datetime / ISO string). ``committed_at`` is stamped at manifest
        WRITE time so it is monotone over versions — including across a
        rollback, whose restoring snapshot gets its own stamp."""
        import datetime as _dt

        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts).timestamp()
        elif isinstance(ts, _dt.datetime):
            ts = ts.timestamp()
        best = None
        for v in range(self.oldest_retained_version(), self.current_version() + 1):
            at = self.snapshot(v).get("committed_at")
            if at is not None and at <= ts:
                best = v
        if best is None:
            raise VersionVacuumedError(
                f"no retained snapshot committed at or before {ts} "
                f"(oldest retained: v{self.oldest_retained_version()})"
            )
        return best

    def row_count(self, spark: SparkSession | None = None,
                  version: int | None = None) -> int:
        """Live-row count. O(metadata) when the snapshot provably has no
        delta files and no tombstones (base rows are then exactly the live
        rows, and manifest entries carry per-file row counts); otherwise an
        exact Spark count through ``read`` — which needs ``spark``."""
        snap = self.snapshot(version)
        files = self.files(snap=snap)
        resolve_free = not any(f.get("delta") for f in files) and not any(
            f.get("has_tombstone", True) for f in files
        )
        if resolve_free:
            return int(sum(f["rows"] for f in files))
        if spark is None:
            raise ValueError(
                "row_count needs a SparkSession: this snapshot has deltas "
                "or possible tombstones, so the count requires a resolve"
            )
        return self.read(spark, version=version).count()

    def read_metrics(self, spark: SparkSession) -> DataFrame | None:
        """Per-batch ingest metrics (events applied/failed, rows merged,
        ingest lag, phase timings...) as a DataFrame — the queryable form of
        the reference's applied/failed counters (files/load.py:23-30)."""
        p = os.path.join(self.root, "_metrics", "metrics.jsonl")
        if not os.path.exists(p):
            return None
        return spark.read.json(p)

    def _append_metrics(self, metrics: dict) -> None:
        mdir = os.path.join(self.root, "_metrics")
        os.makedirs(mdir, exist_ok=True)
        with open(os.path.join(mdir, "metrics.jsonl"), "a") as f:
            f.write(json.dumps(metrics) + "\n")

    # ------------------------------------------------------------------ read
    def read(
        self,
        spark: SparkSession,
        buckets: set[int] | None = None,
        key_min: str | None = None,
        key_max: str | None = None,
        with_system_cols: bool = False,
        version: int | None = None,
        schema_override: TableSchema | None = None,
        include_deleted: bool = False,
        keys: list[str] | None = None,
        col_ranges: dict[str, tuple] | None = None,
        parts: set[str] | dict[int, set[str] | None] | None = None,
        resolve_deltas: bool = True,
        _snap: dict | None = None,
        _delta_only: bool = False,
        _report: dict | None = None,
    ) -> DataFrame:
        """Snapshot read with bucket + key-range file pruning and
        id-based schema reconciliation (rename/add/widen safe).
        ``schema_override`` reads old files AS an evolved (uncommitted) schema.
        Tombstone rows are hidden unless ``include_deleted``.

        Merge-on-read: when any selected file is a delta (written by the MoR
        ingest fast path), the scan keeps every row version and resolves one
        live row per key with the same LWW ``max_by`` the merge uses —
        tombstones are filtered only *after* the resolve (a delta delete must
        beat an older base row). Base-only reads keep the fast path: the
        tombstone predicate is pushed into the parquet scan, no shuffle."""
        snap = _snap or self.snapshot(version)
        schema = schema_override or TableSchema.from_json(snap["schema"])
        rep = _report if _report is not None else {}
        # bucket pruning happens at the METADATA level too: only the selected
        # buckets' manifest files are opened
        files = self.files(snap=snap, buckets=buckets)
        rep["buckets_total"] = len(snap["manifests"])
        rep["buckets_selected"] = (
            len({m["bucket"] for m in snap["manifests"]} & set(buckets))
            if buckets is not None else rep["buckets_total"]
        )
        rep["files_in_selected_buckets"] = len(files)
        pspec = snap.get("partition_spec")
        spec_by_id = _specs_by_id(snap)
        if pspec or spec_by_id:
            # Partition-level file elimination — the FIRST pruning axis a
            # 100 TB table uses, and unlike col_stats it is EXACT and applies
            # to merge-on-read delta files too: the partition value derives
            # from a key component (lakehouse.partition contract), so every
            # row version of a key — including tombstones — shares one
            # partition, and dropping an out-of-range partition can never
            # hide a newer version or a delete. Bounds come from an explicit
            # ``parts`` set and/or from a ``col_ranges`` entry on the
            # partition source column (the residual row filter below keeps
            # the result exact within the boundary partitions). Underivable
            # bounds (``part_value`` → None) leave that side open —
            # conservative, never wrong.
            #
            # SPEC EVOLUTION: each file is pruned under ITS OWN spec (the
            # ``spec_id`` stamped at write time; missing = spec 0). Mixing
            # granularities is exact, not just conservative: every row
            # version of a key shares one partition-source VALUE (it is a
            # key component), and a value inside [lo, hi] stays inside the
            # coarsened bounds under every monotone transform — so all of
            # an in-range key's files survive under all specs, while any
            # stale version kept by a coarser spec is removed by the
            # residual row filter.
            rep["partitions_total"] = len({f.get("part") for f in files})
            if parts is not None and not isinstance(parts, dict):
                # plain set: values interpreted under the current default
                # spec; other specs' files are kept (pruning stays a hint)
                parts = {
                    int(snap["default_spec_id"]) if spec_by_id is not None
                    else 0: set(parts)
                }
            all_specs: dict[int, dict | None] = (
                spec_by_id if spec_by_id is not None else {0: pspec}
            )
            bounds: dict[int, tuple] = {}
            for sid, sp in all_specs.items():
                plo = phi = None
                if sp is not None and col_ranges:
                    pfld = schema.field_by_id(int(sp["field_id"]))
                    if pfld.name in col_ranges:
                        lo, hi = col_ranges[pfld.name]
                        plo = _partition.part_value(lo, sp["transform"])
                        phi = _partition.part_value(hi, sp["transform"])
                bounds[sid] = (plo, phi)

            def _keep_part(f: dict) -> bool:
                if f.get("part") is None:
                    return True  # unpartitioned-era/unknown: keep
                sid = int(f.get("spec_id", 0))
                if all_specs.get(sid) is None:
                    return True  # unknown spec: conservative, never wrong
                plo, phi = bounds.get(sid, (None, None))
                pset = parts.get(sid) if parts is not None else None
                return ((pset is None or f["part"] in pset)
                        and (plo is None or f["part"] >= plo)
                        and (phi is None or f["part"] <= phi))

            if parts is not None or any(b != (None, None) for b in bounds.values()):
                files = [f for f in files if _keep_part(f)]
            rep["partitions_selected"] = len({f.get("part") for f in files})
            rep["files_after_partition"] = len(files)
        elif parts is not None:
            raise ValueError("parts= requires a partitioned table "
                             "(partition_spec at create or set_partition_spec)")
        if key_min is not None:
            files = [f for f in files if f["max_key"] is None or f["max_key"] >= key_min]
        if key_max is not None:
            files = [f for f in files if f["min_key"] is None or f["min_key"] <= key_max]
        rep["files_after_key_range"] = len(files)
        if keys is not None:
            # bloom file pruning (point lookups): a sidecar answering
            # "definitely none of these keys" drops the file before any
            # parquet open. No false negatives, so dropping is exact — a
            # dropped base/delta file contributes no row version of any
            # looked-up key, and rows of OTHER keys are filtered by the
            # caller anyway. Files without a sidecar are kept.
            # Composite keys probe the LEADING component — the one the
            # sidecar was built from (str() of the parquet values; probing
            # str(tuple) would hash a different byte string than the build
            # side and silently drop every file — a bloom FALSE NEGATIVE).
            lead_keys = [
                k[0] if isinstance(k, (tuple, list)) else k for k in keys
            ]
            files = [f for f in files if self._bloom_maybe(f, lead_keys)]
        rep["files_after_bloom"] = len(files)
        # the MoR-resolve bucket split and the stats-pruning guard below
        # MUST agree on this set for the pruning soundness argument to
        # hold; pruning never removes a delta-bucket file, so computing it
        # once up front is exact for both uses
        delta_buckets = {f["bucket"] for f in files if f.get("delta")}
        if col_ranges:
            # Column-stats file pruning (Iceberg manifest-stats analog):
            # ``{column: (lo, hi)}``, either bound None for open ends; the
            # same ranges are re-applied as a residual row filter below, so
            # the result is exactly "live rows within every range".
            # SOUNDNESS under multiple row versions: pruning is applied
            # only to files in base-only buckets. A base bucket holds at
            # most ONE version per key (CoW rewrites the whole bucket), so
            # a pruned file cannot hide a newer out-of-range version whose
            # key has an older in-range version elsewhere — in a
            # delta-containing bucket it could (the stale row would
            # resurrect past the LWW resolve), so those buckets keep every
            # file and rely on the residual filter alone. Stats are keyed
            # by field ID (rename-safe); a file with no stats for a column
            # is kept (conservative).
            range_ids: dict[str, tuple] = {}
            for cname, bounds in col_ranges.items():
                if cname == "_event_ts":
                    if not with_system_cols:
                        raise ValueError(
                            "col_ranges on _event_ts requires with_system_cols=True"
                        )
                    sid, is_ts = "_event_ts", True
                else:
                    fld = next((f for f in schema.fields if f.name == cname), None)
                    if fld is None:
                        raise ValueError(f"unknown column {cname!r} in col_ranges")
                    sid, is_ts = str(fld.id), fld.type == "timestamp"
                # stats-comparable bounds: stored timestamp stats are
                # fixed-width strings, so a str/datetime bound must take the
                # same encoding or an exact-boundary row could mis-prune
                range_ids[sid] = tuple(_norm_bound(b, is_ts) for b in bounds)
            files = [
                f for f in files
                if f["bucket"] in delta_buckets or _stats_intersect(f, range_ids)
            ]
        rep["files_after_col_stats"] = len(files)
        rep["files_scanned"] = len(files)
        rep["rows_in_scanned_files"] = sum(int(f["rows"]) for f in files)
        rep["delta_buckets"] = len(delta_buckets)
        rep["delta_files"] = sum(1 for f in files if f.get("delta"))

        extra = SYS_COLS if with_system_cols else []
        target_struct = schema.spark_struct(extra=extra)
        if not files:
            return spark.createDataFrame([], schema=target_struct)
        need_tombstone_filter = not include_deleted

        # MoR resolve is BUCKET-LOCAL: only buckets that actually contain a
        # delta file pay the LWW groupBy (shuffling just their rows); every
        # base-only bucket keeps the zero-shuffle path with the tombstone
        # predicate pushed into the parquet scan. Buckets partition the key
        # space, so resolving each class independently is exact. In steady
        # state (compaction folds deltas in) the resolve touches only the
        # recently-written tail, not the table.
        base_files = [f for f in files if f["bucket"] not in delta_buckets]
        resolve_files = [f for f in files if f["bucket"] in delta_buckets]
        if _delta_only:
            # minor-compaction scan: ONLY the delta files' row versions
            # (folding them per key is sound because the LWW max is
            # associative; base rows must stay out or the "fold" would
            # copy the base into the new delta)
            if resolve_deltas:
                raise ValueError("_delta_only requires resolve_deltas=False")
            base_files, resolve_files = [], [f for f in resolve_files if f.get("delta")]
            rep["files_scanned"] = len(resolve_files)
            rep["rows_in_scanned_files"] = sum(int(f["rows"]) for f in resolve_files)
            if not resolve_files:
                return spark.createDataFrame([], schema=target_struct)

        def scan(file_list: list[dict], need_sys: bool, push_tombstone: bool) -> DataFrame:
            # group files by write-time schema fingerprint → one scan per
            # group. The PHYSICAL column list is part of the fingerprint:
            # a multi-file spark.read.parquet takes its schema from ONE
            # footer, so mixing files with and without a system column
            # (e.g. bases without _deleted + deltas with it) would silently
            # drop that column for every file in the group — a tombstone
            # that stops deleting. Old manifests without phys_cols group
            # together, preserving their previous behavior.
            groups: dict[str, list[dict]] = {}
            for f in file_list:
                fp = json.dumps(
                    [f["name_by_id"], f["types_by_id"],
                     f.get("nested_by_id") or {},
                     sorted(f.get("phys_cols") or [])],
                    sort_keys=True,
                )
                groups.setdefault(fp, []).append(f)
            parts: list[DataFrame] = []
            for grp in groups.values():
                paths = [os.path.join(self.root, f["path"]) for f in grp]
                # supply the physical schema when the manifest carries enough
                # to reconstruct it — skips the driver's footer-inference
                # read per group per read() (measured ~0.13 s/group on a
                # 128-file scan; a many-group evolved table pays it per
                # group). The write-time name_by_id/types_by_id map every
                # physical column; system cols have fixed types. Any
                # unmapped column (pre-stats manifests) falls back to
                # inference — never guess a type.
                phys_schema = None
                pc = grp[0].get("phys_cols")
                if pc is not None:
                    by_phys = {v: k for k, v in grp[0]["name_by_id"].items()}
                    sys_t = dict(SYS_COLS)
                    fields = []
                    for name in pc:
                        if name in sys_t:
                            fields.append(T.StructField(name, sys_t[name]))
                        elif name in by_phys:
                            fields.append(T.StructField(
                                name,
                                parse_type(grp[0]["types_by_id"][by_phys[name]]),
                            ))
                        else:
                            fields = None  # unknown physical column
                            break
                    if fields is not None:
                        phys_schema = T.StructType(fields)
                reader = spark.read
                if phys_schema is not None:
                    reader = reader.schema(phys_schema)
                raw = reader.parquet(*paths)
                if push_tombstone and "_deleted" in raw.columns:
                    # pushed down to the parquet scan (boolean predicate)
                    raw = raw.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
                name_by_id = grp[0]["name_by_id"]
                file_nested = grp[0].get("nested_by_id") or {}
                cols = []
                for fld in schema.fields:
                    phys = name_by_id.get(str(fld.id))
                    tgt_t = parse_type(fld.type)
                    if phys is not None and phys in raw.columns:
                        fmap = file_nested.get(str(fld.id))
                        cur = {
                            str(nid): [p, t]
                            for nid, (p, t) in _flatten_nested(fld.nested).items()
                        } if fld.nested else None
                        if fld.nested and fmap is not None and fmap != cur:
                            # struct evolved since these files were written:
                            # rebuild member-by-member through the write-time
                            # id→path map (rename keeps values, add backfills
                            # the member's initial-default, widen casts) —
                            # a plain cast would be positional and wrong
                            cols.append(
                                _rebuild_struct_by_id(
                                    F.col(phys), fld.nested, fmap
                                ).alias(fld.name)
                            )
                            continue
                        cols.append(F.col(phys).cast(tgt_t).alias(fld.name))
                    else:
                        # column added after these files were written: its
                        # initial-default (Iceberg v3 semantics) backfills
                        # metadata-only — per FILE, so rows written after
                        # the add with an explicit null stay null
                        dflt = getattr(fld, "initial_default", None)
                        cols.append(F.lit(dflt).cast(tgt_t).alias(fld.name))
                if need_sys:
                    for n, t in SYS_COLS:
                        cols.append(
                            (F.col(n) if n in raw.columns else F.lit(None)).cast(t).alias(n)
                        )
                parts.append(raw.select(cols))
            return reduce(DataFrame.unionByName, parts)

        def _restrict(df: DataFrame) -> DataFrame:
            """Exact key restriction, applied BEFORE any MoR resolve — a
            filter on the group key commutes with per-key LWW resolution,
            so only the restricted keys' row versions are shuffled. Small
            lists inline as a pushable predicate; large lists broadcast-
            semi-join instead, so the plan never embeds thousands of
            literals (an isin of 2k strings measured ~2.5x slower than the
            equivalent semi-join)."""
            if keys is None:
                return df
            knames = schema.key_names
            if len(knames) == 1 and len(keys) <= 64:
                return df.filter(F.col(knames[0]).isin(list(keys)))
            if len(knames) > 1 and len(keys) <= 64:
                # tuple IN: struct(a, b) ISIN ((x1, y1), ...) — same
                # pushability class as the scalar isin
                tuples = [
                    F.struct(*[F.lit(v) for v in (k if isinstance(k, (tuple, list)) else (k,))])
                    for k in keys
                ]
                return df.filter(F.struct(*[F.col(n) for n in knames]).isin(*tuples))
            ktypes = [
                parse_type(schema.field_by_id(i).type) for i in schema.key_field_ids
            ]
            kdf = spark.createDataFrame(
                [tuple(k) if isinstance(k, (tuple, list)) else (k,) for k in keys],
                T.StructType([
                    T.StructField(n, t) for n, t in zip(knames, ktypes)
                ]),
            )
            return df.join(F.broadcast(kdf), knames, "left_semi")

        outs: list[DataFrame] = []
        if base_files:
            outs.append(
                _restrict(scan(base_files, need_sys=with_system_cols,
                               push_tombstone=need_tombstone_filter))
            )
        if resolve_files and not resolve_deltas:
            # RAW multi-version scan (``resolve_deltas=False``): every row
            # version of the delta buckets comes back as-is, system columns
            # forced on (the caller is a resolver — field-granular patch
            # tables, compaction planners — and needs the coordinates).
            # Tombstone rows are included regardless of include_deleted:
            # hiding a version would corrupt the caller's own resolve.
            if not with_system_cols:
                raise ValueError(
                    "resolve_deltas=False requires with_system_cols=True "
                    "(raw row versions are meaningless without coordinates)"
                )
            if col_ranges:
                raise ValueError(
                    "resolve_deltas=False is incompatible with col_ranges: "
                    "a range filter over raw row versions can drop a key's "
                    "newest version and resurrect a stale in-range value at "
                    "the caller's resolve — filter after resolving instead"
                )
            outs.append(
                _restrict(scan(resolve_files, need_sys=True, push_tombstone=False))
            )
        elif resolve_files:
            knames = schema.key_names
            if any(f.name.startswith("_seq_") for f in schema.fields):
                # partial-update (sequence-group) table: a row-granular LWW
                # resolve over its deltas would silently merge at the wrong
                # granularity — per-field winners must be computed by
                # operators.patch.read_patch / compact_patch instead
                raise ValueError(
                    "this table has per-field sequence columns and delta "
                    "files: row-LWW resolve would be wrong — read it with "
                    "operators.patch.read_patch (keys=... for point "
                    "lookups), or compact_patch first"
                )
            rs = _restrict(scan(resolve_files, need_sys=True, push_tombstone=False))
            others = [c for c in rs.columns if c not in knames]
            # null ordering state (pre-MoR base rows) sorts below any real
            # (ts, lsn) — same EPOCH/-1 floor the merge uses for pseudo-rows
            order = F.struct(
                F.coalesce(F.col("_event_ts"), F.lit("1970-01-01 00:00:00").cast("timestamp")),
                F.coalesce(F.col("_lsn"), F.lit(-1).cast("bigint")),
            )
            resolved = (
                rs.groupBy(*knames)
                .agg(F.max_by(F.struct(*[F.col(c) for c in others]), order).alias("_w"))
                .select(*knames, "_w.*")
            )
            if need_tombstone_filter:
                resolved = resolved.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
            if not with_system_cols:
                resolved = resolved.drop(*SYS_NAMES)
            outs.append(resolved)
        out = reduce(DataFrame.unionByName, outs)
        if col_ranges:
            # residual row filter (also reaches the parquet scan for the
            # base path via pushdown): rows with NULL in a ranged column
            # drop, standard predicate semantics
            for cname, (lo, hi) in col_ranges.items():
                if lo is not None:
                    out = out.filter(F.col(cname) >= F.lit(lo))
                if hi is not None:
                    out = out.filter(F.col(cname) <= F.lit(hi))
        return out

    def _bloom_maybe(self, entry: dict, keys: list[str]) -> bool:
        """True unless this file's bloom sidecar proves none of ``keys`` is
        present. Sidecars are cached per path (they are immutable: a rewrite
        produces a new file path, never mutates an old sidecar)."""
        if not entry.get("bloom"):
            return True
        from . import bloom as _bloom

        path = entry["path"]
        cache = getattr(self, "_bloom_cache", None)
        if cache is None:
            cache = self._bloom_cache = {}
        bf = cache.get(path)
        if bf is None:
            try:
                with open(os.path.join(self.root, path) + ".bloom", "rb") as fh:
                    bf = _bloom.loads(fh.read())
            except OSError:
                return True  # sidecar missing/unreadable → never prune
            if len(cache) > 4096:
                cache.clear()  # bounded driver memory
            cache[path] = bf
        return _bloom.maybe_contains_any(bf, keys)

    def scan_report(self, spark: SparkSession, **read_kw) -> dict:
        """Metadata-level pruning report for a ``read`` with the same
        arguments — which files each pruning stage kept — WITHOUT running
        the scan (plan construction only; ``read`` is lazy).

        Keys: ``buckets_total``/``buckets_selected`` (manifest-level bucket
        pruning), ``files_in_selected_buckets`` →
        ``files_after_key_range`` → ``files_after_bloom`` →
        ``files_after_col_stats`` (each stage monotonically non-increasing),
        ``files_scanned``/``rows_in_scanned_files`` (what the parquet scan
        will actually open), ``delta_buckets``/``delta_files`` (how much of
        the read pays the MoR resolve). The operational answer to "did my
        point lookup actually prune?" at 100 TB — if ``files_scanned`` is
        O(table), the layout (blooms, clustering, bucket count) needs work,
        and this shows which stage failed to bite."""
        rep: dict = {}
        self.read(spark, _report=rep, **read_kw)
        return rep

    def typed_key_buckets(
        self, spark: SparkSession, keys: list
    ) -> tuple[list, set[int], object, object]:
        """Typed key values, the buckets they hash into, and their
        [min, max] bounds — the shared probe behind every point-lookup
        path (``read_keys``, ``operators.patch.read_patch(keys=...)``).

        Uses the same pmod(xxhash64) the writer used — computed Spark-side
        so the driver never re-implements the hash (one tiny local job).
        The probe MUST hash at the key column's declared type:
        xxhash64("57") != xxhash64(57L), so hashing a stringified int key
        would prune to the wrong buckets and silently drop rows on
        non-string keys. The TYPED values come back too: they feed the
        min/max bounds, bloom probes and exact filter, so a caller passing
        "57" against a bigint key behaves like 57."""
        nb = self.n_buckets()
        schema = self.schema()
        ktypes = [parse_type(schema.field_by_id(i).type) for i in schema.key_field_ids]
        kn = len(ktypes)
        knames = [f"k{j}" for j in range(kn)]

        def _parts(k):
            p = tuple(k) if isinstance(k, (tuple, list)) else (k,)
            if len(p) != kn:
                raise ValueError(
                    f"key lookup needs {kn} components ({schema.key_names}), got {p!r}"
                )
            return tuple(str(v) if v is not None else None for v in p)

        kdf = spark.createDataFrame(
            [_parts(k) for k in keys], ", ".join(f"{n} string" for n in knames)
        ).select(*[F.col(n).cast(t).alias(n) for n, t in zip(knames, ktypes)])
        rows = kdf.select(*knames, bucket_expr(knames, nb).alias("b")).distinct().collect()
        buckets = {r["b"] for r in rows}
        if kn == 1:
            vals = [r["k0"] for r in rows if r["k0"] is not None]
            lo, hi = (min(vals), max(vals)) if vals else (None, None)
        else:
            vals = [
                tuple(r[n] for n in knames) for r in rows
                if all(r[n] is not None for n in knames)
            ]
            # [min, max] bounds cover the LEADING component — the one the
            # per-file key stats index
            leads = [v[0] for v in vals]
            lo, hi = (min(leads), max(leads)) if leads else (None, None)
        return vals, buckets, lo, hi

    def read_keys(self, spark: SparkSession, keys: list[str],
                  with_system_cols: bool = False) -> DataFrame:
        """Point lookups: open only the buckets the keys hash into (plus
        per-file key min/max and bloom-sidecar pruning inside them — the
        blooms are what bites on high-cardinality keys, where every file's
        [min,max] spans the key space), then filter exactly.
        The metadata walk is O(|keys| buckets' manifests), never the table.
        MoR-correct: a delta-containing bucket still resolves LWW before
        the key filter (resolve happens in ``read``)."""
        if not keys:
            return self.read(spark, buckets=set(), with_system_cols=with_system_cols)
        schema = self.schema()
        knames = schema.key_names
        vals, buckets, lo, hi = self.typed_key_buckets(spark, keys)
        # partitioned table: the partition value derives from a key
        # component, so a point lookup knows its exact partitions up front
        # (driver-side strftime on the typed values — no extra job); any
        # underivable value disables the axis (conservative)
        snap0 = self.snapshot()
        spec_by_id = _specs_by_id(snap0)
        all_specs = (
            spec_by_id if spec_by_id is not None
            else ({0: snap0["partition_spec"]}
                  if snap0.get("partition_spec") else None)
        )
        parts: dict[int, set | None] | None = None
        if all_specs and vals:
            # per-spec partition sets: a file is pruned under the spec IT
            # was written with, so the lookup derives each key's partition
            # value under EVERY spec in the table's history (exact per
            # spec — all of a key's row versions share the source value)
            parts = {}
            for sid, sp in all_specs.items():
                if sp is None:
                    parts[sid] = None  # unpartitioned era: no axis
                    continue
                idx = schema.key_field_ids.index(int(sp["field_id"]))
                pvals = {
                    _partition.part_value(
                        v[idx] if isinstance(v, tuple) else v, sp["transform"]
                    )
                    for v in vals
                }
                parts[sid] = None if None in pvals else pvals
            if all(v is None for v in parts.values()):
                parts = None
        df = self.read(
            spark, buckets=buckets, key_min=lo, key_max=hi,
            with_system_cols=with_system_cols, keys=vals or keys, parts=parts,
        )
        want = vals or keys
        if len(knames) == 1:
            return df.filter(F.col(knames[0]).isin(list(want)))
        tuples = [
            F.struct(*[F.lit(v) for v in (k if isinstance(k, (tuple, list)) else (k,))])
            for k in want
        ]
        return df.filter(F.struct(*[F.col(n) for n in knames]).isin(*tuples))

    # --------------------------------------------------------- change feed
    def _window_candidate_keys(
        self, spark: SparkSession, from_v: int, to_v: int, cap: int
    ) -> list | None:
        """Candidate changed keys for the (from_v, to_v] window, from
        WINDOW-ADDED files only — a metadata walk plus an O(window-writes)
        key-column scan, never a table scan.

        Sound by the SYMMETRIC DIFFERENCE of the endpoint file sets: a
        snapshot's state is a deterministic resolve over its referenced
        files, so if every file containing a key is referenced by BOTH
        snapshots, the key's row-version multiset — hence its resolved
        state — is identical. A changed key therefore appears in some file
        referenced by exactly one endpoint. This covers every mutation
        shape at once: upserts/tombstones (new files), rollback
        (de-referenced files), tombstone expiry and compaction (both
        sides of the rewrite). Returns [] when the endpoints reference the
        same files, or None — caller falls back to the full snapshot
        diff — when the difference is too large for a key-list plan
        (candidate rows > 50x cap or distinct keys > cap, e.g. after bulk
        rewrites) or a snapshot was vacuumed."""
        try:
            old_files = {f["path"]: f for f in self.files(snap=self.snapshot(from_v))}
            new_files = {f["path"]: f for f in self.files(snap=self.snapshot(to_v))}
        except VersionVacuumedError:
            return None
        sym = [f for p, f in old_files.items() if p not in new_files]
        sym += [f for p, f in new_files.items() if p not in old_files]
        if not sym:
            return []
        if sum(f.get("rows", 0) for f in sym) > 50 * cap:
            return None
        # the key columns' physical names can differ per file (renames):
        # resolve by field id, group files by their name-tuple, one
        # column-pruned scan per group
        kids = [
            str(i)
            for i in TableSchema.from_json(self.snapshot(to_v)["schema"]).key_field_ids
        ]
        by_names: dict[tuple, list[str]] = {}
        for f in sym:
            nbi = f.get("name_by_id") or {}
            names = tuple(nbi.get(k) for k in kids)
            if any(n is None for n in names):
                return None
            by_names.setdefault(names, []).append(os.path.join(self.root, f["path"]))
        aliases = [f"k{j}" for j in range(len(kids))]
        kdf = None
        for names, paths in by_names.items():
            part = spark.read.parquet(*paths).select(
                *[F.col(n).alias(a) for n, a in zip(names, aliases)]
            )
            kdf = part if kdf is None else kdf.union(part)
        rows = kdf.distinct().limit(cap + 1).collect()
        if len(rows) > cap:
            return None
        if len(kids) == 1:
            return [r["k0"] for r in rows]
        return [tuple(r[a] for a in aliases) for r in rows]

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        include_preimage: bool = False,
        max_candidate_keys: int = 20_000,
    ) -> DataFrame:
        """Change-data-feed between two snapshots (Iceberg incremental scan /
        Delta CDF analog): one row per key whose live state differs, with
        ``_change_type`` ∈ {insert, update, delete} and the *new* state's
        logical columns (NULL payload for deletes).

        Works because every row carries its LWW coordinate ``(_event_ts,
        _lsn)``: a key changed between versions iff its resolved coordinate
        (or liveness) changed — no log replay needed, just a key-join of the
        two snapshot reads (both sides bucket-pruned and, for merge-on-read
        versions, LWW-resolved by ``read``). Downstream CDC consumers chain
        from this the same way this engine tails an upstream binlog.

        ``include_preimage`` adds ``_pre_<col>`` columns carrying the OLD
        payload (Delta CDF's update_preimage analog, folded into the same
        row): NULL for inserts, the from-side values for updates/deletes —
        exactly what incremental view maintenance needs to retract a row's
        old contribution (see ``operators/incremental.py``). Old columns are
        matched to new names by field id, so renames/widens between the two
        versions are safe; a column added after ``from_version`` has a NULL
        preimage.

        Scale path: the diff is pruned to CANDIDATE KEYS harvested from
        window-added files (``_window_candidate_keys``) — both snapshot
        reads become bucket+minmax+bloom-pruned point scans filtered to the
        key list, so a small sync window against a huge table costs
        O(window), not O(table). Windows too large for a key list (bulk
        rewrites, rebucket, vacuumed history) fall back to the full
        snapshot diff automatically; ``max_candidate_keys=0`` forces the
        full diff."""
        if to_version is None:
            to_version = self.current_version()
        cand: list | None = None
        if max_candidate_keys:
            cand = self._window_candidate_keys(
                spark, from_version, to_version, max_candidate_keys
            )
        # the key column may have been RENAMED between the two versions —
        # resolve each side's key name from that version's own schema (ids
        # are stable) and alias both to the new-side name before the join
        to_schema = TableSchema.from_json(self.snapshot(to_version)["schema"])
        knames = to_schema.key_names
        payload_fields = [
            f for f in to_schema.fields if f.id not in to_schema.key_field_ids
        ]
        dead = F.coalesce(F.col("_deleted"), F.lit(False))
        live = F.when(~dead, F.lit(True)).otherwise(F.lit(False))

        def side(version, alias):
            side_schema = TableSchema.from_json(self.snapshot(version)["schema"])
            by_id = side_schema.name_by_id()
            if cand is not None:
                # key-list plan: bloom file pruning + exact pre-resolve
                # restriction inside read() — or an instantly-empty side
                # when the window wrote nothing
                kw = {"keys": cand} if cand else {"buckets": set()}
            else:
                kw = {}
            df = self.read(
                spark, version=version, with_system_cols=True,
                include_deleted=True, **kw,
            )
            # payload selected by FIELD ID and emitted under the new-side
            # names/types, so both sides of the join line up across renames
            # and widens; fields the side predates become NULL
            payload = []
            for f in payload_fields:
                name = by_id.get(f.id)
                col = (
                    F.col(name).cast(parse_type(f.type)) if name is not None
                    else F.lit(None).cast(parse_type(f.type))
                )
                payload.append(col.alias(f.name))
            return df.select(
                *[
                    F.col(by_id[kid]).alias(kn)
                    for kid, kn in zip(to_schema.key_field_ids, knames)
                ],
                F.struct(
                    live.alias("live"), F.col("_event_ts"), F.col("_lsn"),
                    *payload,
                ).alias(alias),
            )

        old = side(from_version, "_o")
        new = side(to_version, "_n")
        j = old.join(new, on=knames, how="full_outer")
        o_live = F.coalesce(F.col("_o.live"), F.lit(False))
        n_live = F.coalesce(F.col("_n.live"), F.lit(False))
        same = (
            o_live
            & n_live
            & F.col("_o._event_ts").eqNullSafe(F.col("_n._event_ts"))
            & F.col("_o._lsn").eqNullSafe(F.col("_n._lsn"))
        )
        change = (
            F.when(~o_live & n_live, F.lit("insert"))
            # covers both a visible tombstone and a key whose tombstone was
            # already expired/compacted away within the window
            .when(o_live & ~n_live, F.lit("delete"))
            .when(o_live & n_live & ~same, F.lit("update"))
        )
        payload = [f.name for f in payload_fields]
        pre_cols = (
            [F.col(f"_o.{c}").alias(f"_pre_{c}") for c in payload]
            if include_preimage else []
        )
        out = j.select(
            *[F.col(kn) for kn in knames],
            change.alias("_change_type"),
            F.col("_n._event_ts").alias("_event_ts"),
            F.col("_n._lsn").alias("_lsn"),
            *[F.col(f"_n.{c}").alias(c) for c in payload],
            *pre_cols,
        )
        return out.filter(F.col("_change_type").isNotNull())

    # ------------------------------------------------------------------- dlq
    def dlq_partition(self, batch_id: int, writer_id: str | None = None) -> str:
        """Dead-letter partition path, namespaced per WRITER: concurrent
        writers (backfill + live tail) legitimately reuse batch ids — a
        batch-id-only path would make them share one Hadoop committer
        staging dir (task-commit crash) and then overwrite each other's
        captured rows."""
        return os.path.join(
            self.root, "_dlq",
            f"writer_id={writer_id or '_main'}", f"batch_id={batch_id}",
        )

    def write_dlq(self, df: DataFrame, batch_id: int,
                  writer_id: str | None = None) -> None:
        df.write.mode("overwrite").parquet(self.dlq_partition(batch_id, writer_id))

    def read_dlq(self, spark: SparkSession) -> DataFrame | None:
        import glob as _glob

        d = os.path.join(self.root, "_dlq")
        # enumerate real partition dirs (a drained writer leaves an empty
        # writer_id dir behind; an unmatched glob would make Spark throw),
        # skipping in-flight .tmp-* / .prev swap dirs from a replay rewrite
        # (tested on the BASENAME — a root path containing '.tmp-' must not
        # blind the reader)
        parts = sorted(
            p for p in _glob.glob(os.path.join(d, "writer_id=*", "batch_id=*"))
            if not os.path.basename(p).endswith(".prev")
            and ".tmp-" not in os.path.basename(p)
        )
        out = (
            spark.read.option("basePath", d).parquet(*parts) if parts else None
        )
        # pre-writer-namespace layout (_dlq/batch_id=N): surface those rows
        # WITHOUT mutating on read (reads must work concurrently with a
        # replay and on read-only mounts); migrate_legacy_dlq — called from
        # the single-owner replay loop — moves them for real
        legacy = sorted(_glob.glob(os.path.join(d, "batch_id=*")))
        if legacy:
            old = (
                spark.read.option("basePath", d).parquet(*legacy)
                .withColumn("writer_id", F.lit("_legacy"))
            )
            out = old if out is None else out.unionByName(old)
        return out

    def migrate_legacy_dlq(self) -> int:
        """Move pre-writer-namespace dead-letter partitions
        (``_dlq/batch_id=N``) under ``writer_id=_legacy`` so the recovery
        loop can process them. Called from ``replay_dlq`` (single-owner —
        NOT from reads, which must never mutate); ``_legacy`` rather than
        ``_main`` so the move can never land files in a partition an
        active writer also targets. Returns the number of dirs moved."""
        import glob as _glob

        d = os.path.join(self.root, "_dlq")
        legacy = sorted(_glob.glob(os.path.join(d, "batch_id=*")))
        if not legacy:
            return 0
        tgt_dir = os.path.join(d, "writer_id=_legacy")
        os.makedirs(tgt_dir, exist_ok=True)
        moved = 0
        for p in legacy:
            tgt = os.path.join(tgt_dir, os.path.basename(p))
            try:
                os.rename(p, tgt)
                moved += 1
            except OSError:
                if not os.path.isdir(p):
                    continue
                try:  # retry after a crashed partial move: merge files in
                    tag = uuid.uuid4().hex[:8]
                    for f in os.listdir(p):
                        if f.startswith(("_", ".")):  # _SUCCESS, .crc
                            os.remove(os.path.join(p, f))
                            continue
                        os.rename(os.path.join(p, f),
                                  os.path.join(tgt, f"legacy-{tag}-{f}"))
                    os.rmdir(p)
                    moved += 1
                except OSError:
                    pass  # leave for the next replay to retry
        return moved

    # --------------------------------------------------------------- compact
    def compact(
        self,
        spark: SparkSession,
        max_files_per_bucket: int = 1,
        expire_tombstones_below_lsn: int | None = None,
        max_buckets_per_run: int | None = None,
        target_rows_per_file: int | None = None,
        cluster_by: list[str] | None = None,
        cluster_mode: str = "linear",
        writer_id: str | None = None,
        writer_epoch: int | None = None,
    ) -> dict:
        """Rewrite fragmented buckets (and optionally expire tombstones older
        than the out-of-orderness horizon). Metadata-atomic like any commit;
        at scale this is the background maintenance job that keeps file
        counts O(buckets) and bounds tombstone storage.
        ``max_buckets_per_run`` caps one run's work to the worst offenders
        (incremental compaction — at 100 TB a maintenance tick must be
        bounded; repeated ticks converge because each rewrite resets its
        bucket's file count).
        ``target_rows_per_file`` bounds OUTPUT file size (Iceberg
        write.target-file-size analog): the rewrite splits each bucket at
        that many rows, and the fragmentation test allows
        ceil(bucket_rows/target) files so a bounded bucket is not
        re-compacted forever.
        ``cluster_by`` rewrites each bucket in that column sort order
        (Iceberg sort-order rewrite analog): with ``target_rows_per_file``
        splitting the bucket, consecutive files get near-disjoint manifest
        ``col_stats`` ranges, so ``read(col_ranges=...)`` prunes most of a
        compacted bucket."""
        if cluster_mode not in ("linear", "zorder"):
            raise ValueError(f"cluster_mode must be linear or zorder, got {cluster_mode!r}")
        if cluster_by:
            schema0 = self.schema()
            known = {f.name for f in schema0.fields} | {"_event_ts"}
            bad = [c for c in cluster_by if c not in known]
            if bad:
                raise ValueError(f"unknown cluster_by column(s): {bad}")
            if cluster_mode == "zorder":
                ztypes = {f.name: f.type for f in schema0.fields}
                ztypes["_event_ts"] = "timestamp"
                numeric_ok = {"int", "bigint", "long", "double", "float",
                              "smallint", "tinyint", "timestamp"}
                bad_t = [c for c in cluster_by if ztypes[c] not in numeric_ok]
                if bad_t:
                    raise ValueError(
                        "zorder needs numeric/timestamp columns (order-"
                        f"preserving fixed-width encode), got: {bad_t}"
                    )
        snap = self.snapshot()
        # entry-time fence: a zombie tick must die BEFORE the bucket
        # rewrite, not after minutes of wasted work at the final commit
        # (the commit re-validates regardless — that one is atomic)
        self._validate_fence(writer_id, writer_epoch, snap, what="compact")
        by_bucket: dict[int, int] = {
            m["bucket"]: m["n_files"] for m in snap["manifests"]
        }
        n_files_before = sum(by_bucket.values())
        # one manifest walk feeds BOTH the size-target fragmentation test and
        # the tombstone-expiry planning below
        all_files = (
            self.files(snap=snap)
            if (target_rows_per_file or expire_tombstones_below_lsn is not None)
            else []
        )
        if target_rows_per_file:
            rows_by_bucket: dict[int, int] = {}
            for f in all_files:
                rows_by_bucket[f["bucket"]] = (
                    rows_by_bucket.get(f["bucket"], 0) + int(f["rows"])
                )
            todo = {
                b for b, n in by_bucket.items()
                if n > max(max_files_per_bucket,
                           -(-rows_by_bucket.get(b, 0) // target_rows_per_file))
            }
        else:
            todo = {b for b, n in by_bucket.items() if n > max_files_per_bucket}
        if cluster_by:
            # an explicit sort-order rewrite is requested, not inferred:
            # every non-empty bucket qualifies regardless of fragmentation
            # (bounded below by max_buckets_per_run like any other run)
            todo |= {b for b, n in by_bucket.items() if n > 0}
        cursor_props: dict | None = None
        if expire_tombstones_below_lsn is not None:
            # expire only buckets that may actually hold an expirable
            # tombstone (file-level has_tombstone + min_lsn stats, recorded
            # at write time; files from before those stats existed are
            # conservatively included). Without this, a steady-state
            # maintenance tick would rewrite K fully-compacted buckets
            # forever just to look for tombstones that are not there.
            for f in all_files:
                maybe = f.get("has_tombstone", True) and (
                    f.get("min_lsn") is None
                    or f["min_lsn"] < expire_tombstones_below_lsn
                )
                if maybe:
                    todo.add(f["bucket"])
        if max_buckets_per_run is not None and len(todo) > max_buckets_per_run:
            if expire_tombstones_below_lsn is not None:
                # bounded tick + full eventual coverage: rotate a cursor
                # through the bucket space so successive maintenance ticks
                # expire every bucket's tombstones, K buckets at a time
                nb = int(snap["n_buckets"])
                cur = int(snap["properties"].get("maintenance_cursor", 0))
                order = sorted(todo, key=lambda b: (b - cur) % nb)
                todo = set(order[:max_buckets_per_run])
                cursor_props = {
                    "maintenance_cursor": (max((b - cur) % nb for b in todo) + cur + 1) % nb
                }
            else:
                todo = set(
                    sorted(todo, key=lambda b: -by_bucket[b])[:max_buckets_per_run]
                )
        if not todo:
            return {"buckets_compacted": 0, "files_before": n_files_before}
        # pin BOTH the read and the commit's conflict floor to the snapshot
        # this compaction planned against: a commit landing between the read
        # and our commit must trip the overlap validation (otherwise a
        # concurrent same-bucket append's rows would be silently dropped by
        # the rewrite — the race the conflict machinery exists to stop)
        df = self.read(
            spark, buckets=todo, with_system_cols=True, include_deleted=True,
            version=snap["version"],
        )
        if expire_tombstones_below_lsn is not None:
            df = df.filter(
                ~(
                    F.coalesce(F.col("_deleted"), F.lit(False))
                    & (F.col("_lsn") < expire_tombstones_below_lsn)
                )
            )
        zbounds = None
        if cluster_by and cluster_mode == "zorder":
            # global per-column bounds for the Morton normalization, ONE
            # tiny agg over the data being rewritten anyway (manifest
            # col_stats could supply them for stats-complete tables; the
            # agg keeps old stat-less files correct)
            aggs = []
            for c in cluster_by:
                v = _z_numeric(F.col(c), ztypes[c])
                aggs += [F.min(v).alias(f"mn_{c}"), F.max(v).alias(f"mx_{c}")]
            b = df.agg(*aggs).first()
            zbounds = {c: (b[f"mn_{c}"], b[f"mx_{c}"]) for c in cluster_by}
        files = self.write_data_files(
            df, sort_within=not cluster_by, cluster_cols=cluster_by,
            cluster_mode=cluster_mode, cluster_bounds=zbounds,
            max_records_per_file=target_rows_per_file,
        )
        self.commit_with_retry(
            add_files=files, remove_buckets=todo, extra_props=cursor_props,
            expect_version=snap["version"],
            writer_id=writer_id, writer_epoch=writer_epoch,
        )
        return {
            "buckets_compacted": len(todo),
            "files_before": n_files_before,
            "files_after": sum(m["n_files"] for m in self.snapshot()["manifests"]),
        }

    def compact_minor(
        self,
        spark: SparkSession,
        max_delta_files_per_bucket: int = 1,
        max_buckets_per_run: int | None = None,
        writer_id: str | None = None,
        writer_epoch: int | None = None,
    ) -> dict:
        """Fold each fragmented bucket's DELTA files into one delta file
        without touching its base files (LSM minor compaction; Iceberg
        rewrite-position-deletes / Paimon changelog-compact analog).

        MoR ingest appends one delta file per bucket per batch, so read
        amplification grows linearly with batches between full compactions;
        a full ``compact`` pays O(bucket bytes) to reset it. This pays only
        O(delta bytes): sound because the row-LWW resolve is an associative
        max — replacing a key's delta row versions with their per-key winner
        (tombstones KEPT: a folded delete must still beat an older base row)
        leaves max-over-all-versions unchanged, and buckets partition the
        key space so base files never need to be read. Commit removes
        exactly the folded delta paths (``remove_paths``), inheriting the
        overlap conflict validation against racing same-bucket rewrites.

        Sequence-group (patch) tables refuse: their deltas merge at FIELD
        granularity — use ``operators.patch.compact_patch(minor=True)``."""
        schema = self.schema()
        if any(f.name.startswith("_seq_") for f in schema.fields):
            raise ValueError(
                "sequence-group table: row-LWW folding would merge at the "
                "wrong granularity — use operators.patch.compact_patch("
                "minor=True)"
            )
        snap = self.snapshot()
        # entry-time fence (see compact): fail the zombie before the fold
        self._validate_fence(writer_id, writer_epoch, snap,
                             what="minor compaction")
        files = self.files(snap=snap)
        dcount: dict[int, int] = {}
        for f in files:
            if f.get("delta"):
                dcount[f["bucket"]] = dcount.get(f["bucket"], 0) + 1
        n_delta_before = sum(dcount.values())
        todo = {b for b, n in dcount.items() if n > max_delta_files_per_bucket}
        if max_buckets_per_run is not None and len(todo) > max_buckets_per_run:
            todo = set(sorted(todo, key=lambda b: -dcount[b])[:max_buckets_per_run])
        if not todo:
            return {"buckets_compacted": 0, "delta_files_before": n_delta_before}
        remove = {f["path"] for f in files
                  if f.get("delta") and f["bucket"] in todo}
        raw = self.read(
            spark, buckets=todo, with_system_cols=True, include_deleted=True,
            resolve_deltas=False, version=snap["version"], _delta_only=True,
        )
        knames = schema.key_names
        others = [c for c in raw.columns if c not in knames]
        order = F.struct(
            F.coalesce(F.col("_event_ts"),
                       F.lit("1970-01-01 00:00:00").cast("timestamp")),
            F.coalesce(F.col("_lsn"), F.lit(-1).cast("bigint")),
        )
        folded = (
            raw.groupBy(*knames)
            .agg(F.max_by(F.struct(*[F.col(c) for c in others]), order).alias("_w"))
            .select(*knames, "_w.*")
        )
        new_files = self.write_data_files(folded, delta=True, sort_within=True)
        self.commit_with_retry(
            add_files=new_files, remove_paths=remove,
            expect_version=snap["version"],
            writer_id=writer_id, writer_epoch=writer_epoch,
        )
        return {
            "buckets_compacted": len(todo),
            "delta_files_before": n_delta_before,
            "delta_files_after": sum(
                1 for f in self.files() if f.get("delta")
            ),
        }

    # ---------------------------------------------------------------- vacuum
    def rollback(self, to_version: int) -> dict:
        """Publish a NEW snapshot whose logical state — file set, schema,
        and properties — is that of ``to_version`` (Iceberg
        ``rollback_to_snapshot`` analog: history only moves forward, state
        moves back; time travel into the undone versions keeps working
        within the retention window).

        Properties are restored wholesale ON PURPOSE: rewinding a CDC table
        means the undone batches are *expected* to be re-applied, so their
        ids must leave the exactly-once ledgers and the source lineage
        offsets must rewind with the data — otherwise the replayed batches
        would be skipped as duplicates and the table could never converge.
        The rollback provenance lands in ``rolled_back_from``/
        ``rolled_back_to`` so operators can audit it via ``history``.

        Raises ``VersionVacuumedError`` if ``to_version`` is outside the
        retention window (its files may already be deleted). After the
        rollback the target's files are referenced by the new HEAD, so a
        subsequent ``vacuum`` keeps them live.
        """
        cur = self.snapshot()
        if to_version == cur["version"]:
            return cur
        if to_version > cur["version"]:
            raise ValueError(
                f"cannot roll back to v{to_version}: current is v{cur['version']}"
            )
        target = self.snapshot(to_version)  # VersionVacuumedError if expired
        props = dict(target["properties"])
        props["rolled_back_from"] = cur["version"]
        props["rolled_back_to"] = to_version
        new_snap = {
            "version": cur["version"] + 1,
            "parent": cur["version"],
            "n_buckets": target["n_buckets"],
            **_partition_fields(target),
            "schema": target["schema"],
            "manifests": target["manifests"],
            "properties": props,
        }
        self._write_manifest(new_snap)
        return new_snap

    # -------------------------------------------------------------- tags
    # Named immutable version refs (Iceberg tag analog). A tag PINS THE
    # RETENTION FLOOR: vacuum keeps every version from the oldest tag
    # forward, so the retained history stays a contiguous range (history()
    # and read_changes(from_version=...) never hit holes). Audit/compliance
    # anchors ("the snapshot we trained run X from") and safe long
    # time-travel both want exactly this.

    _TAG_OK = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789._-"

    def tag(self, name: str, version: int | None = None) -> int:
        if not name or any(c not in self._TAG_OK for c in name):
            raise ValueError(f"tag name must be [A-Za-z0-9._-]+, got {name!r}")
        v = self.current_version() if version is None else int(version)
        if v > self.current_version() or v < self.oldest_retained_version():
            raise ValueError(f"version {v} not in retained range")
        path = os.path.join(self.meta_dir, f"tag-{name}.json")
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"name": name, "version": v}, f)
        os.replace(tmp, path)
        return v

    def tags(self) -> dict[str, int]:
        out = {}
        for fn in os.listdir(self.meta_dir):
            if fn.startswith("tag-") and fn.endswith(".json"):
                try:
                    with open(os.path.join(self.meta_dir, fn)) as f:
                        rec = json.load(f)
                except FileNotFoundError:
                    continue  # a racing drop_tag won between listdir and open
                out[rec["name"]] = int(rec["version"])
        return out

    def drop_tag(self, name: str) -> None:
        try:
            os.remove(os.path.join(self.meta_dir, f"tag-{name}.json"))
        except FileNotFoundError:
            raise KeyError(f"no such tag: {name}") from None

    def read_tag(self, spark: SparkSession, name: str, **read_kw) -> DataFrame:
        tagged = self.tags()
        if name not in tagged:
            raise KeyError(f"no such tag: {name}")
        return self.read(spark, version=tagged[name], **read_kw)

    # --------------------------------------------------------------- branches
    # Iceberg-style named branches: an independent commit chain forked from a
    # main version, sharing the table's data dir and bucket-manifest
    # namespace (both are immutable, uuid-named — no collisions). A branch
    # handle IS a LakeTable whose meta dir (version files, pointer, ledger
    # properties, stages, tags) is redirected to meta/branch-<name>/, so
    # every engine surface — replay, MERGE, MoR, compaction, WAP, rebucket,
    # change feed — works on a branch unchanged. Fast-forward publishes the
    # branch head onto main in one atomic pointer swap IF main has not moved
    # since the fork (Iceberg's fastForward precondition); a diverged main
    # raises CommitConflictError instead of silently losing its commits.
    # Vacuum runs on the MAIN handle only and treats every live branch
    # snapshot (and branch WAP stage) as a reference, so branch state can
    # never be reclaimed underneath a reader; a long-lived branch therefore
    # pins its files — drop it after fast-forward (or abandonment).
    #
    # Reference parity note: the reference ETL has no versioning at all
    # (files/load.py overwrites state in place); branches are part of the
    # lake surface a CDC engine needs for audited backfills and experiments.

    def create_branch(self, name: str, version: int | None = None) -> "LakeTable":
        """Fork a branch at ``version`` (default: current). The branch dir is
        created with exist_ok=False as the atomicity gate — a concurrent
        create of the same name loses with FileExistsError. Write order makes
        a crashed create invisible: v<F>.json and branch.json land before
        ``_current``, and ``branches()`` ignores dirs without a pointer."""
        if not name or any(c not in self._TAG_OK for c in name):
            raise ValueError(f"branch name must be [A-Za-z0-9._-]+, got {name!r}")
        if getattr(self, "_parent_meta", None) is not None:
            raise RuntimeError("create_branch from a branch handle is not supported")
        v = self.current_version() if version is None else int(version)
        snap = self.snapshot(v)  # raises VersionVacuumedError if expired
        bdir = os.path.join(self.meta_dir, f"branch-{name}")
        os.makedirs(bdir, exist_ok=False)
        with open(os.path.join(bdir, f"v{v}.json"), "x") as f:
            json.dump(snap, f)
        with open(os.path.join(bdir, "branch.json"), "x") as f:
            json.dump({"name": name, "fork_version": v}, f)
        tmp = os.path.join(bdir, f"_current.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, os.path.join(bdir, "_current"))
        return self.branch(name)

    def branch(self, name: str) -> "LakeTable":
        """Open an existing branch as a full LakeTable handle."""
        bdir = os.path.join(self.meta_dir, f"branch-{name}")
        if not os.path.exists(os.path.join(bdir, "_current")):
            raise KeyError(f"no such branch: {name}")
        with open(os.path.join(bdir, "branch.json")) as f:
            rec = json.load(f)
        t = LakeTable(self.root)
        t.meta_dir = bdir
        t._parent_meta = self.meta_dir
        t._fork_version = int(rec["fork_version"])
        t._branch_name = name
        return t

    def branches(self) -> dict[str, dict]:
        """name -> {fork_version, head_version} for every live branch."""
        out: dict[str, dict] = {}
        for fn in sorted(os.listdir(self.meta_dir)):
            if not fn.startswith("branch-"):
                continue
            bdir = os.path.join(self.meta_dir, fn)
            try:
                with open(os.path.join(bdir, "branch.json")) as f:
                    rec = json.load(f)
                with open(os.path.join(bdir, "_current")) as f:
                    head = int(f.read().strip())
            except (OSError, ValueError, KeyError):
                continue  # mid-create or mid-drop — not a live branch
            out[rec["name"]] = {
                "fork_version": int(rec["fork_version"]), "head_version": head,
            }
        return out

    def drop_branch(self, name: str) -> None:
        bdir = os.path.join(self.meta_dir, f"branch-{name}")
        if not os.path.isdir(bdir):
            raise KeyError(f"no such branch: {name}")
        shutil.rmtree(bdir, ignore_errors=True)

    def fast_forward(self, name: str) -> dict:
        """Publish branch ``name``'s head onto main. Precondition (checked
        atomically by the v-file 'x'-create): main's pointer still sits at
        the branch's fork version — branches merge by fast-forward only, a
        diverged main raises CommitConflictError (redo the work on a fresh
        branch, or replay the branch's source batches onto main: their batch
        ids make that exactly-once). The branch's intermediate versions are
        squashed — main gets ONE new snapshot carrying the branch head's
        files, schema, bucket layout and properties; ledgers and lineage
        carried wholesale, which is sound precisely because main cannot have
        moved since the fork (its properties are exactly the fork's, and the
        branch head's are their evolution)."""
        bt = self.branch(name)
        head = bt.snapshot()
        fork = bt._fork_version
        if head["version"] == fork:
            return self.snapshot()  # branch never diverged — no-op
        cur = self.current_version()
        if cur != fork:
            raise CommitConflictError(
                f"main advanced to v{cur} since branch {name!r} forked at "
                f"v{fork} — fast-forward refused (main's commits would be lost)"
            )
        new = dict(head)
        new["version"] = cur + 1
        new["parent"] = cur
        new["_ff_from"] = {"branch": name, "head_version": head["version"]}
        try:
            self._write_manifest(new)
        except FileExistsError:
            raise CommitConflictError(
                f"main advanced during fast-forward of branch {name!r}"
            ) from None
        return new

    def oldest_retained_version(self) -> int:
        """Lowest version whose v<N>.json still exists (0 if never expired)."""
        vs = [
            int(fn[1:-5])
            for fn in os.listdir(self.meta_dir)
            if fn.startswith("v") and fn.endswith(".json") and fn[1:-5].isdigit()
        ]
        return min(vs) if vs else 0

    def vacuum(self, retain_last: int = 8, orphan_grace_sec: float = 3600,
               stage_ttl_sec: float | None = None,
               retain_age_sec: float | None = None,
               writer_id: str | None = None,
               writer_epoch: int | None = None) -> int:
        """Delete data files / bucket manifests not referenced by the last
        ``retain_last`` snapshots, and expire older snapshot files (Delta/
        Iceberg-style retention window). Time-travel reads and
        ``read_changes(from_version=...)`` keep working for any version
        within the window; older versions raise ``VersionVacuumedError``
        with a clear message instead of a mid-scan FileNotFoundError.
        ``retain_last=1`` reproduces the round-1 current-snapshot-only GC.

        ``orphan_grace_sec``: an unreferenced file younger than this is
        skipped — it may belong to a CONCURRENT writer that has written its
        data files but not yet won the commit race (``commit_with_retry``);
        deleting it would break that commit's file references (the same
        hazard Iceberg's orphan-file cleanup guards with a default 3-day
        age). A single-writer maintenance loop (streaming tick, soak) may
        pass 0: between its own batches there are no in-flight files.

        ``retain_age_sec``: age-based retention (Iceberg
        ``expireSnapshots(olderThan)`` analog) — additionally keep every
        snapshot whose ``committed_at`` is within the window, so an SLA
        like "24 h of time travel" holds regardless of commit rate
        (count-based retention alone retires a day of history in minutes
        on a hot table). The floors COMPOSE: the retained range is the
        union of the count window, the age window, and everything a tag
        pins — always contiguous. ``committed_at`` is monotone across
        rollback, so the age walk can stop at the first too-old version."""
        if getattr(self, "_parent_meta", None) is not None:
            raise RuntimeError(
                "vacuum must run on the main table handle — branch snapshots "
                "share main's data/manifest namespace and are GC'd (or pinned) "
                "by main's vacuum"
            )
        # vacuum publishes no snapshot, so the fence check is entry-time only
        # (a zombie tick must not delete files the live writer references;
        # the retention floors bound the worst case regardless)
        self._validate_fence(writer_id, writer_epoch, what="vacuum")
        cur = self.current_version()
        floor = max(0, cur - max(retain_last, 1) + 1)
        if retain_age_sec is not None:
            import time as _t1_

            cutoff = _t1_.time() - retain_age_sec
            v = floor - 1
            while v >= self.oldest_retained_version():
                at = self.snapshot(v).get("committed_at")
                if at is None or at < cutoff:
                    break  # monotone stamps: everything older is older
                floor = v
                v -= 1
        tagged = self.tags()
        if tagged:  # tags pin the floor: retained history stays contiguous
            floor = min(floor, min(tagged.values()))
        floor = max(floor, self.oldest_retained_version())
        live: set[str] = set()
        live_m: set[str] = set()
        for v in range(floor, cur + 1):
            snap = self.snapshot(v)
            live_m |= {m["path"] for m in snap["manifests"]}
        # unpublished WAP stages keep their manifests AND data files alive —
        # an audit may outlive the orphan grace window; abort_stage is the
        # explicit release. ``stage_ttl_sec`` bounds the leak from a CRASHED
        # audited writer: a stage older than the TTL is aborted here (its
        # batch_id was never committed, so the upstream replays it — same
        # crash-recovery contract as an unpublished ordinary batch).
        import time as _t0_

        _now = _t0_.time()
        for st in self.stages():
            path = os.path.join(self.meta_dir, f"stage-{st['stage_id']}.json")
            try:
                if (stage_ttl_sec is not None
                        and _now - os.path.getmtime(path) > stage_ttl_sec):
                    self.abort_stage(st["stage_id"])
                    continue
                rec = self._load_stage(st["stage_id"])
            except (OSError, KeyError):
                continue  # a racing publisher settled the stage mid-walk
            live_m |= {m["path"] for m in rec["audit_snapshot"]["manifests"]}
        # every live branch pins its whole snapshot chain (branches are never
        # vacuumed — they share main's manifest/data namespace, and a branch
        # is expected to be short-lived: fast-forwarded then dropped); branch
        # WAP stages pin exactly like main's
        for bname in list(self.branches()):
            bdir = os.path.join(self.meta_dir, f"branch-{bname}")
            try:
                bfns = os.listdir(bdir)
            except OSError:
                continue  # dropped mid-walk
            for fn in bfns:
                if not fn.endswith(".json"):
                    continue
                is_v = fn.startswith("v") and fn[1:-5].isdigit()
                if not is_v and not fn.startswith("stage-"):
                    continue
                try:
                    with open(os.path.join(bdir, fn)) as f:
                        rec = json.load(f)
                except (OSError, ValueError):
                    continue
                snap_rec = rec.get("audit_snapshot", rec)
                live_m |= {m["path"] for m in snap_rec.get("manifests", [])}
        # each retained manifest is opened once even if many snapshots share it
        for rel in live_m:
            live |= {f["path"] for f in self._load_bucket_manifest(rel)}
        removed = 0
        import time as _time

        now = _time.time()
        data_root = os.path.join(self.root, "data")
        for cdir in list(os.listdir(data_root)):
            cpath = os.path.join(data_root, cdir)
            for root, _dirs, fns in os.walk(cpath):
                for fn in fns:
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, self.root)
                    if fn.endswith(".parquet") and rel not in live:
                        try:
                            if now - os.path.getmtime(full) < orphan_grace_sec:
                                continue  # possibly an in-flight commit's file
                        except OSError:
                            continue
                        os.remove(full)
                        try:  # a dead file's bloom sidecar dies with it
                            os.remove(full + ".bloom")
                        except OSError:
                            pass
                        removed += 1
                    elif (
                        fn.endswith(".parquet.bloom")
                        and rel[: -len(".bloom")] not in live
                        and not os.path.exists(full[: -len(".bloom")])
                    ):
                        # orphan sidecar whose parquet is already gone
                        try:
                            if now - os.path.getmtime(full) >= orphan_grace_sec:
                                os.remove(full)
                        except OSError:
                            pass
            try:
                dir_young = now - os.path.getmtime(cpath) < orphan_grace_sec
            except OSError:
                dir_young = True
            # a commit dir with no parquet yet may be a concurrent writer's
            # job mid-setup — the same in-flight hazard the grace guards
            if not dir_young and not any(
                f.endswith(".parquet") for _r, _d, fs in os.walk(cpath) for f in fs
            ):
                shutil.rmtree(cpath, ignore_errors=True)
        for fn in list(os.listdir(self.meta_dir)):
            rel = os.path.join("meta", fn)
            full = os.path.join(self.meta_dir, fn)
            if fn.startswith("m-") and fn.endswith(".json") and rel not in live_m:
                # same in-flight hazard: commit() writes bucket manifests
                # BEFORE winning the pointer race
                try:
                    if now - os.path.getmtime(full) < orphan_grace_sec:
                        continue
                except OSError:
                    continue
                os.remove(full)
            elif (
                fn.startswith("v") and fn.endswith(".json") and fn[1:-5].isdigit()
                and int(fn[1:-5]) < floor
            ):
                os.remove(os.path.join(self.meta_dir, fn))  # expire snapshot
            elif ".tmp." in fn or ".reap-" in fn:
                # a crashed writer's atomic-publish temp (pointer swap,
                # stage marker, tag) or a cleaner's claimed-aside orphan
                # version (_reap_orphan_version) — dead once past the grace
                # window (a claimed-aside file whose claimer is alive is
                # deleted microseconds after the claim; one this old is a
                # cleaner that crashed mid-reap, and the pointer never
                # references an aside name, so removal is safe)
                try:
                    if _now - os.path.getmtime(full) >= orphan_grace_sec:
                        os.remove(full)
                except OSError:
                    pass
        return removed
