"""The three workloads, their inputs, the timed loop and the checks.

Every workload drives the engine through its public calls only:
``streaming.replay.replay_batch`` and ``LakeTable.read`` / ``read_keys`` /
``compact`` / ``files``. One writer thread; lookups and scans are issued
between batches (closed loop).

A run has three phases:

1. set-up (``setup_s``): inputs, the preload, and a warm-up that runs every
   code path the timed phase runs, so the JVM's just-in-time compiler and
   Spark's code generator are warm before the clock starts;
2. the timed phase: whole rounds of the same operations, until ``seconds``
   have passed;
3. checks, untimed: the table, every scan and every lookup against the
   oracle replay, plus the invariants in ``checks``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import checks
import gen

COLS = [("doc_id", "string"), ("tokens", "array<int>"), ("n_tok", "int"), ("source", "string")]
KEYS_PER_LOOKUP = 4

# backfill_text_cow: a cold table filled from a text binlog in big batches
BACKFILL_DOCS = 32_000
BACKFILL_FILES = 3
BACKFILL_EVENTS_PER_FILE = 40_000
BACKFILL_BUCKETS = 16
BACKFILL_READS_PER_BATCH = 3     # lookups, and scans, after each batch

# tail_columnar_*: a preloaded table taking small pre-typed batches
TAIL_DOCS = 12_000
TAIL_PRELOAD_EVENTS = 14_000
TAIL_POOL_FILES = 40
TAIL_EVENTS_PER_FILE = 1_000
TAIL_BUCKETS = 8
TAIL_WARMUP_BATCHES = 2
TAIL_ROUND_BATCHES = 3
TAIL_READS_PER_BATCH = 1
TAIL_LSN0 = 10_000_000

WORKLOADS = {
    "backfill_text_cow": {"kind": "backfill", "mode": "cow"},
    "tail_columnar_mor": {"kind": "tail", "mode": "mor"},
    "tail_columnar_cow": {"kind": "tail", "mode": "cow"},
}
OP_KINDS = ("apply", "lookup", "scan", "compact")


@dataclass
class Inputs:
    preload: list[str]          # text files applied before the stream
    stream: list[str]           # text files of the measured stream, in order
    line_keys: dict[str, np.ndarray]


def make_text_inputs(name: str, seed: int, out_dir: str) -> Inputs:
    if WORKLOADS[name]["kind"] == "backfill":
        files, lk, _ = gen.write_binlog(
            out_dir, "backfill", BACKFILL_FILES, BACKFILL_EVENTS_PER_FILE,
            BACKFILL_DOCS, (seed, 0), start_lsn=0)
        return Inputs([], files, dict(zip(files, lk)))
    pre, lk0, end_us = gen.write_binlog(
        out_dir, "preload", 1, TAIL_PRELOAD_EVENTS, TAIL_DOCS, (seed, 1),
        start_lsn=0, cover_all_keys=True)
    tail, lk1, _ = gen.write_binlog(
        out_dir, "tail", TAIL_POOL_FILES, TAIL_EVENTS_PER_FILE,
        TAIL_DOCS, (seed, 2), start_lsn=TAIL_LSN0, start_us=end_us)
    return Inputs(pre, tail, dict(zip(pre + tail, lk0 + lk1)))


def _cpu_times() -> list[int]:
    """The machine-wide jiffies of /proc/stat's ``cpu`` line (zeros if absent)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return [0] * 8


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _tree_bytes(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


@dataclass
class Stats:
    attempted: dict = field(default_factory=lambda: dict.fromkeys(OP_KINDS, 0))
    failed: dict = field(default_factory=lambda: dict.fromkeys(OP_KINDS, 0))
    batch_s: list = field(default_factory=list)
    compact_s: list = field(default_factory=list)
    lookup_s: list = field(default_factory=list)
    scan_s: list = field(default_factory=list)
    events: int = 0
    rows_written: int = 0
    write_bytes: int = 0
    # per-layer tallies (traced run)
    buckets_rewritten: list = field(default_factory=list)
    delta_files_per_lookup: list = field(default_factory=list)
    files_live: list = field(default_factory=list)
    compact_bytes: list = field(default_factory=list)


class Workload:
    """One run of one workload in one Spark session."""

    def __init__(self, spark, name: str, seed: int, seconds: float, work: str,
                 tracer=None):
        from concept_catalog_etl_spark.lakehouse import TableSchema
        from concept_catalog_etl_spark.operators.merge import MergeConfig

        self.spark = spark
        self.name = name
        self.spec = WORKLOADS[name]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.schema = TableSchema.create(COLS, key="doc_id")
        self.cfg = MergeConfig(write_mode=self.spec["mode"])
        self.rng = np.random.default_rng([seed, 7])
        self.problems: list[str] = []
        self.stats = Stats()
        self.timing = False         # inside the timed phase
        self.lookups: list[tuple] = []   # (n stream files applied, keys, rows)
        self.scans: list[tuple] = []     # (n stream files applied, (rows, checksum))
        self.batch_results: list[dict] = []
        self.round_ends: list[int] = []  # stream batches applied at each round's end
        self._lines: dict[str, list[str]] = {}
        self.setup_phases: dict[str, float] = {}
        self._t_phase = time.perf_counter()

    def _phase(self, name: str) -> None:
        now = time.perf_counter()
        self.setup_phases[name] = now - self._t_phase
        self._t_phase = now

    # ------------------------------------------------------------ helpers
    def _span(self, name: str):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer else nullcontext()

    def _op(self, kind: str, fn):
        """Run one operation; count it (timed phase only) and time it."""
        if self.timing:
            self.stats.attempted[kind] += 1
        t0 = time.perf_counter()
        try:
            with self._span(kind):
                out = fn()
        except Exception:
            if not self.timing:
                raise
            self.stats.failed[kind] += 1
            log_err(f"{kind} failed:\n{traceback.format_exc()}")
            return None, None
        return out, time.perf_counter() - t0

    def _new_table(self, tag: str, n_buckets: int):
        from concept_catalog_etl_spark.lakehouse import LakeTable

        root = os.path.join(self.work, f"table-{tag}")
        shutil.rmtree(root, ignore_errors=True)
        return LakeTable.create(root, self.schema, n_buckets=n_buckets)

    def _bucket_files(self, table) -> dict[int, set]:
        out: dict[int, set] = {}
        for f in table.files():
            out.setdefault(f["bucket"], set()).add(f["path"])
        return out

    # --------------------------------------------------------- operations
    def apply(self, table, path: str, batch_id: int, fmt: str) -> None:
        from concept_catalog_etl_spark.streaming import replay

        before = self._bucket_files(table) if self.tracer and self.timing else None
        res, dt = self._op("apply", lambda: replay.replay_batch(
            self.spark, [path], table, files_per_batch=1, cfg=self.cfg,
            start_batch_id=batch_id, source_format=fmt))
        if res is None:
            return
        self.batch_results.extend(res)
        if self.timing:
            self.stats.batch_s.append(dt)
            self.stats.events += self.events_per_batch
            self.stats.rows_written += sum(m.get("rows_written", 0) for m in res)
            if before is not None:
                after = self._bucket_files(table)
                self.stats.buckets_rewritten.append(sum(
                    1 for b in set(before) | set(after) if before.get(b) != after.get(b)))

    def lookup(self, table, n_applied: int, recent: np.ndarray) -> None:
        """Look up a few keys: half of them updated by the batch just
        applied (``recent`` holds its lines' key indices), half drawn
        uniformly (some absent)."""
        recent = recent[recent >= 0]
        picks = list(self.rng.choice(recent, KEYS_PER_LOOKUP // 2, replace=False))
        picks += list(self.rng.integers(0, self.n_docs, KEYS_PER_LOOKUP - len(picks)))
        keys = sorted({gen.doc_id(int(k)) for k in picks})
        if self.tracer and self.timing:
            _v, buckets, _lo, _hi = table.typed_key_buckets(self.spark, keys)
            self.stats.delta_files_per_lookup.append(sum(
                1 for f in table.files(buckets=buckets) if f.get("delta")))
        rows, dt = self._op("lookup", lambda: [
            r.asDict(recursive=True) for r in table.read_keys(self.spark, keys).collect()])
        if rows is None:
            return
        self.lookups.append((n_applied, keys, rows))
        if self.timing:
            self.stats.lookup_s.append(dt)

    def _fingerprint(self, table):
        from pyspark.sql import functions as F

        text = F.concat_ws(
            "|", "doc_id",
            F.array_join(F.col("tokens").cast("array<string>"), ","),
            F.col("n_tok").cast("string"), "source")
        r = table.read(self.spark).agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.crc32(text)), F.lit(0)).alias("s"),
        ).collect()[0]
        return int(r["n"]), int(r["s"])

    def scan(self, table, n_applied: int):
        if self.tracer and self.timing:
            self.stats.files_live.append(len(table.files()))
        fp, dt = self._op("scan", lambda: self._fingerprint(table))
        if fp is None:
            return None
        self.scans.append((n_applied, fp))
        if self.timing:
            self.stats.scan_s.append(dt)
        return fp

    def compact(self, table, n_applied: int, pre_fp) -> None:
        before = {f["path"] for f in table.files()} if self.tracer and self.timing else None
        res, dt = self._op("compact", lambda: table.compact(self.spark))
        if res is None:
            return
        if self.timing:
            self.stats.compact_s.append(dt)
            if before is not None:
                self.stats.compact_bytes.append(sum(
                    os.path.getsize(os.path.join(table.root, f["path"]))
                    for f in table.files() if f["path"] not in before))
        # untimed: compaction must not change the table's state
        post = self._fingerprint(table)
        if pre_fp is not None and post != pre_fp:
            self.problems.append(
                f"compaction after {n_applied} batches changed the state: {pre_fp} -> {post}")

    # ------------------------------------------------------------- phases
    def setup(self) -> None:
        kind = self.spec["kind"]
        inp = os.path.join(self.work, "inputs")
        self.inputs = make_text_inputs(self.name, self.seed, inp)
        self._phase("generate")
        if kind == "backfill":
            self.n_docs = BACKFILL_DOCS
            self.events_per_batch = BACKFILL_EVENTS_PER_FILE
            self.batches = list(self.inputs.stream)
            self.fmt = "text"
            # warm-up: one whole round over the same input, with one lookup
            # and one scan after each batch, on a table that is then dropped
            self.table = self._new_table("warmup", BACKFILL_BUCKETS)
            self._backfill_round(self.table, self.batches, self.inputs.line_keys, reads=1)
            shutil.rmtree(self.table.root)
            # the checks cover the timed rounds only
            self.batch_results.clear()
            self.lookups.clear()
            self.scans.clear()
            self._phase("warmup")
            return
        self.n_docs = TAIL_DOCS
        self.events_per_batch = TAIL_EVENTS_PER_FILE
        self.table = self._new_table("tail", TAIL_BUCKETS)
        from concept_catalog_etl_spark.operators.merge import MergeConfig
        from concept_catalog_etl_spark.streaming import replay

        col = os.path.join(self.work, "columnar")
        preload = gen.write_columnar(self.inputs.preload[0], os.path.join(col, "preload.parquet"))
        self.batches = [gen.write_columnar(p, os.path.join(col, f"tail-{i:06d}.parquet"))
                        for i, p in enumerate(self.inputs.stream)]
        self._phase("columnar")
        self.fmt = "parquet"
        # preload: one cold copy-on-write batch
        res = replay.replay_batch(self.spark, [preload], self.table, files_per_batch=1,
                                  cfg=MergeConfig(write_mode="cow"), start_batch_id=0,
                                  source_format=self.fmt)
        self.batch_results.extend(res)
        self._phase("preload")
        self.next_batch = 0
        self._tail_round(TAIL_WARMUP_BATCHES)
        self._phase("warmup")

    def _reads(self, table, n_applied: int, recent: np.ndarray, n: int):
        """``n`` lookups, then ``n`` scans; returns the last scan's
        fingerprint."""
        for _ in range(n):
            self.lookup(table, n_applied, recent)
        for _ in range(n):
            fp = self.scan(table, n_applied)
        return fp

    def _backfill_round(self, table, files: list[str], line_keys: dict,
                        reads: int = BACKFILL_READS_PER_BATCH) -> None:
        for i, f in enumerate(files):
            self.apply(table, f, i, "text")
            self._reads(table, i + 1, line_keys[f], reads)

    def _tail_round(self, n_batches: int) -> bool:
        """``n_batches`` batches, each followed by its lookups and scans, then
        for merge-on-read a compaction. False when the input ran out."""
        if self.next_batch + n_batches > len(self.batches):
            return False
        for _ in range(n_batches):
            i = self.next_batch
            self.apply(self.table, self.batches[i], 1000 + i, self.fmt)
            self.next_batch += 1
            fp = self._reads(self.table, self.next_batch,
                             self.inputs.line_keys[self.inputs.stream[i]], TAIL_READS_PER_BATCH)
        if self.spec["mode"] == "mor":
            self.compact(self.table, self.next_batch, fp)
        self.round_ends.append(self.next_batch)
        return True

    def measure(self) -> float:
        """The timed phase; returns its start (epoch seconds)."""
        cpu0 = _cpu_times()
        self.timing = True
        start_wall = time.time()
        t0 = time.perf_counter()
        if self.tracer:
            self.tracer.recording = True
        if self.spec["kind"] == "backfill":
            r = 0
            while r == 0 or time.perf_counter() - t0 < self.seconds:
                prev = self.table
                self.table = self._new_table(f"round{r}", BACKFILL_BUCKETS)
                self._backfill_round(self.table, self.batches, self.inputs.line_keys)
                self.stats.write_bytes += sum(_tree_bytes(self.table.root).values())
                if r > 0:
                    shutil.rmtree(prev.root)
                r += 1
            self.rounds = r
        else:
            before = _tree_bytes(self.table.root)
            r = 0
            while r == 0 or time.perf_counter() - t0 < self.seconds:
                if not self._tail_round(TAIL_ROUND_BATCHES):
                    break
                r += 1
            self.rounds = r
            after = _tree_bytes(self.table.root)
            self.stats.write_bytes = sum(s for p, s in after.items() if p not in before)
        if self.tracer:
            self.tracer.recording = False
        self.timing = False
        self.timed_window = (start_wall, time.time())
        cpu1 = _cpu_times()
        busy = [b - a for a, b in zip(cpu0, cpu1)]
        # share of the machine's CPU time lost to other tenants (steal) and
        # used at all, over the timed phase
        self.cpu = {"steal_share": busy[7] / max(sum(busy), 1),
                    "busy_share": 1 - (busy[3] + busy[4]) / max(sum(busy), 1)}
        return start_wall

    # ------------------------------------------------------------- checks
    def _applied_files(self) -> list[str]:
        if self.spec["kind"] == "backfill":
            return list(self.inputs.stream)
        return self.inputs.preload + self.inputs.stream[: self.next_batch]

    def _key_lines(self, files: list[str], keys: list[str]) -> list[str]:
        want = np.array([int(k.split("-")[1]) for k in keys])
        out = []
        for p in files:
            if p not in self._lines:
                with open(p) as f:
                    self._lines[p] = f.read().splitlines()
            idx = np.nonzero(np.isin(self.inputs.line_keys[p], want))[0]
            out.extend(self._lines[p][j] for j in idx)
        return out

    def check(self) -> list[str]:
        from concept_catalog_etl_spark import oracle
        from concept_catalog_etl_spark.streaming import replay

        replays: dict[tuple, tuple] = {}

        def replayed(files: list[str]) -> tuple[dict, dict]:
            """The oracle's (state, stats) over ``files``, once per list."""
            if tuple(files) not in replays:
                state, _schema, stats = oracle.replay(files)
                replays[tuple(files)] = state, stats
            return replays[tuple(files)]

        problems = list(self.problems)
        table = self.table
        applied = self._applied_files()
        pre = self.inputs.preload

        expected, stats = replayed(applied)
        rows = [r.asDict(recursive=True)
                for r in table.read(self.spark).select(*[c for c, _ in COLS]).collect()]
        problems += [f"final table: {p}" for p in checks.check_rows(rows, expected)]

        # a full oracle replay per scan would cost more than the run; the
        # tail checks the scan that closes each round, backfill every scan
        # (its rounds repeat the same prefixes)
        ends = set(self.round_ends) if self.spec["kind"] == "tail" else None
        for n_applied, fp in sorted(set(self.scans)):
            if ends is not None and n_applied not in ends:
                continue
            want = checks.fingerprint(replayed(pre + self.inputs.stream[:n_applied])[0].values())
            problems += checks.check_fingerprint(f"scan after {n_applied} batches", fp, want)

        tmp = os.path.join(self.work, "lookup-oracle.jsonl")
        for n_applied, keys, got in self.lookups:
            with open(tmp, "w") as f:
                f.write("\n".join(self._key_lines(pre + self.inputs.stream[:n_applied], keys)) + "\n")
            problems += checks.check_lookup(got, keys, oracle.replay([tmp])[0])

        applied_batches = [m for m in self.batch_results if not m.get("skipped")]
        rounds = self.rounds if self.spec["kind"] == "backfill" else 1
        lines = sum(len(self.inputs.line_keys[p]) for p in applied)
        problems += checks.check_counts(
            sum(m["events_total"] for m in applied_batches), rounds * lines,
            sum(m["dlq_count"] for m in applied_batches), rounds * stats["dlq"])

        # re-applying a committed batch id must leave the table unchanged
        last = len(self.batches) - 1 if self.spec["kind"] == "backfill" else self.next_batch - 1
        bid = last if self.spec["kind"] == "backfill" else 1000 + last
        v0 = table.current_version()
        res = replay.replay_batch(self.spark, [self.batches[last]], table, files_per_batch=1,
                                  cfg=self.cfg, start_batch_id=bid, source_format=self.fmt)
        if not all(m.get("skipped") for m in res) or table.current_version() != v0:
            problems.append(f"re-applying batch {bid} changed the table "
                            f"(version {v0} -> {table.current_version()})")
        self.live_rows = len(rows)
        return problems

    # ------------------------------------------------------------ results
    def end_to_end(self, setup_s: float) -> dict[str, float]:
        s = self.stats
        apply_wall = sum(s.batch_s) + sum(s.compact_s)
        live = sum(os.path.getsize(os.path.join(self.table.root, f["path"]))
                   for f in self.table.files())
        return {
            "setup_s": setup_s,
            "apply_events_per_s": s.events / apply_wall if apply_wall else 0.0,
            "batch_apply_p50_s": _median(s.batch_s),
            "lookup_p50_s": _median(s.lookup_s),
            "scan_s": _median(s.scan_s),
            "write_bytes_per_event": s.write_bytes / s.events if s.events else 0.0,
            "live_bytes_per_row": live / self.live_rows if self.live_rows else 0.0,
        }

    def ops(self) -> dict:
        return {"attempted": dict(self.stats.attempted), "failed": dict(self.stats.failed),
                "rounds": self.rounds, "setup_phases_s": self.setup_phases,
                "cpu_during_timed_phase": self.cpu,
                "samples_s": {k: [round(x, 4) for x in getattr(self.stats, k)]
                              for k in ("batch_s", "lookup_s", "scan_s", "compact_s")}}


def log_err(*a) -> None:
    print(*a, file=sys.stderr, flush=True)
