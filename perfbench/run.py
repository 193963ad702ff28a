"""CDC apply-and-read benchmark: one run of one workload.

    python3 perfbench/run.py --workload tail_columnar_mor --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
gives the end-to-end metrics of ``BENCHMARK.json``, ``--trace 1`` the
per-layer ones. The line before it breaks ``attempted``/``failed`` down by
operation kind and lists any check that failed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_IMPORT = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
UNITS = {
    "setup_s": "s", "apply_events_per_s": "events/s", "batch_apply_p50_s": "s",
    "lookup_p50_s": "s", "scan_s": "s", "write_bytes_per_event": "bytes/event",
    "live_bytes_per_row": "bytes/row",
}
LAYER_UNITS = {
    "envelope.parse_s_per_mevent": "s/Mevent", "dedup.lww_s_per_mevent": "s/Mevent",
    "merge.apply_self_s": "s", "merge.rows_written_per_event": "rows/event",
    "table.write_data_files_s": "s", "table.commit_s": "s", "table.write_dlq_s": "s",
    "table.buckets_rewritten_per_batch": "count", "table.read_keys_plan_s": "s",
    "table.lookup_exec_s": "s", "table.delta_files_per_lookup": "count",
    "table.read_plan_s": "s", "table.files_live": "count", "table.compact_s": "s",
    "table.compact_bytes_rewritten": "bytes", "spark.jobs_per_batch": "count",
    "spark.shuffle_write_bytes_per_event": "bytes/event",
    "spark.task_cpu_s_per_event": "s/event", "spark.gc_s": "s",
    "sources.columnar_convert_s": "s", "traced.batch_apply_p50_s": "s",
    "traced.lookup_p50_s": "s", "traced.scan_s": "s", "trace.spans": "count",
}
DRIVER_HEAP = "2g"


def process_start() -> float:
    """Wall-clock start of this process (from /proc), else import time."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, StopIteration):
        return T_IMPORT


def start_spark(work: str, event_log: str | None):
    """One local session, at most ``nproc`` task threads, a fixed-size heap
    (``-Xms`` = ``-Xmx``) and every scratch file inside ``work``."""
    from concept_catalog_etl_spark.session import get_spark

    cpus = min(4, os.cpu_count() or 1)
    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def per_layer(w, tracer, event_log: str, layer: dict) -> dict[str, float]:
    """The per-layer metrics of a traced run, from its spans, its tallies,
    the isolated passes in ``layer`` and the Spark event log."""
    import statistics

    from spans import event_log_totals

    def med(xs):
        return float(statistics.median(xs)) if xs else 0.0

    def mean(xs):
        return float(sum(xs) / len(xs)) if xs else 0.0

    s = w.stats
    ev = max(s.events, 1)
    apply_windows = tracer.windows("replay_batch") + tracer.windows("compact")
    ap = event_log_totals(event_log, tracer.windows("replay_batch"))
    aw = event_log_totals(event_log, apply_windows)
    whole = event_log_totals(event_log, [w.timed_window])
    return {
        "envelope.parse_s_per_mevent": layer["parse_s"] / layer["events"] * 1e6,
        "dedup.lww_s_per_mevent": layer["dedup_s"] / layer["events"] * 1e6,
        "merge.apply_self_s": med(tracer.self_times("apply_batch")),
        "merge.rows_written_per_event": s.rows_written / ev,
        "table.write_data_files_s": med(tracer.durations("write_data_files")),
        "table.commit_s": med(tracer.durations("commit", top_level_of="apply_batch")),
        "table.write_dlq_s": med(tracer.durations("write_dlq")),
        "table.buckets_rewritten_per_batch": mean(s.buckets_rewritten),
        "table.read_keys_plan_s": med(tracer.durations("read_keys", top_level_of="lookup")),
        "table.lookup_exec_s": med(tracer.self_times("lookup")),
        "table.delta_files_per_lookup": mean(s.delta_files_per_lookup),
        "table.read_plan_s": med(tracer.durations("read", top_level_of="scan")),
        "table.files_live": med(s.files_live),
        "table.compact_s": med(s.compact_s) if s.compact_s else layer["compact_s"],
        "table.compact_bytes_rewritten": mean(s.compact_bytes),
        "spark.jobs_per_batch": ap["jobs"] / max(len(s.batch_s), 1),
        "spark.shuffle_write_bytes_per_event": aw["shuffle_write_bytes"] / ev,
        "spark.task_cpu_s_per_event": aw["cpu_ns"] / 1e9 / ev,
        "spark.gc_s": whole["gc_ms"] / 1e3,
        "sources.columnar_convert_s": layer["convert_s"],
        "traced.batch_apply_p50_s": med(s.batch_s),
        "traced.lookup_p50_s": med(s.lookup_s),
        "traced.scan_s": med(s.scan_s),
        "trace.spans": float(len(tracer.spans)),
    }


def isolated_passes(w) -> dict[str, float]:
    """Untimed passes of single layers over this run's measured input:
    parse alone, LWW dedup alone (over the parse, cached) and the engine's
    text-to-columnar conversion (``sources.columnar``). A compaction of the
    final table stands in for ``compact_s`` where the timed phase ran none."""
    from concept_catalog_etl_spark.operators.dedup import lww_dedup_with_sideout
    from concept_catalog_etl_spark.operators.envelope import parse_envelope, parse_raw
    from concept_catalog_etl_spark.sources.columnar import convert_binlog_to_columnar

    spark = w.spark
    if w.fmt == "text":
        files = list(w.batches)
        parsed = parse_raw(spark.read.text(files), w.schema)
    else:
        files = w.batches[: w.next_batch]
        parsed = parse_envelope(
            spark.read.option("mergeSchema", "true").parquet(*files), w.schema)
    events = len(files) * w.events_per_batch
    t0 = time.perf_counter()
    parsed.write.format("noop").mode("overwrite").save()
    parse_s = time.perf_counter() - t0
    cached = parsed.persist()
    cached.count()
    t0 = time.perf_counter()
    lww_dedup_with_sideout(cached).write.format("noop").mode("overwrite").save()
    dedup_s = time.perf_counter() - t0
    cached.unpersist()
    text = w.inputs.stream[: len(files)]
    t0 = time.perf_counter()
    convert_binlog_to_columnar(spark, text, w.schema, os.path.join(w.work, "convert"),
                               files_per_group=len(text))
    out = {"events": events, "parse_s": parse_s, "dedup_s": dedup_s,
           "convert_s": time.perf_counter() - t0}
    t0 = time.perf_counter()
    w.table.compact(spark)
    out["compact_s"] = time.perf_counter() - t0
    return out


def main(argv: list[str] | None = None) -> int:
    t_start = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import concept_catalog_etl_spark.streaming.replay  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python-side temporary files (the JVM's connection file among them)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(work, "py-tmp")
    os.makedirs(tempfile.tempdir)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    tracer = Tracer() if args.trace else None

    try:
        spark = start_spark(work, event_log)
        t_spark = time.time() - t_start
        try:
            if tracer:
                tracer.install()
            w = workloads.Workload(spark, args.workload, args.seed, args.seconds, work,
                                   tracer=tracer)
            w.setup()
            t_timed = w.measure()
            setup_s = t_timed - t_start
            layer = isolated_passes(w) if tracer else None
            problems = w.check()
            e2e = w.end_to_end(setup_s)
            if tracer:
                tracer.uninstall()
                tracer.dump(os.path.join(ROOT, ".perfbench",
                                         f"spans-{args.workload}-{args.seed}.json"))
        finally:
            stop_spark(spark)
        metrics = per_layer(w, tracer, event_log, layer) if tracer else e2e
    finally:
        shutil.rmtree(work, ignore_errors=True)
    unit = LAYER_UNITS if tracer else UNITS
    ops = w.ops()
    ops["setup_phases_s"] = {"spark": t_spark, **ops["setup_phases_s"]}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "ops": ops,
                      "end_to_end": e2e, "problems": problems[:20]}))
    print(json.dumps({
        "correct": not problems,
        "attempted": sum(ops["attempted"].values()),
        "failed": sum(ops["failed"].values()),
        "metrics": {k: {"value": v, "unit": unit[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
