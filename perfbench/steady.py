"""Steadiness check: two sets of runs of the same code, compared.

    python3 perfbench/steady.py --runs 10 [--workload NAME ...]

Runs ``perfbench/run.py`` (``--trace 0``, ``BENCHMARK.json``'s
``run_seconds``) for each workload of ``BENCHMARK.json`` (or those named),
one run at a time. Set 0 uses seeds ``1 ..``, set 1 seeds ``1001 ..``, so
the two sets see different inputs. The sets alternate seed by seed (set 0
seed 1, set 1 seed 1001, set 0 seed 2, ...), so a slow drift of the host
falls on both sets alike, as it does in a comparison of a parent and a
change made in turn.

For every workload and end-to-end metric it prints both sets' medians and
quartiles, the spread ``(q3 - q1) / median`` of each set, the drift
``(median1 - median0) / median0`` and the metric's bound; and per workload
the share of failed operations in each set. A row passes when both spreads
and the absolute drift stay within the bound. Every run's result line, with
the detail line before it, is appended to ``.perfbench/steady-runs.jsonl``;
the report is written to ``.perfbench/steady-report.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2


def run_once(workload: str, seed: int, seconds: int,
             trace: int = 0) -> tuple[dict, dict, float]:
    """One run: its result line, the detail line before it, its wall time."""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2]), wall


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--runs", type=int, default=10, help="runs per set and workload")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    log = os.path.join(ROOT, ".perfbench", "steady-runs.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)

    results = {w: [[] for _ in range(SETS)] for w in workloads}
    walls: list[float] = []
    for i in range(args.runs):
        for w in workloads:
            for k in range(SETS):
                seed = k * 1000 + i + 1
                res, detail, wall = run_once(w, seed, seconds)
                walls.append(wall)
                results[w][k].append(res)
                with open(log, "a") as f:
                    f.write(json.dumps({"workload": w, "set": k, "seed": seed,
                                        "wall_s": wall, **res, "detail": detail}) + "\n")
                print(f"set {k} {w} seed {seed}: {wall:.1f} s wall, correct={res['correct']}",
                      file=sys.stderr, flush=True)

    ok = True
    report = []
    print(f"{'workload':20} {'metric':24} " + " ".join(
        f"{'med' + str(k):>11} {'q1':>11} {'q3':>11} {'spread':>7}" for k in range(SETS))
        + f" {'drift':>7} {'bound':>6}")
    for w in workloads:
        sets = results[w]
        fail_share = [sum(r["failed"] for r in s) / sum(r["attempted"] for r in s) for s in sets]
        correct = all(r["correct"] for s in sets for r in s)
        for m in metrics:
            name = m["name"]
            sums = [summarize([r["metrics"][name]["value"] for r in s]) for s in sets]
            drift = (sums[1]["median"] - sums[0]["median"]) / sums[0]["median"]
            passed = abs(drift) <= m["bound"] and all(x["spread"] <= m["bound"] for x in sums)
            ok &= passed
            report.append({"workload": w, "metric": name, "sets": sums, "drift": drift,
                           "bound": m["bound"], "pass": passed})
            print(f"{w:20} {name:24} " + " ".join(
                f"{x['median']:11.4g} {x['q1']:11.4g} {x['q3']:11.4g} {x['spread']:7.3f}"
                for x in sums) + f" {drift:+7.3f} {m['bound']:6.2f}" + ("" if passed else "  FAIL"))
        same_share = len(set(fail_share)) == 1
        ok &= same_share and correct
        print(f"{w:20} failed share per set {fail_share}  all correct: {correct}")
    print(f"runs: {len(walls)}, wall per run: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    with open(os.path.join(ROOT, ".perfbench", "steady-report.json"), "w") as f:
        json.dump({"seconds": seconds, "runs": args.runs, "sets": SETS,
                   "wall_s": walls, "report": report, "pass": ok}, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
