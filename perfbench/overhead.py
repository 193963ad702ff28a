"""Tracing overhead: an untraced and a traced run of the same seed, compared.

    python3 perfbench/overhead.py --seed 1

For each workload of ``BENCHMARK.json`` it runs
``run.py --trace 0`` and ``run.py --trace 1`` with the same seed and run
length, and prints, for the timings both report, the traced value, the
untraced value and the traced run's excess as a share of the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from steady import ROOT, run_once

PAIRS = (("batch_apply_p50_s", "traced.batch_apply_p50_s"),
         ("lookup_p50_s", "traced.lookup_p50_s"),
         ("scan_s", "traced.scan_s"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in [x["name"] for x in bench["workloads"]]:
        plain, _, _ = run_once(w, args.seed, bench["run_seconds"])
        traced, _, _ = run_once(w, args.seed, bench["run_seconds"], trace=1)
        for e2e, tr in PAIRS:
            a = plain["metrics"][e2e]["value"]
            b = traced["metrics"][tr]["value"]
            print(f"{w:20} {e2e:20} traced {b:.4f} untraced {a:.4f} overhead {(b - a) / a:+.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
