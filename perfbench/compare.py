#!/usr/bin/env python3
"""Compare two sets of perfbench result records.

    python3 perfbench/compare.py '.perfbench/results/base/*.json' \\
        '.perfbench/results/new/*.json'

For every workload and end-to-end metric present in both sets, prints
each side's median, the change and whether it is worse than the metric's
bound in BENCHMARK.json. Refuses (exit 2) when the records were not all
taken on the same number of CPUs: timings from different core counts are
not comparable.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(pattern: str) -> list[dict]:
    recs = []
    for path in sorted(glob.glob(pattern)):
        with open(path) as fh:
            rec = json.load(fh)
        if not rec.get("trace"):
            recs.append(rec)
    if not recs:
        raise SystemExit(f"no untraced result records match {pattern!r}")
    return recs


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = _load(argv[0]), _load(argv[1])
    nprocs = {r["host"]["nproc"] for r in base + new}
    if len(nprocs) != 1:
        print(f"refusing to compare: records come from nproc {sorted(nprocs)}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    worse_any = False
    workloads = {r["workload"] for r in base} & {r["workload"] for r in new}
    for wl in sorted(workloads):
        for name, m in spec.items():
            a = [r["end_to_end"][name] for r in base if r["workload"] == wl]
            b = [r["end_to_end"][name] for r in new if r["workload"] == wl]
            ma, mb = statistics.median(a), statistics.median(b)
            change = mb / ma - 1.0
            worse = change > m["bound"] if m["better"] == "lower" \
                else -change > m["bound"]
            worse_any |= worse
            print(f"{wl:16s} {name:14s} {ma:12.4g} -> {mb:12.4g} "
                  f"{change:+7.1%} (n={len(a)}/{len(b)})"
                  f"{'  WORSE THAN BOUND' if worse else ''}")
    return 1 if worse_any else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
