#!/usr/bin/env python3
"""Compare two sets of benchmark side files, metric by metric.

    python3 perfbench/compare.py --base perfbench/.work/results/udf_scan-seed1-trace0.json ... \
                                 --new  other/udf_scan-seed1-trace0.json ...

Prints each metric's median on both sides, the relative change and the
base side's quartile spread. Refuses to compare files that differ in
workload, trace mode or core count: figures from ``local[8]`` say
nothing about ``local[32]``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def _spread(xs: list[float]) -> float:
    med = statistics.median(xs)
    if len(xs) < 2 or not med:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / abs(med)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, new = _load(args.base), _load(args.new)

    keys = {(r["workload"], r["trace"], r["env"]["before"]["nproc"]) for r in base + new}
    if len(keys) != 1:
        print(f"refusing to compare across workloads, trace modes or core counts: {sorted(keys)}", file=sys.stderr)
        return 2
    section = "per_layer" if base[0]["trace"] else "end_to_end"
    print(f"{'metric':34s} {'base':>12s} {'new':>12s} {'change':>8s} {'base IQR':>9s}")
    for name in base[0][section]:
        b = [r[section][name] for r in base]
        n = [r[section][name] for r in new]
        bm, nm = statistics.median(b), statistics.median(n)
        change = f"{(nm - bm) / abs(bm):+.1%}" if bm else "n/a"
        print(f"{name:34s} {bm:12.5g} {nm:12.5g} {change:>8s} {_spread(b):9.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
