"""Compare two sets of benchmark records, metric by metric.

    python3 perfbench/compare.py --base perfbench/out/A*.json --new perfbench/out/B*.json

For every workload and end-to-end metric: each side's median and
quartile spread, the change of the new median against the base median,
and whether it is worse by more than the metric's bound in
BENCHMARK.json.  Records whose host signatures differ (core count,
SPARK_GRAFT_CPUS, Python, pyspark or Java version) are not ranked: the
command refuses and exits 3.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            rec = json.load(f)
        if rec.get("trace") == 0 and rec.get("metrics"):
            out.append(rec)
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, interquartile range as a share of the median)."""
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / med


def signatures(records: list[dict]) -> set[str]:
    return {json.dumps(r["host"], sort_keys=True) for r in records}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    base, new = load(args.base), load(args.new)
    if not base or not new:
        print("compare: no untraced, correct records on one side",
              file=sys.stderr)
        return 2
    sigs = signatures(base + new)
    if len(sigs) > 1:
        print("compare: host signatures differ; refusing to rank:",
              file=sys.stderr)
        for s in sorted(sigs):
            print("  " + s, file=sys.stderr)
        return 3
    worse = 0
    for wl in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        b = [r for r in base if r["workload"] == wl]
        n = [r for r in new if r["workload"] == wl]
        print(f"{wl}  (base {len(b)} runs, new {len(n)} runs)")
        for m in bench["end_to_end"]:
            bm, bs = spread([r["metrics"][m["name"]] for r in b])
            nm, ns = spread([r["metrics"][m["name"]] for r in n])
            change = (nm - bm) / bm if bm else 0.0
            bad = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            worse += bad
            print(f"  {m['name']:22s} {bm:12.4g} -> {nm:12.4g} {m['unit']:7s}"
                  f" {100 * change:+7.1f}%  spread {100 * bs:4.1f}%/{100 * ns:4.1f}%"
                  f"  bound {100 * m['bound']:.0f}%{'  WORSE' if bad else ''}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
