"""Per-layer table from the spans of traced runs.

    python3 perfbench/layers.py perfbench/out/<run>.spans.jsonl [...]

One row per span name, summed over every traced cycle of the given runs
and divided by the number of those cycles: wall time, self time (span
time minus the part its child spans cover), time until the public call
returned, Spark jobs, tasks and task run time the span launched itself
(not through a child span), and the gap during which no job of the span
or its children ran.  The tracing overhead of each run (mean traced
cycle wall over mean untraced cycle wall, cycles interleaved U T T U) is
read from the run's record next to its spans file.
"""

from __future__ import annotations

import json
import os
import sys

from spans import self_times

COLUMNS = ["calls", "s", "self_s", "construct_s", "jobs", "tasks",
           "task_run_s", "gap_s"]


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def table(spans: list[dict]) -> dict[str, dict]:
    """Per span name: the COLUMNS summed over ``spans``."""
    selfs = self_times(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s["name"], dict.fromkeys(COLUMNS, 0.0))
        r["calls"] += 1
        r["s"] += s["end"] - s["start"]
        r["self_s"] += selfs[s["id"]]
        r["construct_s"] += s["returned"] - s["start"]
        for k in ("jobs", "tasks", "task_run_s", "gap_s"):
            r[k] += s.get(k, 0)
    return rows


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__, file=sys.stderr)
        return 2
    spans, cycles = [], 0
    for i, p in enumerate(paths):
        run = load(p)
        # span ids are per run; keep them unique across runs
        for s in run:
            s["id"] = (i, s["id"])
            s["parent"] = None if s["parent"] is None else (i, s["parent"])
        spans += run
        cycles += sum(s["name"] == "cycle" for s in run)
        record = p.removesuffix(".spans.jsonl") + ".json"
        if os.path.exists(record):
            with open(record) as f:
                m = json.load(f).get("metrics", {})
            if "trace.overhead_ratio" in m:
                print(f"{os.path.basename(record)}: tracing overhead "
                      f"{m['trace.overhead_ratio']:.3f}x")
    rows = table(spans)
    print(f"per traced cycle, {cycles} cycles from {len(paths)} run(s)")
    print(f"{'span':36s}" + "".join(f"{c:>12s}" for c in COLUMNS))
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["s"]):
        print(f"{name:36s}" + "".join(f"{r[c] / max(cycles, 1):12.3f}"
                                      for c in COLUMNS))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
