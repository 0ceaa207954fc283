#!/usr/bin/env python3
"""Summarises the span files a traced benchmark run writes.

    python3 tools/spans_summary.py SPANS.jsonl [CHANGE_SPANS.jsonl]

A traced run (`perfbench/run.py --trace 1`) writes one JSON line per
engine call to `.bench_build/spans/spans-<workload>-<seed>.jsonl`. Each
line carries the call's wall seconds and the Spark work of the call and
everything it called: jobs, tasks, executor CPU utilisation and
input/output bytes. This prints one row per span name with the count and
the per-call means of those fields. Given two files (parent first, then
change), every mean is printed as `parent>change` followed by the
relative change. Standard library only.
"""
import json
import sys

FIELDS = [("secs", "secs", "{:.3f}"), ("jobs", "jobs", "{:.1f}"), ("tasks", "tasks", "{:.1f}"),
          ("cpu_util", "cpu_util", "{:.3f}"), ("input_bytes", "in_B", "{:.0f}"),
          ("output_bytes", "out_B", "{:.0f}")]


def load(path):
    """span name -> (count, {field: mean}), in first-seen order."""
    rows = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                s = json.loads(line)
                rows.setdefault(s["name"], []).append(s)
    return {name: (len(ss), {k: sum(s.get(k) or 0 for s in ss) / len(ss) for k, _, _ in FIELDS})
            for name, ss in rows.items()}


def delta(p, c):
    return "" if p == 0 else f" ({(c - p) / p:+.0%})"


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    sides = [load(p) for p in sys.argv[1:]]
    names = list(sides[0]) + [n for n in sides[-1] if n not in sides[0]]
    width = max(len(n) for n in names)
    print(f"{'span':{width}s}  {'n':>7s}  " + "  ".join(f"{h:>22s}" for _, h, _ in FIELDS))
    for name in names:
        got = [side.get(name, (0, dict.fromkeys((k for k, _, _ in FIELDS), 0.0))) for side in sides]
        count = "/".join(str(n) for n, _ in got)
        cells = []
        for key, _, fmt in FIELDS:
            vals = [means[key] for _, means in got]
            cell = ">".join(fmt.format(v) for v in vals)
            if len(vals) == 2:
                cell += delta(*vals)
            cells.append(f"{cell:>22s}")
        print(f"{name:{width}s}  {count:>7s}  " + "  ".join(cells))


if __name__ == "__main__":
    main()
