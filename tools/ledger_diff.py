#!/usr/bin/env python3
"""Prints the per-gate differences between two gate ledgers.

    python3 tools/ledger_diff.py A B [--all]

A and B are `ledger.tsv` files written by `graft.Verify` (one row per gate:
jobs, tasks, shuffle write bytes and records, spill bytes), or output
directories holding one. For every gate in either ledger it prints A, B and
B - A for each column; without --all only the gates whose job or task count
differs are listed, then the column totals over the gates both ledgers hold.
A gate present in one ledger only is named on its own line.

It reports and never fails on a difference: shuffle bytes do not repeat
exactly from run to run, and a few gates' job counts vary between runs of
the same commit. Standard library only.
"""
import csv
import os
import sys


def load(path):
    """Gate name -> {column: int}, in file order, plus the column names."""
    if os.path.isdir(path):
        path = os.path.join(path, "ledger.tsv")
    with open(path, newline="") as f:
        rows = list(csv.reader(f, delimiter="\t"))
    cols = rows[0][1:]
    return {r[0]: dict(zip(cols, map(int, r[1:]))) for r in rows[1:] if r}, cols


def main(argv):
    args = [a for a in argv if a != "--all"]
    if len(args) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    (a, cols), (b, _) = load(args[0]), load(args[1])
    both = [g for g in a if g in b]
    print("gate\t" + "\t".join(f"{c}_a\t{c}_b\t{c}_delta" for c in cols))
    for g in both:
        if "--all" in argv or any(a[g][c] != b[g][c] for c in ("jobs", "tasks")):
            print(g + "\t" + "\t".join(
                f"{a[g][c]}\t{b[g][c]}\t{b[g][c] - a[g][c]:+d}" for c in cols))
    for g in a:
        if g not in b:
            print(f"{g}\tonly in A")
    for g in b:
        if g not in a:
            print(f"{g}\tonly in B")
    print(f"\ntotals over {len(both)} gates in both:")
    for c in cols:
        ta, tb = sum(a[g][c] for g in both), sum(b[g][c] for g in both)
        rel = f" ({(tb - ta) / ta:+.2%})" if ta else ""
        print(f"  {c}: {ta} -> {tb}, {tb - ta:+d}{rel}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
