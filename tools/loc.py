#!/usr/bin/env python3
"""Counts the Scala lines under src/main, in the working tree and at a git ref.

    python3 tools/loc.py [REF]        # REF defaults to HEAD

Lines are counted as `wc -l` does: the number of newline bytes in each
file. Every `.scala` file under `src/main` counts, tracked or not. One row
is printed per file whose count differs between REF and the working tree
(REF lines, working-tree lines, delta), then the two totals and the net
change. Run it from anywhere inside the repository. Standard library and
`git` only.
"""
import os
import subprocess
import sys

PREFIX = "src/main/"


def git(root, *args, data=None):
    return subprocess.run(["git", "-C", root, *args], input=data, check=True,
                          capture_output=True).stdout


def at_ref(root, ref):
    """path -> line count of every src/main .scala file at `ref`."""
    names = [n for n in git(root, "ls-tree", "-r", "--name-only", ref, "--",
                            PREFIX).decode().splitlines() if n.endswith(".scala")]
    if not names:
        return {}
    out = git(root, "cat-file", "--batch",
              data="".join(f"{ref}:{n}\n" for n in names).encode())
    counts, pos = {}, 0
    for n in names:
        header_end = out.index(b"\n", pos)
        size = int(out[pos:header_end].split()[2])
        body = out[header_end + 1:header_end + 1 + size]
        counts[n] = body.count(b"\n")
        pos = header_end + 1 + size + 1  # the blob is followed by a newline
    return counts


def in_tree(root):
    """path -> line count of every src/main .scala file on disk."""
    counts = {}
    for d, _, files in os.walk(os.path.join(root, PREFIX)):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    counts[os.path.relpath(p, root)] = fh.read().count(b"\n")
    return counts


def main():
    ref = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    root = git(os.getcwd(), "rev-parse", "--show-toplevel").decode().strip()
    old, new = at_ref(root, ref), in_tree(root)
    width = max([len(p) for p in old.keys() | new.keys()] + [4])
    print(f"{'file':<{width}} {ref:>8} {'tree':>8} {'delta':>7}")
    for p in sorted(old.keys() | new.keys()):
        a, b = old.get(p, 0), new.get(p, 0)
        if a != b:
            print(f"{p:<{width}} {a:>8} {b:>8} {b - a:>+7}")
    a, b = sum(old.values()), sum(new.values())
    print(f"src/main Scala lines: {ref} {a}, working tree {b}, net {b - a:+d}")


if __name__ == "__main__":
    main()
