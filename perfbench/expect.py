#!/usr/bin/env python3
"""Rebuilds perfbench/expected.tsv, the committed output expectations of
the query ops.

    python3 perfbench/expect.py

Run from the root of a graft checkout, when the query set or the input
tables change. It runs every query op of corpus_dedup in two fresh
JVMs, three times each, and cross-checks the first output against the
DuckDB oracle with tools/check.py, the repository's own oracle compare.
An op is checked by checksum only when its checksum repeated in all six
runs; otherwise by row count, and the file says so.
Nothing is written if any output disagrees with its oracle.
"""
import os
import shutil
import subprocess
import sys

import run

DATA = os.path.join(run.HERE, "data")
EXPECTED = os.path.join(run.HERE, "expected.tsv")


def dump(cp, out_dir):
    work = out_dir + "-work"
    subprocess.run(run.java_command(cp, work) + ["--dump", out_dir],
                   cwd=run.ROOT, check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(out_dir, "checksums.tsv")) as fh:
        return {f[0]: list(zip(f[1::2], f[2::2]))
                for f in (l.rstrip("\n").split("\t") for l in fh) if f[0]}


def main():
    cp = run.build()
    dirs = [os.path.join(run.OUT, "expect-a"), os.path.join(run.OUT, "expect-b")]
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    a, b = dump(cp, dirs[0]), dump(cp, dirs[1])
    chk = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
                          dirs[0], DATA], capture_output=True, text=True)
    print(chk.stdout, end="")
    verdict = {}
    for line in chk.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and not line.startswith("=="):
            verdict[parts[1].rstrip(":")] = parts[0]
    if chk.returncode != 0:
        sys.exit("oracle cross-check failed: expected.tsv left unchanged")
    lines = ["# op\trows\tchecksum\tmode\toracle\tnote"]
    for op, runs in a.items():
        runs = runs + b[op]
        rows = {r for r, _ in runs}
        sums = {s for _, s in runs}
        if len(rows) != 1:
            sys.exit(f"{op}: row count differs between runs: {sorted(rows)}")
        stable = len(sums) == 1
        note = "checksum repeats in 6 runs" if stable else \
            f"checksum differs between runs ({len(sums)} values): rows only"
        lines.append("\t".join([op, rows.pop(), runs[0][1],
                                "hash" if stable else "rows",
                                verdict.get(op, "?"), note]))
    with open(EXPECTED, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    print(f"wrote {EXPECTED}")


if __name__ == "__main__":
    main()
