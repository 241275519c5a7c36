#!/usr/bin/env python3
"""Compare the per-op counts of two traced runs of one workload and seed.

    python3 perfbench/counts.py A.counts.jsonl B.counts.jsonl

A traced run leaves perfbench/.work/<workload>-<seed>-counts.jsonl: one line
per span of each traced op, with the counts that should not depend on the
host (jobs, file-system operations, files added, rewritten or opened). Spans
pair up in order. Prints, per layer, which counts repeated exactly and which
did not, and exits 1 when any count differs. perfbench/baseline/ holds the
committed counts of seed 1.
"""
import json
import sys
from collections import defaultdict


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main():
    a, b = load(sys.argv[1]), load(sys.argv[2])
    if [(x["op"], x["span"]) for x in a] != [(y["op"], y["span"]) for y in b]:
        print("the two runs traced different spans; not comparable")
        return 2
    same = defaultdict(set)
    diff = defaultdict(set)
    for x, y in zip(a, b):
        for k in sorted(set(x) | set(y)):
            if k in ("op", "span"):
                continue
            (same if x.get(k) == y.get(k) else diff)[x["span"]].add(k)
    for span in sorted(set(same) | set(diff)):
        stable = sorted(same[span] - diff[span])
        print(f"{span}: repeats {', '.join(stable) or '-'}"
              + (f"; DIFFERS {', '.join(sorted(diff[span]))}" if diff[span] else ""))
    return 1 if any(diff.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
