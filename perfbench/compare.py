#!/usr/bin/env python3
"""Compare two benchmark results kept by run.py in `.bench_build/results/`.

    python3 perfbench/compare.py <base.json> <new.json>

Refuses (exit 3) when the two environment stamps differ in anything but
the commit, the seed and the load average: a result from another box,
core count, heap, JVM, Spark, input size or run length is not a baseline.
Otherwise prints each metric of both results with its relative change.
"""
import json
import sys

# Stamp fields that may differ between two comparable results.
FREE = {"git_head", "source_digest", "seed", "loadavg_start", "loadavg_end",
        "box_busy_s", "box_steal_s", "op_labels"}


def stamp_differences(a, b):
    keys = (set(a) | set(b)) - FREE
    return sorted(k for k in keys if a.get(k) != b.get(k))


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[1]) as fa, open(argv[2]) as fb:
        base, new = json.load(fa), json.load(fb)
    diff = stamp_differences(base["stamp"], new["stamp"])
    if diff:
        for k in diff:
            print(f"stamp differs in {k}: {base['stamp'].get(k)!r} vs {new['stamp'].get(k)!r}",
                  file=sys.stderr)
        print("refusing to compare results from different environments", file=sys.stderr)
        return 3
    for name, m in sorted(base["result"]["metrics"].items()):
        a = m["value"]
        b = new["result"]["metrics"].get(name, {}).get("value")
        if b is None:
            print(f"{name:40s} {a:14.6g} {'missing':>14s}")
            continue
        rel = (b - a) / a if a else float("nan")
        print(f"{name:40s} {a:14.6g} {b:14.6g} {rel:+8.2%} {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
