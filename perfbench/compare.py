#!/usr/bin/env python3
"""Compare two sets of benchmark reports (perfbench/.work/results/*.json).

    python3 perfbench/compare.py BASE_REPORT... -- CHANGE_REPORT...

Prints, per workload and end-to-end metric, each side's median and
interquartile range. Refuses when the reports do not share one host stamp
(nproc, local[N], -Xmx) or one workload, seconds and trace setting: a
figure from another host or setting is not comparable.
"""
import json
import statistics
import sys

STAMP = ("nproc", "local", "xmx")


def load(paths):
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def key(r):
    return (r["workload"], r["seconds"], r["trace"]) + tuple(r["host"][k] for k in STAMP)


def summary(xs):
    if len(xs) < 2:
        return f"{xs[0]:.4g} (1 run)"
    q = statistics.quantiles(xs, n=4)
    return f"median {statistics.median(xs):.4g} iqr {q[0]:.4g}..{q[2]:.4g} ({len(xs)} runs)"


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    i = argv.index("--")
    base, change = load(argv[:i]), load(argv[i + 1:])
    keys = {key(r) for r in base + change}
    if not base or not change or len(keys) != 1:
        sys.exit(f"refusing: reports differ in workload, settings or host stamp: {sorted(keys)}")
    for m in sorted(base[0]["e2e"]):
        b = [r["e2e"][m] for r in base]
        c = [r["e2e"][m] for r in change]
        print(f"{base[0]['workload']} {m}: base {summary(b)} | change {summary(c)} | "
              f"ratio of medians {statistics.median(c) / statistics.median(b):.4f}")


if __name__ == "__main__":
    main(sys.argv[1:])
