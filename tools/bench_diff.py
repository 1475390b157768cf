#!/usr/bin/env python3
"""Per-query diff of two graft.Bench file artifacts (SPARK_GRAFT_BENCH_OUT).

    python3 tools/bench_diff.py <before.json> <after.json>

Prints one row per query, sorted by the absolute change of its median:
median before and after (s), the change in s and in %, the classes
compiled inside the timed reps (`query_codegen`) and the jobs and
executor run time (`query_exec`) on each side. A value the artifact does
not carry prints as `-` (an artifact older than the key, or a query one
side did not run or that failed). The last row totals the queries both
sides timed.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def field(art, key, name, sub):
    return art.get(key, {}).get(name, {}).get(sub)


def fmt(v, spec):
    return "-" if v is None else format(v, spec)


def main(argv):
    if len(argv) != 3:
        sys.exit("usage: " + __doc__.strip().splitlines()[2].strip())
    before, after = load(argv[1]), load(argv[2])
    qb, qa = before.get("queries", {}), after.get("queries", {})
    names = sorted(set(qb) | set(qa))

    def delta(n):
        return qa[n] - qb[n] if n in qa and n in qb else None

    # queries on one side only sort last
    names.sort(key=lambda n: (delta(n) is None, -abs(delta(n) or 0.0)))
    cols = ("query", "before_s", "after_s", "delta_s", "delta_%",
            "compiles", "jobs", "cpu_ms")
    print("%-34s %9s %9s %9s %8s %13s %13s %17s" % cols)

    def pair(key, n, sub):
        return "%s/%s" % (fmt(field(before, key, n, sub), "d"),
                          fmt(field(after, key, n, sub), "d"))

    for n in names:
        d = delta(n)
        pct = None if d is None or qb[n] == 0 else 100.0 * d / qb[n]
        print("%-34s %9s %9s %9s %8s %13s %13s %17s" % (
            n, fmt(qb.get(n), ".4f"), fmt(qa.get(n), ".4f"),
            fmt(d, "+.4f"), fmt(pct, "+.1f"),
            pair("query_codegen", n, "compiles"),
            pair("query_exec", n, "jobs"), pair("query_exec", n, "cpu_ms")))

    common = [n for n in names if n in qa and n in qb]
    tb = sum(qb[n] for n in common)
    ta = sum(qa[n] for n in common)

    def total(art, key, sub):
        vs = [field(art, key, n, sub) for n in common]
        return None if None in vs else sum(vs)

    def tpair(key, sub):
        return "%s/%s" % (fmt(total(before, key, sub), "d"),
                          fmt(total(after, key, sub), "d"))

    print("%-34s %9.4f %9.4f %+9.4f %8s %13s %13s %17s" % (
        "TOTAL (%d common)" % len(common), tb, ta, ta - tb,
        fmt(None if tb == 0 else 100.0 * (ta - tb) / tb, "+.1f"),
        tpair("query_codegen", "compiles"), tpair("query_exec", "jobs"),
        tpair("query_exec", "cpu_ms")))


if __name__ == "__main__":
    main(sys.argv)
