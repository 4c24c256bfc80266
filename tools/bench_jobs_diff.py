#!/usr/bin/env python3
"""Compare the per-query Spark job counts of two graft.Bench artifacts.

Usage: python3 tools/bench_jobs_diff.py A.json B.json

Reads the "jobs" map of each bench_out.json (written by graft.Bench,
one count per query, taken from the rep that gave the recorded time)
and prints one line per query whose count differs: name, A, B, B - A.
Job counts do not move with host speed, so a difference is a plan or
code change, not window noise.

Exits 1 when a query appears in only one artifact (each such query is
printed as missing), 2 when an artifact has no "jobs" map, else 0.
"""
import json
import sys


def load_jobs(path):
    """The artifact's query -> jobs map, or None when it has none."""
    with open(path, encoding="utf-8") as f:
        return json.load(f).get("jobs")


def diff(a, b):
    """(changed, missing): changed is [(query, a, b)] for queries in both
    maps whose counts differ; missing is [(query, side)] for queries in
    one map only, side naming the map that lacks it."""
    changed = [(q, a[q], b[q]) for q in sorted(a.keys() & b.keys())
               if a[q] != b[q]]
    missing = sorted([(q, "B") for q in a.keys() - b.keys()] +
                     [(q, "A") for q in b.keys() - a.keys()])
    return changed, missing


def main(argv):
    if len(argv) != 3:
        raise SystemExit(__doc__.strip().splitlines()[2])
    a, b = load_jobs(argv[1]), load_jobs(argv[2])
    for path, jobs in ((argv[1], a), (argv[2], b)):
        if jobs is None:
            print('%s: no "jobs" map' % path, file=sys.stderr)
            return 2
    changed, missing = diff(a, b)
    for q, ja, jb in changed:
        print("%s %d %d %+d" % (q, ja, jb, jb - ja))
    for q, side in missing:
        print("%s missing from %s" % (q, side))
    print("%d of %d shared queries differ in jobs, %d missing"
          % (len(changed), len(a.keys() & b.keys()), len(missing)))
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
