#!/usr/bin/env python3
"""Per-query-kind summary of a perfbench span trace.

Usage:

    python3 tools/span_kinds.py perfbench/out/service-seed11.spans.jsonl

A traced perfbench run (`--trace 1`) writes one JSON object per span. Each
query is one root span named `search.<kind>` (parent 0) carrying the
query's `qid`; every Spark job the query ran is a `spark.job.<n>` span
with the same `qid`. For every kind this prints the query count, the
median wall in seconds, and the Spark jobs per query (median, min, max).
"""
import json
import statistics
import sys
from collections import Counter, defaultdict


def summarize(lines):
    """Return {kind: (count, median_wall_s, [jobs per query])}."""
    kinds = {}  # qid -> (kind, wall_s)
    jobs = Counter()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        s = json.loads(line)
        name = s["name"]
        if name.startswith("spark.job."):
            jobs[s["qid"]] += 1
        elif s["parent"] == 0 and name.startswith("search."):
            wall = (s["end_us"] - s["start_us"]) / 1e6
            kinds[s["qid"]] = (name[len("search."):], wall)
    walls, per_query = defaultdict(list), defaultdict(list)
    for qid, (kind, wall) in kinds.items():
        walls[kind].append(wall)
        per_query[kind].append(jobs[qid])
    return {k: (len(walls[k]), statistics.median(walls[k]), per_query[k])
            for k in walls}


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[1]) as fh:
        rows = summarize(fh)
    print(f"{'kind':<10} {'count':>5} {'p50_s':>7} {'jobs_p50':>8} "
          f"{'jobs_min':>8} {'jobs_max':>8}")
    for kind in sorted(rows):
        n, p50, js = rows[kind]
        print(f"{kind:<10} {n:>5} {p50:>7.3f} {statistics.median(js):>8g} "
              f"{min(js):>8} {max(js):>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
