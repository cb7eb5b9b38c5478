#!/usr/bin/env python3
"""Compare the generated query tables with sf testdata tables.

    python3 perfbench/calibrate.py --sf-dir <testdata>/sf0.01 --scale sf0.01

Not part of a benchmark run.  It reads the given sf directory (read
only), generates the benchmark's tables at the same scale for a few
seeds, and prints for each input: document count, words per document,
vocabulary, near copies, distinct word 3-grams, and for every query of
the ``queries`` workload its result row count and its median warm wall
time.  The README's "Query tables" section records one such comparison.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import data, host  # noqa: E402
from perfbench.workloads import Queries  # noqa: E402


def table_stats(sf_dir: str) -> dict:
    import pyarrow.parquet as pq

    texts = pq.read_table(os.path.join(sf_dir, "documents.parquet")).column("text").to_pylist()
    words = [t.split() for t in texts]
    lens = sorted(len(w) for w in words)
    grams = Counter(
        g for w in words for g in {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    )
    return {
        "docs": len(texts),
        "words p10/p50/p90": "/".join(
            str(lens[int(q * (len(lens) - 1))]) for q in (0.1, 0.5, 0.9)
        ),
        "vocabulary": len({x for w in words for x in w}),
        "near copies": sum(t.endswith(" dup") for t in texts),
        "distinct 3-grams": len(grams),
        "max 3-gram df": max(grams.values()),
    }


def time_queries(spark, sf_dir: str, passes: int) -> dict:
    import __spark_entry__ as entry

    qmap = entry.queries()
    out = {}
    for name in Queries.NAMES:
        walls, rows = [], None
        for _ in range(passes):
            t0 = time.monotonic()
            rows = len(qmap[name](spark, sf_dir).collect())
            walls.append(time.monotonic() - t0)
        out[name] = (rows, statistics.median(walls))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--scale", choices=sorted(data.QUERY_SCALES), required=True)
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()

    host.fit_host()
    inputs = {"sf": args.sf_dir}
    for s in args.seeds.split(","):
        inputs[f"seed {s}"] = data.query_tables_dir(int(s), args.scale)
    spark = host.start_session()
    try:
        for d in inputs.values():  # one uncounted round warms the JVM for all
            time_queries(spark, d, 1)
        results = {k: (table_stats(d), time_queries(spark, d, args.passes))
                   for k, d in inputs.items()}
    finally:
        host.stop_session(spark)

    print(f"| {args.scale} | " + " | ".join(inputs) + " |")
    print("|---" * (len(inputs) + 1) + "|")
    for key in next(iter(results.values()))[0]:
        print(f"| {key} | " + " | ".join(str(r[0][key]) for r in results.values()) + " |")
    for name in Queries.NAMES:
        cells = [f"{r[1][name][0]} rows, {r[1][name][1]:.2f} s" for r in results.values()]
        print(f"| `{name}` | " + " | ".join(cells) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
