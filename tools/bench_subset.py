"""Targeted per-query bench for code-boundary A/Bs (BASELINE.md discipline).

Runs ONLY the named registry queries, min-over-interleaved-reps (same
estimator and session as bench.py), and prints one JSON line.  Use it to A/B two
adjacent commits on the queries a change touches, in the same host
window, instead of comparing whole-round totals across windows::

    python tools/bench_subset.py split_valence_schumacher amphibole_stoichiometry
    SPARK_GRAFT_BENCH_REPS=3 python tools/bench_subset.py tc_clinoamphibole_proportions
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    if not names:
        print("usage: bench_subset.py <query> [query ...]", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    # the same host-derived session as the whole-registry bench
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from bench import bench_session

    spark, _cpus = bench_session("petropandas-spark-bench-subset")

    import __spark_entry__ as e

    qs = e.queries()
    missing = [n for n in names if n not in qs]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2

    spark.range(1_000_000).selectExpr("sum(id) s").write.format(
        "noop"
    ).mode("overwrite").save()

    timings: dict[str, float] = {}
    for _ in range(reps):
        for name in names:
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if name not in timings or dt < timings[name]:
                timings[name] = dt
            spark.catalog.clearCache()
    print(json.dumps({
        "sf_dir": sf_dir, "reps": reps,
        "queries": {n: round(v, 4) for n, v in timings.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
