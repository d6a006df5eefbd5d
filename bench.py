"""Benchmark harness: runs every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the
cores in this process's CPU affinity mask) and prints one
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Timing = full execution to a driver-visible result, but without paying
driver-serialization cost for wide per-row outputs: each query is drained
with a count-style no-op action over its exact result (df.foreach is
wasteful; we use a cheap aggregate over all columns? no — we use
``df.write.format("noop")`` which computes every column and discards rows
executor-side — the standard Spark benchmarking sink).
"""

from __future__ import annotations

import json
import os
import sys
import time

CAPTURE_BUDGET = 1900  # driver keeps only the last ~2000 chars of stdout


def compact_line(total: float, sf: float, timings: dict[str, float],
                 queries_file: str | None,
                 budget: int = CAPTURE_BUDGET) -> str:
    """Final stdout line: same schema as the full result but guaranteed
    to fit the driver's tail-capture window — "queries" filled
    slowest-first with as many entries as fit."""
    compact = {
        "metric": "registry_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries_file": queries_file,
        "queries": {},
    }
    for name, dt in sorted(timings.items(), key=lambda kv: -kv[1]):
        compact["queries"][name] = dt
        if len(json.dumps(compact, separators=(",", ":"))) > budget:
            del compact["queries"][name]
            break
    return json.dumps(compact, separators=(",", ":"))


def bench_session(app_name: str = "petropandas-spark-bench"):
    """The bench's host-derived session: ``local[$SPARK_GRAFT_CPUS]``
    (default: the cores in this process's CPU affinity mask), driver
    heap an eighth of RAM, 32 MB scan splits.  Returns ``(spark, cpus)``;
    ``tools/bench_subset.py`` runs its A/Bs on the same session."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    # an eighth of host RAM, 1-8 GiB (as perfbench sizes it): sf0.1
    # needs a fraction of that, and a heap near all of RAM showed G1
    # full collections as random 30-60 s stalls on single queries
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    driver_mb = max(1024, min(ram_mb // 8, 8192))

    repo = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, repo)

    from pyspark.sql import SparkSession

    # engine-recommended worker-pool configs (UDS transport + preload
    # daemon) now live in the library, not the bench — see
    # petropandas_spark/session.py for the full r14 diagnosis note
    from petropandas_spark.session import apply_worker_pool_confs

    spark = (
        apply_worker_pool_confs(
            SparkSession.builder.master(f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r14 NOTE: coalescePartitions.parallelismFirst=false (size-based
        # AQE coalescing) was evaluated and REJECTED: it removed the
        # near-empty 32-task stages of overhead-bound chains (fuzzy video
        # gate 17.3 -> 6.6 s pre-spread) but serialized compute-dense
        # small-byte stages — the multiprobe verify tiers coalesce their
        # ~1 MB pair shuffles onto 1-2 tasks and the interpreted cosine
        # work runs serially (semantic_neardup_multiprobe_h2 5.1 ->
        # 10.7 s min-of-3, advisory 4m did not recover it).  After the
        # _spread input fixes the overhead-bound chains no longer need
        # it; the stock default keeps every compute-dense stage at full
        # parallelism.
        # sf0.1 tables are single ~30-60 MB parquet files: at the 128 MB
        # default they scan as 1-3 input partitions while 32 cores idle
        # (the CPU-heavy mineral chains ran as one straggler task).
        # 32 MB restores scan parallelism at TEST scale — interleaved
        # min-of-3 A/B over a mixed 10-query subset: 21.6 → 19.5 s, no
        # per-query regression (8 MB over-splits: cosine/minhash pay
        # task overhead).  At 100 TB the default is fine — file count,
        # not file size, provides the parallelism there.
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.driver.memory", f"{driver_mb}m")
        # ~100 queries × many whole-stage-codegen units exhaust the JVM's
        # default 240 MB JIT code cache mid-run; once it fills, late
        # queries execute interpreted (measured 2-5× slower).  Standard
        # Spark tuning: reserve a bigger cache up front.
        #
        # NOTE (r8): the bench deliberately runs a STOCK JIT policy — no
        # -XX:-DontCompileHugeMethods.  The engine no longer emits any
        # whole-stage-codegen method over HotSpot's 8000-bytecode
        # ceiling (sqlgen.codegen_barrier auto-splits wide projection
        # chains; tools/codegen_audit.py verifies 0 flagged), so the
        # numbers here are what a managed cluster without JVM-flag
        # control would see.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # The Python worker-pool re-creation fix (UDS transport +
        # preload daemon) is applied by apply_worker_pool_confs above —
        # engine-level session config since r15 (petropandas_spark/
        # session.py holds the r14 diagnosis note; probe matrix in
        # OPTIMIZATION_r14.md §4, residual closed in OPTIMIZATION_r15.md).
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cpus


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark, cpus = bench_session()

    import __spark_entry__ as e

    qs = e.queries()

    # untimed warmup: absorb one-time JVM/executor startup so the first
    # measured query isn't charged for it (per-query codegen still counts)
    spark.range(1_000_000).selectExpr("sum(id) s").write.format(
        "noop"
    ).mode("overwrite").save()

    # Per-query time = MIN over reps (default 2): this host shows 2-6×
    # single-run swings from VM/host contention (same query 4.3 s and
    # 26 s in back-to-back full runs), so a single sample measures the
    # noise, not the query.  The min is the standard noise-floor
    # estimator; each rep rebuilds the DataFrame from scratch (plan
    # construction included, nothing cached across reps).
    #
    # Reps are INTERLEAVED (whole-registry cycles, min across cycles),
    # not back-to-back per query: a multi-second host-noise window hits
    # consecutive runs of the SAME query, so per-query back-to-back reps
    # record the noise as that query's time (r03's 20 s containment
    # "outlier" was exactly this — an interleaved A/B measured it within
    # 5% of its plan-identical sibling).  Cycling the registry
    # decorrelates the window from any single query; JIT/codegen caches
    # are session-wide, so later cycles stay warm either way.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    timings: dict[str, float] = {}
    for _ in range(reps):
        for name, fn in qs.items():
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if name not in timings or dt < timings[name]:
                timings[name] = dt
            # several pipeline queries persist() intermediates (LSH
            # signatures, candidate pairs) that only matter within the
            # query; dropped between queries so 155 runs don't accumulate
            # storage-memory pressure that GC-thrashes the tail of the run
            # (measured: dedup_components 57s dirty vs ~4s clean)
            spark.catalog.clearCache()
    timings = {n: round(v, 4) for n, v in timings.items()}
    total = sum(timings.values())

    full = {
        "metric": "registry_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": int(cpus),
    }
    # The driver captures only the LAST ~2000 chars of stdout; a
    # full-registry queries map (~5 KB for 135 queries) printed as the
    # final line gets truncated mid-JSON and parses as null (observed
    # BENCH_r02.json).  So: (1) persist the complete result next to the
    # repo, (2) print the complete line FIRST for whole-log readers, and
    # (3) end with a compact line that always fits the capture window —
    # same schema, "queries" filled slowest-first with as many entries
    # as fit, plus a pointer to the full file.
    #
    # Payload contract (r15, VERDICT item 3): the per-cpus file
    # BENCH_full_c{cpus}.json is always written, so a 32-core and an
    # 8-core scaling run coexist on disk and every per-query diff can
    # use the full payload instead of the compact top-56 cut.
    # BENCH_full.json stays for older readers but is NEVER clobbered by
    # a run at a different core count (r14: the 8-core scaling run
    # overwrote the 32-core payload, losing it beyond the top-56).
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    tagged_name = f"BENCH_full_c{int(cpus)}.json"
    queries_file: str | None = tagged_name
    try:
        with open(os.path.join(repo_dir, tagged_name), "w") as fh:
            json.dump(full, fh)
            fh.write("\n")
    except OSError:
        queries_file = None
    legacy_path = os.path.join(repo_dir, "BENCH_full.json")
    legacy_cpus = None
    try:
        with open(legacy_path) as fh:
            legacy_cpus = json.load(fh).get("cpus")
    except (OSError, ValueError):
        pass
    if legacy_cpus is None or legacy_cpus == int(cpus):
        try:
            with open(legacy_path, "w") as fh:
                json.dump(full, fh)
                fh.write("\n")
        except OSError:
            pass
    print(json.dumps(full))

    print(compact_line(total, sf, timings, queries_file))


if __name__ == "__main__":
    main()
