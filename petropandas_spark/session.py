"""Session-builder helpers: the engine-recommended Spark configs that
belong to the LIBRARY, not to any one benchmark script.

Generated-class cache sized to the engine's working set.  Spark keeps
the classes Janino compiles for whole-stage codegen (and for generated
projections, predicates and orderings) in one JVM-wide cache keyed by
the generated source, ``spark.sql.codegen.cache.maxEntries`` = 100
entries by default.  The engine's recurring plan shapes need more: one
pass of the ``corpus_dedup`` benchmark (near-dup verdicts, connected
components, the semantic and media incremental probes, a signature
store write) walks about 209 distinct classes in the same cyclic order
every pass, so each class was evicted just before it was needed again
and every pass recompiled 191 of them, about 1.9 s of Janino time
(traced per pass: ``neardup_verdicts`` 49, ``dedup_components`` 42,
``semantic_incremental_pairs`` 64, ``hamming_incremental_pairs`` 25,
the signature write 11).  One cycle over the whole 197-query registry
at sf0.01 compiles 1761 distinct classes.  :data:`CODEGEN_CONFS` bounds
the cache at 4096 entries, about 2.3 times that working set, so a
recurring workload compiles each plan shape once: a second registry
cycle compiles 38 classes instead of 2403.  Those 38 fall in seven
top-k, profiling and media queries whose generated source changes from
run to run; the one cause traced is the ``limit`` operator, whose row
counter Spark names from a JVM-global sequence, so no two limit plans
share source (``connected_components`` avoids it for that reason).
The bound is not a reservation: the cache holds only what the session
compiled.  Keeping a full registry cycle's classes loaded costs little
metaspace: 201 MB after one cycle with this bound, 184 MB with the
default cache (4-core host, sf0.01), and the ``corpus_dedup``
benchmark's ``peak_rss_mb`` stayed flat (median 2294 → 2310 MB over 14
interleaved pairs).  The conf is static (Spark reads it once, when the JVM starts), so it
belongs on the session builder, which is why it lives here.

Python worker-pool re-creation fix (r14, promoted into the engine in
r15 — VERDICT item 6).  Spark's ``PythonWorkerFactory`` reaps every
idle pooled Python worker after a HARD-CODED one-minute idle window
(``IDLE_WORKER_TIMEOUT_NS`` — not configurable in 4.1), so the first
Arrow/mapInPandas stage after any >1-minute Python-idle stretch must
re-create its whole worker complement; creations are serialized under
the global ``SparkEnv`` lock, and over the stock TCP+auth handshake
they trickle at ~4/s — a measured 26-71 s stall (thread dumps,
event-log task attribution and process sampling in
``OPTIMIZATION_r14.md`` §4).  Two configs remove the two serial
components, and BOTH are needed (measured one-at-a-time: ~58 s each,
1.7-7.6 s together):

* ``spark.python.unix.domain.socket.enabled=true`` — Spark 4.1's
  unix-domain-socket worker transport: filesystem-permission trust, no
  per-creation TCP connect + auth-secret roundtrip;
* ``spark.python.daemon.module=petropandas_spark.daemon_preload`` — a
  forkserver-style daemon that imports numpy/pandas/pyarrow ONCE so
  forked workers inherit them copy-on-write instead of cold-importing
  ~5 CPU-s of libraries in their first task.

Any long-lived session that runs Python stages more than a minute
apart (ETL DAGs with JVM-only stretches, notebook sessions, the bench)
pays the identical convoy on a real cluster — these are production
configs, not bench shape.
"""

from __future__ import annotations

import os

#: the configs themselves — exposed as data so callers composing their
#: own builder (or spark-submit conf files) can consume them verbatim
WORKER_POOL_CONFS: dict[str, str] = {
    "spark.python.unix.domain.socket.enabled": "true",
    "spark.python.daemon.module": "petropandas_spark.daemon_preload",
}

#: the generated-class cache bound: about 2.3 times the 1761 distinct
#: classes one cycle over the whole registry compiles at sf0.01 (module
#: docstring)
CODEGEN_CONFS: dict[str, str] = {
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def export_daemon_pythonpath() -> None:
    """Make ``petropandas_spark.daemon_preload`` importable by the
    JVM-spawned daemon process.

    The daemon is spawned by the JVM, which only inherits the PROCESS
    environment — the driver's ``sys.path`` additions are shipped to
    workers by the worker protocol but never reach the daemon — so the
    package path must be on ``PYTHONPATH`` before the JVM starts.
    No-op when the package is already importable from the existing
    ``PYTHONPATH``/site-packages (the daemon re-imports it itself)."""
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_dir in existing.split(os.pathsep):
        return
    os.environ["PYTHONPATH"] = (
        pkg_dir + os.pathsep + existing if existing else pkg_dir
    )


def apply_worker_pool_confs(builder):
    """Apply the engine's session confs, :data:`WORKER_POOL_CONFS` and
    :data:`CODEGEN_CONFS`, to a ``SparkSession.Builder`` (and export the
    daemon ``PYTHONPATH``).  This is the one entry point for engine
    confs; its name predates the codegen conf.  Both sets are static
    confs, so they take effect only on a builder that starts the JVM.
    Returns the builder for chaining::

        from petropandas_spark.session import apply_worker_pool_confs
        spark = apply_worker_pool_confs(
            SparkSession.builder.master(...)).getOrCreate()
    """
    export_daemon_pythonpath()
    for k, v in {**WORKER_POOL_CONFS, **CODEGEN_CONFS}.items():
        builder = builder.config(k, v)
    return builder
