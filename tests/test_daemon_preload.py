"""The forkserver-preloading worker daemon (r14 optimization).

Spark's PythonWorkerFactory hard-codes a one-minute idle reaper for
pooled Python workers; re-created workers cold-import numpy/pandas/
pyarrow unless the daemon preloads them (see
petropandas_spark/daemon_preload.py and OPTIMIZATION_r14.md).  These
tests pin the module contract and that a session configured with the
daemon actually runs Arrow stages through it.
"""

from __future__ import annotations

import os
import subprocess
import sys


def test_preload_module_contract():
    """Importing the daemon module preloads the heavy libraries and
    re-exports pyspark.daemon's manager unchanged (the -m entry the
    JVM invokes)."""
    import petropandas_spark.daemon_preload as dp
    import pyspark.daemon as pd_daemon

    assert dp.manager is pd_daemon.manager
    for mod in ("numpy", "pandas", "pyarrow"):
        assert mod in sys.modules


def test_arrow_stage_runs_through_preload_daemon():
    """End-to-end in a subprocess (the daemon module must be resolvable
    from the JVM's environment, not the driver's sys.path — so PYTHONPATH
    is set before the JVM starts, exactly as bench.py does): a
    mapInPandas stage computes correctly under the preload daemon."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = """
import sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
    .config("spark.python.daemon.module", "petropandas_spark.daemon_preload")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
df = spark.range(0, 100)
def double(batches):
    for pdf in batches:
        pdf["id"] = pdf["id"] * 2
        yield pdf
out = df.mapInPandas(double, "id long").agg({"id": "sum"}).collect()
print("SUM", out[0][0])
spark.stop()
"""
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    res = subprocess.run(
        [sys.executable, "-c", code], env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "SUM 9900" in res.stdout


def test_session_helper_pins_worker_pool_confs():
    """The engine session helper (r15: the worker-pool fix belongs to
    the library, not the bench) carries exactly the two configs the r14
    probe matrix proved are BOTH needed plus the codegen class-cache
    bound, and applies both sets; bench.py consumes the helper
    instead of spelling raw configs, and the PYTHONPATH export makes
    the daemon module resolvable by the JVM-spawned daemon."""
    from petropandas_spark import session as ps_session

    assert ps_session.WORKER_POOL_CONFS == {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.daemon.module":
            "petropandas_spark.daemon_preload",
    }

    # the builder helper applies every conf and exports the PYTHONPATH
    class FakeBuilder:
        def __init__(self):
            self.confs = {}

        def config(self, k, v):
            self.confs[k] = v
            return self

    b = ps_session.apply_worker_pool_confs(FakeBuilder())
    assert ps_session.CODEGEN_CONFS == {
        "spark.sql.codegen.cache.maxEntries": "4096",
    }
    assert b.confs == {**ps_session.WORKER_POOL_CONFS,
                       **ps_session.CODEGEN_CONFS}
    repo = os.path.dirname(os.path.dirname(
        os.path.abspath(ps_session.__file__)))
    assert repo in os.environ.get("PYTHONPATH", "").split(os.pathsep)

    # bench.py consumes the helper, not raw confs; the subset bench
    # builds its session through bench.bench_session
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for rel, uses in (("bench.py", "apply_worker_pool_confs"),
                      (os.path.join("tools", "bench_subset.py"),
                       "bench_session")):
        with open(os.path.join(root, rel)) as fh:
            src = fh.read()
        assert uses in src, rel
        assert "unix.domain.socket" not in src, rel
