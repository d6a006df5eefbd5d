"""The engine session keeps every generated class of a recurring dedup
chain: ``session.CODEGEN_CONFS`` sizes Spark's JVM-wide codegen class
cache (100 entries by default) past the working set, so a second run of
the same chain compiles nothing.

Runs in a subprocess, as ``test_daemon_preload.py`` does: the cache
bound is a static conf, read once when the JVM starts, so it needs a
session of its own built through ``apply_worker_pool_confs``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# A corpus_dedup-shaped pass: LSH candidates, both verify verdicts and
# connected components over them, then the incremental-ingest probe of a
# landing batch against a signature store of the settled 80 %.  It needs
# more distinct classes than the default cache holds, so without the conf
# each run evicts the classes the next run needs first.
_CHAIN = """
import json, random, sys
from pyspark.sql import SparkSession
from petropandas_spark.pipeline import dedup as dd
from petropandas_spark.session import apply_worker_pool_confs

spark = (apply_worker_pool_confs(SparkSession.builder.master("local[2]"))
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
metric = (spark.sparkContext._jvm.org.apache.spark.metrics.source
          .CodegenMetrics.METRIC_COMPILATION_TIME())

rng = random.Random(7)
words = [f"w{i}" for i in range(30)]
rows = [(i, " ".join(rng.choice(words) for _ in range(50)))
        for i in range(60)]
rows += [(i, rows[i - 60][1] + " tail") for i in range(60, 70)]
path = sys.argv[1]
spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)


def chain():
    docs = spark.read.parquet(path)
    verdicts = dd.neardup_verdicts(docs, dd.lsh_candidate_pairs_portable(docs))
    comps = dd.connected_components(docs.select("doc_id"),
                                    verdicts.select("doc_a", "doc_b"))
    store = dd.minhash_signatures_portable(docs.where("doc_id % 10 < 8"))
    incr = dd.lsh_incremental_pairs(store, docs.where("doc_id % 10 >= 8"))
    out = (sorted(map(tuple, comps.collect())),
           sorted(map(tuple, incr.collect())))
    spark.catalog.clearCache()
    return out


runs = []
for _ in range(2):
    n0 = metric.getCount()
    out = chain()
    runs.append({"compiles": metric.getCount() - n0,
                 "merged": sum(1 for d, c in out[0] if d != c),
                 "incremental": len(out[1])})
print("RUNS", json.dumps(runs))
spark.stop()
"""


def test_recurring_dedup_chain_reuses_generated_classes(tmp_path):
    """The first run compiles more classes than the default cache holds;
    the second compiles none.  No residual is allowed: the chain's one
    limit operator, the connected-components convergence check, was the
    only class whose source changed from run to run (a limit names its
    row counter from a JVM-global sequence), and it now counts instead."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    res = subprocess.run(
        [sys.executable, "-c", _CHAIN, str(tmp_path / "docs.parquet")],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    line = next(ln for ln in res.stdout.splitlines()
                if ln.startswith("RUNS "))
    first, second = json.loads(line[len("RUNS "):])
    # the 10 appended copies (at least) merge into other components
    assert first["merged"] == second["merged"] >= 10
    assert first["incremental"] == second["incremental"] > 0
    assert first["compiles"] > 100, first
    assert second["compiles"] == 0, second
