"""Synthetic 10× scale tier: materialize ten DISJOINT key-shifted copies
of the sf0.1 tables (≈ sf1: 6M lineitem, 50k documents, 20k embeddings,
1M events) and time flagship queries on them, printing one JSON line per
query with the sf0.1 time alongside for the scaling ratio::

    python tools/scale10_sweep.py            # builds .scale10/ once, then times

Copy construction keeps every chain non-degenerate:

* every BIGINT ``*key``/``*_id`` column shifts by ``copy × 10^9`` — the
  ten copies are disjoint subgraphs, so join cardinalities scale exactly
  linearly (10 independent sf0.1 graphs = the sf1 shape);
* document text is vowel-rotated per copy (deterministic ``translate``)
  so the dedup chains see DISTINCT near-miss documents, not ten exact
  duplicates of everything (which would measure the hot-bucket guard,
  not the normal path);
* embeddings get a per-copy epsilon on element 0 — cosine-distinct
  (multiplying the whole vector would be invisible to cosine).

The output dir lives under the repo (``.scale10/``, gitignored) because
the sandbox must not write outside it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(_REPO, ".scale10")
COPIES = 10
SHIFT = 10**9

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# small dims replicated verbatim ONCE (their keys are referenced modulo
# the shift by nothing — region/nation keys are not shifted in the fact
# copies, so keep a single copy to preserve the join fan-in)
UNSHIFTED = {"region", "nation"}

QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_topk",
    "garnet_end_members",
    "doc_stats",
    "dedup_exact",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "jaccard_verified_neardups",
    "repeated_span_pairs",
    "shared_span_extents",
    "span_incremental_pairs",
    "knn_cosine_topk",
    "cosine_neardup_pairs",
    "semantic_dedup_groups",
    "semantic_dedup_groups_scaled",
    "semantic_incremental_pairs",
    "semantic_neardup_multiprobe",
    "semantic_neardup_multiprobe_h2",
    "semantic_epoch_compaction",
    "semantic_dedup_survivors_ranked",
    "semantic_cell_occupancy",
    "corpus_semantic_curated",
    "events_sessionize",
    # r12: LM scoring tier (the r11 verdict asked for ×10 rows), the
    # learned quality filter, and the perceptual-hash media tier
    "doc_lm_cross_entropy",
    "doc_importance_weights",
    "doc_lm_pruned_topk",
    "doc_quality_classifier",
    "media_phash_signatures",
    "media_phash_neardups",
    "media_phash_incremental",
    "media_audio_fingerprints",
    "media_audio_neardups",
    "media_video_neardups",
    # r13: the stop-hash guard query (black-frame fixture, triggering
    # cap) and the registered either-hash union gate
    "media_video_stophash",
    "media_phash_neardups_either",
    # r14: the registered robustness tiers (fuzzy/containment/shots
    # video, multi-offset audio)
    "media_video_neardups_fuzzy",
    "media_video_containment",
    "media_video_shots",
    "media_audio_fp_offsets",
    "media_audio_multioffset",
    "media_video_neardups_union",
    "media_audio_containment",
    "media_video_incremental",
]


def _build(spark) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    os.makedirs(OUT, exist_ok=True)
    for t in TABLES:
        dst = os.path.join(OUT, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        df = spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
        if t in UNSHIFTED:
            df.write.mode("overwrite").parquet(dst)
            continue
        key_cols = [
            f.name for f in df.schema.fields
            if isinstance(f.dataType, LongType)
            and (f.name.endswith("key") or f.name.endswith("_id"))
        ]
        copies = []
        for i in range(COPIES):
            c = df
            for k in key_cols:
                c = c.withColumn(k, F.col(k) + F.lit(i * SHIFT))
            if t == "documents":
                # deterministic per-copy vowel rotation → distinct
                # shingle sets per copy (not ten exact duplicates)
                rot = "aeiouaeiou"[i % 5:i % 5 + 5]
                c = c.withColumn("text", F.expr(
                    f"translate(text, 'aeiou', '{rot}')"))
            if t == "embeddings":
                c = c.withColumn("embedding", F.expr(
                    f"transform(embedding, (x, j) -> CAST(x + "
                    f"IF(j = 0, {i}e-4, 0e0) AS FLOAT))"))
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.repartition(32).write.mode("overwrite").parquet(dst)
        print(f"built {t}: x{1 if t in UNSHIFTED else COPIES}")


def main() -> int:
    if "--clean" in sys.argv[1:]:
        shutil.rmtree(OUT, ignore_errors=True)
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scale10-sweep")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    _build(spark)

    from petropandas_spark.registry import build_registry

    reg = build_registry()

    def run(name: str, sf_dir: str) -> float:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            reg[name].spark_fn(spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            spark.catalog.clearCache()
        return round(best, 3)

    if "--span-full" in sys.argv[1:]:
        # Span tier WITHOUT the prefix cap: the registered span queries
        # pin prefix=400; at 100 TB the interesting regime is
        # full-document grams (prefix=None), where the gram table is
        # doc_chars rows at full resolution and ~doc_chars/window rows
        # after winnowing.  Times the two headline span ops on full
        # text at sf0.1 and ×10, and prints the gram-table volumes so
        # the scale doc can name the data-proportional cost.
        from pyspark.sql import functions as SF

        from petropandas_spark.pipeline import dedup as _dd

        for sf_dir, tag in ((SRC, "sf0.1"), (OUT, "x10")):
            d = spark.read.parquet(os.path.join(sf_dir,
                                                "documents.parquet"))
            chars = d.agg(SF.sum(SF.length("text"))).collect()[0][0]
            fps = _dd.winnow_fingerprints(d, prefix=None).count()
            print(json.dumps({"tier": tag, "doc_chars": int(chars),
                              "winnow_fps": int(fps)}))
            for op in ("repeated_span_pairs", "shared_span_extents"):
                best = None
                for _ in range(2):
                    t0 = time.perf_counter()
                    getattr(_dd, op)(d, prefix=None).write.format(
                        "noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
                    best = dt if best is None else min(best, dt)
                print(json.dumps({"query": f"{op}_fulltext", "tier": tag,
                                  "sec": round(best, 3)}))
        return 0

    only = [a for a in sys.argv[1:] if not a.startswith("-")]
    for name in (only or QUERIES):
        t_01 = run(name, SRC)
        t_10 = run(name, OUT)
        print(json.dumps({
            "query": name, "sf0.1": t_01, "x10": t_10,
            "ratio": round(t_10 / t_01, 2) if t_01 else None,
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
