"""End-to-end media curation: streaming landing → perceptual-hash
near-dup ingestion → cluster resolution → surviving media set →
feature extraction, plus the audio fingerprint tier.

Usage::

    python examples/media_curation.py /root/testdata/sf0.001 /tmp/media_out

The flow a 100 TB image/audio store runs continuously:

1. objects land as ``(doc_id, content BINARY)`` parquet shards (here:
   deterministic fixture PPMs with planted near-twin families — the
   container has no image corpus; swap the synth stage for the real
   landing bucket and NOTHING downstream changes);
2. ``phash_ingest_stream`` drains the landing dir exactly-once: each
   micro-batch is decoded + perceptually hashed (the ONLY stage that
   touches bytes), quarter-blocked against the 8-byte signature store,
   and the Hamming-gated near-dup pairs land per batch_id.  The gate is
   the EITHER-hash union over (aHash, dHash) — the production gate,
   since the two hashes fail on disjoint transform classes
   (``tools/phash_recall.py``: 1-px translation kills dHash recall
   while aHash holds 0.805; rescale is the mirror) — batch twin:
   ``dedup.hamming_neardup_pairs_either``, registry query
   ``media_phash_neardups_either``;
3. connected components over the landed pair graph pick one keeper per
   duplicate cluster; the surviving media ids are the curated set;
4. survivors (only) flow into the expensive downstream stages — resize
   and featurize — so dedup pays for itself before the first decode of
   the heavy pipeline;
5. the audio tier runs the same shape with
   ``audio_fingerprints`` + ``hamming_incremental_pairs``.

Corrupt objects never kill a batch: ``phash_images(...,
on_error='quarantine')`` routes undecodable blobs to a reject slice
with the error text, the same contract as the JSONL ingest.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main(sf_dir: str, out: str) -> None:
    from petropandas_spark.pipeline import dedup
    from petropandas_spark.pipeline import multimodal as mm
    from petropandas_spark.streaming import corpus as sc

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("media-curation")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # 1. landing directory: two shards, near-twin families spanning the
    #    shard boundary, a few byte-identical re-lands
    landing = os.path.join(out, "landing")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")) \
        .select("doc_id").limit(60)
    media = mm.synthesize_fixture_images(docs)
    media.filter("doc_id % 2 = 0").coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(landing, "batch0"))
    media.filter("doc_id % 2 = 1").coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(landing, "batch1"))

    # 2. exactly-once streaming ingest: decode+hash each batch once,
    #    pair against the signature store, append signatures
    store = os.path.join(out, "phash_store")
    pairs_dir = os.path.join(out, "phash_pairs")
    q = sc.phash_ingest_stream(
        sc.read_media_stream(spark, os.path.join(landing, "*"),
                             max_files_per_trigger=1),
        store, pairs_dir, os.path.join(out, "ckpt"))
    q.awaitTermination(180)
    pairs = sc.read_phash_pairs(spark, pairs_dir)
    print(f"near-dup media pairs landed: {pairs.count()}")

    # 3. cluster resolution → surviving media set (min-id keeper)
    all_ids = spark.read.parquet(os.path.join(landing, "*")) \
        .select("doc_id").distinct()
    comps = dedup.connected_components(
        all_ids, pairs.select("doc_a", "doc_b"),
        id_col="doc_id", a_col="doc_a", b_col="doc_b")
    survivors = comps.where(F.col("doc_id") == F.col("component")) \
        .select("doc_id")
    n_all, n_kept = all_ids.count(), survivors.count()
    print(f"media dedup: kept {n_kept}/{n_all} objects")

    # 4. expensive stages run on survivors only
    kept_media = spark.read.parquet(os.path.join(landing, "*")) \
        .join(survivors, "doc_id", "semi")
    feats = mm.decode_and_featurize(
        mm.resize_images(kept_media, 8, 8).withColumnRenamed(
            "resized", "content"))
    feats.write.mode("overwrite").parquet(os.path.join(out, "features"))
    print(f"featurized survivors: {feats.count()}")

    # 5. audio tier, same shape (batch form shown; the streaming twin
    #    is the same scaffold)
    clips = mm.synthesize_fixture_audio(docs)
    fps = mm.audio_fingerprints(clips).localCheckpoint()
    a_pairs = dedup.hamming_incremental_pairs(
        fps.where("doc_id % 2 = 0").select("doc_id", "afp"),
        fps.where("doc_id % 2 = 1").select("doc_id", "afp"),
        "afp", "doc_id", max_hamming=3)
    print(f"audio near-dup pairs touching the landing batch: "
          f"{a_pairs.count()}")

    # 6. video tier — the MEASURED production gate, streamed: each
    #    micro-batch's containers are parsed ONCE into BOTH fingerprint
    #    tiers (fixed-count sampled + shot-anchored; tier-tagged store
    #    rows), and candidates run the per-tier fuzzy gates unioned.
    #    tools/video_recall.py: the tiers fail on DISJOINT edit classes
    #    (sampling dies on trims, exact hashing on photometric noise);
    #    the union holds 1.0 recall on every measured edit class.
    #    Registered oracle-checked batch twin of THIS gate:
    #    ``media_video_neardups_union`` (tier-tagged rows, per-tier
    #    capped fuzzy gates, greatest-over-fired n_shared); the
    #    per-tier contracts are separately registered as
    #    ``media_video_neardups_fuzzy`` + ``media_video_shots``, and
    #    ``media_video_neardups``/``media_video_stophash`` pin the
    #    exact/cap semantics.
    v_landing = os.path.join(out, "video_landing")
    vids = mm.synthesize_fixture_videos(docs)
    vids.filter("doc_id % 2 = 0").coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(v_landing, "batch0"))
    vids.filter("doc_id % 2 = 1").coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(v_landing, "batch1"))
    vq = sc.video_ingest_stream(
        sc.read_media_stream(spark, os.path.join(v_landing, "*"),
                             max_files_per_trigger=1),
        os.path.join(out, "video_store"),
        os.path.join(out, "video_pairs"),
        os.path.join(out, "video_ckpt"),
        fingerprints="union", max_hash_df=10_000)
    vq.awaitTermination(180)
    v_pairs = sc.read_video_pairs(spark, os.path.join(out, "video_pairs"))
    print(f"video near-dup pairs (union fuzzy gate, streamed): "
          f"{v_pairs.count()}")

    # 7. no silent caps: name what the stop-hash df cap removed — on a
    #    real corpus these rows are the black/fade/title-card frame
    #    classes; an unexpected entry is a decoder bug or fixture
    #    aliasing.  One map-side-combinable aggregate over the landed
    #    8-byte store rows.
    vstore = spark.read.parquet(os.path.join(out, "video_store"))
    dropped = mm.video_stop_hashes(vstore, max_hash_df=10_000)
    print(f"stop-hashes dropped by the df cap: {dropped.count()}")
    print(f"curated media store + features under {out}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001",
         sys.argv[2] if len(sys.argv) > 2 else "/tmp/media_out")
