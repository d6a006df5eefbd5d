"""The benchmark's workloads: fixed, interleaved schedules of operations
over the generated inputs.

An :class:`Op` builds one DataFrame through the engine's public surface
(a registry query, or the ``pipeline.dedup`` store/probe functions) and
drains it through a sink: Spark's ``noop`` writer, or a store writer.
Every op names the DuckDB oracle SQL its output must hash-match.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

#: tables each workload's generated inputs must provide
TABLES = ("documents", "embeddings", "lineitem", "orders", "supplier")


@dataclass
class Ctx:
    """Per-run state the ops read: session, input dir and store paths."""

    spark: SparkSession
    data_dir: str
    store_dir: str

    def path(self, name: str) -> str:
        return os.path.join(self.store_dir, name)


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable[[Ctx], DataFrame]
    oracle: str
    #: writes the built frame; None drains it through the noop writer
    sink: Callable[[DataFrame, Ctx], None] | None = None
    #: reads back what ``sink`` wrote, for the correctness check
    read_back: Callable[[Ctx], DataFrame] | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    ops: list[Op]
    #: untimed set-up before the warm pass (store writes); may be None
    prepare: Callable[[Ctx], None] | None = None
    #: timed passes the end-to-end metrics are taken over; the loop runs
    #: at least this many
    min_passes: int = 3


def _registry_op(registry, name: str) -> Op:
    spec = registry[name]
    return Op(name, lambda ctx: spec.spark_fn(ctx.spark, ctx.data_dir),
              spec.oracle)


# Interleaved so consecutive ops touch different mineral families and
# tables: garnet/cpx/amphibole end-members, site allocation, the
# functions conversions, THERMOCALC proportions, CIPW and grouped means.
PETRO_CHAINS = [
    "garnet_end_members",
    "to_moles",
    "feldspar_end_members",
    "tc_garnet_proportions",
    "cpx_end_members",
    "cipw_norm_simple",
    "garnet_site_allocation",
    "oxide_means_grouped",
    "amphibole_end_members",
    "feo_to_fe2o3",
    "tc_biotite_proportions",
    "weighted_mean_grouped",
]

# Full-corpus tiers interleaved with the incremental-ingest probes.
# neardup_verdicts runs the LSH candidate tier inside it.
CORPUS_DEDUP = [
    "neardup_verdicts",
    "dedup_components",
    "semantic_incremental_pairs",
    "hamming_incremental_pairs",
    "write_batch_signatures",
]

SETTLED = "doc_id % 10 < 8"
BATCH = "doc_id % 10 >= 8"


def _docs(ctx: Ctx) -> DataFrame:
    return ctx.spark.read.parquet(os.path.join(ctx.data_dir,
                                               "documents.parquet"))


def _media_sigs(docs: DataFrame) -> DataFrame:
    from petropandas_spark.pipeline import multimodal as mm

    return mm.phash_images(
        mm.synthesize_fixture_images(docs.select("doc_id"))
    ).select("doc_id", "dhash")


def _corpus_dedup(registry) -> Workload:
    """The text-dedup tiers over the whole corpus, and the incremental
    ingest of the landing batch (doc_id % 10 >= 8) against a store of
    the settled 80 %, written once in set-up through the public writer.
    Every incremental op mirrors the registry query whose oracle it
    uses; the batch-signature write overwrites one path, so every pass
    does the same work."""
    from petropandas_spark.pipeline import dedup as dd

    def prepare(ctx: Ctx) -> None:
        """Settle 80 % of the corpus into the media store, through the
        public store writer."""
        settled = _docs(ctx).where(SETTLED)
        dd.write_signature_store(_media_sigs(settled), ctx.path("media"))

    def media(ctx: Ctx) -> DataFrame:
        store = dd.read_signature_store(ctx.spark, ctx.path("media"))
        return dd.hamming_incremental_pairs(
            store, _media_sigs(_docs(ctx).where(BATCH)), "dhash", "doc_id",
            max_hamming=3)

    def batch_sigs(ctx: Ctx) -> DataFrame:
        return dd.minhash_signatures_portable(_docs(ctx).where(BATCH))

    def write_batch(df: DataFrame, ctx: Ctx) -> None:
        dd.write_signature_store(df, ctx.path("batch_signatures"))

    def read_batch(ctx: Ctx) -> DataFrame:
        return dd.read_signature_store(ctx.spark,
                                       ctx.path("batch_signatures"))

    from petropandas_spark.registry import _lsh_duck_cands

    sigs_oracle = (f"WITH {_lsh_duck_cands()}\n"
                   f"SELECT * FROM sigs WHERE {BATCH}")
    ops = {op.name: op for op in [
        Op("hamming_incremental_pairs", media,
           registry["media_phash_incremental"].oracle),
        Op("write_batch_signatures", batch_sigs, sigs_oracle,
           sink=write_batch, read_back=read_batch),
    ]}
    return Workload("corpus_dedup", [
        ops.get(name) or _registry_op(registry, name)
        for name in CORPUS_DEDUP
    ], prepare)


def workloads(registry) -> dict[str, Workload]:
    """Every workload by name, over ``registry`` (``build_registry()``)."""
    return {
        # The JIT still speeds these short chains up over the first timed
        # passes (on a slow host about 4.9, 4.0, 3.6, 3.4 s, then
        # 3.1-3.4 s), and a busier host warms more slowly: five passes
        # give each op two samples past the knee.  Over ten seeds, per-op
        # minima over the first 3, 4, 5 and 6 passes spread least at 5.
        "petro_chains": Workload(
            "petro_chains",
            [_registry_op(registry, n) for n in PETRO_CHAINS],
            min_passes=5),
        "corpus_dedup": _corpus_dedup(registry),
    }
