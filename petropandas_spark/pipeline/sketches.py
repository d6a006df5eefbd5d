"""Approximate sketches — the 100 TB substitutes for exact operators
whose state would not fit (or whose shuffle would dominate) at scale.

Every sketch here is a bounded-memory, one-pass, partition-mergeable
summary, so each runs as map-side partials + a tiny merge, never a
wide shuffle of raw values:

  * HyperLogLog++ (``approx_count_distinct``) — distinct counts with
    ~1.5 KB of state per group at the default 5% rsd, vs an exact
    COUNT(DISTINCT) whose shuffle carries every distinct value.
  * Count-Min sketch (``df.stat.countMinSketch``) — heavy hitters /
    frequency estimates in eps·n additive error; the sketch is a fixed
    (depth × width) integer grid merged associatively across partitions.
  * Bloom filter (``df.stat.bloomFilter``) — set membership with no
    false negatives; the basis of join pruning: build on the small
    side's keys, drop big-side rows before they ever reach the shuffle.
  * Greenwald-Khanna (``approxQuantile``) — rank-error-bounded
    quantiles in one pass, vs an exact percentile's full sort.

Catalyst automates the Bloom case end-to-end ("runtime filtering",
Spark 3.3+): with :func:`runtime_filter_confs` set, a shuffle join whose
build side is selective gets a ``bloom_filter_agg`` subquery injected
and the probe-side scan filtered by ``might_contain`` before the
exchange — the single biggest shuffle-volume lever for selective
fact-dim joins at 100 TB.  (The defaults only engage when the probe
scan exceeds 10 GB, so small-SF tests lower the threshold to observe
the plan; on a real cluster keep the default.)

Accuracy contracts (asserted in ``tests/test_sketches.py``): HLL
relative error ≲ 3·rsd, CMS over-estimates only and by ≤ eps·n with
probability 1-delta, Bloom has zero false negatives and ~fpp false
positives, GK quantiles are within the requested rank error of exact.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType


def runtime_filter_confs(application_side_scan_threshold: str = "10GB",
                         creation_side_threshold: str = "10MB") -> dict:
    """Session confs that let Catalyst inject Bloom-filter runtime
    pruning into shuffle joins.  Apply with
    ``for k, v in runtime_filter_confs().items(): spark.conf.set(k, v)``.
    """
    return {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            creation_side_threshold,
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold":
            application_side_scan_threshold,
    }


def approx_distinct_by(df: DataFrame, group_cols: list[str], col: str,
                       rsd: float = 0.05) -> DataFrame:
    """Per-group HyperLogLog++ distinct count (``approx_<col>`` column).
    State is O(1) per group regardless of cardinality, so the aggregate
    is fully map-side combinable — the shuffle carries sketches, not
    values.  A small ``rsd`` is costly: HLL++ keeps each register
    group in its own long buffer column, so ``rsd=0.005`` (p = 16)
    plans 6,554 buffer columns and generates ~1.5 MB of Java — seconds
    per call even with the class cached.  For tight estimates use
    :func:`hll_sketch_by` (one binary buffer column at any ``lg_k``)."""
    return df.groupBy(*group_cols).agg(
        F.approx_count_distinct(col, rsd=rsd).alias(f"approx_{col}")
    )


def hll_sketch_by(df: DataFrame, group_cols: list[str], col: str,
                  lg_k: int = 12) -> DataFrame:
    """Per-group Datasketches HLL sketch COLUMN (``hll_<col>``, binary,
    mergeable, order-independent).  This is the incremental form of
    :func:`approx_distinct_by`: store the sketch with each rollup
    (day/partition/run) and later UNION sketches instead of rescanning
    history — at 100 TB yesterday's data is never read again to update a
    distinct count.  State is O(2^lg_k) per group regardless of
    cardinality; the shuffle carries sketches, not values."""
    return df.groupBy(*group_cols).agg(
        F.expr(f"hll_sketch_agg({col}, {lg_k})").alias(f"hll_{col}")
    )


def hll_merge_estimate(sketches: DataFrame, group_cols: list[str],
                       sketch_col: str) -> DataFrame:
    """Union previously stored sketch columns (across runs, or re-grouped
    coarser) and estimate the distinct count — no raw data touched.
    ``hll_union_agg`` is associative and lossless w.r.t. the sketch
    state, so merged estimates equal the single-pass estimate exactly."""
    grouped = (
        sketches.groupBy(*group_cols) if group_cols else sketches.groupBy()
    )
    return grouped.agg(
        F.expr(
            f"CAST(hll_sketch_estimate(hll_union_agg({sketch_col})) AS BIGINT)"
        ).alias("distinct_est")
    )


def heavy_hitters(df: DataFrame, col: str, k: int = 10,
                  eps: float = 0.001, confidence: float = 0.99,
                  seed: int = 1) -> list[tuple]:
    """Top-k frequency estimates over an INTEGRAL column from a
    Count-Min sketch built by the ``count_min_sketch`` SQL aggregate
    (per-partition sketches, merged associatively — the shuffle carries
    one (depth × width) grid per partition, never the values).  Returns
    ``[(value, estimated_count)]`` for the k most frequent *candidate*
    values, candidates taken from a per-partition local top-k union —
    the standard CMS+candidates pattern: the sketch bounds the error of
    any candidate's count, the candidate union bounds what can be
    missed (a true global heavy hitter is a local heavy hitter in at
    least one partition).

    Scale-safe end to end: the candidate set stays DISTRIBUTED — the
    per-partition local top-(4k) lists are deduplicated by a groupBy
    (never collected: at 100 TB the union is 4k × partitions rows,
    driver-OOM-sized), the sketch grid ships executor-side once as a
    broadcast literal and is probed through the pinned binary reader
    (:func:`cms_estimate_long`, the exact path
    :func:`cms_verified_heavy_hitters` uses), and the only driver
    materializations are the serialized sketch and the final k rows of
    a rank-limited sort (``TakeOrdered``).

    BREAKING vs the pre-r12 JVM ``estimateCount`` path: string/byte
    columns are no longer accepted — the pinned binary reader hashes
    64-bit integers only.  Pre-hash strings with ``xxhash64(col)``
    (heavy hitters of the hashed column are heavy hitters of the
    original up to 64-bit collisions) or use an exact groupBy; the
    raise below makes the migration explicit rather than silent."""
    from pyspark.sql.functions import pandas_udf

    if not isinstance(df.schema[col].dataType,
                      (LongType, IntegerType, ShortType, ByteType)):
        raise TypeError(
            f"heavy_hitters probes the pinned CMS reader, which hashes "
            f"64-bit integers; column {col!r} is "
            f"{df.schema[col].dataType.simpleString()} — pre-hash it "
            f"(e.g. xxhash64) or use an exact groupBy"
        )
    blob = bytes(df.select(
        F.expr(f"count_min_sketch({col}, {eps}d, {confidence}d, {seed})")
        .alias("s")
    ).first()["s"])
    _, _, width, hash_a, table = parse_cms(blob)

    @pandas_udf("long")
    def cms_est(s: pd.Series) -> pd.Series:
        x = s.to_numpy(dtype=np.int64, na_value=0)
        return pd.Series(cms_estimate_long(x, hash_a, table, width))

    # candidate set: per-partition top-(4k) by local count, unioned.
    # mapInPandas keeps this one narrow Arrow pass; the groupBy dedup
    # shuffles only the bounded candidate lists, not the values.
    def local_topk(batches):
        for pdf in batches:
            vc = pdf[col].value_counts().head(4 * k)
            yield pd.DataFrame({col: vc.index})

    candidates = df.select(col).mapInPandas(
        local_topk, schema=df.select(col).schema
    ).groupBy(col).agg(F.lit(1).alias("__one")).drop("__one")
    top = (
        candidates.select(col, cms_est(F.col(col)).alias("__est"))
        .orderBy(F.desc("__est"), F.col(col).cast("string"))
        .limit(k)
        .collect()
    )
    return [(r[0], r["__est"]) for r in top]


# -- Spark BloomFilter binary format, evaluated Python-side -----------------
#
# ``DataFrameStatFunctions.bloomFilter`` (JVM) builds the filter with a
# distributed treeAggregate; the driver holds only the serialized bit
# array.  To *apply* it executor-side from Python without shipping py4j
# handles, we re-implement the read path for both on-disk versions
# (big-endian throughout):
#
#   V1: ``int version=1 | int numHashFunctions | int numWords | long[]``
#       Guava scheme — h1 = murmur3_32(key, 0), h2 = murmur3_32(key, h1),
#       bit_i = (h1 + i*h2, flipped if negative) mod bitCount,
#       i in 1..numHash.
#   V2 (Spark 4.x writer): ``int version=2 | int numHashFunctions |
#       int seed | int numWords | long[]``
#       h1 = murmur3_32(key, seed), h2 = murmur3_32(key, h1), then a
#       cumulative 64-bit walk: acc = h1 * Integer.MAX_VALUE;
#       bit_i = ((acc += h2), flipped if negative) mod bitCount,
#       repeated numHash times.
#
# ``test_sketches.py`` pins both paths bit-for-bit against the JVM's own
# ``mightContainLong``.


def _murmur3_32_long(x, seed):
    """Vectorized Guava Murmur3_x86_32.hashLong over an int64 ndarray."""
    def rotl(v, n):
        return (v << np.uint32(n)) | (v >> np.uint32(32 - n))

    def mix_k1(k1):
        k1 = k1 * np.uint32(0xCC9E2D51)
        k1 = rotl(k1, 15)
        return k1 * np.uint32(0x1B873593)

    def mix_h1(h1, k1):
        h1 = h1 ^ k1
        h1 = rotl(h1, 13)
        return h1 * np.uint32(5) + np.uint32(0xE6546B64)

    with np.errstate(over="ignore"):
        low = x.astype(np.uint32)
        high = (x.view(np.uint64) >> np.uint64(32)).astype(np.uint32)
        h1 = mix_h1(seed.astype(np.uint32), mix_k1(low))
        h1 = mix_h1(h1, mix_k1(high))
        h1 = h1 ^ np.uint32(8)
        h1 ^= h1 >> np.uint32(16)
        h1 = h1 * np.uint32(0x85EBCA6B)
        h1 ^= h1 >> np.uint32(13)
        h1 = h1 * np.uint32(0xC2B2AE35)
        h1 ^= h1 >> np.uint32(16)
    return h1


def parse_bloom(blob: bytes):
    """Decode a serialized Spark BloomFilter (V1 or V2) into
    ``(num_hash, seed, words, bit_count)`` — ``words`` a little-endian
    int64 ndarray of the bit array."""
    version, num_hash = struct.unpack(">ii", blob[:8])
    if version == 1:
        seed = 0
        (num_words,) = struct.unpack(">i", blob[8:12])
        offset = 12
    elif version == 2:
        seed, num_words = struct.unpack(">ii", blob[8:16])
        offset = 16
    else:  # pragma: no cover
        raise ValueError(f"unsupported BloomFilter version {version}")
    words = np.frombuffer(blob, dtype=">i8", count=num_words,
                          offset=offset).astype(np.int64)
    return version, num_hash, seed, words, np.int64(num_words * 64)


def bloom_contains_long(x, version, num_hash, seed, words, bit_count):
    """Vectorized membership test for an int64 ndarray against a parsed
    filter — mirrors the JVM's mightContainLong exactly per version."""
    h1 = _murmur3_32_long(x, np.uint32(seed))
    h2 = _murmur3_32_long(x, h1)
    hit = np.ones(len(x), dtype=bool)
    with np.errstate(over="ignore"):
        if version == 1:
            h1s, h2s = h1.astype(np.int32), h2.astype(np.int32)
            for i in range(1, num_hash + 1):
                combined = (h1s + np.int32(i) * h2s).astype(np.int32)
                combined = np.where(combined < 0, ~combined, combined)
                idx = combined.astype(np.int64) % bit_count
                hit &= (words[idx >> np.int64(6)]
                        >> (idx & np.int64(63))) & np.int64(1) == 1
        else:
            hi = h1.astype(np.int32).astype(np.int64)
            lo = h2.astype(np.int32).astype(np.int64)
            acc = hi * np.int64(2147483647)
            for _ in range(num_hash):
                acc = acc + lo
                combined = np.where(acc < 0, ~acc, acc)
                idx = combined % bit_count
                hit &= (words[idx >> np.int64(6)]
                        >> (idx & np.int64(63))) & np.int64(1) == 1
    return hit


def bloom_bits(small: DataFrame, key: str, fpp: float = 0.01) -> bytes:
    """Distributed Bloom-filter build on ``small[key]`` (long column);
    returns the serialized filter (fixed size, independent of row
    count) for use with :func:`membership_filter`."""
    n = small.select(key).distinct().count()
    jbf = small._jdf.stat().bloomFilter(key, max(n, 1), float(fpp))
    jvm = small.sparkSession.sparkContext._jvm
    bos = jvm.java.io.ByteArrayOutputStream()
    jbf.writeTo(bos)
    return bytes(bos.toByteArray())


def membership_filter(big: DataFrame, small: DataFrame, key: str,
                      fpp: float = 0.01) -> DataFrame:
    """Explicit Bloom-filter semi-join pruning: build on ``small[key]``
    (distributed; driver ships only the bit array as a broadcast-sized
    literal), filter ``big`` executor-side in one Arrow-vectorized pass.
    The result is a superset of the exact semi-join (no false
    negatives) — follow with the real join for exactness; the point is
    that only ~fpp of non-matching rows survive to the shuffle.  For
    joins Catalyst can see whole, prefer :func:`runtime_filter_confs`
    and let the optimizer inject the same thing JVM-side."""
    from pyspark.sql.functions import pandas_udf

    blob = bloom_bits(small, key, fpp)
    version, num_hash, seed, words, bit_count = parse_bloom(blob)

    @pandas_udf("boolean")
    def might_contain(s: pd.Series) -> pd.Series:
        x = s.to_numpy(dtype=np.int64, na_value=0)
        hit = bloom_contains_long(x, version, num_hash, seed, words,
                                  bit_count)
        return pd.Series(hit & s.notna().to_numpy())

    return big.filter(might_contain(F.col(key)))


def bloom_pruned_semijoin(fact: DataFrame, keys: DataFrame,
                          fact_key: str, key: str,
                          fpp: float = 0.01) -> DataFrame:
    """Exact semi-join with a Bloom-filter scan prune — the runtime-filter
    pattern made explicit:

    1. ``df.stat.bloomFilter`` builds the filter over ``keys[key]`` with
       a distributed JVM treeAggregate (the shuffle carries merged bit
       arrays, never keys);
    2. the serialized filter prunes the fact scan in one Arrow-vectorized
       pass (:func:`membership_filter`'s pinned reader — Spark exposes no
       public SQL ``might_contain``; the internal ``bloom_filter_agg``
       expression is reachable only through the Catalyst injection confs
       of :func:`runtime_filter_confs`), dropping non-matching rows
       BEFORE the join shuffle;
    3. a real broadcast semi-join removes the ~fpp false positives, so
       the result is EXACTLY the plain semi-join.

    At 100 TB the join shuffle carries only probable matches (~fpp of
    the non-matching fact rows) instead of the whole fact table; the
    filter size depends on the key count and ``fpp``, not on fact size."""
    small = keys.select(F.col(key).alias(fact_key)).distinct()
    pruned = membership_filter(fact, small, fact_key, fpp=fpp)
    return pruned.join(F.broadcast(small), [fact_key], "left_semi")


# -- Spark CountMinSketch binary format, evaluated Python-side --------------
#
# ``count_min_sketch(...)`` (JVM aggregate) serializes as big-endian
# ``int version=1 | long totalCount | int depth | int width |
# long hashA[depth] | long table[depth][width]``.  The row hash is the
# stream-lib scheme Spark inherited: ``h = a*x; h += h >> 32;
# h &= (2^31 - 1); bucket = h % width`` in Java signed-64 arithmetic.
# ``test_sketches.py`` pins this reader value-for-value against the
# JVM's own ``estimateCount``.


def parse_cms(blob: bytes):
    import struct

    version, total, depth, width = struct.unpack(">iqii", blob[:20])
    if version != 1:
        raise ValueError(f"unsupported CountMinSketch version {version}")
    hash_a = np.frombuffer(
        blob[20:20 + depth * 8], dtype=">i8"
    ).astype(np.int64)
    table = np.frombuffer(
        blob[20 + depth * 8:20 + depth * 8 + depth * width * 8], dtype=">i8"
    ).astype(np.int64).reshape(depth, width)
    return total, depth, width, hash_a, table


def cms_estimate_long(x, hash_a, table, width):
    """Vectorized estimate over an int64 ndarray (Java wrap-around
    semantics via numpy int64 overflow)."""
    prime = np.int64((1 << 31) - 1)
    est = None
    with np.errstate(over="ignore"):
        for i in range(table.shape[0]):
            h = hash_a[i] * x
            h = h + (h >> np.int64(32))
            h = h & prime
            c = table[i][h % np.int64(width)]
            est = c if est is None else np.minimum(est, c)
    return est


def cms_verified_heavy_hitters(df: DataFrame, col: str,
                               domain: DataFrame, threshold: int,
                               eps: float = 0.00005,
                               confidence: float = 0.99,
                               seed: int = 1) -> DataFrame:
    """EXACT heavy hitters (``count(*) >= threshold``) via the two-pass
    CMS candidate pattern:

    1. one ``count_min_sketch`` aggregate over the fact column — partial
       per-partition sketches merged associatively, O(1/eps) state, no
       per-group shuffle;
    2. the ``domain`` dimension is probed against the sketch
       EXECUTOR-side (the grid ships once as a broadcast-sized literal;
       an Arrow-vectorized pandas UDF evaluates the pinned reader) — no
       driver collect, so the domain may be arbitrarily large; CMS never
       undercounts, so every true heavy hitter survives — candidates are
       a guaranteed superset;
    3. an exact count restricted to the candidates (broadcast semi-join
       scan filter → a groupBy whose shuffle carries only candidate
       rows) with the final ``>= threshold`` cut.

    Result is hash-identical to the sketch-free ``GROUP BY ... HAVING``
    while shuffling only the heavy tail.  ``eps`` bounds the overcount
    (``eps * N`` w.p. ``confidence``) and therefore the candidate
    excess."""
    from pyspark.sql.functions import pandas_udf

    blob = bytes(
        df.agg(
            F.expr(
                f"count_min_sketch({col}, {eps}d, {confidence}d, {seed})"
            ).alias("s")
        ).first()["s"]
    )
    _, _, width, hash_a, table = parse_cms(blob)

    @pandas_udf("long")
    def cms_est(s: pd.Series) -> pd.Series:
        x = s.to_numpy(dtype=np.int64, na_value=0)
        return pd.Series(cms_estimate_long(x, hash_a, table, width))

    dom_col = domain.columns[0]
    cands = (
        domain.select(F.col(dom_col).alias(col))
        .where(cms_est(F.col(col)) >= F.lit(int(threshold)))
    )
    return (
        df.join(F.broadcast(cands), [col], "semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n_items"))
        .where(F.col("n_items") >= threshold)
    )


def approx_quantiles(df: DataFrame, col: str, probabilities: list[float],
                     relative_error: float = 0.01) -> list[float]:
    """Greenwald-Khanna rank-error-bounded quantiles: one pass, no
    sort, mergeable per-partition summaries of O(1/relative_error)
    size.  The exact counterpart (registered ``events_value_percentiles``)
    costs a per-group sort; at 100 TB use this unless exactness is a
    requirement."""
    return df.approxQuantile(col, probabilities, relative_error)
