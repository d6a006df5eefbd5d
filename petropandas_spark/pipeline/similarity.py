"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k (exact; one broadcast of the query
vector, a narrow scored projection, and a rank-limit — Spark plans
WindowGroupLimit / TakeOrderedAndProject, no global sort materialization).

Scale path: IVF — KMeans (Spark MLlib, trained on a sample) assigns every
vector to a centroid partition; a query probes only the ``n_probe``
nearest centroids, cutting the scan to ``n_probe/k`` of the corpus.  At
100 TB the corpus would additionally be written bucketed/partitioned by
``cluster`` so a probe is partition-pruned I/O, not a filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _hof_dot(a, b):
    """Dot product as one higher-order-function left fold,
    ``aggregate(zip_with(a, b, x*y), 0.0, acc + v)``: the products are
    added left to right from 0.0, the order of the DuckDB oracles'
    left-associated unrolled sums, so every cosine is bit-identical to
    theirs.  Every cosine in this module uses it.  Measured faster than
    a ``dim``-term unrolled ``element_at`` sum at 64 dims: the unrolled
    trees paid more in codegen and duplicated null checks at the join
    sites (8-22 s at sf0.1) than interpreted evaluation (1.5-3.4 s)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cosine(a, b):
    """Cosine of two ``array<double>`` columns."""
    dot = _hof_dot(a, b)
    n1 = F.sqrt(_hof_dot(a, a))
    n2 = F.sqrt(_hof_dot(b, b))
    # try_divide: an all-zero vector has norm 0 and undefined cosine —
    # a plain division aborts the whole job under ANSI mode.  NULL
    # ranks last in top-k (desc is nulls-last) and fails every
    # threshold filter, so zero vectors drop cleanly.
    return F.try_divide(dot, n1 * n2)


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Fallback only — an aggregate is a driver action (one Spark job per
    call).  Callers that know the corpus dimension should pass ``dim=``
    explicitly (the registry does).

    The inferred dim is the MODAL array size, not the first row's: on a
    dirty corpus the first sampled row can itself be the truncated one,
    and a first-row inference would then invert the ``size(v) == dim``
    guard — dropping every valid row and keeping the garbage ones.
    NULL embeddings are left out of the vote: under ANSI mode their size
    is NULL, which would otherwise win on a mostly-NULL corpus and switch
    the guard off.

    The mode is taken over a BOUNDED prefix (``limit``), not the whole
    corpus: a full groupBy(size) is a corpus scan + shuffle — a hidden
    100 TB pre-pass on a default argument.  10k rows pins the mode
    unless >50% of the prefix is dirty, at which point no inference is
    trustworthy and the caller must pass ``dim=``.  Raises
    ``ValueError`` when there is no non-NULL embedding or when two sizes
    tie for the mode."""
    top = (df.where(F.col(vec_col).isNotNull())
           .select(F.size(vec_col).alias("d")).limit(10_000)
           .groupBy("d").count()
           .orderBy(F.desc("count"), F.asc("d")).take(2))
    if not top:
        raise ValueError(f"cannot infer the dimension of {vec_col!r}: no "
                         f"non-NULL embedding; pass dim=")
    if len(top) == 2 and top[0]["count"] == top[1]["count"]:
        raise ValueError(f"cannot infer the dimension of {vec_col!r}: "
                         f"sizes {top[0]['d']} and {top[1]['d']} tie for "
                         f"the mode; pass dim=")
    return top[0]["d"]


# Deterministic pseudo-random hyperplanes for sign-sketch (SimHash-for-
# vectors) LSH.  A plain integer LCG keyed on (plane, dim) gives INTEGER
# weights any engine can reproduce exactly — the DuckDB correctness oracle
# embeds the same literals — with no RNG state.  Sign sketches only need
# weights symmetric about zero and uncorrelated across planes.
#
# The projection itself is computed in QUANTIZED INTEGER arithmetic
# (embedding elements rounded at 1e-9): exact and order-independent, so the
# Spark side may aggregate however is fastest (explode + broadcast-weight
# join + pivoted partial-aggregated SUMs — small codegen units, one shuffle
# carrying id + n_planes longs) while the oracle uses compact unrolled
# sums, and the resulting sign bits still agree bit-for-bit.
_W_RANGE = 1 << 21
EMB_QUANT = 10**9  # |emb| ≲ 1, so q·w sums stay ≪ 2^63 at dim 64


def _mix64(x: int) -> int:
    """splitmix64 finalizer: a full-avalanche integer hash (public
    constant set, Steele et al. 2014)."""
    mask = (1 << 64) - 1
    x = (x * 0x9E3779B97F4A7C15) & mask
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & mask
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & mask
    return x ^ (x >> 31)


def hyperplane_weights(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic hyperplane weights via a full-avalanche hash of the
    flat (plane, element) index.  NOT an affine map: an affine generator
    (w = A·idx + C mod M) makes every plane the previous plane plus a
    constant element-wise shift, so the planes vote near-identically and
    the standard LSH recall curve collapses.  The weights are plain data
    embedded as literals on BOTH engines, so the generator only needs to
    run in Python."""
    return [
        [
            _mix64(p * dim + j + 1) % _W_RANGE - (_W_RANGE >> 1)
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def _as_double(col):
    return F.col(col).cast("array<double>")


def brute_force_topk(df: DataFrame, query: list[float], k: int = 10,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    q = F.array(*[F.lit(float(v)) for v in query]).cast("array<double>")
    scored = df.select(
        id_col, _cosine(_as_double(vec_col), q).alias("cosine")
    )
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


def _exact_cosine_pairs(e: DataFrame, cand: DataFrame, threshold: float,
                        id_col: str, dim: int) -> DataFrame:
    """Shared exact verify stage: join candidate ``(id_a, id_b)`` pairs
    back to ``e`` = ``(id, v: array<double>)``, score cosine with the
    :func:`_hof_dot` left fold (bit-equal to the oracles' left-associated
    unrolled sums — the hash-exact form), filter.  Norms are computed
    once per vector, before the pair joins.

    ``dim`` enforces the dirty-data contract on the ``zip_with`` dot,
    which would otherwise score SAME-LENGTH wrong-dimension rows as if
    they were valid (two truncated ``[1.0]`` vectors zip to cosine 1.0):
    wrong-dimension rows are filtered out of the verify side, so their
    candidate pairs drop at the inner join."""
    normed = e.where(F.size("v") == int(dim)).withColumn(
        "nrm", F.sqrt(_hof_dot(F.col("v"), F.col("v"))))
    na = normed.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"),
                       F.col("nrm").alias("na"))
    nb = normed.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
                       F.col("nrm").alias("nb"))
    return (
        cand.join(na, "id_a").join(nb, "id_b")
        .withColumn("cosine",
                    F.try_divide(_hof_dot(F.col("va"), F.col("vb")),
                                 F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "cosine")
    )


def _quantized_sign_bits(e: DataFrame, W: list[list[int]],
                         id_col: str) -> DataFrame:
    """``(id, v: array<double>)`` → ``(id, bit0..bit{P-1})`` sign bits of
    the quantized-integer hyperplane projections (one bit per plane in
    ``W``).  Quantized projection: explode elements, look each plane's
    weight up in a constant-folded literal array (no row-multiplying
    weight join), then ``len(W)`` plain partial-aggregated integer SUMs —
    exact, order independent, every stage codegen'd; the only shuffle
    carries id + len(W) longs.  ``hyperplane_weights`` keys plane ``p``
    on ``(p, element)`` alone, so ``W[:b]`` of a larger family computes
    the identical first ``b`` bits — callers may size the family to
    their fanout and stay bit-compatible with wider sketches.

    Since r11 no production path calls this: every sketch consumer uses
    the zero-shuffle inline fold (:func:`_sign_cluster_expr`).  Kept as
    the REFERENCE spelling — it is the shape the DuckDB oracles derive
    bits in, and the parity test pins the inline fold against it
    bit-for-bit on clean and dirty rows."""
    n_planes = len(W)
    ex = e.select(
        id_col, F.posexplode("v").alias("j", "val")
    ).select(
        id_col, "j",
        F.expr(f"CAST(ROUND(val * {EMB_QUANT}e0) AS BIGINT)").alias("vq"),
    )
    warrs = [F.array(*[F.lit(w) for w in W[p]]) for p in range(n_planes)]
    terms = ex.select(
        id_col,
        *[
            # try_element_at: a LONGER-than-dim vector explodes to j
            # beyond the literal weight array — NULL that term instead
            # of aborting under ANSI.  Note SUM skips NULL inputs, so
            # the row still gets a REAL bucket over its first dim
            # elements and survives to the candidate stage; the verify
            # stage's corpus-dim filter is what actually drops it
            # (_exact_cosine_pairs dim=).
            (F.col("vq") * F.try_element_at(warrs[p], F.col("j") + 1))
            .alias(f"t{p}")
            for p in range(n_planes)
        ],
    )
    sums = terms.groupBy(id_col).agg(
        *[F.sum(f"t{p}").alias(f"s{p}") for p in range(n_planes)]
    )
    return sums.select(
        id_col,
        *[
            F.when(F.col(f"s{p}") > 0, 1).otherwise(0).alias(f"bit{p}")
            for p in range(n_planes)
        ],
    )


def _sign_cluster_expr(v, W: list[list[int]], bit_offset: int = 0):
    """Blocking-cell id from sign bits as ONE inline narrow projection —
    no posexplode, no groupBy, no join-back (r10 verdict item 5: the
    explode/agg spelling of :func:`_quantized_sign_bits` costs two
    corpus shuffles per assignment pass; this expression costs zero —
    the assignment stage is plan-gated Exchange-free).

    Arithmetic is IDENTICAL to the explode path: per plane ``p`` the
    quantized-integer projection ``Σ_j ROUND(v_j·1e9)::BIGINT·W[p][j]``
    — exact, order-independent integer sums, so the sign bits agree
    bit-for-bit with :func:`_quantized_sign_bits` and with the DuckDB
    oracles' unrolled spellings (pytest-pinned, incl. dirty rows).
    NULL-skipping matches SQL ``SUM`` via ``coalesce(term, 0)``: a NULL
    element, or a length mismatch against the weight array (``zip_with``
    NULL-pads the shorter side), contributes nothing — the row still
    gets a real cell over its valid prefix, and the verify stage's
    corpus-dim filter is what actually drops it.

    Degenerate rows (NULL or EMPTY embedding) get cluster NULL instead
    of being silently dropped — the explode path emitted no sum row for
    them and the inner join erased the row entirely (the r10 ADVICE
    data-drop note); NULL keeps the row visible to library callers, and
    NULL-bucket pairs still die at the verify stage's dim filter
    ("garbage loses its verdict, never fabricates one").

    ``bit_offset`` shifts the emitted bit positions: plane ``p``
    contributes ``2^(bit_offset+p)`` — the epoch-compaction hook
    (:func:`compact_epoch` appends bits ``b_old..b_new-1`` to an
    existing prefix code without recomputing the low bits).

    Shape: ONE expression tree, evaluated once per row — quantize once
    (inner ``transform``), one ``aggregate`` whose accumulator is the
    array of all ``b`` running sums (per element: 1 round + b integer
    multiply-adds — the weight matrix is transposed into per-POSITION
    rows so a single left fold feeds every plane), then a second small
    fold turns the sums array into the bit-weighted code.  A naive
    per-plane spelling re-quantizes the vector b times and re-evaluates
    the aggregate per referencing expression (HOF lambdas are
    interpreted and not CSE'd) — measured slower than the explode path
    it replaces at bench scale; this form is not."""
    b = len(W)
    dim = len(W[0])
    zero = F.lit(0).cast("bigint")
    quant = F.lit(float(EMB_QUANT))

    def sql_array(items):
        # one parsed literal instead of a py4j round trip per element
        return F.expr(f"array({', '.join(items)})")

    # transposed weights: element j's contribution row to all b sums
    wmat = sql_array(
        f"array({', '.join(str(int(W[p][j])) for p in range(b))})"
        for j in range(dim)
    )
    vq = F.transform(v, lambda x: F.round(x * quant).cast("bigint"))
    sums = F.aggregate(
        # zip pads the SHORTER side with NULL: j beyond dim → wrow NULL
        # (no terms, matching the explode path's try_element_at); j
        # beyond len(v) → q NULL → an all-NULL term row.
        F.zip_with(vq, wmat,
                   lambda q, wrow: F.transform(wrow, lambda w: q * w)),
        sql_array(["0L"] * b),
        # coalesce(term, 0) reproduces SQL SUM's NULL-skipping; a NULL
        # term ROW (vector longer than dim) contributes nothing.
        lambda acc, trow: F.when(trow.isNull(), acc).otherwise(
            F.zip_with(acc, trow,
                       lambda a, t: a + F.coalesce(t, zero))),
    )
    # BIGINT throughout: bit 31 of a wide sketch (the 32-plane LSH
    # band code) overflows int32; callers with a bounded fanout cast
    # the result down (cluster stays int in stores and oracles).
    code = F.aggregate(
        F.zip_with(
            sums,
            sql_array(f"{1 << (bit_offset + p)}L" for p in range(b)),
            lambda s, w: F.when(s > 0, w).otherwise(zero),
        ),
        zero,
        lambda acc, x: acc + x,
    )
    return F.when(F.size(v) > 0, code)


def scaled_cells(n_rows: int, target_occupancy: int = 64,
                 min_bits: int = 4, max_bits: int = 16) -> int:
    """Scale-coupled cluster fanout for semantic dedup: the number of
    blocking cells as a deterministic function of the corpus size.

    ``k = max(16, ceil(N / target_occupancy))`` clusters (the SemDeDup
    k∝N sizing rule — fixed k makes per-cell occupancy, and therefore
    the within-cell pair volume, grow QUADRATICALLY with the corpus),
    rounded up to ``cells = 2**ceil(log2 k)`` so the cell id is a sign-
    bit prefix: doubling the corpus adds one blocking bit and expected
    occupancy stays ~``target_occupancy``, making the verify stage's
    pair volume O(N·occupancy) — linear in N.  Pure integer arithmetic
    throughout, so an independent SQL engine reproduces the fanout from
    ``COUNT(*)`` exactly (no float log2 whose last-ulp could flip a
    ceil at a power-of-two boundary).

    The ``max_bits`` clamp bounds the SKETCH WIDTH, not the algebra: at
    the default cap (16 bits = 65,536 cells) occupancy starts growing
    again past ``target_occupancy × 2^16`` ≈ 4.2M vectors — past that,
    raise ``max_bits`` (``hyperplane_weights`` generates any width, and
    each added bit costs one more integer sum in the sketch pass; ~24
    bits covers 10⁹ vectors at occupancy 64).  The REGISTERED oracle
    query keeps 16 because its oracle unrolls one quantized projection
    per bit and the testdata never approaches the cap — a production
    corpus sizes the cap to its scale, the fanout rule is unchanged."""
    k = max(16, -(-n_rows // target_occupancy))
    b = min(max_bits, max(min_bits, (k - 1).bit_length()))
    return 1 << b


def scaled_sign_clusters(df: DataFrame, n_cells: int | None = None,
                         target_occupancy: int = 64,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         dim: int | None = None) -> DataFrame:
    """Assign each vector a scale-coupled blocking cell: ``cluster`` =
    the low ``log2(cells)`` sign bits of its deterministic hyperplane
    sketch (:func:`_quantized_sign_bits`), with ``cells`` derived from
    the corpus count by :func:`scaled_cells` when not given.

    This is the oracle-reproducible counterpart of
    :meth:`IVFIndex.build`'s KMeans assignment for SemDeDup blocking
    (a KMeans fit is not cross-engine reproducible; sign-bit prefixes
    are plain integer comparisons).  Locality: vectors sharing a cell
    agree on every blocking hyperplane's side, the standard cosine-LSH
    guarantee — cross-cell near-dups are the same accepted recall
    tradeoff as cross-cluster misses in centroid SemDeDup.  The count
    is one bounded driver aggregate; at 100 TB the assigned corpus is
    written partitioned by ``cluster`` exactly like a centroid index
    (:meth:`IVFIndex.write_index`), and growing the corpus only APPENDS
    bits — a cell at fanout 2^b is the disjoint union of two cells at
    2^(b+1), so re-blocking after growth is a partition-local split
    (:func:`compact_epoch` — the implemented, pytest-pinned path),
    never a global re-cluster.

    Assignment is ONE inline narrow projection (:func:`_sign_cluster_
    expr`): zero Exchange in the plan (gated by test) — the r10 form
    posexploded to dim× rows, shuffled the sums, then equi-joined the
    cells back to the corpus, i.e. two corpus shuffles per assignment
    pass.  Rows with a NULL or EMPTY embedding keep their row with
    ``cluster`` NULL (the r10 form silently dropped them at the
    join-back); their NULL-bucket pairs still die at the verify stage's
    dim filter.

    Returns ``df`` with a ``cluster`` column (int), ready for
    :func:`within_cluster_cosine_pairs`."""
    dim = dim or _vec_dim(df, vec_col)
    if n_cells is None:
        n_cells = scaled_cells(df.count(), target_occupancy)
    if n_cells < 2 or (n_cells & (n_cells - 1)):
        raise ValueError(f"n_cells must be a power of two >= 2, "
                         f"got {n_cells}")
    b = (n_cells - 1).bit_length()
    W = hyperplane_weights(b, dim)
    return df.withColumn(
        "cluster",
        _sign_cluster_expr(_as_double(vec_col), W).cast("int"))


def compact_epoch(store: DataFrame, n_cells_old: int, n_cells_new: int,
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  cluster_col: str = "cluster",
                  dim: int | None = None) -> DataFrame:
    """Re-block a persisted cell assignment from fanout ``2^b_old`` to
    ``2^b_new`` WITHOUT re-clustering — the epoch-compaction path the
    sign-bit-prefix algebra promises (docstring of
    :func:`scaled_sign_clusters`): because ``hyperplane_weights`` keys
    plane ``p`` on ``(p, element)`` alone, the low ``b_old`` bits of
    the wider code ARE the existing cluster, so compaction only
    computes the APPENDED planes ``b_old..b_new-1`` and adds them as
    high bits:

        cluster_new = cluster_old + Σ_{p=b_old}^{b_new-1} bit_p · 2^p

    Each old cell ``c`` splits into the ``2^(b_new-b_old)`` cells
    ``{c + m·2^b_old}`` — a PARTITION-LOCAL split: the projection is
    one narrow inline pass (:func:`_sign_cluster_expr` at a bit
    offset), zero Exchange in the plan (gated by test), so a store
    written partitioned by cluster re-blocks with no shuffle and no
    global re-cluster.  Invariants pinned by pytest: (a) the compacted
    assignment is row-for-row equal to a fresh
    :func:`scaled_sign_clusters` at ``n_cells_new``; (b)
    ``cluster_new % n_cells_old == cluster_old``; (c)
    :func:`semantic_incremental_pairs` over a compacted store is
    hash-equal to the same query over a fresh full assignment at the
    new fanout.

    Degenerate rows (NULL cluster from a NULL/empty embedding, or a
    NULL embedding against a non-NULL stored cluster) stay NULL — the
    integer add propagates NULL, matching the assignment contract.
    ``n_cells_new == n_cells_old`` is the no-op epoch (returned
    unchanged); shrinking an epoch is refused — merging cells would
    need pair re-derivation, not a split."""
    for name, n in (("n_cells_old", n_cells_old),
                    ("n_cells_new", n_cells_new)):
        if n < 2 or (n & (n - 1)):
            raise ValueError(f"{name} must be a power of two >= 2, "
                             f"got {n}")
    if n_cells_new < n_cells_old:
        raise ValueError(
            f"epoch compaction only grows the fanout (a sign-bit-prefix "
            f"cell SPLITS; merging needs re-derivation): "
            f"{n_cells_old} -> {n_cells_new}")
    if n_cells_new == n_cells_old:
        return store
    b_old = (n_cells_old - 1).bit_length()
    b_new = (n_cells_new - 1).bit_length()
    dim = dim or _vec_dim(store, vec_col)
    W_appended = hyperplane_weights(b_new, dim)[b_old:]
    appended = _sign_cluster_expr(
        _as_double(vec_col), W_appended, bit_offset=b_old)
    return store.withColumn(
        cluster_col, (F.col(cluster_col) + appended).cast("int"))


def multiprobe_cell_pairs(df: DataFrame, threshold: float = 0.3,
                          n_cells: int | None = None,
                          target_occupancy: int = 64,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          dim: int | None = None,
                          max_bucket: int = 10_000,
                          max_hamming: int = 1) -> DataFrame:
    """Multi-probe near-dup pairs over the scale-coupled cells: every
    pair whose cell codes differ in AT MOST ``max_hamming`` sign bits
    is candidate, then exactly verified — the standard multi-probe LSH
    recall recovery (Lv et al., VLDB'07) on the
    :func:`scaled_sign_clusters` fanout.

    Single-cell blocking misses every pair that disagrees on even one
    blocking hyperplane (measured on the synthetic corpus at
    threshold 0.3: recall 0.13 at sf0.01, 0.08 at sf0.1 —
    docs/scale.md r10); tolerating one flipped bit multiplies recall
    several-fold for a CANDIDATE cost multiplier of only
    ``b+1 = O(log N)`` rows per vector, preserving the
    O(N·occupancy·log N) scale algebra — no all-pairs stage anywhere.

    Implementation: each vector lands in its HOME cell as a member and
    in every cell within Hamming distance ``max_hamming`` as a PROBE
    (distance 1: the ``b`` single-bit flips; ``max_hamming=2`` adds
    the ``b(b-1)/2`` two-bit flips — candidate multiplier
    ``1 + b + C(b,2)`` = O(log²N), still never all-pairs); per cell
    the (member × all) grid emits member↔member and member↔probe
    pairs, never probe↔probe (two distance-1 probes in one cell can
    hide a 2-bit gap; under ``max_hamming=2`` every ≤2-bit pair is
    already reached by a member↔probe meeting, so probe↔probe stays
    redundant-or-wrong and stays excluded) — the same role-aware grid
    machinery as the incremental tiers, with the same hot-bucket
    chunk-grid.  A pair meets exactly when its codes differ in
    ≤``max_hamming`` bits, so the result is deterministic and the
    DuckDB oracle reproduces it from
    ``bit_count(xor(cell_a, cell_b)) <= max_hamming`` alone.  Returns
    ``(id_a, id_b, cosine)``, ``id_a < id_b``.

    Sizing ``max_hamming``: at the production SemDeDup threshold
    (cosine ≥ 0.9-0.95) each blocking hyperplane agrees with
    p = 1-θ/π ≈ 0.86-0.90, so Hamming≤1 already catches
    p^b + b·p^(b-1)(1-p) of true pairs; ≤2 is the knob for deeper
    fanouts (large b) or lower thresholds — measured on the planted
    twin corpus in docs/scale.md (recall table, r11)."""
    from petropandas_spark.pipeline.dedup import _incremental_value_pairs

    if max_hamming not in (1, 2):
        raise ValueError(f"max_hamming must be 1 or 2, got {max_hamming}")
    dim = dim or _vec_dim(df, vec_col)
    if n_cells is None:
        n_cells = scaled_cells(df.count(), target_occupancy)
    b = (n_cells - 1).bit_length()
    assigned = scaled_sign_clusters(
        df, n_cells, vec_col=vec_col, id_col=id_col, dim=dim)
    keys = assigned.select(id_col, "cluster")
    home = keys.withColumn("__new", F.lit(True))
    offsets = [1 << j for j in range(b)]
    if max_hamming >= 2:
        offsets += [(1 << i) | (1 << j)
                    for i in range(b) for j in range(i + 1, b)]
    probes = keys.select(
        id_col,
        F.explode(F.array(*[
            F.col("cluster").bitwiseXOR(F.lit(off)) for off in offsets
        ])).alias("cluster"),
    ).withColumn("__new", F.lit(False))
    flagged = home.unionByName(probes).withColumn("__shard", F.lit(0))
    cand = (
        _incremental_value_pairs(flagged, id_col, ["cluster"], max_bucket)
        .select(F.least("a", "b").alias("id_a"),
                F.greatest("a", "b").alias("id_b"))
        .distinct()
    )
    e = df.select(F.col(id_col), _as_double(vec_col).alias("v"))
    return _exact_cosine_pairs(e, cand, threshold, id_col, dim)


def semantic_incremental_pairs(store: DataFrame | None,
                               batch: DataFrame | None = None,
                               threshold: float = 0.3,
                               n_cells: int | None = None,
                               target_occupancy: int = 64,
                               vec_col: str = "embedding",
                               id_col: str = "vec_id",
                               dim: int | None = None,
                               max_bucket: int = 10_000,
                               store_shards: int = 8,
                               batch_assigned: DataFrame | None = None,
                               ) -> DataFrame:
    """Incremental SemDeDup ingestion: cosine near-dup pairs TOUCHING a
    new embedding batch, without re-pairing the settled corpus — the
    semantic-tier sibling of :func:`dedup.lsh_incremental_pairs`
    (MinHash) and the span store's incremental path, sharing their
    flag/shard/chunk-grid bucket machinery.

    ``store`` is the settled corpus.  If it already carries a
    ``cluster`` column (the production shape: the assigned corpus is
    persisted partitioned by cluster, exactly like
    :meth:`IVFIndex.write_index`), ``n_cells`` MUST be passed — it is
    the store's epoch fanout.  Otherwise the store is assigned here at
    ``scaled_cells(|store|)`` (one bounded count).  The batch is always
    signed at the STORE's fanout: a landing batch never re-blocks the
    store — growth re-blocks only at epoch compaction, and because the
    cells are sign-bit prefixes that compaction is a partition-local
    split (see :func:`scaled_sign_clusters`).

    Per cell bucket the (new ids) × (all ids) grid emits exactly the
    pairs with a new member — new↔old and new↔new, never old↔old
    (resolved when the old batches landed); store-side bucket rows are
    salted into ``store_shards`` sub-buckets and hot buckets chunk-grid
    before the quadratic fan-out, the same guards as the MinHash path.
    The exact verify runs only on those candidate pairs.  Result ≡ the
    full scaled-semdedup pair derivation at the store's fanout,
    restricted to pairs touching the batch (the driver oracle checks
    exactly that).  Returns ``(id_a, id_b, cosine)``, ``id_a < id_b``.

    ``store=None`` is the very first batch (nothing settled yet):
    pairs are new↔new only, mirroring ``lsh_incremental_pairs``.
    Callers that already assigned the batch at the store fanout (the
    streaming ingest, which also appends the assignment to the store)
    pass ``batch_assigned`` — ``(id, vec, cluster)`` — to avoid
    signing it twice; ``n_cells`` is then required (the epoch fanout
    both sides were signed at)."""
    from petropandas_spark.pipeline.dedup import (
        _flag_and_shard,
        _incremental_value_pairs,
    )

    if batch_assigned is not None:
        if n_cells is None:
            raise ValueError(
                "batch_assigned requires n_cells (its epoch fanout)")
        assigned_new = batch_assigned
        batch_vecs = batch_assigned
    else:
        if batch is None:
            raise ValueError("pass batch or batch_assigned")
        batch_vecs = batch
        assigned_new = None  # assigned below, once n_cells is known
    dim = dim or _vec_dim(store if store is not None else batch_vecs,
                          vec_col)
    if store is not None and "cluster" in store.columns:
        if n_cells is None:
            raise ValueError(
                "a pre-assigned store requires n_cells (its epoch fanout)")
        assigned_store = store
    elif store is not None:
        if n_cells is None:
            n_cells = scaled_cells(store.count(), target_occupancy)
        assigned_store = scaled_sign_clusters(
            store, n_cells, vec_col=vec_col, id_col=id_col, dim=dim)
    else:
        if n_cells is None:
            raise ValueError(
                "store=None (first batch) requires n_cells — the fanout "
                "is the STORE's epoch property, not the batch's")
        assigned_store = None
    if assigned_new is None:
        assigned_new = scaled_sign_clusters(
            batch, n_cells, vec_col=vec_col, id_col=id_col, dim=dim)
    flagged = _flag_and_shard(
        assigned_new.select(id_col, "cluster"),
        None if assigned_store is None
        else assigned_store.select(id_col, "cluster"),
        F.col(id_col), store_shards,
    )
    cand = (
        _incremental_value_pairs(flagged, id_col, ["cluster"], max_bucket)
        .select(F.least("a", "b").alias("id_a"),
                F.greatest("a", "b").alias("id_b"))
        .distinct()
    )
    e = batch_vecs.select(F.col(id_col), _as_double(vec_col).alias("v"))
    if store is not None:
        e = store.select(
            F.col(id_col), _as_double(vec_col).alias("v")).unionByName(e)
    return _exact_cosine_pairs(e, cand, threshold, id_col, dim)


def lsh_cosine_neardup_pairs(df: DataFrame, threshold: float = 0.2,
                             n_planes: int = 32, bands: int = 4,
                             vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             dim: int | None = None) -> DataFrame:
    """Cosine near-dup pairs via random-hyperplane LSH blocking + exact
    in-bucket verify — the 100-TB-safe shape (every join is an equi-join;
    no all-pairs/nested-loop stage anywhere in the plan).

    1. sketch: ``n_planes`` sign bits of deterministic LCG hyperplane
       projections (one narrow codegen'd pass over the corpus);
    2. block: bits grouped into ``bands`` keys; candidates = equi-self-join
       on (band_id, band_key) — only same-bucket vectors ever meet;
    3. verify: exact cosine on the candidate pairs only
       (:func:`_exact_cosine_pairs`, the :func:`_hof_dot` left fold).

    Recall is the standard LSH curve 1-(1-p^r)^b with p = 1 - θ/π; size
    ``n_planes``/``bands`` for the corpus (more bits per band → smaller
    buckets at scale, more bands → recall).  At production scale the
    sketch table is written bucketed by band key so the self-join is
    shuffle-free.  Deterministic: the DuckDB oracle reproduces the exact
    result (same weights, same FP order) from independent SQL."""
    dim = dim or _vec_dim(df, vec_col)
    rpb = n_planes // bands
    W = hyperplane_weights(n_planes, dim)
    e = df.select(F.col(id_col), _as_double(vec_col).alias("v"))
    # sketch as ONE inline single-fold projection (r11, same rewrite as
    # scaled_sign_clusters): the full n_planes-bit code is one long and
    # each band key is a bit-slice of it — the r10 explode/groupBy
    # spelling shuffled (id + n_planes longs) once per corpus pass; this
    # costs zero shuffles.  codegen_barrier between the code projection
    # and the band slices: CollapseProject would otherwise inline the
    # interpreted fold into all `bands` slice expressions and evaluate
    # it `bands` times per row.  NULL/empty embeddings carry NULL band
    # keys; their NULL-bucket pairs die at the verify dim filter.
    from petropandas_spark.sqlgen import codegen_barrier

    coded = codegen_barrier(
        e.select(id_col, _sign_cluster_expr(F.col("v"), W).alias("__code"))
    )
    keys = coded.select(
        id_col,
        *[
            (F.shiftright(F.col("__code"), b * rpb)
             .bitwiseAND(F.lit((1 << rpb) - 1))).alias(f"band{b}")
            for b in range(bands)
        ],
    )
    stacked = keys.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("k"))
            for b in range(bands)
        ])).alias("bk"),
    ).select(id_col, "bk.band_id", "bk.k")
    # bucket-groupBy pair generation: one shuffle on the band key, no
    # self-join over the (expensive, uncached) projection chain — see
    # dedup._bucket_pairs for the measured rationale.
    from petropandas_spark.pipeline.dedup import _bucket_pairs

    cand = _bucket_pairs(stacked, id_col, ["band_id", "k"]).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    return _exact_cosine_pairs(e, cand, threshold, id_col, dim)


def cosine_neardup_pairs(df: DataFrame, threshold: float = 0.95,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         dim: int | None = None) -> DataFrame:
    """All-pairs cosine above a threshold, for tiny corpora: the exact
    verify stage (:func:`_exact_cosine_pairs`) over every ``id_a <
    id_b`` pair of ``df``'s ids.  O(n²): never run this on a full
    corpus; the registered near-dup query uses
    :func:`lsh_cosine_neardup_pairs`."""
    dim = dim or _vec_dim(df, vec_col)
    ids = df.select(id_col)
    cand = ids.select(F.col(id_col).alias("id_a")).join(
        ids.select(F.col(id_col).alias("id_b")),
        F.col("id_a") < F.col("id_b"))
    e = df.select(F.col(id_col), _as_double(vec_col).alias("v"))
    return _exact_cosine_pairs(e, cand, threshold, id_col, dim)


def within_cluster_cosine_pairs(assigned: DataFrame,
                                threshold: float = 0.3,
                                vec_col: str = "embedding",
                                id_col: str = "vec_id",
                                cluster_col: str = "cluster",
                                dim: int | None = None) -> DataFrame:
    """Exact cosine pairs WITHIN each cluster of a pre-assigned corpus —
    the SemDeDup blocking step (Abbas et al. 2023, "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication"):
    k-means clusters bound the quadratic pair space, so pairwise exact
    cosine runs on O(Σ|cluster|²) instead of O(n²), and cross-cluster
    near-dups are the accepted recall tradeoff.

    Pair generation reuses the bucket-groupBy explosion
    (:func:`dedup._bucket_pairs` — ONE shuffle on the cluster key, no
    self-join, hot-bucket chunk-grid for degenerate clusters); the
    verify stage is :func:`_exact_cosine_pairs`, whose left-fold dot
    matches the DuckDB oracle's unrolled sum bit-for-bit.  At 100 TB the
    assigned corpus is written partitioned by cluster
    (:meth:`IVFIndex.write_index`), so each cluster's pair stage reads
    one directory."""
    from petropandas_spark.pipeline.dedup import _bucket_pairs

    cand = _bucket_pairs(
        assigned.select(F.col(id_col), F.col(cluster_col)),
        id_col, [cluster_col],
    ).select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
    # wrong-dimension rows are assigned cluster NULL and would PAIR in
    # the NULL bucket; the dim filter inside the verify stage drops
    # those pairs at the join (contract: garbage loses its row, never
    # the job, and never fabricates a verdict)
    dim = dim or _vec_dim(assigned, vec_col)
    e = assigned.select(F.col(id_col), _as_double(vec_col).alias("v"))
    return _exact_cosine_pairs(e, cand, threshold, id_col, dim)


class IVFIndex:
    """Inverted-file ANN: KMeans centroids + cluster assignment.

    ``build`` fits MLlib KMeans and returns the corpus with a ``cluster``
    column (cache/persist or write bucketed-by-cluster for reuse);
    ``search`` probes the n_probe nearest centroids only.
    """

    def __init__(self, k: int = 16, seed: int = 42):
        self.k = k
        self.seed = seed
        self.centroids: list[list[float]] | None = None

    @classmethod
    def for_corpus(cls, n_rows: int, target_occupancy: int = 64,
                   seed: int = 42) -> "IVFIndex":
        """The k∝N sizing rule as a constructor: ``k = max(16,
        ceil(n_rows / target_occupancy))`` — per-cell occupancy (and so
        the within-cell pair volume of a SemDeDup verify, or the probe
        cost of a search) stays ~constant as the corpus grows, instead
        of growing linearly per cell / quadratically per pair stage at
        fixed k (measured at ×10 data: 39.5 s fixed-k vs 5.3 s with
        k∝N, docs/scale.md).  :func:`scaled_cells` is the
        oracle-reproducible twin of this rule (power-of-two sign-bit
        cells); this one feeds real KMeans centroids where cross-engine
        reproducibility is not required."""
        return cls(k=max(16, -(-n_rows // target_occupancy)), seed=seed)

    def build(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector, vector_to_array

        feats = df.withColumn("__features",
                              array_to_vector(_as_double(vec_col)))
        model = KMeans(
            k=self.k, seed=self.seed, featuresCol="__features",
            predictionCol="cluster",
        ).fit(feats)
        # plain Python floats: assign() embeds these via repr() into SQL
        # literals, and numpy>=2 reprs np.float64 as 'np.float64(x)'
        self.centroids = [[float(x) for x in c]
                          for c in model.clusterCenters()]
        assigned = model.transform(feats).drop("__features")
        return assigned

    # past this many k·dim distance terms the literal-folded SQL text
    # itself becomes the bottleneck: the plan string grows as k·dim and
    # at k=64, dim=64 (4096 squared-diff terms) Catalyst's plan
    # serialization hit the JVM 2 GB array ceiling outright (measured:
    # OutOfMemoryError "Required array length 2080374782 ... too large"
    # on localCheckpoint of the assigned frame)
    _LITERAL_TERM_CAP = 2048

    # …and a SINGLE fused span past ~166 terms crosses HotSpot's
    # 8000-bytecode JIT ceiling (one squared-diff term compiles to
    # ~48 bytecode; the old single-span 512-term assignment measured
    # 24,370 bytes and ran in the bytecode INTERPRETER on default JVM
    # flags — 6.8 s vs 0.98 s JIT-compiled at 2M×64-dim rows on
    # local[32]).  The literal path therefore splits its distance sums
    # into spans of at most this many terms, separated by
    # sqlgen.codegen_barrier — every generated consume() stays
    # JIT-compilable on a STOCK JVM, no -XX:-DontCompileHugeMethods
    # dependency.  The literal path folds each dim-BLOCK of every
    # centroid's sum into k running accumulator columns (the
    # accumulator is seeded INSIDE the left-associated chain, so the
    # result is bit-equal to one long chain and to the hof fold), and
    # the block's element columns are dropped before the next block —
    # span cost is bounded by block_dim × centroid_group terms plus a
    # CONSTANT number of carried-column writes, independent of dim·k.
    # span budgets, measured at the registered k=8 dim=64 shape:
    # extraction ≈ 165 bytecode/element + ~60/carried-column write,
    # fold ≈ 51/term + ~1k constant — 32/96 keeps every span ≤ ~6.3k
    # with the fewest spans (plan/codegen fixed cost is per-span and
    # dominates on SMALL tables; the per-row path dominates at scale)
    _EXTRACT_PER_SPAN = 32   # element extractions per span
    _SUM_TERMS_PER_SPAN = 96  # squared-diff terms per accumulate span

    def assign(self, df: DataFrame, vec_col: str = "embedding",
               method: str = "auto") -> DataFrame:
        """Assign vectors to the FITTED centroids without re-fitting —
        the incremental-ingest path.  The cluster is the first-minimum
        index, matching MLlib's tie rule (equality with
        ``KMeans.transform`` is pytest-pinned).

        ``method`` selects the distance implementation:

        * ``"literal"`` — k squared-distance sums generated as
          literal-folded SQL (dim·k fused multiply-adds in whole-stage
          codegen; no interpreted higher-order functions), folded
          block-wise into running accumulator columns across
          barrier-separated JIT-safe spans (≤ ``_SUM_TERMS_PER_SPAN``
          terms each) so every generated method compiles on a stock
          JVM.  Fastest per row, but the SQL TEXT grows as k·dim — see
          ``_LITERAL_TERM_CAP``.
        * ``"hof"`` — centroids as ONE array-of-arrays literal (plan
          text linear in k·dim data, not expression nodes) with an
          interpreted ``transform``/``aggregate`` left fold.  Bit-equal
          to the literal path: the fold is the same left-associated sum
          (``0.0 + t0 == t0`` exactly; every squared-diff term is
          ``+0.0``-signed), pinned by test.  The large-k path.
        * ``"auto"`` (default) — ``literal`` while the plan text stays
          bounded (k·dim ≤ ``_LITERAL_TERM_CAP``), ``hof`` beyond —
          both paths are bit-equal, so the pick is pure performance.
        """
        if self.centroids is None:
            raise ValueError("assign() requires a fitted index "
                             "(call build() or set centroids)")
        if method not in ("auto", "literal", "hof"):
            raise ValueError(f"method must be auto|literal|hof, "
                             f"got {method!r}")
        k, dim = len(self.centroids), len(self.centroids[0])
        if method == "auto":
            method = ("literal" if k * dim <= self._LITERAL_TERM_CAP
                      else "hof")
        if method == "hof":
            cents = F.array(*[
                F.array(*[F.lit(float(x)) for x in c])
                for c in self.centroids
            ])
            v = _as_double(vec_col)
            dists = F.transform(cents, lambda c: F.aggregate(
                F.zip_with(v, c, lambda x, cc: (x - cc) * (x - cc)),
                F.lit(0.0), lambda acc, t: acc + t))
            return (
                df.withColumn("__dists", dists)
                .withColumn(
                    "cluster",
                    (F.expr("array_position(__dists, "
                            "array_min(__dists))") - 1).cast("int"),
                )
                .drop("__dists")
            )
        # try_element_at (1-based), not getItem: a truncated vector
        # row aborts the whole assignment job under ANSI; NULL elements
        # flow NULL distances and the garbage row gets an arbitrary
        # (harmless) assignment instead of killing the index build
        from petropandas_spark.sqlgen import codegen_barrier

        # chunked spans throughout: barriers stop CollapseProject from
        # re-fusing, so no generated consume() crosses the JIT ceiling.
        # Per dim-block: one span extracts the block's elements, then
        # centroid-group spans FOLD the block into the k running
        # accumulators (seeded inside the left-associated chain — the
        # final value is bit-identical to one long chain), and the
        # block's element columns are dropped before the next block so
        # carried-column writes stay constant.
        dist_names = [f"__dist{j}" for j in range(k)]
        cur = df.selectExpr("*", *[f"0.0 AS {n}" for n in dist_names])
        cgroup = max(1, self._SUM_TERMS_PER_SPAN // self._EXTRACT_PER_SPAN)
        for e0 in range(0, dim, self._EXTRACT_PER_SPAN):
            hi = min(e0 + self._EXTRACT_PER_SPAN, dim)
            doubles = [
                F.try_element_at(vec_col, F.lit(i + 1)).cast("double")
                .alias(f"d{i}")
                for i in range(e0, hi)
            ]
            cur = codegen_barrier(cur.select("*", *doubles))
            for g in range(0, k, cgroup):
                upd = {}
                for j in range(g, min(g + cgroup, k)):
                    fold = f"__dist{j}"
                    for i in range(e0, hi):
                        c = float(self.centroids[j][i])
                        fold = f"({fold} + (d{i} - {c!r}) * (d{i} - {c!r}))"
                    upd[f"__dist{j}"] = fold
                keep = [f"`{c}`" for c in cur.columns if c not in upd]
                cur = codegen_barrier(cur.selectExpr(
                    *keep, *[f"{e} AS {n}" for n, e in upd.items()]))
            cur = cur.drop(*[f"d{i}" for i in range(e0, hi)])
        return (
            cur.withColumn(
                "__dists", F.expr(f"array({', '.join(dist_names)})"))
            .withColumn(
                "cluster",
                (F.expr("array_position(__dists, array_min(__dists))")
                 - 1).cast("int"),
            )
            .drop("__dists", *dist_names)
        )

    def ingest(self, new_df: DataFrame, path: str,
               vec_col: str = "embedding") -> None:
        """Incremental index maintenance: assign a NEW batch to the
        existing centroids and append it to the partitioned store —
        only the touched cluster directories gain files, nothing is
        rebuilt or rewritten.  At 100 TB this is the difference between
        an ingestion job and re-clustering the corpus.  (Centroids
        drift as the corpus grows — re-fit offline when the assigned
        inertia degrades; the store layout is unchanged by a re-fit
        that keeps k.)"""
        self.assign(new_df, vec_col).write.mode("append") \
            .partitionBy("cluster").parquet(path)

    def _probe_clusters(self, query: list[float], n_probe: int) -> list[int]:
        import math

        def cos(u, v):
            dot = sum(x * y for x, y in zip(u, v))
            nu = math.sqrt(sum(x * x for x in u))
            nv = math.sqrt(sum(x * x for x in v))
            return dot / (nu * nv) if nu and nv else -1.0

        ranked = sorted(
            range(len(self.centroids)),
            key=lambda i: -cos(query, self.centroids[i]),
        )
        return ranked[:n_probe]

    def search(self, assigned: DataFrame, query: list[float], k: int = 10,
               n_probe: int = 4, vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
        """Top-k within the probed clusters (partition-prunable filter)."""
        probes = self._probe_clusters(query, n_probe)
        subset = assigned.filter(F.col("cluster").isin(probes))
        return brute_force_topk(subset, query, k, vec_col, id_col)


    def write_index(self, assigned: DataFrame, path: str,
                    mode: str = "overwrite") -> None:
        """Persist the assigned corpus Hive-partitioned BY CLUSTER: a
        probe then reads only ``n_probe`` of ``k`` directories —
        partition-PRUNED I/O, not a filter over the full store.  At
        100 TB this is the difference between scanning the corpus and
        scanning ``n_probe/k`` of it."""
        assigned.write.mode(mode).partitionBy("cluster").parquet(path)

    def search_store(self, spark, path: str, query: list[float],
                     k: int = 10, n_probe: int = 4,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
        """Top-k over the written index: the ``cluster IN (probes)``
        predicate lands in PartitionFilters (asserted in tests), so
        non-probed clusters are never opened."""
        probes = self._probe_clusters(query, n_probe)
        store = spark.read.parquet(path)
        subset = store.filter(F.col("cluster").isin(probes))
        return brute_force_topk(subset, query, k, vec_col, id_col)


class PQIndex:
    """Product quantization: the embedding-STORAGE scale path.

    A dim-D float vector (4·D bytes) compresses to ``m`` one-byte codes:
    the vector splits into m contiguous subvectors, each quantized to its
    own ``k``-centroid codebook (per-subspace KMeans).  At 100 TB this is
    the difference between shuffling/holding 256 B and ``m`` B per vector
    — the codes table fits in a fraction of the footprint and ADC search
    never touches the raw floats.

    Search is asymmetric distance computation (ADC): the query is NOT
    quantized; a driver-computed (m × k) table of exact
    query-subvector→centroid squared distances is baked into the scored
    projection as array literals, so scoring a row is m codegen'd
    ``element_at`` lookups + adds — no Python, no join, and the scan
    reads only (id, codes).  Top-k via ascending rank-limit
    (TakeOrderedAndProject), same shape as :func:`brute_force_topk`.

    Fit runs m small KMeans jobs (one per subspace) — at real scale fit
    on a sample, encode the full corpus with the fitted codebooks.
    """

    def __init__(self, m: int = 8, k: int = 16, seed: int = 42):
        self.m = m
        self.k = k
        self.seed = seed
        self.codebooks: list[list[list[float]]] | None = None  # [m][k][d_sub]
        self.dim: int | None = None

    def _slices(self, vec_col: str, dim: int):
        d_sub = dim // self.m
        return [F.slice(_as_double(vec_col), j * d_sub + 1, d_sub)
                for j in range(self.m)]

    def fit(self, df: DataFrame, vec_col: str = "embedding",
            dim: int = 64) -> "PQIndex":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        if dim % self.m:
            raise ValueError(f"dim {dim} not divisible by m {self.m}")
        self.dim = dim
        self.codebooks = []
        for j, sl in enumerate(self._slices(vec_col, dim)):
            feats = df.select(array_to_vector(sl).alias("__sub"))
            model = KMeans(k=self.k, seed=self.seed + j,
                           featuresCol="__sub").fit(feats)
            self.codebooks.append([list(c) for c in model.clusterCenters()])
        return self

    def encode(self, df: DataFrame, vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
        """(id, codes array<int>) — nearest-centroid code per subspace,
        computed as unrolled codegen'd squared-distance argmins (one
        narrow projection, no shuffle, no Python)."""
        d_sub = self.dim // self.m
        code_cols = []

        # squared terms as explicit products, not POWER(x, 2): pow is a
        # libm call whose rounding is not pinned across engines, while the
        # single-rounded product is — the DuckDB oracle replays the same
        # left-associated (x-c)*(x-c) sums bit-for-bit (codegen CSEs the
        # repeated difference, so no double evaluation survives).
        def sq(col):
            return col * col

        for j in range(self.m):
            base = j * d_sub
            dists = [
                sum(sq(F.try_element_at(_as_double(vec_col),
                                        F.lit(base + i + 1))
                       - F.lit(c[i])) for i in range(d_sub))
                for c in self.codebooks[j]
            ]
            arr = F.array(*dists)
            code_cols.append(
                (F.array_position(arr, F.array_min(arr)) - 1)
                .cast("int").alias(f"c{j}")
            )
        coded = df.select(F.col(id_col), *code_cols)
        return coded.select(
            id_col,
            F.array(*[F.col(f"c{j}") for j in range(self.m)]).alias("codes"),
        )

    def adc_tables(self, query: list[float]) -> list[list[float]]:
        """Driver-side (m × k) exact query-subvector→centroid squared
        distances — the literals :meth:`search` bakes into the scored
        projection.  Public so an independent oracle can embed the SAME
        literals (single-sourced; products, not pow — see encode())."""
        d_sub = self.dim // self.m
        out = []
        for j in range(self.m):
            sub = query[j * d_sub:(j + 1) * d_sub]
            out.append([
                float(sum((q - c[i]) * (q - c[i]) for i, q in enumerate(sub)))
                for c in self.codebooks[j]
            ])
        return out

    def search(self, codes_df: DataFrame, query: list[float], topk: int = 10,
               id_col: str = "vec_id") -> DataFrame:
        """ADC top-k over the codes table: returns (id, adc_dist) for the
        ``topk`` smallest approximate squared L2 distances."""
        score = F.lit(0.0)
        for j, table in enumerate(self.adc_tables(query)):
            # try_element_at on the codes array: a malformed (short)
            # codes row NULLs the score instead of aborting.  The code
            # VALUE is range-checked too: our encoder emits 0..k-1, but
            # a corrupt/foreign codes store could hold negatives, where
            # index 0 aborts EVEN under try semantics
            # (INVALID_INDEX_OF_ZERO) and index < 0 silently reads from
            # the table's END — both must be NULL, never a job abort or
            # a fabricated distance.
            c = F.try_element_at("codes", F.lit(j + 1))
            score = score + F.when(
                c >= 0, F.try_element_at(F.lit(table), c + 1))
        # asc is NULLS FIRST in Spark — malformed rows must rank LAST,
        # not claim the top-k
        return (codes_df.select(id_col, score.alias("adc_dist"))
                .orderBy(F.asc_nulls_last("adc_dist"), F.asc(id_col))
                .limit(topk))

    def search_rerank(self, codes_df: DataFrame, raw_df: DataFrame,
                      query: list[float], topk: int = 10,
                      shortlist: int | None = None,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
        """The production PQ pattern: ADC over the compact codes table
        produces a shortlist (default 5·topk), then ONLY those rows'
        raw vectors are fetched (broadcast semi-join — the full float
        corpus is never scanned for scoring) and re-ranked exactly.
        Returns (id, dist) for the ``topk`` smallest exact squared L2."""
        shortlist = shortlist or 5 * topk
        cand = self.search(codes_df, query, shortlist, id_col)

        def sq(col):  # see encode(): product, not POWER — engine-pinned
            return col * col

        exact = sum(
            sq(F.try_element_at(_as_double(vec_col), F.lit(i + 1))
               - F.lit(float(q)))
            for i, q in enumerate(query)
        )
        return (raw_df.join(F.broadcast(cand.select(id_col)), id_col)
                .select(id_col, exact.alias("dist"))
                .orderBy(F.asc_nulls_last("dist"), F.asc(id_col))
                .limit(topk))

