"""Round-7 division-sweep regression pins (docs/robustness.md).

Each test feeds a LEGAL degenerate frame — zero weights, zero-sum ternary
coordinates, an alkali-free feldspar, a zero-norm embedding, a constant-
value event type, an all-empty corpus — through the operator that divides
by the corresponding quantity.  Under Spark's ANSI mode (the Spark 4
default) the pre-guard expressions aborted the whole job with
DIVIDE_BY_ZERO; the contract is "a degenerate row loses its row or carries
NaN/NULL — the job survives", matching the reference's pandas arithmetic
where one exists.  Dual-dialect queries are pinned against DuckDB on the
same dirty frame.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

from petropandas_spark import minerals
from petropandas_spark.frame import PetroFrame, clean_plan, ieee_div_col


def test_weighted_mean_zero_weight_group_flows_nan(spark):
    """A2/A3: grouped.div(weight_sums) with an all-zero-weight group is
    NaN in the reference (``_accessors.py:710-719``), not a job abort."""
    pdf = pd.DataFrame({
        "Sample": ["a", "a", "b", "b"],
        "SiO2": [40.0, 42.0, 39.0, 41.0],
        "MgO": [8.0, 9.0, 7.0, 7.5],
        "wt": [1.0, 3.0, 0.0, 0.0],
    })
    pf = PetroFrame.ingest(spark.createDataFrame(pdf))
    out = (pf.mean(groupby="Sample", weights="wt")
           .df.toPandas().set_index("Sample").sort_index())
    # group a: ordinary weighted mean; group b: 0/0 -> NaN row, job alive
    assert out.loc["a", "SiO2"] == pytest.approx((40.0 + 42.0 * 3) / 4)
    assert math.isnan(out.loc["b", "SiO2"]) and math.isnan(out.loc["b", "MgO"])


def test_ternary_zero_sum_row_flows_nan(spark):
    from petropandas_spark.plotting import ternary_xy

    df = spark.createDataFrame(
        pd.DataFrame({"A": [1.0, 0.0], "B": [1.0, 0.0], "C": [2.0, 0.0]})
    )
    out = ternary_xy(df, "A", "B", "C").toPandas()
    assert out["__tern_y"].iloc[0] == pytest.approx(0.25)
    assert math.isnan(out["__tern_x"].iloc[1])
    assert math.isnan(out["__tern_y"].iloc[1])


def test_feldspar_alkali_free_flows_nan(spark):
    """E3: an M-site-empty feldspar frame row-normalizes to 0/0 — the
    reference's unguarded pandas division gives NaN (``_minerals.py:
    404-416``); one degenerate analysis must not abort the batch."""
    from petropandas_spark import minerals
    from petropandas_spark.frame import clean_plan
    from petropandas_spark.sqlgen import Plan

    pdf = pd.DataFrame({
        "id": [0, 1],
        "SiO2": [60.0, 64.0], "Al2O3": [25.0, 19.0],
        "CaO": [7.0, 0.0], "Na2O": [7.0, 0.0], "K2O": [1.0, 0.0],
    })
    df = spark.createDataFrame(pdf)
    plan, fcols, _ = clean_plan(df.columns)
    minerals.add_feldspar_end_members(plan, fcols, carry=["id"])
    out = plan.apply(df).toPandas().sort_values("id")
    assert out.iloc[0][["An", "Ab", "Or"]].sum() == pytest.approx(100.0)
    assert out.iloc[1][["An", "Ab", "Or"]].isna().all()


def _emb_frame(spark):
    """Four 64-dim embeddings; vec_id 3 is the all-zero dirty row."""
    def vec(fill, first=None):
        v = np.full(64, fill, dtype=np.float32)
        if first is not None:
            v[0] = first
        return [float(x) for x in v]

    pdf = pd.DataFrame({
        "vec_id": [1, 2, 3, 4],
        "label": [0, 0, 1, 1],
        "embedding": [vec(0.1, 1.0), vec(0.1, 0.9), vec(0.0), vec(0.2)],
    })
    return pdf


@pytest.mark.parametrize("which", ["knn", "ivf"])
def test_knn_zero_norm_embedding_ranks_last_both_engines(spark, which):
    """ANN SQL twins: an all-zero embedding has an undefined cosine —
    NULL, ordered last explicitly (Spark DESC defaults NULLS LAST,
    DuckDB NULLS FIRST), never a DIVIDE_BY_ZERO abort."""
    from petropandas_spark import registry as R

    pdf = _emb_frame(spark)
    spark.createDataFrame(pdf).createOrReplaceTempView("embeddings")
    spark_sql = (R.EMB_KNN_SPARK if which == "knn"
                 else R._ivf_sql(R.SPARK, n_probe=2, topk=10))
    duck_sql = (R.EMB_KNN_DUCK if which == "knn"
                else R._ivf_sql(R.DUCKDB, n_probe=2, topk=10))
    got = [(r.vec_id, r.cosine) for r in spark.sql(spark_sql).collect()]
    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = con.execute(duck_sql).fetchall()
    con.close()
    spark.catalog.dropTempView("embeddings")
    assert [g[0] for g in got] == [w[0] for w in want]
    # the zero vector is present but ranked last with an undefined cosine
    assert got[-1][0] == 3 and got[-1][1] is None
    assert got[0][0] == 2  # the near-duplicate of the query vector leads


def test_corr_constant_value_group_is_nan_both_engines(spark):
    from petropandas_spark import registry as R

    n = 25
    pdf = pd.DataFrame({
        "event_id": range(2 * n),
        "event_type": ["flat"] * n + ["vary"] * n,
        # constant value -> zero variance -> undefined correlation
        "value": [5.0] * n + [float(i % 7) for i in range(n)],
        "ts": [1_700_000_000_000_000_000 + i * 3_600_000_000_000
               for i in range(2 * n)],
    })
    spark.createDataFrame(pdf).createOrReplaceTempView("events")
    got = {r.event_type: r.corr_value_hour
           for r in spark.sql(
               R._CORR.format(src="events", div="DIV")).collect()}
    con = duckdb.connect()
    con.register("events", pdf)
    want = dict(con.execute(
        R._CORR.format(src="events", div="//")
    ).df()[["event_type", "corr_value_hour"]].itertuples(index=False))
    con.close()
    spark.catalog.dropTempView("events")
    assert math.isnan(got["flat"]) and math.isnan(want["flat"])
    assert not math.isnan(got["vary"])
    assert got["vary"] == want["vary"]


def test_mixture_all_empty_corpus_keeps_everything_both_engines(spark):
    """Degenerate corpus: every source's mean quality is 0 — the quality
    ratio pins to 1 (keep all 1000 buckets) instead of aborting on 0/0."""
    from petropandas_spark import registry as R

    sql = R._MIXTURE_SQL.format(q=R.dmean(R.LEN_SCORE_SQL), hb=R._HASH_BUCKET)
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "source": ["s1", "s1", "s2", "s2"],
        "text": ["", "", "", ""],
    })
    spark.createDataFrame(pdf).createOrReplaceTempView("documents")
    got = spark.sql(sql).toPandas().sort_values("doc_id")
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(sql).df().sort_values("doc_id")
    con.close()
    spark.catalog.dropTempView("documents")
    assert (got["keep_buckets"] == 1000).all()
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))


def test_ieee_div_col_semantics(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        pd.DataFrame({"n": [1.0, -1.0, 0.0, 2.0, None],
                      "d": [0.0, 0.0, 0.0, 4.0, 1.0]})
    )
    out = [r.v for r in df.select(
        ieee_div_col(F.col("n"), F.col("d")).alias("v")).collect()]
    assert out[0] == float("inf") and out[1] == float("-inf")
    assert math.isnan(out[2]) and out[3] == 0.5 and out[4] is None
    # NaN/0 stays NaN, matching numpy (NaN literal built in-plan:
    # createDataFrame maps pandas NaN to NULL on ingestion)
    v_nan = spark.range(1).select(ieee_div_col(
        F.lit(float("nan")), F.lit(0.0)).alias("v")).collect()[0].v
    assert math.isnan(v_nan)
    # documented -0.0 caveat (same as sqlgen.ieee_div): the negative-zero
    # denominator takes the positive branch — +inf, not IEEE's -inf;
    # negative zeros are unreachable from the row sums these guards wrap
    neg = spark.createDataFrame(pd.DataFrame({"n": [1.0], "d": [-0.0]}))
    v = neg.select(ieee_div_col(F.col("n"), F.col("d")).alias("v")
                   ).collect()[0].v
    assert v == float("inf")


# -- blank-analysis rows through the mineral framework ------------------------
#
# Row 0 is a real analysis, row 1 a blank one (all oxides 0).  The Spark
# side runs unconditionally against the reference's blank-row semantics,
# inlined below; the value-for-value comparison with the live reference
# package runs only where it is importable.

GRT_DATA = {"SiO2": [38.5, 0.0], "Al2O3": [22.1, 0.0], "FeO": [28.3, 0.0],
            "MgO": [5.2, 0.0], "CaO": [3.8, 0.0], "MnO": [1.5, 0.0]}
CPX_DATA = {"SiO2": [52.0, 0.0], "Al2O3": [3.0, 0.0], "FeO": [7.0, 0.0],
            "MgO": [15.0, 0.0], "CaO": [20.0, 0.0], "Na2O": [0.8, 0.0]}

# (reference method, reference mineral, Spark emitter, data, column
# layout, what the blank row must read)
_BLANK_CASES = {
    # allocation keeps NaN (pandas clip); the M4 cross-site sum then
    # SKIPS the NaN parts (pandas groupby .sum()), so apfu is 0.0
    "grt_site_allocations": (
        "site_allocations", "Grt",
        lambda plan, fcols: minerals.add_site_allocations_flat(
            plan, fcols, minerals.GARNET, carry=["id"]),
        GRT_DATA,
        ["Z__Si{4+}", "Z__Al{3+}", "Z___unallocated",
         "Y__Al{3+}", "Y__Fe{3+}", "Y___unallocated",
         "X__Fe{2+}", "X__Mg{2+}", "X__Ca{2+}", "X__Mn{2+}",
         "X___unallocated"],
        "nan"),
    "grt_apfu": (
        "apfu", "Grt",
        lambda plan, fcols: minerals.add_apfu(
            plan, fcols, minerals.GARNET, carry=["id"]),
        GRT_DATA,
        ["Al{3+}", "Ca{2+}", "Fe{2+}", "Fe{3+}", "Mg{2+}", "Mn{2+}",
         "Si{4+}"],
        "zero"),
    # the reference's where(total>0, 0) gate zeroes a blank row's end
    # members
    "grt_end_members": (
        "end_members", "Grt",
        lambda plan, fcols: minerals.add_garnet_end_members(
            plan, fcols, carry=["id"]),
        GRT_DATA,
        ["Prp", "Alm", "Sps", "Grs", "Adr", "Uvr"],
        "zero"),
    "cpx_end_members": (
        "end_members", "Cpx",
        lambda plan, fcols: minerals.add_cpx_end_members(
            plan, fcols, carry=["id"]),
        CPX_DATA,
        ["Jd", "Ae", "Di", "Hd", "Kosmochlor", "CaTs", "Wo", "En", "Fs"],
        "zero"),
}


def _spark_blank_case(spark, name):
    _, _, emit, data, _, _ = _BLANK_CASES[name]
    pdf = pd.DataFrame(data)
    pdf.insert(0, "id", [0, 1])
    df = spark.createDataFrame(pdf)
    plan, fcols, _ = clean_plan(df.columns)
    emit(plan, fcols)
    return (plan.apply(df).toPandas().sort_values("id")
            .reset_index(drop=True).drop(columns=["id"]))


def _check_blank_case(spark, name):
    _, _, _, _, columns, blank_is = _BLANK_CASES[name]
    got = _spark_blank_case(spark, name)
    assert list(got.columns) == columns, name
    assert got.iloc[0].notna().all(), name  # the real analysis resolves
    if blank_is == "nan":
        assert got.iloc[1].isna().all(), name
    else:
        assert (got.iloc[1] == 0.0).all(), name


def test_blank_row_site_allocation_stays_nan(spark):
    """A blank analysis (all oxides 0) has all-NaN APFU; pandas'
    clip(upper=remaining) keeps the allocation NaN (ref
    ``_minerals.py:211``) — bare LEAST treats NaN as the LARGEST double
    and FABRICATED a perfectly-filled site (Z_Si=3, Y_Al=2, X_Fe=3 from
    a blank row, observed pre-fix).  clip_upper pins pandas semantics."""
    for name in ("grt_site_allocations", "grt_apfu"):
        _check_blank_case(spark, name)


def test_blank_row_end_members_match_reference(spark):
    """Locock garnet + IMA cpx end members on a blank row: the
    fabricated intermediates previously leaked through the clip chain;
    the reference's where(total>0, 0) gate zeroes the row — ours must
    too."""
    for name in ("grt_end_members", "cpx_end_members"):
        _check_blank_case(spark, name)


@pytest.mark.parametrize("name", sorted(_BLANK_CASES))
def test_blank_rows_match_live_reference(spark, name):
    """Both rows of every blank-row case, value for value against the
    reference package's pandas output (skipped where it is absent)."""
    import sys
    for p in ("/root/repo/tools/refshim", "/root/reference/src"):
        if p not in sys.path:
            sys.path.insert(0, p)
    ref = pytest.importorskip("petropandas._minerals")
    method, cfg, _, data, _, _ = _BLANK_CASES[name]
    with np.errstate(all="ignore"):
        want = getattr(pd.DataFrame(data).mineral, method)(getattr(ref, cfg))
    if hasattr(want.columns, "levels"):  # flatten (site, ion) MultiIndex
        want.columns = [f"{a}__{b}" for a, b in want.columns]
    want = want.reset_index(drop=True)
    got = _spark_blank_case(spark, name)
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, atol=1e-9, rtol=1e-9)
