"""How a query is built: ``Plan.apply`` runs one ``spark.sql`` per plan
over a temporary view it always drops, identifiers with quote characters
survive that one statement in both dialects, ``registry._load`` reuses
the inferred schema of an unchanged parquet file, and the DuckDB oracle
text of every registry query stays byte-identical."""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pandas as pd
import pytest

import petropandas_spark
from petropandas_spark import minerals, sqlgen
from petropandas_spark.frame import PetroFrame
from petropandas_spark.registry import _load, build_registry
from petropandas_spark.sqlgen import CODEGEN_SPLIT_TEXT, DUCKDB, SPARK, Plan

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture
def applied_plans(monkeypatch):
    """Every Plan that ``Plan.apply`` runs during the test, in order."""
    plans = []
    apply = Plan.apply

    def recording(self, df):
        plans.append(self)
        return apply(self, df)

    monkeypatch.setattr(Plan, "apply", recording)
    return plans


def _plan_views(spark) -> list[str]:
    return [t.name for t in spark.catalog.listTables()
            if t.name.startswith("_petro_plan_")]


def _wide_plan(stages: int) -> Plan:
    """``stages`` stages of ~1200 chars of arithmetic over column ``x``:
    past CODEGEN_SPLIT_TEXT several times over."""
    plan = Plan()
    ctx = sqlgen.Ctx(plan, ["x"])
    for s in range(stages):
        prev = f"`v{s - 1}`" if s else "`x`"
        ctx.let([(f"v{s}", " + ".join(
            f"({prev} * {i}.5e0 + {i}.25e0)" for i in range(40)))])
    return plan


# ---------------------------------------------------------------------------
# identifier quoting
# ---------------------------------------------------------------------------


def test_quote_doubles_embedded_quote_chars():
    assert SPARK.quote("a`b") == "`a``b`"
    assert SPARK.quote('a"b') == '`a"b`'
    assert DUCKDB.quote('a"b') == '"a""b"'
    assert DUCKDB.quote("a`b") == '"a`b"'
    assert sqlgen.PLAIN.quote("ab") == "ab"


META = ["Sample`id", "Site.loc", "Sample name", "Fe{2+} note", 'Tag"q']


@pytest.mark.parametrize("op", ["to_moles", "end_members"])
def test_odd_metadata_names_match_duckdb(spark, almandine, pyrope_grossular,
                                         applied_plans, op):
    """Metadata columns named with a backtick, a dot, a space, ``{2+}``
    and a double quote ride through a PetroFrame operator (one SQL
    statement per plan) unchanged, and the same plans rendered for
    DuckDB give bitwise-identical rows."""
    pdf = pd.concat([almandine, pyrope_grossular],
                    ignore_index=True).fillna(0.0)
    for i, name in enumerate(META):
        pdf[name] = [f"{name}-{r}-{i}" for r in range(len(pdf))]
    pf = PetroFrame.ingest(spark.createDataFrame(pdf))
    out = (pf.to_moles() if op == "to_moles"
           else pf.end_members(minerals.GARNET))
    got = out.df.toPandas()
    for name in META:
        assert got[name].tolist() == pdf[name].tolist(), name

    con = duckdb.connect()
    try:
        con.register("t", pdf)
        sql = "SELECT * FROM t"
        for plan in applied_plans:
            sql = plan.to_sql(sql, DUCKDB)
        expect = con.execute(sql).df()
    finally:
        con.close()
    assert list(got.columns) == list(expect.columns)
    for c in got.columns:
        assert (got[c].values == expect[c].values).all(), c


# ---------------------------------------------------------------------------
# the apply contract
# ---------------------------------------------------------------------------


def test_apply_drops_its_view(spark):
    plan = _wide_plan(3)
    out = plan.apply(spark.range(10).selectExpr("CAST(id AS DOUBLE) AS x"))
    assert _plan_views(spark) == []
    # the analyzed plan no longer needs the view
    assert out.count() == 10


def test_apply_drops_its_view_when_analysis_fails(spark):
    from pyspark.errors import AnalysisException

    plan = Plan()
    plan.stage().add("y", lambda q: f"{q('missing')} + 1e0")
    with pytest.raises(AnalysisException):
        plan.apply(spark.range(3).selectExpr("CAST(id AS DOUBLE) AS x"))
    assert _plan_views(spark) == []


def test_streaming_apply_plans_no_coalesce(spark):
    """A streaming input gets no codegen barrier; the same plan over a
    batch input does."""
    plan = _wide_plan(8)
    stream = spark.readStream.format("rate").load().selectExpr(
        "CAST(value AS DOUBLE) AS x")
    out = plan.apply(stream)
    assert out.isStreaming
    qe = out._jdf.queryExecution()
    assert "Repartition" not in qe.analyzed().toString()
    batch = plan.apply(spark.range(5).selectExpr("CAST(id AS DOUBLE) AS x"))
    assert "Coalesce" in batch._jdf.queryExecution().executedPlan().toString()
    assert _plan_views(spark) == []


def _predicted_barriers(plan: Plan) -> int:
    """Barriers the CODEGEN_SPLIT_TEXT rule puts into *plan*: one before
    each stage whose non-passthrough text would carry the running span
    past the budget."""
    acc = n = 0
    for st in plan.stages:
        weight = sum(len(e) for a, e in st.render(SPARK)
                     if e != SPARK.quote(a))
        if acc and acc + weight > CODEGEN_SPLIT_TEXT:
            n, acc = n + 1, 0
        acc += weight
    return n


def test_amphibole_barrier_count_matches_split_rule(spark, tmp_path,
                                                    applied_plans):
    keys = list(range(1, 41))
    pd.DataFrame({"l_orderkey": keys, "l_partkey": keys, "l_suppkey": keys,
                  "l_linenumber": [k % 7 for k in keys]}).to_parquet(
        tmp_path / "lineitem.parquet")
    df = build_registry()["amphibole_end_members"].spark_fn(
        spark, str(tmp_path))
    (plan,) = applied_plans
    expect = _predicted_barriers(plan)
    assert expect >= 1
    executed = df._jdf.queryExecution().executedPlan().toString()
    got = sum("Coalesce" in ln for ln in executed.splitlines())
    assert got == expect, executed


# ---------------------------------------------------------------------------
# the parquet schema memo in registry._load
# ---------------------------------------------------------------------------


def _jobs(spark, fn):
    """(fn's result, the ids of the Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"memo-{os.urandom(6).hex()}"
    sc.setJobGroup(group, "schema memo test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_file_starts_no_job(spark, tmp_path):
    pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]}).to_parquet(
        tmp_path / "t.parquet")
    first, jobs1 = _jobs(spark, lambda: _load(spark, str(tmp_path), "t"))
    assert jobs1, "the first read infers the schema with a Spark job"
    second, jobs2 = _jobs(spark, lambda: _load(spark, str(tmp_path), "t"))
    assert jobs2 == []
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_overwritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pd.DataFrame({"a": [1, 2]}).to_parquet(path)
    assert _load(spark, str(tmp_path), "t").columns == ["a"]
    pd.DataFrame({"b": ["p", "q", "r"], "c": [0.5, 1.5, 2.5]}).to_parquet(
        path)
    df = _load(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert sorted(tuple(r) for r in df.collect()) == \
        [("p", 0.5), ("q", 1.5), ("r", 2.5)]


def test_inference_confs_key_the_memo(spark, tmp_path):
    pd.DataFrame({"blob": [b"ab", b"cd"]}).to_parquet(tmp_path / "t.parquet")
    assert dict(_load(spark, str(tmp_path), "t").dtypes)["blob"] == "binary"
    key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "true")
    try:
        df = _load(spark, str(tmp_path), "t")
    finally:
        spark.conf.unset(key)
    assert dict(df.dtypes)["blob"] == "string"
    assert dict(_load(spark, str(tmp_path), "t").dtypes)["blob"] == "binary"


def test_events_ts_stays_bigint_nanoseconds(spark, tmp_path):
    """The events branch keeps its own read: a repeated load still turns
    a TIMESTAMP(NANOS) ``ts`` into BIGINT epoch nanoseconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = 1704067200123456789  # 2024-01-01T00:00:00.123456789Z
    pq.write_table(pa.table({"event_id": pa.array([1], pa.int64()),
                             "ts": pa.array([ns], pa.timestamp("ns"))}),
                   tmp_path / "events.parquet")
    for _ in range(2):
        df = _load(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "bigint"
        assert df.first()["ts"] == ns


# ---------------------------------------------------------------------------
# the oracle text
# ---------------------------------------------------------------------------


def test_oracle_sql_is_unchanged():
    """sha256 of every registry query's DuckDB oracle text, as pinned in
    ``fixtures/oracle_sql_sha256.json``, with the checkout's root (the
    fixture-backed oracles name absolute paths) read as ``<repo>``.  A
    query added or changed on purpose updates its entry in that file."""
    with open(os.path.join(FIXTURES, "oracle_sql_sha256.json")) as fh:
        pinned = json.load(fh)
    root = os.path.dirname(os.path.dirname(petropandas_spark.__file__))
    got = {name: hashlib.sha256(
               spec.oracle.replace(root, "<repo>").encode()).hexdigest()
           for name, spec in build_registry().items()}
    assert got == pinned
