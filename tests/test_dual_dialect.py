"""The engine's load-bearing property: a ``sqlgen.Plan`` evaluates to
*identical* results in Spark and DuckDB (the same nested SELECT, run by
one ``spark.sql`` and by DuckDB) — this is what makes the driver's
duckdb-oracle correctness gate pass by construction."""

import duckdb
import pandas as pd
import pytest

from petropandas_spark import minerals
from petropandas_spark.frame import clean_plan
from petropandas_spark.sqlgen import Plan


def run_both(spark, pdf: pd.DataFrame, plan: Plan) -> tuple[pd.DataFrame, pd.DataFrame]:
    sdf = plan.apply(spark.createDataFrame(pdf)).toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    ddf = con.execute(plan.to_sql("SELECT * FROM t")).df()
    con.close()
    return sdf, ddf


def assert_identical(sdf: pd.DataFrame, ddf: pd.DataFrame):
    assert list(sdf.columns) == list(ddf.columns)
    for c in sdf.columns:
        s, d = sdf[c], ddf[c]
        if s.dtype.kind == "f":
            # bitwise-identical IEEE-754 doubles, not approx
            assert (s.values == d.values).all(), c
        else:
            assert (s.values == d.values).all(), c


@pytest.fixture
def garnet_pdf(almandine, pyrope_grossular):
    pdf = pd.concat([almandine, pyrope_grossular], ignore_index=True).fillna(0.0)
    pdf["id"] = [1, 2]
    return pdf


def test_clean_identical(spark):
    pdf = pd.DataFrame([{"SiO2": -1.0, "MgO": 3.0, "Sample": "x"}])
    plan, _f, _out = clean_plan(list(pdf.columns))
    assert_identical(*run_both(spark, pdf, plan))


def test_apfu_identical(spark, garnet_pdf):
    from petropandas_spark.functions.conversions import add_to_apfu

    plan = Plan()
    add_to_apfu(plan, [c for c in garnet_pdf.columns if c != "id"],
                n_oxygens=12, carry=["id"])
    assert_identical(*run_both(spark, garnet_pdf, plan))


def test_end_members_identical(spark, garnet_pdf):
    plan = Plan()
    minerals.add_garnet_end_members(
        plan, [c for c in garnet_pdf.columns if c != "id"], carry=["id"]
    )
    assert_identical(*run_both(spark, garnet_pdf, plan))


def test_check_stoichiometry_identical(spark, garnet_pdf):
    plan = Plan()
    minerals.add_check_stoichiometry(
        plan, [c for c in garnet_pdf.columns if c != "id"],
        minerals.GARNET, carry=["id"],
    )
    assert_identical(*run_both(spark, garnet_pdf, plan))


def test_span_dedup_unicode_dual_engine(spark):
    """Span detection on NON-ASCII text must agree across engines:
    substr/length count CHARACTERS in both dialects while md5 hashes
    UTF-8 BYTES — a shared CJK/emoji passage exercises exactly that
    seam (positions in char coordinates, hashes over multi-byte
    encodings).  Runs the registered repeated_span_pairs oracle SQL on
    the same frame in DuckDB and compares row-for-row."""
    from petropandas_spark.pipeline import dedup
    from petropandas_spark.registry import REPEATED_SPANS_DUCK

    passage = ("机器学习模型的训练数据需要仔细的去重处理，"
               "否则模型会记住重复的内容 🚀 and mixed ascii too")
    assert len(passage) >= 39  # inside the winnow guarantee
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            "第一篇文档的开头。" + passage + "第一篇的结尾部分。",
            "completely different opening → " + passage + " ← the end",
            "这篇文档没有共享内容，完全是独立的文本数据而已。",
        ],
    })
    got = (
        dedup.repeated_span_pairs(spark.createDataFrame(pdf))
        .toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = (
        con.execute(REPEATED_SPANS_DUCK).df()
        .sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    )
    con.close()
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) == 1  # only the (1, 2) pair
    for c in got.columns:
        assert (got[c].values == want[c].values).all(), c
    # the reported first position is a char coordinate into the passage
    r = got.iloc[0]
    span = pdf.text[0][r.first_pos_a - 1:r.first_pos_a - 1 + 32]
    assert span in passage or span in pdf.text[0]
    assert span == pdf.text[1][r.first_pos_b - 1:r.first_pos_b - 1 + 32]


def test_events_json_malformed_value_null_in_both_engines(spark):
    """A malformed numeric field in the props JSON ('oops') must yield
    NULL through TRY_CAST in BOTH engines — a plain CAST aborts the
    whole Spark job under ANSI mode and errors in DuckDB — and the
    aggregates must then agree on the dirty frame too."""
    from petropandas_spark.registry import (EVENTS_JSON_DUCK,
                                            EVENTS_JSON_SPARK)

    rows = [
        ("click", '{"k": 3}'),
        ("click", '{"k": "oops"}'),
        ("view", "{}"),
        ("view", '{"k": 7}'),
    ]
    sdf = spark.createDataFrame(rows, "event_type string, props string")
    sdf.createOrReplaceTempView("events")
    got = {tuple(r) for r in
           spark.sql(EVENTS_JSON_SPARK).collect()}
    con = duckdb.connect()
    con.register("events", pd.DataFrame(rows,
                                        columns=["event_type", "props"]))
    want = {tuple(r) for r in con.execute(EVENTS_JSON_DUCK).fetchall()}
    spark.catalog.dropTempView("events")
    assert got == want
    by_type = {r[0]: r for r in got}
    assert by_type["click"][1:4] == (2, 1, 3)  # n_events, n_with_k, sum_k


def test_events_json_struct_dirty_frame_both_engines(spark):
    """The from_json struct form's dirty contract: a malformed DOCUMENT
    yields a NULL struct (PERMISSIVE) and a malformed FIELD yields a
    NULL field — both land as NULL k, identical to the oracle's
    TRY_CAST flow, and no row aborts the job under ANSI."""
    from petropandas_spark.registry import (EVENTS_JSON_STRUCT_DUCK,
                                            EVENTS_JSON_STRUCT_SPARK)

    rows = [
        ("click", '{"k": 30}'),
        ("click", '{"k": "oops"}'),     # malformed field
        ("click", '{"k": "123"}'),      # QUOTED numeric: from_json's
        # strict Long parse rejects a string token, so k must be NULL in
        # both engines — the oracle gates on json_type IN
        # ('BIGINT','UBIGINT'); DuckDB's bare JSON→BIGINT cast would
        # have unquoted and coerced to 123 (r8 advisor finding).
        ("click", '{"k": 12.5}'),       # float token — strict NULL too
        ("click", '{"k": true}'),       # boolean token — strict NULL
        ("click", '{"k": 7'),           # truncated document
        ("view", "not json"),           # not a document at all
        ("view", '{"k": 9}'),
        ("view", None),                 # NULL props
        ("view", ""),                   # empty-string props
    ]
    sdf = spark.createDataFrame(rows, "event_type string, props string")
    sdf.createOrReplaceTempView("events")
    got = {tuple(r) for r in
           spark.sql(EVENTS_JSON_STRUCT_SPARK).collect()}
    con = duckdb.connect()
    con.register("events", pd.DataFrame(rows,
                                        columns=["event_type", "props"]))
    want = {tuple(r) for r in
            con.execute(EVENTS_JSON_STRUCT_DUCK).fetchall()}
    spark.catalog.dropTempView("events")
    assert got == want
    by_type = {r[0]: r for r in got}
    # click: 6 events, only {"k": 30} parses (quoted "123", float 12.5
    # and boolean true must NOT coerce); view: only {"k": 9}
    assert by_type["click"][1:4] == (6, 1, 30)
    assert by_type["view"][1:4] == (4, 1, 9)


def test_text_operators_dirty_unicode_both_engines(spark):
    """Text-analysis dirty contract — the TEXT twin of the JSON dirty
    tests above (same latent-divergence class the r8 advisor found on
    quoted numerics): the six text-family query pairs must agree
    row-for-row on adversarial unicode — emoji + ZWJ family sequences,
    astral-plane letters, CJK, composed vs decomposed accents, RTL
    script, tabs/newlines, empty and whitespace-only text, and a
    near-duplicate differing only in case/extra spaces (exercises the
    normalize collapse).  Pins that Spark's Java-regex/`length`
    (codepoint) semantics and DuckDB's RE2/`length` semantics agree on
    every construct these queries use."""
    import petropandas_spark.registry as R

    rows = [
        (1, "web", "en",
         "The quick brown fox, and the lazy dog! It runs; really?"),
        (2, "web", "zh", "机器学习模型需要大量训练数据。 模型 学习"),
        (3, "web", "en", "emoji soup 🚀🚀 👩‍👩‍👧‍👦 and astral 𝕊𝕡𝕒𝕣𝕜 ok"),
        (4, "web", "fr",
         "café composed vs café decomposed   tabs\tand\nnewlines"),
        (5, "web", "ar", "مرحبا بالعالم rtl text here"),
        (6, "web", "en", ""),
        (7, "web", "en", "   "),
        (8, "web", "en",
         "The quick brown fox, and the lazy dog! It runs;  REALLY?"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "lang", "text"])
    spark.createDataFrame(pdf).createOrReplaceTempView("documents")
    con = duckdb.connect()
    con.register("documents", pdf)
    pairs = {
        "doc_stats": (R.DOC_STATS, R.DOC_STATS),
        "doc_quality": (R.DOC_QUALITY, R.DOC_QUALITY),
        "doc_fingerprint": (R.DOC_FINGERPRINT, R.DOC_FINGERPRINT),
        "doc_lang_guess": (R._lang_guess_sql(False), R._lang_guess_sql(True)),
        "doc_tokenize_bpe": (R.DOC_TOKENIZE_BPE_SPARK,
                             R.DOC_TOKENIZE_BPE_DUCK),
        "dedup_exact_normalized": (R._dedup_normalized_sql(False),
                                   R._dedup_normalized_sql(True)),
    }
    try:
        for name, (ssql, dsql) in pairs.items():
            s = spark.sql(ssql).toPandas()
            d = con.execute(dsql).df()
            assert list(s.columns) == list(d.columns), name
            s = s.sort_values(list(s.columns)).reset_index(drop=True)
            d = d.sort_values(list(d.columns)).reset_index(drop=True)
            for c in s.columns:
                assert s[c].tolist() == d[c].tolist(), (name, c)
    finally:
        con.close()
        spark.catalog.dropTempView("documents")
