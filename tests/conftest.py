"""Shared fixtures: one local SparkSession per test session, ideal-mineral
compositions with analytically-derivable expected outputs (the reference's
test strategy, SURVEY.md §5 / FIXTURES.md)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import SparkSession

from petropandas_spark import core
from petropandas_spark.session import CODEGEN_CONFS


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("petropandas-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        # the engine's codegen class-cache bound; the worker-pool confs
        # stay out (the preload daemon has tests of its own)
        .config(map=CODEGEN_CONFS)
        .getOrCreate()
    )
    yield spark
    spark.stop()


def oxide_wt_from_formula(counts: dict[str, float]) -> dict[str, float]:
    """wt% composition of an ideal mineral given oxide formula-unit counts,
    e.g. diopside CaMgSi2O6 -> {"CaO": 1, "MgO": 1, "SiO2": 2}."""
    masses = {ox: n * core.MW(ox) for ox, n in counts.items()}
    total = sum(masses.values())
    return {ox: m / total * 100.0 for ox, m in masses.items()}


@pytest.fixture(scope="session")
def diopside() -> pd.DataFrame:
    """Ideal diopside CaMgSi2O6 — at 6 O: Si=2, Ca=1, Mg=1."""
    return pd.DataFrame([oxide_wt_from_formula({"CaO": 1, "MgO": 1, "SiO2": 2})])


@pytest.fixture(scope="session")
def almandine() -> pd.DataFrame:
    """Ideal almandine Fe3Al2Si3O12 — at 12 O: Fe=3, Al=2, Si=3; Alm=100%."""
    return pd.DataFrame(
        [oxide_wt_from_formula({"FeO": 3, "Al2O3": 1, "SiO2": 3})]
    )


@pytest.fixture(scope="session")
def pyrope_grossular() -> pd.DataFrame:
    """50:50 pyrope-grossular (Mg1.5Ca1.5)Al2Si3O12 — Prp=Grs=50%."""
    return pd.DataFrame(
        [oxide_wt_from_formula({"MgO": 1.5, "CaO": 1.5, "Al2O3": 1, "SiO2": 3})]
    )


@pytest.fixture(scope="session")
def anorthite() -> pd.DataFrame:
    """Ideal anorthite CaAl2Si2O8 — An=100%."""
    return pd.DataFrame(
        [oxide_wt_from_formula({"CaO": 1, "Al2O3": 1, "SiO2": 2})]
    )


@pytest.fixture(scope="session")
def sanidine() -> pd.DataFrame:
    """Ideal sanidine KAlSi3O8 — at 8 O: Si=3, Al=1, K=1; Or=100%."""
    return pd.DataFrame(
        [oxide_wt_from_formula({"K2O": 0.5, "Al2O3": 0.5, "SiO2": 3})]
    )
