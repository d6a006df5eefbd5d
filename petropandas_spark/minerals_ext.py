"""End-member emitters E2, E5-E16 (SURVEY.md §2.6), widening coverage
beyond the E1/E3/E4 set in :mod:`petropandas_spark.minerals`.

Every emitter mirrors the reference algorithm exactly — same clip/where
guards, same column order, same (non-)normalization — as chained
projection stages of LEAST/GREATEST/CASE arithmetic.  Squares are
spelled ``x*x`` (never ``POWER``) so both engines evaluate identical
IEEE multiplications; no libm functions appear anywhere in this module.

Reference citations are per-function into
``/root/reference/src/petropandas/_minerals.py``.
"""

from __future__ import annotations

from fractions import Fraction

import numpy as np

from petropandas_spark import core
from petropandas_spark.functions.conversions import (
    add_to_apfu,
    add_to_apfu_by_charge,
)
from petropandas_spark.minerals import (
    Ctx,
    MineralConfig,
    SiteDef,
    add_raw_apfu,
    add_site_allocation,
    site_col,
)
from petropandas_spark.sqlgen import (Plan, add_chain, clip_upper, flit,
                                      safe_denom)


def _g(e: str) -> str:
    return f"GREATEST({e}, 0e0)"


def _clip01(e: str) -> str:
    # clip_upper, not bare LEAST: NaN values stay NaN (pandas
    # .clip(lower=0).clip(upper=1)) instead of clamping to 1.0
    return clip_upper(f"GREATEST({e}, 0e0)", 1.0)


def _gated_frac(num: str, total: str, scale: str = "100e0") -> str:
    """``(num / safe(total) * scale).where(total > 0, 0.0)`` — the
    reference's ubiquitous zero-guard pattern (e.g. ``_minerals.py:847``)."""
    return (
        f"(CASE WHEN {total} > 0e0 AND NOT isnan({total}) "
        f"THEN {num} / {safe_denom(total)} * {scale} "
        f"ELSE 0e0 END)"
    )


# ---------------------------------------------------------------------------
# Configs (ref class attributes in ``_minerals.py``)
# ---------------------------------------------------------------------------

ORTHOPYROXENE = MineralConfig(
    name="Orthopyroxene", n_oxygens=6, ideal_cations=4,
    analytical_total_range=(99.0, 101.0),
    valence_splits=({"element": "Fe", "method": "droop"},),
    site_definitions=(
        SiteDef("T", 2.0, ("Si{4+}", "Al{3+}")),
        SiteDef("M1", 1.0, ("Al{3+}", "Ti{4+}", "Cr{3+}", "Fe{3+}", "Mg{2+}", "Fe{2+}")),
        SiteDef("M2", 1.0, ("Ca{2+}", "Mn{2+}", "Fe{2+}", "Mg{2+}")),
    ),
)

MUSCOVITE = MineralConfig(
    name="Muscovite", n_oxygens=11, ideal_cations=7.0,
    analytical_total_range=(94.0, 97.0),
    site_definitions=(
        SiteDef("T", 4.0, ("Si{4+}", "Al{3+}")),
        SiteDef("I", 1.0, ("K{+}", "Na{+}", "Ca{2+}", "Ba{2+}")),
        SiteDef("O", 2.0, ("Al{3+}", "Ti{4+}", "Cr{3+}", "Fe{2+}", "Mg{2+}", "Mn{2+}")),
    ),
)

BIOTITE = MineralConfig(
    name="Biotite", n_oxygens=11, ideal_cations=7.0,
    analytical_total_range=(94.0, 97.0),
    site_definitions=(
        SiteDef("T", 4.0, ("Si{4+}", "Al{3+}")),
        SiteDef("I", 1.0, ("K{+}", "Na{+}", "Ba{2+}")),
        SiteDef("O", 3.0, ("Mg{2+}", "Fe{2+}", "Al{3+}", "Ti{4+}", "Cr{3+}", "Mn{2+}")),
    ),
)

STAUROLITE = MineralConfig(
    name="Staurolite", n_oxygens=48, ideal_cations=None,
    analytical_total_range=(99.0, 101.0),
    site_definitions=(
        SiteDef("T", 8.0, ("Si{4+}", "Al{3+}")),
        SiteDef("M", 12.0, ("Al{3+}", "Ti{4+}", "Cr{3+}", "Fe{2+}", "Mg{2+}", "Mn{2+}", "Zn{2+}")),
    ),
)

CHLORITE = MineralConfig(
    name="Chlorite", n_oxygens=14, ideal_cations=None,
    analytical_total_range=(85.0, 90.0),
    site_definitions=(
        SiteDef("T", 4.0, ("Si{4+}", "Al{3+}")),
        SiteDef("M", 6.0, ("Al{3+}", "Ti{4+}", "Cr{3+}", "Fe{2+}", "Mg{2+}", "Mn{2+}")),
    ),
)

EPIDOTE = MineralConfig(
    name="Epidote", n_oxygens=12.5, ideal_cations=8,
    analytical_total_range=(99.0, 101.0),
    preprocess="feo_to_fe2o3",
    site_definitions=(
        SiteDef("A", 2.0, ("Ca{2+}", "Mn{2+}", "Sr{2+}")),
        SiteDef("M", 3.0, ("Al{3+}", "Fe{3+}", "Ti{3+}", "V{3+}", "Cr{3+}", "Mn{3+}", "Fe{2+}", "Mg{2+}")),
        SiteDef("T", 3.0, ("Si{4+}",)),
    ),
)

AMPHIBOLE = MineralConfig(
    name="Amphibole", n_oxygens=23, ideal_cations=15,
    analytical_total_range=(96.0, 99.0),
    valence_splits=({"element": "Fe", "method": "schumacher"},),
    site_definitions=(
        SiteDef("A", 1.0, ("K{+}", "Na{+}")),
        SiteDef("B", 2.0, ("Na{+}", "Ca{2+}", "Mn{2+}", "Fe{2+}", "Mg{2+}")),
        SiteDef("C", 5.0, ("Mg{2+}", "Fe{2+}", "Al{3+}", "Ti{4+}", "Cr{3+}", "Fe{3+}", "Mn{2+}", "Na{+}")),
        SiteDef("T", 8.0, ("Si{4+}", "Al{3+}")),
    ),
)

TITANITE = MineralConfig(
    name="Titanite", n_oxygens=5, ideal_cations=3,
    analytical_total_range=(99.0, 101.0),
    preprocess="feo_to_fe2o3",
    site_definitions=(
        SiteDef("A", 1.0, ("Ca{2+}", "Sr{2+}", "Mn{2+}", "Na{+}")),
        SiteDef("B", 1.0, ("Ti{4+}", "Al{3+}", "Fe{3+}", "Sn{4+}", "Nb{5+}", "Zr{4+}", "Cr{3+}", "V{3+}", "Mg{2+}")),
        SiteDef("T", 1.0, ("Si{4+}", "P{5+}")),
    ),
)

CHLORITOID = MineralConfig(
    name="Chloritoid", n_oxygens=12, ideal_cations=8,
    analytical_total_range=(99.0, 101.0),
    valence_splits=({"element": "Fe", "method": "droop"},),
    site_definitions=(
        SiteDef("T", 2.0, ("Si{4+}", "Al{3+}")),
        SiteDef("M1", 6.0, ("Al{3+}", "Ti{4+}", "Cr{3+}", "Fe{3+}", "Fe{2+}", "Mg{2+}", "Mn{2+}")),
    ),
)

CORDIERITE = MineralConfig(
    name="Cordierite", n_oxygens=18, ideal_cations=11,
    analytical_total_range=(97.0, 99.0),
    site_definitions=(
        SiteDef("T1", 6.0, ("Si{4+}", "Al{3+}")),
        SiteDef("T2", 3.0, ("Al{3+}", "Ti{4+}")),
        SiteDef("B", 2.0, ("Fe{2+}", "Mg{2+}", "Mn{2+}")),
        SiteDef("A", 1.0, ("Na{+}", "K{+}", "Ca{2+}")),
    ),
)

ILMENITE = MineralConfig(
    name="Ilmenite", n_oxygens=3, ideal_cations=2,
    analytical_total_range=(93.0, 100.5),
    valence_splits=({"element": "Fe", "method": "droop"},),
    site_definitions=(
        SiteDef("A", 1.0, ("Fe{2+}", "Mg{2+}", "Mn{2+}", "Fe{3+}")),
        SiteDef("B", 1.0, ("Ti{4+}", "Fe{3+}", "Al{3+}", "Cr{3+}")),
    ),
)

SPINEL = MineralConfig(
    name="Spinel", n_oxygens=4, ideal_cations=3,
    analytical_total_range=(93.0, 100.5),
    preprocess="fe2o3_to_feo",
    valence_splits=({"element": "Fe", "method": "droop"},),
    site_definitions=(
        SiteDef("T", 1.0, ("Mg{2+}", "Fe{2+}", "Zn{2+}", "Mn{2+}", "Fe{3+}", "Al{3+}", "Cr{3+}", "Ti{4+}")),
        SiteDef("M", 2.0, ("Al{3+}", "Cr{3+}", "Fe{3+}", "Ti{4+}", "Mg{2+}", "Fe{2+}", "Mn{2+}")),
    ),
)


# ---------------------------------------------------------------------------
# E2 GarnetFe3 — matrix inversion via precomputed normal equations
# ---------------------------------------------------------------------------

def _exact_pinv(a_t: list[list[int]]) -> np.ndarray:
    """(AᵀA)⁻¹Aᵀ of a full-column-rank INTEGER matrix A, given as its rows
    of Aᵀ, by Gauss-Jordan elimination in exact rational arithmetic.

    Each coefficient is rounded once, ``float(Fraction)``, to the nearest
    double, so the literals are the same on every host; a floating-point
    solve (``np.linalg.solve``) leaves last digits that depend on the
    BLAS/LAPACK build and CPU."""
    n, m = len(a_t), len(a_t[0])
    # augmented [AᵀA | Aᵀ]
    rows = [[Fraction(sum(x * y for x, y in zip(a_t[i], a_t[j])))
             for j in range(n)] + [Fraction(v) for v in a_t[i]]
            for i in range(n)]
    for c in range(n):
        p = next(r for r in range(c, n) if rows[r][c] != 0)
        rows[c], rows[p] = rows[p], rows[c]
        rows[c] = [v / rows[c][c] for v in rows[c]]
        for r in range(n):
            if r != c and rows[r][c] != 0:
                f = rows[r][c]
                rows[r] = [v - f * w for v, w in zip(rows[r], rows[c])]
    return np.array([[float(v) for v in row[n:n + m]] for row in rows])


# Ideal cation matrix A (7 cations × 6 end-members, ref
# ``_minerals.py:324-335``), written as Aᵀ: one row per end-member.  A is
# full-rank, so the lstsq solution is x = (AᵀA)⁻¹Aᵀ·b — a constant 6×7
# pseudoinverse, computed once on the driver and folded into literals
# (SURVEY.md §2.6 E2: "expression form is Catalyst-native").
_GRTFE3_PINV = _exact_pinv([
    # Ca Mg Fe Cr Mn Al Si
    [0, 3, 0, 0, 0, 2, 3],  # Prp
    [0, 0, 3, 0, 0, 2, 3],  # Alm
    [0, 0, 0, 0, 3, 2, 3],  # Sps
    [3, 0, 0, 0, 0, 2, 3],  # Grs
    [3, 0, 2, 0, 0, 0, 3],  # Adr
    [3, 0, 0, 2, 0, 0, 3],  # Uvr
])
_GRTFE3_EM = ["Prp", "Alm", "Sps", "Grs", "Adr", "Uvr"]


def add_garnetfe3_end_members(
    plan: Plan, cols: list[str], units: str = "wt%", carry: list[str] = ()
) -> list[str]:
    """E2: GarnetFe3 end-members via the matrix-inversion method
    (ref ``_minerals.py:337-377``): APFU on bulk Fe (no valence split),
    x = pinv(A)·b, clip ≥ 0, normalize to 100."""
    ion_cols = add_to_apfu(plan, cols, n_oxygens=12, units=units, carry=carry)
    ctx = Ctx(plan, list(carry) + list(ion_cols))
    fe_cols = core.detect_cols(ion_cols, "Fe")
    b_ions = ["Ca{2+}", "Mg{2+}", "__fetot", "Cr{3+}", "Mn{2+}", "Al{3+}", "Si{4+}"]
    ctx.let([
        ("__fetot", lambda q: add_chain([q(c) for c in fe_cols]) if fe_cols else "0e0"),
    ])
    # x_i = Σ_j P[i,j] · b_j  (literal coefficients; zero terms pruned)
    def ref(ion):
        if ion == "__fetot":
            return lambda q: q("__fetot")
        return ctx.col(ion)

    defs = []
    for i, name in enumerate(_GRTFE3_EM):
        terms = [
            (float(_GRTFE3_PINV[i, j]), ion)
            for j, ion in enumerate(b_ions)
            if float(_GRTFE3_PINV[i, j]) != 0.0
        ]
        defs.append((f"__x_{name}", lambda q, ts=terms: add_chain(
            [f"{flit(c)} * {ref(ion)(q)}" for c, ion in ts]
        )))
    ctx.let(defs)
    ctx.let([(f"__c_{n}", lambda q, n=n: _g(q(f"__x_{n}"))) for n in _GRTFE3_EM])
    ctx.let([("__tot", lambda q: add_chain([q(f"__c_{n}") for n in _GRTFE3_EM]))])
    st = plan.stage()
    st.passthrough(list(carry))
    for n in _GRTFE3_EM:
        # ref zero-guard: col_sums==0 → 1 (``_minerals.py:370``), no where-gate
        st.add(n, lambda q, n=n: f"({q(f'__c_{n}')} / {safe_denom(q('__tot'))} * 100e0)")
    return list(_GRTFE3_EM)


# ---------------------------------------------------------------------------
# E5 Orthopyroxene (ref ``_minerals.py:556-608``)
# ---------------------------------------------------------------------------


def add_opx_end_members(
    plan: Plan, cols: list[str], units: str = "wt%", carry: list[str] = ()
) -> list[str]:
    """E5: MgTs from excess Al, greedy M1 fill, Wo/En/Fs from the pool
    remainder.  Mirrors the reference's unguarded upper-clips exactly."""
    ion_cols = add_raw_apfu(plan, cols, ORTHOPYROXENE, units, carry=carry)
    ctx = Ctx(plan, list(carry) + list(ion_cols))
    ctx.let([
        ("__si", lambda q: _g(ctx.col("Si{4+}")(q))),
        ("__al", lambda q: _g(ctx.col("Al{3+}")(q))),
    ])
    # T-site: MgTs = clip(Al - (2 - Si), 0); consumed Si/Al leave the pool
    ctx.let([("__mgts", lambda q: _g(f"({q('__al')} - (2e0 - {q('__si')}))"))])
    ctx.let([("__tsi", lambda q: clip_upper(q('__si'), 2.0))])
    ctx.let([("__tal", lambda q: clip_upper(f"({q('__al')} - {q('__mgts')})", f"(2e0 - {q('__tsi')})"))])
    ctx.let([("__p_al", lambda q: f"({q('__al')} - {q('__tal')})")])
    # M1 greedy: rem=1; take = min(pool, rem) — unguarded, like pandas clip(upper=rem)
    m1_order = ["Al{3+}", "Ti{4+}", "Cr{3+}", "Fe{3+}", "Mg{2+}", "Fe{2+}"]
    pool_alias = {"Al{3+}": "__p_al"}
    for ion in ["Ti{4+}", "Cr{3+}", "Fe{3+}", "Mg{2+}", "Fe{2+}", "Ca{2+}", "Mn{2+}"]:
        a = f"__p_{ion.split('{')[0].lower()}{'3' if '3+' in ion else ''}"
        ctx.let([(a, ctx.col(ion))])
        pool_alias[ion] = a
    rem = "__m1rem"
    ctx.let([(rem, lambda q: "1e0")])
    for ion in m1_order:
        p_old = pool_alias[ion]
        p_new = p_old + "_m1"
        ctx.let(
            [
                (p_new, lambda q, p=p_old, r=rem:
                    f"({q(p)} - {clip_upper(q(p), q(r))})"),
                (rem, lambda q, p=p_old, r=rem:
                    f"({q(r)} - {clip_upper(q(p), q(r))})"),
            ],
            drop={p_old, rem},
        )
        pool_alias[ion] = p_new
    # M2 from pool leftovers (ref ``_minerals.py:592-602``)
    ctx.let([
        ("__ca2", lambda q: _g(q(pool_alias["Ca{2+}"]))),
        ("__mn2", lambda q: _g(q(pool_alias["Mn{2+}"]))),
        ("__fe22", lambda q: _g(q(pool_alias["Fe{2+}"]))),
        ("__mg2", lambda q: _g(q(pool_alias["Mg{2+}"]))),
    ])
    ctx.let([("__cap", lambda q: _g(f"(1e0 - {q('__ca2')} - {q('__mn2')})"))])
    ctx.let([("__mgfe", lambda q: safe_denom(f"({q('__mg2')} + {q('__fe22')})"))])
    st = plan.stage()
    st.passthrough(list(carry))
    st.add("MgTs", lambda q: f"({q('__mgts')} * 100e0)")
    st.add("Wo", lambda q: f"({q('__ca2')} * 100e0)")
    st.add("En", lambda q: f"({q('__cap')} * ({q('__mg2')} / {q('__mgfe')}) * 100e0)")
    st.add("Fs", lambda q: f"({q('__cap')} * ({q('__fe22')} / {q('__mgfe')}) * 100e0)")
    return ["MgTs", "Wo", "En", "Fs"]


# ---------------------------------------------------------------------------
# E6/E7 Micas (MinPlot, ref ``_minerals.py:649-708`` and ``748-792``)
# ---------------------------------------------------------------------------


def _mica_common(ctx: Ctx):
    """Shared dioct/trioct machinery: AlIV/AlVI split and X_trioct."""
    ctx.let([
        ("__si", ctx.col("Si{4+}")), ("__al", ctx.col("Al{3+}")),
        ("__ti", ctx.col("Ti{4+}")), ("__cr", ctx.col("Cr{3+}")),
        ("__fe", ctx.col("Fe{2+}")), ("__mn", ctx.col("Mn{2+}")),
        ("__mg", ctx.col("Mg{2+}")), ("__k", ctx.col("K{+}")),
        ("__na", ctx.col("Na{+}")), ("__ca", ctx.col("Ca{2+}")),
    ])
    ctx.let([("__aliv", lambda q: clip_upper(_g("(4e0 - " + q("__si") + ")"), q("__al")))])
    ctx.let([("__alvi", lambda q: f"({q('__al')} - {q('__aliv')})")])
    ctx.let([("__msum", lambda q: add_chain(
        [q("__alvi"), q("__ti"), q("__cr"), q("__fe"), q("__mn"), q("__mg")]
    ))])
    ctx.let([("__xtri", lambda q: _clip01(f"({q('__msum')} - 2e0)"))])
    ctx.let([("__xdi", lambda q: f"(1e0 - {q('__xtri')})")])
    ctx.let([("__mgfe", lambda q: f"({q('__mg')} + {q('__fe')})")])
    ctx.let([("__xmg", lambda q: (
        f"(CASE WHEN {q('__mgfe')} > 0e0 AND NOT isnan({q('__mgfe')}) THEN "
        f"{q('__mg')} / {safe_denom(q('__mgfe'))} ELSE 0e0 END)"
    ))])


def add_muscovite_end_members(
    plan: Plan, cols: list[str], units: str = "wt%", carry: list[str] = ()
) -> list[str]:
    """E6: dioctahedral white mica, MinPlot (Walters 2022)."""
    ion_cols = add_raw_apfu(plan, cols, MUSCOVITE, units, carry=carry)
    ctx = Ctx(plan, list(carry) + list(ion_cols))
    _mica_common(ctx)
    ctx.let([("__xm", lambda q: _clip01(f"({q('__alvi')} - 1e0)"))])
    ctx.let([("__xcel", lambda q: f"(1e0 - {q('__xm')})")])
    ctx.let([("__xmgcel", lambda q: f"({q('__xmg')} * {q('__xcel')})")])
    ctx.let([("__xfecel", lambda q: f"({q('__xcel')} - {q('__xmgcel')})")])
    ctx.let([("__alk", lambda q: add_chain([q("__k"), q("__na"), q("__ca")]))])
    ctx.let([("__xmpm", lambda q: f"({q('__alk')} * {q('__xm')})")])
    ctx.let([("__xprl", lambda q: f"({q('__xm')} - {q('__xmpm')})")])

    def alk_frac(q, ion_alias):
        return (
            f"(CASE WHEN {q('__alk')} > 0e0 AND NOT isnan({q('__alk')}) THEN "
            f"{q(ion_alias)} / {safe_denom(q('__alk'))} * {q('__xmpm')} "
            f"ELSE 0e0 END)"
        )

    st = plan.stage()
    st.passthrough(list(carry))
    out = [
        ("Al-Celadonite", lambda q: f"({q('__xmgcel')} * {q('__xdi')} * 100e0)"),
        ("Fe-Al-Celadonite", lambda q: f"({q('__xfecel')} * {q('__xdi')} * 100e0)"),
        ("Pyrophyllite", lambda q: f"({q('__xprl')} * {q('__xdi')} * 100e0)"),
        ("Margarite", lambda q: f"({alk_frac(q, '__ca')} * {q('__xdi')} * 100e0)"),
        ("Paragonite", lambda q: f"({alk_frac(q, '__na')} * {q('__xdi')} * 100e0)"),
        ("Muscovite", lambda q: f"({alk_frac(q, '__k')} * {q('__xdi')} * 100e0)"),
        ("Trioctahedral", lambda q: f"({q('__xtri')} * 100e0)"),
    ]
    for name, e in out:
        st.add(name, e)
    return [n for n, _ in out]


def add_biotite_end_members(
    plan: Plan, cols: list[str], units: str = "wt%", carry: list[str] = ()
) -> list[str]:
    """E7: trioctahedral mica, MinPlot: Phl/Ann vs Sid/Eas joins on Si."""
    ion_cols = add_raw_apfu(plan, cols, BIOTITE, units, carry=carry)
    ctx = Ctx(plan, list(carry) + list(ion_cols))
    _mica_common(ctx)
    ctx.let([("__xpa", lambda q: _clip01(f"({q('__si')} - 2e0)"))])
    ctx.let([("__xse", lambda q: f"(1e0 - {q('__xpa')})")])
    st = plan.stage()
    st.passthrough(list(carry))
    out = [
        ("Phlogopite", lambda q: f"({q('__xpa')} * {q('__xmg')} * {q('__xtri')} * 100e0)"),
        ("Annite", lambda q: f"(({q('__xpa')} - {q('__xpa')} * {q('__xmg')}) * {q('__xtri')} * 100e0)"),
        ("Eastonite", lambda q: f"({q('__xse')} * {q('__xmg')} * {q('__xtri')} * 100e0)"),
        ("Siderophyllite", lambda q: f"(({q('__xse')} - {q('__xse')} * {q('__xmg')}) * {q('__xtri')} * 100e0)"),
        ("Dioctahedral", lambda q: f"({q('__xdi')} * 100e0)"),
    ]
    for name, e in out:
        st.add(name, e)
    return [n for n, _ in out]


# ---------------------------------------------------------------------------
# E8 Staurolite / E13 Chloritoid / E14 Cordierite — R²⁺ fraction families
# ---------------------------------------------------------------------------


def _r2_fraction_members(
    plan: Plan, cols: list[str], mineral: MineralConfig, members: list[tuple[str, str]],
    units: str, carry: list[str],
) -> list[str]:
    """Shared shape: fractions of a Σ(R²⁺ ions) total, zero-gated."""
    ion_cols = add_raw_apfu(plan, cols, mineral, units, carry=carry)
    ctx = Ctx(plan, list(carry) + list(ion_cols))
    ions = [ion for _n, ion in members]
    ctx.let([(f"__i{k}", ctx.col(ion)) for k, ion in enumerate(ions)])
    ctx.let([("__r2", lambda q: add_chain([q(f"__i{k}") for k in range(len(ions))]))])
    st = plan.stage()
    st.passthrough(list(carry))
    for k, (name, _ion) in enumerate(members):
        st.add(name, lambda q, k=k: _gated_frac(q(f"__i{k}"), q("__r2")))
    return [n for n, _ in members]


def add_staurolite_end_members(
    plan: Plan, cols: list[str], units: str = "wt%", carry: list[str] = ()
) -> list[str]:
    """E8 (ref ``_minerals.py:834-851``)."""
    return _r2_fraction_members(
        plan, cols, STAUROLITE,
        [("Fe-Staurolite", "Fe{2+}"), ("Mg-Staurolite", "Mg{2+}"),
         ("Zn-Staurolite", "Zn{2+}"), ("Mn-Staurolite", "Mn{2+}")],
        units, carry,
    )


def add_chloritoid_end_members(
    plan: Plan, cols: list[str], units: str = "wt%", carry: list[str] = ()
) -> list[str]:
    """E13 (ref ``_minerals.py:1271-1290``)."""
    return _r2_fraction_members(
        plan, cols, CHLORITOID,
        [("Cld", "Fe{2+}"), ("Mgcld", "Mg{2+}"), ("Mncld", "Mn{2+}")],
        units, carry,
    )


def add_cordierite_end_members(
    plan: Plan, cols: list[str], units: str = "wt%", carry: list[str] = ()
) -> list[str]:
    """E14: A-site filling = H₂O-Crd; B-site R²⁺ fractions × (1 − A)
    (ref ``_minerals.py:1330-1360``)."""
    ion_cols = add_raw_apfu(plan, cols, CORDIERITE, units, carry=carry)
    ctx = Ctx(plan, list(carry) + list(ion_cols))
    ctx.let([
        ("__fe", ctx.col("Fe{2+}")), ("__mg", ctx.col("Mg{2+}")),
        ("__mn", ctx.col("Mn{2+}")), ("__na", ctx.col("Na{+}")),
        ("__k", ctx.col("K{+}")), ("__ca", ctx.col("Ca{2+}")),
    ])
    ctx.let([("__r2", lambda q: add_chain([q("__fe"), q("__mg"), q("__mn")]))])
    ctx.let([("__atot", lambda q: clip_upper(add_chain([q('__na'), q('__k'), q('__ca')]), 1.0))])
    ctx.let([("__bfrac", lambda q: f"(1e0 - {q('__atot')})")])
    st = plan.stage()
    st.passthrough(list(carry))
    st.add("H₂O-Crd", lambda q: f"({q('__atot')} * 100e0)")
    for name, a in [("Mg-Crd", "__mg"), ("Fe-Crd", "__fe"), ("Mn-Crd", "__mn")]:
        st.add(name, lambda q, a=a: (
            f"({_gated_frac(q(a), q('__r2'), '1e0')} * {q('__bfrac')} * 100e0)"
        ))
    return ["H₂O-Crd", "Mg-Crd", "Fe-Crd", "Mn-Crd"]


# ---------------------------------------------------------------------------
# E9 Chlorite (charge-normalized APFU, ref ``_minerals.py:893-922``)
# ---------------------------------------------------------------------------


def add_chlorite_end_members(
    plan: Plan, cols: list[str], units: str = "wt%", carry: list[str] = ()
) -> list[str]:
    """E9: 28-charge APFU → clinochlore/chamosite vs sudoite split on Si−2."""
    ox_cols = add_to_apfu_by_charge(
        plan, cols, target_charges=28.0, units=units, carry=carry
    )
    # rename oxide-named columns to ion notation (ref ``_minerals.py:896``)
    st = plan.stage()
    st.passthrough(list(carry))
    ion_cols = []
    for c in ox_cols:
        ion = core.oxide_to_ion_col(c)
        st.add(ion, lambda q, c=c: q(c))
        ion_cols.append(ion)
    ctx = Ctx(plan, list(carry) + ion_cols)
    ctx.let([
        ("__si", ctx.col("Si{4+}")), ("__fe", ctx.col("Fe{2+}")),
        ("__mg", ctx.col("Mg{2+}")),
    ])
    ctx.let([("__r2", lambda q: f"({q('__mg')} + {q('__fe')})")])
    ctx.let([("__xmg", lambda q: (
        f"(CASE WHEN {q('__r2')} > 0e0 AND NOT isnan({q('__r2')}) THEN "
        f"{q('__mg')} / {safe_denom(q('__r2'))} ELSE 0e0 END)"
    ))])
    ctx.let([("__xn", lambda q: _clip01(f"(({q('__si')} - 2e0) / 1e0)"))])
    ctx.let([("__xt", lambda q: f"(1e0 - {q('__xn')})")])
    st = plan.stage()
    st.passthrough(list(carry))
    out = [
        ("Clinochlore", lambda q: f"({q('__xn')} * {q('__xmg')} * 100e0)"),
        ("Chamosite", lambda q: f"({q('__xn')} * (1e0 - {q('__xmg')}) * 100e0)"),
        ("Mg-Sudoite", lambda q: f"({q('__xt')} * {q('__xmg')} * 100e0)"),
        ("Fe-Sudoite", lambda q: f"({q('__xt')} * (1e0 - {q('__xmg')}) * 100e0)"),
    ]
    for name, e in out:
        st.add(name, e)
    return [n for n, _ in out]


# ---------------------------------------------------------------------------
# E10 Epidote / E12 Titanite — single-site fraction families
# ---------------------------------------------------------------------------


def add_epidote_end_members(
    plan: Plan, cols: list[str], units: str = "wt%", carry: list[str] = ()
) -> list[str]:
    """E10: M-site trivalent fractions after forced FeO→Fe₂O₃
    (ref ``_minerals.py:978-1002``)."""
    ion_cols = add_raw_apfu(plan, cols, EPIDOTE, units, carry=carry)
    ctx = Ctx(plan, list(carry) + list(ion_cols))
    members = [
        ("Clinozoisite", "Al{3+}"), ("Epidote", "Fe{3+}"),
        ("Piemontite", "Mn{3+}"), ("Mukhinite", "V{3+}"), ("Tawmawite", "Cr{3+}"),
    ]
    ctx.let([(f"__i{k}", ctx.col(ion)) for k, (_n, ion) in enumerate(members)])
    ctx.let([("__mt", lambda q: add_chain([q(f"__i{k}") for k in range(len(members))]))])
    st = plan.stage()
    st.passthrough(list(carry))
    for k, (name, _ion) in enumerate(members):
        st.add(name, lambda q, k=k: _gated_frac(q(f"__i{k}"), q("__mt")))
    return [n for n, _ in members]


def add_titanite_end_members(
    plan: Plan, cols: list[str], units: str = "wt%", carry: list[str] = ()
) -> list[str]:
    """E12: B-site occupancy fractions after forced FeO→Fe₂O₃
    (ref ``_minerals.py:1198-1228``)."""
    ion_cols = add_raw_apfu(plan, cols, TITANITE, units, carry=carry)
    ctx = Ctx(plan, list(carry) + list(ion_cols))
    b_ions = ["Ti{4+}", "Al{3+}", "Fe{3+}", "Sn{4+}", "Nb{5+}", "Zr{4+}",
              "Cr{3+}", "V{3+}", "Mg{2+}"]
    ctx.let([(f"__b{k}", ctx.col(ion)) for k, ion in enumerate(b_ions)])
    ctx.let([("__bt", lambda q: add_chain([q(f"__b{k}") for k in range(len(b_ions))]))])
    st = plan.stage()
    st.passthrough(list(carry))
    named = [("Ttn", 0), ("Al-Ttn", 1), ("Fe-Ttn", 2), ("Mal", 3)]
    for name, k in named:
        st.add(name, lambda q, k=k: _gated_frac(q(f"__b{k}"), q("__bt")))
    st.add("Other", lambda q: _gated_frac(
        add_chain([q(f"__b{k}") for k in range(4, 9)]), q("__bt")
    ))
    return [n for n, _k in named] + ["Other"]


# ---------------------------------------------------------------------------
# E11 Amphibole (ref ``_minerals.py:1054-1135``)
# ---------------------------------------------------------------------------


def add_amphibole_end_members(
    plan: Plan, cols: list[str], units: str = "wt%", carry: list[str] = ()
) -> list[str]:
    """E11: Schumacher Fe³⁺ split → site allocation → boolean group
    classification × Mg/Fe × edenite × Tschermak factor products."""
    ion_cols = add_raw_apfu(plan, cols, AMPHIBOLE, units, carry=carry)
    site_cols, _un = add_site_allocation(plan, ion_cols, AMPHIBOLE, carry=carry)
    emitted = {c for cs in site_cols.values() for c in cs}

    def sc(site: str, ion: str):
        name = site_col(site, ion)
        if name in emitted:
            return lambda q, n=name: q(n)
        return lambda q: "0e0"

    ctx = Ctx(plan, list(carry) + [c for cs in site_cols.values() for c in cs])
    ctx.let([
        ("__atot", lambda q: f"({sc('A', 'K{+}')(q)} + {sc('A', 'Na{+}')(q)})"),
        ("__nab", sc("B", "Na{+}")), ("__cab", sc("B", "Ca{2+}")),
        ("__mgc", sc("C", "Mg{2+}")), ("__fec", sc("C", "Fe{2+}")),
        ("__alt", sc("T", "Al{3+}")),
    ])
    ctx.let([
        ("__calcic", lambda q: (
            f"(CASE WHEN {q('__cab')} >= {q('__nab')} "
            f"AND NOT isnan({q('__cab')}) THEN 1e0 ELSE 0e0 END)"
        )),
        ("__sodcal", lambda q: (
            f"(CASE WHEN {q('__nab')} > {q('__cab')} AND {q('__cab')} > 0e0 "
            f"AND NOT isnan({q('__nab')}) THEN 1e0 ELSE 0e0 END)"
        )),
        ("__sodic", lambda q: (
            f"(CASE WHEN {q('__nab')} > 0e0 AND NOT isnan({q('__nab')}) "
            f"AND {q('__cab')} = 0e0 THEN 1e0 ELSE 0e0 END)"
        )),
        ("__mgfec", lambda q: safe_denom(f"({q('__mgc')} + {q('__fec')})")),
    ])
    ctx.let([
        ("__xmg", lambda q: f"({q('__mgc')} / {q('__mgfec')})"),
        ("__xfe", lambda q: f"({q('__fec')} / {q('__mgfec')})"),
        ("__xts", lambda q: clip_upper(f"({q('__alt')} / 8e0)", 1.0)),
        ("__xed", lambda q: clip_upper(q('__atot'), 1.0)),
    ])
    ctx.let([
        ("__nts", lambda q: f"(1e0 - {q('__xts')})"),
        ("__ned", lambda q: f"(1e0 - {q('__xed')})"),
    ])
    members = [
        ("Tremolite", "__calcic", "__xmg", "__ned", "__nts"),
        ("Actinolite", "__calcic", "__xfe", "__ned", "__nts"),
        ("Edenite", "__calcic", "__xmg", "__xed", "__nts"),
        ("Ferro-Edenite", "__calcic", "__xfe", "__xed", "__nts"),
        ("Pargasite", "__calcic", "__xmg", "__xed", "__xts"),
        ("Ferro-Pargasite", "__calcic", "__xfe", "__xed", "__xts"),
        ("Tschermakite", "__calcic", "__ned", "__xts"),
        ("Richterite", "__sodcal", "__xmg", "__nts"),
        ("Winchite", "__sodcal", "__xfe", "__nts"),
        ("Glaucophane", "__sodic", "__xmg", "__xts"),
        ("Ferro-Glaucophane", "__sodic", "__xfe", "__xts"),
        ("Riebeckite", "__sodic", "__xfe", "__nts"),
        ("Magnesio-Riebeckite", "__sodic", "__xmg", "__nts"),
    ]
    st = plan.stage()
    st.passthrough(list(carry))
    for name, *factors in members:
        st.add(name, lambda q, fs=factors: (
            "(" + " * ".join(q(f) for f in fs) + " * 100e0)"
        ))
    return [m[0] for m in members]


# ---------------------------------------------------------------------------
# E15 Ilmenite / E16 Spinel — site-fraction products
# ---------------------------------------------------------------------------


def add_ilmenite_end_members(
    plan: Plan, cols: list[str], units: str = "wt%", carry: list[str] = ()
) -> list[str]:
    """E15: A×B site-fraction products over capacity-clipped allocations
    (ref ``_minerals.py:1399-1454``)."""
    ion_cols = add_raw_apfu(plan, cols, ILMENITE, units, carry=carry)
    site_cols, _un = add_site_allocation(plan, ion_cols, ILMENITE, carry=carry)
    emitted = {c for cs in site_cols.values() for c in cs}

    def sc(site: str, ion: str):
        name = site_col(site, ion)
        if name in emitted:
            return lambda q, n=name: q(n)
        return lambda q: "0e0"

    ctx = Ctx(plan, list(carry) + [c for cs in site_cols.values() for c in cs])
    ctx.let([
        ("__fe2a", sc("A", "Fe{2+}")), ("__fe3a", sc("A", "Fe{3+}")),
        ("__mga", sc("A", "Mg{2+}")), ("__mna", sc("A", "Mn{2+}")),
        ("__tib", sc("B", "Ti{4+}")), ("__fe3b", sc("B", "Fe{3+}")),
        ("__alb", sc("B", "Al{3+}")), ("__crb", sc("B", "Cr{3+}")),
    ])
    ctx.let([
        ("__at", lambda q: add_chain([q("__fe2a"), q("__fe3a"), q("__mga"), q("__mna")])),
        ("__bt", lambda q: add_chain([q("__tib"), q("__fe3b"), q("__alb"), q("__crb")])),
    ])
    for a, n in [("__fe2a", "__xfe2a"), ("__mga", "__xmga"),
                 ("__mna", "__xmna"), ("__fe3a", "__xfe3a")]:
        ctx.let([(n, lambda q, a=a: _gated_frac(q(a), q("__at"), "1e0"))])
    for b, n in [("__tib", "__xtib"), ("__fe3b", "__xfe3b"), ("__crb", "__xcrb")]:
        ctx.let([(n, lambda q, b=b: _gated_frac(q(b), q("__bt"), "1e0"))])
    prods = [
        ("Ilm", "__xfe2a", "__xtib"), ("Gk", "__xmga", "__xtib"),
        ("Pph", "__xmna", "__xtib"), ("Hem", "__xfe3a", "__xfe3b"),
        ("Chr", "__xfe3a", "__xcrb"),
    ]
    ctx.let([(f"__p_{n}", lambda q, a=a, b=b: f"({q(a)} * {q(b)})") for n, a, b in prods])
    ctx.let([("__tot", lambda q: add_chain([q(f"__p_{n}") for n, _a, _b in prods]))])
    st = plan.stage()
    st.passthrough(list(carry))
    for n, _a, _b in prods:
        st.add(n, lambda q, n=n: _gated_frac(q(f"__p_{n}"), q("__tot")))
    return [n for n, _a, _b in prods]


def add_spinel_end_members(
    plan: Plan, cols: list[str], units: str = "wt%", carry: list[str] = ()
) -> list[str]:
    """E16: T × M² fraction products over raw APFU after Fe₂O₃→FeO merge +
    Droop (ref ``_minerals.py:1521-1585``)."""
    ion_cols = add_raw_apfu(plan, cols, SPINEL, units, carry=carry)
    ctx = Ctx(plan, list(carry) + list(ion_cols))
    ions = {
        "mg": "Mg{2+}", "fe2": "Fe{2+}", "zn": "Zn{2+}", "mn": "Mn{2+}",
        "fe3": "Fe{3+}", "al": "Al{3+}", "cr": "Cr{3+}", "ti": "Ti{4+}",
    }
    ctx.let([(f"__{k}", ctx.col(v)) for k, v in ions.items()])
    ctx.let([
        ("__tt", lambda q: add_chain([q(f"__{k}") for k in
                                      ["mg", "fe2", "zn", "mn", "fe3", "al", "cr", "ti"]])),
        ("__mt", lambda q: add_chain([q(f"__{k}") for k in
                                      ["al", "cr", "fe3", "ti", "mg", "fe2", "mn"]])),
    ])
    for k in ["mg", "fe2", "zn", "mn"]:
        ctx.let([(f"__xt_{k}", lambda q, k=k: _gated_frac(q(f"__{k}"), q("__tt"), "1e0"))])
    for k in ["mg", "al", "cr", "fe3", "ti", "fe2", "mn"]:
        ctx.let([(f"__xm_{k}", lambda q, k=k: _gated_frac(q(f"__{k}"), q("__mt"), "1e0"))])
    # products: squares written x*x (bitwise-portable; no POWER)
    prods = [
        ("Spl", lambda q: f"({q('__xt_mg')} * {q('__xm_al')} * {q('__xm_al')})"),
        ("Herc", lambda q: f"({q('__xt_fe2')} * {q('__xm_al')} * {q('__xm_al')})"),
        ("Chrm", lambda q: f"({q('__xt_fe2')} * {q('__xm_cr')} * {q('__xm_cr')})"),
        ("Mtc", lambda q: f"({q('__xt_fe2')} * {q('__xm_fe3')} * {q('__xm_fe3')})"),
        ("Gahn", lambda q: f"({q('__xt_zn')} * {q('__xm_al')} * {q('__xm_al')})"),
        ("Frank", lambda q: f"({q('__xt_fe2')} * {q('__xm_ti')} * {q('__xm_fe2')})"),
        ("Jac", lambda q: f"({q('__xt_mn')} * {q('__xm_al')} * {q('__xm_al')})"),
        ("Ulv", lambda q: f"({q('__xt_mg')} * {q('__xm_ti')} * {q('__xm_mg')})"),
        ("Spss", lambda q: f"({q('__xt_mn')} * {q('__xm_mn')} * {q('__xm_mn')})"),
    ]
    ctx.let([(f"__p_{n}", e) for n, e in prods])
    ctx.let([("__tot", lambda q: add_chain([q(f"__p_{n}") for n, _e in prods]))])
    st = plan.stage()
    st.passthrough(list(carry))
    for n, _e in prods:
        st.add(n, lambda q, n=n: _gated_frac(q(f"__p_{n}"), q("__tot")))
    return [n for n, _e in prods]


# Register the extended emitters so ``PetroFrame.end_members`` dispatches
# by mineral name across the full E1-E16 set.
from petropandas_spark.minerals import END_MEMBER_BUILDERS  # noqa: E402

END_MEMBER_BUILDERS.update({
    "GarnetFe3": add_garnetfe3_end_members,
    "Orthopyroxene": add_opx_end_members,
    "Muscovite": add_muscovite_end_members,
    "Biotite": add_biotite_end_members,
    "Staurolite": add_staurolite_end_members,
    "Chlorite": add_chlorite_end_members,
    "Epidote": add_epidote_end_members,
    "Amphibole": add_amphibole_end_members,
    "Titanite": add_titanite_end_members,
    "Chloritoid": add_chloritoid_end_members,
    "Cordierite": add_cordierite_end_members,
    "Ilmenite": add_ilmenite_end_members,
    "Spinel": add_spinel_end_members,
})

GARNETFE3 = MineralConfig(name="GarnetFe3", n_oxygens=12, ideal_cations=8)
