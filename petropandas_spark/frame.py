"""PetroFrame — Spark DataFrame + unit-state metadata wrapper.

The reference rides unit state on ``pd.DataFrame.attrs`` (``petro_units``,
``petro_n_oxygens``, ``petro_n_cations``, per-row ``petro_total`` —
``_accessors.py:507-510``, consumed ``_calc.py:88-116``).  Spark DataFrames
carry no attrs, so the engine wraps the DataFrame with that metadata; the
per-row ``petro_total`` becomes a real hidden column ``__petro_total``
(SURVEY.md §1.2).

All transformations are *lazy*: methods build a ``sqlgen.Plan`` from the
current schema (driver-side only) and apply it as one nested ``spark.sql``
SELECT — Catalyst collapses / constant-folds / codegens the chain;
nothing executes until an action.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from petropandas_spark import core, minerals
from petropandas_spark.functions.conversions import (
    add_from_apfu,
    add_normalize,
    add_to_apfu,
    add_to_moles,
    add_to_oxides,
)
from petropandas_spark.sqlgen import Plan, add_chain

TOTAL_COL = "__petro_total"


def ieee_div_col(num, den):
    """Column-level twin of :func:`sqlgen.ieee_div` — pandas/numpy IEEE-754
    division semantics (0/0 → NaN, x/0 → ±inf, NULL propagates) for plan
    fragments built with pyspark Columns instead of dual-dialect SQL text.
    Spark's bare ``/`` aborts the job on a zero denominator under ANSI
    mode (the Spark 4 default); CASE branches evaluate lazily, so the
    division only runs when the denominator is non-zero.

    Same ``-0.0`` caveat as the SQL twin: a negative-zero denominator
    takes the positive-zero branch (``==`` treats ``-0.0 == 0.0``), so
    ``1/-0.0`` yields +inf here vs IEEE's -inf — negative zeros are not
    reachable from the physical-data row sums these guards wrap, and the
    plotting eval dialect keeps the full sign-bit treatment where the
    reference dialect requires it."""
    from pyspark.sql import functions as F

    nan = F.lit(float("nan"))
    return (
        F.when(num.isNull() | den.isNull(), F.lit(None).cast("double"))
        .when(
            den == 0.0,
            F.when((num == 0.0) | F.isnan(num), nan)
            .when(num > 0.0, F.lit(float("inf")))
            .otherwise(F.lit(float("-inf"))),
        )
        .otherwise(num / den)
    )


def clean_plan(cols: list[str]) -> tuple[Plan, list[str], list[str]]:
    """P1 clean-on-access (ref ``_accessors.py:101-129``): strip whitespace
    from names, apply ALIASES, ``coalesce(c,0)`` + ``greatest(c,0)`` on
    formula columns only; other columns pass through untouched.

    Returns ``(plan, formula_cols, all_out_cols)``.
    """
    renames: dict[str, str] = {}
    for c in cols:
        name = c.strip()
        name = core.ALIASES.get(name, name)
        renames[c] = name
    plan = Plan()
    st = plan.stage()
    out, fcols = [], []
    for c in cols:
        name = renames[c]
        if core.is_formula(name):
            st.add(
                name,
                lambda q, c=c: f"GREATEST(COALESCE({q(c)}, 0e0), 0e0)",
            )
            fcols.append(name)
        else:
            st.add(name, lambda q, c=c: q(c))
        out.append(name)
    return plan, fcols, out


@dataclass(frozen=True)
class PetroFrame:
    """Immutable wrapper: Spark DataFrame + unit metadata.

    ``units`` ∈ {"wt%", "moles", "apfu"}; ``n_oxygens``/``n_cations`` are
    set after an APFU conversion; ``meta_cols`` are non-formula columns
    carried through every transformation.
    """

    df: object  # pyspark.sql.DataFrame
    units: str = "wt%"
    n_oxygens: float | None = None
    n_cations: float | None = None
    has_total: bool = False

    # -- construction --------------------------------------------------------

    @staticmethod
    def ingest(df) -> "PetroFrame":
        """Clean a raw analysis table (P1) and tag it ``wt%``."""
        plan, _f, _out = clean_plan(df.columns)
        return PetroFrame(plan.apply(df), units="wt%")

    # -- helpers -------------------------------------------------------------

    @property
    def formula_cols(self) -> list[str]:
        return core.formula_cols(self.df.columns)

    @property
    def oxide_cols(self) -> list[str]:
        return core.oxide_cols(self.df.columns)

    @property
    def meta_cols(self) -> list[str]:
        hidden = {TOTAL_COL}
        return [
            c for c in self.df.columns
            if not core.is_formula(c) and c not in hidden
        ]

    def _carry(self) -> list[str]:
        carry = self.meta_cols
        if self.has_total:
            carry = carry + [TOTAL_COL]
        return carry

    # -- projections / filters (P2-P8) ---------------------------------------

    def select_rows(self, arg, on: str) -> "PetroFrame":
        """P5/P6 row select: substring match (str) or membership (list)
        on a metadata column (ref ``_accessors.py:380-426``)."""
        col = self.df[on]
        if isinstance(arg, (list, tuple, set)):
            return replace(self, df=self.df.filter(col.isin(list(arg))))
        return replace(self, df=self.df.filter(col.contains(arg)))

    def reframe(self, columns: list[str]) -> "PetroFrame":
        """P8: restrict/reorder to *columns*, missing ones zero-filled
        (ref ``_accessors.py:112-117,539-552``)."""
        from pyspark.sql import functions as F

        exprs = [
            (self.df[c] if c in self.df.columns else F.lit(0.0)).alias(c)
            for c in columns
        ]
        return replace(self, df=self.df.select(*exprs))

    def petro_sorted(self) -> "PetroFrame":
        """P4: canonical petrological column order."""
        return replace(self, df=self.df.select(*core.petro_sorted(self.df.columns)))

    # -- unit conversions (U1-U10) --------------------------------------------

    def _apply(self, plan: Plan, **meta) -> "PetroFrame":
        return replace(self, df=plan.apply(self.df), **meta)

    def to_moles(self) -> "PetroFrame":
        plan = Plan()
        add_to_moles(plan, self.df.columns, carry=self._carry())
        return self._apply(plan, units="moles")

    def oxides(self) -> "PetroFrame":
        """wt% oxide projection (dispatcher ref ``_calc.py:85-194``)."""
        plan = Plan()
        cols = list(self.df.columns)
        if self.units == "moles":
            add_to_oxides(plan, cols, carry=self._carry())
        elif self.units == "apfu":
            add_from_apfu(
                plan, cols,
                n_oxygens=self.n_oxygens,
                n_cations=None if self.n_oxygens is not None else self.n_cations,
                total=TOTAL_COL if self.has_total else None,
                carry=self.meta_cols,
            )
        else:
            ox = core.oxide_cols(cols)
            st = plan.stage()
            st.passthrough(self._carry() + ox)
        pf = self._apply(plan, units="wt%", has_total=False)
        # restrict to oxide columns (+meta)
        keep = pf.meta_cols + core.oxide_cols(pf.df.columns)
        return replace(pf, df=pf.df.select(*keep))

    def cations(
        self, n_oxygens: float | None = None, n_cations: float | None = None
    ) -> "PetroFrame":
        """APFU conversion; stamps basis metadata and the per-row analytical
        total as ``__petro_total`` for the documented round-trip
        ``pf.cations(n_oxygens=N).oxides()`` (ref README.md:139-141)."""
        plan = Plan()
        cols = list(self.df.columns)
        fcols = core.formula_cols(cols)
        # stamp per-row total of formula columns before conversion
        st = plan.stage()
        st.passthrough(self.meta_cols + fcols)
        st.add(TOTAL_COL, lambda q: add_chain([q(c) for c in fcols]))
        add_to_apfu(
            plan, fcols,
            n_oxygens=n_oxygens, n_cations=n_cations,
            units=self.units,
            carry=self.meta_cols + [TOTAL_COL],
        )
        return self._apply(
            plan, units="apfu",
            n_oxygens=n_oxygens, n_cations=n_cations, has_total=True,
        )

    def normalize(self) -> "PetroFrame":
        plan = Plan()
        add_normalize(plan, self.df.columns, carry=self._carry())
        return self._apply(plan)

    # -- iron / valence (V*) ---------------------------------------------------

    def feo_to_fe2o3(self) -> "PetroFrame":
        """V1 (ref ``_accessors``/``_calc.py:633-662``)."""
        from petropandas_spark.functions.conversions import add_feo_to_fe2o3

        plan = Plan()
        add_feo_to_fe2o3(
            plan, core.formula_cols(self.df.columns), carry=self._carry()
        )
        return self._apply(plan)

    def reduce(self) -> "PetroFrame":
        """V2/V3 dispatch on units (ref ``_accessors.py:354-364``)."""
        from petropandas_spark.functions.conversions import (
            add_fe2o3_to_feo,
            add_reduce_moles,
        )

        plan = Plan()
        fcols = core.formula_cols(self.df.columns)
        if self.units == "moles":
            add_reduce_moles(plan, fcols, carry=self._carry())
        else:
            add_fe2o3_to_feo(plan, fcols, carry=self._carry())
        return self._apply(plan)

    def oxidize(self, o_excess: float | str) -> "PetroFrame":
        """V7: split FeO by excess oxygen mol% — moles units only
        (ref ``_accessors.py:335-352``)."""
        from petropandas_spark.functions.conversions import add_oxidize_moles

        if self.units != "moles":
            raise ValueError("oxidize() requires moles units (call to_moles())")
        plan = Plan()
        add_oxidize_moles(
            plan, core.formula_cols(self.df.columns), o_excess,
            carry=self.meta_cols,
        )
        return self._apply(plan)

    def split_valence(self, element: str = "Fe", method: str = "droop",
                      n_oxygens: float = 12.0,
                      ideal_cations: float = 8.0) -> "PetroFrame":
        """V6: split a total-element APFU column into low/high-charge ions
        (ref ``_accessors.py:295-333``); requires apfu units."""
        from petropandas_spark.functions.valence import add_split_valence

        if self.units != "apfu":
            raise ValueError(
                "split_valence() requires apfu units (call cations())"
            )
        plan = Plan()
        add_split_valence(
            plan, core.formula_cols(self.df.columns), element, method,
            n_oxygens=n_oxygens, ideal_cations=ideal_cations,
            carry=self.meta_cols + ([TOTAL_COL] if self.has_total else []),
        )
        return self._apply(plan)

    # -- mineral pipeline (M*, E*) --------------------------------------------
    #
    # Every method dispatches on Mineral-or-Phase exactly like the
    # reference accessor (``df.mineral.apfu(Grt)`` and
    # ``df.mineral.apfu(TC_g)`` both work, ref README.md "hpxeos"): a
    # THERMOCALC ``PhaseSpec`` carries its embedded ``MineralConfig`` for
    # the apfu/site/stoichiometry paths and its compiled p-block for
    # end members.

    @staticmethod
    def _as_mineral(mineral) -> minerals.MineralConfig:
        return mineral.mineral if hasattr(mineral, "p_block") else mineral

    def mineral_apfu(self, mineral) -> "PetroFrame":
        mineral = self._as_mineral(mineral)
        plan = Plan()
        minerals.add_apfu(
            plan, self.formula_cols, mineral, self.units, carry=self.meta_cols
        )
        return self._apply(plan, units="apfu", n_oxygens=mineral.n_oxygens,
                           has_total=False)

    def site_allocations(self, mineral) -> "PetroFrame":
        plan = Plan()
        minerals.add_site_allocations_flat(
            plan, self.formula_cols, self._as_mineral(mineral), self.units,
            carry=self.meta_cols,
        )
        return self._apply(plan, has_total=False)

    def end_members(self, mineral, order_parameters=None) -> "PetroFrame":
        if hasattr(mineral, "p_block"):
            return self.phase_end_members(
                mineral, order_parameters=order_parameters
            )
        builder = minerals.END_MEMBER_BUILDERS[mineral.name]
        plan = Plan()
        builder(plan, self.formula_cols, self.units, carry=self.meta_cols)
        return self._apply(plan, has_total=False)

    def site_occupancies(self, spec, order_parameters=None) -> "PetroFrame":
        """X10: THERMOCALC sf-block site occupancies for a PhaseSpec."""
        from petropandas_spark.hpxeos import add_site_occupancies

        plan = Plan()
        add_site_occupancies(
            plan, self.formula_cols, spec,
            order_parameters=order_parameters, carry=self.meta_cols,
        )
        return self._apply(plan, has_total=False)

    def phase_end_members(self, spec, order_parameters=None) -> "PetroFrame":
        """X8: THERMOCALC a-x phase end-member proportions ×100 (hpxeos
        PhaseSpec path — the analog of ``df.mineral.end_members(TC_g)``)."""
        from petropandas_spark.hpxeos import add_phase_end_members

        plan = Plan()
        add_phase_end_members(
            plan, self.formula_cols, spec,
            order_parameters=order_parameters, carry=self.meta_cols,
        )
        return self._apply(plan, has_total=False)

    def check_stoichiometry(self, mineral) -> "PetroFrame":
        plan = Plan()
        minerals.add_check_stoichiometry(
            plan, self.formula_cols, self._as_mineral(mineral), self.units,
            carry=self.meta_cols,
        )
        return self._apply(plan, has_total=False)

    # -- bulk-rock layer (B1-B5) ----------------------------------------------

    def alumina_saturation(self, classify: bool = False) -> "PetroFrame":
        """B1/B2 molar A/NK, A/CNK (+ Shand class)."""
        from petropandas_spark.functions.bulk import add_alumina_saturation

        plan = Plan()
        add_alumina_saturation(
            plan, self.formula_cols, classify=classify, carry=self.meta_cols
        )
        return self._apply(plan, has_total=False)

    def oxide_ratios(self) -> "PetroFrame":
        """B3 FeOT / Mg# / alkali ratios (schema-driven)."""
        from petropandas_spark.functions.bulk import add_oxide_ratios

        plan = Plan()
        add_oxide_ratios(plan, self.formula_cols, carry=self.meta_cols)
        return self._apply(plan, has_total=False)

    def apatite_correction(self) -> "PetroFrame":
        """B4 fluorapatite CaO correction."""
        from petropandas_spark.functions.bulk import add_apatite_correction

        plan = Plan()
        add_apatite_correction(plan, self.df.columns, carry=[])
        return self._apply(plan)

    def cipw_norm(
        self, *, hb: bool = False, normsum: bool = False,
        cancrinite: bool = False, spinel: bool = False,
        complete_results: bool = False,
    ) -> "PetroFrame":
        """B6/B7 GCDkit-faithful CIPW norm (vectorized mapInPandas stage).

        ``complete_results=False`` replicates the reference runner
        (``_calc.py:1738-1767``): drop the sub-mineral split columns, drop
        all-zero columns (a Spark agg action), and drop NaN-Total rows.
        """
        from pyspark.sql import functions as F

        from petropandas_spark import cipw as _cipw

        out_df = _cipw.cipw_norm_df(
            self.df, hb=hb, normsum=normsum, cancrinite=cancrinite,
            spinel=spinel, id_cols=self.meta_cols,
        )
        pf = replace(self, df=out_df, units="wt%", has_total=False)
        if complete_results:
            return pf
        drop = {"En", "Fs", "Fo", "Fa", "MgDi", "FeDi"}
        if hb:
            drop |= {"MgBi", "FeBi", "Act", "FeAct", "MgAct",
                     "Ed", "FeEd", "MgEd"}
        names = [c for c in (_cipw.CIPWHB_NAMES if hb else _cipw.CIPW_NAMES)
                 if c not in drop]
        kept = pf.df.select(*self.meta_cols, *[f"`{c}`" for c in names])
        # all-zero column drop over non-NaN rows (reference counts `== 0`)
        counts = kept.agg(
            F.count(F.lit(1)).alias("__n"),
            *[F.sum((F.col(f"`{c}`") == 0.0).cast("long")).alias(c)
              for c in names],
        ).collect()[0]
        keep = [c for c in names if (counts[c] or 0) != counts["__n"]]
        return replace(
            pf,
            df=kept.select(*self.meta_cols, *[f"`{c}`" for c in keep])
            .filter(F.col("Total").isNotNull()),
        )

    # -- set ops (§2.9: the reference's only set operator) --------------------

    def concat(self, *others: "PetroFrame") -> "PetroFrame":
        """Row-union of fetched frames with schema union (the reference's
        ``pd.concat`` at ``_database.py:578,882`` →
        ``unionByName(allowMissingColumns=True)``)."""
        out = self.df
        for o in others:
            out = out.unionByName(o.df, allowMissingColumns=True)
        return replace(self, df=out)

    # -- aggregations (A1-A3) --------------------------------------------------

    def mean(self, groupby: str | None = None,
             weights: str | None = None) -> "PetroFrame":
        """A1/A2/A3 oxide means: overall, grouped, or weighted
        (ref ``_accessors.py:270-293,675-722``)."""
        from pyspark.sql import functions as F

        cols = self.formula_cols
        if groupby is not None and groupby not in self.df.columns:
            raise ValueError(f"Groupby column {groupby!r} not found")
        if weights is not None and weights not in self.df.columns:
            raise ValueError(f"Weights column {weights!r} not found")
        if weights is None:
            aggs = [F.avg(f"`{c}`").alias(c) for c in cols]
        else:
            # ieee_div_col: the reference divides the grouped sums
            # unguarded (``grouped.div(weight_sums)``,
            # ``_accessors.py:710-719``) — an all-zero-weight group is
            # NaN in pandas; Spark's bare / would abort the job under
            # ANSI mode.
            w = F.col(f"`{weights}`")
            aggs = [
                ieee_div_col(F.sum(F.col(f"`{c}`") * w), F.sum(w)).alias(c)
                for c in cols
            ]
        if groupby is not None:
            out = self.df.groupBy(groupby).agg(*aggs)
        else:
            out = self.df.agg(*aggs)
        return replace(self, df=out, has_total=False)

    # -- thermodynamic bulk prep + sinks (B8/B9, S6) ---------------------------

    def thermo_bulk_prep(self, system_cols: list[str], **kw) -> "PetroFrame":
        from petropandas_spark.functions.thermo import add_thermo_bulk_prep

        plan = Plan()
        add_thermo_bulk_prep(
            plan, self.formula_cols, system_cols, carry=self.meta_cols, **kw
        )
        return self._apply(plan, units="moles", has_total=False)

    def tc_bulk(self, **kw):
        from petropandas_spark.functions import thermo

        out = thermo.tc_bulk(self, **kw)
        return replace(self, df=out) if kw.get("dataframe") else out

    def perplex_bulk(self, **kw):
        from petropandas_spark.functions import thermo

        out = thermo.perplex_bulk(self, **kw)
        return replace(self, df=out) if kw.get("dataframe") else out

    def magemin_bulk(self, **kw):
        from petropandas_spark.functions import thermo

        out = thermo.magemin_bulk(self, **kw)
        return replace(self, df=out) if kw.get("dataframe") else out

    def cipw_norm_simple(self, drop_zero: bool = True) -> "PetroFrame":
        """B5 simplified CIPW norm.  ``drop_zero`` replicates the
        reference's zero-only column drop (A4) — a two-pass
        ``agg(max(abs(c)))`` action then a driver-side ``select``."""
        from pyspark.sql import functions as F

        from petropandas_spark.functions.bulk import add_cipw_norm_simple

        plan = Plan()
        out = add_cipw_norm_simple(plan, self.formula_cols, carry=self.meta_cols)
        pf = self._apply(plan, has_total=False)
        if drop_zero:
            maxes = pf.df.agg(
                *[F.max(F.abs(F.col(f"`{c}`"))).alias(c) for c in out]
            ).collect()[0]
            keep = self.meta_cols + [c for c in out if (maxes[c] or 0.0) != 0.0]
            pf = replace(pf, df=pf.df.select(*[f"`{c}`" for c in keep]))
        return pf
