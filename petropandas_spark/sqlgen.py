"""Dual-dialect SQL expression generation.

The engine's scalar layer is built from SQL expression strings that are
valid in BOTH Spark SQL and DuckDB.  A :class:`Plan` renders its stages
as one nested SELECT; the Spark engine runs that text with one
``spark.sql`` call over a temporary view of the input (one parse and one
analysis per plan; the expressions become ordinary Catalyst expressions —
whole-stage-codegen'd, constant-folded, collapsed across stages by
``CollapseProject``), and the *same* renderer emits the DuckDB oracle SQL
for the driver's correctness gate.  Because both engines then evaluate
the identical IEEE-754 expression tree, per-row results are bitwise
identical — no tolerance games.

Rules for portability (verified against Spark 4.1 / DuckDB 1.0):
  * float literals must carry an exponent (``0.01`` is DECIMAL in both
    dialects; ``1e-2`` / ``0.01e0`` is DOUBLE) — use :func:`flit`;
  * identifiers are quoted per dialect (backticks vs double quotes, an
    embedded quote character doubled);
  * stick to ANSI scalar functions present in both: CASE WHEN, LEAST,
    GREATEST, ABS, EXP, LN, SQRT, POWER, COALESCE, ROUND.
"""

from __future__ import annotations

import math
import uuid
from dataclasses import dataclass, field, replace


def flit(x: float) -> str:
    """Render a Python float as a DOUBLE literal in both dialects.

    Non-finite values use string casts: ``x/0`` division renders NULL in
    both engines (Spark non-ANSI and DuckDB), whereas ``CAST('NaN' AS
    DOUBLE)`` / ``CAST('Infinity' AS DOUBLE)`` parse as true IEEE-754
    specials in both.
    """
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return ("CAST('Infinity' AS DOUBLE)" if x > 0
                else "CAST('-Infinity' AS DOUBLE)")
    s = repr(x)
    if "e" in s or "E" in s:
        return s
    return s + "e0"


#: ``coalesce`` bound of a codegen barrier: never below a real partition
#: count, so the coalesce keeps the child's partitions 1:1
_BARRIER_PARTITIONS = 1 << 30


@dataclass(frozen=True)
class Dialect:
    """Identifier quoting for one engine, and the optimizer hint (if any)
    that opens a codegen-barrier SELECT in :meth:`Plan.to_sql`."""

    name: str
    qchar_open: str
    qchar_close: str
    barrier_hint: str = ""

    def quote(self, ident: str) -> str:
        """Quote *ident*, doubling any embedded closing quote character."""
        c = self.qchar_close
        return f"{self.qchar_open}{ident.replace(c, c + c)}{c}"


SPARK = Dialect("spark", "`", "`",
                f"/*+ COALESCE({_BARRIER_PARTITIONS}) */")
# micro-batch plans are built per batch and coalesce semantics differ
# mid-stream, so a streaming input gets no barrier (as in codegen_barrier)
_SPARK_STREAMING = replace(SPARK, barrier_hint="")
DUCKDB = Dialect("duckdb", '"', '"')
# For SQL text shared verbatim between engines; only safe for identifiers
# that need no quoting in either dialect (plain alphanumerics).
PLAIN = Dialect("plain", "", "")


# ---------------------------------------------------------------------------
# Expression helpers (plain string combinators)
# ---------------------------------------------------------------------------


def add_chain(terms: list[str]) -> str:
    """Left-fold addition — textual order fixes FP evaluation order."""
    if not terms:
        return "0e0"
    return "(" + " + ".join(terms) + ")"


def clip_lower(e: str, lo: float | str = 0.0) -> str:
    lo_s = lo if isinstance(lo, str) else flit(lo)
    return f"GREATEST({e}, {lo_s})"


def clip_upper(e: str, hi: float | str) -> str:
    """pandas ``Series.clip(upper=hi)`` semantics, which plain LEAST has
    only half of: a NaN VALUE must stay NaN — both engines sort NaN as
    the LARGEST double, so ``LEAST(NaN, hi)`` returns the bound and
    FABRICATES a clipped value for a degenerate row (a blank analysis
    allocated a full site, measured round 7) — while a NaN BOUND is
    ignored (LEAST already returns the value there, matching pandas).
    ``e`` repeats ×2 in the emitted text — keep operands shallow
    (column refs or short combos at every call site)."""
    hi_s = hi if isinstance(hi, str) else flit(hi)
    return f"(CASE WHEN isnan({e}) THEN {e} ELSE LEAST({e}, {hi_s}) END)"


def clip(e: str, lo: float | str, hi: float | str) -> str:
    return clip_upper(clip_lower(e, lo), hi)


def safe_denom(e: str) -> str:
    """The reference's ``replace(0, 1)`` zero-denominator guard."""
    return f"(CASE WHEN {e} = 0e0 THEN 1e0 ELSE {e} END)"


def ieee_div(num: str, den: str) -> str:
    """Division with pandas/numpy (IEEE-754) semantics in BOTH dialects:
    ``x/0`` → ±Infinity, ``0/0`` → NaN, NULL operands stay NULL.  Spark's
    ``/`` ABORTS the job on a zero denominator under ANSI mode (the
    Spark 4 default) and DuckDB's yields NULL — both diverge from the
    reference's pandas arithmetic, and zero denominators are reachable
    from real data (an all-zero analysis row sums to 0).  Operand text
    repeats (num ×4, den ×3) — whole-stage codegen CSEs the repeats, so
    this is SQL-text growth only; keep operands shallow.  A ``-0.0``
    denominator takes the positive-zero branch (numeric ``=`` treats
    ``-0.0 = 0.0`` in both engines) — the sign-bit treatment lives in
    the plotting eval dialect's Spark-only ``_ieee_div``, which this
    helper deliberately does not replicate because ``CAST(x AS STRING)``
    is not portable to DuckDB and a negative-zero row sum is not
    reachable from physical data."""
    return (
        f"(CASE WHEN {num} IS NULL OR {den} IS NULL THEN "
        f"CAST(NULL AS DOUBLE) "
        f"WHEN {den} = 0e0 THEN "
        f"(CASE WHEN {num} = 0e0 OR isnan({num}) THEN {flit(float('nan'))} "
        f"WHEN {num} > 0e0 THEN {flit(float('inf'))} "
        f"ELSE {flit(float('-inf'))} END) "
        f"ELSE {num} / {den} END)"
    )


def where_positive(value: str, cond_subject: str, otherwise: float = 0.0) -> str:
    """``value.where(cond_subject > 0, otherwise)`` (pandas semantics,
    including the NaN branch: numpy's ``NaN > 0`` is False while both
    SQL engines sort NaN as the LARGEST double and would take the THEN
    branch — the isnan guard keeps the pandas answer)."""
    return (
        f"(CASE WHEN {cond_subject} > 0e0 AND NOT isnan({cond_subject}) "
        f"THEN {value} ELSE {flit(otherwise)} END)"
    )


def trapezoid(value: str, lo: float, hi: float, margin: float = 1.5) -> str:
    """Trapezoidal 0-1 score (ref ``_calc.py:451-471``) as one expression."""
    lo_s, hi_s, m_s = flit(lo), flit(hi), flit(margin)
    return (
        f"(CASE WHEN {value} >= {lo_s} AND {value} <= {hi_s} THEN 1e0 "
        f"WHEN {value} < {lo_s} THEN GREATEST(0e0, ({value} - ({lo_s} - {m_s})) / {m_s}) "
        f"ELSE GREATEST(0e0, (({hi_s} + {m_s}) - {value}) / {m_s}) END)"
    )


# ---------------------------------------------------------------------------
# Codegen-size control
# ---------------------------------------------------------------------------

#: Accumulated non-passthrough expression text (chars) a fused
#: whole-stage-codegen span may carry before Plan.to_sql inserts a
#: codegen barrier.  HotSpot silently refuses to JIT-compile any method
#: over 8000 bytecode (-XX:DontCompileHugeMethods, ON by default — a
#: managed cluster can't be assumed to carry the opt-out flag), and a
#: fused projection past the ceiling runs in the bytecode INTERPRETER
#: 4-10x slow with no warning.  Calibrated against codegenStringSeq
#: across the registry: generated bytecode ≈ 1.0-1.6 × rendered SQL
#: text for these arithmetic chains, so 4000 chars bounds a span at
#: ~6400 bytecode, comfortably JIT-able.
CODEGEN_SPLIT_TEXT = 4000


def codegen_barrier(df):
    """Cut whole-stage-codegen fusion at this point WITHOUT touching
    rows, ordering, or partitioning.

    ``coalesce(n)`` never increases the partition count, so an
    over-large bound is a structural no-op: CoalesceExec keeps the
    child's partitions 1:1, preserves filter/column pushdown through
    it, adds one iterator hop per row — and does not participate in
    codegen, so Catalyst compiles the operators on each side as
    SEPARATE whole-stage spans.  Splitting a >8000-bytecode span this
    way measured 6.98s -> 1.16s on the 35-stage amphibole chain at
    sf0.1 on a stock JVM (the interpreted fused span was the 4-10x
    round-7 pathology; two JIT-able spans beat even the flag-assisted
    fused form).  Streaming frames pass through untouched (micro-batch
    plans are built per-batch; coalesce semantics differ mid-stream).
    """
    if getattr(df, "isStreaming", False):
        return df
    return df.coalesce(_BARRIER_PARTITIONS)


# ---------------------------------------------------------------------------
# Staged projection pipeline
# ---------------------------------------------------------------------------


@dataclass
class Stage:
    """One full projection: ordered ``(alias, expression)`` pairs.

    Expressions reference the aliases of the previous stage via the
    dialect's :meth:`Dialect.quote`.  Builders are dialect-parameterized
    callables ``quote -> expr`` so the same stage renders for Spark and
    for DuckDB.
    """

    items: list[tuple[str, object]] = field(default_factory=list)

    def add(self, alias: str, expr) -> None:
        """``expr`` is a string (dialect-independent) or ``quote -> str``."""
        self.items.append((alias, expr))

    def passthrough(self, names: list[str]) -> None:
        for n in names:
            self.add(n, (lambda q, n=n: q(n)))

    def render(self, dialect: Dialect) -> list[tuple[str, str]]:
        out = []
        for alias, expr in self.items:
            s = expr if isinstance(expr, str) else expr(dialect.quote)
            out.append((alias, s))
        return out

    @property
    def aliases(self) -> list[str]:
        return [a for a, _ in self.items]


@dataclass
class Plan:
    """A chain of stages over a named base relation, rendered by
    :meth:`to_sql` as nested sub-selects for either engine.

    * Spark: ``apply(df)`` → one ``spark.sql`` over the rendered plan
      (Catalyst collapses the nested projections into one).
    * DuckDB: ``to_sql(base)`` → the oracle text.
    """

    stages: list[Stage] = field(default_factory=list)
    filters: dict[int, list] = field(default_factory=dict)  # after-stage-i preds

    def stage(self) -> Stage:
        s = Stage()
        self.stages.append(s)
        return s

    def add_filter(self, pred) -> None:
        """Predicate applied after the most recent stage (string or quote->str)."""
        self.filters.setdefault(len(self.stages) - 1, []).append(pred)

    def _render_pred(self, pred, dialect: Dialect) -> str:
        return pred if isinstance(pred, str) else pred(dialect.quote)

    def apply(self, df):
        """Run the plan on a Spark DataFrame.

        *df* is registered as a uniquely named temporary view and the
        plan runs as ONE ``spark.sql`` over it: one parse and one
        analysis for the whole chain (Spark analyzes every DataFrame
        call eagerly, so a call per stage would re-analyze the growing
        plan at each stage).  The view is dropped before
        returning (the analyzed plan no longer needs it), also when
        analysis fails."""
        spark = df.sparkSession
        view = f"_petro_plan_{uuid.uuid4().hex}"
        df.createOrReplaceTempView(view)
        try:
            dialect = _SPARK_STREAMING if df.isStreaming else SPARK
            return spark.sql(
                self.to_sql(f"SELECT * FROM {SPARK.quote(view)}", dialect))
        finally:
            spark.catalog.dropTempView(view)

    def to_sql(self, base: str, dialect: Dialect = DUCKDB) -> str:
        """Render the full plan as one nested SELECT over *base*.

        Catalyst fuses the nested projections into one whole-stage-codegen
        span; when the accumulated expression text says the span's
        generated method would cross HotSpot's 8000-bytecode JIT ceiling
        (see CODEGEN_SPLIT_TEXT), a dialect with a ``barrier_hint`` gets
        a codegen barrier (``SELECT <hint> * FROM (...)``) BEFORE the
        stage that would cross, so every span stays JIT-compilable on a
        stock JVM — no -XX:-DontCompileHugeMethods dependency.  DuckDB
        has no hint, so its oracle text carries no barrier."""
        q = dialect.quote
        sql = base
        acc = 0
        for i, st in enumerate(self.stages):
            rendered = st.render(dialect)
            if dialect.barrier_hint:
                # passthrough columns ("x AS x") fuse to nothing; only
                # real expression text contributes generated code
                weight = sum(len(e) for a, e in rendered if e != q(a))
                if acc and acc + weight > CODEGEN_SPLIT_TEXT:
                    sql = f"SELECT {dialect.barrier_hint} * FROM ({sql})"
                    acc = 0
                acc += weight
            select = ", ".join(f"{e} AS {q(a)}" for a, e in rendered)
            preds = [self._render_pred(p, dialect) for p in self.filters.get(i, [])]
            where = f" WHERE {' AND '.join(preds)}" if preds else ""
            sql = f"SELECT {select} FROM ({sql}){where}"
        return sql


class Ctx:
    """Tracks the live column set while appending stages to a Plan.

    ``let`` opens a new stage that passes every live column through and
    defines new named columns; expressions reference the previous stage's
    aliases only, keeping expression trees flat.  Binding an intermediate
    as a named column (instead of inlining its text) is also the
    PLAN-TIME guard: Catalyst's ``CollapseProject`` refuses to merge a
    projection that would duplicate a non-cheap expression, so a column
    referenced N times downstream is analyzed once, not N times.
    """

    def __init__(self, plan: Plan, cols: list[str]):
        self.plan = plan
        self.cols = list(cols)

    def let(self, defs: list[tuple[str, object]], drop: set[str] | None = None):
        st = self.plan.stage()
        drop = drop or set()
        new_names = {n for n, _ in defs}
        keep = [c for c in self.cols if c not in drop and c not in new_names]
        st.passthrough(keep)
        for name, e in defs:
            st.add(name, e)
        self.cols = keep + [n for n, _ in defs]
        return self

    def col(self, name: str):
        """quote->expr for a live column, or literal 0 if absent
        (ref ``Mineral._col``, ``_minerals.py:105-108``)."""
        if name in self.cols:
            return lambda q, n=name: q(n)
        return lambda q: "0e0"

    def select(self, names: list[str]) -> None:
        """Final projection restricted to *names* in order."""
        st = self.plan.stage()
        st.passthrough(list(names))
        self.cols = list(names)
