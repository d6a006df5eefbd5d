"""Traced run: spans around the calls into each layer, and the Spark-side
counters of each op, all taken from the benchmark's own process.

:func:`install` wraps the public functions (and public methods of public
classes) of every layer module in place, and rebinds the names other
engine modules imported by value, so calls made through the registry
are traced too.  The engine's files are not changed.

A span records its name, layer, start, end and parent.  Spans of layers
that can start Spark jobs also set a Spark job group, so each job is
owned by the innermost such span; the job and stage data come from
Spark's status store after the op.  Spans stay in memory and are
written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

#: layer name -> engine modules whose public callables it covers
LAYER_MODULES = {
    "sqlgen": ["petropandas_spark.sqlgen"],
    "functions": ["petropandas_spark.functions"],
    "minerals": ["petropandas_spark.minerals"],
    "minerals_ext": ["petropandas_spark.minerals_ext"],
    "hpxeos": ["petropandas_spark.hpxeos"],
    "dedup": ["petropandas_spark.pipeline.dedup"],
    "similarity": ["petropandas_spark.pipeline.similarity"],
    "multimodal": ["petropandas_spark.pipeline.multimodal"],
}
#: dedup functions that make up the store layer
STORE_FUNCS = {
    "write_signature_store": "write", "write_winnow_store": "write",
    "read_signature_store": "read", "read_winnow_store": "read",
}
#: layers whose spans own the Spark jobs started inside them
JOB_LAYERS = {"build", "action", "dedup", "similarity", "multimodal",
              "store"}
#: outputs counted after the op for the verify-yield ratio
CANDIDATE_FUNCS = {"lsh_candidate_pairs_portable", "lsh_candidate_pairs",
                   "lsh_incremental_pairs", "span_incremental_pairs"}
VERIFY_FUNCS = {"jaccard_verify", "containment_verify", "neardup_verdicts",
                "verified_span_report"}
#: layers reported as ``<layer>.self_s`` per timed pass
SELF_LAYERS = ("sqlgen", "dedup", "similarity", "multimodal")
#: layers reported as ``setup.<layer>.self_s``: the registry builds every
#: petrology plan once, in set-up, so their time falls there.  The CIPW
#: chain runs through ``functions.bulk``; the ``cipw`` module's
#: ``cipw_norm_df`` is in no workload (its registry oracle is a fixture
#: of one scale factor), so it is not a layer here
SETUP_LAYERS = ("sqlgen", "functions", "minerals", "minerals_ext", "hpxeos")

_PROBES = "wall_s on corpus_dedup, through its incremental-ingest probes"

#: (name, unit, better, the end-to-end metric and workload it should move)
LAYER_METRICS = [
    ("session.start_s", "s", "lower", "setup_s on every workload"),
    ("setup.registry_s", "s", "lower", "setup_s on every workload"),
    *[(f"setup.{layer}.self_s", "s", "lower", "setup_s on every workload")
      for layer in SETUP_LAYERS],
    ("codegen.cold_compiles", "count", "lower", "setup_s on petro_chains"),
    ("codegen.cold_compile_s", "s", "lower", "setup_s on petro_chains"),
    ("registry.build_s", "s", "lower",
     "query_p50_s on petro_chains; wall_s on corpus_dedup"),
    ("registry.self_s", "s", "lower", "query_p50_s on petro_chains"),
    ("build.eager_jobs", "count", "lower",
     "query_p50_s on petro_chains; wall_s on corpus_dedup"),
    ("build.eager_s", "s", "lower",
     "query_p50_s on petro_chains; wall_s on corpus_dedup"),
    ("sqlgen.self_s", "s", "lower", "query_p50_s on petro_chains"),
    ("dedup.self_s", "s", "lower",
     "wall_s on corpus_dedup"),
    ("dedup.eager_jobs", "count", "lower",
     "wall_s on corpus_dedup"),
    ("dedup.eager_s", "s", "lower",
     "wall_s on corpus_dedup"),
    ("dedup.cc_jobs", "count", "lower", "wall_s on corpus_dedup"),
    ("dedup.candidate_pairs", "count", "lower",
     "wall_s on corpus_dedup"),
    ("dedup.verified_pairs", "count", "higher",
     "wall_s on corpus_dedup"),
    ("dedup.verify_yield", "ratio", "higher",
     "wall_s on corpus_dedup"),
    ("similarity.self_s", "s", "lower", _PROBES),
    ("similarity.eager_jobs", "count", "lower", _PROBES),
    ("multimodal.self_s", "s", "lower", _PROBES),
    ("store.write_s", "s", "lower", _PROBES),
    ("store.read_s", "s", "lower", _PROBES),
    ("store.bytes_written_mb", "MB", "lower", _PROBES),
    ("catalyst.analysis_ms", "ms", "lower", "query_p50_s on petro_chains"),
    ("catalyst.optimization_ms", "ms", "lower",
     "query_p50_s on petro_chains"),
    ("catalyst.planning_ms", "ms", "lower", "query_p50_s on petro_chains"),
    ("codegen.compiles", "count", "lower", "wall_s on corpus_dedup"),
    ("codegen.compile_s", "s", "lower", "wall_s on corpus_dedup"),
    ("exec.action_s", "s", "lower", "wall_s on corpus_dedup"),
    ("exec.jobs", "count", "lower", "wall_s on corpus_dedup"),
    ("exec.stages", "count", "lower", "wall_s on corpus_dedup"),
    ("exec.tasks", "count", "lower", "wall_s on corpus_dedup"),
    ("exec.executor_run_s", "s", "lower", "wall_s on corpus_dedup"),
    ("exec.executor_cpu_s", "s", "lower", "wall_s on corpus_dedup"),
    ("exec.jvm_gc_s", "s", "lower", "peak_rss_mb on every workload"),
    ("exec.shuffle_write_mb", "MB", "lower", "wall_s on corpus_dedup"),
    ("exec.shuffle_read_mb", "MB", "lower", "wall_s on corpus_dedup"),
    ("exec.spill_mb", "MB", "lower", "peak_rss_mb on every workload"),
    ("op.unattributed_s", "s", "lower", "query_p50_s on every workload"),
    ("trace.overhead_s", "s", "lower", "none: tracing cost per pass"),
]

_MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: int
    parent: int | None
    op: str | None
    name: str
    layer: str
    t0: float
    t1: float = 0.0
    group: str | None = None
    child_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder for one traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: str | None = None
        #: False while an untraced pass runs: the wrappers call straight
        #: through, so those passes pay no tracing cost
        self.on = True
        #: (kind, DataFrame) outputs of candidate and verify calls
        self.counted: list[tuple[str, object]] = []

    # -- spans -------------------------------------------------------
    def begin(self, name: str, layer: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), parent.id if parent else None, self.op,
                 name, layer, time.perf_counter())
        self.spans.append(s)
        self.stack.append(s)
        if layer in JOB_LAYERS:
            s.group = f"perfbench-{s.id}"
            self.sc.setLocalProperty("spark.jobGroup.id", s.group)
        return s

    def end(self, s: Span) -> None:
        s.t1 = time.perf_counter()
        self.stack.pop()
        if self.stack:
            self.stack[-1].child_s += s.dur
        if s.group is not None:
            owner = next((p.group for p in reversed(self.stack)
                          if p.group is not None), None)
            self.sc.setLocalProperty("spark.jobGroup.id", owner)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.begin(name, layer)
        try:
            yield s
        finally:
            self.end(s)

    def ancestors(self, s: Span):
        while s is not None:
            yield s
            s = self.spans[s.parent] if s.parent is not None else None

    # -- Spark-side counters -----------------------------------------
    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile seconds) since JVM start."""
        pkg = self.jvm.org.apache.spark
        n = pkg.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME() \
            .getCount()
        ns = pkg.sql.catalyst.expressions.codegen.CodeGenerator \
            .compileTime()
        return int(n), ns / 1e9

    def catalyst(self, df) -> dict[str, float]:
        """Analysis/optimization/planning ms of ``df``'s own query
        execution (planning is forced here; the write plans it again)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        return {k: float(phases.apply(k).durationMs()) if phases.contains(k)
                else 0.0 for k in ("analysis", "optimization", "planning")}

    def jobs(self, spans: list[Span]) -> list[dict]:
        """Every job owned by ``spans``, with its stage metrics."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = []
        for s in spans:
            if s.group is None:
                continue
            for jid in tracker.getJobIdsForGroup(s.group):
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                dur = ((done.get().getTime() - sub.get().getTime()) / 1e3
                       if sub.isDefined() and done.isDefined() else 0.0)
                rec = {"job": jid, "span": s.id, "s": dur, "stages": 0,
                       "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                       "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
                       "spill_mb": 0.0}
                it = jd.stageIds().iterator()
                while it.hasNext():
                    sd = store.lastStageAttempt(it.next())
                    if sd.status().toString() == "SKIPPED":
                        continue
                    rec["stages"] += 1
                    rec["tasks"] += sd.numTasks()
                    rec["run_s"] += sd.executorRunTime() / 1e3
                    rec["cpu_s"] += sd.executorCpuTime() / 1e9
                    rec["gc_s"] += sd.jvmGcTime() / 1e3
                    rec["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
                    rec["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
                    rec["spill_mb"] += (sd.memoryBytesSpilled()
                                        + sd.diskBytesSpilled()) / _MB
                out.append(rec)
        return out


def _layer_modules() -> dict[str, list]:
    """Each layer's loaded module objects, sub-packages included."""
    mods: dict[str, list] = {}
    for layer, names in LAYER_MODULES.items():
        for name in names:
            m = importlib.import_module(name)
            mods.setdefault(layer, []).append(m)
            for info in pkgutil.iter_modules(getattr(m, "__path__", [])):
                mods[layer].append(
                    importlib.import_module(f"{name}.{info.name}"))
    return mods


def install(tracer: Tracer) -> None:
    """Wrap every public callable of the layer modules."""
    replaced: dict[int, object] = {}

    def wrapper(fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            s = tracer.begin(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(s)
            if layer == "store" and STORE_FUNCS[name] == "write":
                s.attrs["path"] = args[1] if len(args) > 1 else \
                    kwargs.get("path")
            if tracer.op is not None and (name in CANDIDATE_FUNCS
                                          or name in VERIFY_FUNCS):
                kind = "cand" if name in CANDIDATE_FUNCS else "verified"
                funcs = CANDIDATE_FUNCS if kind == "cand" else VERIFY_FUNCS
                if not any(a.name in funcs and a.layer != "op"
                           for a in list(tracer.ancestors(s))[1:]):
                    tracer.counted.append((kind, out))
            return out

        return traced

    for layer, mods in _layer_modules().items():
        for m in mods:
            for name, obj in list(vars(m).items()):
                if name.startswith("_") or getattr(obj, "__module__",
                                                   None) != m.__name__:
                    continue
                if inspect.isfunction(obj):
                    lay = ("store" if m.__name__.endswith(".dedup")
                           and name in STORE_FUNCS else layer)
                    w = wrapper(obj, lay, name)
                    replaced[id(obj)] = w
                    setattr(m, name, w)
                elif inspect.isclass(obj):
                    for attr, fn in list(vars(obj).items()):
                        if not attr.startswith("_") and inspect.isfunction(fn):
                            setattr(obj, attr, wrapper(
                                fn, layer, f"{name}.{attr}"))
    # rebind names imported by value (``from x import f``) elsewhere
    for m in list(sys.modules.values()):
        if not getattr(m, "__name__", "").startswith("petropandas_spark"):
            continue
        for name, obj in list(vars(m).items()):
            w = replaced.get(id(obj))
            if w is not None and obj is not w:
                setattr(m, name, w)


def self_times(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += s.dur - s.child_s
    return out


def op_metrics(tracer: Tracer, root: Span, jobs: list[dict],
               catalyst: dict[str, float], codegen: tuple[int, float],
               counts: dict[str, int], written_bytes: int) -> dict:
    """The per-layer table of one traced op (root = the op's span)."""
    spans = [s for s in tracer.spans if s.id >= root.id
             and any(a is root for a in tracer.ancestors(s))]
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)

    def under(job, pred) -> bool:
        return any(pred(a) for a in tracer.ancestors(by_id[job["span"]]))

    build = [j for j in jobs if under(j, lambda a: a.layer == "build")]
    action = [j for j in jobs if under(j, lambda a: a.layer == "action")]

    def owned(layer):
        return [j for j in jobs if by_id[j["span"]].layer == layer]

    def total(js, key):
        return sum(j[key] for j in js)

    dur = {layer: sum(s.dur for s in spans if s.layer == layer)
           for layer in ("build", "action")}
    m = {
        "op.wall_s": root.dur,
        "registry.build_s": dur["build"],
        "registry.self_s": selfs.get("build", 0.0),
        "build.eager_jobs": len(build),
        "build.eager_s": total(build, "s"),
        "dedup.eager_jobs": len(owned("dedup")),
        "dedup.eager_s": total(owned("dedup"), "s"),
        "dedup.cc_jobs": sum(1 for j in jobs if under(
            j, lambda a: a.name == "connected_components")),
        "dedup.candidate_pairs": counts.get("cand", 0),
        "dedup.verified_pairs": counts.get("verified", 0),
        "similarity.eager_jobs": len(owned("similarity")),
        "store.write_s": sum(s.dur for s in spans if s.layer == "store"
                             and STORE_FUNCS[s.name] == "write"),
        "store.read_s": sum(s.dur for s in spans if s.layer == "store"
                            and STORE_FUNCS[s.name] == "read"),
        "store.bytes_written_mb": written_bytes / _MB,
        "catalyst.analysis_ms": catalyst["analysis"],
        "catalyst.optimization_ms": catalyst["optimization"],
        "catalyst.planning_ms": catalyst["planning"],
        "codegen.compiles": codegen[0],
        "codegen.compile_s": codegen[1],
        "exec.action_s": dur["action"],
        "exec.jobs": len(action),
        "exec.stages": total(action, "stages"),
        "exec.tasks": total(action, "tasks"),
        "exec.executor_run_s": total(action, "run_s"),
        "exec.executor_cpu_s": total(action, "cpu_s"),
        "exec.jvm_gc_s": total(jobs, "gc_s"),
        "exec.shuffle_write_mb": total(action, "shuffle_write_mb"),
        "exec.shuffle_read_mb": total(action, "shuffle_read_mb"),
        "exec.spill_mb": total(jobs, "spill_mb"),
        "op.unattributed_s": selfs.get("op", 0.0),
    }
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    return m


def setup_metrics(tracer: Tracer, registry_span: Span, start_s: float,
                  cold_codegen: tuple[int, float]) -> dict[str, float]:
    """The once-per-run set-up layers: session start, the registry build
    (``registry_span``) by layer, and codegen over the cold warm pass."""
    spans = [s for s in tracer.spans if s.id > registry_span.id
             and any(a is registry_span for a in tracer.ancestors(s))]
    selfs = self_times(spans)
    m = {"session.start_s": start_s, "setup.registry_s": registry_span.dur,
         "codegen.cold_compiles": cold_codegen[0],
         "codegen.cold_compile_s": cold_codegen[1]}
    for layer in SETUP_LAYERS:
        m[f"setup.{layer}.self_s"] = selfs.get(layer, 0.0)
    return m


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def write_spans(tracer: Tracer, path: str, extra: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({
            **extra,
            "spans": [
                {"id": s.id, "parent": s.parent, "op": s.op, "name": s.name,
                 "layer": s.layer, "start": s.t0, "end": s.t1,
                 "job_group": s.group}
                for s in tracer.spans
            ],
        }, fh)
