"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload petro_chains --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  Each run generates its inputs from
``--seed`` under ``.perfbench/``, starts a host-sized local SparkSession,
sets up the workload (stores, then one untimed warm pass that also
collects every op's output), runs the timed closed loop with one client
(whole passes over the workload's fixed schedule, at least its
``min_passes`` and at least ``--seconds``), collects every op's output
once more in an untimed check pass, checks both collections against
the DuckDB oracles, stops Spark and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics (see
``tracing.py``) with the tracing overhead.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("petro_chains", "corpus_dedup")
#: fewest rounds of one traced and one untraced pass in a traced run
MIN_TRACED_ROUNDS = 2
_MB = 1024 * 1024


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T_START:7.2f}s] {msg}",
          flush=True)


# ---------------------------------------------------------------------------
# peak summed resident set size of this process and every descendant (the
# JVM and the Python workers), read from /proc/<pid>/statm: the kernel's
# counters, so a sample costs microseconds and never walks the JVM's page
# tables as smaps does (about 20 ms per read of a 2 GB JVM, with its
# memory-map lock held)
# ---------------------------------------------------------------------------

def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from one scan of /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    found, stack = [], list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        found.append(p)
        stack.extend(kids.get(p, []))
    return found


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


class MemorySampler(threading.Thread):
    """Samples the process tree's summed RSS every ``interval`` seconds,
    re-listing the tree every ``rescan`` samples."""

    def __init__(self, interval: float = 0.1, rescan: int = 10):
        super().__init__(daemon=True)
        self.interval, self.rescan = interval, rescan
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        me, pids, n = os.getpid(), [], 0
        while not self._halt.wait(self.interval):
            if n % self.rescan == 0:
                pids = [me] + descendants(me)
            n += 1
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._halt.set()
        self.join()
        return self.peak_kb / 1024


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def start_session(work: str):
    """local[cores] session sized from this host: cores from the CPU
    affinity mask, driver memory an eighth of RAM (1-8 GiB), so the heap
    fills during set-up and its footprint repeats from run to run; every
    scratch directory inside ``work``."""
    from pyspark.sql import SparkSession

    from petropandas_spark.session import apply_worker_pool_confs

    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // _MB
    driver_mb = max(1024, min(ram_mb // 8, 8192))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM spark-submit starts, the launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp}")
    builder = (
        apply_worker_pool_confs(SparkSession.builder.master(f"local[{cores}]"))
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.driver.memory", f"{driver_mb}m")
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # socket paths are capped at 108 bytes: keep the directory short
        .config("spark.python.unix.domain.socket.dir", os.path.relpath(tmp))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    t0 = time.perf_counter()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0, cores, driver_mb


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until every process
    this run started has exited."""
    me = os.getpid()
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    pids = descendants(me)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                and _state(p) != "Z"]
        if not pids:
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "Z"


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def sink(op, df, ctx) -> None:
    """Drain ``df`` through ``op``'s sink, Spark's noop writer by default."""
    if op.sink is None:
        df.write.format("noop").mode("overwrite").save()
    else:
        op.sink(df, ctx)


def digest_pass(wl, ctx, errors: dict, label: str) -> dict:
    """Untimed pass that collects each op's output digest.  The warm
    pass runs it cold, before the timed loop; the check pass after it,
    on the same warm caches the timed passes used."""
    from oracle import spark_digest

    digests = {}
    for op in wl.ops:
        t0 = time.perf_counter()
        try:
            df = op.build(ctx)
            if op.sink is None:
                digests[op.name] = spark_digest(df)
            else:
                op.sink(df, ctx)
                digests[op.name] = spark_digest(op.read_back(ctx))
        except Exception as ex:  # noqa: BLE001 - reported per op
            errors.setdefault(
                op.name, f"{label} pass raised {type(ex).__name__}: {ex}")
            traceback.print_exc(file=sys.stderr)
        ctx.spark.catalog.clearCache()
        log(f"{label} {op.name}: {time.perf_counter() - t0:.3f}s")
    return digests


def untraced_pass(wl, ctx, failures: Counter, tracer=None):
    """One pass over the schedule, with ``tracer`` (if any) switched
    off; returns ([(op, latency)], seconds)."""
    if tracer is not None:
        tracer.on = False
    lat = []
    tp = time.perf_counter()
    try:
        for op in wl.ops:
            t0 = time.perf_counter()
            try:
                sink(op, op.build(ctx), ctx)
            except Exception:  # noqa: BLE001 - counted, never retried
                failures[op.name] += 1
                traceback.print_exc(file=sys.stderr)
            lat.append((op.name, time.perf_counter() - t0))
            ctx.spark.catalog.clearCache()
    finally:
        if tracer is not None:
            tracer.on = True
    return lat, time.perf_counter() - tp


def traced_pass(wl, ctx, tracer, failures: Counter):
    """One pass with spans and Spark counters per op; returns
    ([per-op layer table], seconds inside the ops)."""
    import tracing as tr

    sc = ctx.spark.sparkContext
    per_op, tp = [], 0.0
    for op in wl.ops:
        tracer.op, tracer.counted = op.name, []
        cg0 = tracer.codegen()
        df = None
        with tracer.span(op.name, "op") as root:
            try:
                with tracer.span("build", "build"):
                    df = op.build(ctx)
                with tracer.span("action", "action"):
                    sink(op, df, ctx)
            except Exception:  # noqa: BLE001 - counted, never retried
                failures[op.name] += 1
                traceback.print_exc(file=sys.stderr)
        tp += root.dur
        cg1 = tracer.codegen()
        tracer.op = None
        # everything below runs after the op's span has closed
        spans = [s for s in tracer.spans if s.id >= root.id]
        jobs = tracer.jobs(spans)
        catalyst = (tracer.catalyst(df) if df is not None else
                    dict.fromkeys(("analysis", "optimization", "planning"),
                                  0.0))
        counts: Counter = Counter()
        sc.setLocalProperty("spark.jobGroup.id", "perfbench-count")
        for kind, out in tracer.counted:
            counts[kind] += out.count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        written = sum(tr.dir_bytes(s.attrs["path"]) for s in spans
                      if s.layer == "store" and "path" in s.attrs)
        m = tr.op_metrics(tracer, root, jobs, catalyst,
                          (cg1[0] - cg0[0], cg1[1] - cg0[1]), counts,
                          written)
        m["op"] = op.name
        per_op.append(m)
        ctx.spark.catalog.clearCache()
    return per_op, tp


def timed_loop(wl, ctx, seconds: float, failures: Counter, tracer=None):
    """Whole passes over the schedule until ``seconds`` have elapsed and
    at least ``wl.min_passes`` have run.  With a tracer, rounds of one
    traced and one untraced pass run, at least ``MIN_TRACED_ROUNDS``,
    their order flipping every round; the traced pass goes first.
    Returns (untraced [(op, latency)], untraced pass seconds,
    traced per-op tables, traced pass seconds)."""
    lat, passes, per_op, tpasses = [], [], [], []
    t_begin = time.perf_counter()
    rnd = 0
    while True:
        kinds = [False] if tracer is None else [rnd % 2 == 0, rnd % 2 == 1]
        for traced in kinds:
            if traced:
                tables, t = traced_pass(wl, ctx, tracer, failures)
                per_op += tables
                tpasses.append(t)
            else:
                pairs, t = untraced_pass(wl, ctx, failures, tracer)
                lat += pairs
                passes.append(t)
        rnd += 1
        if (rnd >= (wl.min_passes if tracer is None else MIN_TRACED_ROUNDS)
                and time.perf_counter() - t_begin >= seconds):
            return lat, passes, per_op, tpasses


def pass_time(samples: list[tuple[str, float]]) -> float:
    """One pass over the schedule with every op at its fastest latency
    among ``samples`` ((op, seconds) pairs): the sum of per-op minima.

    Load from other tenants of the host only ever adds time, in bursts
    of seconds to tens of seconds.  The minimum reads an op's own cost
    as long as one of its samples ran unhindered, where a median needs
    half of them to."""
    best: dict[str, float] = {}
    for name, t in samples:
        best[name] = min(t, best.get(name, t))
    return sum(best.values())


def layer_summary(per_op: list[dict], n_passes: int, setup: dict,
                  overhead_s: float) -> dict[str, float]:
    """Per-layer metrics: those of the timed ops per pass over the
    schedule, those of set-up (``setup``) once per run."""
    import tracing as tr

    keys = [name for name, *_ in tr.LAYER_METRICS]
    out = {k: sum(m.get(k, 0.0) for m in per_op) / n_passes for k in keys}
    cand = sum(m["dedup.candidate_pairs"] for m in per_op)
    out["dedup.verify_yield"] = (
        sum(m["dedup.verified_pairs"] for m in per_op) / cand if cand else 0.0)
    out.update(setup)
    out["trace.overhead_s"] = overhead_s
    return out


def run(args) -> dict:
    sys.path.insert(0, os.getcwd())
    import gen
    import oracle as orc
    import workloads as wls

    work = os.path.join(os.getcwd(), ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sampler = MemorySampler()
    sampler.start()
    spark = None
    try:
        # the inputs are the benchmark's, not the program's work: their
        # generation is left out of setup_s
        data = os.path.join(work, "data")
        t0 = time.perf_counter()
        sizes = gen.generate(data, args.seed)
        gen_s = time.perf_counter() - t0
        spark, start_s, cores, driver_mb = start_session(work)
        log(f"session started in {start_s:.3f}s")
        tracer = None
        if args.trace:
            import tracing as tr

            tracer = tr.Tracer(spark)
            tr.install(tracer)
        from petropandas_spark.registry import build_registry

        if tracer is None:
            registry = build_registry()
        else:
            with tracer.span("build_registry", "setup") as reg_span:
                registry = build_registry()
        wl = wls.workloads(registry)[args.workload]
        ctx = wls.Ctx(spark, data, os.path.join(work, "stores"))
        errors: dict[str, str] = {}
        if wl.prepare is not None:
            wl.prepare(ctx)
        cg0 = tracer.codegen() if tracer is not None else None
        warm = digest_pass(wl, ctx, errors, "warm")
        if tracer is not None:
            cg1 = tracer.codegen()
            setup_layers = tr.setup_metrics(
                tracer, reg_span, start_s,
                (cg1[0] - cg0[0], cg1[1] - cg0[1]))
        setup_s = time.perf_counter() - _T_START - gen_s
        log(f"workload={wl.name} seed={args.seed} cores={cores} "
            f"driver_memory={driver_mb}m rows={sizes} gen_s={gen_s:.3f} "
            f"setup_s={setup_s:.3f}")

        if tracer is not None:
            # untimed: the steepest step of JIT warm-up would otherwise
            # fall on the first traced pass and read as tracing overhead
            untraced_pass(wl, ctx, Counter(), tracer)
        failures: Counter = Counter()
        lat, passes, per_op, tpasses = timed_loop(wl, ctx, args.seconds,
                                                  failures, tracer)
        peak_rss_mb = sampler.stop()
        check = digest_pass(wl, ctx, errors, "check")

        # correctness: the outputs of the cold warm pass and of the check
        # pass on the timed passes' warm caches, against the DuckDB oracle
        ducks = orc.Oracle(data, wls.TABLES)
        try:
            for op in wl.ops:
                want = ducks.digest(op.oracle)
                for label, got in (("warm", warm), ("check", check)):
                    if op.name in errors or op.name not in got:
                        continue
                    bad = orc.mismatch(got[op.name], want)
                    if bad:
                        errors[op.name] = (f"oracle mismatch in the {label} "
                                           f"pass: {bad}")
        finally:
            ducks.close()
        log("oracle check done")
        stop_session(spark)
        spark = None
        log("session stopped")

        attempted = len(lat) + len(per_op)
        per_name = (Counter(name for name, _ in lat)
                    + Counter(m["op"] for m in per_op))
        failed = sum(failures.values())
        for name in errors:
            failed += per_name[name] - failures[name]
        for name, why in sorted(errors.items()):
            log(f"FAILED {name}: {why}")
        for name, n in sorted(failures.items()):
            log(f"FAILED {name}: raised in {n} timed run(s)")
        log(f"failed_frac={failed / attempted:.4f} "
            f"({failed}/{attempted} ops)")

        by_op: dict[str, list[float]] = {}
        for name, t in lat:
            by_op.setdefault(name, []).append(t)
        for n, v in by_op.items():
            log(f"op {n} latencies: " + " ".join(f"{t:.3f}" for t in v))
        # The metrics take the first min_passes timed passes: the same
        # places on the JIT warm-up curve in every run, however many
        # passes --seconds adds on a fast host or for a faster program.
        kept = len(wl.ops) * wl.min_passes
        wall_s = pass_time(lat[:kept])
        query_p50_s = statistics.median(t for _, t in lat[:kept])
        log(f"timed: {len(passes)} pass(es) of "
            + " ".join(f"{t:.3f}" for t in passes)
            + f"s, wall_s={wall_s:.4f}, query_p50_s over "
            f"{len(lat[:kept])} samples")
        if tracer is not None:
            # per-op medians: the traced and untraced passes alternate in
            # ABBA order, so their means sit at the same place on the
            # warm-up curve; the minimum would favour whichever ran last
            traced: dict[str, list[float]] = {}
            for m in per_op:
                traced.setdefault(m["op"], []).append(m["op.wall_s"])
            overhead = sum(statistics.median(traced[n])
                           - statistics.median(v) for n, v in by_op.items())
            metrics = layer_summary(per_op, len(tpasses), setup_layers,
                                    overhead)
            _report_trace(args, wl, tracer, per_op, metrics)
            units = {n: u for n, u, *_ in tr.LAYER_METRICS}
        else:
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall_s,
                "query_p50_s": query_p50_s,
                "peak_rss_mb": peak_rss_mb,
            }
            units = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s",
                     "peak_rss_mb": "MB"}
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        if sampler.is_alive():
            sampler.stop()
        shutil.rmtree(work, ignore_errors=True)


def _report_trace(args, wl, tracer, per_op, metrics) -> None:
    import tracing as tr

    for m in per_op:
        cells = " ".join(f"{k}={v:.4g}" for k, v in m.items()
                         if k != "op" and v)
        log(f"op {m['op']}: {cells}")
    for k, v in metrics.items():
        log(f"layer {k}={v:.6g}")
    path = os.path.join(os.getcwd(), ".perfbench", "traces",
                        f"{wl.name}-seed{args.seed}.json")
    tr.write_spans(tracer, path, {"workload": wl.name, "seed": args.seed,
                                  "per_op": per_op, "metrics": metrics})
    log(f"spans written to {os.path.relpath(path)}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join("petropandas_spark", "registry.py")):
        print("perfbench: run from the repository root (no "
              "petropandas_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
