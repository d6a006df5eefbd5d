"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Runs the benchmark twice in child processes, on tiny inputs and short
schedules, and checks that

* an untraced run emits every end-to-end metric of ``BENCHMARK.json``
  with its unit, and that the oracle check flags a deliberately
  perturbed output, naming the op and counting it as failed: one op
  perturbed on every call (caught in the cold warm pass) and one
  perturbed on every call but the first (caught only in the check pass
  on the timed passes' warm path);
* a traced run emits every per-layer metric with its unit, and that its
  spans nest: each span lies inside its parent and belongs to the same
  op.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
PERTURBED = "oxide_means_grouped"
#: perturbed on every build but the first
PERTURBED_WARM = "garnet_end_members"


def child(workload: str, trace: int) -> None:
    """Run the benchmark in this process on tiny inputs."""
    sys.path.insert(0, HERE)
    import gen
    import run
    import workloads

    gen.SIZES.update(documents=60, embeddings=60, lineitem=400, orders=200,
                     supplier=20)
    workloads.PETRO_CHAINS[:] = [PERTURBED_WARM, PERTURBED]
    workloads.CORPUS_DEDUP[:] = ["hamming_incremental_pairs",
                                 "dedup_components", "neardup_verdicts",
                                 "write_batch_signatures"]
    if trace == 0:
        real = workloads._registry_op

        def perturbed_op(registry, name):
            op = real(registry, name)
            calls = []

            def build(ctx):
                df = op.build(ctx)
                calls.append(name)
                if name == PERTURBED:
                    return df.withColumn("n", df["n"] + 1)
                if len(calls) > 1:
                    return df.unionByName(df.limit(1))
                return df

            return workloads.Op(name, build, op.oracle)

        workloads._registry_op = perturbed_op
    sys.argv = [sys.argv[0], "--workload", workload, "--seed", str(SEED),
                "--seconds", "1", "--trace", str(trace)]
    sys.exit(run.main())


def launch(workload: str, trace: int) -> tuple[list[str], dict]:
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", workload,
         str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"child run {workload} trace={trace} exited "
                         f"{p.returncode}")
    return lines, json.loads(lines[-1])


def check_metrics(result: dict, declared: list[dict]) -> list[str]:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    errs = [f"metric {k} ({u}) not emitted" for k, u in want.items()
            if got.get(k) != u]
    errs += [f"undeclared metric {k}" for k in got if k not in want]
    return errs


def check_nesting(path: str) -> list[str]:
    with open(path) as fh:
        spans = {s["id"]: s for s in json.load(fh)["spans"]}
    errs = []
    for s in spans.values():
        p = spans.get(s["parent"])
        if s["parent"] is not None and p is None:
            errs.append(f"span {s['id']} has a missing parent")
        elif p is not None and not (p["start"] <= s["start"] <= s["end"]
                                    <= p["end"] and p["op"] == s["op"]):
            errs.append(f"span {s['id']} {s['name']} escapes its parent "
                        f"{p['id']} {p['name']}")
    if not any(s["layer"] == "dedup" for s in spans.values()):
        errs.append("no dedup span recorded")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    errs: list[str] = []

    lines, res = launch("petro_chains", 0)
    errs += check_metrics(res, bench["end_to_end"])
    if res["correct"] or res["failed"] < 1:
        errs.append("perturbed output was not counted as failed")
    for name, where in ((PERTURBED, "warm"), (PERTURBED_WARM, "check")):
        if not any(f"FAILED {name}: oracle mismatch in the {where} pass"
                   in ln for ln in lines):
            errs.append(f"{name}, perturbed on the {where} pass, was not "
                        "named")

    lines, res = launch("corpus_dedup", 1)
    errs += check_metrics(res, bench["per_layer"])
    if not res["correct"]:
        errs.append("traced run failed its oracle check: "
                    + "; ".join(ln for ln in lines if "FAILED" in ln))
    errs += check_nesting(os.path.join(
        ROOT, ".perfbench", "traces", f"corpus_dedup-seed{SEED}.json"))

    for e in errs:
        print(f"selftest: FAIL {e}")
    print(f"selftest: {'ok' if not errs else f'{len(errs)} failure(s)'}")
    return 1 if errs else 0


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--child":
        child(sys.argv[2], int(sys.argv[3]))
    sys.exit(main())
