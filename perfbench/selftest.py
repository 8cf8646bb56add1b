"""Self-tests of the benchmark (not of the program):

    python3 perfbench/selftest.py          # everything, ~9 minutes
    python3 perfbench/selftest.py --static # definitions and helpers only

Exits non-zero when any check fails.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import ledger  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
# Counts that must repeat exactly across two traced runs at one seed.
REPEATING = [
    "spark.sched.jobs",
    "operators.build_jobs",
    "catalog.schema_jobs",
    "flows.jobs_per_commit",
    "snapshots.files_read_per_lookup",
    "storage.bytes_per_frame",
]
SEED = 7
failures: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def static() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    for name in [*e2e, *layers]:
        expect(NAME.fullmatch(name) is not None, f"metric name {name!r} is well formed")
    expect(e2e == run.END_TO_END, "BENCHMARK.json end_to_end matches run.END_TO_END")
    expect(layers == ledger.PER_LAYER, "BENCHMARK.json per_layer matches ledger.PER_LAYER")
    expect(
        sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS),
        "BENCHMARK.json workloads match run.WORKLOADS",
    )
    expect(run.tail(list(range(9))) is None, "no tail below eleven samples")
    expect(run.tail([float(i) for i in range(20)]) == (50.0, 9.5), "tail of 20 samples is p50")
    expect(run.tail([float(i) for i in range(100)])[0] == 90.0, "tail of 100 samples is p90")
    expect(ledger._union_ms([(0, 10), (5, 20), (30, 40)]) == 30, "job interval union")


def run_bench(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "4", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


def end_to_end_output(workload: str) -> None:
    code, lines = run_bench(workload, 0)
    expect(code == 0, f"{workload}: exit 0")
    result = json.loads(lines[-1])
    expect(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{workload}: result keys")
    expect(result["correct"] and result["failed"] == 0, f"{workload}: every check passed")
    for name, unit in run.END_TO_END.items():
        m = result["metrics"].get(name, {})
        expect(m.get("unit") == unit and m.get("value", 0) > 0, f"{workload}: {name} > 0 in {unit}")
        expect(
            any(re.match(rf"# {re.escape(name)} = \S+ {unit} \(n=\d+\)", line) for line in lines),
            f"{workload}: {name} printed with unit and sample count",
        )


def repeating_counts(workload: str) -> None:
    runs = []
    for _ in range(2):
        code, lines = run_bench(workload, 1)
        expect(code == 0, f"{workload} traced: exit 0")
        runs.append(json.loads(lines[-1])["metrics"])
    expect(set(runs[0]) == set(ledger.PER_LAYER), f"{workload} traced: every per-layer metric")
    for name in REPEATING:
        a, b = (r[name]["value"] for r in runs)
        expect(a == b, f"{workload} traced: {name} repeats ({a} vs {b})")


def bare_directory() -> None:
    """In a directory holding only BENCHMARK.json and perfbench/, the run
    must fail without printing a result."""
    os.makedirs(run.WORK, exist_ok=True)
    d = tempfile.mkdtemp(dir=run.WORK)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run_bench("query_mix", 0, cwd=d)
        expect(code != 0, "bare directory: non-zero exit")
        expect(not any(line.startswith("{") for line in lines), "bare directory: no result")
    finally:
        shutil.rmtree(d)


def main() -> int:
    static()
    if "--static" not in sys.argv:
        bare_directory()
        for workload in run.WORKLOADS:
            end_to_end_output(workload)
            repeating_counts(workload)
    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
