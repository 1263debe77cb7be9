#!/usr/bin/env python3
"""Self-check of the benchmark: every workload at a tiny size.

Run from the root of a checkout:

    python3 perfbench/selfcheck.py

For each workload `run.py` knows, untraced and traced, it runs the benchmark
on a 400-row corpus stream and asserts that the run is correct and that the
result names every metric of BENCHMARK.json (end-to-end untraced, per-layer
traced) with its unit and a finite value, and nothing else. It also asserts
that the benchmark fails, without a result, where the program's sources are
missing. Takes about ten minutes on a 4-core machine.
"""
import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True
import run  # noqa: E402

TINY_DOCS = 400
RECORD_KEYS = {"seed", "rows", "input_mb", "route_html", "route_native", "route_scanned",
               "giants", "encrypted", "multi_page", "golden_rows", "doc_failure_rate",
               "empty_doc_rate", "passes_checked", "text_match_rate", "lost_or_dup_docs",
               "committed_failure_rows", "committed_empty_rows"}


def bench_run(cwd, workload, trace, timeout):
    return subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--docs", str(TINY_DOCS)],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


def check_workload(spec, workload, trace):
    out = bench_run(ROOT, workload, trace, timeout=run.RUN_TIMEOUT_S + run.BUILD_TIMEOUT_S)
    assert out.returncode == 0, f"{workload} trace={trace} exited {out.returncode}: {out.stderr[-2000:]}"
    lines = out.stdout.strip().splitlines()
    record = json.loads(lines[-2])["record"]
    result = json.loads(lines[-1])
    assert set(record) == RECORD_KEYS, f"record keys {sorted(set(record) ^ RECORD_KEYS)}"
    assert record["text_match_rate"] == 1.0 and record["lost_or_dup_docs"] == 0, record
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1, result
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    assert set(got) == set(want), f"metric names differ: {sorted(set(got) ^ set(want))}"
    for name, unit in want.items():
        assert got[name]["unit"] == unit, f"{name}: unit {got[name]['unit']} != {unit}"
        v = got[name]["value"]
        assert isinstance(v, (int, float)) and math.isfinite(v), f"{name}: value {v}"


def check_fails_without_sources():
    bare = run.BUILD / "selfcheck-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(BENCH, bare / BENCH.name, ignore=shutil.ignore_patterns("target", "__pycache__"))
    try:
        out = bench_run(bare, "pdf_only", 0, timeout=180)
        assert out.returncode != 0, "benchmark succeeded without the program's sources"
        assert not out.stdout.strip(), f"printed a result without sources: {out.stdout[-500:]}"
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_fails_without_sources()
    print("ok   fails without the program's sources", flush=True)
    for workload in run.WORKLOADS:
        for trace in (0, 1):
            check_workload(spec, workload, trace)
            print(f"ok   {workload} trace={trace}", flush=True)


if __name__ == "__main__":
    main()
