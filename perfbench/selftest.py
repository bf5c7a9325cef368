#!/usr/bin/env python3
"""Fast self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

For each workload it checks that an untraced run passes and emits every
end-to-end metric of BENCHMARK.json with its unit, and that a traced
run with one corrupted reference emits every per-layer metric, reports
mismatches and exits non-zero. It also checks that the benchmark
refuses to run without the repository beside it. Takes a few minutes
on four cores.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("ingest_mixed", "extract_longpdf", "curate_queries")


def _run(cwd: Path, *args: str) -> tuple[int, dict | None, dict | None]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1", "--tiny", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    checks = [json.loads(l.split(": ", 1)[1]) for l in p.stderr.splitlines() if l.startswith("perfbench checks: ")]
    if result is None and p.returncode == 0:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, result, checks[0] if checks else None


def _expect(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def _metrics_match(result: dict | None, spec: list[dict]) -> bool:
    if result is None:
        return False
    got = result["metrics"]
    return set(got) == {m["name"] for m in spec} and all(
        got[m["name"]]["unit"] == m["unit"] and isinstance(got[m["name"]]["value"], (int, float)) for m in spec
    )


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures: list[str] = []
    for w in WORKLOADS:
        code, result, checks = _run(ROOT, "--workload", w, "--trace", "0")
        _expect(code == 0 and result is not None and result["correct"], f"{w}: untraced run passes", failures)
        _expect(_metrics_match(result, bench["end_to_end"]), f"{w}: every end-to-end metric, with its unit", failures)
        _expect(
            result is not None and all(v["value"] > 0 for v in result["metrics"].values()),
            f"{w}: no end-to-end metric reads 0",
            failures,
        )
        code, result, checks = _run(ROOT, "--workload", w, "--trace", "1", "--corrupt")
        _expect(code != 0 and result is not None and not result["correct"], f"{w}: corrupted reference fails the run", failures)
        _expect(checks is not None and checks["mismatch_frac"] > 0, f"{w}: corrupted reference gives mismatch_frac > 0", failures)
        _expect(checks is not None and checks["self_time_sum_errors"] == 0, f"{w}: replay self times sum to their spans", failures)
        _expect(_metrics_match(result, bench["per_layer"]), f"{w}: every per-layer metric, with its unit", failures)

    # a directory holding only BENCHMARK.json and the benchmark's files
    bare = ROOT / ".perfbench" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for path in bench["paths"]:
        shutil.copytree(ROOT / path, bare / path, ignore=shutil.ignore_patterns("__pycache__"))
    code, result, _ = _run(bare, "--workload", WORKLOADS[0], "--trace", "0")
    shutil.rmtree(bare)
    _expect(code != 0 and result is None, "without the repository: non-zero exit and no result", failures)

    print(f"{len(failures)} failed" if failures else "all passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
