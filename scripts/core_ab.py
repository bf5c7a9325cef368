#!/usr/bin/env python
"""Same-process interleaved A/B of the extraction core: a git revision's
``pdftotext_spark`` against the working tree's.

    python scripts/core_ab.py --rev HEAD~1 [--reps 7]

Both sides run over the same payloads, generated once by
``perfbench/inputs.py`` with seed 1: the ``extract_longpdf`` documents
and a quarter (4,000) of the ``ingest_mixed`` turns. The revision's
package is unpacked with ``git archive`` into a temporary directory and
imported under its own name; each side's modules are swapped into
``sys.modules`` around its reps, so imports done lazily inside the core
resolve to that side's copy. Reps alternate which side goes first. Every ``extract_payload``
result must be identical on both sides (exit status 1 otherwise). The
script prints the best and median seconds per side and payload set.
No Spark session is started.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import importlib
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "pdftotext_spark"
SEED = 1


def _own_modules() -> dict:
    return {k: m for k, m in sys.modules.items() if k == PACKAGE or k.startswith(PACKAGE + ".")}


@dataclasses.dataclass
class Side:
    """One copy of the package: the directory it imports from and the
    modules imported from there so far."""

    root: Path
    modules: dict = dataclasses.field(default_factory=dict)


@contextlib.contextmanager
def _active(side: Side):
    """Make ``side`` the package that ``import pdftotext_spark`` finds,
    lazy imports inside the core included."""
    for k in _own_modules():
        del sys.modules[k]
    sys.modules.update(side.modules)
    sys.path.insert(0, str(side.root))
    try:
        yield importlib.import_module(f"{PACKAGE}.core.dispatch").extract_payload
    finally:
        sys.path.remove(str(side.root))
        side.modules = _own_modules()
        for k in side.modules:
            del sys.modules[k]


def _payloads(tree: Side, work: Path) -> dict[str, list[str]]:
    with _active(tree):
        from perfbench import inputs

        sizes = inputs.Sizes()
        longpdf = inputs.write_longpdfs(str(work / "longpdf"), SEED, sizes)
        ingest = inputs.write_transcripts(str(work / "ingest"), SEED, sizes.ingest_turns // 4)
    return {
        "longpdf": pq.read_table(longpdf.path, columns=["text"]).column("text").to_pylist(),
        "ingest": pq.read_table(ingest.path, columns=["text"]).column("text").to_pylist(),
    }


def _run(side: Side, texts: list[str]) -> tuple[float, list[dict]]:
    with _active(side) as extract_payload:
        t0 = time.perf_counter()
        results = [extract_payload(t or "") for t in texts]
        elapsed = time.perf_counter() - t0
    return elapsed, [dataclasses.asdict(r) for r in results]


def _compare(sides: dict[str, Side], name: str, texts: list[str], args) -> bool:
    # untimed warm-up: fills the per-process caches on both sides and
    # gives the outputs the two sides must agree on
    outputs = {s: _run(side, texts)[1] for s, side in sides.items()}
    same = outputs["rev"] == outputs["tree"]
    times: dict[str, list[float]] = {s: [] for s in sides}
    order = list(sides)
    for _ in range(args.reps):
        for s in order:
            times[s].append(_run(sides[s], texts)[0])
        order.reverse()
    print(f"{name}: {len(texts)} payloads, results identical: {same}")
    for s, ts in times.items():
        label = args.rev if s == "rev" else "working tree"
        print(f"  {s:>4} ({label}): best {min(ts):.3f} s, median {statistics.median(ts):.3f} s")
    print(f"  median tree/rev: {statistics.median(times['tree']) / statistics.median(times['rev']):.3f}")
    return same


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--rev", required=True, help="git revision to compare the working tree against")
    p.add_argument("--reps", type=int, default=7, help="timed reps per side and payload set")
    args = p.parse_args(argv)

    with tempfile.TemporaryDirectory(prefix="core_ab_") as tmp:
        tmp_path = Path(tmp)
        rev_root = tmp_path / "rev"
        rev_root.mkdir()
        archive = subprocess.run(
            ["git", "-C", str(REPO), "archive", args.rev, PACKAGE], check=True, capture_output=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", str(rev_root)], input=archive, check=True)
        sides = {"rev": Side(rev_root), "tree": Side(REPO)}
        payloads = _payloads(sides["tree"], tmp_path)
        ok = all([_compare(sides, name, texts, args) for name, texts in payloads.items()])
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
