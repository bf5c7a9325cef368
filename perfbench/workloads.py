"""The three workloads. Each is a closed loop: one client runs one batch
job at a time, and the next job starts only after the previous one has
completed.

A workload generates its seeded inputs, prepares untimed state, and
runs one operation per :meth:`Workload.op` call, which the caller times
as an ``op`` span; the calls the operation makes into the repository
are child spans. Every output is checked afterwards, outside the timed
spans.
"""

from __future__ import annotations

import contextlib
import json
import shutil
import sys
import traceback
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.tracing import Tracer, patched


@dataclass
class Checks:
    """Outcome of the output checks over every operation of a run."""

    checked: int = 0  # outputs compared with their reference
    mismatched: int = 0
    attempted: int = 0  # turns or queries the operations attempted
    failed: int = 0  # turns with decode failures, or queries that raised


class Workload:
    name = ""

    def __init__(self, spark, work: Path, sizes: inputs.Sizes, tracer: Tracer, traced: bool):
        self.spark = spark
        self.work = work
        self.sizes = sizes
        self.tracer = tracer
        self.traced = traced
        # work done by one operation, for the throughput metrics
        self.turns = 0
        self.payload_mb = 0.0

    def prepare(self) -> None:
        """Untimed state every operation starts from."""

    def reset(self, tag: str) -> None:
        """Untimed restore before operation ``tag``."""

    def replay_payloads(self) -> list[str]:
        """Payloads the traced run replays through the core in this process."""
        return []


class IngestMixed(Workload):
    """``run_extraction(resume=True)`` over mixed turns into an output
    directory holding a committed fifth of them, then the conversation
    assembly written to parquet."""

    name = "ingest_mixed"

    def generate(self, out_dir: Path, seed: int) -> None:
        self.data = inputs.write_transcripts(str(out_dir), seed, self.sizes.ingest_turns)
        self.turns = self.data.n_turns - self.data.n_prefix
        self.payload_mb = self.data.new_payload_mb
        self.tags: list[str] = []

    def corrupt(self) -> None:
        key = next(iter(self.data.goldens))
        self.data.goldens[key] += " (corrupted)"

    def prepare(self) -> None:
        from pdftotext_spark.plans.pipeline import run_extraction

        self.prefix = self.work / "committed-prefix"
        run_extraction(self.spark, self.data.prefix_path, str(self.prefix), run_id="prefix", resume=False)

    def reset(self, tag: str) -> None:
        shutil.copytree(self.prefix, self.work / f"out-{tag}" / "turns")
        self.tags.append(tag)

    @contextlib.contextmanager
    def _label_manifest_jobs(self):
        """In the traced run, label the jobs ``run_extraction`` launches
        after it builds the metrics manifest, so the event log can
        attribute them to the manifest."""
        if not self.traced:
            yield
            return
        from pdftotext_spark.plans import pipeline

        inner = pipeline.metrics_manifest

        def metrics_manifest(*args, **kwargs):
            with self.tracer.span("plans.metrics_manifest"):
                out = inner(*args, **kwargs)
            self.spark.sparkContext.setJobDescription("plans.metrics_manifest")
            return out

        with patched([(pipeline, "metrics_manifest", metrics_manifest)]):
            yield

    def op(self, tag: str) -> None:
        from pdftotext_spark.plans import pipeline

        out = self.work / f"out-{tag}"
        sc = self.spark.sparkContext
        sc.setJobDescription("plans.run_extraction")
        with self.tracer.span("plans.run_extraction"), self._label_manifest_jobs():
            extracted = pipeline.run_extraction(
                self.spark, self.data.path, str(out / "turns"), str(out / "manifest"), run_id=tag, resume=True
            )
        sc.setJobDescription("plans.assemble")
        with self.tracer.span("plans.assemble"):
            pipeline.assemble_conversations(extracted).write.parquet(str(out / "conversations"))
        sc.setJobDescription(None)

    def check(self) -> Checks:
        c = Checks()
        d = self.data
        for tag in self.tags:
            out = self.work / f"out-{tag}"
            t = pq.read_table(
                out / "turns", columns=["conv_id", "turn_idx", "extracted_text", "decode_failures", "run_id"]
            ).to_pydict()
            seen: set[tuple[str, int]] = set()
            for conv, turn, text, failures, run_id in zip(
                t["conv_id"], t["turn_idx"], t["extracted_text"], t["decode_failures"], t["run_id"]
            ):
                key = (conv, turn)
                c.mismatched += key in seen or d.goldens.get(key) != text
                seen.add(key)
                if run_id == tag:
                    c.failed += failures > 0
            c.mismatched += len(d.goldens.keys() - seen)
            c.checked += d.n_turns
            c.attempted += self.turns
            manifest = pq.read_table(out / "manifest", columns=["run_id", "turns_parsed"]).to_pydict()
            parsed = sum(n for r, n in zip(manifest["run_id"], manifest["turns_parsed"]) if r == tag)
            c.mismatched += parsed != self.turns
            convs = pq.read_table(out / "conversations", columns=["conv_id", "conversation_text"]).to_pydict()
            got = dict(zip(convs["conv_id"], convs["conversation_text"]))
            c.mismatched += len(got) != len(convs["conv_id"])  # a conversation assembled twice
            c.mismatched += sum(got.get(k) != v for k, v in d.conversations.items())
            c.checked += len(d.conversations) + 2
        return c

    def replay_payloads(self) -> list[str]:
        # payload kinds cycle with period 10, so the stride must not
        # share a factor with 10 or whole kinds drop out of the sample
        texts = pq.read_table(self.data.path, columns=["text"]).column("text").to_pylist()
        return texts[::3]


class ExtractLongPdf(Workload):
    """Read-only ``extract_turns`` over long multi-page PDFs, reduced to
    one aggregate row (counts, sums and each turn's text digest) and
    collected."""

    name = "extract_longpdf"

    def generate(self, out_dir: Path, seed: int) -> None:
        self.data = inputs.write_longpdfs(str(out_dir), seed, self.sizes)
        self.turns = self.data.n_docs
        self.payload_mb = self.data.payload_mb
        self.results: list = []

    def corrupt(self) -> None:
        key = next(iter(self.data.golden_md5))
        self.data.golden_md5[key] = inputs.md5_hex("corrupted")

    def op(self, tag: str) -> None:
        from pyspark.sql import functions as F

        from pdftotext_spark.plans.pipeline import extract_turns

        row = (
            extract_turns(self.spark.read.parquet(self.data.path))
            .agg(
                F.count(F.lit(1)).alias("turns"),
                F.sum("n_pages").alias("pages"),
                F.collect_list(
                    F.struct("conv_id", "turn_idx", F.md5("extracted_text").alias("md5"), "decode_failures")
                ).alias("digests"),
            )
            .collect()[0]
        )
        self.results.append(row)

    def check(self) -> Checks:
        c = Checks()
        d = self.data
        for row in self.results:
            got = {(r["conv_id"], r["turn_idx"]): r for r in row["digests"]}
            c.checked += d.n_docs + 2
            c.attempted += d.n_docs
            c.mismatched += row["turns"] != d.n_docs or len(got) != d.n_docs
            c.mismatched += row["pages"] != d.n_pages
            for key, md5 in d.golden_md5.items():
                r = got.get(key)
                c.mismatched += r is None or r["md5"] != md5
                c.failed += r is not None and r["decode_failures"] > 0
        return c

    def replay_payloads(self) -> list[str]:
        texts = pq.read_table(self.data.path, columns=["text"]).column("text").to_pylist()
        return texts[::2]


DIGESTS_PATH = Path(__file__).resolve().parent / "digests.json"


def _canon(v) -> str:
    """The value canonicalization of tests/test_oracle_parity.py."""
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.9g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def rows_digest(columns: list[str], records) -> str:
    """sha256 of the sorted, canonicalized row multiset, columns ordered
    by name (the parity test's ``_rows``)."""
    import hashlib

    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_canon(r[i]) for i in order) for r in records)
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for row in rows:
        h.update(json.dumps(row).encode())
    return h.hexdigest()


class CurateQueries(Workload):
    """One pass builds and collects every query in ``Sizes.queries``
    over the fixed corpus, in order. Neither depends on the seed."""

    name = "curate_queries"

    def generate(self, out_dir: Path, seed: int) -> None:
        self.corpus = inputs.write_corpus(str(out_dir), self.sizes.corpus_docs)
        self.turns = self.corpus.n_docs
        self.payload_mb = self.corpus.text_mb
        pinned = json.loads(DIGESTS_PATH.read_text())
        self.order = list(self.sizes.queries)
        self.digests = {q: pinned["queries"][q] for q in self.order}
        # per pass: query -> {"jobs", "digest", "raised"}
        self.passes: list[dict[str, dict]] = []

    def corrupt(self) -> None:
        self.digests[self.order[0]] = "0" * 64

    def op(self, tag: str) -> None:
        import __spark_entry__ as entry

        registry = entry.queries()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        record: dict[str, dict] = {}
        for q in self.order:
            res = {"jobs": 0, "digest": None, "raised": False}
            build, collect = f"{tag}:operators.{q}.build", f"{tag}:operators.{q}.collect"
            try:
                sc.setJobGroup(build, q)
                with self.tracer.span(f"operators.{q}.build"):
                    df = registry[q](self.spark, self.corpus.path)
                sc.setJobGroup(collect, q)
                with self.tracer.span(f"operators.{q}.collect"):
                    rows = df.collect()
                res["digest"] = rows_digest(df.columns, rows)
            except Exception:  # a failing query is counted, and the pass goes on
                traceback.print_exc(file=sys.stderr)
                res["raised"] = True
            res["jobs"] = len(tracker.getJobIdsForGroup(build)) + len(tracker.getJobIdsForGroup(collect))
            record[q] = res
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        self.passes.append(record)

    def check(self) -> Checks:
        c = Checks()
        for record in self.passes:
            for q, res in record.items():
                c.checked += 1
                c.attempted += 1
                c.failed += res["raised"]
                c.mismatched += res["digest"] != self.digests[q]
        return c


WORKLOADS = {w.name: w for w in (IngestMixed, ExtractLongPdf, CurateQueries)}
