"""Measurement from outside the program: spans around calls into the
repository's modules, the Spark event log, the extraction stage's
``SPARK_GRAFT_TRACE_DIR`` batch lines, and peak RSS from ``/proc``.

Nothing here patches code inside ``pdftotext_spark`` permanently: the
core wrappers are installed for the driver-side replay only and
removed afterwards.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root


@dataclass
class Tracer:
    """Spans kept in memory; written out once by :meth:`dump`."""

    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else -1))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + n

    def self_times(self) -> list[float]:
        """Per span: its duration minus the durations of its direct
        children (children never overlap: the replay is one thread)."""
        own = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent >= 0:
                own[s.parent] -= s.end - s.start
        return own

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [[s.name, s.start, s.end, s.parent] for s in self.spans],
                    "counters": self.counters,
                },
                f,
            )


def _wrap(tracer: Tracer, fn, name: str, count=None):
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            out = fn(*args, **kwargs)
        if count is not None:
            count(out)
        return out

    return wrapper


@contextlib.contextmanager
def patched(targets):
    """Temporarily replace ``(owner, attribute)`` pairs with new values."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, value in targets:
            setattr(owner, attr, value)
        yield
    finally:
        for owner, attr, value in saved:
            setattr(owner, attr, value)


# (metric prefix, owner, attribute). The owner is where the caller looks
# the name up at call time, so wrapping it there is what the caller sees.
def _core_targets():
    from pdftotext_spark.core import dispatch, document, filters, objects
    from pdftotext_spark.core.fonts import FontTable
    from pdftotext_spark.core.pagemap import PageMap

    return [
        ("core.dispatch.sniff_kind", dispatch, "sniff_kind"),
        ("core.document.extract_document", dispatch, "extract_document"),
        ("html.extract_main_content", dispatch, "extract_main_content"),
        ("core.objects.scan", objects, "scan"),
        ("core.filters.decode_stream", filters, "decode_stream"),
        ("core.fonts.attach_cmaps", FontTable, "attach_cmaps"),
        ("core.pagemap.map_objects", PageMap, "map_objects"),
        ("core.interpreter.extract_text_raw", document, "extract_text_raw"),
        ("core.postprocess.rtl_reorder", document, "rtl_reorder"),
    ]


PAYLOAD_KINDS = ("pdf-b64", "pdf", "html", "plain")
CORE_METRICS = (
    "core.dispatch.extract_payload_s",
    "core.dispatch.extract_payload_self_s",
    "core.dispatch.sniff_kind_s",
    "core.document.extract_document_self_s",
    "core.objects.scan_s",
    "core.filters.decode_stream_s",
    "core.fonts.attach_cmaps_s",
    "core.pagemap.map_objects_s",
    "core.interpreter.extract_text_raw_s",
    "core.postprocess.rtl_reorder_s",
    "html.extract_main_content_s",
)


def replay_core(payloads: list[str], tracer: Tracer) -> tuple[dict[str, float], int]:
    """Run ``extract_payload`` over ``payloads`` in this process with a
    span around each call into a core/html public function.

    Returns per-layer self times (``core.dispatch.extract_payload_s`` is
    the inclusive span), counts, and the number of payloads whose self
    times do not sum to their ``extract_payload`` span.
    """
    from pdftotext_spark.core import dispatch

    def count_bytes(out: bytes) -> None:
        tracer.count("core.filters.bytes_out", len(out))

    targets = [
        (owner, attr, _wrap(tracer, getattr(owner, attr), name,
                            count_bytes if name == "core.filters.decode_stream" else None))
        for name, owner, attr in _core_targets()
    ]
    first = len(tracer.spans)
    roots: list[int] = []
    with patched(targets):
        for payload in payloads:
            roots.append(len(tracer.spans))
            with tracer.span("core.dispatch.extract_payload"):
                res = dispatch.extract_payload(payload)
            tracer.count("core.pages", res.n_pages)
            tracer.count(f"core.payloads.{res.kind}")
    own = tracer.self_times()
    spans = tracer.spans
    metrics = {name: 0.0 for name in CORE_METRICS}
    for i in range(first, len(spans)):
        key = spans[i].name
        key = key + ("_self_s" if key in ("core.dispatch.extract_payload", "core.document.extract_document") else "_s")
        metrics[key] += own[i]
    # each payload's self times must add up to its inclusive span
    bad = 0
    bounds = roots + [len(spans)]
    for r, nxt in zip(roots, bounds[1:]):
        total = spans[r].end - spans[r].start
        metrics["core.dispatch.extract_payload_s"] += total
        if abs(sum(own[r:nxt]) - total) > 1e-9 + 1e-9 * total:
            bad += 1
    for name in ("core.filters.bytes_out", "core.pages") + tuple(f"core.payloads.{k}" for k in PAYLOAD_KINDS):
        metrics[name] = tracer.counters.get(name, 0)
    return metrics, bad


FUNCTIONS_METRICS = (
    "functions.batches",
    "functions.rows",
    "functions.arrow_read_s",
    "functions.parse_s",
    "functions.frame_build_s",
    "functions.emit_gap_s",
)


def read_batch_trace(trace_dir: str) -> dict[str, float]:
    """Sum the per-batch lines ``extract_batches`` appends under
    ``SPARK_GRAFT_TRACE_DIR`` (one file per Python worker)."""
    out = {name: 0.0 for name in FUNCTIONS_METRICS}
    for path in glob.glob(os.path.join(trace_dir, "*.jsonl")):
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                out["functions.batches"] += 1
                out["functions.rows"] += rec["rows"]
                out["functions.arrow_read_s"] += rec["arrow_read_us"] / 1e6
                out["functions.parse_s"] += rec["parse_us"] / 1e6
                out["functions.frame_build_s"] += rec["frame_build_us"] / 1e6
                out["functions.emit_gap_s"] += (rec["emit_gap_us"] or 0) / 1e6
    return out


SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.jvm_gc_s",
    "spark.input_mb",
    "spark.shuffle_read_mb",
    "spark.shuffle_write_mb",
    "spark.spill_mb",
    "spark.task_max_over_median",
)


@dataclass
class Job:
    props: dict
    start_ms: int
    end_ms: int = 0
    stages: set = field(default_factory=set)


@dataclass
class StageTotals:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_b: int = 0
    output_b: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    durations_ms: list = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, StageTotals]

    def jobs_with(self, prop: str, value: str) -> list[Job]:
        """Jobs whose local property ``prop`` was ``value`` at submission."""
        return [j for j in self.jobs.values() if j.props.get(prop) == value]

    def totals(self, jobs: list[Job]) -> StageTotals:
        out = StageTotals()
        for job in jobs:
            for sid in job.stages:
                st = self.stages.get(sid)
                if st is None:
                    continue
                out.tasks += st.tasks
                out.run_s += st.run_s
                out.cpu_s += st.cpu_s
                out.gc_s += st.gc_s
                out.input_b += st.input_b
                out.output_b += st.output_b
                out.shuffle_read_b += st.shuffle_read_b
                out.shuffle_write_b += st.shuffle_write_b
                out.spill_b += st.spill_b
        return out

    def spark_metrics(self, jobs: list[Job]) -> dict[str, float]:
        t = self.totals(jobs)
        ran = [sid for job in jobs for sid in job.stages if sid in self.stages]
        # skew of the stage that used the most executor time
        skew = 0.0
        if ran:
            top = self.stages[max(ran, key=lambda sid: self.stages[sid].run_s)]
            med = statistics.median(top.durations_ms)
            skew = max(top.durations_ms) / med if med > 0 else 1.0
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(ran),
            "spark.tasks": t.tasks,
            "spark.executor_run_s": t.run_s,
            "spark.executor_cpu_s": t.cpu_s,
            "spark.jvm_gc_s": t.gc_s,
            "spark.input_mb": t.input_b / 1e6,
            "spark.shuffle_read_mb": t.shuffle_read_b / 1e6,
            "spark.shuffle_write_mb": t.shuffle_write_b / 1e6,
            "spark.spill_mb": t.spill_b / 1e6,
            "spark.task_max_over_median": skew,
        }

    @staticmethod
    def job_seconds(jobs: list[Job]) -> float:
        return sum(max(j.end_ms - j.start_ms, 0) for j in jobs) / 1e3


def read_event_log(log_dir: str) -> EventLog:
    """Parse the (uncompressed, finished) event log of the one
    application that wrote into ``log_dir``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    stage_job: dict[int, int] = {}
    (path,) = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = Job(props=ev.get("Properties") or {}, start_ms=ev["Submission Time"])
                jobs[ev["Job ID"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, StageTotals())
                info = ev["Task Info"]
                st.tasks += 1
                st.durations_ms.append(info["Finish Time"] - info["Launch Time"])
                st.run_s += m["Executor Run Time"] / 1e3
                st.cpu_s += m["Executor CPU Time"] / 1e9
                st.gc_s += m["JVM GC Time"] / 1e3
                st.input_b += m["Input Metrics"]["Bytes Read"]
                st.output_b += m["Output Metrics"]["Bytes Written"]
                sr = m["Shuffle Read Metrics"]
                st.shuffle_read_b += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                st.shuffle_write_b += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                st.spill_b += m["Disk Bytes Spilled"]
    for sid, jid in stage_job.items():
        if sid in stages:
            jobs[jid].stages.add(sid)
    return EventLog(jobs, stages)


def peak_rss_mb() -> float:
    """Summed ``VmHWM`` of this process and all its descendants (the
    JVM, the Python worker daemon and its workers)."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                text = f.read()
        except OSError:
            continue  # the process ended while we walked /proc
        pid = int(stat.split("/")[2])
        ppid = int(text.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(pid)
    total_kb = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
