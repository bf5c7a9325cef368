"""Seeded inputs for the three benchmark workloads.

Everything the program under test reads is generated here from the
benchmark's seed and written as parquet under the run's work
directory; the goldens stay on the benchmark's side.

Sizes are chosen for a 4-core host and a 10-second measuring window;
README.md ("Sizing") gives the measured operation times.
"""

from __future__ import annotations

import base64
import hashlib
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

# The word list of the sf0.01 `documents` test fixture: registered
# queries filter, score and shingle on these words, so a corpus drawn
# from them keeps every curate query's output non-empty.
CORPUS_WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
CORPUS_LANGS = ("en",) * 3 + ("zh", "es", "de", "fr")
# The curate corpus does not depend on --seed: its expected outputs are
# pinned from the DuckDB oracles (digests.json), which are too slow to
# replay on every run.
CORPUS_SEED = 20260101


def md5_hex(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


# Registered queries the curate workload runs, in this order (a fixed
# order keeps JIT warm-up comparable between runs). dedup_groups_simhash
# stands in for dedup_groups_multi: both spend their construction time
# in the same connected-components loop (dedup.dedup_groups), but the
# fused query launches about three times as many jobs and its DuckDB
# oracle is about ten times slower. curation_funnel is left out to fit
# the run budget; it was made single-pass before this benchmark existed
# and no open roadmap item targets it.
CURATE_QUERIES = (
    "dedup_groups_simhash",
    "knn_graph_srp",
    "quality_vote_prose",
    "minhash_lsh_pairs",
    "bm25_batch_topk",
)


@dataclass
class Sizes:
    ingest_turns: int = 16_000
    longpdf_docs: int = 100
    longpdf_pages: tuple[int, int] = (10, 30)
    longpdf_lines: int = 40
    corpus_docs: int = 500
    queries: tuple[str, ...] = CURATE_QUERIES


# for the self-test: the same code paths in a few seconds
TINY = Sizes(
    ingest_turns=600,
    longpdf_docs=8,
    longpdf_pages=(2, 4),
    longpdf_lines=10,
    queries=("minhash_lsh_pairs", "bm25_batch_topk"),
)


@dataclass
class Transcripts:
    """The ingest_mixed input: the full table, its committed prefix, and
    per-turn goldens keyed by ``(conv_id, turn_idx)``."""

    path: str
    prefix_path: str
    n_turns: int
    n_prefix: int
    goldens: dict[tuple[str, int], str]
    conversations: dict[str, str]
    new_payload_mb: float


def write_transcripts(out_dir: str, seed: int, n_turns: int) -> Transcripts:
    """Mixed plain/html/pdf-ascii/pdf-b64 turns with one mega-conversation
    of ``n_turns // 10`` turns, via the repository's own generator. The
    first fifth of the rows is also written alone: it becomes the
    committed output a resumed run starts from."""
    from pdftotext_spark.sources.transcripts_gen import write_parquet

    t_path, g_path = write_parquet(out_dir, n_turns, seed=seed, skew_conv_turns=n_turns // 10)
    table = pq.read_table(t_path)
    n_prefix = n_turns // 5
    prefix_path = f"{out_dir}/prefix.parquet"
    pq.write_table(table.slice(0, n_prefix), prefix_path, row_group_size=1024)
    golden = pq.read_table(g_path).to_pydict()
    goldens = {
        (c, int(t)): text
        for c, t, text in zip(golden["conv_id"], golden["turn_idx"], golden["expected_text"])
    }
    by_conv: dict[str, list[tuple[int, str]]] = {}
    for (c, t), text in goldens.items():
        by_conv.setdefault(c, []).append((t, text))
    conversations = {c: "\n".join(text for _, text in sorted(turns)) for c, turns in by_conv.items()}
    new_bytes = sum(len(s.encode("utf-8")) for s in table.column("text").to_pylist()[n_prefix:])
    return Transcripts(
        path=t_path,
        prefix_path=prefix_path,
        n_turns=n_turns,
        n_prefix=n_prefix,
        goldens=goldens,
        conversations=conversations,
        new_payload_mb=new_bytes / 1e6,
    )


@dataclass
class LongPdfs:
    """The extract_longpdf input: one ``%B64%`` multi-page PDF per turn,
    with the md5 of each turn's expected text."""

    path: str
    n_docs: int
    n_pages: int
    payload_mb: float
    golden_md5: dict[tuple[str, int], str] = field(default_factory=dict)


_STREAM_FILTERS = ("FlateDecode", "LZWDecode", None)
LONGPDF_FILES = 8  # two even waves of tasks on four cores


def _line(rng: random.Random) -> str:
    words = [rng.choice(CORPUS_WORDS) for _ in range(rng.randint(5, 10))]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def write_longpdfs(out_dir: str, seed: int, sizes: Sizes) -> LongPdfs:
    """Multi-page PDFs built with ``pdfbuilder.simple_pdf``. Streams
    cycle Flate, LZW and uncompressed; text operators alternate ``Tj``
    and kerned ``TJ`` every three documents, so all six pairs occur.
    The expected text is the page lines joined by newlines, pages
    joined by a newline."""
    import os

    from pdftotext_spark.sources import pdfbuilder

    rng = random.Random(seed)
    rows: dict[str, list] = {name: [] for name in TRANSCRIPT_SCHEMA.names}
    out = LongPdfs(path=os.path.join(out_dir, "longpdf"), n_docs=sizes.longpdf_docs, n_pages=0, payload_mb=0.0)
    for d in range(sizes.longpdf_docs):
        pages = [
            [_line(rng) for _ in range(sizes.longpdf_lines)]
            for _ in range(rng.randint(*sizes.longpdf_pages))
        ]
        pdf = pdfbuilder.simple_pdf(
            pages, stream_filter=_STREAM_FILTERS[d % 3], use_tj_array=(d // 3) % 2 == 1
        )
        payload = "%B64%" + base64.b64encode(pdf).decode("ascii")
        key = (f"doc-{d // 4:06d}", d % 4)
        rows["conv_id"].append(key[0])
        rows["turn_idx"].append(key[1])
        rows["role"].append("tool")
        rows["text"].append(payload)
        rows["tool"].append("pdf-b64")
        rows["ts"].append(T0 + timedelta(seconds=d))
        out.golden_md5[key] = md5_hex("\n".join("\n".join(p) for p in pages))
        out.n_pages += len(pages)
        out.payload_mb += len(payload) / 1e6
    # one part file per scan task: small files are never packed
    # together, so every run gets the same number of evenly sized
    # tasks, whatever sizes the seed gave the documents
    os.makedirs(out.path, exist_ok=True)
    table = pa.Table.from_pydict(rows, schema=TRANSCRIPT_SCHEMA)
    for f in range(min(LONGPDF_FILES, table.num_rows)):
        part = table.take(list(range(f, table.num_rows, LONGPDF_FILES)))
        pq.write_table(part, os.path.join(out.path, f"part-{f:05d}.parquet"))
    return out


@dataclass
class Corpus:
    """The curate_queries input: ``documents`` and ``embeddings`` tables
    in the layout the registered queries read (``<dir>/<table>.parquet``)."""

    path: str
    n_docs: int
    text_mb: float


def write_corpus(out_dir: str, n_docs: int) -> Corpus:
    """A ``documents`` table shaped like the sf0.01 test fixture (10-99
    words from :data:`CORPUS_WORDS`, 5% near-duplicates that copy an
    earlier document and append " dup") and a matching ``embeddings``
    table (unit-norm 64-d float32 vectors, ``vec_id == doc_id``)."""
    import os

    import numpy as np

    rng = random.Random(CORPUS_SEED)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(CORPUS_WORDS) for _ in range(rng.randint(10, 99))))
    os.makedirs(out_dir, exist_ok=True)
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(CORPUS_LANGS) for _ in range(n_docs)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    gen = np.random.default_rng(CORPUS_SEED)
    vecs = gen.standard_normal((n_docs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_docs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(gen.integers(0, 10, n_docs), pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return Corpus(path=out_dir, n_docs=n_docs, text_mb=sum(len(t) for t in texts) / 1e6)
