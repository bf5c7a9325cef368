"""Multimodal plumbing (binary columns, stubbed codecs) and the
Structured-Streaming pipeline variant."""

import base64

import pytest
from pyspark.sql import functions as F

from pdftotext_spark.core.document import ExtractOptions, extract_document
from pdftotext_spark.operators import multimodal
from pdftotext_spark.sources import pdfbuilder as pb

pytestmark = pytest.mark.spark


def _image_transcripts(spark, n_rows: int = 6):
    rows = []
    for i in range(n_rows):
        pdf_bytes, _ = pb.image_pdf(f"turn {i}", n_images=1 + i % 2)
        rows.append(
            (
                "conv-img",
                i,
                "user",
                "%B64%" + base64.b64encode(pdf_bytes).decode(),
                "pdf-b64",
            )
        )
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())


def test_image_carving_core():
    pdf, jpeg = pb.image_pdf("hello image", n_images=2)
    res = extract_document(pdf, ExtractOptions(want_images=True))
    assert res.n_images == 2
    assert res.image_bytes == [jpeg, jpeg]
    assert res.text == "hello image"
    assert multimodal.sniff_format(jpeg) == "jpeg"


def test_carve_images_dataframe(spark):
    df = _image_transcripts(spark)
    images = multimodal.carve_images(df)
    pdf = images.toPandas()
    assert len(pdf) == sum(1 + i % 2 for i in range(6))
    assert set(pdf["format"]) == {"jpeg"}
    assert pdf["sha256"].nunique() == 1  # same fake jpeg everywhere
    assert (pdf["n_bytes"] > 0).all()


def test_image_dedup_and_features(spark):
    df = _image_transcripts(spark)
    images = multimodal.carve_images(df)
    dedup = multimodal.exact_image_dedup(images).toPandas()
    assert len(dedup) == 1 and int(dedup["n_copies"].iloc[0]) == 9
    feats = multimodal.image_features(images).toPandas()
    assert len(feats) == 1  # distinct-by-sha decode once
    assert len(feats["feature"].iloc[0]) == multimodal.FEATURE_DIM
    assert feats["width"].iloc[0] >= 16


def test_decode_image_stub_contract():
    w1, h1, f1 = multimodal.decode_image(b"abc")
    w2, h2, f2 = multimodal.decode_image(b"abc")
    assert (w1, h1, f1) == (w2, h2, f2)  # deterministic
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"abc", strict=True)


def test_streaming_extraction_matches_batch(spark, transcripts_dir, tmp_path):
    from pdftotext_spark.streaming.pipeline import run_stream_once

    # the file-stream source needs a directory of transcript files
    src = tmp_path / "src"
    src.mkdir()
    (src / "transcripts.parquet").symlink_to(f"{transcripts_dir}/transcripts.parquet")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_stream_once(spark, str(src), out, ckpt)
    extracted = spark.read.parquet(out)
    golden = spark.read.parquet(f"{transcripts_dir}/golden.parquet")
    joined = extracted.join(golden, ["conv_id", "turn_idx"])
    assert joined.count() == 200
    assert joined.filter("extracted_text <> expected_text").count() == 0


def test_streaming_checkpoint_no_reprocess(spark, transcripts_dir, tmp_path):
    from pdftotext_spark.streaming.pipeline import run_stream_once

    src = tmp_path / "src2"
    src.mkdir()
    (src / "transcripts.parquet").symlink_to(f"{transcripts_dir}/transcripts.parquet")
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    run_stream_once(spark, str(src), out, ckpt)
    n1 = spark.read.parquet(out).count()
    run_stream_once(spark, str(src), out, ckpt)  # same checkpoint
    assert spark.read.parquet(out).count() == n1


def test_ahash_noise_invariance_and_discrimination():
    import numpy as np

    from pdftotext_spark.operators.multimodal import ahash64

    # structured 32x32 image: left half dark, right half bright
    base = np.zeros((32, 32, 3), dtype=np.uint8)
    base[:, 16:, :] = 200
    noisy = base.copy()
    rng = np.random.RandomState(7)
    idx = rng.randint(0, 32, size=(20, 2))
    for y, x in idx:
        noisy[y, x] = np.clip(noisy[y, x].astype(int) + rng.randint(-3, 4), 0, 255)
    assert ahash64(base) == ahash64(noisy)  # noise-invariant
    flipped = base[:, ::-1, :].copy()
    assert ahash64(base) != ahash64(flipped)  # structure-sensitive
    # signed-64 containment for Spark LongType
    assert -(1 << 63) <= ahash64(base) < (1 << 63)


def test_carve_images_phash_and_perceptual_dedup(spark):
    import base64

    import pandas as pd

    from pdftotext_spark.operators.multimodal import (
        carve_images,
        perceptual_image_dedup,
    )

    # two different-bytes rasters decode to different structures →
    # different phash; same raster twice → one perceptual group
    pdf_a, _, _ = pb.raster_pdf(16, 16, "DeviceRGB")
    pdf_b, _, _ = pb.raster_pdf(16, 16, "DeviceGray")
    payloads = [
        "%B64%" + base64.b64encode(p).decode() for p in (pdf_a, pdf_a, pdf_b)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c"] * 3,
                "turn_idx": pd.array(range(3), dtype="int32"),
                "text": payloads,
            }
        )
    )
    images = carve_images(df)
    rows = images.collect()
    assert len(rows) == 3 and all(r.phash is not None for r in rows)
    groups = {r.phash: r.n_copies for r in perceptual_image_dedup(images).collect()}
    assert sorted(groups.values()) in ([1, 2], [3])  # dup pdf_a collapses
    assert max(groups.values()) >= 2


def test_carve_images_keeps_phash_after_a_null_in_the_batch(spark):
    # one batch: a JPEG (no phash) before a raster; the raster's phash
    # must arrive exactly, not rounded through float64
    jpeg = "%B64%" + base64.b64encode(pb.image_pdf()[0]).decode()
    raster = "%B64%" + base64.b64encode(pb.raster_pdf(16, 16)[0]).decode()
    df = spark.createDataFrame(
        [("c", 0, jpeg), ("c", 1, raster)], "conv_id string, turn_idx int, text string"
    ).coalesce(1)
    rows = multimodal.carve_images(df).orderBy("turn_idx").collect()
    [(*_, expected)] = multimodal.carve_image_rows(raster)
    assert [r.phash for r in rows] == [None, expected]


def test_raster_rgb_roundtrip():
    import numpy as np

    pdf, raster, dict_part = pb.raster_pdf(4, 3, "DeviceRGB")
    res = extract_document(pdf, ExtractOptions(want_images=True))
    assert res.n_images == 1
    assert res.image_bytes[0] == raster  # Flate round-trip
    out = multimodal.decode_raster(dict_part, res.image_bytes[0])
    assert out is not None
    h, w, rgb = out
    assert (h, w, rgb.shape) == (3, 4, (3, 4, 3))
    assert bytes(rgb.tobytes()) == raster  # RGB passthrough


def test_raster_gray_expands_to_rgb():
    pdf, raster, dict_part = pb.raster_pdf(5, 2, "DeviceGray")
    res = extract_document(pdf, ExtractOptions(want_images=True))
    h, w, rgb = multimodal.decode_raster(dict_part, res.image_bytes[0])
    assert rgb.shape == (2, 5, 3)
    assert rgb[0, 0, 0] == rgb[0, 0, 1] == rgb[0, 0, 2] == raster[0]


def test_raster_cmyk_to_rgb():
    import numpy as np

    pdf, raster, dict_part = pb.raster_pdf(2, 2, "DeviceCMYK")
    h, w, rgb = multimodal.decode_raster(
        dict_part, extract_document(pdf, ExtractOptions(want_images=True)).image_bytes[0]
    )
    assert rgb.shape == (2, 2, 3)
    c, k = raster[0], raster[3]
    assert rgb[0, 0, 0] == 255 - min(255, c + k)  # CMYK formula


def test_raster_rejects_non_raster():
    assert multimodal.decode_raster(b"<< /Subtype /Image /Filter /DCTDecode >>", b"xx") is None


# --------------------------------------- stateful streaming (state API)


def test_stateful_conversation_rollup(spark, tmp_path):
    """applyInPandasWithState running totals must match the batch
    aggregation, and state must persist across a stream restart."""
    import os

    import pyspark.sql.functions as F

    from pdftotext_spark.plans.pipeline import extract_turns
    from pdftotext_spark.sources.transcripts_gen import write_parquet
    from pdftotext_spark.streaming.stateful import run_stateful_stream_once

    write_parquet(str(tmp_path / "in1"), n_turns=80, seed=5)
    write_parquet(str(tmp_path / "in2"), n_turns=80, seed=5)  # same convs again
    src = tmp_path / "src"
    src.mkdir()
    os.symlink(tmp_path / "in1" / "transcripts.parquet", src / "a.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    run_stateful_stream_once(spark, str(src), out, ckpt)
    latest1 = (
        spark.read.parquet(out).groupBy("conv_id").agg(F.max("turns").alias("turns"))
    )
    batch = (
        extract_turns(spark.read.parquet(str(src / "a.parquet")))
        .groupBy("conv_id")
        .agg(F.count("*").alias("bturns"), F.sum(F.length("extracted_text")).alias("bchars"))
    )
    j1 = latest1.join(batch, "conv_id")
    assert j1.filter("turns <> bturns").count() == 0
    assert j1.count() == batch.count()

    # restart with one more file: state continues, totals double
    os.symlink(tmp_path / "in2" / "transcripts.parquet", src / "b.parquet")
    run_stateful_stream_once(spark, str(src), out, ckpt)
    latest2 = (
        spark.read.parquet(out).groupBy("conv_id").agg(F.max("turns").alias("turns"))
    )
    j2 = latest2.join(batch, "conv_id")
    assert j2.filter("turns <> 2 * bturns").count() == 0


def test_stateful_rollup_replay_is_exactly_once(spark, tmp_path):
    """A replayed micro-batch (its commit lost after the sink wrote)
    replaces its batch_id= partition: the (conv_id, turns) rows are
    unchanged, not appended a second time."""
    import os

    from pdftotext_spark.sources.transcripts_gen import write_parquet
    from pdftotext_spark.streaming.stateful import run_stateful_stream_once

    write_parquet(str(tmp_path / "in1"), n_turns=80, seed=5)
    write_parquet(str(tmp_path / "in2"), n_turns=80, seed=6)
    src = tmp_path / "src"
    src.mkdir()
    os.symlink(tmp_path / "in1" / "transcripts.parquet", src / "a.parquet")
    os.symlink(tmp_path / "in2" / "transcripts.parquet", src / "b.parquet")
    out, ckpt = str(tmp_path / "out"), tmp_path / "ckpt"

    def rows():
        return sorted(
            (r.conv_id, r.turns)
            for r in spark.read.parquet(out).select("conv_id", "turns").collect()
        )

    run_stateful_stream_once(spark, str(src), out, str(ckpt))
    first = rows()
    last = max(int(n) for n in os.listdir(ckpt / "commits") if n.isdigit())
    assert last >= 1  # one micro-batch per file
    os.remove(ckpt / "commits" / str(last))
    os.remove(ckpt / "commits" / f".{last}.crc")
    run_stateful_stream_once(spark, str(src), out, str(ckpt))
    assert rows() == first


def test_per_batch_gate_exactly_once(spark, tmp_path):
    """The one foreachBatch body: a replay of batch N with different
    rows leaves only the new rows, an empty batch writes nothing, and
    every frame of a two-output gate lands in its batch_id= partition."""
    import os

    from pdftotext_spark.streaming.pipeline import per_batch

    out, store = str(tmp_path / "out"), str(tmp_path / "store")
    body = per_batch(lambda batch, batch_id: {out: batch, store: batch.select("k")})

    def frame(ks):
        return spark.createDataFrame([(k, f"v{k}") for k in ks], "k int, v string")

    def read(path):
        return {(r.batch_id, r.k) for r in spark.read.parquet(path).collect()}

    body(frame([1, 2]), 0)
    body(frame([3]), 1)
    assert read(out) == read(store) == {(0, 1), (0, 2), (1, 3)}
    body(frame([7, 8, 9]), 1)  # replay of batch 1 with different rows
    assert read(out) == read(store) == {(0, 1), (0, 2), (1, 7), (1, 8), (1, 9)}
    body(frame([]), 2)
    assert not os.path.exists(f"{out}/batch_id=2")
    assert not os.path.exists(f"{store}/batch_id=2")


def test_session_window_rollup(spark, tmp_path):
    """session_window groups turns into gap-bounded sessions (the
    streaming analog of batch sessionize). Append mode only emits
    sessions the watermark has passed, so a far-future sentinel row
    flushes the ones under test — the standard pattern."""
    import pandas as pd

    from pdftotext_spark.plans.pipeline import extract_turns
    from pdftotext_spark.streaming.pipeline import (
        conversation_sessions,
        read_transcript_stream,
    )

    base = pd.Timestamp("2026-01-01", tz="UTC")
    ts = [base + pd.Timedelta(seconds=s) for s in (0, 1, 2, 100, 101)]
    ts.append(base + pd.Timedelta(hours=2))  # sentinel pushes watermark
    n = len(ts)
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame(
        {
            "conv_id": ["c1"] * 5 + ["flush"],
            "turn_idx": pd.array(list(range(5)) + [0], dtype="int32"),
            "role": ["user"] * n,
            "text": [f"turn {i}" for i in range(n)],
            "tool": ["plain"] * n,
            "ts": pd.Series(ts).dt.as_unit("us"),
        }
    ).to_parquet(src / "a.parquet")

    stream = read_transcript_stream(spark, str(src))
    sessions = conversation_sessions(
        extract_turns(stream), gap="30 seconds", watermark="0 seconds"
    )
    out = str(tmp_path / "out")
    (
        sessions.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    rows = {
        (r.conv_id, r.turns): (r.session_start, r.session_end)
        for r in spark.read.parquet(out).collect()
    }
    assert ("c1", 3) in rows and ("c1", 2) in rows  # 0-2s and 100-101s
    start3, end3 = rows[("c1", 3)]
    assert (end3 - start3).total_seconds() == 2 + 30  # last event + gap


def test_streaming_neardup_dedup(spark, tmp_path):
    """Streaming LSH near-dup filter: in-batch near-dups collapse to
    the min key, cross-batch near-dups of already-accepted turns are
    suppressed via the persistent band store, novel turns pass."""
    import pandas as pd

    from pdftotext_spark.streaming.dedup import run_neardup_dedup_stream

    base = "the quick brown fox jumps over the lazy dog " * 8
    other = "completely different content about streaming pipelines " * 8

    def rows(conv, idx, text):
        return {
            "conv_id": [conv],
            "turn_idx": pd.array([idx], dtype="int32"),
            "role": ["user"],
            "text": [text],
            "tool": ["plain"],
            "ts": pd.to_datetime(["2026-01-01"], utc=True).as_unit("us"),
        }

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt, store = (
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "store"),
    )
    # batch 1: base + an in-batch near-dup of it + a novel doc
    b1 = pd.concat(
        [
            pd.DataFrame(rows("c1", 0, base)),
            pd.DataFrame(rows("c1", 1, base + "trailing variation")),
            pd.DataFrame(rows("c2", 0, other)),
        ]
    )
    b1.to_parquet(src / "batch1.parquet")
    run_neardup_dedup_stream(spark, str(src), out, ckpt, store)
    got1 = {
        (r.conv_id, r.turn_idx)
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == {("c1", 0), ("c2", 0)}  # in-batch near-dup dropped
    # batch 2: a cross-batch near-dup of base + a new novel doc
    b2 = pd.concat(
        [
            pd.DataFrame(rows("c3", 0, base + "another tail")),
            pd.DataFrame(rows("c4", 0, "fresh unrelated text body here " * 8)),
        ]
    )
    b2.to_parquet(src / "batch2.parquet")
    run_neardup_dedup_stream(spark, str(src), out, ckpt, store)
    got2 = {
        (r.conv_id, r.turn_idx)
        for r in spark.read.parquet(out).collect()
    }
    assert got2 == {("c1", 0), ("c2", 0), ("c4", 0)}  # c3 suppressed


def test_streaming_neardup_replay_is_idempotent(spark, tmp_path):
    """code-review r3: a REPLAYED micro-batch (at-least-once
    foreachBatch) must not band-collide with its own stored bands —
    the output partition is replaced with the same survivors, not
    emptied."""
    import pandas as pd

    from pdftotext_spark.streaming.dedup import neardup_filter_batch

    out, store = str(tmp_path / "out"), str(tmp_path / "store")
    base = "the quick brown fox jumps over the lazy dog " * 8
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c1", "c2"],
                "turn_idx": pd.array([0, 0], dtype="int32"),
                "role": ["user", "user"],
                "text": [base, base + "near dup tail"],
                "tool": ["plain", "plain"],
                "ts": pd.to_datetime(["2026-01-01", "2026-01-01"], utc=True).as_unit(
                    "us"
                ),
            }
        )
    )
    fn = neardup_filter_batch(out, store)
    fn(batch, 0)
    first = sorted(
        (r.conv_id, r.turn_idx) for r in spark.read.parquet(out).collect()
    )
    assert first == [("c1", 0)]  # in-batch near-dup collapsed
    fn(batch, 0)  # replay of the SAME batch id
    again = sorted(
        (r.conv_id, r.turn_idx) for r in spark.read.parquet(out).collect()
    )
    assert again == first  # replaced, not emptied and not duplicated
    # and a LATER batch still sees the stored bands (suppression intact)
    batch2 = batch.filter("conv_id = 'c2'")  # near-dup of stored c1
    fn(batch2, 1)
    final = sorted(
        (r.conv_id, r.turn_idx) for r in spark.read.parquet(out).collect()
    )
    assert final == [("c1", 0)]


def test_streaming_curation_gate(spark, tmp_path):
    """Streaming quality + decontamination gate: low-quality turns and
    turns contaminated against the static benchmark shingle set are
    dropped at ingest; clean turns pass; a second drained batch keeps
    the earlier output (batch_id partitions)."""
    import pandas as pd

    from pdftotext_spark.streaming.curation import (
        run_curation_stream,
        write_benchmark_shingles,
    )

    bench_text = "held out benchmark passage about astronomy " * 8
    bench_docs = spark.createDataFrame(
        [(1, bench_text, "src0")], "doc_id long, text string, source string"
    )
    bench_dir = str(tmp_path / "bench_sh")
    write_benchmark_shingles(bench_docs, bench_dir)
    assert spark.read.parquet(bench_dir).count() > 5  # sampled, nonempty
    # (periodic fixture: ~period distinct shingles, ~1/4 sampled)

    def rows(conv, idx, text):
        return pd.DataFrame(
            {
                "conv_id": [conv],
                "turn_idx": pd.array([idx], dtype="int32"),
                "role": ["user"],
                "text": [text],
                "tool": ["plain"],
                "ts": pd.to_datetime(["2026-01-01"], utc=True).as_unit("us"),
            }
        )

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    clean = " ".join(f"novel{i:03d}" for i in range(60))
    b1 = pd.concat(
        [
            rows("c1", 0, clean),                      # passes
            rows("c1", 1, bench_text + " tiny tail"),  # contaminated
            rows("c2", 0, "x y"),                      # fails min-words
        ]
    )
    b1.to_parquet(src / "batch1.parquet")
    run_curation_stream(spark, str(src), out, ckpt, bench_dir)
    got1 = {(r.conv_id, r.turn_idx) for r in spark.read.parquet(out).collect()}
    assert got1 == {("c1", 0)}

    b2 = rows("c3", 0, " ".join(f"fresh{i:03d}" for i in range(40)))
    b2.to_parquet(src / "batch2.parquet")
    run_curation_stream(spark, str(src), out, ckpt, bench_dir)
    got2 = {(r.conv_id, r.turn_idx) for r in spark.read.parquet(out).collect()}
    assert got2 == {("c1", 0), ("c3", 0)}


def test_streaming_curation_gate_with_panels(spark, tmp_path):
    """panels=True: streaming survivors equal the batch intersection
    of the shallow gate, the three per-document quality panels
    (quality_vote's unanimous rule), and decontamination — computed
    independently with the batch operators on the same rows."""
    import pandas as pd

    from pdftotext_spark.operators import textstats
    from pdftotext_spark.streaming.curation import (
        run_curation_stream,
        write_benchmark_shingles,
    )

    # the benchmark passage is itself panel-passing (>= 50 varied
    # words, 5 terminal sentences) so the contaminated copy below is
    # dropped by decontamination ALONE, not by a panel side-effect
    bench_text = (
        "astronomers gathered on the high plateau to study the comet as "
        "it crossed the southern sky. their instruments recorded faint "
        "traces of dust streaming behind the bright nucleus. observations "
        "continued through the cold night until clouds finally covered "
        "the horizon. the team compared new measurements with records "
        "from earlier decades. that work later shaped several papers "
        "about orbital drift and solar wind."
    )
    bench_docs = spark.createDataFrame(
        [(1, bench_text, "src0")], "doc_id long, text string, source string"
    )
    bench_dir = str(tmp_path / "bench_sh")
    write_benchmark_shingles(bench_docs, bench_dir)

    def rows(conv, idx, text):
        return pd.DataFrame(
            {
                "conv_id": [conv],
                "turn_idx": pd.array([idx], dtype="int32"),
                "role": ["user"],
                "text": [text],
                "tool": ["plain"],
                "ts": pd.to_datetime(["2026-01-01"], utc=True).as_unit("us"),
            }
        )

    # panel-passing: 5 sentences, >= 50 varied words, mean word len
    # 3-10, stopword hits, no dominant repeated n-gram
    clean = (
        "the quick brown fox jumps over the lazy dog while morning "
        "light settles across the quiet valley. farmers walk along "
        "narrow paths carrying baskets of ripe fruit toward the village "
        "market. children laugh near the old stone bridge and watch "
        "silver fish turn beneath clear water. a gentle wind moves "
        "through tall grass and carries distant smells of rain. "
        "everyone agrees that autumn arrived early this year."
    )
    texts = {
        ("c1", 0): clean,                               # passes everything
        # contaminated: a near-verbatim copy of the benchmark passage
        # (panel-passing, so ONLY decontamination can drop it)
        ("c1", 1): bench_text + " a small appended remark closes it.",
        ("c2", 0): "x y",                               # fails shallow gate
        # repetition-only reject: clean's 5 sentences keep C4/Gopher
        # green while the spam run blows the top-2-gram char fraction
        ("c3", 0): "spam spam " * 25 + clean,
        ("c4", 0): clean + " {",                        # C4 curly brace
    }
    b = pd.concat([rows(c, i, t) for (c, i), t in texts.items()])
    src = tmp_path / "src"
    src.mkdir()
    b.to_parquet(src / "batch1.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_curation_stream(spark, str(src), out, ckpt, bench_dir, panels=True)
    got = {(r.conv_id, r.turn_idx) for r in spark.read.parquet(out).collect()}

    # batch twin on the same rows
    docs = spark.createDataFrame(
        [(i, t) for i, ((_, _), t) in enumerate(texts.items())],
        "doc_id long, text string",
    )
    keymap = {i: k for i, (k, _) in enumerate(texts.items())}
    shallow = {
        r.doc_id
        for r in docs.filter(textstats.qf_keep_predicate()).collect()
    }
    keeps = [shallow]
    for fn in (
        textstats.gopher_quality_for,
        textstats.gopher_repetition_for,
        textstats.c4_quality_for,
        textstats.fineweb_quality_for,
    ):
        keeps.append({r.doc_id for r in fn(docs).collect() if r.keep})
    batch_keep = set.intersection(*keeps)
    # c1#1 is contamination-dropped on top of the panel verdicts
    batch_keys = {keymap[d] for d in batch_keep}
    assert got == batch_keys - {("c1", 1)}
    # the contaminated turn PASSED every panel (else decontamination
    # was never the deciding rule) and was still dropped
    assert ("c1", 1) in batch_keys and ("c1", 1) not in got
    assert ("c1", 0) in got
    # each engineered rejection actually rejected
    assert ("c2", 0) not in got and ("c3", 0) not in got
    assert ("c4", 0) not in got


def test_streaming_curation_gate_ngram_rule(spark, tmp_path):
    """ngram_bench_dir: the streaming gate applies the batch
    ngram_decontamination any-collision rule — a turn sharing a
    13-token run with the benchmark is dropped even though its
    sampled-shingle fraction is far below the 0.75 threshold, and a
    12-token run survives (the window boundary). Verdicts pinned ==
    the batch operator on the same texts."""
    import pandas as pd

    from pdftotext_spark.operators import dedup
    from pdftotext_spark.streaming.curation import (
        run_curation_stream,
        write_benchmark_ngrams,
        write_benchmark_shingles,
    )

    toks = [f"t{i:02d}" for i in range(30)]
    bench_text = " ".join(toks)
    bench_docs = spark.createDataFrame(
        [(1, bench_text, "src0")], "doc_id long, text string, source string"
    )
    bench_dir = str(tmp_path / "bench_sh")
    ngram_dir = str(tmp_path / "bench_g")
    write_benchmark_shingles(bench_docs, bench_dir)
    write_benchmark_ngrams(bench_docs, ngram_dir)

    def rows(conv, idx, text):
        return pd.DataFrame(
            {
                "conv_id": [conv],
                "turn_idx": pd.array([idx], dtype="int32"),
                "role": ["user"],
                "text": [text],
                "tool": ["plain"],
                "ts": pd.to_datetime(["2026-01-01"], utc=True).as_unit("us"),
            }
        )

    pad = " ".join(f"u{i:02d}" for i in range(30))
    texts = {
        ("c1", 0): pad,                                        # clean
        # 13 shared tokens inside 43 -> gram rule fires, shingle
        # fraction (~0.3) does not
        ("c1", 1): pad + " " + " ".join(toks[5:18]),
        ("c2", 0): pad + " " + " ".join(toks[5:17]),           # 12: survives
    }
    b = pd.concat([rows(c, i, t) for (c, i), t in texts.items()])
    src = tmp_path / "src"
    src.mkdir()
    b.to_parquet(src / "batch1.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_curation_stream(
        spark, str(src), out, ckpt, bench_dir, ngram_bench_dir=ngram_dir
    )
    got = {(r.conv_id, r.turn_idx) for r in spark.read.parquet(out).collect()}
    assert got == {("c1", 0), ("c2", 0)}

    # batch twin: same texts as a documents table, same verdicts
    docs = [(0, bench_text, "en", "src0", len(bench_text))] + [
        (i + 1, t, "en", "src1", len(t))
        for i, t in enumerate(texts.values())
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    verdicts = {
        r.doc_id: r.dirty
        for r in dedup.ngram_decontamination(spark, str(tmp_path)).collect()
    }
    assert verdicts == {1: False, 2: True, 3: False}
