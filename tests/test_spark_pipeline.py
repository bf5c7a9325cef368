"""Spark integration tests: the mapInPandas extraction pipeline
delivers per-turn text equality vs construction goldens (the
north_rule invariant), plus assembly / metrics / resume semantics."""

import pytest
from pyspark.sql import functions as F

from pdftotext_spark.plans.pipeline import (
    assemble_conversations,
    extract_fragments_df,
    extract_turns,
    metrics_manifest,
    resume_anti_join,
)

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def extracted(spark, transcripts_dir):
    df = spark.read.parquet(f"{transcripts_dir}/transcripts.parquet")
    out = extract_turns(df, n_partitions=8)
    out.cache()
    out.count()
    return out


def test_per_turn_text_equality(spark, transcripts_dir, extracted):
    """100% per-turn text equality vs goldens (north rule)."""
    golden = spark.read.parquet(f"{transcripts_dir}/golden.parquet")
    joined = extracted.join(golden, ["conv_id", "turn_idx"], "inner")
    total = joined.count()
    assert total == 200
    mismatches = joined.filter(
        F.col("extracted_text") != F.col("expected_text")
    ).count()
    assert mismatches == 0


def test_no_decode_failures_on_clean_fixture(extracted):
    assert extracted.agg(F.sum("decode_failures")).first()[0] == 0


def test_payload_kind_matches_tool_tag(extracted):
    # tool column tags the payload kind (FIXTURES.md §1); sniffer must agree
    # (generator tags 'pdf-ascii' which the sniffer reports as 'pdf')
    bad = extracted.filter(
        ~(
            (F.col("tool") == F.col("payload_kind"))
            | ((F.col("tool") == "pdf-ascii") & (F.col("payload_kind") == "pdf"))
        )
    ).count()
    assert bad == 0


def test_assembly_stable_order(spark, transcripts_dir, extracted):
    """Conversation assembly must equal goldens joined in turn order."""
    convs = assemble_conversations(extracted)
    golden = spark.read.parquet(f"{transcripts_dir}/golden.parquet")
    expected = (
        golden.groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "expected_text"))),
                    lambda s: s.expected_text,
                ),
                "\n",
            ).alias("expected_conv")
        )
    )
    joined = convs.join(expected, "conv_id")
    assert joined.count() > 0
    assert joined.filter(F.col("conversation_text") != F.col("expected_conv")).count() == 0


def test_metrics_manifest(extracted):
    m = metrics_manifest(extracted, "test-run").toPandas()
    assert m["turns_parsed"].sum() == 200
    assert (m["turns_parsed"] > 0).all()
    assert set(m.columns) >= {
        "run_id",
        "partition_id",
        "turns_parsed",
        "decode_failures",
        "images_extracted",
        "wall_ms",
    }


def test_resumed_run_manifest_counts_only_new_turns(spark, transcripts_dir, tmp_path):
    # regression (VERDICT r01 item 4): the manifest used to re-read the
    # whole output, so a resumed run re-counted previously committed
    # turns under the new run_id
    from pdftotext_spark.plans.pipeline import run_extraction

    out_dir, m_dir = str(tmp_path / "out"), str(tmp_path / "metrics")
    src = f"{transcripts_dir}/transcripts.parquet"
    run_extraction(spark, src, output_path=out_dir, metrics_path=m_dir, run_id="r1")
    m1 = spark.read.parquet(m_dir)
    total = spark.read.parquet(src).count()
    assert m1.agg(F.sum("turns_parsed")).first()[0] == total
    # full resume: nothing new → the second run's manifest adds 0 turns
    run_extraction(spark, src, output_path=out_dir, metrics_path=m_dir, run_id="r2")
    m2 = spark.read.parquet(m_dir)
    assert m2.filter(F.col("run_id") == "r2").agg(
        F.coalesce(F.sum("turns_parsed"), F.lit(0))
    ).first()[0] == 0
    assert m2.filter(F.col("run_id") == "r1").agg(F.sum("turns_parsed")).first()[0] == total
    # output rows carry lineage: committing run + extraction task id
    out = spark.read.parquet(out_dir)
    assert out.count() == total
    assert {"run_id", "partition_id"} <= set(out.columns)


def test_resume_into_legacy_output_without_lineage_columns(
    spark, transcripts_dir, tmp_path
):
    # ADVICE r02: resuming into an output directory written BEFORE the
    # lineage-stamping schema (no run_id/partition_id columns) must not
    # blow up on schema pick, and legacy rows must not be counted as
    # this run's increment
    from pdftotext_spark.plans.pipeline import extract_turns, run_extraction

    src = f"{transcripts_dir}/transcripts.parquet"
    df = spark.read.parquet(src)
    total = df.count()
    # the default scan splits, and the salted repartition
    for n_partitions in (None, 4):
        out_dir = str(tmp_path / f"out{n_partitions}")
        m_dir = str(tmp_path / f"metrics{n_partitions}")
        # simulate a pre-lineage run: first 50 turns, old schema
        legacy = extract_turns(
            df.orderBy("conv_id", "turn_idx").limit(50)
        )
        legacy.write.mode("append").parquet(out_dir)
        assert "run_id" not in spark.read.parquet(out_dir).columns
        # resume with the current code: remaining turns extract,
        # read-back merges schemas, manifest counts only the r2 increment
        run_extraction(
            spark, src, output_path=out_dir, metrics_path=m_dir, run_id="r2",
            n_partitions=n_partitions,
        )
        out = spark.read.option("mergeSchema", "true").parquet(out_dir)
        assert out.count() == total
        m = spark.read.parquet(m_dir)
        assert (
            m.filter(F.col("run_id") == "r2").agg(F.sum("turns_parsed")).first()[0]
            == total - 50
        )
        # legacy rows read back with null run_id — never attributed to r2
        assert out.filter(F.col("run_id").isNull()).count() == 50


def test_resume_raises_on_corrupt_committed_output(spark, transcripts_dir, tmp_path):
    # only a missing output dir, or one with no data files, means
    # "nothing committed"; a corrupt committed file must raise BEFORE
    # anything is extracted and appended — swallowing it would
    # re-extract the whole input and duplicate every committed turn.
    # The committed output is read by its known schema, so no schema
    # inference opens a footer: the committed-key scan must, also when
    # a good file sorts first
    import os

    from pdftotext_spark.plans.pipeline import run_extraction

    src = f"{transcripts_dir}/transcripts.parquet"
    out = tmp_path / "out"
    out.mkdir()
    (out / "part-00000-corrupt.snappy.parquet").write_bytes(b"not a parquet file")
    mixed = tmp_path / "mixed"
    first = spark.read.parquet(src).filter(F.col("turn_idx") % 2 == 0)
    first.write.parquet(str(tmp_path / "first"))
    run_extraction(spark, str(tmp_path / "first"), output_path=str(mixed), run_id="r0")
    (mixed / "part-99999-corrupt.snappy.parquet").write_bytes(b"not a parquet file")
    for target in (out, mixed):
        before = sorted(os.listdir(target))
        with pytest.raises(Exception, match="not a Parquet file"):
            run_extraction(spark, src, output_path=str(target), run_id="r1")
        assert sorted(os.listdir(target)) == before

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    done = run_extraction(spark, src, output_path=str(empty), run_id="r1")
    assert done.count() == spark.read.parquet(src).count()


def test_read_transcripts_jsonl_and_csv_sources(spark, transcripts_dir, tmp_path):
    """read_transcripts widens to JSONL/CSV ingest with the explicit
    transcript schema; extraction output must match the parquet path
    row-for-row. CSV is checked on plain/html rows only (multi-line
    quoted PDF bytes survive, but base64 payloads are the realistic
    CSV carrier and the generator already covers them via JSONL)."""
    from pdftotext_spark.plans.pipeline import extract_turns, read_transcripts

    pq = spark.read.parquet(f"{transcripts_dir}/transcripts.parquet")
    jsonl = str(tmp_path / "t.jsonl")
    pq.coalesce(1).write.json(jsonl)
    got = read_transcripts(spark, jsonl)
    assert got.schema["turn_idx"].dataType.simpleString() == "int"
    base = {
        (r.conv_id, r.turn_idx, r.extracted_text)
        for r in extract_turns(pq).collect()
    }
    via_json = {
        (r.conv_id, r.turn_idx, r.extracted_text)
        for r in extract_turns(got).collect()
    }
    assert via_json == base

    csv = str(tmp_path / "t.csv")
    simple = pq.filter("tool IN ('plain', 'html')")
    simple.coalesce(1).write.option("header", "true").option("escape", '"').csv(csv)
    via_csv = {
        (r.conv_id, r.turn_idx, r.extracted_text)
        for r in extract_turns(read_transcripts(spark, csv)).collect()
    }
    assert via_csv == {
        (r.conv_id, r.turn_idx, r.extracted_text)
        for r in extract_turns(simple).collect()
    }

    # XML (Spark 4 native datasource, r4): same explicit-schema
    # round-trip; plain/html rows (XML escaping of control-heavy PDF
    # payloads isn't a realistic carrier)
    xml = str(tmp_path / "t.xml")
    simple.coalesce(1).write.option("rowTag", "turn").format("xml").save(xml)
    via_xml = {
        (r.conv_id, r.turn_idx, r.extracted_text)
        for r in extract_turns(read_transcripts(spark, xml)).collect()
    }
    assert via_xml == {
        (r.conv_id, r.turn_idx, r.extracted_text)
        for r in extract_turns(simple).collect()
    }


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one copy of a payload even
    when the duplicate arrives in a later micro-batch."""
    import os

    import pandas as pd

    from pdftotext_spark.streaming.dedup import dedup_stream
    from pdftotext_spark.streaming.pipeline import read_transcript_stream

    base = pd.Timestamp("2026-01-01", tz="UTC")

    def frame(conv, texts, t0):
        n = len(texts)
        return pd.DataFrame(
            {
                "conv_id": [conv] * n,
                "turn_idx": pd.array(range(n), dtype="int32"),
                "role": ["user"] * n,
                "text": texts,
                "tool": ["plain"] * n,
                "ts": pd.Series(
                    [base + pd.Timedelta(seconds=t0 + i) for i in range(n)]
                ).dt.as_unit("us"),
            }
        )

    src = tmp_path / "src"
    src.mkdir()
    frame("c1", ["dup payload", "unique one"], 0).to_parquet(src / "a.parquet")
    frame("c2", ["dup payload", "unique two"], 10).to_parquet(src / "b.parquet")

    stream = read_transcript_stream(spark, str(src), max_files_per_trigger=1)
    out = str(tmp_path / "out")
    (
        dedup_stream(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    rows = spark.read.parquet(out).collect()
    texts = sorted(r.text for r in rows)
    assert texts == ["dup payload", "unique one", "unique two"]


def test_cid_override_tables_reach_executors(spark, tmp_path):
    # F11: driver-registered CID tables must apply inside executor
    # processes — they travel inside the picklable ExtractOptions, not
    # the process-local cidmaps registry
    import base64

    import pandas as pd

    from pdftotext_spark.core.document import ExtractOptions
    from pdftotext_spark.plans.pipeline import extract_turns
    from pdftotext_spark.sources import pdfbuilder as pb

    pdf, _ = pb.identity_h_no_tounicode_pdf("x", base_font="QQTEST+Fake")
    pdf = pdf.replace(b"<005B>", b"<000100020003>")
    payload = "%B64%" + base64.b64encode(pdf).decode("ascii")
    src = str(tmp_path / "in.parquet")
    pd.DataFrame(
        {
            "conv_id": ["c1"],
            "turn_idx": [0],
            "role": ["user"],
            "text": [payload],
            "tool": ["pdf-b64"],
            "ts": pd.to_datetime(["2026-01-01"], utc=True).as_unit("us"),
        }
    ).to_parquet(src)
    # without the option the unmapped CIDs drop to '' (degraded path)
    bare = extract_turns(spark.read.parquet(src)).collect()
    assert bare[0].extracted_text == ""
    opts = ExtractOptions(
        cid_tables=(("QQTEST", {1: "A", 2: "B", 3: "C"}, {}),)
    )
    out = extract_turns(spark.read.parquet(src), options=opts).collect()
    assert out[0].extracted_text == "ABC"
    # override tables are scoped per call: a bare run AFTER the opts
    # run must still degrade even on reused Python workers (tables ride
    # the options object, never the process-global cidmaps registry)
    bare_after = extract_turns(spark.read.parquet(src)).collect()
    assert bare_after[0].extracted_text == ""


def test_worker_zip_guard_skips_unchanged_archives(spark, transcripts_dir):
    """Once a Python worker has imported the package, no task re-reads
    its unchanged zips (pyspark.zip, the Spark jar, py4j, the shipped
    package) in PySpark's per-task ``importlib.invalidate_caches()``:
    installing the guard reads each archive once, so even the task that
    installs it reads nothing afterwards. The driver keeps zipimport's
    original method."""
    import zipimport

    import pandas as pd

    def count_reads(batches):
        import importlib
        import os
        import sys
        import zipimport

        # an earlier task in this process imported the package, so the
        # guard was in place for this task's set-up
        warm = "pdftotext_spark" in sys.modules
        import pdftotext_spark  # noqa: F401  (installs the guard)

        for _ in batches:
            pass
        read, names = zipimport._read_directory, []

        def counting(path):
            names.append(os.path.basename(path))
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pd.DataFrame({"warm": [warm], "reads": [len(names)], "names": [" ".join(names)]})

    df = spark.read.parquet(f"{transcripts_dir}/transcripts.parquet")
    extract_turns(df, n_partitions=8).count()  # warm pass, ships the package
    rows = []
    for _ in range(3):
        rows += (
            df.repartition(8)
            .mapInPandas(count_reads, "warm boolean, reads int, names string")
            .collect()
        )
    assert len(rows) == 24
    assert any(r.warm for r in rows), "no task ran on a worker that had imported the package"
    assert [r.names for r in rows if r.reads] == []
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "_stamp_guarded")


def test_resume_anti_join(spark, transcripts_dir):
    df = spark.read.parquet(f"{transcripts_dir}/transcripts.parquet")
    committed = df.limit(50).select("conv_id", "turn_idx")
    remaining = resume_anti_join(df, committed)
    assert remaining.count() == df.count() - 50


def test_fragments_table(spark, transcripts_dir):
    df = spark.read.parquet(f"{transcripts_dir}/transcripts.parquet").filter(
        F.col("tool").startswith("pdf")
    ).limit(20)
    frags = extract_fragments_df(df)
    pdf_frags = frags.toPandas()
    assert len(pdf_frags) > 0
    # deterministic tie-breaker present and text non-empty
    assert (pdf_frags["text"].str.len() > 0).all()
    assert pdf_frags["page"].min() >= 1


def test_extraction_plan_shape(spark, transcripts_dir):
    """Physical-plan checks: extraction runs as one MapInPandas over a
    hash-repartition exchange, and an extra input column is pruned
    before the exchange (column pruning reaches the scan)."""
    df = spark.read.parquet(f"{transcripts_dir}/transcripts.parquet")
    plan = (
        extract_turns(df.withColumn("junk", F.lit(1)), n_partitions=4)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()
    assert "junk" not in plan  # pruned: never materialized anywhere


def test_mega_conversation_skew(spark, tmp_path):
    """North-rule skew fixture: one conversation holding half the
    corpus must (a) extract without a straggler key (extraction is
    keyless), (b) assemble byte-exactly under AQE."""
    from pdftotext_spark.sources.transcripts_gen import write_parquet

    out = str(tmp_path / "skew")
    write_parquet(out, n_turns=3000, seed=11, skew_conv_turns=1500)
    df = spark.read.parquet(f"{out}/transcripts.parquet")
    extracted = extract_turns(df)
    extracted.cache()
    assert extracted.count() == 3000
    convs = assemble_conversations(extracted)
    mega = convs.orderBy(F.desc("n_turns")).first()
    assert mega.n_turns == 1500
    golden = spark.read.parquet(f"{out}/golden.parquet")
    expected_mega = (
        golden.filter(F.col("conv_id") == mega.conv_id)
        .groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "expected_text"))),
                    lambda s: s.expected_text,
                ),
                "\n",
            ).alias("expected_conv")
        )
        .first()
    )
    assert mega.conversation_text == expected_mega.expected_conv
    extracted.unpersist()


def test_dedup_turns_exact(spark, extracted):
    from pdftotext_spark.operators.transcript_ops import dedup_turns_exact

    deduped = dedup_turns_exact(extracted)
    total_nonempty = extracted.filter(F.length("extracted_text") > 0).count()
    kept = deduped.count()
    assert 0 < kept <= total_nonempty
    # multiplicities account for every non-empty turn
    assert deduped.agg(F.sum("n_copies")).first()[0] == total_nonempty
    # deduped digests are unique
    assert deduped.select("content_md5").distinct().count() == kept


def test_conversation_quality(spark, extracted):
    from pdftotext_spark.operators.transcript_ops import conversation_quality

    q = conversation_quality(extracted)
    rows = {r.conv_id: r for r in q.collect()}
    assert sum(r.n_turns for r in rows.values()) == 200
    for r in rows.values():
        assert r.failure_rate == 0.0
        assert r.n_pdf_turns + r.n_html_turns <= r.n_turns
        assert r.first_ts <= r.last_ts


def test_two_level_assembly_identical(spark, extracted):
    """chunked (scale-safe) assembly must be byte-identical to the
    single-level path."""
    from pdftotext_spark.plans.pipeline import assemble_conversations as asm

    single = {r.conv_id: r for r in asm(extracted).collect()}
    chunked = {r.conv_id: r for r in asm(extracted, chunk_size=7).collect()}
    assert single.keys() == chunked.keys()
    for cid in single:
        assert single[cid].conversation_text == chunked[cid].conversation_text
        assert single[cid].n_turns == chunked[cid].n_turns
        assert single[cid].decode_failures == chunked[cid].decode_failures
        assert single[cid].last_ts == chunked[cid].last_ts


def test_real_reference_pdfs_through_pipeline(spark):
    """The reference's shipped example PDFs as %B64% payloads through
    the full mapInPandas pipeline — real-world documents, distributed
    path."""
    import base64
    from pathlib import Path

    ex = Path("/root/reference/examples")
    if not ex.exists():
        pytest.skip("reference examples not available")
    rows = []
    for i, name in enumerate(["example01", "example02", "example03", "text-capture"]):
        pdfs = sorted((ex / name).glob("*.pdf"))
        payload = "%B64%" + base64.b64encode(pdfs[0].read_bytes()).decode()
        rows.append(("real", i, "user", payload, "pdf-b64"))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())
    out = {r.turn_idx: r for r in extract_turns(df).collect()}
    assert all(r.decode_failures == 0 for r in out.values())
    assert "hiboux" in out[0].extracted_text  # Baudelaire, example01
    assert out[1].n_pages == 1 and len(out[1].extracted_text) > 20
    assert "REPORT HEADER" in out[3].extracted_text


def test_null_payload_rows(spark):
    """NULL text payloads must flow through as empty extraction with a
    failure count of zero (nothing to decode is not a decode failure)."""
    df = spark.createDataFrame(
        [("n0", 0, "user", None, "plain"), ("n0", 1, "user", "real text", "plain")],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    out = {r.turn_idx: r for r in extract_turns(df).collect()}
    assert out[0].extracted_text == "" and out[0].decode_failures == 0
    assert out[1].extracted_text == "real text"


def test_multi_file_fixture_layout(spark, tmp_path):
    """n_files>1 writes a directory of parts (the realistic large-table
    layout); extraction + goldens behave identically."""
    from pdftotext_spark.sources.transcripts_gen import write_parquet

    t_path, g_path = write_parquet(str(tmp_path), 120, seed=9, n_files=4)
    import os

    assert os.path.isdir(t_path) and len(os.listdir(t_path)) == 4
    df = spark.read.parquet(t_path)
    assert df.count() == 120
    extracted = extract_turns(df)
    golden = spark.read.parquet(g_path)
    j = extracted.join(golden, ["conv_id", "turn_idx"])
    assert j.filter("extracted_text <> expected_text").count() == 0


def test_read_transcripts_table_name(spark, transcripts_dir):
    """read_transcripts resolves a catalog/table name (the Iceberg
    deployment path) before falling back to parquet paths."""
    from pdftotext_spark.plans.pipeline import read_transcripts

    spark.read.parquet(f"{transcripts_dir}/transcripts.parquet").createOrReplaceTempView(
        "transcripts_view"
    )
    by_name = read_transcripts(spark, "transcripts_view")
    by_path = read_transcripts(spark, f"{transcripts_dir}/transcripts.parquet")
    assert by_name.count() == by_path.count() == 200


def test_extract_turns_with_options(spark):
    """ExtractOptions flow through the pipeline: de-hyphenation and
    unicode simplification change per-turn output."""
    import base64

    from pdftotext_spark.core.document import ExtractOptions
    from pdftotext_spark.sources import pdfbuilder as pb

    ascii_pdf = pb.simple_pdf([["hyphen-", "ation joined"]]).decode("latin-1")
    uni_pdf, _ = pb.tounicode_pdf("ﬁn—x", mode="bfchar")
    b64 = "%B64%" + base64.b64encode(uni_pdf).decode()
    df = spark.createDataFrame(
        [
            ("o0", 0, "user", ascii_pdf, "pdf-ascii"),
            ("o0", 1, "user", b64, "pdf-b64"),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    plain = {r.turn_idx: r.extracted_text for r in extract_turns(df).collect()}
    tuned = {
        r.turn_idx: r.extracted_text
        for r in extract_turns(
            df,
            options=ExtractOptions(no_hyphenated_words=True, simplify_unicode=True),
        ).collect()
    }
    assert plain[0] == "hyphen-\nation joined" and tuned[0] == "hyphenation joined"
    assert plain[1] == "ﬁn—x" and tuned[1] == "fin-x"


def test_apply_dedup_end_to_end(spark):
    """Detection + application: duplicated docs collapse to one
    canonical survivor via the min-id policy."""
    from pdftotext_spark.operators.dedup import apply_dedup

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),  # dup of 1
            (3, "completely different content that stands alone fine"),
            (4, "the quick brown fox jumps over the lazy dog today"),  # dup of 1
        ],
        "doc_id long, text string",
    )
    # exact-dup pairs (a < b) from digest equality
    a = docs.selectExpr("doc_id as doc_a", "md5(text) as h")
    b = docs.selectExpr("doc_id as doc_b", "md5(text) as h")
    pairs = a.join(b, "h").filter("doc_a < doc_b").select("doc_a", "doc_b")
    kept = apply_dedup(docs, pairs)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]


def test_dedup_groups_transitive_closure(spark):
    """Connected components: chains collapse to one group id (the
    minimum member), across multiple hops."""
    from pdftotext_spark.operators.dedup import dedup_groups

    # two chains: 1-2-3-4 (via consecutive pairs) and 10-11; 20 isolated-pairless
    edges = [(1, 2), (2, 3), (3, 4), (10, 11)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)]
    assert sorted(tuple(r) for r in dedup_groups(pairs).collect()) == want


def test_dedup_groups_multi_equals_standalone_families(spark):
    """The fused one-CC-run grouping must reproduce each standalone
    family's fixed point row-for-row (the namespaced-union shift is a
    monotonic bijection per family, so every min-label comparison is
    preserved) — hand-checked equality, not just oracle parity."""
    from pdftotext_spark.operators import dedup, similarity

    sf = "/root/testdata/sf0.001"
    multi = dedup.dedup_groups_multi(spark, sf).collect()
    by_fam: dict[str, set] = {}
    for r in multi:
        by_fam.setdefault(r.family, set()).add((r.doc_id, r.group_id))
    assert by_fam["minhash"] == {
        (r.doc_id, r.group_id)
        for r in dedup.dedup_groups_minhash(spark, sf).collect()
    }
    assert by_fam["simhash"] == {
        (r.doc_id, r.group_id)
        for r in dedup.dedup_groups_simhash(spark, sf).collect()
    }
    assert by_fam["srp"] == {
        (r.vec_id, r.group_id)
        for r in similarity.dedup_groups_srp(spark, sf).collect()
    }
    assert all(by_fam.values())


def test_dedup_groups_multi_constructed_namespacing(spark):
    """Constructed input: same doc ids in two families must NOT merge
    across families, and per-family representatives stay the numeric
    min (the shift preserves ordering)."""
    from pdftotext_spark.operators.dedup import FUSED_NS, dedup_groups

    # family 0: chain 1-2-3; family 1: pair 2-9 (shares id 2!)
    pairs = spark.createDataFrame(
        [
            (1, 2),
            (2, 3),
            (FUSED_NS + 2, FUSED_NS + 9),
        ],
        "doc_a long, doc_b long",
    )
    want = [
        (1, 1),
        (2, 1),
        (3, 1),
        (FUSED_NS + 2, FUSED_NS + 2),
        (FUSED_NS + 9, FUSED_NS + 2),
    ]
    assert sorted(tuple(r) for r in dedup_groups(pairs).collect()) == want


def test_ns_shift_guard_raises_on_out_of_stride_ids(spark):
    """The fused-CC namespace guard (review r4): valid ids shift
    cleanly (no eager raise-branch evaluation on good rows); an id
    beyond the 2^40 stride fails the job loudly instead of silently
    merging groups across families."""
    import pytest as _pytest

    from pdftotext_spark.operators.dedup import FUSED_NS, _ns_shift_pairs

    good = spark.createDataFrame([(1, 2), (3, 4)], "doc_a long, doc_b long")
    rows = sorted(tuple(r) for r in _ns_shift_pairs(good, 2).collect())
    assert rows == [(2 * FUSED_NS + 1, 2 * FUSED_NS + 2), (2 * FUSED_NS + 3, 2 * FUSED_NS + 4)]
    bad = spark.createDataFrame([(1, FUSED_NS + 7)], "doc_a long, doc_b long")
    with _pytest.raises(Exception, match="namespace stride"):
        _ns_shift_pairs(bad, 0).collect()


def test_dedup_groups_on_lsh_pairs(spark):
    """CC over real LSH candidate pairs from the documents table:
    every group id is the minimum doc in its group (fixpoint sanity)."""
    from pdftotext_spark.operators.dedup import dedup_groups, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(spark, "/root/testdata/sf0.001")
    if pairs.count() == 0:
        pytest.skip("no candidate pairs at this sf")
    groups = dedup_groups(pairs)
    # fixpoint: no doc's neighbour has a smaller group id
    g = groups.collect()
    gmap = {r.doc_id: r.group_id for r in g}
    for p in pairs.collect():
        assert gmap[p.doc_a] == gmap[p.doc_b]


def test_export_training_jsonl_roundtrip(spark, transcripts_dir, tmp_path):
    """The final training-data sink: assembled conversations export as
    {"text", "meta"} JSONL (gzip) and read back row-identical."""
    from pdftotext_spark.plans.pipeline import (
        assemble_conversations,
        export_training_jsonl,
        extract_turns,
        read_transcripts,
    )

    convs = assemble_conversations(
        extract_turns(
            read_transcripts(spark, f"{transcripts_dir}/transcripts.parquet")
        )
    )
    out = str(tmp_path / "train_jsonl")
    export_training_jsonl(convs, out, source="unit")
    back = spark.read.json(out)
    assert back.count() == convs.count() > 0
    got = {(r.meta.id, r.meta.n_turns, r.text) for r in back.collect()}
    want = {
        (r.conv_id, r.n_turns, r.conversation_text) for r in convs.collect()
    }
    assert got == want
    r = back.first()
    assert r.meta.source == "unit" and r.meta.n_chars == len(r.text)
    import glob

    assert glob.glob(f"{out}/*.gz")  # compressed shards


def test_session_turns_dataframe_debugging_off(spark):
    """``session_confs`` turns off PySpark's per-call Python call-site
    capture; a DataFrame error keeps its error class."""
    from pyspark.errors import ArithmeticException
    from pyspark.errors.utils import is_debugging_enabled

    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    )
    assert not is_debugging_enabled()
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select(F.col("id") / F.col("id")).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
