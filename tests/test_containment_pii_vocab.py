"""Hand-checked semantic tests for the r5b operator additions
(containment_pairs, pii_redact, vocab_coverage) on constructed
inputs — the oracle-parity gate is blind to a bug implemented
identically in both engines (CLAUDE.md), so each operator's actual
semantics are pinned here against values derived by hand."""

from __future__ import annotations

import duckdb
import pytest

pytestmark = pytest.mark.spark


def _write_docs(tmp_path, spark, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    return con


def test_containment_pairs_short_in_long(spark, tmp_path):
    """The motivating blind spot: a short document embedded verbatim
    in a much longer one has Jaccard ~ |short|/|long| (here ~0.13,
    far below the 0.6 ngram-Jaccard threshold) yet containment ~1.0
    on the short side. Non-repetitive word streams per the fixture
    rules (a periodic filler collapses to ~period distinct shingles
    and starves set-similarity signals)."""
    from pdftotext_spark.operators import dedup

    long_doc = " ".join(f"word{i:03d}" for i in range(300))
    short_doc = " ".join(f"word{i:03d}" for i in range(100, 140))
    other = " ".join(f"zeta{i:03d}" for i in range(300))
    assert short_doc in long_doc
    sf_dir = _write_docs(
        tmp_path,
        spark,
        [(1, long_doc, "s"), (2, short_doc, "s"), (3, other, "s")],
    )

    # symmetric Jaccard misses the pair entirely...
    assert dedup.ngram_jaccard_pairs(spark, sf_dir).collect() == []
    # ...directional containment catches it, on the correct side only
    rows = {
        (r.doc_a, r.doc_b): r for r in dedup.containment_pairs(spark, sf_dir).collect()
    }
    assert set(rows) == {(1, 2)}
    r = rows[(1, 2)]
    # every sampled shingle of the short doc exists in the long doc
    # except possibly its always-kept position-1 shingle (kept in B by
    # the exception, sampled out of A when its md5 nibble >= threshold)
    assert r.containment_b >= 0.9
    assert r.containment_a < 0.5  # asymmetry: the long doc is NOT contained
    # the DuckDB twin sees the identical pair set on the same parquet
    orc = _duck(sf_dir).execute(dedup.CONTAINMENT_PAIRS_SQL).fetchall()
    assert {(a, b) for a, b, *_ in orc} == {(1, 2)}


def test_containment_tiny_doc_scores_exactly_one(spark, tmp_path):
    """Review catch (r5 pass on the new operators): a genuinely SHORT
    contained document must still be found, with containment exactly
    1.0 — the pos-1 always-keep exception would let the tiny doc's
    kept first shingle be sampled out of the container (capping the
    score at e.g. 3/4), and a fixed >=3 rare-shingle candidacy bar
    would make docs with < 3 sampled shingles unreachable. The
    containment family therefore samples WITHOUT the positional
    exception and relaxes candidacy to least(3, n_rare_a, n_rare_b)."""
    from pdftotext_spark.operators import dedup

    long_doc = " ".join(f"word{i:03d}" for i in range(300))
    tiny = "word100 word101 word102"
    assert tiny in long_doc
    sf_dir = _write_docs(
        tmp_path, spark, [(1, long_doc, "s"), (2, tiny, "s")]
    )
    rows = {
        (r.doc_a, r.doc_b): r
        for r in dedup.containment_pairs(spark, sf_dir).collect()
    }
    assert set(rows) == {(1, 2)}
    assert rows[(1, 2)].containment_b == 1.0  # exact under sampling
    orc = _duck(sf_dir).execute(dedup.CONTAINMENT_PAIRS_SQL).fetchall()
    assert {(a, b) for a, b, *_ in orc} == {(1, 2)}


def test_containment_df_cap_prunes_boilerplate_only_overlap(spark, tmp_path):
    """A pair overlapping ONLY through shingles present in more than
    CONTAINMENT_DF_CAP documents generates no candidate pair — the
    documented recall trade that bounds join fan-out — while a pair
    sharing within-cap shingles is still found."""
    from pdftotext_spark.operators import dedup

    boiler = " ".join(f"boiler{j:03d}" for j in range(40))
    n_boiler = 130
    # doc 2 IS the boilerplate, so it sits verbatim (containment 1.0)
    # inside every other boilerplate doc, but each of its shingles has
    # df = n_boiler > cap: no within-cap evidence, no candidate
    rows = [(2, boiler, "s")] + [
        (i, boiler + " " + " ".join(f"d{i}w{j:03d}" for j in range(40)), "s")
        for i in range(1, n_boiler + 1)
        if i != 2
    ]
    # control: a short doc inside a long one, through within-cap shingles
    rows += [
        (1001, " ".join(f"word{i:03d}" for i in range(300)), "s"),
        (1002, " ".join(f"word{i:03d}" for i in range(100, 140)), "s"),
    ]
    assert n_boiler > dedup.CONTAINMENT_DF_CAP
    sf_dir = _write_docs(tmp_path, spark, rows)
    got = {(r.doc_a, r.doc_b) for r in dedup.containment_pairs(spark, sf_dir).collect()}
    assert got == {(1001, 1002)}
    orc = _duck(sf_dir).execute(dedup.CONTAINMENT_PAIRS_SQL).fetchall()
    assert {(a, b) for a, b, *_ in orc} == {(1001, 1002)}


def test_pii_redact_constructed(spark, tmp_path):
    """Typed-mask redaction + counts pinned by hand; counts come from
    the ORIGINAL text (the email-embedded host rule), masks apply in
    sequence; a clean document passes through byte-identical."""
    from pdftotext_spark.operators import textstats

    doc1 = (
        "contact bob@example.com or alice.smith+tag@mail.co, "
        "server 10.0.0.1 port, call 555-123-4567 now"
    )
    doc2 = "no personal data here, version 1.2 build 34"
    sf_dir = _write_docs(
        tmp_path, spark, [(1, doc1, "s"), (2, doc2, "s")]
    )
    out = {r.doc_id: r for r in textstats.pii_redact(spark, sf_dir).collect()}
    assert out[1].redacted_text == (
        "contact <EMAIL> or <EMAIL>, server <IP> port, call <PHONE> now"
    )
    assert (out[1].n_email, out[1].n_ip, out[1].n_phone) == (2, 1, 1)
    assert out[2].redacted_text == doc2  # untouched — masking never mangles
    assert (out[2].n_email, out[2].n_ip, out[2].n_phone) == (0, 0, 0)
    # the parity probe exercises every category on every row (the
    # corpus itself has no organic PII, so without this the gate is
    # value-trivial)
    assert out[1].probe_redacted == "reach <EMAIL> or <IP> at <PHONE>"
    # DuckDB twin (RE2) reproduces the Java-regex result exactly
    orc = {
        r[0]: r
        for r in _duck(sf_dir).execute(textstats.PII_REDACT_SQL).fetchall()
    }
    assert orc[1][1] == out[1].redacted_text
    assert orc[1][2:5] == (2, 1, 1)
    assert orc[1][5] == out[1].probe_redacted


def test_vocab_coverage_constructed(spark, tmp_path):
    """Exact coverage curve on a corpus small enough to enumerate:
    counts a=2 b=2 c=1 (total 5), count-tie broken by term ascending,
    cumulative shares 0.4 / 0.8 / 1.0."""
    from pdftotext_spark.operators import textstats

    sf_dir = _write_docs(
        tmp_path, spark, [(1, "a A b", "s"), (2, "b c", "s")]
    )
    rows = [
        (r.rank, r.term, r.cnt, r.cum_share)
        for r in textstats.vocab_coverage(spark, sf_dir)
        .orderBy("rank")
        .collect()
    ]
    assert rows == [
        (1, "a", 2, 0.4),
        (2, "b", 2, 0.8),
        (3, "c", 1, 1.0),
    ]
