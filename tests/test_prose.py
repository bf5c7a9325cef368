"""Constructed-input semantics for the prose-frame family
(operators/prose.py): the planted derivation rules themselves, the
CCNet line-frequency boilerplate miner/stripper, and newline-block
paragraph dedup. The DuckDB value twins run in test_oracle_parity;
these tests pin the semantics on inputs with KNOWN answers (the
blind-oracle lesson: parity cannot catch a rule implemented wrong in
both engines)."""

import pytest
from pyspark.sql import Row

from pdftotext_spark.operators import prose

pytestmark = pytest.mark.spark

DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", s, len(t)) for (i, t, s) in rows], DOC_SCHEMA
    )


def _frame(spark, rows):
    """Multi-line constructed frame for the *_for operators (already
    'prose-shaped' — text carries newlines directly)."""
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source=s) for (i, t, s) in rows]
    )


# ------------------------------------------------------- prose_frame


def test_prose_frame_planted_rules(spark):
    w9 = " ".join(f"w{i}" for i in range(9))  # 9 words -> one split
    w8 = " ".join(f"w{i}" for i in range(8))  # 8 words, no trailing sp
    got = {
        r.doc_id: r
        for r in prose.prose_frame(
            _docs(spark, [(0, w9, "alpha"), (1, w9, "beta"), (3, w8, "g")])
        ).collect()
    }
    head = prose.PROSE_HEADER
    promo = prose.PROSE_PROMO
    foot = prose.PROSE_FOOTER
    # doc 0: 0%3==0 -> no header; 0%5==0 -> promo; footer always.
    # body: first 8 words + ".\n", 9th word on the last line.
    body9 = " ".join(f"w{i}" for i in range(8)) + ".\nw8"
    assert got[0].text == (
        promo[0] + "alpha" + promo[1] + "\n"
        + body9 + ".\n" + foot[0] + "alpha" + foot[1]
    )
    # doc 1: 1%3==1 -> header; 1%5!=0 -> no promo.
    assert got[1].text == (
        head[0] + "beta" + head[1] + "\n"
        + body9 + ".\n" + foot[0] + "beta" + foot[1]
    )
    # doc 3: 3%3==0, 3%5!=0 -> body+footer only; 8 words don't split
    # (the pattern needs a trailing space after the 8th word).
    assert got[3].text == w8 + ".\n" + foot[0] + "g" + foot[1]
    for r in got.values():
        assert r.n_chars == len(r.text)


def test_prose_frame_planted_boilerplate_truth(spark):
    """prose_frame ∘ boilerplate_lines_for recovers the PLANTED doc
    frequencies: 12 single-source docs -> header df=8 (ids %3 in
    {1,2}), promo df=3 (ids 0,5,10), footer df=12. With the default
    BOILER_MIN_DF=4 the miner must report header+footer and must NOT
    report the promo (df 3 < 4) or any unique body sentence."""
    rows = [
        (i, " ".join(f"d{i}w{j}" for j in range(9)), "s") for i in range(12)
    ]
    pf = prose.prose_frame(_docs(spark, rows))
    got = {r.line: r for r in prose.boilerplate_lines_for(pf).collect()}
    header = prose.PROSE_HEADER[0] + "s" + prose.PROSE_HEADER[1]
    footer = prose.PROSE_FOOTER[0] + "s" + prose.PROSE_FOOTER[1]
    promo = prose.PROSE_PROMO[0] + "s" + prose.PROSE_PROMO[1]
    assert set(got) == {header, footer}
    assert got[header].n_docs == 8  # ids 1,2,4,5,7,8,10,11
    assert got[header].first_doc_id == 1
    assert got[footer].n_docs == 12 and got[footer].first_doc_id == 0
    assert got[footer].n_sources == 1
    assert promo not in got  # df=3 below the threshold


# ------------------------------------------------- boilerplate miner


def test_boilerplate_lines_df_threshold(spark):
    df = prose.BOILER_MIN_DF
    shared = "shared boiler line."
    rare = "rare line."
    # `shared` in exactly df docs (and TWICE inside doc 0 — distinct
    # doc count must still be df); `rare` in df-1 docs; one empty line.
    rows = [(0, shared + "\n" + shared + "\nu0", "sA")]
    rows += [(i, shared + "\n\nu%d" % i, "sB") for i in range(1, df)]
    rows += [(100 + i, rare + "\nv%d" % i, "sB") for i in range(df - 1)]
    got = {
        r.line: r
        for r in prose.boilerplate_lines_for(_frame(spark, rows)).collect()
    }
    assert set(got) == {shared}
    assert got[shared].n_docs == df
    assert got[shared].n_sources == 2
    assert got[shared].first_doc_id == 0


def test_strip_boilerplate_removes_all_copies_in_order(spark):
    df = prose.BOILER_MIN_DF
    b = "every page has this."
    # doc 0 interleaves boilerplate with unique lines; doc 1 is pure
    # boilerplate (must still emit a row — the dsir_select lesson);
    # docs 2.. exist to push b over the threshold.
    rows = [(0, f"keep one\n{b}\nkeep two\n{b}\nkeep three", "s")]
    rows += [(1, b, "s")]
    rows += [(i, b + "\nuniq%d" % i, "s") for i in range(2, df + 1)]
    got = {
        r.doc_id: r
        for r in prose.strip_boilerplate_lines_for(
            _frame(spark, rows)
        ).collect()
    }
    assert len(got) == df + 1  # every document emits a row
    # ALL copies removed (CCNet boilerplate cut), original line order
    assert got[0].clean_text == "keep one\nkeep two\nkeep three"
    assert got[0].kept_lines == 3 and got[0].removed_lines == 2
    assert got[1].clean_text == "" and got[1].kept_lines == 0
    assert got[1].removed_lines == 1
    assert got[2].clean_text == "uniq2"
    assert got[2].kept_lines == 1 and got[2].removed_lines == 1


def test_strip_boilerplate_noop_below_threshold(spark):
    rows = [(0, "a\nb", "s"), (1, "c\nd", "s")]
    got = {
        r.doc_id: r
        for r in prose.strip_boilerplate_lines_for(
            _frame(spark, rows)
        ).collect()
    }
    assert got[0].clean_text == "a\nb" and got[0].removed_lines == 0
    assert got[1].clean_text == "c\nd" and got[1].kept_lines == 2


# --------------------------------------------- newline paragraph dedup


def test_paragraph_dedup_newline_first_occurrence(spark):
    dup = "the shared paragraph here."
    rows = [
        (5, f"{dup}\nuniq five", "s"),
        # within-doc repeat: seg 0 is the GLOBAL first (doc 2 < 5),
        # seg 2 a within-doc duplicate
        (2, f"{dup}\nmiddle line\n{dup}", "s"),
        (9, f"uniq nine\n{dup}", "s"),
    ]
    got = {
        (r.doc_id, r.seg_idx): r
        for r in prose.paragraph_dedup_newline_for(
            _frame(spark, rows)
        ).collect()
    }
    assert len(got) == 7  # 2 + 3 + 2 segments
    # global first occurrence of dup is (2, 0): the ONLY kept copy
    assert got[(2, 0)].kept and got[(2, 0)].first_doc_id == 2
    for k in [(2, 2), (5, 0), (9, 1)]:
        assert not got[k].kept and got[k].first_doc_id == 2
    # unique lines are their own firsts
    assert got[(5, 1)].kept and got[(5, 1)].first_doc_id == 5
    assert got[(2, 1)].kept and got[(9, 0)].kept
    assert got[(2, 0)].n_seg_tokens == 4
    assert got[(5, 1)].n_seg_tokens == 2


def test_paragraph_dedup_newline_empty_segments(spark):
    # "a\n\nb": the empty middle segment has 0 tokens; empty segments
    # dedup against each other like any other text
    rows = [(1, "a\n\nb", "s"), (3, "\nc", "s")]
    got = {
        (r.doc_id, r.seg_idx): r
        for r in prose.paragraph_dedup_newline_for(
            _frame(spark, rows)
        ).collect()
    }
    assert got[(1, 1)].n_seg_tokens == 0
    assert got[(1, 1)].kept  # first empty segment: (1,1) < (3,0)
    assert not got[(3, 0)].kept and got[(3, 0)].first_doc_id == 1


# ------------------------------------------------ corpus composition


def test_quality_vote_prose_nondegenerate(spark, sf_dir):
    """The registration invariant the raw corpus failed (NEXT.md #9):
    over the prose frame the UNANIMOUS rule must split the corpus —
    keep_all has both values at sf0.001."""
    vals = {
        r.keep_all
        for r in prose.quality_vote_prose(spark, sf_dir)
        .select("keep_all")
        .distinct()
        .collect()
    }
    assert vals == {True, False}


def test_curation_pipeline_unanimous_is_intersection(spark, sf_dir):
    from pdftotext_spark.operators import curation

    base = {
        r.doc_id for r in curation.curation_pipeline(spark, sf_dir)
        .select("doc_id").collect()
    }
    keep_all = {
        r.doc_id
        for r in prose.quality_vote_prose(spark, sf_dir)
        .filter("keep_all").select("doc_id").collect()
    }
    got = {
        r.doc_id
        for r in prose.curation_pipeline_unanimous(spark, sf_dir)
        .select("doc_id").collect()
    }
    assert got == base & keep_all
    assert 0 < len(got) < len(base)  # the vote actually cuts


def test_quality_vote_prose_frame_matches_standalone_panels(spark, sf_dir):
    """Differential twin of the five-panel vote on the prose frame:
    every flag of ``quality_vote_for`` equals the standalone core's
    ``keep`` (the shallow predicate for ``keep_shallow``) row by row,
    also on a null-text, an empty-text and a repetitive row, and each
    flag takes both values. On the raw corpus C4 and FineWeb reject every
    document, so only this frame tells ``keep_c4`` from
    ``keep_fineweb``. A repeated input row comes out once per copy:
    the vote is one row per input row, not a join on ``doc_id``."""
    from pdftotext_spark.operators import curation
    from pdftotext_spark.operators import textstats as ts

    pf = prose.prose_frame(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).select("doc_id", "text")
    # the prose frame repeats no n-gram enough to fail the repetition
    # panel, so one planted row does
    extra = spark.createDataFrame(
        [(10**9, None), (10**9 + 1, ""),
         (10**9 + 2, "Buy one now and save more today.\n" * 20)],
        "doc_id long, text string",
    )
    pf = pf.unionByName(extra).unionByName(pf.orderBy("doc_id").limit(1))
    n_rows = pf.count()
    vote = curation.quality_vote_for(pf).collect()
    assert len(vote) == n_rows
    got = {r.doc_id: r for r in vote}
    assert len(got) == n_rows - 1
    want = {
        "keep_shallow": {
            r.doc_id: r.k
            for r in pf.select(
                "doc_id", ts.qf_keep_predicate().alias("k")
            ).collect()
        }
    }
    for flag, core in (
        ("keep_gopher_quality", ts.gopher_quality_for),
        ("keep_gopher_repetition", ts.gopher_repetition_for),
        ("keep_c4", ts.c4_quality_for),
        ("keep_fineweb", ts.fineweb_quality_for),
    ):
        want[flag] = {r.doc_id: r.keep for r in core(pf).collect()}
    for flag, keep in want.items():
        assert {d: r[flag] for d, r in got.items()} == keep, flag
        assert {True, False} <= set(keep.values()), flag
