"""End-to-end corpus curation: the composed detect→apply chain a
training-data build actually runs, as ONE DataFrame plan.

``curation_pipeline`` intersects five corpus-level policies over the
``documents`` table and returns the surviving training set
(``curation_pipeline_panels`` swaps the shallow gate for the full
five-panel :func:`quality_vote` majority):

1. benchmark exclusion — the held-out source (``src0``) never trains;
2. shallow quality gates — the Gopher/C4 word-count and mean-word-
   length windows (:func:`textstats.qf_keep_predicate`);
3. exact dedup — only the canonical (min doc_id) copy of each byte-
   identical text survives (:func:`dedup.dedup_exact` semantics);
4. near-dup dedup — banded MinHash-LSH pairs, min-id survivor policy
   (:func:`dedup.apply_dedup` semantics);
5. decontamination — quarantine docs whose benchmark shingle overlap
   exceeds :data:`dedup.CONTAMINATION_THRESHOLD`
   (:func:`dedup.decontaminate_apply` semantics).

Each detector runs over the FULL corpus (detectors are corpus-level
statistics; gating them on each other's survivors would make results
order-dependent), and the applies compose as set intersection — the
same policy every stage reports standalone, so the pipeline output is
exactly the intersection of the standalone survivor sets (pinned by
test).

100 TB shape: every policy is a column of ONE per-document flags
frame (:func:`_policy_flags`): the corpus scan projects the two
row-local predicates, and the three detectors arrive as slim unique
doc_id frames left-joined as presence markers (plus the vote's, when
a query votes). ONE materialized sampled-shingle scan feeds BOTH the
LSH and decontamination detectors (the scan is the headline cost of
the dedup family — review r5), each detector is banded/grouped (no
all-pairs anywhere), and AQE broadcasts the slim marker sides. The
pipelines filter that frame on every flag; the funnel counts it.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pdftotext_spark.operators import dedup, textstats
from pdftotext_spark.operators.materialize import spread


def _policy_flags(
    spark: SparkSession, sf_dir: str, vote_keep: DataFrame | None = None
) -> tuple[DataFrame, list[Column]]:
    """One row per document (``doc_id``, ``source``, ``n_tokens``) and
    the curation policies as boolean Columns over it, in application
    order: benchmark exclusion, the shallow gate, the vote (with a
    ``vote_keep`` frame), exact dedup, near-dup dedup and
    decontamination. The detectors arrive as unique doc_id frames
    (canonical copies, DISTINCT near-dup losers, per-doc contamination
    verdicts), so each left join keeps one row per document; ONE
    materialized sampled-shingle cut feeds both shingle detectors
    (MinHash min() is duplicate-insensitive)."""
    docs = dedup._read(spark, sf_dir, "documents")
    s = dedup._source_shingles(docs)
    exact_keep = dedup.dedup_exact(spark, sf_dir).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    lsh_losers = dedup._lsh_pairs_from_shingles(
        s.select("doc_id", "sh")
    ).select(F.col("doc_b").alias("doc_id")).distinct()
    decon_keep = (
        dedup._contamination_scores(s)
        .filter(
            F.col("contamination_frac") <= dedup.CONTAMINATION_THRESHOLD
        )
        .select("doc_id")
    )
    flags = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        (textstats._count_occ(F.col("text"), " ") + 1)
        .cast("long")
        .alias("n_tokens"),
        (F.col("source") != "src0").alias("benchmark_excluded"),
        textstats.qf_keep_predicate().alias("shallow_quality"),
    )
    # marker join order is not stage order: this one launched the
    # fewest Spark jobs under AQE (sf0.01, local[4])
    markers = dict(in_decon=decon_keep, in_exact=exact_keep,
                   is_loser=lsh_losers)
    stages = [F.col("benchmark_excluded"), F.col("shallow_quality")]
    if vote_keep is not None:
        markers["in_vote"] = vote_keep
        stages.append(F.col("in_vote").isNotNull())
    for name, keys in markers.items():
        flags = flags.join(
            keys.select("doc_id", F.lit(1).alias(name)), "doc_id", "left"
        )
    stages += [
        F.col("in_exact").isNotNull(),
        F.col("is_loser").isNull(),
        F.col("in_decon").isNotNull(),
    ]
    return flags, stages


def _survivors(
    spark: SparkSession, sf_dir: str, vote_keep: DataFrame | None = None
) -> DataFrame:
    """``(doc_id, source, n_tokens)`` of every document that all
    policies of :func:`_policy_flags` keep."""
    flags, stages = _policy_flags(spark, sf_dir, vote_keep)
    return flags.filter(reduce(and_, stages)).select(
        "doc_id", "source", "n_tokens"
    )


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The surviving training set: (doc_id, source, n_tokens) after
    benchmark exclusion, quality gates, exact + near-dup dedup and
    decontamination (see module docstring)."""
    return _survivors(spark, sf_dir)


# the stage subqueries nest the standalone operators' own SQL twins
# (the DECONTAMINATE_APPLY pattern) so a policy change cannot drift
# between the pipeline oracle and the stage oracles (review r5)
CURATION_PIPELINE_SQL = f"""
WITH lsh_losers AS (
  SELECT DISTINCT doc_b AS doc_id FROM ({dedup.MINHASH_LSH_PAIRS_SQL})
),
exact_keep AS (
  SELECT canonical_doc_id AS doc_id FROM ({dedup.DEDUP_EXACT_SQL})
),
decon_keep AS (
  SELECT doc_id FROM ({dedup.DECONTAMINATE_APPLY_SQL})
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       d.source,
       CAST({textstats._count_occ_sql('d.text', ' ')} + 1 AS BIGINT)
         AS n_tokens
FROM documents d
WHERE d.source <> 'src0'
  AND {textstats._QF_KEEP_SQL}
  AND d.doc_id IN (SELECT doc_id FROM exact_keep)
  AND d.doc_id NOT IN (SELECT doc_id FROM lsh_losers)
  AND d.doc_id IN (SELECT doc_id FROM decon_keep)
"""


def curation_pipeline_panels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`curation_pipeline` with the five-policy
    :func:`quality_vote` MAJORITY rule (>= 3 of 5 panels) in place of
    the shallow gate alone.  Composes as set intersection with the
    base pipeline, so survivors are exactly
    ``curation_pipeline ∩ quality_vote.keep_majority`` — pinned by
    test on a corpus where the panels and the shallow gate disagree.

    Rule choice (documented): the registered composition votes by
    MAJORITY because this corpus contract carries no terminal
    punctuation, making the unanimous rule degenerate here (C4 and
    FineWeb reject every document — an all-empty result would make
    the oracle gate trivially green); the UNANIMOUS composition is
    exercised where its inputs are real prose — the streaming panels
    gate (``streaming/curation.py`` ``panels=True``) and the
    constructed-input tests.

    100 TB shape: the base pipeline's flags frame with one more slim
    doc_id marker — the vote's, itself one spread scan and one row
    function (:func:`quality_vote_for`) — that AQE broadcasts."""
    return _survivors(
        spark, sf_dir, quality_vote(spark, sf_dir).filter("keep_majority")
    )


def incremental_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-increment admission gate: the composed policy a production
    pipeline runs on EACH new crawl batch before it joins the corpus —
    shallow quality gates (the same Gopher/C4 windows as
    :func:`curation_pipeline`), exact incremental dedup vs the corpus
    digest index, and near-dup incremental dedup vs the corpus band
    index (:func:`dedup.dedup_incremental_exact` /
    :func:`dedup.dedup_incremental_minhash` semantics, greedy
    within-batch policy included).

    Stage verdicts are computed independently on the RAW increment
    (never on each other's survivors — the curation_pipeline
    order-independence rule), and admission composes as set
    intersection, so the output is exactly the intersection of the
    standalone stage survivor sets (pinned by test).

    100 TB shape: both index probes are the incremental operators'
    own plans (equi-joins against persisted indexes, one digest
    shuffle + banded band joins); the composition adds two semi joins
    on narrow doc_id keys that AQE broadcasts."""
    docs = dedup._read(spark, sf_dir, "documents")
    inc = docs.filter(F.col("source") >= dedup.INCREMENTAL_SPLIT)
    n_words = (textstats._count_occ(F.col("text"), " ") + 1).cast("long")
    ex_keep = (
        dedup.dedup_incremental_exact(spark, sf_dir)
        .filter(F.col("verdict") == "keep")
        .select("doc_id")
    )
    mh_keep = (
        dedup.dedup_incremental_minhash(spark, sf_dir)
        .filter(F.col("verdict") == "keep")
        .select("doc_id")
    )
    return (
        inc.filter(textstats.qf_keep_predicate())
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            n_words.alias("n_tokens"),
        )
        .join(ex_keep, "doc_id", "left_semi")
        .join(mh_keep, "doc_id", "left_semi")
    )


INCREMENTAL_PIPELINE_SQL = f"""
WITH ex_keep AS (
  SELECT doc_id FROM ({dedup.DEDUP_INCREMENTAL_EXACT_SQL})
  WHERE verdict = 'keep'
),
mh_keep AS (
  SELECT doc_id FROM ({dedup.DEDUP_INCREMENTAL_MINHASH_SQL})
  WHERE verdict = 'keep'
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       d.source,
       CAST({textstats._count_occ_sql('d.text', ' ')} + 1 AS BIGINT)
         AS n_tokens
FROM documents d
WHERE d.source >= '{dedup.INCREMENTAL_SPLIT}'
  AND {textstats._QF_KEEP_SQL}
  AND d.doc_id IN (SELECT doc_id FROM ex_keep)
  AND d.doc_id IN (SELECT doc_id FROM mh_keep)
"""


def quality_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document verdicts from ALL five quality policies side by
    side — the shallow word-count/word-length gate, the Gopher quality
    panel, the Gopher repetition panel, the C4 cleaning panel, and the
    FineWeb line-shape panel — plus the vote count and the two
    standard compositions (unanimous ``keep_all``, ``keep_majority``
    >= 3 of 5).  A curation run tunes policies by DISAGREEMENT (docs
    one panel rejects and the others keep), which a single composed
    boolean cannot show.

    100 TB shape: one corpus scan, spread once, then a per-document
    chain with no join and one Exchange (the spread): the four
    Catalyst panels add their keeps as columns of the one stream and
    the repetition row function carries them through as keys — no
    full-width row survives past the scan's projection."""
    return quality_vote_for(dedup._read(spark, sf_dir, "documents"))


def quality_vote_for(docs: DataFrame) -> DataFrame:
    """Core of :func:`quality_vote` over an arbitrary
    ``(doc_id, text)`` frame — the five-panel composition reused by
    the prose-frame variant (``operators/prose.py``), where the
    unanimous rule is exercised on punctuated multi-line text.  One
    output row per input row: the panels are row maps of the same
    stream, never joined on ``doc_id``."""
    # the repetition row function fans out up to 9 grams per word, so
    # a one-split input would count the whole corpus on one core
    out = spread(docs.select("doc_id", "text"), "doc_id").withColumn(
        "keep_shallow", textstats.qf_keep_predicate()
    )
    keeps = ["keep_shallow"]
    for flag, panel in (
        ("keep_gopher_quality", textstats.gopher_quality_for),
        ("keep_c4", textstats.c4_quality_for),
        ("keep_fineweb", textstats.fineweb_quality_for),
    ):
        out = panel(out, ["text", *keeps]).select(
            "doc_id", "text", *keeps, F.col("keep").alias(flag)
        )
        keeps.append(flag)
    out = textstats.gopher_repetition_for(out, keeps).withColumnRenamed(
        "keep", "keep_gopher_repetition"
    )
    flags = ["keep_shallow", "keep_gopher_quality",
             "keep_gopher_repetition", "keep_c4", "keep_fineweb"]
    votes = sum(
        (F.col(f).cast("int") for f in flags), F.lit(0)
    ).cast("long")
    return out.select(
        "doc_id",
        *flags,
        votes.alias("n_keep_votes"),
        (votes == len(flags)).alias("keep_all"),
        (votes >= 3).alias("keep_majority"),
    )


# nests the standalone panels' own SQL twins (the curation_pipeline
# pattern) so a threshold change cannot drift between oracles
QUALITY_VOTE_SQL = f"""
WITH gq AS (SELECT doc_id, keep FROM ({textstats.GOPHER_QUALITY_SQL})),
gr AS (SELECT doc_id, keep FROM ({textstats.GOPHER_REPETITION_SQL})),
c4 AS (SELECT doc_id, keep FROM ({textstats.C4_QUALITY_SQL})),
fw AS (SELECT doc_id, keep FROM ({textstats.FINEWEB_QUALITY_SQL})),
shallow AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {textstats._QF_KEEP_SQL} AS keep_shallow
  FROM documents
),
v AS (
  SELECT s.doc_id, s.keep_shallow,
         gq.keep AS keep_gopher_quality,
         gr.keep AS keep_gopher_repetition,
         c4.keep AS keep_c4,
         fw.keep AS keep_fineweb,
         CAST(CAST(s.keep_shallow AS INT) + CAST(gq.keep AS INT)
              + CAST(gr.keep AS INT) + CAST(c4.keep AS INT)
              + CAST(fw.keep AS INT) AS BIGINT)
           AS n_keep_votes
  FROM shallow s
  JOIN gq USING (doc_id) JOIN gr USING (doc_id) JOIN c4 USING (doc_id)
  JOIN fw USING (doc_id)
)
SELECT doc_id, keep_shallow, keep_gopher_quality, keep_gopher_repetition,
       keep_c4, keep_fineweb, n_keep_votes,
       (n_keep_votes = 5) AS keep_all,
       (n_keep_votes >= 3) AS keep_majority
FROM v
"""


# nests BOTH composed oracles so neither the pipeline policy nor the
# vote policy can drift from its standalone twin
CURATION_PIPELINE_PANELS_SQL = f"""
SELECT * FROM ({CURATION_PIPELINE_SQL})
WHERE doc_id IN
  (SELECT doc_id FROM ({QUALITY_VOTE_SQL}) WHERE keep_majority)
"""


_FUNNEL_STAGES = (
    "corpus",
    "benchmark_excluded",
    "shallow_quality",
    "panel_majority",
    "exact_dedup",
    "near_dup",
    "decontaminated",
)


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation FUNNEL: cumulative survivor counts after each
    stage of the panels pipeline, in application order — the
    loss-per-stage dashboard every corpus-build run reports before
    committing (a pipeline that silently drops 40% at one stage is a
    tuning bug, invisible in the final survivor set alone).  Stage
    semantics are EXACTLY the composed pipeline's: each count is the
    previous stage's survivors after one more policy, so the last row
    equals ``count(curation_pipeline_panels)``.

    100 TB shape: the panels pipeline's own flags frame
    (:func:`_policy_flags`, each detector evaluated once) and ONE
    aggregate of cumulative-AND ``count_if`` columns, unstacked into
    rows by a generator. A union of seven chained semi/anti-join
    counts re-planned every detector subtree per branch (Spark shares
    no lineage across union branches; measured at sf0.1: 13.0 s ->
    10.0 s). Output is pinned byte-identical to the chained shape by
    test."""
    flags, stages = _policy_flags(
        spark, sf_dir, quality_vote(spark, sf_dir).filter("keep_majority")
    )
    cum, cnt = F.lit(True), [F.count("*").cast("long").alias("c0")]
    for i, stage in enumerate(stages, start=1):
        cum = cum & stage
        cnt.append(F.count_if(cum).cast("long").alias(f"c{i}"))
    stack_args = ", ".join(
        f"CAST({i} AS BIGINT), '{stage}', c{i}"
        for i, stage in enumerate(_FUNNEL_STAGES)
    )
    return flags.agg(*cnt).selectExpr(
        f"stack({len(_FUNNEL_STAGES)}, {stack_args}) "
        "AS (stage_idx, stage, n_docs)"
    )


CURATION_FUNNEL_SQL = f"""
WITH vote AS MATERIALIZED (
  SELECT doc_id FROM ({QUALITY_VOTE_SQL}) WHERE keep_majority
),
exact_keep AS MATERIALIZED (
  SELECT canonical_doc_id AS doc_id FROM ({dedup.DEDUP_EXACT_SQL})
),
lsh_losers AS MATERIALIZED (
  SELECT DISTINCT doc_b AS doc_id FROM ({dedup.MINHASH_LSH_PAIRS_SQL})
),
decon_keep AS MATERIALIZED (
  SELECT doc_id FROM ({dedup.DECONTAMINATE_APPLY_SQL})
),
s1 AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
  WHERE source <> 'src0'
),
s2 AS MATERIALIZED (
  SELECT d.doc_id FROM s1 JOIN documents d USING (doc_id)
  WHERE {textstats._QF_KEEP_SQL.replace("text", "d.text")}
),
s3 AS MATERIALIZED (SELECT doc_id FROM s2 WHERE doc_id IN (SELECT doc_id FROM vote)),
s4 AS MATERIALIZED (SELECT doc_id FROM s3 WHERE doc_id IN (SELECT doc_id FROM exact_keep)),
s5 AS MATERIALIZED (SELECT doc_id FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM lsh_losers)),
s6 AS MATERIALIZED (SELECT doc_id FROM s5 WHERE doc_id IN (SELECT doc_id FROM decon_keep))
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS stage_idx, 'corpus' AS stage,
         CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
  UNION ALL SELECT 1, 'benchmark_excluded', COUNT(*) FROM s1
  UNION ALL SELECT 2, 'shallow_quality', COUNT(*) FROM s2
  UNION ALL SELECT 3, 'panel_majority', COUNT(*) FROM s3
  UNION ALL SELECT 4, 'exact_dedup', COUNT(*) FROM s4
  UNION ALL SELECT 5, 'near_dup', COUNT(*) FROM s5
  UNION ALL SELECT 6, 'decontaminated', COUNT(*) FROM s6
)
"""
