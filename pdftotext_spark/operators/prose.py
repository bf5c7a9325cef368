"""Prose-frame operators: line-level boilerplate mining/removal and
the unanimous quality vote over a deterministically derived
multi-line, punctuated corpus.

The driver's synthetic ``documents`` table is single-line text with no
terminal punctuation, which makes every line-level policy degenerate
on it: C4/FineWeb reject all docs (no terminal punct), cross-doc
verbatim lines don't exist, and newline segmentation is a no-op. The
**prose frame** fixes that *inside the oracle contract*: a
deterministic, SQL-expressible derivation shared verbatim by the
Spark plan and the DuckDB oracle turns each document into realistic
web prose —

- the body re-punctuated into :data:`PROSE_SENT_W`-word sentences,
  one per line (a global regexp_replace both engines apply
  identically, left-to-right non-overlapping);
- planted per-source boilerplate: a header line on ``doc_id %
  PROSE_HEADER_MOD > 0``, a promo line on ``doc_id % PROSE_PROMO_MOD
  == 0``, a footer line on every document — so cross-doc verbatim
  lines exist with KNOWN doc frequencies (the planted truth the
  semantic tests check against).

Everything downstream is a real operator over that frame: CCNet-style
line-frequency boilerplate mining/stripping (Wenzek et al. 2020 §4.1
— their sharded paragraph-hash dedup), newline-block paragraph dedup
(the segmenter NEXT.md item — the ``dedup.paragraph_dedup`` algebra
with the fixed-token-window proxy replaced by real line blocks), and
the five-panel unanimous quality vote (non-degenerate here: the
Gopher word-count and C4 sentence-count rules split the corpus).

Shared-rule invariant (the shingle-sampling discipline): the prose
derivation templates/constants below are the single source for BOTH
engines — :func:`prose_frame` (Spark) and :data:`PROSE_DOCS_SQL`
(DuckDB) are built from the same strings, so the frames are
byte-identical and every oracle comparison is exact.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdftotext_spark.operators import curation, dedup
from pdftotext_spark.operators.materialize import materialize

# words per planted sentence (one sentence per line in the body)
PROSE_SENT_W = 8
# the sentence splitter: every run of PROSE_SENT_W space-separated
# words (with a trailing space — the final group keeps its words on
# the last line) becomes "<words>.\n". Global non-overlapping
# left-to-right replace — identical semantics in Java regex (Spark)
# and RE2 (DuckDB); only the backref spelling differs ($1 vs \1).
PROSE_SENT_PATTERN = r"((\S+ ){%d}\S+) " % (PROSE_SENT_W - 1)

# planted boilerplate templates: (prefix, suffix) around the source
# name. Chosen to carry Gopher stopwords (the/and/of/to) and terminal
# punctuation so planted lines behave like real web boilerplate under
# every quality panel.
PROSE_HEADER = ("Read the full ", " coverage online today.")
PROSE_PROMO = ("Subscribe to the ", " newsletter for more.")
PROSE_FOOTER = ("Copyright ", " and the editors of this site.")
# presence rules (content-derived, deterministic): header on docs with
# doc_id % 3 in {1, 2}; promo on doc_id % 5 == 0; footer always — so
# per-source line frequencies differ (~2/3·n, ~n/5, n) and the
# boilerplate miner's output is non-constant by construction.
PROSE_HEADER_MOD = 3
PROSE_PROMO_MOD = 5

# minimum distinct-document frequency for a line to count as
# boilerplate (CCNet removes any paragraph seen elsewhere; a df
# threshold is the production knob that keeps one-off quotes intact).
# Shared by the miner, the stripper, and every oracle below.
BOILER_MIN_DF = 4


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def prose_frame(docs: DataFrame) -> DataFrame:
    """The prose frame over ``(doc_id, text, lang, source)``: same
    columns as ``documents`` with ``text`` rewritten to multi-line
    punctuated prose and ``n_chars`` recomputed over it.

    100 TB shape: a zero-shuffle narrow map (one regexp_replace + two
    conditional concats per row) that pipelines into whatever
    consumes it — the frame is never materialized on its own."""
    header = F.concat(
        F.lit(PROSE_HEADER[0]), F.col("source"),
        F.lit(PROSE_HEADER[1] + "\n"),
    )
    promo = F.concat(
        F.lit(PROSE_PROMO[0]), F.col("source"),
        F.lit(PROSE_PROMO[1] + "\n"),
    )
    footer = F.concat(
        F.lit(PROSE_FOOTER[0]), F.col("source"), F.lit(PROSE_FOOTER[1])
    )
    body = F.regexp_replace(F.col("text"), PROSE_SENT_PATTERN, "$1.\n")
    prose = F.concat(
        F.when(F.col("doc_id") % PROSE_HEADER_MOD > 0, header).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % PROSE_PROMO_MOD == 0, promo).otherwise(
            F.lit("")
        ),
        body,
        F.lit(".\n"),
        footer,
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        prose.alias("text"),
        "lang",
        "source",
    ).withColumn("n_chars", F.length("text").cast("long"))


# DuckDB twin of prose_frame — built from the SAME template constants;
# RE2 spells the backref \1 and needs the explicit 'g' flag.
PROSE_DOCS_SQL = f"""
  SELECT doc_id, text, lang, source,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           (CASE WHEN doc_id % {PROSE_HEADER_MOD} > 0
                 THEN '{PROSE_HEADER[0]}' || source || '{PROSE_HEADER[1]}' || chr(10)
                 ELSE '' END)
           || (CASE WHEN doc_id % {PROSE_PROMO_MOD} = 0
                    THEN '{PROSE_PROMO[0]}' || source || '{PROSE_PROMO[1]}' || chr(10)
                    ELSE '' END)
           || regexp_replace(text, '{PROSE_SENT_PATTERN}', '\\1.' || chr(10), 'g')
           || '.' || chr(10)
           || '{PROSE_FOOTER[0]}' || source || '{PROSE_FOOTER[1]}' AS text,
           lang, source
    FROM documents
  )
"""


def _retarget(sql: str, rel: str = "prose_docs") -> str:
    """Rename every reference to the base ``documents`` relation in a
    nested oracle so it reads the prose CTE instead. The panel SQL
    constants are repo-owned and use the word only as the relation
    name; DuckDB rejects a CTE named ``documents`` that itself reads
    ``documents`` (circular-reference binder error), so textual
    retargeting is the portable alternative to CTE shadowing."""
    return re.sub(r"\bdocuments\b", rel, sql)


# ------------------------------------------------------ quality vote


def quality_vote_prose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`curation.quality_vote` over the prose frame — the
    composition NEXT.md flagged as unexercisable on the raw corpus:
    with punctuated multi-line text, C4/FineWeb keep real documents
    and the UNANIMOUS rule (``keep_all``) splits the corpus on the
    Gopher word-count and C4 sentence-count rules (measured at
    sf0.01: 358/500 keep_all — non-degenerate in both directions).

    100 TB shape: quality_vote's own plan (one spread scan, one row
    function, no join) over the prose frame, which pipelines into it:
    the vote is the frame's only consumer, so the sentence regexp
    runs once per document without a lineage cut."""
    return curation.quality_vote_for(
        prose_frame(_read(spark, sf_dir, "documents"))
    )


QUALITY_VOTE_PROSE_SQL = f"""
WITH prose_docs AS ({PROSE_DOCS_SQL})
SELECT * FROM ({_retarget(curation.QUALITY_VOTE_SQL)})
"""


def curation_pipeline_unanimous(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`curation.curation_pipeline` gated by the UNANIMOUS
    five-panel vote over the prose frame — the strict composition a
    high-precision corpus cut runs (keep only documents every policy
    accepts). Survivors are exactly ``curation_pipeline ∩
    quality_vote_prose.keep_all`` (set intersection on doc_id; the
    panels vote on the prose rendering of the same document).

    100 TB shape: the base pipeline's flags frame with one more slim
    doc_id marker — the prose vote's — that AQE broadcasts."""
    return curation._survivors(
        spark, sf_dir, quality_vote_prose(spark, sf_dir).filter("keep_all")
    )


CURATION_PIPELINE_UNANIMOUS_SQL = f"""
SELECT * FROM ({curation.CURATION_PIPELINE_SQL})
WHERE doc_id IN
  (SELECT doc_id FROM ({QUALITY_VOTE_PROSE_SQL}) WHERE keep_all)
"""


# ---------------------------------------------- boilerplate line ops


def boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The template miner: every line shared by >= BOILER_MIN_DF
    distinct documents, with its document/source reach and first
    holder — what a curation run inspects before committing to a
    line-removal policy (planted truth here: header/promo/footer per
    source at known frequencies).

    100 TB shape: one narrow line explode (~lines-per-doc fanout, not
    shingle fanout) and ONE groupBy shuffle on the line text; the
    df filter makes the output tiny. Map-side partial aggregation
    absorbs hot boilerplate keys."""
    return boilerplate_lines_for(
        prose_frame(_read(spark, sf_dir, "documents"))
    )


def boilerplate_lines_for(docs: DataFrame) -> DataFrame:
    """Core of :func:`boilerplate_lines` over an arbitrary
    ``(doc_id, source, text)`` multi-line frame (constructed-input
    test surface)."""
    lines = docs.select(
        "doc_id",
        "source",
        F.explode(F.split("text", "\n")).alias("line"),
    ).filter(F.col("line") != "")
    return (
        lines.groupBy("line")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").cast("long").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= BOILER_MIN_DF)
    )


BOILERPLATE_LINES_SQL = f"""
WITH prose_docs AS ({PROSE_DOCS_SQL}),
lines AS (
  SELECT doc_id, source, unnest(string_split(text, chr(10))) AS line
  FROM prose_docs
)
SELECT line,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
FROM lines WHERE line <> ''
GROUP BY line HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DF}
"""


def strip_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply side: remove every line whose distinct-document
    frequency is >= BOILER_MIN_DF from every document (CCNet §4.1
    removes *all* copies of a shared paragraph when used as a
    boilerplate cut — unlike :func:`paragraph_dedup_newline`, which
    keeps the first), rebuilding text in line order. Every document
    emits a row (the dsir_select silent-omission lesson).

    100 TB shape: the line explode feeds one groupBy shuffle on
    md5(line) whose df-filtered output is TINY (distinct boilerplate
    lines only) and is materialized slim, so the anti-join against it
    broadcasts; the rebuild is one doc_id-partitioned aggregation
    bounded by the doc's own line count. The explode lineage is
    recomputed once on the anti-join side — a narrow split of the
    base scan, not a shuffle replay (the ExactSubstr double-scan
    lesson applies to shuffled/exploded frames, not to cheap
    projections)."""
    return strip_boilerplate_lines_for(
        prose_frame(_read(spark, sf_dir, "documents"))
    )


def strip_boilerplate_lines_for(pf: DataFrame) -> DataFrame:
    """Core of :func:`strip_boilerplate_lines` over an arbitrary
    ``(doc_id, text)`` multi-line frame (constructed-input test
    surface)."""
    lines = pf.select(
        "doc_id",
        F.posexplode(F.split("text", "\n")).alias("pos", "line"),
    )
    boiler = materialize(
        lines.groupBy(F.md5("line").alias("line_md5"))
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DF)
        .select("line_md5")
    )
    clean = lines.join(
        boiler, F.md5(F.col("line")) == F.col("line_md5"), "left_anti"
    )
    rebuilt = clean.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.getField("line"),
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").cast("long").alias("kept_lines"),
    )
    return (
        pf.select(
            "doc_id",
            F.size(F.split("text", "\n")).cast("long").alias("n_lines"),
        )
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("kept_lines", F.lit(0))
            .cast("long")
            .alias("kept_lines"),
            (F.col("n_lines") - F.coalesce("kept_lines", F.lit(0)))
            .cast("long")
            .alias("removed_lines"),
        )
    )


STRIP_BOILERPLATE_LINES_SQL = f"""
WITH prose_docs AS ({PROSE_DOCS_SQL}),
lines AS (
  SELECT doc_id, i - 1 AS pos, l[CAST(i AS INT)] AS line
  FROM (
    SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
    FROM (SELECT doc_id, string_split(text, chr(10)) AS l
          FROM prose_docs)
  )
),
boiler AS (
  SELECT md5(line) AS line_md5 FROM lines
  GROUP BY md5(line) HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DF}
),
rebuilt AS (
  SELECT doc_id,
         array_to_string(
           list_transform(
             list_sort(list({{'i': pos, 't': line}})),
             s -> s.t),
           chr(10)) AS clean_text,
         COUNT(*) AS kept_lines
  FROM lines
  WHERE md5(line) NOT IN (SELECT line_md5 FROM boiler)
  GROUP BY doc_id
)
SELECT CAST(p.doc_id AS BIGINT) AS doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(COALESCE(r.kept_lines, 0) AS BIGINT) AS kept_lines,
       CAST(len(string_split(p.text, chr(10)))
            - COALESCE(r.kept_lines, 0) AS BIGINT) AS removed_lines
FROM prose_docs p LEFT JOIN rebuilt r USING (doc_id)
"""


# ------------------------------------------- newline paragraph dedup


def paragraph_dedup_newline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet paragraph dedup with the REAL segmenter: newline blocks
    of the prose frame instead of ``dedup.paragraph_dedup``'s
    fixed-token-window proxy (the NEXT.md segmenter item — the dedup
    algebra is unchanged and segmentation-agnostic; this registers
    the newline instance now that a newline-bearing frame exists).
    ``kept`` = this (doc_id, seg_idx) is the corpus-first occurrence
    of the line's text.

    100 TB shape: narrow line explode, then ONE shuffle — a min
    window over md5(seg_text) (slim rows under boilerplate hot keys;
    no groupBy + join back)."""
    return paragraph_dedup_newline_for(
        prose_frame(_read(spark, sf_dir, "documents"))
    )


def paragraph_dedup_newline_for(pf: DataFrame) -> DataFrame:
    """Core of :func:`paragraph_dedup_newline` over an arbitrary
    ``(doc_id, text)`` multi-line frame (constructed-input test
    surface)."""
    segs = pf.select(
        "doc_id",
        F.posexplode(F.split("text", "\n")).alias("seg_idx", "seg_text"),
    )
    w = Window.partitionBy(F.md5("seg_text"))
    first = F.min(F.struct("doc_id", "seg_idx")).over(w)
    return segs.select(
        "doc_id",
        F.col("seg_idx").cast("long").alias("seg_idx"),
        F.size(F.expr("filter(split(seg_text, ' '), t -> t <> '')"))
        .cast("long")
        .alias("n_seg_tokens"),
        (
            (F.col("doc_id") == first.getField("doc_id"))
            & (F.col("seg_idx") == first.getField("seg_idx"))
        ).alias("kept"),
        first.getField("doc_id").cast("long").alias("first_doc_id"),
    )


PARAGRAPH_DEDUP_NEWLINE_SQL = f"""
WITH prose_docs AS ({PROSE_DOCS_SQL}),
segs AS (
  SELECT doc_id, i - 1 AS seg_idx, l[CAST(i AS INT)] AS seg_text
  FROM (
    SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
    FROM (SELECT doc_id, string_split(text, chr(10)) AS l
          FROM prose_docs)
  )
),
m AS (
  SELECT doc_id, seg_idx, seg_text,
         MIN(doc_id * 1000000000 + seg_idx)
           OVER (PARTITION BY md5(seg_text)) AS first_key
  FROM segs
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(seg_idx AS BIGINT) AS seg_idx,
       CAST(len(list_filter(string_split(seg_text, ' '), t -> t <> ''))
            AS BIGINT) AS n_seg_tokens,
       (doc_id * 1000000000 + seg_idx = first_key) AS kept,
       CAST(first_key // 1000000000 AS BIGINT) AS first_doc_id
FROM m
"""
