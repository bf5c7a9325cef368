"""Text-analysis operators for training-data pipelines: language-ID,
quality scoring, token counting and document fingerprinting — all
built-in-function plans with DuckDB oracles, except the one row
function that counts the Gopher repetition n-grams per document.

The counting primitive is the engine-agnostic replace trick
``(length(s) - length(replace(s, needle, ''))) / length(needle)`` so
both engines produce identical integers with no regex-dialect risk.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdftotext_spark.functions.extract import map_rows
from pdftotext_spark.operators.materialize import (
    materialize,
    materialize_lazy,
    spread,
)

# tiny per-language stopword marker sets (n-gram heuristic; the doc
# corpus is synthetic so this demonstrates the operator shape)
LANG_MARKERS = {
    "en": (" the ", " and ", " of "),
    "de": (" der ", " und ", " die "),
    "fr": (" le ", " et ", " les "),
    "es": (" el ", " y ", " los "),
}
PUNCT = ".,!?;:"


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _count_occ(col: Column, needle: str) -> Column:
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def _count_occ_sql(expr: str, needle: str) -> str:
    return (
        f"CAST((length({expr}) - length(replace({expr}, '{needle}', ''))) "
        f"/ {len(needle)} AS BIGINT)"
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID: per-language marker counts →
    argmax with a fixed preference order on ties ('und' if all zero)."""
    docs = _read(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    scores = {
        lang: sum(
            (_count_occ(padded, m) for m in markers), F.lit(0).cast("long")
        )
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_MARKERS:  # insertion order = tie preference
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return docs.select(
        "doc_id",
        pred.alias("pred_lang"),
        best.alias("marker_hits"),
    )


def _lang_id_sql() -> str:
    padded = "(' ' || lower(text) || ' ')"
    scores = {
        lang: " + ".join(_count_occ_sql(padded, m) for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }
    score_cols = ", ".join(f"({e}) AS s_{lang}" for lang, e in scores.items())
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_MARKERS) + ")"
    case = "CASE WHEN best = 0 THEN 'und' " + " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in LANG_MARKERS
    ) + " END"
    return f"""
WITH scored AS (SELECT doc_id, {score_cols} FROM documents),
best AS (SELECT *, {best} AS best FROM scored)
SELECT doc_id, {case} AS pred_lang, best AS marker_hits FROM best
"""


LANG_ID_SQL = _lang_id_sql()


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow quality features: char/word counts, punctuation count,
    mean word length — the Gopher/C4-style cheap filters."""
    docs = _read(spark, sf_dir, "documents")
    text = F.col("text")
    n_chars = F.length(text).cast("long")
    n_words = (_count_occ(text, " ") + 1).cast("long")
    n_punct = (
        F.length(text) - F.length(F.translate(text, PUNCT, ""))
    ).cast("long")
    n_letter_chars = F.length(F.replace(text, F.lit(" "), F.lit("")))
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        n_punct.alias("n_punct"),
        F.round(n_letter_chars / n_words, 3).alias("avg_word_len"),
    )


QUALITY_SCORE_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       {_count_occ_sql('text', ' ')} + 1 AS n_words,
       CAST(length(text) - length(translate(text, '{PUNCT}', '')) AS BIGINT) AS n_punct,
       ROUND(length(replace(text, ' ', '')) * 1.0 /
             ({_count_occ_sql('text', ' ')} + 1), 3) AS avg_word_len
FROM documents
"""


def token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting rolled up by source — the budgeting
    query every training-data pipeline runs first."""
    docs = _read(spark, sf_dir, "documents")
    n_tokens = _count_occ(F.col("text"), " ") + 1
    return docs.groupBy("source").agg(
        F.sum(n_tokens).cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("n_docs"),
        F.max(n_tokens).cast("long").alias("max_doc_tokens"),
    )


TOKEN_COUNT_BY_SOURCE_SQL = f"""
SELECT source,
       CAST(SUM({_count_occ_sql('text', ' ')} + 1) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX({_count_occ_sql('text', ' ')} + 1) AS BIGINT) AS max_doc_tokens
FROM documents GROUP BY source
"""


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation rollup: predicted vs labelled language
    counts (the confusion matrix every lang-filter pipeline tracks
    before trusting its classifier). Composes :func:`lang_id` with the
    corpus labels — one broadcastable join + one grouped count."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    return (
        docs.join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


LANG_ID_CONFUSION_SQL = f"""
WITH pred AS ({LANG_ID_SQL.strip()})
SELECT d.lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents d JOIN pred p ON d.doc_id = p.doc_id
GROUP BY d.lang, p.pred_lang
"""


# Gopher/C4-style shallow filter thresholds
QF_MIN_WORDS = 5
QF_MAX_WORDS = 100_000
QF_MIN_AVG_WORD_LEN = 2.0
QF_MAX_AVG_WORD_LEN = 12.0


def qf_keep_predicate(text: Column = None) -> Column:
    """The shallow quality keep predicate as a Column — single source
    for every consumer (the per-source dashboard here, the batch
    curation pipeline, the streaming ingest gate; review r5: three
    textual copies of this expression had crept in), mirroring the
    ``_QF_KEEP_SQL`` string the oracles share."""
    if text is None:
        text = F.col("text")
    n_words = (_count_occ(text, " ") + 1).cast("long")
    awl = F.length(F.replace(text, F.lit(" "), F.lit(""))) / n_words
    return (
        (n_words >= QF_MIN_WORDS)
        & (n_words <= QF_MAX_WORDS)
        & (awl >= QF_MIN_AVG_WORD_LEN)
        & (awl <= QF_MAX_AVG_WORD_LEN)
    )


def quality_filter_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keep/drop accounting under the shallow quality
    gates (word-count and mean-word-length windows) — the filter-rate
    dashboard a corpus-cleaning pipeline watches per ingest source."""
    docs = _read(spark, sf_dir, "documents")
    keep = qf_keep_predicate()
    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(keep.cast("long")).cast("long").alias("n_kept"),
        F.round(F.avg(keep.cast("double")), 4).alias("keep_rate"),
    )


_QF_KEEP_SQL = (
    f"(({_count_occ_sql('text', ' ')} + 1) >= {QF_MIN_WORDS} AND "
    f"({_count_occ_sql('text', ' ')} + 1) <= {QF_MAX_WORDS} AND "
    f"length(replace(text, ' ', '')) * 1.0 / ({_count_occ_sql('text', ' ')} + 1) >= {QF_MIN_AVG_WORD_LEN} AND "
    f"length(replace(text, ' ', '')) * 1.0 / ({_count_occ_sql('text', ' ')} + 1) <= {QF_MAX_AVG_WORD_LEN})"
)

QUALITY_FILTER_BY_SOURCE_SQL = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN {_QF_KEEP_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(AVG(CASE WHEN {_QF_KEEP_SQL} THEN 1.0 ELSE 0.0 END), 4) AS keep_rate
FROM documents GROUP BY source
"""


# Gopher quality-rule thresholds (Rae et al. 2021, appendix A1.1 —
# public). The stopword rule counts OCCURRENCES of the published
# 8-word set and requires >= 2 (the datatrove GopherQualityFilter
# reading of "contain at least two of the following English words";
# the distinct-word reading is stricter and makes the rule
# all-reject on single-stopword corpora). alpha-word test is ASCII
# [a-z] on lowercased text (the corpus contract here; extend the
# class for non-Latin scripts).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WORD_LEN = 3.0
GOPHER_MAX_WORD_LEN = 10.0
GOPHER_MAX_HASH_RATIO = 0.1
GOPHER_MAX_ELLIPSIS_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher quality-rule panel per document — every rule a
    separate observable flag plus the conjunction ``keep`` (a pipeline
    tunes rules individually; a single opaque boolean hides WHICH rule
    fires).  Rules: word count in [50, 100k]; mean word length in
    [3, 10]; '#' and ellipsis symbol-to-word ratios <= 0.1; <= 90% of
    lines bullet-started and <= 30% ellipsis-ended; >= 80% of words
    contain an alphabetic character; >= 2 distinct stopwords.

    100 TB shape: one narrow projection scan, all per-row array
    built-ins (split/filter/aggregate) inside whole-stage codegen —
    no shuffle, no UDF, trivially partition-parallel.  Flags compare
    UNROUNDED integer-ratio doubles (identical expressions both
    engines); the displayed ratios round once at the end."""
    return gopher_quality_for(_read(spark, sf_dir, "documents"))


def gopher_quality_for(docs: DataFrame, carry: Sequence[str] = ()) -> DataFrame:
    """Core of :func:`gopher_quality` over an arbitrary
    ``(doc_id, text)`` frame (constructed-input surface for the
    semantic tests — every rule is pinned on documents built to
    trip exactly that rule). The ``carry`` columns of ``docs`` pass
    through after ``doc_id``."""
    nl = "replace(lower(text), chr(10), ' ')"
    base = docs.select(
        "doc_id",
        *carry,
        F.expr(f"filter(split({nl}, ' '), x -> x <> '')").alias("a"),
        F.expr("split(text, chr(10))").alias("lines"),
        _count_occ(F.col("text"), "#").alias("n_hash"),
        (_count_occ(F.col("text"), "...") + _count_occ(F.col("text"), "…"))
        .alias("n_ell"),
    )
    stop_list = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    stop_hits = F.size(F.expr(f"filter(a, x -> x IN ({stop_list}))"))
    m = base.select(
        "doc_id",
        *carry,
        "n_hash",
        "n_ell",
        F.size("a").cast("long").alias("n_words"),
        F.expr("aggregate(a, 0, (acc, x) -> acc + length(x))").alias(
            "sum_wlen"
        ),
        F.size(F.expr("filter(a, x -> x rlike '[a-z]')"))
        .cast("long")
        .alias("n_alpha"),
        stop_hits.cast("long").alias("n_stopwords"),
        F.size("lines").cast("long").alias("n_lines"),
        F.size(
            F.expr(
                "filter(lines, x -> substring(ltrim(x), 1, 1) "
                "IN ('-', '*', '•'))"
            )
        ).cast("long").alias("n_bullet"),
        F.size(
            F.expr(
                "filter(lines, x -> rtrim(x) LIKE '%...' "
                "OR rtrim(x) LIKE '%…')"
            )
        ).cast("long").alias("n_ell_line"),
    )
    # divisor floored at 1: a 0-word doc has all-zero numerators, so
    # every ratio is 0 and the nz-guarded flags stay false — and ANSI
    # mode never sees a /0 (AND does not short-circuit in codegen)
    nz = F.col("n_words") > 0
    nw = F.greatest(F.col("n_words"), F.lit(1))
    mwl = F.col("sum_wlen") / nw
    hashr = F.col("n_hash") / nw
    ellr = F.col("n_ell") / nw
    bulletf = F.col("n_bullet") / F.col("n_lines")
    ellf = F.col("n_ell_line") / F.col("n_lines")
    alphaf = F.col("n_alpha") / nw
    ok_wc = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    ok_wl = nz & (mwl >= GOPHER_MIN_WORD_LEN) & (mwl <= GOPHER_MAX_WORD_LEN)
    ok_sym = nz & (hashr <= GOPHER_MAX_HASH_RATIO) & (
        ellr <= GOPHER_MAX_ELLIPSIS_RATIO
    )
    ok_line = (bulletf <= GOPHER_MAX_BULLET_FRAC) & (
        ellf <= GOPHER_MAX_ELLIPSIS_LINE_FRAC
    )
    ok_alpha = nz & (alphaf >= GOPHER_MIN_ALPHA_FRAC)
    ok_stop = F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS
    zero = F.lit(0.0)
    return m.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *carry,
        "n_words",
        F.round(F.when(nz, mwl).otherwise(zero), 3).alias("mean_word_len"),
        F.round(F.when(nz, hashr).otherwise(zero), 4).alias("hash_ratio"),
        F.round(F.when(nz, ellr).otherwise(zero), 4).alias("ellipsis_ratio"),
        F.round(bulletf, 4).alias("bullet_line_frac"),
        F.round(ellf, 4).alias("ellipsis_line_frac"),
        F.round(F.when(nz, alphaf).otherwise(zero), 4).alias(
            "alpha_word_frac"
        ),
        "n_stopwords",
        ok_wc.alias("ok_word_count"),
        ok_wl.alias("ok_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_line.alias("ok_line_shape"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_wl & ok_sym & ok_line & ok_alpha & ok_stop).alias("keep"),
    )


_GOPHER_STOP_SQL = (
    "len(list_filter(a, x -> x IN ("
    + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    + ")))"
)

GOPHER_QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(replace(lower(text), chr(10), ' '), ' '),
                     x -> x <> '') AS a,
         string_split(text, chr(10)) AS lines,
         {_count_occ_sql('text', '#')} AS n_hash,
         {_count_occ_sql('text', '...')} + {_count_occ_sql('text', '…')}
           AS n_ell
  FROM documents
),
m AS (
  SELECT doc_id, n_hash, n_ell,
         CAST(len(a) AS BIGINT) AS n_words,
         COALESCE(list_sum(list_transform(a, x -> length(x))), 0)
           AS sum_wlen,
         CAST(len(list_filter(a, x -> regexp_matches(x, '[a-z]')))
              AS BIGINT) AS n_alpha,
         CAST({_GOPHER_STOP_SQL} AS BIGINT) AS n_stopwords,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines,
              x -> substr(ltrim(x), 1, 1) IN ('-', '*', '•')))
              AS BIGINT) AS n_bullet,
         CAST(len(list_filter(lines,
              x -> rtrim(x) LIKE '%...' OR rtrim(x) LIKE '%…'))
              AS BIGINT) AS n_ell_line
  FROM base
),
f AS (
  SELECT *,
         (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
           AS ok_word_count,
         (n_words > 0 AND sum_wlen * 1.0 / greatest(n_words, 1) >= {GOPHER_MIN_WORD_LEN}
          AND sum_wlen * 1.0 / greatest(n_words, 1) <= {GOPHER_MAX_WORD_LEN})
           AS ok_word_len,
         (n_words > 0 AND n_hash * 1.0 / greatest(n_words, 1) <= {GOPHER_MAX_HASH_RATIO}
          AND n_ell * 1.0 / greatest(n_words, 1) <= {GOPHER_MAX_ELLIPSIS_RATIO})
           AS ok_symbol_ratio,
         (n_bullet * 1.0 / n_lines <= {GOPHER_MAX_BULLET_FRAC}
          AND n_ell_line * 1.0 / n_lines <= {GOPHER_MAX_ELLIPSIS_LINE_FRAC})
           AS ok_line_shape,
         (n_words > 0 AND n_alpha * 1.0 / greatest(n_words, 1) >= {GOPHER_MIN_ALPHA_FRAC})
           AS ok_alpha_words,
         (n_stopwords >= {GOPHER_MIN_STOPWORDS}) AS ok_stopwords
  FROM m
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       n_words,
       ROUND(CASE WHEN n_words > 0 THEN sum_wlen * 1.0 / greatest(n_words, 1)
                  ELSE 0.0 END, 3) AS mean_word_len,
       ROUND(CASE WHEN n_words > 0 THEN n_hash * 1.0 / greatest(n_words, 1)
                  ELSE 0.0 END, 4) AS hash_ratio,
       ROUND(CASE WHEN n_words > 0 THEN n_ell * 1.0 / greatest(n_words, 1)
                  ELSE 0.0 END, 4) AS ellipsis_ratio,
       ROUND(n_bullet * 1.0 / n_lines, 4) AS bullet_line_frac,
       ROUND(n_ell_line * 1.0 / n_lines, 4) AS ellipsis_line_frac,
       ROUND(CASE WHEN n_words > 0 THEN n_alpha * 1.0 / greatest(n_words, 1)
                  ELSE 0.0 END, 4) AS alpha_word_frac,
       n_stopwords,
       ok_word_count, ok_word_len, ok_symbol_ratio, ok_line_shape,
       ok_alpha_words, ok_stopwords,
       (ok_word_count AND ok_word_len AND ok_symbol_ratio AND ok_line_shape
        AND ok_alpha_words AND ok_stopwords) AS keep
FROM f
"""


# C4 cleaning rules (Raffel et al. 2020 §2.2 — public): retain lines
# ending in terminal punctuation with >= 3 words, no "javascript",
# and no boilerplate policy phrase; drop pages with < 5 sentences, a
# "lorem ipsum" phrase, or a curly brace. (The paper's badword-list
# page rule is a wordlist parameter deliberately not shipped — no
# public canonical list is bundled.)
C4_MIN_WORDS_PER_LINE = 3
C4_MIN_SENTENCES = 5
C4_TERMINALS = (".", "!", "?", '"')
# the paper's published cookie/ToS boilerplate line list, verbatim
C4_POLICY_SUBSTRINGS = (
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
    "use of cookies",
    "use cookies",
)


def c4_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning panel per document: line-level retention
    (terminal punctuation + >= 3 words + no "javascript" + no
    cookie/terms-of-service policy phrase, all case-insensitive)
    with the CLEANED text emitted, page-level flags
    (``has_lorem_ipsum``, ``has_curly_brace``), a deterministic
    sentence count, and the composed ``keep``.  Definitional choice
    (documented): ``n_sentences`` counts terminal marks ('.', '!',
    '?') in the KEPT text — a splitter-free deterministic stand-in
    for the paper's sentence segmentation, identical in both engines.

    100 TB shape: zero-shuffle narrow map — every signal is an array
    expression over the line split inside one WholeStageCodegen scan;
    the cleaned text pipelines straight into a sink with no
    repartition."""
    return c4_quality_for(_read(spark, sf_dir, "documents"))


def c4_quality_for(docs: DataFrame, carry: Sequence[str] = ()) -> DataFrame:
    """Core of :func:`c4_quality` over an arbitrary ``(doc_id, text)``
    frame (constructed-input test surface). The ``carry`` columns of
    ``docs`` pass through after ``doc_id``."""
    terms = ", ".join(f"'{t}'" for t in C4_TERMINALS)
    policy = " OR ".join(
        f"contains(lower(x), '{p}')" for p in C4_POLICY_SUBSTRINGS
    )
    kept = (
        "filter(split(text, chr(10)), x -> "
        f"right(rtrim(x), 1) IN ({terms}) "
        "AND size(filter(split(x, ' '), w -> w <> '')) >= "
        f"{C4_MIN_WORDS_PER_LINE} "
        "AND NOT contains(lower(x), 'javascript') "
        f"AND NOT ({policy}))"
    )
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *carry,
        F.expr("size(split(text, chr(10)))").cast("long").alias("n_lines"),
        F.expr(f"array_join({kept}, chr(10))").alias("cleaned_text"),
        F.expr(f"size({kept})").cast("long").alias("n_kept_lines"),
        F.contains(F.lower("text"), F.lit("lorem ipsum")).alias(
            "has_lorem_ipsum"
        ),
        F.contains(F.col("text"), F.lit("{")).alias("has_curly_brace"),
    )
    n_sent = (
        _count_occ(F.col("cleaned_text"), ".")
        + _count_occ(F.col("cleaned_text"), "!")
        + _count_occ(F.col("cleaned_text"), "?")
    )
    return base.select(
        "doc_id",
        *carry,
        "n_lines",
        "n_kept_lines",
        n_sent.cast("long").alias("n_sentences"),
        "has_lorem_ipsum",
        "has_curly_brace",
        (
            (n_sent >= C4_MIN_SENTENCES)
            & ~F.col("has_lorem_ipsum")
            & ~F.col("has_curly_brace")
        ).alias("keep"),
        "cleaned_text",
    )


_C4_KEPT_SQL = (
    "list_filter(string_split(text, chr(10)), x -> "
    "right(rtrim(x), 1) IN ("
    + ", ".join(f"'{t}'" for t in C4_TERMINALS)
    + f") AND len(list_filter(string_split(x, ' '), w -> w <> '')) >= "
    f"{C4_MIN_WORDS_PER_LINE} "
    "AND NOT contains(lower(x), 'javascript') AND NOT ("
    + " OR ".join(
        f"contains(lower(x), '{p}')" for p in C4_POLICY_SUBSTRINGS
    )
    + "))"
)

C4_QUALITY_SQL = f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         COALESCE(array_to_string({_C4_KEPT_SQL}, chr(10)), '')
           AS cleaned_text,
         CAST(len({_C4_KEPT_SQL}) AS BIGINT) AS n_kept_lines,
         contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
         contains(text, '{{') AS has_curly_brace
  FROM documents
),
m AS (
  SELECT *,
         {_count_occ_sql('cleaned_text', '.')}
         + {_count_occ_sql('cleaned_text', '!')}
         + {_count_occ_sql('cleaned_text', '?')} AS n_sentences
  FROM base
)
SELECT doc_id, n_lines, n_kept_lines,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       has_lorem_ipsum, has_curly_brace,
       (n_sentences >= {C4_MIN_SENTENCES}
        AND NOT has_lorem_ipsum AND NOT has_curly_brace) AS keep,
       cleaned_text
FROM m
"""


# FineWeb line-shape rules (Penedo et al. 2024 §3.5 / the datatrove
# FineWebQualityFilter defaults — public). Definitional conventions
# (documented, shared verbatim by both engines): "lines" are the
# newline-split segments that are non-empty after trim, with their
# ORIGINAL content (no trimming) used for the end-char / length /
# duplicate tests; words are space tokens after newline-to-space
# normalization (the upstream uses a language tokenizer — a
# corpus-contract deviation like lang_id's);
# boundary compares are strict on the keep side (keep iff punct
# ratio > 0.12, every other fraction < its cap).
FINEWEB_TERMINALS = (".", "'", '"', "!", "?")
FINEWEB_MIN_LINE_PUNCT_RATIO = 0.12
FINEWEB_SHORT_LINE_LEN = 30
FINEWEB_MAX_SHORT_LINE_FRAC = 0.67
FINEWEB_MAX_CHAR_DUP_FRAC = 0.01
FINEWEB_MAX_NEWLINE_WORD_RATIO = 0.3


def fineweb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FineWeb custom quality panel per document — the three
    line-shape heuristics Penedo et al. added on top of Gopher/C4
    plus the newline-to-word list-detector, each an observable flag:
    fraction of lines ending in terminal punctuation (> 0.12 to
    keep), fraction of lines <= 30 chars (< 0.67), fraction of
    characters in duplicated lines (< 0.01, over newline-free text),
    and newline count per word (< 0.3).  A document with no
    non-empty line fails (the upstream's "empty" drop).

    100 TB shape: zero-shuffle narrow map — every signal is an array
    expression over one line split inside a single WholeStageCodegen
    scan, exactly like gopher_quality/c4_quality."""
    return fineweb_quality_for(_read(spark, sf_dir, "documents"))


def fineweb_quality_for(docs: DataFrame, carry: Sequence[str] = ()) -> DataFrame:
    """Core of :func:`fineweb_quality` over an arbitrary
    ``(doc_id, text)`` frame (constructed-input test surface). The
    ``carry`` columns of ``docs`` pass through after ``doc_id``."""
    terms = ", ".join(
        f"'{t.replace(chr(39), chr(39) * 2)}'" for t in FINEWEB_TERMINALS
    )
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *carry,
        F.expr("filter(split(text, chr(10)), x -> trim(x) <> '')").alias(
            "lines"
        ),
        (F.size(F.expr("split(text, chr(10))")) - 1)
        .cast("long")
        .alias("n_newlines"),
        F.size(
            F.expr(
                "filter(split(replace(text, chr(10), ' '), ' '), "
                "w -> w <> '')"
            )
        )
        .cast("long")
        .alias("n_words"),
        F.length(F.replace(F.col("text"), F.lit("\n"), F.lit("")))
        .cast("long")
        .alias("nchars"),
    )
    m = base.select(
        "doc_id",
        *carry,
        "n_newlines",
        "n_words",
        "nchars",
        F.size("lines").cast("long").alias("n_lines"),
        F.size(F.expr(f"filter(lines, x -> right(x, 1) IN ({terms}))"))
        .cast("long")
        .alias("n_punct_lines"),
        F.size(
            F.expr(f"filter(lines, x -> length(x) <= {FINEWEB_SHORT_LINE_LEN})")
        )
        .cast("long")
        .alias("n_short_lines"),
        F.expr(
            "aggregate(array_distinct(lines), 0L, (acc, d) -> acc + "
            "(size(filter(lines, x -> x = d)) - 1) * length(d))"
        ).alias("dup_line_chars"),
    )
    nz = F.col("n_lines") > 0
    nl = F.greatest(F.col("n_lines"), F.lit(1))
    punct = F.col("n_punct_lines") / nl
    short = F.col("n_short_lines") / nl
    chardup = F.col("dup_line_chars") / F.greatest(F.col("nchars"), F.lit(1))
    listr = F.col("n_newlines") / F.greatest(F.col("n_words"), F.lit(1))
    ok_punct = nz & (punct > FINEWEB_MIN_LINE_PUNCT_RATIO)
    ok_short = nz & (short < FINEWEB_MAX_SHORT_LINE_FRAC)
    ok_chardup = nz & (chardup < FINEWEB_MAX_CHAR_DUP_FRAC)
    ok_list = nz & (listr < FINEWEB_MAX_NEWLINE_WORD_RATIO)
    zero = F.lit(0.0)
    return m.select(
        "doc_id",
        *carry,
        "n_lines",
        F.round(F.when(nz, punct).otherwise(zero), 4).alias(
            "line_punct_ratio"
        ),
        F.round(F.when(nz, short).otherwise(zero), 4).alias(
            "short_line_frac"
        ),
        F.round(F.when(nz, chardup).otherwise(zero), 4).alias(
            "char_dup_frac"
        ),
        F.round(F.when(nz, listr).otherwise(zero), 4).alias(
            "newline_word_ratio"
        ),
        ok_punct.alias("ok_line_punct"),
        ok_short.alias("ok_short_lines"),
        ok_chardup.alias("ok_char_dup"),
        ok_list.alias("ok_list_ratio"),
        (ok_punct & ok_short & ok_chardup & ok_list).alias("keep"),
    )


_FW_LINES_SQL = (
    "list_filter(string_split(text, chr(10)), x -> trim(x) <> '')"
)
_FW_TERMS_SQL = ", ".join(
    f"'{t.replace(chr(39), chr(39) * 2)}'" for t in FINEWEB_TERMINALS
)

FINEWEB_QUALITY_SQL = f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_FW_LINES_SQL} AS lines,
         CAST(len(string_split(text, chr(10))) - 1 AS BIGINT) AS n_newlines,
         CAST(len(list_filter(string_split(replace(text, chr(10), ' '), ' '),
              w -> w <> '')) AS BIGINT) AS n_words,
         CAST(length(replace(text, chr(10), '')) AS BIGINT) AS nchars
  FROM documents
),
m AS (
  SELECT doc_id, n_newlines, n_words, nchars,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines, x -> right(x, 1) IN ({_FW_TERMS_SQL})))
              AS BIGINT) AS n_punct_lines,
         CAST(len(list_filter(lines,
              x -> length(x) <= {FINEWEB_SHORT_LINE_LEN})) AS BIGINT)
           AS n_short_lines,
         COALESCE(list_sum(list_transform(list_distinct(lines),
           d -> (len(list_filter(lines, x -> x = d)) - 1) * length(d))), 0)
           AS dup_line_chars
  FROM base
),
f AS (
  SELECT doc_id, n_lines,
         n_punct_lines * 1.0 / greatest(n_lines, 1) AS punct,
         n_short_lines * 1.0 / greatest(n_lines, 1) AS short,
         dup_line_chars * 1.0 / greatest(nchars, 1) AS chardup,
         n_newlines * 1.0 / greatest(n_words, 1) AS listr
  FROM m
)
SELECT doc_id, n_lines,
       ROUND(CASE WHEN n_lines > 0 THEN punct ELSE 0.0 END, 4)
         AS line_punct_ratio,
       ROUND(CASE WHEN n_lines > 0 THEN short ELSE 0.0 END, 4)
         AS short_line_frac,
       ROUND(CASE WHEN n_lines > 0 THEN chardup ELSE 0.0 END, 4)
         AS char_dup_frac,
       ROUND(CASE WHEN n_lines > 0 THEN listr ELSE 0.0 END, 4)
         AS newline_word_ratio,
       (n_lines > 0 AND punct > {FINEWEB_MIN_LINE_PUNCT_RATIO})
         AS ok_line_punct,
       (n_lines > 0 AND short < {FINEWEB_MAX_SHORT_LINE_FRAC})
         AS ok_short_lines,
       (n_lines > 0 AND chardup < {FINEWEB_MAX_CHAR_DUP_FRAC})
         AS ok_char_dup,
       (n_lines > 0 AND listr < {FINEWEB_MAX_NEWLINE_WORD_RATIO})
         AS ok_list_ratio,
       (n_lines > 0 AND punct > {FINEWEB_MIN_LINE_PUNCT_RATIO}
        AND short < {FINEWEB_MAX_SHORT_LINE_FRAC}
        AND chardup < {FINEWEB_MAX_CHAR_DUP_FRAC}
        AND listr < {FINEWEB_MAX_NEWLINE_WORD_RATIO}) AS keep
FROM f
"""


def doc_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length percentiles (p50/p90/p99 of chars)
    — the distribution profile that sizes chunking/windowing decisions
    downstream. Spark ``percentile`` ≡ DuckDB ``quantile_cont``
    (same linear interpolation), proven by median_value_by_type."""
    docs = _read(spark, sf_dir, "documents")
    n = F.length("text").cast("double")
    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.expr("percentile(length(text), 0.5)"), 2).alias("p50_chars"),
        F.round(F.expr("percentile(length(text), 0.9)"), 2).alias("p90_chars"),
        F.round(F.expr("percentile(length(text), 0.99)"), 2).alias("p99_chars"),
        F.max(n).cast("long").alias("max_chars"),
    )


DOC_LENGTH_PROFILE_SQL = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(quantile_cont(length(text), 0.5), 2) AS p50_chars,
       ROUND(quantile_cont(length(text), 0.9), 2) AS p90_chars,
       ROUND(quantile_cont(length(text), 0.99), 2) AS p99_chars,
       CAST(MAX(length(text)) AS BIGINT) AS max_chars
FROM documents GROUP BY source
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized content fingerprint (lowercase, alnum+space only →
    md5): the canonical pre-dedup digest."""
    docs = _read(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", "")
    return docs.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        F.length(normalized).cast("long").alias("norm_len"),
    )


DOC_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fingerprint,
       CAST(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS norm_len
FROM documents
"""


TFIDF_TOP_K = 5


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-k terms by summed TF-IDF — the vocabulary
    dashboard a corpus-curation pipeline uses to spot boilerplate and
    domain drift.

    100 TB shape: token explode → map-side partial (doc_id, term)
    counts (one shuffle), term document-frequencies from the same
    frame (second shuffle on term, AQE-broadcastable vocab), a 1-row
    broadcast for the corpus size, then a per-source window top-k
    (TakeOrdered shape). All built-in expressions; natural-log IDF
    rounded to 6dp for engine-portable hashing."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source", "text")
    terms = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "source", "term").agg(
        F.count("*").alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    # idf is constant per term, so aggregate the INTEGER tf first and
    # multiply once: a float SUM's addition order differs between
    # engines and would make the 6dp-rounded hash flaky (the decimal
    # lesson from the oracle-portability rules)
    scored = (
        tf.groupBy("source", "term")
        .agg(F.sum("tf").alias("tf_sum"))
        .join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score", F.col("tf_sum") * F.log(F.col("n_docs") / F.col("df"))
        )
    )
    from pyspark.sql.window import Window

    # rank on the ROUNDED score: ordering by the raw double lets a
    # 1-ulp ln() difference between engines flip mathematically-tied
    # terms and change top-k membership
    w = Window.partitionBy("source").orderBy(
        F.desc(F.round("score", 6)), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select(
            "source",
            "term",
            F.round("score", 6).cast("double").alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


TFIDF_TOP_TERMS_SQL = f"""
WITH terms AS (
  SELECT doc_id, source, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  WHERE t.term <> ''
),
tf AS (
  SELECT doc_id, source, term, COUNT(*) AS tf
  FROM terms GROUP BY doc_id, source, term
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
tfsum AS (
  SELECT source, term, SUM(tf) AS tf_sum FROM tf GROUP BY source, term
),
scored AS (
  SELECT tfsum.source, tfsum.term,
         tf_sum * ln(n.n_docs * 1.0 / df.df) AS score
  FROM tfsum JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT source, term, score,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY ROUND(score, 6) DESC, term ASC) AS rank
  FROM scored
)
SELECT source, term, CAST(ROUND(score, 6) AS DOUBLE) AS score,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    "Scaling Language Models", Table A1): per-document duplicate-word
    fraction, top-token fraction and top-bigram fraction — the
    standard "is this page boilerplate/spam" filters of a web-scale
    curation pipeline.

    100 TB shape: a ZERO-shuffle narrow map — every signal is an
    array-function expression over the tokenized text (no explode, no
    groupBy), so the plan is a single WholeStageCodegen scan that
    scales embarrassingly. Per-row cost is O(distinct·n) with n
    bounded by document length.
    """
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), t -> t <> '')").alias("toks"),
    )
    top_tok = (
        "coalesce(array_max(transform(array_distinct(toks), "
        "d -> size(filter(toks, t -> t = d)))), 0)"
    )
    # sequence(1, 0) is DESCENDING in Spark, so guard size < 2
    bigrams = (
        "CASE WHEN size(toks) < 2 THEN CAST(array() AS ARRAY<STRING>) "
        "ELSE transform(sequence(1, size(toks) - 1), "
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) END"
    )
    top_big = (
        "coalesce(array_max(transform(array_distinct(bigrams), "
        "d -> size(filter(bigrams, t -> t = d)))), 0)"
    )
    staged = toks.select(
        "doc_id",
        F.size("toks").alias("n_tok"),
        F.size(F.array_distinct("toks")).alias("n_dis"),
        F.expr(top_tok).alias("top_tok_cnt"),
        F.expr(bigrams).alias("bigrams"),
    ).select(
        "doc_id", "n_tok", "n_dis", "top_tok_cnt",
        F.expr(top_big).alias("top_big_cnt"),
    )
    # int/int division promotes to double identically in both engines,
    # but cast the numerator explicitly; greatest(.., 1) guards empties
    return staged.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tokens"),
        F.col("n_dis").cast("long").alias("n_distinct"),
        F.expr(
            "CAST(n_tok - n_dis AS DOUBLE) / greatest(n_tok, 1)"
        ).alias("dup_word_frac"),
        F.expr(
            "CAST(top_tok_cnt AS DOUBLE) / greatest(n_tok, 1)"
        ).alias("top_token_frac"),
        F.expr(
            "CAST(top_big_cnt AS DOUBLE) / greatest(n_tok - 1, 1)"
        ).alias("top_bigram_frac"),
    )


REPETITION_SIGNALS_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
  FROM documents
),
big AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
              ELSE list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1])
         END AS bigrams
  FROM toks
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
         / greatest(len(toks), 1) AS dup_word_frac,
       CAST(coalesce(list_max(list_transform(list_distinct(toks),
              d -> len(list_filter(toks, t -> t = d)))), 0) AS DOUBLE)
         / greatest(len(toks), 1) AS top_token_frac,
       CAST(coalesce(list_max(list_transform(list_distinct(bigrams),
              d -> len(list_filter(bigrams, t -> t = d)))), 0) AS DOUBLE)
         / greatest(len(toks) - 1, 1) AS top_bigram_frac
FROM big
"""


# Gopher repetition thresholds (Rae et al. 2021, Table A1 — public):
# top-n-gram character fraction caps for n=2..4, duplicate-n-gram
# character fraction caps for n=5..10, and the duplicate-line rules.
GOPHER_REP_TOP = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_REP_DUP = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
GOPHER_MAX_DUP_LINE_FRAC = 0.30
GOPHER_MAX_DUP_LINE_CHAR_FRAC = 0.20
# Table A1's paragraph twin of the line rules (paragraphs = blank-
# line-separated blocks, the web-text convention)
GOPHER_MAX_DUP_PARA_FRAC = 0.30
GOPHER_MAX_DUP_PARA_CHAR_FRAC = 0.20


def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher REPETITION panel per document (Rae et al. 2021
    Table A1), completing :func:`gopher_quality`'s rule set: top-n-gram
    character fraction for n=2..4 (chars covered by the single most
    repeated n-gram), duplicate-n-gram character fraction for n=5..10
    (chars in occurrences beyond the first of any repeated n-gram),
    and duplicate-line count/character fractions.  Deterministic
    definitional choices (documented, identical in both engines): the
    top-n-gram statistic is ``max over distinct n-grams WITH count >=
    2 of count*len(gram)`` (a deterministic tie-break the threshold
    compare is insensitive to; the count>=2 guard keeps an unrepeated
    n-gram from "covering" a short document — zero repetition must
    score 0 on a repetition panel); the duplicate-n-gram statistic counts every
    occurrence beyond the first (the ``find_duplicates`` convention),
    not the greedy non-overlapping skip; n-grams are space-joined and
    the denominator is ``length(text)``.  Paragraph rules (Table A1's
    duplicate-paragraph count/character fractions) share the line
    mechanism with a '\\n\\n' blank-line segmenter — a single-block
    document is one paragraph and trivially passes.  Empty/short docs
    pass (their word-count rejection belongs to gopher_quality).

    100 TB shape: a per-document map with no shuffle.  Catalyst
    lowercases and splits the words and computes the line/paragraph
    counts; one row function (:func:`repetition_counts`, through
    ``functions.extract.map_rows``) counts each document's n-grams and
    returns their integer signature; the fractions and rounding are
    Catalyst again.  A task holds one document's grams at a time, so
    memory is bounded by the largest document, not the corpus; only
    a single-split input is spread across the cores first
    (:func:`~pdftotext_spark.operators.materialize.spread`)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_repetition_for(spread(docs, "doc_id"))


# the integer n-gram signature per document: t<n> top-n-gram chars,
# d<n> duplicate-n-gram chars
REP_NS = [*GOPHER_REP_TOP, *GOPHER_REP_DUP]
REPETITION_FIELDS = [
    f"{'t' if n in GOPHER_REP_TOP else 'd'}{n}" for n in REP_NS
]


def repetition_counts(a) -> list[tuple]:
    """Row function of :func:`repetition_signature`: over the word
    array ``a``, ``t<n>`` = max over distinct n-grams with count >= 2
    of ``count * len(gram)`` (0 if none) for n = 2..4, and ``d<n>`` =
    sum over distinct n-grams of ``(count - 1) * len(gram)`` for
    n = 5..10, where a gram is its words joined by one space.  One
    row per document, also for an empty or null array."""
    words = [] if a is None else list(a)
    out = []
    for n in REP_NS:
        # a gram is a tuple of words: joined, its length is the word
        # lengths plus n - 1 spaces
        reps = [
            (c, sum(map(len, g)) + n - 1)
            for g, c in Counter(zip(*[words[k:] for k in range(n)])).items()
            if c >= 2
        ]
        if n in GOPHER_REP_TOP:
            out.append(max((c * chars for c, chars in reps), default=0))
        else:
            out.append(sum((c - 1) * chars for c, chars in reps))
    return [tuple(out)]


def repetition_signature(df: DataFrame, keys: list[str]) -> DataFrame:
    """``keys`` + :data:`REPETITION_FIELDS` (long) per row of ``df``,
    from its word array column ``a``, by :func:`repetition_counts`."""
    schema = T.StructType(
        [df.schema[k] for k in keys]
        + [T.StructField(c, T.LongType()) for c in REPETITION_FIELDS]
    )
    return map_rows(df, keys, ["a"], schema, repetition_counts)


def gopher_repetition_for(docs: DataFrame, carry: Sequence[str] = ()) -> DataFrame:
    """Core of :func:`gopher_repetition` over an arbitrary
    ``(doc_id, text)`` frame (constructed-input test surface). The
    ``carry`` columns of ``docs`` ride through the row function as
    keys and come out after ``doc_id``. A caller spreads a
    single-split input first (:func:`gopher_repetition` does)."""
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *carry,
        F.length("text").cast("long").alias("tchars"),
        F.expr("filter(split(lower(text), ' '), x -> x <> '')").alias("a"),
        F.expr("split(text, chr(10))").alias("lines"),
        F.expr("split(text, chr(10) || chr(10))").alias("paras"),
    )
    # line/paragraph rules: per-row lambdas bounded by block count
    lineside = base.select(
        "doc_id",
        *carry,
        "tchars",
        F.size("lines").cast("long").alias("n_lines"),
        (F.size("lines") - F.size(F.array_distinct("lines")))
        .cast("long")
        .alias("dup_line_cnt"),
        F.expr(
            "aggregate(array_distinct(lines), 0L, (acc, d) -> acc + "
            "(size(filter(lines, x -> x = d)) - 1) * length(d))"
        ).alias("dup_line_chars"),
        F.size("paras").cast("long").alias("n_paras"),
        (F.size("paras") - F.size(F.array_distinct("paras")))
        .cast("long")
        .alias("dup_para_cnt"),
        F.expr(
            "aggregate(array_distinct(paras), 0L, (acc, d) -> acc + "
            "(size(filter(paras, x -> x = d)) - 1) * length(d))"
        ).alias("dup_para_chars"),
        "a",
    )
    # the line-side integers ride through the row function as keys
    m = repetition_signature(lineside, lineside.columns[:-1])
    tc = F.greatest(F.col("tchars"), F.lit(1))
    fr = {c: F.col(c) / tc for c in REPETITION_FIELDS}
    line_frac = F.col("dup_line_cnt") / F.col("n_lines")
    line_char_frac = F.col("dup_line_chars") / tc
    ok_lines = (line_frac <= GOPHER_MAX_DUP_LINE_FRAC) & (
        line_char_frac <= GOPHER_MAX_DUP_LINE_CHAR_FRAC
    )
    para_frac = F.col("dup_para_cnt") / F.col("n_paras")
    para_char_frac = F.col("dup_para_chars") / tc
    ok_paras = (para_frac <= GOPHER_MAX_DUP_PARA_FRAC) & (
        para_char_frac <= GOPHER_MAX_DUP_PARA_CHAR_FRAC
    )
    ok_top = None
    for k, thr in GOPHER_REP_TOP.items():
        c = fr[f"t{k}"] <= thr
        ok_top = c if ok_top is None else (ok_top & c)
    ok_dup = None
    for k, thr in GOPHER_REP_DUP.items():
        c = fr[f"d{k}"] <= thr
        ok_dup = c if ok_dup is None else (ok_dup & c)
    return m.select(
        "doc_id",
        *carry,
        F.round(line_frac, 4).alias("dup_line_frac"),
        F.round(line_char_frac, 4).alias("dup_line_char_frac"),
        F.round(para_frac, 4).alias("dup_para_frac"),
        F.round(para_char_frac, 4).alias("dup_para_char_frac"),
        *[
            F.round(fr[f"t{k}"], 4).alias(f"top_{k}gram_char_frac")
            for k in GOPHER_REP_TOP
        ],
        *[
            F.round(fr[f"d{k}"], 4).alias(f"dup_{k}gram_char_frac")
            for k in GOPHER_REP_DUP
        ],
        ok_lines.alias("ok_dup_lines"),
        ok_paras.alias("ok_dup_paras"),
        ok_top.alias("ok_top_ngram"),
        ok_dup.alias("ok_dup_ngram"),
        (ok_lines & ok_paras & ok_top & ok_dup).alias("keep"),
    )


_GREP_NS = ", ".join(map(str, REP_NS))

GOPHER_REPETITION_SQL = f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(length(text) AS BIGINT) AS tchars,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS a,
         string_split(text, chr(10)) AS lines,
         string_split(text, chr(10) || chr(10)) AS paras
  FROM documents
),
gram_lists AS (
  SELECT doc_id, ns.n,
         list_transform(generate_series(1, len(a) - ns.n + 1),
                        i -> array_to_string(a[i : i + ns.n - 1], ' ')) AS gs
  FROM base, (SELECT unnest([{_GREP_NS}]) AS n) ns
  WHERE len(a) >= ns.n
),
grams AS (SELECT doc_id, n, unnest(gs) AS g FROM gram_lists),
counts AS (SELECT doc_id, n, g, COUNT(*) AS cnt FROM grams GROUP BY doc_id, n, g),
per_n AS (
  SELECT doc_id, n,
         MAX(CASE WHEN cnt >= 2 THEN cnt * length(g) END) AS top_chars,
         SUM((cnt - 1) * length(g)) AS dup_chars
  FROM counts GROUP BY doc_id, n
),
sig AS (
  SELECT doc_id,
         {', '.join(f"MAX(CASE WHEN n = {k} THEN top_chars END) AS t{k}" for k in GOPHER_REP_TOP)},
         {', '.join(f"MAX(CASE WHEN n = {k} THEN dup_chars END) AS d{k}" for k in GOPHER_REP_DUP)}
  FROM per_n GROUP BY doc_id
),
lineside AS (
  SELECT doc_id, tchars,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(lines) - len(list_distinct(lines)) AS BIGINT)
           AS dup_line_cnt,
         COALESCE(list_sum(list_transform(list_distinct(lines),
           d -> (len(list_filter(lines, x -> x = d)) - 1) * length(d))), 0)
           AS dup_line_chars,
         CAST(len(paras) AS BIGINT) AS n_paras,
         CAST(len(paras) - len(list_distinct(paras)) AS BIGINT)
           AS dup_para_cnt,
         COALESCE(list_sum(list_transform(list_distinct(paras),
           d -> (len(list_filter(paras, x -> x = d)) - 1) * length(d))), 0)
           AS dup_para_chars
  FROM base
),
f AS (
  SELECT l.doc_id,
         dup_line_cnt * 1.0 / n_lines AS line_frac,
         dup_line_chars * 1.0 / greatest(tchars, 1) AS line_char_frac,
         dup_para_cnt * 1.0 / n_paras AS para_frac,
         dup_para_chars * 1.0 / greatest(tchars, 1) AS para_char_frac,
         {', '.join(f"COALESCE(t{k}, 0) * 1.0 / greatest(tchars, 1) AS tf{k}" for k in GOPHER_REP_TOP)},
         {', '.join(f"COALESCE(d{k}, 0) * 1.0 / greatest(tchars, 1) AS df{k}" for k in GOPHER_REP_DUP)}
  FROM lineside l LEFT JOIN sig s ON l.doc_id = s.doc_id
)
SELECT doc_id,
       ROUND(line_frac, 4) AS dup_line_frac,
       ROUND(line_char_frac, 4) AS dup_line_char_frac,
       ROUND(para_frac, 4) AS dup_para_frac,
       ROUND(para_char_frac, 4) AS dup_para_char_frac,
       {', '.join(f"ROUND(tf{k}, 4) AS top_{k}gram_char_frac" for k in GOPHER_REP_TOP)},
       {', '.join(f"ROUND(df{k}, 4) AS dup_{k}gram_char_frac" for k in GOPHER_REP_DUP)},
       (line_frac <= {GOPHER_MAX_DUP_LINE_FRAC}
        AND line_char_frac <= {GOPHER_MAX_DUP_LINE_CHAR_FRAC}) AS ok_dup_lines,
       (para_frac <= {GOPHER_MAX_DUP_PARA_FRAC}
        AND para_char_frac <= {GOPHER_MAX_DUP_PARA_CHAR_FRAC}) AS ok_dup_paras,
       ({' AND '.join(f"tf{k} <= {thr}" for k, thr in GOPHER_REP_TOP.items())}) AS ok_top_ngram,
       ({' AND '.join(f"df{k} <= {thr}" for k, thr in GOPHER_REP_DUP.items())}) AS ok_dup_ngram,
       ((line_frac <= {GOPHER_MAX_DUP_LINE_FRAC}
         AND line_char_frac <= {GOPHER_MAX_DUP_LINE_CHAR_FRAC})
        AND (para_frac <= {GOPHER_MAX_DUP_PARA_FRAC}
         AND para_char_frac <= {GOPHER_MAX_DUP_PARA_CHAR_FRAC})
        AND ({' AND '.join(f"tf{k} <= {thr}" for k, thr in GOPHER_REP_TOP.items())})
        AND ({' AND '.join(f"df{k} <= {thr}" for k, thr in GOPHER_REP_DUP.items())})) AS keep
FROM f
"""


CHUNK_W = 32  # tokens per chunk
CHUNK_S = 24  # stride (8-token overlap)


# Encoding-anomaly heuristics (the public ftfy-style mojibake
# signatures): the Unicode replacement character, UTF-8-decoded-as-
# Latin-1 two-char markers, and C0/DEL control characters outside
# tab/newline/CR. The marker list is a heuristic — a FLAG panel, not
# a transformation; every marker is a plain substring count so both
# engines share the arithmetic exactly.
ENCODING_MOJIBAKE_MARKERS = (
    "â€",  # 'â€' — the curly-quote/dash family signature
    "Ã©",  # 'Ã©' (é), the most common doubled accent
    "Ã¨",  # 'Ã¨' (è)
    "Ã¤",  # 'Ã¤' (ä)
    "Ã¶",  # 'Ã¶' (ö)
    "Ã¼",  # 'Ã¼' (ü)
    "Ã±",  # 'Ã±' (ñ)
    "Ã§",  # 'Ã§' (ç)
    "Â ",  # 'Â ' + nbsp — the double-encoded nbsp
)
ENCODING_MAX_ANOMALY_RATIO = 0.001
_ENC_CTRL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"


def encoding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document encoding-health panel: counts of U+FFFD
    replacement characters, classic UTF-8-as-Latin-1 mojibake marker
    sequences, and stray C0/DEL control characters, plus their
    combined per-character ratio and a ``keep`` verdict (ratio <=
    0.001).  A corpus ingested through byte-lossy hops (bad charset
    sniffing, double decoding) fails here before any language/quality
    panel can make sense of it.

    100 TB shape: zero-shuffle narrow map — substring counts are
    length-difference arithmetic and the control-char count is one
    regexp_replace, all inside a single WholeStageCodegen scan."""
    return encoding_quality_for(_read(spark, sf_dir, "documents"))


def encoding_quality_for(docs: DataFrame) -> DataFrame:
    """Core of :func:`encoding_quality` over an arbitrary
    ``(doc_id, text)`` frame (constructed-input test surface)."""
    n_moji = sum(
        (_count_occ(F.col("text"), m) for m in ENCODING_MOJIBAKE_MARKERS),
        F.lit(0).cast("long"),
    )
    # Python-API regexp_replace: the pattern string reaches the JVM
    # regex engine verbatim (no SQL-literal escape processing)
    n_ctrl = (
        F.length("text")
        - F.length(F.regexp_replace(F.col("text"), _ENC_CTRL_RE, ""))
    ).cast("long")
    m = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("n_chars"),
        _count_occ(F.col("text"), "�").alias("n_replacement"),
        n_moji.alias("n_mojibake"),
        n_ctrl.alias("n_control"),
    )
    bad = F.col("n_replacement") + F.col("n_mojibake") + F.col("n_control")
    ratio = bad / F.greatest(F.col("n_chars"), F.lit(1))
    return m.select(
        "doc_id",
        "n_chars",
        "n_replacement",
        "n_mojibake",
        "n_control",
        F.round(ratio, 6).alias("anomaly_ratio"),
        (ratio <= ENCODING_MAX_ANOMALY_RATIO).alias("keep"),
    )


_ENC_MOJI_SQL = " + ".join(
    _count_occ_sql("text", m) for m in ENCODING_MOJIBAKE_MARKERS
)

ENCODING_QUALITY_SQL = f"""
WITH m AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         {_count_occ_sql("text", chr(0xFFFD))} AS n_replacement,
         CAST({_ENC_MOJI_SQL} AS BIGINT) AS n_mojibake,
         CAST(length(text) - length(regexp_replace(text,
              '{_ENC_CTRL_RE}', '', 'g')) AS BIGINT) AS n_control
  FROM documents
)
SELECT doc_id, n_chars, n_replacement, n_mojibake, n_control,
       ROUND((n_replacement + n_mojibake + n_control) * 1.0
             / greatest(n_chars, 1), 6) AS anomaly_ratio,
       ((n_replacement + n_mojibake + n_control) * 1.0
        / greatest(n_chars, 1) <= {ENCODING_MAX_ANOMALY_RATIO}) AS keep
FROM m
"""


# Canonical text normalization (the pre-tokenization cleanup pass a
# training pipeline runs before counting anything): typographic
# punctuation to ASCII, nbsp to space, zero-width/soft-hyphen/BOM
# stripped, control chars stripped, space runs collapsed, ends
# trimmed. The map is ordered and shared VERBATIM by both engines —
# a transformation, so the oracle compares the cleaned text itself.
TEXT_NORMALIZE_MAP = (
    ("\u00a0", " "),  # no-break space
    ("\u2018", "'"), ("\u2019", "'"), ("\u201a", "'"),  # curly singles
    ("\u201c", '"'), ("\u201d", '"'), ("\u201e", '"'),  # curly doubles
    ("\u2013", "-"), ("\u2014", "-"), ("\u2212", "-"),  # dashes/minus
    ("\u2026", "..."),  # ellipsis
    ("\u00ad", ""),  # soft hyphen
    ("\ufeff", ""),  # BOM / zero-width no-break
    ("\u200b", ""),  # zero-width space
    ("\t", " "),  # tab to space (pre collapse)
)


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document normalized text: the ordered
    :data:`TEXT_NORMALIZE_MAP` substitutions, control-char strip,
    space-run collapse, and whole-text trim — with before/after char
    counts and a ``changed`` flag so a pipeline can measure how dirty
    each source is.  Newlines are PRESERVED (line structure feeds the
    line-shape panels); only horizontal whitespace collapses.

    100 TB shape: zero-shuffle narrow map — a chain of replace /
    regexp_replace expressions in one WholeStageCodegen scan, no
    Python."""
    return text_normalize_for(_read(spark, sf_dir, "documents"))


def text_normalize_for(docs: DataFrame) -> DataFrame:
    """Core of :func:`text_normalize` over an arbitrary
    ``(doc_id, text)`` frame (constructed-input test surface)."""
    t = F.col("text")
    for src, dst in TEXT_NORMALIZE_MAP:
        t = F.replace(t, F.lit(src), F.lit(dst))
    t = F.regexp_replace(t, _ENC_CTRL_RE, "")
    t = F.regexp_replace(t, " {2,}", " ")
    # explicit trim set: space/newline/CR (tab already mapped to
    # space above) — plain trim() strips spaces only in BOTH engines
    t = F.btrim(t, F.lit(" \n\r"))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("n_chars_before"),
        F.length(t).cast("long").alias("n_chars_after"),
        (t != F.col("text")).alias("changed"),
        t.alias("text_norm"),
    )


def _text_normalize_sql_chain(expr: str) -> str:
    for src, dst in TEXT_NORMALIZE_MAP:
        s = src.replace("'", "''")
        d = dst.replace("'", "''")
        expr = f"replace({expr}, '{s}', '{d}')"
    expr = f"regexp_replace({expr}, '{_ENC_CTRL_RE}', '', 'g')"
    expr = f"regexp_replace({expr}, ' {{2,}}', ' ', 'g')"
    return f"trim({expr}, ' ' || chr(10) || chr(13))"


TEXT_NORMALIZE_SQL = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_before,
       CAST(length({_text_normalize_sql_chain('text')}) AS BIGINT)
         AS n_chars_after,
       ({_text_normalize_sql_chain('text')} <> text) AS changed,
       {_text_normalize_sql_chain('text')} AS text_norm
FROM documents
"""


def strip_repeated_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document boilerplate removal: drop every verbatim
    repeat of a non-blank line, keeping the FIRST occurrence (nav
    bars, cookie banners, and footer blocks repeated by a template
    engine inside one page). Blank lines always survive — they are
    structure, not content, and legitimately repeat between
    paragraphs. The cross-corpus twin of this operation is
    ``paragraph_dedup`` (CCNet); this one needs no shuffle at all.

    Definitional choice shared by both engines: first occurrence =
    ``array_position(lines, x) == index`` (1-based), quadratic in a
    document's LINE count only — the same bounded-width lambda class
    as the panels' line rules.

    100 TB shape: zero-shuffle narrow map over one line split."""
    return strip_repeated_lines_for(_read(spark, sf_dir, "documents"))


def strip_repeated_lines_for(docs: DataFrame) -> DataFrame:
    """Core of :func:`strip_repeated_lines` over an arbitrary
    ``(doc_id, text)`` frame (constructed-input test surface)."""
    lines = F.expr("split(text, chr(10))")
    kept = F.expr(
        "filter(split(text, chr(10)), (x, j) -> trim(x) = '' "
        "OR array_position(split(text, chr(10)), x) = j + 1)"
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        (F.size(lines) - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, "\n").alias("text_clean"),
    )


STRIP_REPEATED_LINES_SQL = """
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split(text, chr(10)) AS lines
  FROM documents
),
k AS (
  SELECT doc_id, lines,
         list_filter(lines, (x, j) -> trim(x) = ''
           OR list_position(lines, x) = j) AS kept
  FROM base
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(lines) - len(kept) AS BIGINT) AS n_removed,
       COALESCE(array_to_string(kept, chr(10)), '') AS text_clean
FROM k
"""



def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the primitive that feeds an
    embedding/indexing pipeline (context-window-sized pieces with
    overlap so no boundary sentence is lost).

    100 TB shape: zero-shuffle narrow map — chunk count and slices are
    array expressions per row; output explodes ~n_tokens/stride rows
    per doc with deterministic (doc_id, chunk_idx) identity, so the
    stage pipelines straight into a parquet/Iceberg sink with no
    repartition."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), t -> t <> '')").alias("toks"),
    ).select("doc_id", "toks", F.size("toks").alias("n_tok"))
    # chunks = 1 + ceil((n_tok - W) / S) for n_tok > W else 1
    last_idx = (
        f"CASE WHEN n_tok <= {CHUNK_W} THEN 0 "
        f"ELSE CAST(floor((n_tok - {CHUNK_W} + {CHUNK_S} - 1.0) / {CHUNK_S}) AS INT) END"
    )
    chunked = toks.filter(F.col("n_tok") > 0).select(
        "doc_id",
        "toks",
        "n_tok",
        F.explode(F.expr(f"sequence(0, {last_idx})")).alias("chunk_idx"),
    )  # zero-token docs emit NO chunks (not one empty chunk)
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.expr(
            f"array_join(slice(toks, chunk_idx * {CHUNK_S} + 1, {CHUNK_W}), ' ')"
        ).alias("chunk_text"),
        (F.col("chunk_idx") * CHUNK_S + 1).cast("long").alias("start_tok"),
        F.expr(f"least(chunk_idx * {CHUNK_S} + {CHUNK_W}, n_tok)")
        .cast("long")
        .alias("end_tok"),
    )


CHUNK_DOCUMENTS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
  FROM documents
),
n AS (SELECT doc_id, toks, len(toks) AS n_tok FROM toks),
c AS (
  SELECT doc_id, toks, n_tok,
         unnest(range(0, CASE WHEN n_tok = 0 THEN 0 WHEN n_tok <= {CHUNK_W} THEN 1
           ELSE CAST(floor((n_tok - {CHUNK_W} + {CHUNK_S} - 1.0) / {CHUNK_S}) AS INT) + 1 END))
           AS chunk_idx
  FROM n
)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       array_to_string(list_slice(toks, chunk_idx * {CHUNK_S} + 1,
                                  chunk_idx * {CHUNK_S} + {CHUNK_W}), ' ')
         AS chunk_text,
       CAST(chunk_idx * {CHUNK_S} + 1 AS BIGINT) AS start_tok,
       CAST(least(chunk_idx * {CHUNK_S} + {CHUNK_W}, n_tok) AS BIGINT) AS end_tok
FROM c
"""


SAMPLE_PER_STRATUM = 5


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: k docs per source, ranked by
    md5(source:doc_id) — the reproducible eval-split / spot-check
    primitive (same rows on every run and every engine, unlike
    ``TABLESAMPLE``).

    100 TB shape: one window per stratum (shuffle on source) and the
    rank predicate prunes to k rows per group before any wide payload
    column is carried — select the ids first, join the payload back if
    needed."""
    docs = _read(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    key = F.md5(F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(key, F.asc("doc_id"))
    return (
        docs.select("source", "doc_id", key.alias("sample_key"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= SAMPLE_PER_STRATUM)
        .select(
            "source",
            F.col("doc_id").cast("long").alias("doc_id"),
            "sample_key",
            F.col("sample_rank").cast("long").alias("sample_rank"),
        )
    )


STRATIFIED_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT source, doc_id,
         md5(source || ':' || CAST(doc_id AS VARCHAR)) AS sample_key
  FROM documents
),
ranked AS (
  SELECT source, doc_id, sample_key,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY sample_key, doc_id ASC) AS sample_rank
  FROM keyed
)
SELECT source, CAST(doc_id AS BIGINT) AS doc_id, sample_key,
       CAST(sample_rank AS BIGINT) AS sample_rank
FROM ranked WHERE sample_rank <= {SAMPLE_PER_STRATUM}
"""


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    predicted language, rank documents by LM logloss
    (:func:`trigram_logloss`, ties broken doc_id ASC) and cut into
    equal thirds — ``head`` (most fluent), ``middle``, ``tail``.
    The bucket rule is pure integer arithmetic (rnk*3 vs n), so both
    engines agree exactly; the logloss itself is already
    micro-bit-deterministic cross-engine.

    100 TB shape (r7 skew-safe rank): a per-language
    ``row_number() OVER (PARTITION BY pred_lang ORDER BY logloss)``
    makes one dominant language a single-task sort of most of the
    corpus, so the rank is decomposed the :func:`zipf_fit` way —
    rank = (count of same-language rows with strictly smaller
    logloss, from a running sum over the TINY per-language logloss
    histogram) + (row_number among ties, a window partitioned by
    (pred_lang, logloss_bits)).  No window's partition can hold more
    than one logloss value's tie group; the histogram frame is
    distinct-(lang, logloss)-sized and broadcasts back onto the
    corpus.  Identical rnk for every row (pinned vs the exact window
    by test), so the bucket output is byte-identical."""
    from pyspark.sql.window import Window

    ll = trigram_logloss(spark, sf_dir)
    lang = lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    # the slim scored frame feeds TWO consumers (the histogram and the
    # rank join-back) — cut lineage once or the trigram-LM subtree
    # re-derives per consumer (the corpus-consumed-twice lesson;
    # measured 3.2 s -> 8.1 s without the cut)
    j = ll.join(lang, "doc_id").transform(materialize_lazy)
    hist = j.groupBy("pred_lang", "logloss_bits").agg(
        F.count("*").alias("n_val")
    )
    w_off = Window.partitionBy("pred_lang").orderBy(
        F.asc("logloss_bits")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    offsets = hist.select(
        "pred_lang",
        "logloss_bits",
        (F.sum("n_val").over(w_off) - F.col("n_val")).alias("offset"),
        F.sum("n_val").over(Window.partitionBy("pred_lang")).alias("n_lang"),
    )
    w_tie = Window.partitionBy("pred_lang", "logloss_bits").orderBy(
        F.asc("doc_id")
    )
    ranked = j.join(offsets, ["pred_lang", "logloss_bits"]).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "pred_lang",
        "n_tokens",
        "logloss_bits",
        (F.col("offset") + F.row_number().over(w_tie)).alias("rnk"),
        "n_lang",
    )
    bucket = (
        F.when(F.col("rnk") * 3 <= F.col("n_lang"), F.lit("head"))
        .when(F.col("rnk") * 3 <= 2 * F.col("n_lang"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ranked.select(
        "doc_id", "pred_lang", "n_tokens", "logloss_bits",
        bucket.alias("bucket"),
    )


PERPLEXITY_BUCKETS_SQL = f"""
WITH ll AS ({{TRIGRAM}}),
lang AS ({{LANG}}),
j AS (
  SELECT ll.doc_id, lang.pred_lang, ll.n_tokens, ll.logloss_bits
  FROM ll JOIN lang USING (doc_id)
),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY pred_lang
                            ORDER BY logloss_bits, doc_id) AS rnk,
         COUNT(*) OVER (PARTITION BY pred_lang) AS n_lang
  FROM j
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, pred_lang, n_tokens, logloss_bits,
       CASE WHEN rnk * 3 <= n_lang THEN 'head'
            WHEN rnk * 3 <= 2 * n_lang THEN 'middle'
            ELSE 'tail' END AS bucket
FROM r
"""


# ln-value scale for the Zipf least-squares terms: 1e4 keeps every
# per-term product and their corpus-wide bigint sums far from
# overflow even at 1e8 vocabulary types (ln(1e8)*1e4 ~ 1.8e5;
# squared ~ 3.4e10; * 1e8 terms ~ 3.4e18 < 2^63), while 1e-4 ln
# precision is far below the 4dp output rounding.
ZIPF_SCALE = 10_000


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level Zipf's-law fit: least squares of ln(frequency) on
    ln(rank) over the token vocabulary — slope (Zipf exponent is
    -slope), intercept, and r2, plus n_types/n_tokens.  A healthy
    natural-language corpus fits slope ~ -1 with high r2; boilerplate
    or template-generated corpora bend the curve (low r2) — a
    one-number corpus-health diagnostic for a curation run.

    Determinism/portability: ranks are exact (ties broken tok ASC);
    each per-term ln is rounded to ``1/ZIPF_SCALE`` units as an
    INTEGER and all five least-squares sums are bigint sums of
    per-term integer products — order-proof (the unigram_logloss
    micro-bit convention), so both engines sum identical integers.
    The final slope/intercept/r2 arithmetic casts those exact
    integers to double once (deterministic round-to-nearest, same
    IEEE result both engines).

    100 TB shape: ranking a billion-type vocabulary must NOT be one
    global window (single task).  Rank = (count of terms with
    strictly higher frequency) + (row_number among ties) — the
    offset comes from a running sum over the TINY frequency
    histogram (distinct counts, ~thousands of rows), and the
    tie-break window partitions BY frequency, so every window is
    distributed. One explode, three shuffles (vocab, histogram,
    tie-rank), one scalar row out."""
    from pyspark.sql.window import Window

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    uni = docs.select(
        F.explode(
            F.expr("filter(split(lower(text), ' '), x -> x <> '')")
        ).alias("tok")
    )
    vocab = uni.groupBy("tok").agg(F.count("*").alias("cnt"))
    hist = vocab.groupBy("cnt").agg(F.count("*").alias("n_terms"))
    w_off = Window.orderBy(F.desc("cnt")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = hist.select(
        "cnt",
        (F.sum("n_terms").over(w_off) - F.col("n_terms")).alias("offset"),
    )
    w_tie = Window.partitionBy("cnt").orderBy(F.asc("tok"))
    ranked = (
        vocab.join(offsets, "cnt")
        .select(
            "cnt",
            (F.col("offset") + F.row_number().over(w_tie))
            .cast("long")
            .alias("rank"),
        )
    )
    sc = F.lit(ZIPF_SCALE)
    xi = F.round(F.log(F.col("rank").cast("double")) * sc, 0).cast("long")
    yi = F.round(F.log(F.col("cnt").cast("double")) * sc, 0).cast("long")
    sums = ranked.select(
        xi.alias("x"), yi.alias("y"), F.col("cnt")
    ).agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_types").cast("double")
    s = float(ZIPF_SCALE)
    x = F.col("sx").cast("double") / s
    y = F.col("sy").cast("double") / s
    xy = F.col("sxy").cast("double") / (s * s)
    xx = F.col("sxx").cast("double") / (s * s)
    yy = F.col("syy").cast("double") / (s * s)
    cov = n * xy - x * y
    varx = n * xx - x * x
    vary = n * yy - y * y
    slope = cov / varx
    return sums.select(
        "n_types",
        "n_tokens",
        F.round(slope, 4).alias("slope"),
        F.round((y - slope * x) / n, 4).alias("intercept"),
        F.round((cov * cov) / (varx * vary), 4).alias("r2"),
    )


ZIPF_FIT_SQL = f"""
WITH uni AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '),
                x -> x <> '')) AS tok
  FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM uni GROUP BY tok),
ranked AS (
  SELECT cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rank
  FROM vocab
),
terms AS (
  SELECT cnt,
         CAST(ROUND(ln(CAST(rank AS DOUBLE)) * {ZIPF_SCALE}, 0) AS BIGINT) AS x,
         CAST(ROUND(ln(CAST(cnt AS DOUBLE)) * {ZIPF_SCALE}, 0) AS BIGINT) AS y
  FROM ranked
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM terms
),
d AS (
  -- single divisions with the SAME constants as the Spark side so
  -- every double is bit-identical before the rounding
  SELECT n_types, n_tokens,
         CAST(n_types AS DOUBLE) AS n,
         CAST(sx AS DOUBLE) / {float(ZIPF_SCALE)} AS x,
         CAST(sy AS DOUBLE) / {float(ZIPF_SCALE)} AS y,
         CAST(sxy AS DOUBLE) / {float(ZIPF_SCALE) * ZIPF_SCALE} AS xy,
         CAST(sxx AS DOUBLE) / {float(ZIPF_SCALE) * ZIPF_SCALE} AS xx,
         CAST(syy AS DOUBLE) / {float(ZIPF_SCALE) * ZIPF_SCALE} AS yy
  FROM sums
),
e AS (
  SELECT *, n * xy - x * y AS cov,
         n * xx - x * x AS varx,
         n * yy - y * y AS vary
  FROM d
)
SELECT n_types, n_tokens,
       ROUND(cov / varx, 4) AS slope,
       ROUND((y - (cov / varx) * x) / n, 4) AS intercept,
       ROUND((cov * cov) / (varx * vary), 4) AS r2
FROM e
"""


def unigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus unigram LM — the
    classic perplexity-flavored quality signal (outlier docs score
    high; boilerplate scores low). score = -mean(log2 p(tok)) with
    p = corpus_count/corpus_total.

    100 TB shape: two token scans — one building the vocabulary (then
    checkpointed: the corpus-total and the score join reuse it without
    re-deriving), one scoring; the token stream itself is NOT
    checkpointed (corpus-sized at scale). The vocab (≤ a few million
    rows) joins back broadcast-style after AQE sees its size. Engine portability:
    per-token log2 values are rounded to 6dp BEFORE the per-doc mean
    (the tfidf lesson: a 1-ulp ln() difference must not survive into
    the hashed output), and the mean divides an integer-scaled sum so
    addition order cannot perturb the double."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt")).transform(materialize)
    # total derives from the (tiny) vocab — re-exploding the corpus
    # for a scalar would be a third full token scan
    total = vocab.agg(F.sum("cnt").alias("total"))
    # integer-scale the per-token loss to whole micro-bits (round,
    # not cast: Spark's cast-to-long truncates, DuckDB's rounds) so
    # the per-doc SUM is exact integer arithmetic in any addition order
    scored = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .withColumn("loss_i", _micro_bits(F.col("cnt") / F.col("total")))
    )
    return _logloss_per_doc(docs, scored)


def _micro_bits(p: Column) -> Column:
    """-log2(p) in whole micro-bits (round, not cast: Spark's
    cast-to-long truncates, DuckDB's rounds)."""
    return F.round(-F.log2(p) * 1_000_000, 0).cast("long")


def _logloss_per_doc(docs: DataFrame, scored: DataFrame) -> DataFrame:
    """The n-gram loglosses' shared tail: per-doc token count and mean
    of the integer ``loss_i`` rows (exact in any addition order),
    left-joined back onto EVERY doc id of ``docs``.  ADVICE r5:
    zero-token documents vanished from the groupBy, and the oracle
    dropped them identically — the parity-blind class — so they emit
    (n_tokens=0, logloss_bits=0) rows, mirroring the dsir_select fix."""
    grouped = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        ((F.sum("loss_i") / F.count("*")) / 1_000_000.0).alias("logloss_bits"),
    )
    return docs.select("doc_id").join(grouped, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.col("logloss_bits"), F.lit(0.0)).alias("logloss_bits"),
    )


def _bigram_lm(spark: SparkSession, sf_dir: str):
    """The pieces the bigram and trigram LMs share, each built once:
    ``(docs, base, vocab, prev_vocab, total, bi, bcounts, first_scored)``
    — docs keyed by a long doc_id, the per-doc token array ``a``, the
    materialized unigram and bigram count tables, and the position-1
    unigram loss rows.  Bigrams come from a per-doc ARRAY slice-zip
    (no LAG window, so the token stream never shuffles by doc_id
    before the count aggregations)."""
    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    # spread before the token explodes: a one-file scan would run
    # them on one core
    base = spread(
        docs.select(
            "doc_id",
            F.expr("filter(split(lower(text), ' '), x -> x <> '')").alias("a"),
        ),
        "doc_id",
    )
    uni = base.select("doc_id", F.explode("a").alias("tok"))
    vocab = (
        uni.groupBy("tok").agg(F.count("*").alias("cnt")).transform(materialize)
    )
    prev_vocab = vocab.select(
        F.col("tok").alias("prev"), F.col("cnt").alias("prev_cnt")
    )
    total = vocab.agg(F.sum("cnt").alias("total"))
    bi = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(a) >= 2 THEN "
                "transform(sequence(1, size(a) - 1), "
                "i -> struct(a[i-1] AS prev, a[i] AS tok)) "
                "ELSE array() END"
            )
        ).alias("b"),
    ).select("doc_id", "b.prev", "b.tok")
    bcounts = (
        bi.groupBy("prev", "tok")
        .agg(F.count("*").alias("bcnt"))
        .transform(materialize)
    )
    first_scored = (
        base.filter(F.expr("size(a) > 0"))
        .select("doc_id", F.expr("a[0]").alias("tok"))
        .join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", _micro_bits(F.col("cnt") / F.col("total")).alias("loss_i"))
    )
    return docs, base, vocab, prev_vocab, total, bi, bcounts, first_scored


UNIGRAM_LOGLOSS_SQL = """
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
total AS (SELECT SUM(cnt) AS total FROM vocab),
scored AS (
  SELECT doc_id,
         CAST(ROUND(-log2(CAST(cnt AS DOUBLE) / total) * 1000000, 0) AS BIGINT)
           AS loss_i
  FROM toks JOIN vocab USING (tok) CROSS JOIN total
),
grouped AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         (SUM(loss_i) * 1.0 / COUNT(*)) / 1000000.0 AS logloss_bits
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(g.n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(g.logloss_bits, 0.0) AS logloss_bits
FROM documents d LEFT JOIN grouped g USING (doc_id)
"""


def bigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus BIGRAM LM — the
    CCNet-style perplexity quality filter one order up from
    :func:`unigram_logloss`: score = -mean(log2 p), where the first
    token pays its unigram probability and every later token pays the
    MLE conditional p(w_i | w_{i-1}) = bigram_count / count(w_{i-1})
    (every scored n-gram occurs in the corpus that includes the doc,
    so p > 0 without smoothing — the unigram op's argument).

    100 TB shape: bigrams come from a per-doc ARRAY slice-zip (no
    LAG window, so the token stream never shuffles by doc_id before
    the count aggregations); the vocab and bigram-count tables are
    checkpointed and join back AQE-broadcast-style. Portability: the
    same integer micro-bit rounding before the per-doc mean as the
    unigram op (order-proof sums)."""
    docs, _, _, prev_vocab, _, bi, bcounts, first_scored = _bigram_lm(
        spark, sf_dir
    )
    bi_scored = (
        bi.join(bcounts, ["prev", "tok"])
        .join(prev_vocab, "prev")
        .select(
            "doc_id",
            _micro_bits(F.col("bcnt") / F.col("prev_cnt")).alias("loss_i"),
        )
    )
    return _logloss_per_doc(docs, first_scored.unionByName(bi_scored))


BIGRAM_LOGLOSS_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS a
  FROM documents
),
uni AS (SELECT doc_id, unnest(a) AS tok FROM base),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM uni GROUP BY tok),
total AS (SELECT SUM(cnt) AS total FROM vocab),
firsts AS (SELECT doc_id, a[1] AS tok FROM base WHERE len(a) > 0),
bi AS (
  -- parallel unnests zip: (a[i], a[i+1]) adjacent pairs
  SELECT doc_id, unnest(a[1:len(a)-1]) AS prev, unnest(a[2:len(a)]) AS tok
  FROM base WHERE len(a) >= 2
),
bcounts AS (SELECT prev, tok, COUNT(*) AS bcnt FROM bi GROUP BY prev, tok),
scored AS (
  SELECT doc_id,
         CAST(ROUND(-log2(CAST(v.cnt AS DOUBLE) / t.total) * 1000000, 0)
              AS BIGINT) AS loss_i
  FROM firsts JOIN vocab v USING (tok) CROSS JOIN total t
  UNION ALL
  SELECT bi.doc_id,
         CAST(ROUND(-log2(CAST(bc.bcnt AS DOUBLE) / pv.cnt) * 1000000, 0)
              AS BIGINT) AS loss_i
  FROM bi
  JOIN bcounts bc ON bc.prev = bi.prev AND bc.tok = bi.tok
  JOIN vocab pv ON pv.tok = bi.prev
),
grouped AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         (SUM(loss_i) * 1.0 / COUNT(*)) / 1000000.0 AS logloss_bits
  FROM scored GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(g.n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(g.logloss_bits, 0.0) AS logloss_bits
FROM documents d LEFT JOIN grouped g USING (doc_id)
"""


# Jelinek-Mercer interpolation weights for the trigram LM (deleted
# interpolation, Jelinek & Mercer 1980): fixed lambdas, renormalized
# at position 2 where no trigram context exists (0.3/0.2 -> 0.6/0.4).
TRIGRAM_L3 = 0.5
TRIGRAM_L2 = 0.3
TRIGRAM_L1 = 0.2


def trigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a Jelinek-Mercer INTERPOLATED
    corpus trigram LM — the next order up from :func:`bigram_logloss`
    and the closest SQL-expressible stand-in for the KenLM-style
    perplexity filters of CCNet/RedPajama: score = -mean(log2 p) with
    p = L3*p3 + L2*p2 + L1*p1 for positions >= 3, the L2/L1
    renormalization (0.6/0.4) at position 2, and the raw unigram at
    position 1.  Interpolation (unlike backoff) keeps p > 0 from the
    unigram term alone, and every scored n-gram occurs in the corpus
    that includes the doc, so all count joins are inner.

    100 TB shape: uni/bi/tri-gram positions come from per-doc ARRAY
    slice-zips (no LAG window — the token stream never shuffles by
    doc_id before the count aggregations); the three count tables are
    materialized once and join back AQE-broadcast-style.
    Portability: the interpolated p is ONE fixed-shape expression
    (left-to-right adds of integer-ratio doubles — identical IEEE
    result both engines) and per-position losses are integer
    micro-bit rounded before the per-doc mean (order-proof sums, the
    unigram_logloss convention). Zero-token docs emit
    (n_tokens=0, logloss_bits=0) rows — the bigram_logloss lesson."""
    docs, base, vocab, prev_vocab, total, _, bcounts, p1_scored = _bigram_lm(
        spark, sf_dir
    )
    tri = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(a) >= 3 THEN "
                "transform(sequence(2, size(a) - 1), "
                "i -> struct(a[i-2] AS p2, a[i-1] AS p1, a[i] AS tok)) "
                "ELSE array() END"
            )
        ).alias("t"),
    ).select("doc_id", "t.p2", "t.p1", "t.tok")
    tcounts = (
        tri.groupBy("p2", "p1", "tok")
        .agg(F.count("*").alias("tcnt"))
        .transform(materialize)
    )
    # position 1 (pure unigram) is p1_scored; position 2:
    # renormalized bigram+unigram interpolation
    seconds = base.filter(F.expr("size(a) >= 2")).select(
        "doc_id", F.expr("a[0]").alias("prev"), F.expr("a[1]").alias("tok")
    )
    l2n = TRIGRAM_L2 / (TRIGRAM_L2 + TRIGRAM_L1)
    l1n = TRIGRAM_L1 / (TRIGRAM_L2 + TRIGRAM_L1)
    p2_scored = (
        seconds.join(bcounts, ["prev", "tok"])
        .join(prev_vocab, "prev")
        .join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            _micro_bits(
                F.lit(l2n) * (F.col("bcnt") / F.col("prev_cnt"))
                + F.lit(l1n) * (F.col("cnt") / F.col("total"))
            ).alias("loss_i"),
        )
    )
    # positions >= 3: full trigram interpolation
    ctx = bcounts.select(
        F.col("prev").alias("p2"),
        F.col("tok").alias("p1"),
        F.col("bcnt").alias("ctx_cnt"),
    )
    bi2 = bcounts.select(
        F.col("prev").alias("p1"),
        "tok",
        F.col("bcnt").alias("bcnt2"),
    )
    p1_vocab = vocab.select(
        F.col("tok").alias("p1"), F.col("cnt").alias("p1_cnt")
    )
    p3_scored = (
        tri.join(tcounts, ["p2", "p1", "tok"])
        .join(ctx, ["p2", "p1"])
        .join(bi2, ["p1", "tok"])
        .join(p1_vocab, "p1")
        .join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            _micro_bits(
                F.lit(TRIGRAM_L3) * (F.col("tcnt") / F.col("ctx_cnt"))
                + F.lit(TRIGRAM_L2) * (F.col("bcnt2") / F.col("p1_cnt"))
                + F.lit(TRIGRAM_L1) * (F.col("cnt") / F.col("total"))
            ).alias("loss_i"),
        )
    )
    return _logloss_per_doc(
        docs, p1_scored.unionByName(p2_scored).unionByName(p3_scored)
    )


TRIGRAM_LOGLOSS_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS a
  FROM documents
),
uni AS (SELECT doc_id, unnest(a) AS tok FROM base),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM uni GROUP BY tok),
total AS (SELECT SUM(cnt) AS total FROM vocab),
bi AS (
  SELECT doc_id, unnest(a[1:len(a)-1]) AS prev, unnest(a[2:len(a)]) AS tok
  FROM base WHERE len(a) >= 2
),
bcounts AS (SELECT prev, tok, COUNT(*) AS bcnt FROM bi GROUP BY prev, tok),
tri AS (
  SELECT doc_id, unnest(a[1:len(a)-2]) AS p2, unnest(a[2:len(a)-1]) AS p1,
         unnest(a[3:len(a)]) AS tok
  FROM base WHERE len(a) >= 3
),
tcounts AS (
  SELECT p2, p1, tok, COUNT(*) AS tcnt FROM tri GROUP BY p2, p1, tok
),
scored AS (
  SELECT doc_id,
         CAST(ROUND(-log2(CAST(v.cnt AS DOUBLE) / t.total) * 1000000, 0)
              AS BIGINT) AS loss_i
  FROM (SELECT doc_id, a[1] AS tok FROM base WHERE len(a) > 0) f
  JOIN vocab v USING (tok) CROSS JOIN total t
  UNION ALL
  SELECT s.doc_id,
         CAST(ROUND(-log2(
           {TRIGRAM_L2 / (TRIGRAM_L2 + TRIGRAM_L1)} * (CAST(bc.bcnt AS DOUBLE) / pv.cnt)
           + {TRIGRAM_L1 / (TRIGRAM_L2 + TRIGRAM_L1)} * (CAST(v.cnt AS DOUBLE) / t.total)
         ) * 1000000, 0) AS BIGINT) AS loss_i
  FROM (SELECT doc_id, a[1] AS prev, a[2] AS tok FROM base WHERE len(a) >= 2) s
  JOIN bcounts bc ON bc.prev = s.prev AND bc.tok = s.tok
  JOIN vocab pv ON pv.tok = s.prev
  JOIN vocab v ON v.tok = s.tok
  CROSS JOIN total t
  UNION ALL
  SELECT tri.doc_id,
         CAST(ROUND(-log2(
           {TRIGRAM_L3} * (CAST(tc.tcnt AS DOUBLE) / ctx.bcnt)
           + {TRIGRAM_L2} * (CAST(b2.bcnt AS DOUBLE) / pv.cnt)
           + {TRIGRAM_L1} * (CAST(v.cnt AS DOUBLE) / t.total)
         ) * 1000000, 0) AS BIGINT) AS loss_i
  FROM tri
  JOIN tcounts tc ON tc.p2 = tri.p2 AND tc.p1 = tri.p1 AND tc.tok = tri.tok
  JOIN bcounts ctx ON ctx.prev = tri.p2 AND ctx.tok = tri.p1
  JOIN bcounts b2 ON b2.prev = tri.p1 AND b2.tok = tri.tok
  JOIN vocab pv ON pv.tok = tri.p1
  JOIN vocab v ON v.tok = tri.tok
  CROSS JOIN total t
),
grouped AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         (SUM(loss_i) * 1.0 / COUNT(*)) / 1000000.0 AS logloss_bits
  FROM scored GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(g.n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(g.logloss_bits, 0.0) AS logloss_bits
FROM documents d LEFT JOIN grouped g USING (doc_id)
"""


# BPE-ish pre-tokenizer: GPT-2-style contiguous runs (letters /
# digits / other, optional leading space) — the same pattern string
# compiles identically under Java regex (Spark) and RE2 (DuckDB)
BPE_PATTERN = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


def bpe_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting under BOTH counting conventions: naive
    whitespace tokens vs a BPE-style regex pre-tokenization (the
    GPT-2 pattern family) — the ratio is what converts a corpus's
    word counts into model-token budgets per source.

    100 TB shape: pure per-row expressions + one grouped rollup
    (map-side partial); `regexp_extract_all` is JVM-side."""
    docs = _read(spark, sf_dir, "documents")
    ws = _count_occ(F.col("text"), " ") + 1
    bpe = F.expr(
        f"size(regexp_extract_all(lower(text), '{BPE_PATTERN}', 0))"
    )
    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(ws).cast("long").alias("ws_tokens"),
        F.sum(bpe).cast("long").alias("bpe_tokens"),
        F.round(
            F.sum(bpe).cast("double") / F.sum(ws), 4
        ).alias("bpe_to_ws_ratio"),
    )


BPE_TOKEN_PROFILE_SQL = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM({_count_occ_sql('text', ' ')} + 1) AS BIGINT) AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(lower(text), '{BPE_PATTERN}'))) AS BIGINT)
         AS bpe_tokens,
       ROUND(CAST(SUM(len(regexp_extract_all(lower(text), '{BPE_PATTERN}'))) AS DOUBLE)
             / SUM({_count_occ_sql('text', ' ')} + 1), 4) AS bpe_to_ws_ratio
FROM documents GROUP BY source
"""


# power of two (exactness of the double-divide-then-truncate vs
# DuckDB's integer // depends on it); 256 sizes real multi-pack
# splits on the synthetic corpus (~1.5k tokens/source) — a real
# deployment raises it to its context length
PACK_BUDGET_TOKENS = 256


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: assign each document to a
    training pack by its running token offset within its source
    (pack = offset // PACK_BUDGET_TOKENS, documents in doc_id order) —
    the deterministic streaming-pack policy for batching a corpus into
    fixed-token training sequences. Documents straddling a boundary
    belong to the pack where they START (greedy reset-accumulator
    packing is order-recursive and not expressible as a plain window;
    the offset policy is, identically in both engines, and wastes at
    most one doc-tail per boundary).

    100 TB shape: one window per source partition (no global sort) —
    sources are the natural parallel unit of a corpus build."""
    from pyspark.sql.window import Window

    docs = _read(spark, sf_dir, "documents")
    n_tokens = (_count_occ(F.col("text"), " ") + 1).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
    return toks.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        .cast("long")
        .alias("start_offset"),
        # double division then long cast truncates; exact vs DuckDB's
        # integer // because the budget is a power of two, so every
        # quotient is binary-exact (cast-truncation trap from the
        # build notes doesn't bite)
        (
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
            / F.lit(PACK_BUDGET_TOKENS)
        )
        .cast("long")
        .alias("pack_id"),
    )


PACK_SEQUENCES_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         {_count_occ_sql('text', ' ')} + 1 AS n_tokens
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(coalesce(SUM(n_tokens) OVER (
         PARTITION BY source ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS start_offset,
       CAST(coalesce(SUM(n_tokens) OVER (
         PARTITION BY source ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         // {PACK_BUDGET_TOKENS} AS BIGINT) AS pack_id
FROM toks
"""


# ------------------------------------------------------------ PII scrub

# Redaction patterns, written in the common subset of Java regex
# (Spark) and RE2 (DuckDB): no lookaround, no backrefs — both engines
# compile these identically.  CCNet/Dolma-style corpus hygiene: mask,
# don't drop, so the document survives with its structure intact.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\b\d{3}[- .]\d{3}[- .]\d{4}\b"
_PII_RULES = (
    # application order matters (an email can embed an IP-like host);
    # both engines apply the same sequence
    ("email", PII_EMAIL_RE, "<EMAIL>"),
    ("ip", PII_IPV4_RE, "<IP>"),
    ("phone", PII_PHONE_RE, "<PHONE>"),
)


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over ``documents``: replace email addresses,
    IPv4 addresses and NANP-style phone numbers with typed mask
    tokens, reporting per-category match counts (counted on the
    ORIGINAL text, before any replacement — so an email-embedded IP
    counts as both even though the email mask consumes it first).

    100 TB shape: a zero-shuffle narrow map — three
    ``regexp_replace`` + three ``regexp_count`` expressions fused into
    one whole-stage-codegen projection over the parquet scan; scales
    embarrassingly.  Masking (vs dropping) follows CCNet/Dolma corpus
    practice: downstream dedup and quality signals still see the
    document.

    ``probe_redacted`` redacts a deterministic doc_id-derived string
    carrying one instance of each PII category.  Why: the synthetic
    corpus contains no organic PII, so without it the cross-engine
    gate compares text==text and 0==0 — value-trivially green (the r2
    zero-row-oracle lesson, in value space).  A Java-vs-RE2 regex
    divergence leaves per-row digits unmasked in one engine and the
    hash mismatches."""
    docs = _read(spark, sf_dir, "documents")

    def _apply_rules(col: Column) -> Column:
        for _, pat, repl in _PII_RULES:
            col = F.regexp_replace(col, pat, repl)
        return col

    probe = F.concat(
        F.lit("reach "),
        F.col("doc_id").cast("string"),
        F.lit("@probe.ex or 10.1."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".9 at 555-010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return docs.select(
        "doc_id",
        _apply_rules(F.col("text")).alias("redacted_text"),
        *[
            F.regexp_count("text", F.lit(pat)).cast("long").alias(f"n_{name}")
            for name, pat, _ in _PII_RULES
        ],
        _apply_rules(probe).alias("probe_redacted"),
    )


def _pii_redact_sql_text(expr: str = "text") -> str:
    for _, pat, repl in _PII_RULES:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return expr


_PII_PROBE_SQL = (
    "'reach ' || CAST(doc_id AS VARCHAR) || '@probe.ex or 10.1.' || "
    "CAST(doc_id % 200 AS VARCHAR) || '.9 at 555-010-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)

PII_REDACT_SQL = f"""
SELECT doc_id,
       {_pii_redact_sql_text()} AS redacted_text,
       {", ".join(
           f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT)"
           f" AS n_{name}"
           for name, pat, _ in _PII_RULES
       )},
       {_pii_redact_sql_text(f"({_PII_PROBE_SQL})")} AS probe_redacted
FROM documents
"""


# ------------------------------------------------------ vocab coverage

VOCAB_TOP_K = 50


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing curve: the top-K corpus terms by occurrence
    count with each term's cumulative share of total token mass — the
    evidence a vocabulary/tokenizer decision reads (how much of the
    corpus do the first K entries cover?).

    100 TB shape: token explode -> ONE groupBy(term) with map-side
    partial aggregation; the top-K comes from ``orderBy().limit()``
    which plans as TakeOrderedAndProject (per-partition heaps, no
    global sort — a web-scale vocabulary has billions of entries, so a
    global row_number window over the full vocab frame would funnel it
    through one task); ranking and the running sum then operate on the
    K-row result only.  The corpus-total denominator is an integer SUM
    — exact, so one final division is the only float op (order-proof
    hashing).  ROWS framing is explicit: RANGE (the default) would
    merge count-ties across both engines' window semantics
    differently-ordered peers."""
    from pyspark.sql.window import Window

    docs = _read(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    cnt = terms.groupBy("term").agg(F.count("*").alias("cnt"))
    total = cnt.agg(F.sum("cnt").alias("total"))
    topk = cnt.orderBy(F.desc("cnt"), F.asc("term")).limit(VOCAB_TOP_K)
    # the unpartitioned window below sees exactly <= VOCAB_TOP_K rows
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .withColumn("cum_cnt", F.sum("cnt").over(cum))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rank").cast("long"),
            "term",
            F.col("cnt").cast("long"),
            F.round(F.col("cum_cnt") / F.col("total"), 6).alias("cum_share"),
        )
    )


VOCAB_COVERAGE_SQL = f"""
WITH terms AS (
  SELECT t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  WHERE t.term <> ''
),
cnt AS (SELECT term, COUNT(*) AS cnt FROM terms GROUP BY term),
total AS (SELECT SUM(cnt) AS total FROM cnt),
ranked AS (
  SELECT term, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rank,
         SUM(cnt) OVER (ORDER BY cnt DESC, term ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt
  FROM cnt
)
SELECT CAST(rank AS BIGINT) AS rank, term, CAST(cnt AS BIGINT) AS cnt,
       ROUND(cum_cnt * 1.0 / total.total, 6) AS cum_share
FROM ranked CROSS JOIN total
WHERE rank <= {VOCAB_TOP_K}
"""


# DSIR (Xie et al. 2023, arXiv:2302.03169) hashed-feature importance
# resampling. Feature space = md5-prefix buckets (16^DSIR_BUCKETS_HEX
# buckets; the paper uses 10k hashed n-grams — the prefix length is
# the scale lever and, being md5-derived, replays in DuckDB like
# every other pseudo-random draw in this repo). Selection is the
# deterministic top-N by log importance weight (the paper resamples
# with Gumbel noise; rank-by-weight is its noise-free limit and the
# only oracle-checkable variant).
DSIR_BUCKETS_HEX = 2  # 16^2 = 256 hashed feature buckets
DSIR_SELECT_N = 200  # resample size
_DSIR_B = 16**DSIR_BUCKETS_HEX


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling: score every document
    by sum_tokens log2(p_target(bucket) / p_raw(bucket)) under
    add-one-smoothed hashed-unigram LMs, where the target distribution
    is the lexicographically-first source (a stand-in for "the
    high-quality domain" — Wikipedia in the paper) and the raw
    distribution is the whole corpus; keep the top DSIR_SELECT_N.

    100 TB shape: TWO token scans total — one fused count pass (raw
    and target bucket counts in a single constant-key-space groupBy
    with a conditional sum; the token stream itself is never
    checkpointed) and one scoring pass; the ≤16^DSIR_BUCKETS_HEX-row
    count table joins back broadcast and the top-N plans as
    TakeOrderedAndProject on the integer-summed weight (never a global
    window). Portability: per-token log2 values are integer-scaled to
    micro-bits before the per-doc sum (order-proof addition, the
    unigram_logloss convention) and selection ranks on the exact
    integer sum with a doc_id tie-break. Zero-token documents are
    EMITTED (not silently dropped) with logweight 0 — the empty
    product is equally likely under both LMs, so they rank above
    negative-weight docs and below positive ones."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr("filter(split(lower(text), ' '), x -> x <> '')")
        ).alias("tok"),
    ).withColumn(
        "bucket", F.substring(F.md5("tok"), 1, DSIR_BUCKETS_HEX)
    )
    target = docs.agg(F.min("source").alias("tsrc"))
    # ONE count scan: raw and target-conditional counts per bucket
    cnt = (
        toks.crossJoin(F.broadcast(target))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("cr"),
            F.sum(
                F.when(F.col("source") == F.col("tsrc"), 1).otherwise(0)
            ).alias("ct"),
        )
        .transform(materialize)
    )
    totals = cnt.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
    )
    ratio = (
        (F.col("ct") + F.lit(1.0)) / (F.col("tt") + F.lit(float(_DSIR_B)))
    ) / ((F.col("cr") + F.lit(1.0)) / (F.col("tr") + F.lit(float(_DSIR_B))))
    scored_tok = (
        toks.join(F.broadcast(cnt), "bucket")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "lw_i",
            F.round(F.log2(ratio) * 1_000_000, 0).cast("long"),
        )
    )
    scored = scored_tok.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("lw_i").alias("lw"),
    )
    # left-join back onto ALL doc ids so zero-token documents get an
    # explicit (n_tokens=0, lw=0) row instead of vanishing, then
    # materialize: doc feeds BOTH the top-N and the final join — an
    # unshared lineage would re-run the token scan + scoring twice
    doc = (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
            F.coalesce(F.col("lw"), F.lit(0)).cast("long").alias("lw"),
        )
        .transform(materialize)
    )
    # top-N ids by exact integer weight -> TakeOrderedAndProject
    sel = (
        doc.orderBy(F.desc("lw"), F.asc("doc_id"))
        .limit(DSIR_SELECT_N)
        .select("doc_id", F.lit(True).alias("selected"))
    )
    return doc.join(F.broadcast(sel), "doc_id", "left").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        (F.col("lw") / F.lit(1_000_000.0)).alias("logweight_bits"),
        F.coalesce(F.col("selected"), F.lit(False)).alias("selected"),
    )


DSIR_SELECT_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, substr(md5(t.tok), 1, {DSIR_BUCKETS_HEX}) AS bucket
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
tgt AS (SELECT MIN(source) AS tsrc FROM documents),
cnt AS (
  SELECT bucket, COUNT(*) AS cr,
         SUM(CASE WHEN source = tsrc THEN 1 ELSE 0 END) AS ct
  FROM toks CROSS JOIN tgt GROUP BY bucket
),
totals AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM cnt),
scored_tok AS (
  SELECT k.doc_id,
         CAST(ROUND(log2(
           ((c.ct + 1.0) / (t.tt + {_DSIR_B}.0))
           / ((c.cr + 1.0) / (t.tr + {_DSIR_B}.0))
         ) * 1000000, 0) AS BIGINT) AS lw_i
  FROM toks k
  JOIN cnt c USING (bucket)
  CROSS JOIN totals t
),
doc0 AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(lw_i) AS lw
  FROM scored_tok GROUP BY doc_id
),
doc AS (
  SELECT d.doc_id,
         CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
         CAST(COALESCE(lw, 0) AS BIGINT) AS lw
  FROM documents d LEFT JOIN doc0 USING (doc_id)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY lw DESC, doc_id ASC) AS rn
  FROM doc
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       lw / 1000000.0 AS logweight_bits,
       rn <= {DSIR_SELECT_N} AS selected
FROM ranked
"""


# Temperature exponent for source mixing. alpha=0.5 means q_s is
# proportional to sqrt(p_s): sqrt is correctly-rounded IEEE-754 in
# both engines, so the unnormalized weights are bit-identical
# cross-engine before the (integer-scaled, order-proof) normalization.
MIX_TEMP_ALPHA = 0.5


def mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(Human-readable 6dp report; the integer-micro-unit twin that
    feeds the rebalance/pack/streaming apply family is
    ``operators.mixing`` — same α=0.5 curve, see its module
    docstring.) Temperature-flattened source sampling weights — the
    multilingual mixing rule of mT5 / XLM-R (q_s proportional to
    p_s^alpha with alpha < 1): upsample low-resource sources, damp
    dominant ones. p_s = source s's share of corpus tokens;
    oversample = q_s / p_s is the rate multiplier a sampler applies
    to that source (> 1 boosts).

    100 TB shape: one token-count scan aggregated to the (tiny,
    constant-key) per-source table, then scalar broadcast joins —
    never a shuffle wider than the source count. Portability: the
    normalizing sum adds INTEGER-scaled sqrt values (1e12) so
    addition order can't perturb the weights; oversample divides the
    two single-division doubles (identical expression both engines)
    and rounds once at the end."""
    docs = _read(spark, sf_dir, "documents").select("source", "text")
    per_src = (
        docs.select(
            "source",
            F.size(
                F.expr("filter(split(lower(text), ' '), x -> x <> '')")
            ).cast("long").alias("n"),
        )
        .groupBy("source")
        .agg(F.sum("n").alias("n_tokens"))
        .transform(materialize)
    )
    total = per_src.agg(F.sum("n_tokens").alias("total"))
    with_p = per_src.crossJoin(F.broadcast(total)).withColumn(
        "sq_i",
        F.round(
            F.sqrt(F.col("n_tokens") / F.col("total")) * 1e12, 0
        ).cast("long"),
    )
    ssum = with_p.agg(F.sum("sq_i").alias("ssum"))
    return (
        with_p.crossJoin(F.broadcast(ssum))
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.col("n_tokens") / F.col("total"), 6).alias("p_raw"),
            F.round(F.col("sq_i") / F.col("ssum"), 6).alias("weight"),
            F.round(
                (F.col("sq_i") / F.col("ssum"))
                / (F.col("n_tokens") / F.col("total")),
                6,
            ).alias("oversample"),
        )
    )


MIX_WEIGHTS_SQL = """
WITH per_src AS (
  SELECT source,
         SUM(len(list_filter(string_split(lower(text), ' '),
                             x -> x <> ''))) AS n_tokens
  FROM documents GROUP BY source
),
total AS (SELECT SUM(n_tokens) AS total FROM per_src),
with_p AS (
  SELECT source, n_tokens,
         CAST(ROUND(sqrt(n_tokens * 1.0 / total) * 1e12, 0) AS BIGINT)
           AS sq_i,
         total
  FROM per_src CROSS JOIN total
),
ssum AS (SELECT SUM(sq_i) AS ssum FROM with_p)
SELECT source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(n_tokens * 1.0 / total, 6) AS p_raw,
       ROUND(sq_i * 1.0 / ssum, 6) AS weight,
       ROUND((sq_i * 1.0 / ssum) / (n_tokens * 1.0 / total), 6)
         AS oversample
FROM with_p CROSS JOIN ssum
"""


# BPE merge learning (Sennrich et al. 2016). Spark does the only
# corpus-sized work: one scan + one groupBy reduce the corpus to the
# (word, freq) VOCABULARY, which the driver collects — the footprint
# every production tokenizer trainer (HF tokenizers, SentencePiece)
# accepts. The merge loop then runs driver-side with incremental
# pair-count maintenance (learn_bpe's indexed form): a lazy max-heap
# keyed (count DESC, left ASC, right ASC) and, per merge,
# subtract-all/add-all pair updates for exactly the words containing
# the merged pair — bit-for-bit the naive per-round recount (pinned in
# tests), at O(touched-word chars) per merge instead of O(vocab) per
# round. That one trainer feeds every BPE query: the merge tables at
# BPE_MERGE_ROUNDS and BPE_DRIVER_ROUNDS, and the final per-word
# symbol sequences after BPE_MERGE_ROUNDS merges that the apply side
# reads. The DuckDB oracles replay the same loop independently as
# FIXED unrolled rounds: rounds after pair exhaustion emit no merge
# row and leave the vocabulary unchanged (LEFT JOIN on the empty
# argmax — a cross join would destroy it).
BPE_MERGE_ROUNDS = 8
BPE_DRIVER_ROUNDS = 32  # 4× the apply side's depth, still DuckDB-replayed

# left-to-right non-overlapping merge of (bl, br) over the
# space-joined symbol string `seq` — a string-accumulator fold seeded
# with the first symbol (DuckDB list_reduce in the oracle replay). The
# boundary checks use substr, not LIKE/regex, so symbols may contain
# any non-space character.
_BPE_FOLD_CASE = (
    "CASE WHEN x = {br} AND "
    "substr(acc, length(acc) - length({bl}) + 1) = {bl} AND "
    "(length(acc) = length({bl}) OR "
    "substr(acc, length(acc) - length({bl}), 1) = ' ') "
    "THEN substr(acc, 1, length(acc) - length({bl})) || {bl} || {br} "
    "ELSE acc || ' ' || x END"
)


def _bpe_words(docs: DataFrame, *keep: str) -> DataFrame:
    """One row per space-separated word of ``text`` (lower-cased,
    empty splits dropped), carrying the ``keep`` columns."""
    return docs.select(
        *keep,
        F.explode(
            F.expr("filter(split(lower(text), ' '), x -> x <> '')")
        ).alias("word"),
    )


def _bpe_vocab(
    spark: SparkSession, sf_dir: str, max_words: int | None = None
) -> list[tuple[str, int]]:
    """The corpus (word, freq) vocabulary, word-sorted, on the driver.
    ``max_words`` keeps the top-frequency words (word-ASC tie-break)
    when an open vocabulary outgrows the driver."""
    docs = _read(spark, sf_dir, "documents").select("text")
    wf = _bpe_words(docs).groupBy("word").agg(F.count("*").alias("freq"))
    if max_words is not None:
        wf = wf.orderBy(F.desc("freq"), F.asc("word")).limit(max_words)
    return sorted((r.word, int(r.freq)) for r in wf.collect())


def _train_bpe_driver(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> tuple[list[tuple[int, str, str, str, int]], list[list[str]]]:
    """Driver-side BPE merge loop over a (word, freq) list. Exact
    semantics of the reference Sennrich loop: overlapping adjacent
    pair counts weighted by word frequency, argmax under the
    (count DESC, left ASC, right ASC) total order, leftmost
    non-overlapping application, stop on pair exhaustion. Returns
    ``(merges, seqs)``: [(merge_rank, left_sym, right_sym, merged,
    pair_count)] and each input word's final symbol sequence, in input
    order."""
    import heapq
    from collections import defaultdict

    words = [list(w) for w, _ in word_freqs]
    freqs = [f for _, f in word_freqs]
    counts: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, s in enumerate(words):
        f = freqs[wi]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            counts[p] += f
            where[p].add(wi)
    heap = [(-c, p) for p, c in counts.items() if c > 0]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        # lazy invalidation: pop until the top entry's count is current
        while heap and counts.get(heap[0][1], 0) != -heap[0][0]:
            heapq.heappop(heap)
        if not heap:
            break
        c, (a, b) = -heap[0][0], heap[0][1]
        heapq.heappop(heap)
        merges.append((rank, a, b, a + b, c))
        merged = a + b
        # a merged pair can never re-form (merges only concatenate
        # adjacent symbols; leftmost application leaves no (a,b)
        # adjacency), so its index is consumed here. where-sets may
        # hold stale members (word no longer contains the pair) —
        # for those the subtract/apply/add below cancels exactly.
        for wi in where.pop((a, b), ()):
            s = words[wi]
            f = freqs[wi]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] -= f
            out: list[str] = []
            i = 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == a and s[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            words[wi] = out
            for i in range(len(out) - 1):
                q = (out[i], out[i + 1])
                counts[q] += f
                where[q].add(wi)
            # re-advertise every touched pair at its current count
            # (old heap entries are stale; the lazy check skips them)
            for seq in (s, out):
                for i in range(len(seq) - 1):
                    q = (seq[i], seq[i + 1])
                    if counts.get(q, 0) > 0:
                        heapq.heappush(heap, (-counts[q], q))
        counts[(a, b)] = 0
    return merges, words


def bpe_learn_merges_driver(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 1000,
    max_words: int | None = None,
) -> DataFrame:
    """BPE tokenizer training (see the block comment above): Spark
    reduces the corpus to the (word, freq) vocabulary (``max_words``
    caps it, see :func:`_bpe_vocab`), :func:`_train_bpe_driver` runs
    ``n_merges`` merges driver-side. Output: one row per performed
    merge (merge_rank, left_sym, right_sym, merged, pair_count); the
    whole table is pinned equal to the naive pure-Python reference
    loop in tests."""
    merges, _ = _train_bpe_driver(
        _bpe_vocab(spark, sf_dir, max_words), n_merges
    )
    return spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count long",
    )


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first BPE_MERGE_ROUNDS byte-pair-encoding merges
    (see :func:`bpe_learn_merges_driver`)."""
    return bpe_learn_merges_driver(spark, sf_dir, n_merges=BPE_MERGE_ROUNDS)


def _bpe_final_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (word, freq, seq) vocabulary after BPE_MERGE_ROUNDS merges,
    ``seq`` the word's final space-joined symbol sequence: a local
    frame of vocabulary size, built from the trainer's own sequences."""
    word_freqs = _bpe_vocab(spark, sf_dir)
    _, seqs = _train_bpe_driver(word_freqs, BPE_MERGE_ROUNDS)
    return spark.createDataFrame(
        [(w, f, " ".join(s)) for (w, f), s in zip(word_freqs, seqs)],
        "word string, freq long, seq string",
    )


def bpe_apply_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization accounting under the learned BPE merges —
    the compression dashboard a tokenizer-training pipeline checks
    before committing a merge table: occurrence-weighted token counts
    over the final vocabulary (char-level start, so tokens_before =
    chars_total) and the chars-per-token compression ratio.

    100 TB shape: one aggregate over the vocabulary-sized local frame
    of :func:`_bpe_final_vocab`."""
    agg = _bpe_final_vocab(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("freq").cast("long").alias("n_word_occurrences"),
        F.sum(F.col("freq") * F.length("word")).cast("long").alias(
            "chars_total"
        ),
        F.sum(F.col("freq") * F.size(F.split("seq", " ")))
        .cast("long")
        .alias("tokens_after"),
    )
    return agg.select(
        "n_words",
        "n_word_occurrences",
        "chars_total",
        "tokens_after",
        F.round(F.col("chars_total") / F.col("tokens_after"), 6).alias(
            "chars_per_token"
        ),
    )


def _bpe_chain_sql(rounds: int = BPE_MERGE_ROUNDS) -> str:
    """The DuckDB WITH-body replaying :func:`_train_bpe_driver` as
    unrolled rounds — shared by the learn and apply oracles
    (``rounds`` parametrized so the BPE_DRIVER_ROUNDS oracle replays
    more rounds than the BPE_MERGE_ROUNDS ones). Every CTE is
    MATERIALIZED: DuckDB
    inlines plain CTEs, and each round references the previous vocab
    twice (pair count + fold apply), so un-materialized the base scan
    inlines 2^rounds times — 8 rounds limped, 32 died on file
    handles before it died on time."""
    fold = _BPE_FOLD_CASE.format(bl="bl", br="br")
    parts = [
        """words AS MATERIALIZED (
  SELECT t.tok AS word, COUNT(*) AS freq
  FROM documents, unnest(list_filter(string_split(lower(text), ' '),
                                     x -> x <> '')) AS t(tok)
  GROUP BY t.tok
),
v0 AS MATERIALIZED (
  SELECT word, freq,
         array_to_string(list_transform(generate_series(1, length(word)),
                                        i -> substr(word, i, 1)), ' ')
           AS seq
  FROM words
)"""
    ]
    for rnd in range(1, rounds + 1):
        prev = f"v{rnd - 1}"
        parts.append(f"""p{rnd} AS MATERIALIZED (
  SELECT la, rb, SUM(freq) AS cnt FROM (
    SELECT freq,
           unnest(syms[1:len(syms)-1]) AS la,
           unnest(syms[2:len(syms)]) AS rb
    FROM (SELECT freq, string_split(seq, ' ') AS syms FROM {prev})
    WHERE len(syms) >= 2
  ) GROUP BY la, rb
),
b{rnd} AS MATERIALIZED (
  SELECT la AS bl, rb AS br, cnt AS pair_count
  FROM p{rnd} ORDER BY cnt DESC, la ASC, rb ASC LIMIT 1
),
v{rnd} AS MATERIALIZED (
  SELECT word, freq,
         CASE WHEN bl IS NULL OR len(syms) = 1 THEN seq
         ELSE list_reduce(syms, (acc, x) -> {fold}) END AS seq
  FROM (SELECT word, freq, seq, string_split(seq, ' ') AS syms
        FROM {prev})
  LEFT JOIN b{rnd} ON TRUE
)""")
    return "WITH " + ",\n".join(parts)


def _bpe_learn_sql(rounds: int = BPE_MERGE_ROUNDS) -> str:
    selects = "\nUNION ALL\n".join(
        f"""SELECT CAST({rnd} AS INT) AS merge_rank, bl AS left_sym,
       br AS right_sym, bl || br AS merged,
       CAST(pair_count AS BIGINT) AS pair_count
FROM b{rnd}"""
        for rnd in range(1, rounds + 1)
    )
    return _bpe_chain_sql(rounds) + "\n" + selects


BPE_LEARN_MERGES_SQL = _bpe_learn_sql()


BPE_APPLY_STATS_SQL = f"""{_bpe_chain_sql()}
SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(freq) AS BIGINT) AS n_word_occurrences,
       CAST(SUM(freq * length(word)) AS BIGINT) AS chars_total,
       CAST(SUM(freq * len(string_split(seq, ' '))) AS BIGINT)
         AS tokens_after,
       ROUND(SUM(freq * length(word)) * 1.0 /
             SUM(freq * len(string_split(seq, ' '))), 6)
         AS chars_per_token
FROM v{BPE_MERGE_ROUNDS}
"""


def bpe_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE token budget under the learned merges — the
    number a sequence packer actually consumes (whitespace words ×
    the final vocabulary's per-word token count). Output: (doc_id,
    n_words, bpe_tokens, n_chars_tok, chars_per_token).

    100 TB shape: one corpus token scan joined (by word) to the
    vocabulary's final sequences from :func:`_bpe_final_vocab`;
    per-doc aggregation is map-side-partial. n_chars_tok counts the
    characters the tokenizer saw (word chars, no separators), so
    chars_per_token is comparable across engines and documents."""
    vtok = _bpe_final_vocab(spark, sf_dir).select(
        "word",
        F.size(F.split("seq", " ")).cast("long").alias("word_tokens"),
        F.length("word").cast("long").alias("word_chars"),
    )
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        _bpe_words(docs, "doc_id")
        .join(F.broadcast(vtok), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("word_tokens").cast("long").alias("bpe_tokens"),
            F.sum("word_chars").cast("long").alias("n_chars_tok"),
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_words",
            "bpe_tokens",
            "n_chars_tok",
            F.round(
                F.col("n_chars_tok") / F.col("bpe_tokens"), 6
            ).alias("chars_per_token"),
        )
    )


BPE_DOC_TOKENS_SQL = f"""{_bpe_chain_sql()},
vtok AS (
  SELECT word,
         CAST(len(string_split(seq, ' ')) AS BIGINT) AS word_tokens,
         CAST(length(word) AS BIGINT) AS word_chars
  FROM v{BPE_MERGE_ROUNDS}
),
dwords AS (
  SELECT doc_id, t.tok AS word
  FROM documents, unnest(list_filter(string_split(lower(text), ' '),
                                     x -> x <> '')) AS t(tok)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(word_tokens) AS BIGINT) AS bpe_tokens,
       CAST(SUM(word_chars) AS BIGINT) AS n_chars_tok,
       ROUND(SUM(word_chars) * 1.0 / SUM(word_tokens), 6)
         AS chars_per_token
FROM dwords JOIN vtok USING (word)
GROUP BY doc_id
"""


def bpe_merges_driver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the driver-side trainer at BPE_DRIVER_ROUNDS
    merges — few enough that the DuckDB oracle replays every round as
    an unrolled CTE (value-checking the trainer end-to-end), 4× the
    depth of :func:`bpe_learn_merges`."""
    return bpe_learn_merges_driver(spark, sf_dir, n_merges=BPE_DRIVER_ROUNDS)


BPE_MERGES_DRIVER_SQL = _bpe_learn_sql(BPE_DRIVER_ROUNDS)


# --------------------------------------------------------- training order

# Global shuffle of the corpus into a deterministic training order:
# sort key = md5('o:' || doc_id) — reproducible across engines and
# runs, uncorrelated with ingestion order, so every shard sees an
# unbiased source mix without an RNG.
N_ORDER_SHARDS = 8


def training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training order + shard assignment for the
    corpus: ``pos`` is the 1-based rank under the md5 sort key,
    ``shard`` the round-robin shard (pos-1) % N_ORDER_SHARDS — the
    "shuffle the corpus once, then stream shards in order" step every
    training run needs (cf. T5 / GPT-3 data pipelines).

    100 TB shape: a single global ``row_number`` window is a
    one-partition sort — a scale-killer — so the ordinal is assigned
    in TWO phases: rank within 256 hash-prefix buckets (distributed
    window, each bucket ~1/256 of the corpus), then add each bucket's
    exclusive prefix-sum offset (a 256-row aggregate, broadcast
    back).  Because the bucket is a PREFIX of the sort key, bucket-
    then-key order equals global key order — the oracle replays with
    a flat row_number over the same key and must agree exactly (the
    equivalence is the test)."""
    docs = _read(spark, sf_dir, "documents")
    return training_order_for(docs)


def training_order_for(docs: DataFrame) -> DataFrame:
    """Two-phase ordinal assignment core (constructed-input surface).
    Input needs (doc_id, source); output (pos, doc_id, source, shard).

    The input lineage runs twice (ranking branch + bucket-count
    branch) — deliberate: both scans are column-pruned to ≤2 columns,
    which is cheaper at corpus scale than materializing a
    corpus-sized keyed frame just to count 256 buckets.

    Requires ``doc_id`` to be unique (the table's key): a duplicated
    id shares its md5 sort key AND the doc_id tie-break, so the
    relative order of its copies — and therefore their pos values —
    would be engine-arbitrary."""
    from pyspark.sql.window import Window

    keyed = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.md5(F.concat(F.lit("o:"), F.col("doc_id").cast("string"))).alias(
            "ord_key"
        ),
    ).withColumn("bucket", F.substring("ord_key", 1, 2))
    within = F.row_number().over(
        Window.partitionBy("bucket").orderBy("ord_key", "doc_id")
    )
    counts = keyed.groupBy("bucket").agg(F.count("*").alias("n"))
    # 256-row frame: the single-partition window is over the BUCKET
    # COUNTS, never the corpus
    offsets = counts.select(
        "bucket",
        F.coalesce(
            F.sum("n").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("off"),
    )
    ranked = keyed.withColumn("within", within).join(
        F.broadcast(offsets), "bucket"
    )
    pos = (F.col("off") + F.col("within")).cast("long")
    return ranked.select(
        pos.alias("pos"),
        "doc_id",
        "source",
        ((pos - 1) % N_ORDER_SHARDS).cast("int").alias("shard"),
    )


TRAINING_ORDER_SQL = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         md5('o:' || CAST(doc_id AS VARCHAR)) AS ord_key
  FROM documents
)
SELECT CAST(row_number() OVER (ORDER BY ord_key, doc_id) AS BIGINT) AS pos,
       doc_id, source,
       CAST((row_number() OVER (ORDER BY ord_key, doc_id) - 1)
            % {N_ORDER_SHARDS} AS INT) AS shard
FROM d
"""


# resolved here because TRIGRAM_LOGLOSS_SQL is defined below the
# perplexity_buckets section (the oracle nests the standalone twins —
# the curation_pipeline no-drift pattern)
PERPLEXITY_BUCKETS_SQL = PERPLEXITY_BUCKETS_SQL.format(
    TRIGRAM=TRIGRAM_LOGLOSS_SQL, LANG=LANG_ID_SQL
)
