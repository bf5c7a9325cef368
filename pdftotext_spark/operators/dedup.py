"""Deduplication operators for training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH and SimHash — all expressed with built-in
``pyspark.sql.functions`` (JVM-side, whole-stage codegen) and each
paired with a DuckDB oracle.

Portability trick for hash parity: both engines implement ``md5``
identically, and the *lexicographic minimum of a fixed hex slice of
md5(seed || shingle)* is a valid MinHash (uniform over hex strings),
so signatures match bit-for-bit across engines with zero UDFs — two
digests per shingle yield all 8 components (``_sig_slice_sql``), and
each LSH band mixes one slice from each digest. SimHash uses md5 hex
nibbles as the per-token hash bits via arithmetic both dialects share.

Scale notes:
- shingling covers the WHOLE document (no prefix cap — a cap makes
  every dedup signal blind to long-document tails); the shuffled
  volume is bounded by deterministic md5-threshold *shingle sampling*
  (Broder 1997's mod-p shingling with a hash threshold): a shingle is
  kept iff a fixed nibble of md5('s:'||shingle) is below a threshold,
  so the same shingle is kept or dropped identically in every
  document and Jaccard over the sampled sets is an unbiased estimate
  of true Jaccard. Per-doc scan cost is O(doc bytes) — inherent to
  reading the doc — while everything downstream (distinct, signature
  aggregation, LSH shuffle) sees only the sampled ~KEEP16/16
  fraction;
- the shingle self-join is the classic LSH trade: at 100 TB you run
  the *banded MinHash* variant (`minhash_lsh_pairs`) whose join key is
  a band hash — expected bucket sizes are tiny, and AQE skew-split
  handles hot buckets; the all-pairs Jaccard here is the verifier for
  candidate pairs, never run unbanded at scale.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from pdftotext_spark.operators.materialize import (
    materialize,
    materialize_lazy,
    spread,
)

SHINGLE_LEN = 8
# Shingle sampling rate in sixteenths: a shingle survives iff the
# first hex nibble of md5('s:'||shingle) < '0123456789abcdefg'[KEEP16]
# (single-hex-char lexicographic compare ≡ nibble < KEEP16; 16 = keep
# everything).  Content-only predicate → consistent across documents →
# Jaccard-preserving in expectation; the position-1 shingle is always
# kept so every non-empty document has ≥1 shingle and a signature (a
# deterministic, engine-portable exception that perturbs Jaccard by at
# most 2 elements per pair).  Deployment lever: set
# SPARK_GRAFT_SHINGLE_KEEP16 before import — every Spark operator AND
# its DuckDB oracle string derive from this one constant, so the
# correctness gate follows the override. MEASURED rate curve (r6,
# BENCH/BASELINE.md "Long-document KEEP16 rate curve", planted-truth
# corpus at 300-char/3KB/20KB): recall is band-geometry-dominated at
# every rate — run 1/16 on multi-KB corpora (4x less shuffle volume,
# no recall cost at operating J), keep 4/16 for ~300-char docs
# (signature variance at ~18 sampled shingles/doc is the binding
# constraint there). The lever is global and content-only BY DESIGN:
# a per-doc adaptive rate would sample the two sides of a pair
# differently and bias sampled Jaccard. Clamped to [1, 16]: values above 16 mean
# keep-everything, 0/negative would keep only position-1 shingles
# (review r5: an out-of-range lever must not throw at import).
SHINGLE_KEEP16 = max(
    1, min(int(os.environ.get("SPARK_GRAFT_SHINGLE_KEEP16", "4")), 16)
)
_KEEP_THR = "0123456789abcdefg"[SHINGLE_KEEP16]
N_MINHASH = 8
BAND_SIZE = 2  # 8 hashes → 4 bands of 2
JACCARD_THRESHOLD = 0.6


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _sampled_shingle_expr(
    text_col: str = "text", keep_pos1: bool = True
) -> str:
    """Spark SQL expression: whole-document char-8-gram shingle array,
    md5-threshold sampled (see SHINGLE_KEEP16).  The filter lambda's
    0-based index ``j = 0`` is the oracle's 1-based ``i = 1``
    always-keep rule.

    ``keep_pos1=False`` drops the position-1 exception, making the
    keep rule PURELY content-based: sampled(B) ⊆ sampled(A) whenever
    B's text is a substring of A's — required by the containment
    family, where the positional exception breaks subset semantics
    for tiny documents (a pos-1-kept shingle of B can be sampled out
    of A).  MinHash keeps the exception (every doc needs >= 1 shingle
    for a signature)."""
    base = (
        f"transform(sequence(1, greatest(length({text_col}) - "
        f"{SHINGLE_LEN - 1}, 1)), i -> substring({text_col}, i, {SHINGLE_LEN}))"
    )
    if SHINGLE_KEEP16 >= 16:
        return base
    pos1 = "j = 0 OR " if keep_pos1 else ""
    return (
        f"filter({base}, (sh, j) -> {pos1}"
        f"substring(md5(concat('s:', sh)), 1, 1) < '{_KEEP_THR}')"
    )


def _shingles(
    docs: DataFrame, distinct: bool = True, keep_pos1: bool = True
) -> DataFrame:
    """Sampled whole-document char-8-gram shingles per doc. Pure
    built-ins: sequence → transform(substring) → filter(md5 keep) →
    explode.

    ``distinct=False`` skips the dedup shuffle — correct whenever the
    consumer is duplicate-insensitive (MinHash ``min()`` aggregation);
    the exact-Jaccard verifiers need set semantics and keep the
    default.  ``keep_pos1`` as in :func:`_sampled_shingle_expr`.

    A single-split input is spread round-robin across the cores first
    (:func:`~pdftotext_spark.operators.materialize.spread`): the
    explode multiplies each document into its shingles, and on one
    split that whole fan-out would run on one core.  ``docs`` must
    therefore hold no Exchange."""
    out = spread(docs.select("doc_id", "text")).select(
        "doc_id",
        F.explode(F.expr(_sampled_shingle_expr(keep_pos1=keep_pos1))).alias(
            "sh"
        ),
    )
    return out.distinct() if distinct else out


def sampled_shingle_scan_sql(
    cols: str, distinct: bool = True, where: str = "", keep_pos1: bool = True
) -> str:
    """DuckDB twin of :func:`_shingles`: whole-document positioned
    shingle scan over ``documents`` with the identical md5-threshold
    keep rule.  ``cols`` may reference ``doc_id``, ``source``, ``sh``;
    ``where`` is ANDed after the keep predicate; ``keep_pos1`` as in
    :func:`_sampled_shingle_expr` (must match the Spark side of the
    consuming operator)."""
    kw = "DISTINCT " if distinct else ""
    pos1 = "i = 1 OR " if keep_pos1 else ""
    pred = (
        "TRUE"
        if SHINGLE_KEEP16 >= 16
        else f"({pos1}substr(md5('s:' || sh), 1, 1) < '{_KEEP_THR}')"
    )
    extra = f" AND ({where})" if where else ""
    return f"""
  SELECT {kw}{cols} FROM (
    SELECT doc_id, source, substr(text, CAST(i AS INT), {SHINGLE_LEN}) AS sh, i
    FROM (SELECT doc_id, source, text,
                 unnest(range(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1) + 1)) AS i
          FROM documents)
  ) WHERE {pred}{extra}
"""


_SHINGLES_SQL = sampled_shingle_scan_sql("doc_id, sh")


# Each of the 8 MinHash components is the lexicographic min of one
# fixed 8-hex-char (32-bit) slice of md5('a:'||sh) / md5('b:'||sh) —
# statistically a proper MinHash (uniform 32-bit values; ties are
# ~n²/2³³ ≈ negligible at sampled per-doc shingle counts) at 2 digest
# computations per shingle instead of 8 (this chain is the headline
# cost of the whole dedup family). Portable: both engines slice the
# same md5 hex the same way.
def _sig_slice_sql(k: int) -> str:
    seed = "a" if k < 4 else "b"
    off = 1 + 8 * (k % 4)
    return f"MIN(substr(md5('{seed}:' || sh), {off}, 8)) AS h{k}"


_SIG_EXPRS_SQL = ", ".join(_sig_slice_sql(k) for k in range(N_MINHASH))


# ------------------------------------------------------------ exact dedup


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content digest; canonical row =
    min doc_id. One shuffle on a 32-byte key; partial agg map-side."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_md5"))
        .agg(
            F.min("doc_id").cast("long").alias("canonical_doc_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_md5,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents GROUP BY md5(text)
"""


# ------------------------------------------- paragraph-level exact dedup
# CCNet's (Wenzek et al. 2020) sub-document dedup: drop every repeat of
# a PARAGRAPH across the corpus, keeping the first occurrence — the
# boilerplate killer (headers, footers, license blocks) that whole-doc
# dedup cannot see. Real web corpora split paragraphs on newlines; the
# synthetic tables are newline-free, so the deterministic proxy is
# fixed non-overlapping PARA_W-token segments (the segmenting rule is
# the lever; the dedup algebra below is segmentation-agnostic).
PARA_W = 40


def _doc_segments(docs: DataFrame) -> DataFrame:
    """(doc_id, seg_idx, seg_text, n_seg_tokens): consecutive
    non-overlapping PARA_W-token segments, zero-token docs emit no
    segment. Narrow map — zero shuffle."""
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), t -> t <> '')").alias(
            "toks"
        ),
    ).select("doc_id", "toks", F.size("toks").alias("n_tok"))
    segd = toks.filter(F.col("n_tok") > 0).select(
        "doc_id",
        "toks",
        "n_tok",
        F.explode(
            F.expr(f"sequence(0, CAST(ceil(n_tok / {PARA_W}.0) AS INT) - 1)")
        ).alias("seg_idx"),
    )
    return segd.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("seg_idx").cast("long").alias("seg_idx"),
        F.expr(
            f"array_join(slice(toks, seg_idx * {PARA_W} + 1, {PARA_W}), ' ')"
        ).alias("seg_text"),
        F.expr(f"least({PARA_W}, n_tok - seg_idx * {PARA_W})")
        .cast("long")
        .alias("n_seg_tokens"),
    )


def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment dedup verdicts: ``kept`` = this (doc_id, seg_idx)
    is the corpus-first occurrence of the segment's text (min by
    (doc_id, seg_idx) — CCNet keeps one copy, position-deterministic).

    100 TB shape: narrow segment explode, then ONE shuffle — a min
    window over md5(seg_text) (slim rows even under boilerplate hot
    keys, the winnowing-guard lesson; no groupBy + join back). Exact
    string equality via the digest: 32-byte shuffle key instead of
    the segment text."""
    from pyspark.sql.window import Window

    segs = _doc_segments(_read(spark, sf_dir, "documents"))
    w = Window.partitionBy(F.md5("seg_text"))
    first = F.min(F.struct("doc_id", "seg_idx")).over(w)
    return segs.select(
        "doc_id",
        "seg_idx",
        "n_seg_tokens",
        (
            (F.col("doc_id") == first.getField("doc_id"))
            & (F.col("seg_idx") == first.getField("seg_idx"))
        ).alias("kept"),
        first.getField("doc_id").cast("long").alias("first_doc_id"),
    )


_PARA_SEGMENTS_SQL = f"""
  SELECT doc_id, seg_idx,
         array_to_string(list_slice(toks, seg_idx * {PARA_W} + 1,
                                    seg_idx * {PARA_W} + {PARA_W}), ' ')
           AS seg_text,
         least({PARA_W}, n_tok - seg_idx * {PARA_W}) AS n_seg_tokens
  FROM (
    SELECT doc_id, toks, n_tok,
           unnest(range(0, CAST(ceil(n_tok / {PARA_W}.0) AS INT)))
             AS seg_idx
    FROM (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t <> '')
               AS toks,
             len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
               AS n_tok
      FROM documents
    ) WHERE n_tok > 0
  )
"""

PARAGRAPH_DEDUP_SQL = f"""
WITH segs AS ({_PARA_SEGMENTS_SQL}),
m AS (
  SELECT doc_id, seg_idx, n_seg_tokens,
         MIN(doc_id * 1000000000 + seg_idx)
           OVER (PARTITION BY md5(seg_text)) AS first_key
  FROM segs
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(seg_idx AS BIGINT) AS seg_idx,
       CAST(n_seg_tokens AS BIGINT) AS n_seg_tokens,
       (doc_id * 1000000000 + seg_idx = first_key) AS kept,
       CAST(first_key // 1000000000 AS BIGINT) AS first_doc_id
FROM m
"""


def paragraph_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply side: rebuild every document from its KEPT segments
    (seg order), reporting removed counts — CCNet's actual output.
    Documents whose every segment is a repeat collapse to ''.

    100 TB shape: the verdict window (one shuffle by digest) plus one
    doc_id-partitioned aggregation; the rebuild is a sorted
    collect_list bounded by the doc's own segment count. Zero-token
    documents emit a (doc_id, '', 0, 0) row via the left join back
    onto the corpus — the dsir_select/bigram_logloss lesson: both
    engines dropping them identically is exactly what the parity gate
    cannot see."""
    from pyspark.sql.window import Window

    docs = _read(spark, sf_dir, "documents")
    segs = _doc_segments(docs)
    w = Window.partitionBy(F.md5("seg_text"))
    first = F.min(F.struct("doc_id", "seg_idx")).over(w)
    flagged = segs.select(
        "doc_id",
        "seg_idx",
        "seg_text",
        "n_seg_tokens",
        (
            (F.col("doc_id") == first.getField("doc_id"))
            & (F.col("seg_idx") == first.getField("seg_idx"))
        ).alias("kept"),
    )
    rebuilt = flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("kept"),
                            F.struct("seg_idx", "seg_text"),
                        )
                    )
                ),
                lambda s: s.getField("seg_text"),
            ),
            " ",
        ).alias("clean_text"),
        F.sum(F.when(~F.col("kept"), 1).otherwise(0))
        .cast("long")
        .alias("removed_segments"),
        F.sum(F.when(~F.col("kept"), F.col("n_seg_tokens")).otherwise(0))
        .cast("long")
        .alias("removed_tokens"),
    )
    return (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("removed_segments", F.lit(0))
            .cast("long")
            .alias("removed_segments"),
            F.coalesce("removed_tokens", F.lit(0))
            .cast("long")
            .alias("removed_tokens"),
        )
    )


# DuckDB notes: list() keeps NULL elements (Spark collect_list drops
# them) -> FILTER (WHERE kept) instead of CASE; the sort key must be
# the NUMERIC seg_idx (a struct field), not a stringified index —
# '10' < '2' lexicographically, so a string sort diverges for any doc
# with ten or more kept segments.
PARAGRAPH_DEDUP_APPLY_SQL = f"""
WITH segs AS ({_PARA_SEGMENTS_SQL}),
m AS (
  SELECT doc_id, seg_idx, seg_text, n_seg_tokens,
         (doc_id * 1000000000 + seg_idx =
          MIN(doc_id * 1000000000 + seg_idx)
            OVER (PARTITION BY md5(seg_text))) AS kept
  FROM segs
),
rebuilt AS (
  SELECT doc_id,
         array_to_string(
           list_transform(
             list_sort(list({{'i': seg_idx, 't': seg_text}})
                         FILTER (WHERE kept)),
             s -> s.t),
           ' ') AS clean_text,
         SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS removed_segments,
         SUM(CASE WHEN kept THEN 0 ELSE n_seg_tokens END)
           AS removed_tokens
  FROM m GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       COALESCE(clean_text, '') AS clean_text,
       CAST(COALESCE(removed_segments, 0) AS BIGINT) AS removed_segments,
       CAST(COALESCE(removed_tokens, 0) AS BIGINT) AS removed_tokens
FROM documents d LEFT JOIN rebuilt USING (doc_id)
"""


# --------------------------------------------------- n-gram Jaccard pairs


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over **LSH candidate pairs** — the 100 TB
    shape: candidates come from banded MinHash (cheap, bucket-joined),
    and the quadratic-looking exact verification
    |A∩B| / (|A|+|B|−|A∩B|) runs only on those pairs.

    An unbanded all-pairs shingle self-join is O(Σ df(shingle)²) and
    melts on shared-vocabulary corpora (measured 228 s on 500 docs at
    sf0.1 vs ~8 s this way); never run it at scale.
    """
    docs = _read(spark, sf_dir, "documents")
    # one materialization feeds candidate generation (signatures →
    # bands) AND exact verification (intersections + counts) — the
    # lazy plan would shingle the corpus twice
    s = _shingles(docs).transform(materialize)
    counts = s.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    cand = _lsh_pairs_from_shingles(s)
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = s.select(F.col("doc_id").alias("sb_doc"), F.col("sh").alias("sh_b"))
    # no forced broadcasts: `cand` is data-dependent (dup-heavy
    # corpora explode it) and `ca`/`cb` are per-doc counts —
    # corpus-cardinality. AQE broadcasts them when they measure small
    # at runtime; a F.broadcast hint would bypass that size check and
    # OOM the driver at 100 TB (same rule as source_overlap_matrix).
    common = (
        cand
        .join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("sb_doc")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select(
            F.col("doc_a").cast("long"),
            F.col("doc_b").cast("long"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


NGRAM_JACCARD_PAIRS_SQL = f"""
WITH s AS ({_SHINGLES_SQL}),
c AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id),
sig AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_SIG_EXPRS_SQL}
  FROM s GROUP BY doc_id
),
bands AS ({{bands}}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
p AS (
  SELECT cand.doc_a, cand.doc_b, COUNT(*) AS common
  FROM cand
  JOIN s sa ON sa.doc_id = cand.doc_a
  JOIN s sb ON sb.doc_id = cand.doc_b AND sb.sh = sa.sh
  GROUP BY cand.doc_a, cand.doc_b
)
SELECT CAST(p.doc_a AS BIGINT) AS doc_a, CAST(p.doc_b AS BIGINT) AS doc_b,
       ROUND(common * 1.0 / (ca.n_sh + cb.n_sh - common), 4) AS jaccard
FROM p JOIN c ca ON ca.doc_id = p.doc_a JOIN c cb ON cb.doc_id = p.doc_b
WHERE common * 1.0 / (ca.n_sh + cb.n_sh - common) >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------- containment pairs

CONTAINMENT_THRESHOLD = 0.8
# Inverted-index candidate pruning: shingles present in more than this
# many documents generate no candidate pairs (they are corpus
# boilerplate — overlap through them alone is not evidence of
# containment).  Bounds candidate volume to <= DF_CAP * |index| pairs
# (each index row meets at most DF_CAP - 1 partners per shingle), the
# standard frequency-pruning move of set-similarity joins (Bayardo et
# al. 2007 "Scaling Up All Pairs Similarity Search"; Vernica et al.
# 2010 for the MapReduce shape).  At 100 TB keep this absolute cap
# small relative to corpus size; a pair sharing ONLY above-cap
# shingles is missed by design (documented recall trade).
CONTAINMENT_DF_CAP = 128
# Candidacy additionally requires this many shared WITHIN-CAP
# shingles — the minimal-evidence rule of prefix-filtering set joins:
# one shared rare shingle is noise on shared-vocabulary corpora
# (measured at sf0.1: 693k pairs share >= 1 rare shingle but only 5k
# share >= 3, and verification drops 10.5 s -> 1.1 s; the pairs lost
# relative to a >=1 rule reach the threshold only through above-cap
# boilerplate shingles, which the DF cap already declares
# non-evidence of containment).  The effective requirement for a pair
# is least(MIN_RARE, n_rare_a, n_rare_b): a document with fewer than
# MIN_RARE within-cap shingles (a genuinely tiny doc) must still be
# reachable through ALL the rare shingles it has.
CONTAINMENT_MIN_RARE = 3


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs: |A∩B| / |A| (and / |B|)
    over the sampled whole-document shingle sets, keeping pairs where
    either direction is >= CONTAINMENT_THRESHOLD.

    Why it exists: banded MinHash targets symmetric whole-document
    near-identity — a short document embedded inside a much longer one
    has Jaccard ~ |short|/|long| (arbitrarily low) and never collides,
    yet it is exactly the partial-duplication a training-data pipeline
    must see (quote farms, boilerplate wrappers, chunk re-posts).
    Containment is the directional signal that catches it.

    100 TB shape: candidates come from a document-frequency-pruned
    inverted index (shingle -> docs, df <= CONTAINMENT_DF_CAP), so the
    self-join fan-out per shingle key is bounded by the cap — never an
    all-pairs product; a pair is a candidate only when it shares
    least(CONTAINMENT_MIN_RARE, n_rare_a, n_rare_b) within-cap
    shingles (prefix-filtering's minimal-evidence rule, relaxed so a
    tiny document with < MIN_RARE rare shingles stays reachable);
    exact verification then counts the FULL sampled intersection for
    candidate pairs only (same verify-on-candidates shape as
    :func:`ngram_jaccard_pairs`).  No forced broadcast: the candidate
    frame grows with the corpus, so AQE picks the join strategy.

    Shingle sets are sampled WITHOUT the position-1 always-keep
    exception (``keep_pos1=False``): the purely content-based keep
    rule guarantees sampled(B) ⊆ sampled(A) whenever B's text occurs
    verbatim inside A's, so true verbatim containment scores exactly
    1.0 at any sampling rate — with the exception on, a tiny doc's
    kept position-1 shingle can be sampled out of its container and
    cap the score below threshold."""
    docs = _read(spark, sf_dir, "documents")
    # one materialization feeds the df counts, the candidate index and
    # both sides of the verification join
    s = _shingles(docs, keep_pos1=False).transform(materialize)
    counts = s.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    dfreq = (
        s.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= CONTAINMENT_DF_CAP)
        .select("sh")
    )
    idx = s.join(dfreq, "sh")
    n_rare = idx.groupBy("doc_id").agg(F.count("*").alias("n_rare"))
    # the rare-shingle co-occurrence count replaces a bare DISTINCT
    # (same shuffle, map-side partial agg) and feeds the candidacy cut
    cand = (
        idx.select(F.col("doc_id").alias("doc_a"), "sh")
        .join(idx.select(F.col("doc_id").alias("doc_b"), "sh"), "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common_rare"))
        .join(
            n_rare.select(
                F.col("doc_id").alias("doc_a"), F.col("n_rare").alias("nr_a")
            ),
            "doc_a",
        )
        .join(
            n_rare.select(
                F.col("doc_id").alias("doc_b"), F.col("n_rare").alias("nr_b")
            ),
            "doc_b",
        )
        .filter(
            F.col("common_rare")
            >= F.least(
                F.lit(CONTAINMENT_MIN_RARE), F.col("nr_a"), F.col("nr_b")
            )
        )
        .select("doc_a", "doc_b")
    )
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = s.select(F.col("doc_id").alias("sb_doc"), F.col("sh").alias("sh_b"))
    common = (
        cand.join(sa, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("sb_doc"))
            & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    cont_a = F.col("common") / F.col("n_a")
    cont_b = F.col("common") / F.col("n_b")
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(F.greatest(cont_a, cont_b) >= CONTAINMENT_THRESHOLD)
        .select(
            F.col("doc_a").cast("long"),
            F.col("doc_b").cast("long"),
            F.col("common").cast("long"),
            F.round(cont_a, 4).alias("containment_a"),
            F.round(cont_b, 4).alias("containment_b"),
        )
    )


CONTAINMENT_PAIRS_SQL = f"""
WITH s AS ({sampled_shingle_scan_sql("doc_id, sh", keep_pos1=False)}),
c AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id),
keep_sh AS (
  SELECT sh FROM s GROUP BY sh
  HAVING COUNT(*) <= {CONTAINMENT_DF_CAP}
),
idx AS (SELECT s.doc_id, s.sh FROM s JOIN keep_sh USING (sh)),
nr AS (SELECT doc_id, COUNT(*) AS n_rare FROM idx GROUP BY doc_id),
cand AS (
  SELECT t.doc_a, t.doc_b
  FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common_rare
    FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ) t
  JOIN nr na ON na.doc_id = t.doc_a
  JOIN nr nb ON nb.doc_id = t.doc_b
  WHERE t.common_rare >= least({CONTAINMENT_MIN_RARE}, na.n_rare, nb.n_rare)
),
p AS (
  SELECT cand.doc_a, cand.doc_b, COUNT(*) AS common
  FROM cand
  JOIN s sa ON sa.doc_id = cand.doc_a
  JOIN s sb ON sb.doc_id = cand.doc_b AND sb.sh = sa.sh
  GROUP BY cand.doc_a, cand.doc_b
)
SELECT CAST(p.doc_a AS BIGINT) AS doc_a, CAST(p.doc_b AS BIGINT) AS doc_b,
       CAST(common AS BIGINT) AS common,
       ROUND(common * 1.0 / ca.n_sh, 4) AS containment_a,
       ROUND(common * 1.0 / cb.n_sh, 4) AS containment_b
FROM p JOIN c ca ON ca.doc_id = p.doc_a JOIN c cb ON cb.doc_id = p.doc_b
WHERE greatest(common * 1.0 / ca.n_sh, common * 1.0 / cb.n_sh)
      >= {CONTAINMENT_THRESHOLD}
"""


# ------------------------------------------------------- MinHash + LSH


# single source for the two-digest slice scheme: every consumer (batch
# doc_id path, streaming keyed path, band construction) derives from
# these two helpers, so the scheme cannot desynchronize between the
# batch family and the streaming band store
def _sig_aggs() -> list:
    return [
        F.min(
            F.substring("ma" if k < 4 else "mb", 1 + 8 * (k % 4), 8)
        ).alias(f"h{k}")
        for k in range(N_MINHASH)
    ]


def _signatures_from_hashed(s: DataFrame, key_cols: list[str]) -> DataFrame:
    hashed = s.select(
        *key_cols,
        F.md5(F.concat(F.lit("a:"), F.col("sh"))).alias("ma"),
        F.md5(F.concat(F.lit("b:"), F.col("sh"))).alias("mb"),
    )
    return hashed.groupBy(*key_cols).agg(*_sig_aggs())


def _signatures_from_shingles(s: DataFrame) -> DataFrame:
    return _signatures_from_hashed(
        s.select(F.col("doc_id").cast("long").alias("doc_id"), "sh"),
        ["doc_id"],
    )


def signatures_for(
    df: DataFrame, key_cols: list[str], text_col: str = "text"
) -> DataFrame:
    """MinHash signatures for an arbitrary keyed frame (same
    two-digest slice scheme as :func:`minhash_signatures`, but keyed
    by ``key_cols`` instead of a numeric doc_id) — shared by the
    streaming near-dup filter, which keys on (conv_id, turn_idx)."""
    s = df.select(
        *key_cols,
        F.explode(F.expr(_sampled_shingle_expr(text_col))).alias("sh"),
    )
    return _signatures_from_hashed(s, key_cols)


def bands_for(sig: DataFrame, key_cols: list[str]) -> DataFrame:
    """Explode a signature frame into its LSH band rows
    ``(*key_cols, band_idx, band_hash)``. Band i pairs one slice of
    digest a with one of digest b (h_i with h_{i+4}) — a band built
    from two slices of the SAME md5 is intra-digest-coupled and
    measurably inflates candidates."""
    return sig.select(
        *key_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.md5(
                            F.concat(F.col(f"h{i}"), F.col(f"h{i + 4}"))
                        ).alias("band_hash"),
                    )
                    for i in range(N_MINHASH // BAND_SIZE)
                ]
            )
        ).alias("band"),
    ).select(*key_cols, "band.band_idx", "band.band_hash")


def bit_bands(
    df: DataFrame, bits_col: str, n_bands: int, width: int, *carry
) -> DataFrame:
    """Explode the integer ``bits_col`` into ``n_bands`` LSH band rows
    ``(*carry, band_idx, band_bits)``: band i holds bits
    ``[i*width, (i+1)*width)`` (shift and mask).  The one banding of
    every bit-signature family (SimHash, SRP).  ``carry`` takes names
    or aliased columns."""
    out = df.select(
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(bits_col, i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("band_bits"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    )
    return out.select(*out.columns[:-1], "band.band_idx", "band.band_bits")


def band_pairs(left: DataFrame, right: DataFrame, on: list[str], pred=None):
    """Candidate pairs from two band frames: equi-join on ``on`` (the
    band bucket, plus any non-band key such as ``label``, which stays
    in the output), keep ``pred``, drop the band columns and emit each
    pair once however many bands it shares.  Pass each side projected
    to ``on`` plus one renamed id: only narrow ids cross the join and
    the ``distinct`` — fetch payloads such as embeddings afterwards."""
    pairs = left.join(right, on)
    if pred is not None:
        pairs = pairs.filter(pred)
    return pairs.drop("band_idx", "band_hash", "band_bits").distinct()


def _minhash_bands_sql(carry: str) -> str:
    """DuckDB twin of :func:`bands_for` over a ``sig`` CTE."""
    return " UNION ALL ".join(
        f"SELECT {carry}, {i} AS band_idx, md5(h{i} || h{i + 4}) AS band_hash FROM sig"
        for i in range(N_MINHASH // BAND_SIZE)
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature: h_k = lexicographic min of a fixed
    32-bit hex slice of md5('a:'||shingle) / md5('b:'||shingle)
    (see ``_sig_slice_sql``) — a proper MinHash at 2 digests per
    shingle instead of 8; identical in any engine with md5."""
    docs = _read(spark, sf_dir, "documents")
    return _signatures_from_shingles(_shingles(docs, distinct=False))


MINHASH_SIGNATURES_SQL = f"""
WITH s AS ({_SHINGLES_SQL})
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {_SIG_EXPRS_SQL}
FROM s GROUP BY doc_id
"""


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs: band hash = md5(h_{2i} || h_{2i+1});
    docs sharing any band bucket are candidates. The self-join key is
    the (band_idx, band_hash) bucket — tiny expected buckets, the
    100 TB-safe join shape."""
    docs = _read(spark, sf_dir, "documents")
    return _lsh_pairs_from_shingles(_shingles(docs, distinct=False))


def _lsh_pairs_from_shingles(s: DataFrame) -> DataFrame:
    return _lsh_pairs_from_sig(_signatures_from_shingles(s))


def _lsh_pairs_from_sig(sig: DataFrame) -> DataFrame:
    bands = bands_for(sig, ["doc_id"])
    on = ["band_idx", "band_hash"]
    return band_pairs(
        bands.select(F.col("doc_id").alias("doc_a"), *on),
        bands.select(F.col("doc_id").alias("doc_b"), *on),
        on,
        F.col("doc_a") < F.col("doc_b"),
    )


_BANDS_SQL = _minhash_bands_sql("doc_id")

# resolve the {bands} placeholder now that the band SQL exists
NGRAM_JACCARD_PAIRS_SQL = NGRAM_JACCARD_PAIRS_SQL.format(bands=_BANDS_SQL)

MINHASH_LSH_PAIRS_SQL = f"""
WITH s AS ({_SHINGLES_SQL}),
sig AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_SIG_EXPRS_SQL}
  FROM s GROUP BY doc_id
),
bands AS ({_BANDS_SQL})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
 AND a.doc_id < b.doc_id
"""


# --------------------------------------------------------------- SimHash

# 48 bits = 12 md5 hex nibbles: wide enough that Hamming ≤ 3 marks
# genuinely similar documents (16 bits flagged 6–12% of ALL pairs on
# this corpus — a near-random coin at corpus scale), while staying
# inside signed-64 arithmetic both engines share
SIMHASH_BITS = 48


def _simhash_bit_exprs() -> list[str]:
    """16 per-bit vote expressions shared verbatim by both dialects:
    bit b lives in hex digit b//4 of md5(token), tested by
    floor(value / 2^(b%4)) % 2."""
    exprs = []
    for b in range(SIMHASH_BITS):
        digit = b // 4 + 1
        shift = 2 ** (b % 4)
        nib = (
            f"(position(substr(md5(tok), {digit}, 1) IN '0123456789abcdef') - 1)"
        )
        exprs.append(
            f"SUM(CASE WHEN CAST(floor({nib} / {shift}) AS INT) % 2 = 1 "
            f"THEN 1 ELSE -1 END)"
        )
    return exprs


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 48-bit SimHash over word tokens: per-bit majority vote
    of token-hash bits. All JVM-side expression work (explode + one
    grouped aggregation)."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    per_doc = toks.groupBy("doc_id").agg(
        *[F.expr(e).alias(f"v{b}") for b, e in enumerate(_simhash_bit_exprs())]
    )
    combine = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    return per_doc.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(combine).cast("long").alias("simhash"),
    )


WINNOW_WINDOW = 4


def _winnow_selected(docs: DataFrame) -> DataFrame:
    """Whole-document winnowing fingerprint selection (shared by the
    fingerprint and shared-pairs operators): hash EVERY k-gram
    position (winnowing's window-min IS the sampling step — density
    2/(w+1) — so no md5-threshold pre-sampling, which would break the
    guarantee that shared substrings of length ≥ k+w−1 share a
    fingerprint), slide a w-window over the hash sequence, keep each
    window's minimum.  Per-doc cost is O(doc bytes) scan + a
    doc-partitioned window — no global sort."""
    from pyspark.sql import Window

    positioned = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(length(text) - "
                f"{SHINGLE_LEN - 1}, 1)), i -> substring(text, i, {SHINGLE_LEN}))"
            )
        ).alias("pos", "sh"),
    ).withColumn("h", F.md5("sh"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WINNOW_WINDOW - 1)
    )
    return positioned.select(
        "doc_id", F.min("h").over(w).alias("fp")
    ).distinct()


_WINNOW_SELECTED_SQL = f"""
positioned AS (
  SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INT), {SHINGLE_LEN})) AS h
  FROM (SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1) + 1)) AS i
        FROM documents)
),
selected AS (
  SELECT DISTINCT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_WINDOW - 1} FOLLOWING) AS fp
  FROM positioned
)"""


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003)
    over the whole document — see :func:`_winnow_selected`.  The digest
    plays the rolling hash's role (selection only needs *a*
    deterministic hash per k-gram)."""
    docs = _read(spark, sf_dir, "documents")
    selected = _winnow_selected(docs)
    return selected.groupBy(F.col("doc_id").cast("long").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_fingerprints"),
        F.min("fp").alias("min_fp"),
    )


WINNOWING_FINGERPRINTS_SQL = f"""
WITH {_WINNOW_SELECTED_SQL}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       MIN(fp) AS min_fp
FROM selected GROUP BY doc_id
"""


# Edges the union-find turns into Python ints at a time: the pair
# columns stay numpy arrays, so no per-edge Python object outlives its
# chunk.
_CC_CHUNK = 1 << 16


def _find(parent: list, x: int) -> int:
    """Root of ``x``, halving the path on the way up."""
    while parent[x] != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x


def dedup_groups(pairs: DataFrame) -> DataFrame:
    """Connected components over near-dup pairs: every doc maps to its
    group's minimum doc id (the canonical representative), transitive
    closure included — ``apply_dedup``'s one-pass policy upgraded to
    full groups. Returns (doc_id, group_id) for every doc in a pair,
    typed like the pair columns (their union type when the two differ).

    One Spark action: the two id columns are fetched once as Arrow,
    then labelled by union-find on the driver and returned as a local
    frame. After LSH banding the candidate graph is small even when
    the corpus is not — the same split as the BPE trainer
    ``textstats._train_bpe_driver`` (Spark aggregates, the driver
    loops). ``np.unique`` remaps the ids to dense ints in id order, so
    the smaller dense root is always the smaller doc id; the smaller
    root wins every union, so every root IS its component's minimum.
    Driver memory grows with the number of distinct ids (a list of
    parents), not with the number of edges (two int arrays)."""
    id_type = (
        pairs.select("doc_a").union(pairs.select("doc_b")).schema[0].dataType
    )
    edges = pairs.select(
        F.col("doc_a").cast(id_type), F.col("doc_b").cast(id_type)
    ).toArrow()
    n = edges.num_rows
    ends = np.concatenate([edges.column(i).to_numpy() for i in (0, 1)])
    del edges
    ids, dense = np.unique(ends, return_inverse=True)
    del ends
    parent = list(range(len(ids)))
    for lo in range(0, n, _CC_CHUNK):
        hi = min(lo + _CC_CHUNK, n)
        for a, b in zip(dense[lo:hi].tolist(), dense[n + lo : n + hi].tolist()):
            ra, rb = _find(parent, a), _find(parent, b)
            if ra < rb:
                parent[rb] = ra
            elif rb < ra:
                parent[ra] = rb
    # every parent is at most its child: jump pointers to the roots
    p = np.array(parent, dtype=np.int64)
    while not np.array_equal(q := p[p], p):
        p = q
    schema = StructType(
        [StructField("doc_id", id_type), StructField("group_id", id_type)]
    )
    return pairs.sparkSession.createDataFrame(
        pa.table({"doc_id": ids, "group_id": ids[p]}), schema
    )


def apply_dedup(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Apply near-dup pairs to a corpus: drop every document that
    appears as the *larger* id in a pair (the min-id member survives).

    With pairs ordered ``doc_a < doc_b``, dropping all ``doc_b`` keeps
    exactly one representative per connected chain reachable via
    ascending ids — the standard one-pass policy for dedup pipelines
    (full connected components would need iteration; at 100 TB this
    anti-join is one broadcastable/AQE-planned shuffle)."""
    losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return docs.join(losers, on=id_col, how="left_anti")


def dedup_groups_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full detect→group chain: banded-LSH candidate pairs →
    connected components. Returns (doc_id, group_id) where group_id is
    the minimum doc id of each near-dup component (transitive closure
    — A~B, B~C ⇒ all three share a group even if A and C never paired).

    The DuckDB oracle expresses the same closure as a recursive CTE,
    so the connected components get a *full* value-hash check, not
    just a rows-only one."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    return dedup_groups(pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("group_id").cast("long").alias("group_id"),
    )


# the full LSH-pair + recursive-closure CTE chain, shared by every
# groups-family oracle (a second literal copy could silently diverge
# from a closure fix)
_MINHASH_CLOSURE_SQL = f"""
WITH RECURSIVE s AS ({_SHINGLES_SQL}),
sig AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_SIG_EXPRS_SQL}
  FROM s GROUP BY doc_id
),
bands AS ({_BANDS_SQL}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT src, dst AS r FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.src = e.dst
),
groups AS (
  SELECT CAST(src AS BIGINT) AS doc_id,
         CAST(LEAST(src, MIN(r)) AS BIGINT) AS group_id
  FROM reach GROUP BY src
)"""

DEDUP_GROUPS_MINHASH_SQL = f"""
{_MINHASH_CLOSURE_SQL}
SELECT doc_id, group_id FROM groups
"""


def dedup_apply_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full detect→apply chain: banded-LSH candidate pairs →
    anti-join survivor policy (min-id member of each pair survives)."""
    docs = _read(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(spark, sf_dir)
    return apply_dedup(docs, pairs).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )


DEDUP_APPLY_MINHASH_SQL = f"""
WITH s AS ({_SHINGLES_SQL}),
sig AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_SIG_EXPRS_SQL}
  FROM s GROUP BY doc_id
),
bands AS ({_BANDS_SQL}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
"""


HAMMING_THRESHOLD = 3


SIMHASH_BANDS = HAMMING_THRESHOLD + 1  # pigeonhole: ≤k diffs ⇒ a band matches
_BAND_WIDTH = SIMHASH_BITS // SIMHASH_BANDS  # 48 bits / 4 bands = 12 bits


def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: Hamming distance ≤ k on the
    48-bit fingerprints (popcount of XOR).

    Candidate generation is *banded* (pigeonhole): split the bits into
    k+1 = 4 bands of 12 bits; distance ≤ k forces at least one band to
    match exactly, so candidates come from an equi-join on
    ``(band_idx, band_bits)`` — 4 096 buckets per band — and only
    candidates pay the exact popcount filter: the same bucketed shape
    as :func:`minhash_lsh_pairs`, replacing the former cartesian
    self-join. Pairs matching in several bands are deduped with one
    aggregate."""
    # cache: the fingerprint table is tiny but expensive to derive, and
    # the self-join would otherwise compute it twice
    sig = simhash(spark, sf_dir).cache()
    banded = bit_bands(
        sig, "simhash", SIMHASH_BANDS, _BAND_WIDTH, "doc_id", "simhash"
    )
    a = banded.select(
        "band_idx", "band_bits",
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"),
    )
    b = banded.select(
        "band_idx", "band_bits",
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"),
    )
    dist = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["band_idx", "band_bits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", dist.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        # a pair may collide in up to 4 bands — emit it once
        .groupBy("doc_a", "doc_b")
        .agg(F.first("hamming").alias("hamming"))
    )


SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
votes AS (
  SELECT doc_id,
         {", ".join(f"{e} AS v{b}" for b, e in enumerate(_simhash_bit_exprs()))}
  FROM toks WHERE tok <> '' GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST({" + ".join(f"(CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(SIMHASH_BITS))} AS BIGINT) AS simhash
FROM votes
"""


SIMHASH_NEARDUP_PAIRS_SQL = f"""
WITH sig AS ({SIMHASH_SQL.strip()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_THRESHOLD}
"""


def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: for every LSH candidate pair, the
    MinHash-estimated Jaccard (fraction of agreeing signature
    components) next to the exact shingle Jaccard and the absolute
    error — the calibration table that justifies a chosen
    (n_hashes, bands) configuration before trusting it at 100 TB.

    Shape: one shingle materialization feeds signatures, candidates
    and exact verification (materialize); the estimate is a two-sided
    signature join on the candidate list (AQE broadcasts it when it
    measures small — no forced hint, the list is data-dependent);
    exact counts run only over candidates."""
    docs = _read(spark, sf_dir, "documents")
    s = _shingles(docs).transform(materialize)
    # ONE signature aggregation feeds both the candidate bands and the
    # estimate join (deriving candidates from the shingles again would
    # re-shuffle and re-aggregate the whole signature frame)
    sig = _signatures_from_shingles(s).transform(materialize)
    cand = _lsh_pairs_from_sig(sig)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{k}").alias(f"a{k}") for k in range(N_MINHASH)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{k}").alias(f"b{k}") for k in range(N_MINHASH)],
    )
    agree = sum(
        (
            F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
            for k in range(N_MINHASH)
        ),
        F.lit(0),
    )
    est = cand.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", (agree / float(N_MINHASH)).alias("est_jaccard")
    )
    counts = s.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sha = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = s.select(F.col("doc_id").alias("cb_doc"), F.col("sh").alias("sh_b"))
    # candidate list and per-doc counts are data-/corpus-cardinality —
    # no broadcast hints, AQE decides (see ngram_jaccard_pairs)
    common = (
        cand
        .join(sha, "doc_a")
        .join(
            shb,
            (F.col("doc_b") == F.col("cb_doc")) & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    exact = (
        F.coalesce(F.col("common"), F.lit(0))
        / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("common"), F.lit(0)))
    )
    return (
        est.join(common, ["doc_a", "doc_b"], "left")
        .join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            F.col("doc_a").cast("long"),
            F.col("doc_b").cast("long"),
            F.round("est_jaccard", 4).cast("double").alias("est_jaccard"),
            F.round(exact, 4).cast("double").alias("exact_jaccard"),
            F.round(F.abs(F.col("est_jaccard") - exact), 4)
            .cast("double")
            .alias("abs_err"),
        )
    )


MINHASH_JACCARD_ESTIMATE_SQL = f"""
WITH s AS ({_SHINGLES_SQL}),
c AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id),
sig AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_SIG_EXPRS_SQL}
  FROM s GROUP BY doc_id
),
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
est AS (
  SELECT cand.doc_a, cand.doc_b,
         ({" + ".join(f"CASE WHEN a.h{k} = b.h{k} THEN 1 ELSE 0 END" for k in range(N_MINHASH))}) / {float(N_MINHASH)} AS est_j
  FROM cand
  JOIN sig a ON a.doc_id = cand.doc_a
  JOIN sig b ON b.doc_id = cand.doc_b
),
common AS (
  SELECT cand.doc_a, cand.doc_b, COUNT(*) AS common
  FROM cand
  JOIN s sa ON sa.doc_id = cand.doc_a
  JOIN s sb ON sb.doc_id = cand.doc_b AND sb.sh = sa.sh
  GROUP BY cand.doc_a, cand.doc_b
)
SELECT CAST(est.doc_a AS BIGINT) AS doc_a,
       CAST(est.doc_b AS BIGINT) AS doc_b,
       CAST(ROUND(est.est_j, 4) AS DOUBLE) AS est_jaccard,
       CAST(ROUND(COALESCE(cm.common, 0) * 1.0 / (ca.n_sh + cb.n_sh - COALESCE(cm.common, 0)), 4) AS DOUBLE) AS exact_jaccard,
       CAST(ROUND(ABS(est.est_j - COALESCE(cm.common, 0) * 1.0 / (ca.n_sh + cb.n_sh - COALESCE(cm.common, 0))), 4) AS DOUBLE) AS abs_err
FROM est
LEFT JOIN common cm ON cm.doc_a = est.doc_a AND cm.doc_b = est.doc_b
JOIN c ca ON ca.doc_id = est.doc_a
JOIN c cb ON cb.doc_id = est.doc_b
"""


def dedup_groups_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the SimHash near-dup graph — the same
    CC engine as :func:`dedup_groups_minhash` driven by the
    second candidate family (banded Hamming-distance pairs), so both
    sketch families feed the identical grouping machinery. Checked
    against a recursive-CTE transitive closure in DuckDB."""
    pairs = simhash_neardup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return dedup_groups(pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("group_id").cast("long").alias("group_id"),
    )


DEDUP_GROUPS_SIMHASH_SQL = f"""
WITH RECURSIVE sig AS ({SIMHASH_SQL.strip()}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT src, dst AS r FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.src = e.dst
)
SELECT CAST(src AS BIGINT) AS doc_id,
       CAST(LEAST(src, MIN(r)) AS BIGINT) AS group_id
FROM reach GROUP BY src
"""


# MOSS guard: drop boilerplate fingerprints seen in more docs than
# this (an ABSOLUTE cap by design — it also caps the equi-join bucket
# fan-out at df² — but note the corpus-growth consequence: a near-dup
# CLUSTER larger than the cap shares only above-cap fingerprints and
# its pairs are dropped entirely; at sf0.1 the synthetic corpus'
# clusters outgrow the cap and the operator correctly returns 0
# pairs; at df < 2 no fingerprint could ever be shared).
WINNOW_MAX_DF = 20
WINNOW_MIN_SHARED = 25  # pairs must share at least this many prints


def winnowing_shared_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style shared-fingerprint pairs: documents sharing ≥
    WINNOW_MIN_SHARED winnowing fingerprints — position-robust exact
    substring overlap, the plagiarism-detection complement to the
    probabilistic MinHash/SimHash families.

    100 TB shape (r6 rewrite, the ExactSubstr single-scan lesson):
    the old groupBy(fp)-df + join-back + fp self-join re-ran the
    corpus-sized position explode per differently-projected subtree
    (no ReusedExchange, measured — 2 Generate nodes in the final
    plan). Now ONE corpus scan and ONE shuffle by fp: a COUNT window
    applies the MOSS over-common guard (df > WINNOW_MAX_DF —
    boilerplate hot keys pass through as slim spillable rows, never
    a collected list), and the surviving buckets — now ≤ WINNOW_MAX_DF
    docs each, so ≤ C(cap,2) pairs — emit their doc pairs via a
    bounded in-bucket explode instead of a self-join. The plan test
    pins the single-Generate property; measured 5.07 → 4.06 s at
    sf0.1 interleaved best-of-3, and the join stages disappear."""
    from pyspark.sql.window import Window

    docs = _read(spark, sf_dir, "documents")
    selected = _winnow_selected(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), "fp"
    )
    rare = (
        selected.withColumn("df", F.count("*").over(Window.partitionBy("fp")))
        .filter(F.col("df") <= WINNOW_MAX_DF)
        .select("doc_id", "fp")
    )
    buckets = rare.groupBy("fp").agg(
        F.collect_list("doc_id").alias("ds")
    ).filter(F.size("ds") >= 2)
    # collect_list order is nondeterministic -> normalize each pair
    # with least/greatest instead of relying on array order
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) -> "
                "transform(slice(ds, i + 2, greatest(size(ds) - i - 1, 0)), "
                "y -> struct(least(x, y) AS a, greatest(x, y) AS b))))"
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(
            F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


WINNOWING_SHARED_PAIRS_SQL = f"""
WITH {_WINNOW_SELECTED_SQL},
dfc AS (SELECT fp, COUNT(*) AS df FROM selected GROUP BY fp),
rare AS (
  SELECT s.doc_id, s.fp FROM selected s JOIN dfc USING (fp)
  WHERE dfc.df <= {WINNOW_MAX_DF}
)
SELECT CAST(a.doc_id AS BIGINT) AS doc_a,
       CAST(b.doc_id AS BIGINT) AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
"""


def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination check (the train/test hygiene pass of
    every LLM data pipeline, cf. GPT-3 appendix C / Dodge et al. 2021):
    treating source ``src0`` as the held-out benchmark, score every
    OTHER document by the fraction of its distinct char-8-gram
    shingles that appear anywhere in the benchmark — docs above a
    threshold get quarantined before training.

    100 TB shape: one distinct-shingle scan feeds both sides; the
    benchmark shingle set (bounded by the benchmark corpus, not the
    training corpus) joins in as a marker LEFT join — AQE broadcasts
    it while small, shuffles cleanly when not — and total + hit
    counts come from ONE aggregation over the dominant train set.
    Output: per-doc overlap fraction, exact arithmetic."""
    return _contamination_scores(
        _source_shingles(_read(spark, sf_dir, "documents"))
    )


def _source_shingles(docs: DataFrame) -> DataFrame:
    """The materialized ``(doc_id, source, sh)`` cut: distinct sampled
    shingles per doc, tagged with the doc's source.  ONE scan that
    :func:`_contamination_scores` and the composed curation pipeline's
    LSH detector share."""
    return (
        _shingles(docs.select("doc_id", "text"), distinct=True)
        .join(docs.select("doc_id", "source"), "doc_id")
        .transform(materialize)
    )


def contamination_scores_for(
    sh: DataFrame, bench_sh: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Contamination scoring core, keyed by ``key_cols``: fraction of
    each key's (distinct) sampled shingles present in ``bench_sh``
    (one ``sh`` column). SINGLE SOURCE for the batch operators
    (doc_id-keyed) and the streaming ingest gate ((conv_id, turn_idx)-
    keyed) — the sketch-family rule that batch and streaming share
    helpers, so a denominator or marker change cannot desynchronize
    them (review r5 pass 4).

    ONE aggregation over the dominant (scored) set: a marker left
    join tags benchmark shingles, then total and hit counts come from
    the same groupBy — not separate semi-join + count shuffles."""
    marked = sh.join(bench_sh.withColumn("m", F.lit(1)), "sh", "left")
    return marked.groupBy(*key_cols).agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum(F.coalesce(F.col("m"), F.lit(0)))
        .cast("long")
        .alias("n_contaminated"),
        (
            F.sum(F.coalesce(F.col("m"), F.lit(0))).cast("double")
            / F.count("*")
        ).alias("contamination_frac"),
    )


def _contamination_scores(s: DataFrame) -> DataFrame:
    """Per-doc contamination stats from a sampled shingle frame
    ``(doc_id, source, sh)`` (distinct per doc, materialized by the
    caller) — shared by :func:`decontamination_overlap` and the
    composed curation pipeline, which feeds ONE shingle scan to both
    the LSH and decontamination detectors (review r5)."""
    bench_sh = s.filter(F.col("source") == "src0").select("sh").distinct()
    train = s.filter(F.col("source") != "src0").select("doc_id", "sh")
    return contamination_scores_for(train, bench_sh, ["doc_id"])


DECONTAMINATION_OVERLAP_SQL = f"""
WITH s AS ({sampled_shingle_scan_sql("doc_id, source, sh")}),
bench AS (SELECT DISTINCT sh FROM s WHERE source = 'src0'),
train AS (SELECT doc_id, sh FROM s WHERE source <> 'src0'),
hits AS (
  SELECT doc_id, COUNT(*) AS n_hit
  FROM train WHERE sh IN (SELECT sh FROM bench) GROUP BY doc_id
),
totals AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY doc_id)
SELECT t.doc_id,
       CAST(t.n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_contaminated,
       CAST(coalesce(h.n_hit, 0) AS DOUBLE) / t.n_shingles
         AS contamination_frac
FROM totals t LEFT JOIN hits h USING (doc_id)
"""


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication audit: for every unordered source
    pair (including a source against itself), how many MinHash-LSH
    candidate pairs connect them, absolute and as a rate against the
    possible cross pairs — the corpus-mixing dashboard that answers
    "how much of source A is already in source B" before weighting
    sources in a training mix (the full-matrix complement of
    :func:`decontamination_overlap`'s one-vs-rest view).

    100 TB shape: the banded candidate generator (never all-pairs),
    two doc_id → source joins whose right side is CORPUS-cardinality
    (one row per document — NOT force-broadcast; AQE picks the
    strategy, same rule as :func:`decontamination_report`), then two
    genuinely-broadcastable joins against the per-source counts
    (≤ |sources| rows) and a grouped count over ≤ |sources|² keys."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = minhash_lsh_pairs(spark, sf_dir)
    sa = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
    )
    sb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
    )
    tagged = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    counts = docs.groupBy("source").agg(F.count("*").alias("n"))
    ca = counts.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    # possible cross pairs: n_a*n_b for distinct sources, n*(n-1)/2
    # within one source (integer arithmetic, portable)
    possible = F.when(
        F.col("source_a") == F.col("source_b"),
        (F.col("n_a") * (F.col("n_a") - 1) / 2).cast("long"),
    ).otherwise((F.col("n_a") * F.col("n_b")).cast("long"))
    return (
        tagged.groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            possible.alias("n_possible"),
            F.round(F.col("n_pairs") / possible, 6)
            .cast("double")
            .alias("pair_rate"),
        )
    )


SOURCE_OVERLAP_MATRIX_SQL = f"""
WITH s AS ({_SHINGLES_SQL}),
sig AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_SIG_EXPRS_SQL}
  FROM s GROUP BY doc_id
),
bands AS ({_BANDS_SQL}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
tagged AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM pairs
  JOIN documents da ON da.doc_id = pairs.doc_a
  JOIN documents db ON db.doc_id = pairs.doc_b
),
counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
grouped AS (
  SELECT source_a, source_b, COUNT(*) AS n_pairs
  FROM tagged GROUP BY source_a, source_b
)
SELECT g.source_a, g.source_b,
       CAST(g.n_pairs AS BIGINT) AS n_pairs,
       CAST(CASE WHEN g.source_a = g.source_b
                 THEN ca.n * (ca.n - 1) / 2
                 ELSE ca.n * cb.n END AS BIGINT) AS n_possible,
       CAST(ROUND(g.n_pairs / (CASE WHEN g.source_a = g.source_b
                 THEN ca.n * (ca.n - 1) / 2
                 ELSE ca.n * cb.n END), 6) AS DOUBLE) AS pair_rate
FROM grouped g
JOIN counts ca ON ca.source = g.source_a
JOIN counts cb ON cb.source = g.source_b
"""


# Quarantine cut for decontaminate_apply. Real pipelines draw this at
# ~0.05–0.1 of 8-gram overlap (GPT-3 appendix C); the synthetic corpus
# shares template vocabulary with the benchmark source, inflating
# overlap (median ≈ 0.73 at sf0.01), so the shipped default splits
# THIS corpus meaningfully — it is a policy lever, not a constant.
CONTAMINATION_THRESHOLD = 0.75


def decontaminate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply side of :func:`decontamination_overlap` — the operator a
    training pipeline actually runs after the metric: drop every
    training document whose benchmark shingle overlap exceeds
    CONTAMINATION_THRESHOLD, returning the SURVIVORS with their
    overlap stats (the benchmark source itself is excluded from
    training by definition and never appears).

    100 TB shape: identical to the metric plus one cheap filter —
    no extra shuffle."""
    scored = decontamination_overlap(spark, sf_dir)
    return scored.filter(
        F.col("contamination_frac") <= CONTAMINATION_THRESHOLD
    )


DECONTAMINATE_APPLY_SQL = f"""
SELECT * FROM ({DECONTAMINATION_OVERLAP_SQL})
WHERE contamination_frac <= {CONTAMINATION_THRESHOLD}
"""


def decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source decontamination dashboard: how many docs each
    training source loses to the quarantine cut and how contaminated
    the source is overall — the rollup a curation run reports before
    committing the apply.

    100 TB shape: the metric chain plus one doc_id join against the
    (corpus-sized — NOT broadcastable, AQE plans it; review r5 pass 3)
    documents projection and a grouped aggregation over the handful
    of sources.  ``micro_frac`` is the MICRO-average (Σ contaminated
    shingles / Σ shingles) on purpose: both sums are exact integers,
    so the single division is order-independent in both engines —
    AVG over per-doc double fractions is an order-dependent float
    reduction the oracle could flake on (review r5 pass 2; the r5
    sequential-accumulation invariant class)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    scored = decontamination_overlap(spark, sf_dir)
    return (
        scored.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                F.when(
                    F.col("contamination_frac") > CONTAMINATION_THRESHOLD, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_quarantined"),
            (
                F.sum("n_contaminated").cast("double")
                / F.sum("n_shingles")
            ).alias("micro_frac"),
            F.round(F.max("contamination_frac"), 4)
            .cast("double")
            .alias("max_frac"),
        )
    )


DECONTAMINATION_REPORT_SQL = f"""
WITH scored AS ({DECONTAMINATION_OVERLAP_SQL})
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN s.contamination_frac > {CONTAMINATION_THRESHOLD}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
       CAST(SUM(s.n_contaminated) AS DOUBLE) / SUM(s.n_shingles)
         AS micro_frac,
       CAST(ROUND(MAX(s.contamination_frac), 4) AS DOUBLE) AS max_frac
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
GROUP BY d.source
"""


NGRAM_DECON_N = 13


def token_ngram_expr(text_col: str = "text", n: int = NGRAM_DECON_N) -> str:
    """Spark SQL expression: the array of lowercased space-token
    ``n``-gram windows of ``text_col`` (empty when the document has
    fewer than ``n`` tokens).  SINGLE SOURCE for the batch
    :func:`ngram_decontamination` and the streaming ingest gate — the
    sketch-family rule that batch and streaming share helpers, so a
    tokenization change cannot desynchronize them."""
    a = f"filter(split(lower({text_col}), ' '), x -> x <> '')"
    return (
        f"CASE WHEN size({a}) >= {n} THEN "
        f"transform(sequence(1, size({a}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({a}, i, {n}))) "
        f"ELSE array() END"
    )


def ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-13-gram benchmark decontamination (the published
    GPT-3 appendix C / PaLM rule, complementing the char-shingle
    :func:`decontamination_overlap` and the winnowing-fingerprint
    family): a training document is dirty if ANY of its lowercased
    13-token windows appears verbatim anywhere in the held-out
    benchmark source ``src0``.  Emits per non-benchmark doc the
    window count, the number of DISTINCT colliding 13-grams, and the
    dirty verdict; docs with < 13 tokens have zero windows and a
    clean verdict by definition (the zero-token-row lesson — they
    must not vanish from the report).

    100 TB shape: one token-window explode over the training corpus
    (O(corpus tokens) — the cost every published pipeline pays for
    this rule), the benchmark gram set distinct-bounded by the
    benchmark corpus and joined as a left-semi that AQE broadcasts
    while small; per-doc counts come from one groupBy on the slim
    (doc_id, gram) survivors plus a narrow pruned re-scan of the
    documents parquet for the window totals (no explode lineage is
    consumed twice)."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.expr("filter(split(lower(text), ' '), x -> x <> '')").alias("a"),
    )
    n = NGRAM_DECON_N
    grams = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.explode(F.expr(token_ngram_expr("text", n))).alias("g"),
    )
    bench = grams.filter(F.col("source") == "src0").select("g").distinct()
    hits = (
        grams.filter(F.col("source") != "src0")
        .select("doc_id", "g")
        .distinct()
        .join(bench, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_dirty_grams"))
    )
    base = toks.filter(F.col("source") != "src0").select(
        "doc_id",
        F.greatest(F.size("a") - (n - 1), F.lit(0))
        .cast("long")
        .alias("n_grams"),
    )
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_dirty_grams"), F.lit(0))
        .cast("long")
        .alias("n_dirty_grams"),
        (F.coalesce(F.col("n_dirty_grams"), F.lit(0)) > 0).alias("dirty"),
    )


NGRAM_DECONTAMINATION_SQL = f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS a
  FROM documents
),
grams AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(a) - {NGRAM_DECON_N - 1}),
                i -> array_to_string(a[i : i + {NGRAM_DECON_N - 1}], ' ')))
           AS g
  FROM toks WHERE len(a) >= {NGRAM_DECON_N}
),
bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dirty_grams
  FROM (SELECT DISTINCT doc_id, g FROM grams WHERE source <> 'src0')
  WHERE g IN (SELECT g FROM bench)
  GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(greatest(len(t.a) - {NGRAM_DECON_N - 1}, 0) AS BIGINT)
         AS n_grams,
       CAST(COALESCE(h.n_dirty_grams, 0) AS BIGINT) AS n_dirty_grams,
       (COALESCE(h.n_dirty_grams, 0) > 0) AS dirty
FROM toks t LEFT JOIN hits h ON t.doc_id = h.doc_id
WHERE t.source <> 'src0'
"""


def ngram_decontaminate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply side of :func:`ngram_decontamination` — keep only the
    training documents with ZERO benchmark 13-gram collisions (the
    published rule is any-collision-drops, so the apply is the
    ``dirty = false`` filter; sub-13-token docs are clean by
    definition and survive).

    100 TB shape: identical to the metric plus one cheap filter."""
    return ngram_decontamination(spark, sf_dir).filter(~F.col("dirty"))


NGRAM_DECONTAMINATE_APPLY_SQL = f"""
SELECT * FROM ({NGRAM_DECONTAMINATION_SQL})
WHERE NOT dirty
"""


def dedup_group_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram over the MinHash-LSH groups —
    the curation dashboard that tells you whether dedup is removing
    boilerplate mega-clusters or just pairs: one row per group size,
    with how many groups have it and how many docs they hold. Singleton
    docs (never in any pair) count as size-1 groups.

    100 TB shape: reuses the full detect→group chain, then two
    constant-ish aggregations (group sizes, then a size histogram)."""
    docs = _read(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(spark, sf_dir)
    groups = dedup_groups(pairs)
    membered = docs.select("doc_id").join(groups, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("group_id"), F.col("doc_id")).alias("group_id"),
    )
    sizes = membered.groupBy("group_id").agg(F.count("*").alias("group_size"))
    return (
        sizes.groupBy("group_size")
        .agg(F.count("*").cast("long").alias("n_groups"))
        .select(
            F.col("group_size").cast("long").alias("group_size"),
            "n_groups",
            (F.col("group_size") * F.col("n_groups"))
            .cast("long")
            .alias("n_docs"),
        )
    )


DEDUP_GROUP_SIZES_SQL = f"""
{_MINHASH_CLOSURE_SQL},
membered AS (
  SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN groups g ON d.doc_id = g.doc_id
),
sizes AS (
  SELECT group_id, COUNT(*) AS group_size FROM membered GROUP BY group_id
)
SELECT CAST(group_size AS BIGINT) AS group_size,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(group_size * COUNT(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY group_size
"""


def _dup_span_islands(docs: DataFrame):
    """Shared ExactSubstr island algebra (single source for the metric
    AND the apply operator — a second literal copy could silently
    diverge from a window/merge fix, the _MINHASH_CLOSURE_SQL rule):
    positioned full-length shingles over the WHOLE document (every
    position, unsampled: span coverage needs a contiguous marking, so
    the md5 sampling of the MinHash family does not apply — this is
    the same O(total bytes) cost class as the reference ExactSubstr
    suffix array of Lee et al. 2021) → corpus-duplicated shingle set →
    gaps-and-islands interval merge. Returns (doc_id, island, s, e)
    merged spans with 1-based [s, e) char bounds.

    VERDICT r5 #2: the duplicate marking is a COUNT window partitioned
    by ``sh`` over the positional frame, not groupBy("sh") + left_semi
    back onto it — the join form scanned and exploded the biggest
    frame in the system TWICE (the two Exchange subtrees project
    different columns, so ReusedExchange can never collapse them; the
    plan test pins the single-scan property). One corpus scan, one
    shuffle by sh, then the (much smaller) duplicated-position frame
    shuffles by doc_id for the island merge."""
    from pyspark.sql.window import Window

    pos_sh = (
        docs.filter(F.length("text") >= SHINGLE_LEN)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, length(text) - {SHINGLE_LEN - 1}), "
                    f"i -> substring(text, i, {SHINGLE_LEN}))"
                )
            ).alias("p0", "sh"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "sh")
    )
    wsh = Window.partitionBy("sh")
    marked = (
        pos_sh.withColumn("n_occ", F.count("*").over(wsh))
        .filter(F.col("n_occ") > 1)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    return (
        marked.withColumn(
            "prev_end", F.max(F.col("pos") + SHINGLE_LEN).over(wprev)
        )
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_end").isNull()
                | (F.col("pos") > F.col("prev_end")),
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(w))
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("s"),
            F.max(F.col("pos") + SHINGLE_LEN).alias("e"),
        )
    )


# Shared SQL CTE prefix for the same algebra (ends with the merged
# `spans` table — append statement-specific CTEs/SELECT after it).
_DUP_SPAN_ISLANDS_SQL = f"""
WITH pos_sh AS (
  -- FULL-length shingles only: no truncated fallback (it would credit
  -- {SHINGLE_LEN} covered chars to a shorter doc, dup_frac > 1)
  SELECT doc_id, CAST(i AS INT) AS pos,
         substr(text, CAST(i AS INT), {SHINGLE_LEN}) AS sh
  FROM (SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - {SHINGLE_LEN - 1}, 0) + 1)) AS i
        FROM documents)
),
dup_sh AS (SELECT sh FROM pos_sh GROUP BY sh HAVING COUNT(*) > 1),
marked AS (
  SELECT doc_id, pos FROM pos_sh WHERE sh IN (SELECT sh FROM dup_sh)
),
flagged AS (
  SELECT doc_id, pos,
         MAX(pos + {SHINGLE_LEN}) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM marked
),
islanded AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flagged
),
spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos + {SHINGLE_LEN}) AS e
  FROM islanded GROUP BY doc_id, island
)"""


def duplicated_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication metric (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): per document, the fraction of its text covered by
    length-SHINGLE_LEN substrings that occur more than once in the
    corpus — the signal that drives span-level (not doc-level) dedup.

    Islands come from the shared :func:`_dup_span_islands` algebra
    (single source with :func:`strip_duplicated_spans`); covered chars
    = Σ(e − s) over merged spans, over the full document length.

    100 TB shape: ONE shingle scan and ONE shuffle of the positional
    frame (count window by sh — see :func:`_dup_span_islands`), then
    a per-doc window over the surviving duplicated positions —
    partitioned by doc_id, so no global sort. Integer arithmetic
    throughout (position/island algebra), double only at the final
    division."""
    docs = _read(spark, sf_dir, "documents")
    covered = (
        _dup_span_islands(docs)
        .groupBy("doc_id")
        .agg(F.sum(F.col("e") - F.col("s")).alias("dup_chars"))
    )
    lens = docs.select(
        "doc_id", F.length("text").alias("text_len")
    )
    return (
        lens.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.col("text_len").cast("long").alias("text_len"),
            F.coalesce(F.col("dup_chars"), F.lit(0))
            .cast("long")
            .alias("dup_chars"),
            (
                F.coalesce(F.col("dup_chars"), F.lit(0)).cast("double")
                / F.greatest(F.col("text_len"), F.lit(1))
            ).alias("dup_frac"),
        )
    )


DUPLICATED_SPAN_FRACTION_SQL = f"""
{_DUP_SPAN_ISLANDS_SQL},
covered AS (
  SELECT doc_id, SUM(e - s) AS dup_chars FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS text_len,
       CAST(coalesce(c.dup_chars, 0) AS BIGINT) AS dup_chars,
       CAST(coalesce(c.dup_chars, 0) AS DOUBLE)
         / greatest(length(d.text), 1) AS dup_frac
FROM documents d LEFT JOIN covered c ON d.doc_id = c.doc_id
"""


def strip_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup APPLY side (Lee et al. 2021 §4.2): remove the
    corpus-duplicated substring spans that
    :func:`duplicated_span_fraction` measures, returning each document
    with the duplicated islands cut out — the operator a training
    pipeline actually runs after the metric says dedup is worth it.

    Spans come from the shared :func:`_dup_span_islands` algebra (so
    ``removed_chars`` equals the metric's ``dup_chars`` by
    construction — pinned by test), then per-doc text reconstruction:
    LAG over island starts yields each kept piece, a sorted concat
    rebuilds the document, and the untouched tail past the last island
    is appended verbatim.

    100 TB shape: identical to the metric plus a per-doc collect_list
    bounded by the island count (≤ doc_len/SHINGLE_LEN, interleaved
    islands merge). The merged-span frame is MATERIALIZED before its
    two consumers (pieces join + tails agg): it is small (only
    duplicated islands, slim scalar columns — ExistingRDD's no-prune
    rule satisfied), while its lineage contains the corpus-sized
    positional-shingle scan that would otherwise run twice
    (VERDICT r5 #2; the plan test pins zero Generate nodes here)."""
    from pyspark.sql.window import Window

    docs = _read(spark, sf_dir, "documents")
    spans = _dup_span_islands(docs).transform(materialize)
    wlag = Window.partitionBy("doc_id").orderBy("s")
    pieces = (
        spans.join(docs.select("doc_id", "text"), "doc_id")
        .withColumn("prev_e", F.lag("e").over(wlag))
        .select(
            "doc_id",
            "s",
            F.expr(
                "substring(text, coalesce(prev_e, 1), s - coalesce(prev_e, 1))"
            ).alias("piece"),
        )
    )
    rebuilt = pieces.groupBy("doc_id").agg(
        F.concat_ws(
            "",
            F.expr(
                "transform(array_sort(collect_list(struct(s, piece))), x -> x.piece)"
            ),
        ).alias("kept_prefix")
    )
    tails = spans.groupBy("doc_id").agg(
        F.max("e").alias("max_e"),
        F.sum(F.col("e") - F.col("s")).alias("removed"),
    )
    return (
        docs.select("doc_id", "text")
        .join(tails, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.when(F.col("max_e").isNull(), F.col("text"))
            .otherwise(
                F.concat(
                    F.coalesce(F.col("kept_prefix"), F.lit("")),
                    F.expr("substring(text, max_e)"),
                )
            )
            .alias("clean_text"),
            F.coalesce(F.col("removed"), F.lit(0))
            .cast("long")
            .alias("removed_chars"),
        )
    )


STRIP_DUPLICATED_SPANS_SQL = f"""
{_DUP_SPAN_ISLANDS_SQL},
pieces AS (
  SELECT sp.doc_id, sp.s,
         substr(d.text,
                CAST(coalesce(LAG(sp.e) OVER w, 1) AS INT),
                CAST(sp.s - coalesce(LAG(sp.e) OVER w, 1) AS INT)) AS piece
  FROM spans sp JOIN documents d USING (doc_id)
  WINDOW w AS (PARTITION BY sp.doc_id ORDER BY sp.s)
),
rebuilt AS (
  SELECT doc_id, string_agg(piece, '' ORDER BY s) AS kept_prefix
  FROM pieces GROUP BY doc_id
),
tails AS (
  SELECT doc_id, MAX(e) AS max_e, SUM(e - s) AS removed
  FROM spans GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CASE WHEN t.doc_id IS NULL THEN d.text
            ELSE coalesce(r.kept_prefix, '') || substr(d.text, CAST(t.max_e AS INT))
       END AS clean_text,
       CAST(coalesce(t.removed, 0) AS BIGINT) AS removed_chars
FROM documents d
LEFT JOIN tails t ON d.doc_id = t.doc_id
LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection by QUALITY, not min-id: within
    every MinHash-LSH near-dup group keep the longest document
    (n_chars as the cheap quality proxy, doc_id ascending as the
    deterministic tie-break) — the policy real curation pipelines use
    instead of ``apply_dedup``'s keep-first. Singleton docs form their
    own group and are always kept.

    100 TB shape: the detect→group chain (banded LSH + connected
    components, :func:`dedup_groups`) plus one window over groups —
    partitioned by group_id, so no global sort; group sizes are
    near-dup cluster sizes (small by construction after banding)."""
    from pyspark.sql.window import Window

    docs = _read(spark, sf_dir, "documents")
    groups = dedup_groups(minhash_lsh_pairs(spark, sf_dir))
    membered = (
        docs.select("doc_id", F.length("text").alias("n_chars"))
        .join(groups, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("group_id"), F.col("doc_id")).alias("group_id"),
        )
    )
    w = Window.partitionBy("group_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    wg = Window.partitionBy("group_id")
    return membered.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("group_id").cast("long").alias("group_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.count("*").over(wg).cast("long").alias("group_size"),
        (F.row_number().over(w) == 1).alias("kept"),
    )


DEDUP_KEEP_BEST_SQL = f"""
{_MINHASH_CLOSURE_SQL},
membered AS (
  SELECT d.doc_id, length(d.text) AS n_chars,
         coalesce(g.group_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN groups g ON d.doc_id = g.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(group_id AS BIGINT) AS group_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(COUNT(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size,
       ROW_NUMBER() OVER (
         PARTITION BY group_id ORDER BY n_chars DESC, doc_id ASC) = 1 AS kept
FROM membered
"""


# ---------------------------------------------------------------------------
# Fused multi-family grouping (VERDICT r3 §next #4)
# ---------------------------------------------------------------------------

# Node-id namespace stride for the fused CC union graph.  Each family's
# ids are offset by k * FUSED_NS; ids must stay below the stride (2^40 ≈
# 1.1e12 — far above any doc/vec id in the data contract) so the three
# subgraphs are disjoint and min-label arithmetic per family is the
# monotonic shift id -> k*FUSED_NS + id, preserving every comparison
# union-find makes.
FUSED_NS = 1 << 40


def _ns_shift_pairs(pairs: DataFrame, k: int) -> DataFrame:
    """Shift a (doc_a, doc_b) pair frame into family namespace ``k``.

    Contract guard (review r4): an id ≥ 2^40 (snowflake-style) would
    silently corrupt family decoding and could merge groups ACROSS
    families — fail the job loudly instead."""
    off = F.lit(k * FUSED_NS)

    def shifted(col: str):
        c = F.col(col).cast("long")
        return (
            F.when((c >= 0) & (c < F.lit(FUSED_NS)), c + off)
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "dedup_groups_multi: id out of the 2^40 "
                            "namespace stride: "
                        ),
                        c.cast("string"),
                    )
                )
            )
            .alias(col)
        )

    return pairs.select(shifted("doc_a"), shifted("doc_b"))


def dedup_groups_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three near-dup candidate families — MinHash shingle LSH,
    SimHash token bits, embedding SRP — grouped in ONE connected-
    components run instead of three.

    Edges never cross families (ids are namespaced by ``k*FUSED_NS``),
    so the union graph is three disjoint subgraphs and a single
    :func:`dedup_groups` call labels all three at once: one edge fetch
    and one driver union-find instead of three.  Per-family
    labels recover exactly — ``family = id >> 40``,
    ``doc_id = id & (FUSED_NS-1)`` — and equal the standalone
    :func:`dedup_groups_minhash` / :func:`dedup_groups_simhash` /
    :func:`similarity.dedup_groups_srp` outputs row-for-row (pinned by
    test).  Returns (family, doc_id, group_id).
    """
    from pdftotext_spark.operators import similarity

    _ns = _ns_shift_pairs

    fused_pairs = (
        _ns(minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b"), 0)
        .unionByName(
            _ns(simhash_neardup_pairs(spark, sf_dir).select("doc_a", "doc_b"), 1)
        )
        .unionByName(
            _ns(
                similarity.srp_neardup_pairs(spark, sf_dir).select(
                    F.col("vec_a").alias("doc_a"),
                    F.col("vec_b").alias("doc_b"),
                ),
                2,
            )
        )
    )
    labels = dedup_groups(fused_pairs)
    fam = F.shiftright(F.col("doc_id"), 40).cast("int")
    return labels.select(
        F.element_at(
            F.array(F.lit("minhash"), F.lit("simhash"), F.lit("srp")), fam + 1
        ).alias("family"),
        F.col("doc_id").bitwiseAND(F.lit(FUSED_NS - 1)).cast("long").alias("doc_id"),
        F.col("group_id").bitwiseAND(F.lit(FUSED_NS - 1)).cast("long").alias("group_id"),
    )


def _dedup_groups_multi_sql() -> str:
    """Oracle: the three standalone recursive-closure statements as
    derived tables under family tags — the same fixed points the fused
    Spark run must reproduce."""
    from pdftotext_spark.operators import similarity

    return f"""
SELECT 'minhash' AS family, doc_id, group_id FROM ({DEDUP_GROUPS_MINHASH_SQL})
UNION ALL
SELECT 'simhash' AS family, doc_id, group_id FROM ({DEDUP_GROUPS_SIMHASH_SQL})
UNION ALL
SELECT 'srp' AS family, vec_id AS doc_id, group_id FROM ({similarity.DEDUP_GROUPS_SRP_SQL})
"""


# ------------------------------------------------------ incremental dedup

# Production dedup at 100 TB is INCREMENTAL: each new crawl/batch is
# deduplicated against the already-curated corpus through a persisted
# index (content digests for exact, LSH band hashes for near-dup) —
# never by re-running all-pairs over corpus ∪ batch.  The fixture has
# no snapshot column, so the split is a deterministic source
# predicate both engines share: corpus = source < INCREMENTAL_SPLIT,
# incoming = source >= INCREMENTAL_SPLIT (lexicographic; at sf0.01
# that is 375 corpus / 125 incoming docs with ~380 cross-split LSH
# candidate pairs, so the gate is not trivially all-'keep').
INCREMENTAL_SPLIT = "src5"


def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact incremental dedup: verdict per INCOMING document against
    the corpus content-digest index plus first-seen-wins within the
    batch.

    Verdict rule (single pass, deterministic): ``corpus_dup`` if the
    md5(text) digest already exists in the corpus; else ``batch_dup``
    if a lower-doc_id incoming document shares the digest; else
    ``keep``.  ``content_hash`` is emitted because it IS the index row
    a production run persists for the next increment.

    100 TB shape: ONE shuffle on the 32-byte digest — the corpus side
    arrives as a distinct digest projection (the persisted index),
    the within-batch first-id comes from a window over the same hash
    partitioning the join just produced, so Spark reuses the exchange
    instead of shuffling twice."""
    docs = _read(spark, sf_dir, "documents")
    return incremental_exact_verdicts(
        docs.filter(F.col("source") < INCREMENTAL_SPLIT),
        docs.filter(F.col("source") >= INCREMENTAL_SPLIT),
    )


def incremental_exact_verdicts(
    corpus: DataFrame, incoming: DataFrame
) -> DataFrame:
    """Core of :func:`dedup_incremental_exact` over arbitrary
    ``(doc_id, source, text)`` frames — the constructed-input surface
    the semantic tests drive (the blind-oracle rule: an identical bug
    in both engines passes parity, so verdicts are also pinned on
    planted inputs)."""
    from pyspark.sql.window import Window

    def hashed(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            F.md5("text").alias("content_hash"),
        )

    corpus_idx = (
        hashed(corpus)
        .select("content_hash")
        .distinct()
        .withColumn("m", F.lit(1))
    )
    marked = hashed(incoming).join(corpus_idx, "content_hash", "left")
    first_id = F.min("doc_id").over(Window.partitionBy("content_hash"))
    return marked.select(
        "doc_id",
        "source",
        "content_hash",
        F.when(F.col("m").isNotNull(), F.lit("corpus_dup"))
        .when(F.col("doc_id") > first_id, F.lit("batch_dup"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


DEDUP_INCREMENTAL_EXACT_SQL = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source, md5(text) AS content_hash
  FROM documents
),
corpus AS (
  SELECT DISTINCT content_hash FROM d WHERE source < '{INCREMENTAL_SPLIT}'
),
scored AS (
  SELECT doc_id, source, content_hash,
         content_hash IN (SELECT content_hash FROM corpus) AS in_corpus,
         MIN(doc_id) OVER (PARTITION BY content_hash) AS first_id
  FROM d WHERE source >= '{INCREMENTAL_SPLIT}'
)
SELECT doc_id, source, content_hash,
       CASE WHEN in_corpus THEN 'corpus_dup'
            WHEN doc_id > first_id THEN 'batch_dup'
            ELSE 'keep' END AS verdict
FROM scored
"""


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup incremental dedup: verdict per INCOMING document from
    MinHash-LSH band collisions against the corpus band index and
    against lower-doc_id incoming documents.

    Verdict rule (greedy, single pass): ``corpus_dup`` if the doc
    shares any LSH band bucket with a corpus document; else
    ``batch_dup`` if it shares a band with a lower-doc_id incoming
    document (regardless of that document's own fate — the standard
    production simplification: deterministic and join-shaped, at the
    cost of occasionally dropping a doc whose only collision partner
    was itself dropped, where the CC-survivor rule of
    :func:`dedup_apply_minhash` would keep it); else ``keep``.  This
    is the BATCH twin of the streaming store-probe filter
    (``streaming/dedup.py:neardup_filter_batch``), which applies the
    same band-index + greedy lower-key policy per micro-batch.
    ``n_corpus_dups`` / ``n_batch_prior`` make the collision pressure
    observable, and every incoming doc emits a row (left joins from
    the base frame — the bigram_logloss zero-row lesson).

    100 TB shape: the corpus band index ``(band_idx, band_hash,
    corpus_id)`` is exactly what a production increment persists;
    both collision checks are bucketed equi-joins on band hash (the
    LSH-candidate join shape — never all-pairs), and the within-batch
    check self-joins only the INCREMENT's bands (small side), not the
    corpus."""
    docs = _read(spark, sf_dir, "documents")
    return incremental_minhash_verdicts(
        docs.filter(F.col("source") < INCREMENTAL_SPLIT),
        docs.filter(F.col("source") >= INCREMENTAL_SPLIT),
    )


def incremental_minhash_verdicts(
    corpus: DataFrame, incoming: DataFrame
) -> DataFrame:
    """Core of :func:`dedup_incremental_minhash` over arbitrary
    ``(doc_id, source, text)`` frames (constructed-input surface for
    the semantic tests, same reason as
    :func:`incremental_exact_verdicts`)."""

    def keyed(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("doc_id").cast("long").alias("doc_id"), "source", "text"
        )

    on = ["band_idx", "band_hash"]
    corpus_b = bands_for(
        signatures_for(keyed(corpus), ["doc_id"]), ["doc_id"]
    ).select(F.col("doc_id").alias("corpus_id"), *on)
    inc_docs = keyed(incoming)
    inc_b = bands_for(
        signatures_for(inc_docs, ["doc_id"]), ["doc_id"]
    ).transform(materialize_lazy)
    prior_b = inc_b.select(F.col("doc_id").alias("prior_id"), *on)
    corpus_hits = (
        band_pairs(inc_b, corpus_b, on)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_corpus_dups"))
    )
    batch_hits = (
        band_pairs(inc_b, prior_b, on, F.col("prior_id") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_batch_prior"))
    )
    return _greedy_verdicts(
        inc_docs.select("doc_id", "source"), "doc_id", corpus_hits, batch_hits
    )


def _greedy_verdicts(
    base: DataFrame, key: str, corpus_hits: DataFrame, batch_hits: DataFrame
) -> DataFrame:
    """The incremental family's verdict tail: left-join the per-key
    ``n_corpus_dups`` / ``n_batch_prior`` counts onto EVERY incoming
    row of ``base`` (zero-filled), then ``corpus_dup`` before
    ``batch_dup`` before ``keep``."""
    counts = [
        F.coalesce(c, F.lit(0)).cast("long").alias(c)
        for c in ("n_corpus_dups", "n_batch_prior")
    ]
    return (
        base.join(corpus_hits, key, "left")
        .join(batch_hits, key, "left")
        .select(*base.columns, *counts)
        .withColumn(
            "verdict",
            F.when(F.col("n_corpus_dups") > 0, F.lit("corpus_dup"))
            .when(F.col("n_batch_prior") > 0, F.lit("batch_dup"))
            .otherwise(F.lit("keep")),
        )
    )


DEDUP_INCREMENTAL_MINHASH_SQL = f"""
WITH s AS ({sampled_shingle_scan_sql("doc_id, source, sh", distinct=False)}),
sig AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source, {_SIG_EXPRS_SQL}
  FROM s GROUP BY doc_id, source
),
bands AS (
  {_minhash_bands_sql("doc_id, source")}
),
corpus AS (
  SELECT doc_id AS corpus_id, band_idx, band_hash FROM bands
  WHERE source < '{INCREMENTAL_SPLIT}'
),
inc AS (
  SELECT doc_id, band_idx, band_hash FROM bands
  WHERE source >= '{INCREMENTAL_SPLIT}'
),
corpus_hits AS (
  SELECT i.doc_id, COUNT(DISTINCT c.corpus_id) AS n_corpus_dups
  FROM inc i JOIN corpus c USING (band_idx, band_hash)
  GROUP BY i.doc_id
),
batch_hits AS (
  SELECT a.doc_id, COUNT(DISTINCT b.doc_id) AS n_batch_prior
  FROM inc a JOIN inc b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND b.doc_id < a.doc_id
  GROUP BY a.doc_id
)
SELECT d.doc_id, d.source,
       CAST(coalesce(ch.n_corpus_dups, 0) AS BIGINT) AS n_corpus_dups,
       CAST(coalesce(bh.n_batch_prior, 0) AS BIGINT) AS n_batch_prior,
       CASE WHEN coalesce(ch.n_corpus_dups, 0) > 0 THEN 'corpus_dup'
            WHEN coalesce(bh.n_batch_prior, 0) > 0 THEN 'batch_dup'
            ELSE 'keep' END AS verdict
FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM documents
      WHERE source >= '{INCREMENTAL_SPLIT}') d
LEFT JOIN corpus_hits ch ON d.doc_id = ch.doc_id
LEFT JOIN batch_hits bh ON d.doc_id = bh.doc_id
"""


# Verified-variant threshold: a band-collision candidate counts as a
# duplicate only if >= INCR_VERIFY_AGREE of the N_MINHASH signature
# components agree (estimated Jaccard >= AGREE/N). An INTEGER compare
# on the agreement count — no float threshold to drift cross-engine.
INCR_VERIFY_AGREE = 4


def dedup_incremental_minhash_verified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Signature-verified incremental near-dup dedup: same split and
    band-probe candidate generation as
    :func:`dedup_incremental_minhash`, but every candidate is VERIFIED
    against the persisted MinHash signatures before it can flip a
    verdict — a band collision whose full signatures agree on fewer
    than ``INCR_VERIFY_AGREE`` of ``N_MINHASH`` components (estimated
    Jaccard < AGREE/N) is a rejected candidate, not a duplicate.

    This is the NEXT.md #8 exact-verify variant: the candidate-level
    operator is the streaming store-probe twin (drop on any
    collision); this one is the batch-quality tier that trades one
    extra signature join for band-collision false positives.  Both
    the raw candidate counts and the verified counts are emitted so
    the verification's rejection rate is observable per document, and
    ``best_corpus_agree`` (max agreeing components over ALL corpus
    candidates, 0 when none) makes near-misses visible.

    100 TB shape: the persisted increment store gains one small table
    — signatures (corpus_id, h0..h7), one row per corpus doc —
    alongside the band index; candidate generation stays the bucketed
    band equi-join (never all-pairs), and verification joins the
    (small, collision-bounded) candidate list back to the signature
    store by id on both sides. Verdict rule stays greedy
    lower-doc_id, coherent with the unverified family."""
    docs = _read(spark, sf_dir, "documents")
    return incremental_minhash_verified_verdicts(
        docs.filter(F.col("source") < INCREMENTAL_SPLIT),
        docs.filter(F.col("source") >= INCREMENTAL_SPLIT),
    )


def incremental_minhash_verified_verdicts(
    corpus: DataFrame, incoming: DataFrame
) -> DataFrame:
    """Core of :func:`dedup_incremental_minhash_verified` over
    arbitrary ``(doc_id, source, text)`` frames (constructed-input
    surface for the semantic tests)."""

    def keyed(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("doc_id").cast("long").alias("doc_id"), "source", "text"
        )

    # signatures feed BOTH bands and the verification join — two
    # differently-projected consumers, so materialize (the ExactSubstr
    # lesson: ReusedExchange does NOT collapse differently-projected
    # subtrees of a shared lineage)
    corpus_sig = signatures_for(keyed(corpus), ["doc_id"]).transform(
        materialize_lazy
    )
    inc_docs = keyed(incoming)
    inc_sig = signatures_for(inc_docs, ["doc_id"]).transform(materialize_lazy)
    on = ["band_idx", "band_hash"]
    corpus_b = bands_for(corpus_sig, ["doc_id"]).select(
        F.col("doc_id").alias("corpus_id"), *on
    )
    inc_b = bands_for(inc_sig, ["doc_id"]).transform(materialize_lazy)
    prior_b = inc_b.select(F.col("doc_id").alias("prior_id"), *on)

    agree = sum(
        (
            F.when(F.col(f"a{k}") == F.col(f"c{k}"), 1).otherwise(0)
            for k in range(N_MINHASH)
        ),
        F.lit(0),
    )
    sig_a = inc_sig.select(
        "doc_id", *[F.col(f"h{k}").alias(f"a{k}") for k in range(N_MINHASH)]
    )

    def verified_stats(cand: DataFrame, other_sig: DataFrame, other_key: str):
        """(doc_id, n_cands, n_verified, best_agree) for a distinct
        candidate-pair frame; joins both signature stores by id."""
        sig_c = other_sig.select(
            F.col("doc_id").alias(other_key),
            *[F.col(f"h{k}").alias(f"c{k}") for k in range(N_MINHASH)],
        )
        scored = (
            cand.join(sig_a, "doc_id")
            .join(sig_c, other_key)
            .select("doc_id", agree.alias("agree"))
        )
        return scored.groupBy("doc_id").agg(
            F.count("*").alias("n_cands"),
            F.sum(
                F.when(F.col("agree") >= INCR_VERIFY_AGREE, 1).otherwise(0)
            ).alias("n_verified"),
            F.max("agree").alias("best_agree"),
        )

    corpus_cand = band_pairs(inc_b, corpus_b, on)
    corpus_stats = verified_stats(corpus_cand, corpus_sig, "corpus_id")
    batch_cand = band_pairs(
        inc_b, prior_b, on, F.col("prior_id") < F.col("doc_id")
    )
    batch_stats = verified_stats(
        batch_cand, inc_sig, "prior_id"
    ).withColumnsRenamed(
        {
            "n_cands": "nb_cands",
            "n_verified": "nb_verified",
            "best_agree": "nb_best",
        }
    )

    z = F.lit(0)
    out = (
        inc_docs.select("doc_id", "source")
        .join(corpus_stats, "doc_id", "left")
        .join(batch_stats, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_cands", z).cast("long").alias("n_corpus_cands"),
            F.coalesce("n_verified", z).cast("long").alias("n_corpus_dups"),
            F.coalesce("nb_cands", z).cast("long").alias("n_batch_cands"),
            F.coalesce("nb_verified", z).cast("long").alias("n_batch_prior"),
            F.coalesce("best_agree", z).cast("long").alias("best_corpus_agree"),
        )
    )
    return out.select(
        "doc_id",
        "source",
        "n_corpus_cands",
        "n_corpus_dups",
        "n_batch_cands",
        "n_batch_prior",
        "best_corpus_agree",
        F.when(F.col("n_corpus_dups") > 0, F.lit("corpus_dup"))
        .when(F.col("n_batch_prior") > 0, F.lit("batch_dup"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


_INCR_AGREE_SQL = " + ".join(
    f"CASE WHEN a.h{k} = c.h{k} THEN 1 ELSE 0 END" for k in range(N_MINHASH)
)

DEDUP_INCREMENTAL_MINHASH_VERIFIED_SQL = f"""
WITH s AS ({sampled_shingle_scan_sql("doc_id, source, sh", distinct=False)}),
sig AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source, {_SIG_EXPRS_SQL}
  FROM s GROUP BY doc_id, source
),
bands AS (
  {_minhash_bands_sql("doc_id, source")}
),
corpus_b AS (
  SELECT doc_id AS corpus_id, band_idx, band_hash FROM bands
  WHERE source < '{INCREMENTAL_SPLIT}'
),
inc_b AS (
  SELECT doc_id, band_idx, band_hash FROM bands
  WHERE source >= '{INCREMENTAL_SPLIT}'
),
corpus_cand AS (
  SELECT DISTINCT i.doc_id, c.corpus_id
  FROM inc_b i JOIN corpus_b c USING (band_idx, band_hash)
),
corpus_stats AS (
  SELECT k.doc_id, COUNT(*) AS n_cands,
         SUM(CASE WHEN {_INCR_AGREE_SQL} >= {INCR_VERIFY_AGREE} THEN 1 ELSE 0 END) AS n_verified,
         MAX({_INCR_AGREE_SQL}) AS best_agree
  FROM corpus_cand k
  JOIN sig a ON a.doc_id = k.doc_id
  JOIN sig c ON c.doc_id = k.corpus_id
  GROUP BY k.doc_id
),
batch_cand AS (
  SELECT DISTINCT x.doc_id, y.doc_id AS prior_id
  FROM inc_b x JOIN inc_b y
    ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
   AND y.doc_id < x.doc_id
),
batch_stats AS (
  SELECT k.doc_id, COUNT(*) AS nb_cands,
         SUM(CASE WHEN {_INCR_AGREE_SQL} >= {INCR_VERIFY_AGREE} THEN 1 ELSE 0 END) AS nb_verified
  FROM batch_cand k
  JOIN sig a ON a.doc_id = k.doc_id
  JOIN sig c ON c.doc_id = k.prior_id
  GROUP BY k.doc_id
)
SELECT d.doc_id, d.source,
       CAST(coalesce(cs.n_cands, 0) AS BIGINT) AS n_corpus_cands,
       CAST(coalesce(cs.n_verified, 0) AS BIGINT) AS n_corpus_dups,
       CAST(coalesce(bs.nb_cands, 0) AS BIGINT) AS n_batch_cands,
       CAST(coalesce(bs.nb_verified, 0) AS BIGINT) AS n_batch_prior,
       CAST(coalesce(cs.best_agree, 0) AS BIGINT) AS best_corpus_agree,
       CASE WHEN coalesce(cs.n_verified, 0) > 0 THEN 'corpus_dup'
            WHEN coalesce(bs.nb_verified, 0) > 0 THEN 'batch_dup'
            ELSE 'keep' END AS verdict
FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM documents
      WHERE source >= '{INCREMENTAL_SPLIT}') d
LEFT JOIN corpus_stats cs ON d.doc_id = cs.doc_id
LEFT JOIN batch_stats bs ON d.doc_id = bs.doc_id
"""


# ------------------------------------------------- boilerplate report

TOP_DUP_SPANS = 20
_SPAN_EXCERPT_LEN = 60


def top_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate dashboard: the TOP_DUP_SPANS corpus-duplicated
    ExactSubstr islands ranked by total duplicated characters — the
    "what IS the duplication" report a pipeline reads before choosing
    span-level vs doc-level dedup (Lee et al. 2021 report exactly this
    table for C4: the top spans are license boilerplate and
    navigation chrome).

    Islands come from the shared :func:`_dup_span_islands` algebra
    (single source with the metric and the apply operator), joined
    back to the text to materialize each island's content, grouped by
    the exact island text: ``n_docs`` distinct documents, ``n_occ``
    island instances, ``total_dup_chars = n_occ × span_len`` the
    ranking key. ``span_md5`` keys a drill-down; ``excerpt`` is the
    first 60 chars.

    100 TB shape: the metric's single positional scan + one shuffle
    by island text (cardinality = distinct islands, far below
    positions), and the top-k plans as TakeOrderedAndProject — no
    global sort (verified: the AQE FINAL plan keeps one posexplode;
    the join-back build side is AQE's choice)."""
    return top_duplicated_spans_for(
        _read(spark, sf_dir, "documents")
    )


def top_duplicated_spans_for(docs: DataFrame) -> DataFrame:
    """Core of :func:`top_duplicated_spans` over an arbitrary
    ``(doc_id, text)`` frame (constructed-input surface)."""
    docs = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    spans = _dup_span_islands(docs)
    texts = spans.join(docs, "doc_id").select(
        "doc_id", F.expr("substring(text, s, e - s)").alias("span_text")
    )
    grouped = texts.groupBy("span_text").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_occ"),
    )
    return (
        grouped.select(
            F.md5("span_text").alias("span_md5"),
            F.length("span_text").cast("long").alias("span_len"),
            "n_docs",
            "n_occ",
            (F.length("span_text") * F.col("n_occ"))
            .cast("long")
            .alias("total_dup_chars"),
            F.substring("span_text", 1, _SPAN_EXCERPT_LEN).alias("excerpt"),
        )
        .orderBy(
            F.desc("total_dup_chars"), F.desc("span_len"), F.asc("span_md5")
        )
        .limit(TOP_DUP_SPANS)
    )


TOP_DUPLICATED_SPANS_SQL = f"""{_DUP_SPAN_ISLANDS_SQL},
texts AS (
  SELECT sp.doc_id, substr(d.text, CAST(sp.s AS INT), CAST(sp.e - sp.s AS INT)) AS span_text
  FROM spans sp JOIN documents d USING (doc_id)
),
grouped AS (
  SELECT span_text, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
  FROM texts GROUP BY span_text
)
SELECT md5(span_text) AS span_md5,
       CAST(length(span_text) AS BIGINT) AS span_len,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_occ AS BIGINT) AS n_occ,
       CAST(length(span_text) * n_occ AS BIGINT) AS total_dup_chars,
       substr(span_text, 1, {_SPAN_EXCERPT_LEN}) AS excerpt
FROM grouped
ORDER BY total_dup_chars DESC, span_len DESC, span_md5 ASC
LIMIT {TOP_DUP_SPANS}
"""
