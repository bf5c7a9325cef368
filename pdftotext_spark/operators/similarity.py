"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — brute-force cosine top-k against a query
  vector, computed entirely with higher-order functions
  (``zip_with`` + ``aggregate``) — JVM-side, no UDF. The oracle
  mirrors the exact same sequential-sum formula via DuckDB's
  ``list_zip``/``list_transform``/``list_sum`` so doubles match.
- :func:`cosine_neardup_pairs` — near-duplicate pairs bucketed by
  ``label`` (the IVF-style scale path: compare only within a coarse
  bucket; at 100 TB labels come from a clustering/LSH pass, and the
  pairwise compare never crosses buckets).
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdftotext_spark.operators.dedup import (
    _greedy_verdicts,
    band_pairs,
    bit_bands,
)
from pdftotext_spark.operators.materialize import (
    materialize,
    materialize_lazy,
)

TOP_K = 10
# the synthetic embeddings are near-orthogonal, so 0.8 matched nothing
# and the driver's hash check was trivially green on 0 rows; 0.3 yields
# a real pair set (111 rows at sf0.01) the oracle actually verifies
NEARDUP_THRESHOLD = 0.30
CHUNK_SIZE = 128  # bounds per-task pair work at CHUNK_SIZE² vectors
QUERY_VEC_ID = 0


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product (same order as DuckDB's
    list_sum over list_zip, so results match bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_scan_for(
    emb: DataFrame, k: int, id_col: str = "vec_id"
) -> DataFrame:
    """Top-``k`` cosine neighbours of the fixed query vector
    (``vec_id`` = :data:`QUERY_VEC_ID`, its own row excluded) over an
    arbitrary ``(vec_id, embedding)`` frame — the broadcast-single-
    query-row scan shared by :func:`cosine_topk` and the retrieval
    module's dense pool (one source for the shape; they used to be
    duplicated). The query vector joins in as a broadcast single row
    (no driver collect → scales to any table size); top-k plans as
    TakeOrderedAndProject; cosine is 4dp-rounded BEFORE ranking so
    the order is the cross-engine-stable one."""
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding")
    )
    joined = emb.filter(F.col("vec_id") != QUERY_VEC_ID).join(F.broadcast(q))
    cos = _dot(F.col("embedding"), F.col("q_embedding")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_embedding"))
    )
    return (
        joined.select(
            F.col("vec_id").cast("long").alias(id_col),
            F.round(cos, 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k nearest neighbours of vec_id=0 by cosine similarity."""
    return cosine_scan_for(_read(spark, sf_dir, "embeddings"), TOP_K)


# fixed benchmark query set for the batched scan (vec_ids present at
# every sf; each query's own row is excluded from its result)
BATCH_QUERY_VEC_IDS = (0, 1, 2, 3)
COSINE_BATCH_TOPK = 5


def cosine_batch_topk_for(
    emb,
    query_ids: tuple[int, ...] = BATCH_QUERY_VEC_IDS,
    k: int = COSINE_BATCH_TOPK,
):
    """Batched dense retrieval: top-``k`` cosine neighbours for a SET
    of query vectors in ONE corpus scan — the dense twin of
    ``retrieval.bm25_batch_topk``. Per (query, doc) pair the 4dp
    cosine is identical to :func:`cosine_scan_for` run on that query
    alone (pinned by test).

    Output: query_id, vec_id, cosine, q_rank (1-based), ordered by
    (query_id, q_rank).

    100 TB shape: the Q-row query frame broadcasts into a single
    corpus scan (Q cosines per row — corpus-side I/O independent of
    Q, the batch amortization); the per-query top-k window is
    WindowGroupLimit-ed (Partial below the query_id shuffle), so only
    ~Q·k rows per task ever shuffle — never the corpus."""
    q = emb.filter(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    joined = emb.join(F.broadcast(q)).filter(
        F.col("vec_id").cast("long") != F.col("query_id")
    )
    cos = _dot(F.col("embedding"), F.col("q_embedding")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_embedding"))
    )
    scored = joined.select(
        "query_id",
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round(cos, 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("q_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("q_rank") <= k)
        .orderBy("query_id", "q_rank")
    )


def cosine_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered batched dense retrieval over ``embeddings``."""
    return cosine_batch_topk_for(_read(spark, sf_dir, "embeddings"))


def cos4_sql(e_emb: str, q_emb: str) -> str:
    """DuckDB 4dp cosine between two list columns — the same
    sequential list_sum-over-list_zip order :func:`_dot` evaluates
    JVM-side (the ONE dialect spelling of the cosine discipline; the
    retrieval oracles reuse it)."""
    dot = (
        f"list_sum(list_transform(list_zip({e_emb}, {q_emb}), "
        f"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )
    nrm = (
        "sqrt(list_sum(list_transform({v}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    return (
        f"ROUND({dot} / ({nrm.format(v=e_emb)} * {nrm.format(v=q_emb)}), 4)"
    )


COSINE_TOPK_SQL = f"""
WITH q AS (SELECT embedding AS q_embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
       {cos4_sql("e.embedding", "q.q_embedding")} AS cosine
FROM embeddings e, q
WHERE e.vec_id <> {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id ASC
LIMIT {TOP_K}
"""


_BATCH_QIDS_SQL = ", ".join(str(i) for i in BATCH_QUERY_VEC_IDS)

COSINE_BATCH_TOPK_SQL = f"""
WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS query_id, embedding AS q_embedding
  FROM embeddings WHERE vec_id IN ({_BATCH_QIDS_SQL})
),
scored AS (
  SELECT q.query_id,
         CAST(e.vec_id AS BIGINT) AS vec_id,
         {cos4_sql("e.embedding", "q.q_embedding")} AS cosine
  FROM embeddings e, q
  WHERE CAST(e.vec_id AS BIGINT) <> q.query_id
),
ranked AS (
  SELECT *,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS BIGINT) AS q_rank
  FROM scored
  QUALIFY q_rank <= {COSINE_BATCH_TOPK}
)
SELECT query_id, vec_id, cosine, q_rank
FROM ranked
ORDER BY query_id, q_rank
"""


# Labels larger than this leave the exact chunked all-pairs path and
# route through SRP band candidates instead (VERDICT r4 §next #4): the
# chunk scheme bounds per-TASK work at CHUNK_SIZE² but total work at
# Σ bucket² — a label holding 1% of a 100 TB corpus still pays ~10¹⁸
# dot products. Above the cap, candidates come from a banded equi-join
# of 16 bands × 8 bits (md5 plane family, 256 buckets per band within
# the label: random-pair collision ≈ 16/256), scored exactly and
# thresholded identically — emitted values are a SUBSET of the exact
# path's rows. Band-missed pairs are the documented LSH trade, with
# recall(c) = 1 − (1 − p⁸)¹⁶ for p = 1 − acos(c)/π per pair cosine c:
# ≈ 0.98 at c = 0.86, ≈ 0.80 at 0.70, ≈ 0.23 at the default
# threshold 0.30 itself — the family is tuned to catch STRONG
# near-dups in oversized buckets; threshold-level pairs at low
# thresholds form a dense relation no LSH can enumerate
# subquadratically, so NEARDUP_SRP_BAND_BITS (selectivity) and the
# cap are the honest levers. Test corpora sit far below the cap, so
# the DuckDB oracle (naive bucketed join) stays value-exact.
EXACT_BUCKET_CAP = 4096
NEARDUP_SRP_BANDS = 16
NEARDUP_SRP_BAND_BITS = 8

# below this pair-cosine threshold the 16×8-bit band family's recall
# bound degrades fast (~0.80 at 0.70, ~0.23 at 0.30) — routing an
# oversized bucket there silently keeps more than the exact gate would
_BAND_RECALL_WARN_EPS = 0.7


def _band_pair_recall(threshold: float) -> float:
    """The 16×8-bit SRP band family's pair recall AT the cosine
    threshold: 1 − (1 − p^bits)^bands with p = 1 − acos(c)/π — the
    docstring formula, centralized so the runtime warning and the
    documentation can't drift."""
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    return 1.0 - (1.0 - p**NEARDUP_SRP_BAND_BITS) ** NEARDUP_SRP_BANDS


def _warn_routed_low_eps(op: str, threshold: float) -> None:
    """VERDICT r5: when a bucket routes through SRP bands below the
    family's tuned operating range, the keep-more degradation was
    silent at runtime — surface the computed recall bound so an
    operator reading the logs sees it without opening the docstring.
    Fail-safe either way: a band-missed pair can only KEEP more."""
    if threshold >= _BAND_RECALL_WARN_EPS:
        return
    recall = _band_pair_recall(threshold)
    warnings.warn(
        f"{op}: bucket(s) above EXACT_BUCKET_CAP={EXACT_BUCKET_CAP} "
        f"routed through {NEARDUP_SRP_BANDS}x{NEARDUP_SRP_BAND_BITS}-bit "
        f"SRP bands at eps={threshold:g}, below the family's tuned "
        f"range (>= {_BAND_RECALL_WARN_EPS}); threshold-level pair "
        f"recall bound is ~{recall:.2f} (1-(1-p^bits)^bands, "
        f"p=1-acos(eps)/pi). Missed pairs only KEEP more vectors "
        f"(never wrong-drop); raise K / lower cluster sizes, or raise "
        f"eps, for exact behavior.",
        stacklevel=3,
    )


def cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs within coarse buckets (label),
    with *bounded* per-task AND total work.

    Labels of ≤ EXACT_BUCKET_CAP vectors run the exact path: each
    label bucket of n vectors is hash-split into ⌈n / CHUNK_SIZE⌉
    chunks and the self-join runs per chunk *pair* on the key
    (label, ci, cj) — so no task ever compares more than CHUNK_SIZE²
    vectors. Both chunk-pair replications are broadcast joins against
    a per-label row count; output is identical to the naive bucketed
    join.

    Labels ABOVE the cap route through SRP band candidates
    (:func:`_srp_label_candidates`) — same banded equi-join shape as
    :func:`knn_graph_srp`, restricted within the label — then exact
    rescoring, keeping total work subquadratic in the bucket size
    (the 100 TB guard; see EXACT_BUCKET_CAP)."""
    from pdftotext_spark.sources.shipping import ship_package

    ship_package(spark)
    # norms computed once per vector (N), not per pair (N²/buckets)
    emb = (
        _read(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .withColumn("nrm", _norm(F.col("embedding")))
    )
    # one row per label — materialized once, feeds chunk sizing AND the
    # routing decision (the count() below is over this tiny frame, not
    # the embeddings)
    all_counts = embedding_bucket_stats(spark, sf_dir).transform(materialize)
    counts = all_counts.filter(F.col("cnt") <= EXACT_BUCKET_CAP)
    big_labels = all_counts.filter(F.col("cnt") > EXACT_BUCKET_CAP)
    if big_labels.count() == 0:
        # no oversized label: skip the approximate branch entirely
        # (its mapInPandas/distinct jobs are not free even when empty)
        return _cosine_neardup_exact(emb, counts)
    _warn_routed_low_eps("cosine_neardup_pairs", NEARDUP_THRESHOLD)
    # routing fans emb into up to five consumers (exact a/b sides, SRP
    # band keys, score ea/eb) — materialize so the parquet scan + norm
    # fold run once, the knn_graph_srp pattern (review r5)
    emb = emb.transform(materialize)
    srp = _cosine_neardup_srp(emb, big_labels)
    return _cosine_neardup_exact(emb, counts).unionByName(srp)


def _cosine_neardup_exact(
    emb: DataFrame,
    counts: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
) -> DataFrame:
    """The exact chunk-pair path over the in-cap labels in ``counts``
    (value-identical to the naive bucketed join — the oracle's
    semantics)."""
    chunked = emb.join(
        F.broadcast(counts.select("label", "n_chunks")), "label"
    ).withColumn("chunk", F.pmod(F.hash("vec_id"), F.col("n_chunks")).cast("int"))
    # every (ci ≤ cj) chunk pair per label — tiny, broadcast twice
    pairs = counts.select(
        "label",
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, n_chunks - 1), i -> "
                "transform(sequence(i, n_chunks - 1), j -> "
                "named_struct('ci', i, 'cj', j))))"
            )
        ).alias("p"),
    ).select("label", F.col("p.ci").alias("ci"), F.col("p.cj").alias("cj"))
    a_rep = (
        chunked.select(
            F.col("label").alias("la"),
            F.col("chunk").alias("chunk_a"),
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("emb_a"),
            F.col("nrm").alias("nrm_a"),
        )
        .join(
            F.broadcast(
                pairs.select(
                    F.col("label").alias("pla"),
                    F.col("ci").alias("ci_a"),
                    F.col("cj").alias("cj_a"),
                )
            ),
            (F.col("la") == F.col("pla")) & (F.col("chunk_a") == F.col("ci_a")),
        )
        .select("la", "ci_a", "cj_a", "id_a", "emb_a", "nrm_a")
    )
    b_rep = (
        chunked.select(
            F.col("label").alias("lb"),
            F.col("chunk").alias("chunk_b"),
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("emb_b"),
            F.col("nrm").alias("nrm_b"),
        )
        .join(
            F.broadcast(
                pairs.select(
                    F.col("label").alias("plb"),
                    F.col("ci").alias("ci_b"),
                    F.col("cj").alias("cj_b"),
                )
            ),
            (F.col("lb") == F.col("plb")) & (F.col("chunk_b") == F.col("cj_b")),
        )
        .select("lb", "ci_b", "cj_b", "id_b", "emb_b", "nrm_b")
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        a_rep.join(
            b_rep,
            (F.col("la") == F.col("lb"))
            & (F.col("ci_a") == F.col("ci_b"))
            & (F.col("cj_a") == F.col("cj_b")),
        )
        # same-chunk diagonal dedups on id order; cross-chunk pairs
        # occur exactly once (chunking is id-agnostic)
        .filter((F.col("ci_a") < F.col("cj_a")) | (F.col("id_a") < F.col("id_b")))
        .select(
            F.least("id_a", "id_b").cast("long").alias("vec_a"),
            F.greatest("id_a", "id_b").cast("long").alias("vec_b"),
            F.col("la").cast("int").alias("label"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _srp_label_candidates(big_emb: DataFrame) -> DataFrame:
    """Banded SRP candidate pairs WITHIN each oversized label: 16
    bands × 8 bits over the shared md5 plane family (planes 0..127),
    Arrow-batched, keyed by (label, band_idx, band_bits) — Σ
    band-bucket² work per label (256 buckets per band) instead of
    bucket², the same equi-join scale shape as :func:`knn_graph_srp`
    with more selective bands (near-dup candidates only need to catch
    high-cosine pairs, not moderate-cosine top-k neighbors).  Returns
    (label, src, dst) with src < dst."""
    import functools

    planes = [
        _srp_plane(k)
        for k in range(NEARDUP_SRP_BANDS * NEARDUP_SRP_BAND_BITS)
    ]
    keys = big_emb.select("label", "vec_id", "embedding").mapInPandas(
        functools.partial(
            _band_keys_pd,
            planes=planes,
            n_bands=NEARDUP_SRP_BANDS,
            n_bits=NEARDUP_SRP_BAND_BITS,
            extra_cols=("label",),
        ),
        "vec_id long, band_idx int, band_bits long, label int",
    ).transform(materialize)
    on = ["label", "band_idx", "band_bits"]
    return band_pairs(
        keys.select(*on, F.col("vec_id").alias("src")),
        keys.select(*on, F.col("vec_id").alias("dst")),
        on,
        F.col("src") < F.col("dst"),
    )


def _cosine_neardup_srp(
    emb: DataFrame,
    big_labels: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
) -> DataFrame:
    """Approximate branch for labels above EXACT_BUCKET_CAP: SRP band
    candidates within the label, exact cosine rescoring, identical
    threshold — emitted values are exact, only band-missed pairs are
    absent."""
    big = emb.join(F.broadcast(big_labels.select("label")), "label").withColumn(
        "label", F.col("label").cast("int")
    )
    cand = _srp_label_candidates(big)
    ea = big.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = big.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    return (
        cand.join(ea, "src")
        .join(eb, "dst")
        .mapInPandas(
            _pair_cosine_pd,
            "src long, dst long, cosine_raw double, label int",
        )
        .select(
            F.col("src").cast("long").alias("vec_a"),
            F.col("dst").cast("long").alias("vec_b"),
            F.col("label").cast("int").alias("label"),
            F.round("cosine_raw", 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


SRP_PLANES = 16  # hyperplanes → 2^16 buckets
SRP_DIM = 64  # embeddings table vector width
SRP_COSINE_THRESHOLD = 0.30


def _srp_plane(k: int) -> list[float]:
    """Deterministic pseudo-random hyperplane k: component d derives
    from md5(f"{k}:{d}") mapped to [-0.5, 0.5). Both engines embed the
    same literals, so the LSH is oracle-checkable — no RNG state."""
    import hashlib

    return [
        int(hashlib.md5(f"{k}:{d}".encode()).hexdigest()[:8], 16) / 2**32 - 0.5
        for d in range(SRP_DIM)
    ]


_SRP_PLANES_LITERALS = [_srp_plane(k) for k in range(SRP_PLANES)]


def _srp_bucket_col() -> Column:
    """16-bit signed-random-projection bucket id for the ``embedding``
    column (Charikar, STOC 2002): bit k = sign(v · plane_k)."""
    bits = []
    for k, plane in enumerate(_SRP_PLANES_LITERALS):
        arr = F.array(*[F.lit(x) for x in plane])
        dot = _dot(F.col("embedding"), arr)
        bits.append(F.when(dot > 0, F.lit(1 << k)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector SRP-LSH bucket assignment — the embedding analog of
    :func:`pdftotext_spark.operators.dedup.minhash_lsh_pairs`' banding:
    similar vectors (small angle) agree on most hyperplane signs, so
    they collide in the 2^16-bucket space."""
    emb = _read(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        _srp_bucket_col().alias("srp_bucket"),
    )


SRP_BANDS = 4
_SRP_BAND_BITS = SRP_PLANES // SRP_BANDS  # 4 bits per band


def _srp_band_keys(frame: DataFrame, *carry) -> DataFrame:
    """``(*carry, band_idx, band_bits)`` (``carry`` defaults to
    ``vec_id``) from a frame carrying the 16-bit ``srp`` column:
    :data:`SRP_BANDS` bands of :data:`_SRP_BAND_BITS` bits each,
    exploded by :func:`~pdftotext_spark.operators.dedup.bit_bands`.
    The SRP band geometry lives here alone; :func:`srp_neardup_pairs`,
    the semantic-decontamination family, :func:`ann_topk_srp` and the
    incremental SRP verdicts all band through it."""
    return bit_bands(
        frame, "srp", SRP_BANDS, _SRP_BAND_BITS, *(carry or ("vec_id",))
    )


def srp_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs, *banded* multi-table
    SRP (Charikar hyperplane LSH): the 16 sign bits split into 4
    bands; vectors colliding in ANY band are candidates, and only
    candidates pay the exact cosine. Unlike :func:`cosine_neardup_pairs`
    this needs no pre-assigned coarse label — the scale path when no
    clustering exists yet. Recall for cosine≈0.3 pairs is ~0.4 by the
    (1-θ/π)^bits band-collision formula — at 100 TB you'd widen to
    more/bigger bands per the usual LSH tuning.

    Bands come from :func:`_srp_band_keys`; :func:`~pdftotext_spark.
    operators.dedup.band_pairs` passes only the vec ids through the
    band join and its cross-band ``distinct``, and the embeddings join
    back afterwards: a pair colliding in several bands pays ONE dot
    product, and the distinct never shuffles 64-float payloads."""
    emb = (
        _read(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .withColumn("nrm", _norm(F.col("embedding")))
        .withColumn("srp", _srp_bucket_col())
        .transform(materialize)  # consumed by the band join AND the two
        # embedding joins — one srp/norm computation
    )
    on = ["band_idx", "band_bits"]
    banded = _srp_band_keys(emb)
    cand = band_pairs(
        banded.select(*on, F.col("vec_id").alias("vec_a")),
        banded.select(*on, F.col("vec_id").alias("vec_b")),
        on,
        F.col("vec_a") < F.col("vec_b"),
    )
    ea = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= SRP_COSINE_THRESHOLD)
    )


def _plane_sql(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]"


_SRP_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_sum(list_transform(list_zip(embedding, {_plane_sql(p)}), "
    f"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) > 0 THEN {1 << k} ELSE 0 END)"
    for k, p in enumerate(_SRP_PLANES_LITERALS)
)

SRP_BUCKETS_SQL = f"""
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST({_SRP_BUCKET_SQL} AS BIGINT) AS srp_bucket
FROM embeddings
"""

def _srp_bands_sql(carry: str) -> str:
    """DuckDB twin of :func:`_srp_band_keys` over a ``sig`` CTE."""
    return " UNION ALL ".join(
        f"SELECT {carry}, {i} AS band_idx, "
        f"(srp // {1 << (i * _SRP_BAND_BITS)}) % {1 << _SRP_BAND_BITS} AS band_bits FROM sig"
        for i in range(SRP_BANDS)
    )


_SRP_BANDS_SQL = _srp_bands_sql("vec_id, embedding")

SRP_NEARDUP_PAIRS_SQL = f"""
WITH sig AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
         CAST({_SRP_BUCKET_SQL} AS BIGINT) AS srp
  FROM embeddings
),
bands AS ({_SRP_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         a.embedding AS emb_a, b.embedding AS emb_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits
   AND a.vec_id < b.vec_id
)
SELECT * FROM (
  SELECT vec_a, vec_b,
         ROUND(
           list_sum(list_transform(list_zip(emb_a, emb_b),
                                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(emb_a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(emb_b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           4) AS cosine
  FROM cand
) WHERE cosine >= {SRP_COSINE_THRESHOLD}
"""


def dedup_apply_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding) near-dup APPLY: drop every vector that
    appears as the larger id in an SRP near-dup pair — the min-id
    one-pass survivor policy of :func:`dedup.apply_dedup`, completing
    the detect→apply symmetry for the similarity family (MinHash has
    ``dedup_apply_minhash``; the full-closure alternative is
    ``dedup_groups_srp`` + a keep policy).

    100 TB shape: the banded candidate chain plus one anti-join on a
    narrow vec_id key (AQE broadcasts the loser side while small)."""
    from pdftotext_spark.operators.dedup import apply_dedup

    emb = _read(spark, sf_dir, "embeddings").select("vec_id")
    pairs = srp_neardup_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return apply_dedup(emb, pairs, id_col="vec_id").select(
        F.col("vec_id").cast("long").alias("vec_id")
    )


DEDUP_APPLY_SRP_SQL = f"""
SELECT CAST(vec_id AS BIGINT) AS vec_id FROM embeddings
WHERE vec_id NOT IN (
  SELECT vec_b FROM ({SRP_NEARDUP_PAIRS_SQL})
)
"""


# Semantic decontamination: the embedding-space analog of the token
# 13-gram rule (dedup.ngram_decontamination) — paraphrased benchmark
# leakage that no lexical n-gram catches. Eval set = label 0 of the
# embeddings table (plays the held-out-benchmark role, as the source
# split does for the lexical family); a training vector is
# contaminated when its cosine to ANY eval vector among its SRP band
# candidates reaches the family threshold.
SEM_DECON_EVAL_LABEL = 0
SEM_DECON_EPS = SRP_COSINE_THRESHOLD


def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-contaminated-vector report: ``(vec_id, eval_vec_id,
    cosine)`` where ``eval_vec_id`` is the best (max-cosine, ties to
    the smallest eval id) matching eval vector.

    Candidates come from the SAME 4-band × 4-bit SRP family as
    :func:`srp_neardup_pairs` (recall at the 0.30 threshold is the
    documented ~0.4 band bound — at 100 TB you widen bands; missed
    pairs can only under-flag, the fail-safe direction for a REPORT
    whose action is manual review; the token 13-gram rule remains the
    hard gate).

    100 TB shape: the eval side is a benchmark suite — genuinely tiny
    (thousands of vectors), so its band keys AND embeddings broadcast
    (this is a real dimension table, unlike the corpus-cardinality
    frame the r5 source_overlap_matrix advice un-broadcast); the
    training side pays one narrow band explode, a broadcast hash join,
    one shuffle of the slim candidate ids to fetch embeddings back,
    and a per-vec argmax window over candidates only. No
    corpus-by-corpus join anywhere."""
    return semantic_decontamination_for(_read(spark, sf_dir, "embeddings"))


def semantic_decontamination_for(raw: DataFrame) -> DataFrame:
    """Core of :func:`semantic_decontamination` over an arbitrary
    ``(vec_id, embedding, label)`` frame — the constructed-input
    surface for planted-geometry tests (the blind-oracle rule: every
    operator needs a hand-checked semantic test, not just its DuckDB
    twin)."""
    emb = (
        raw.select(F.col("vec_id").cast("long").alias("vec_id"), "embedding", "label")
        .withColumn("nrm", _norm(F.col("embedding")))
        .withColumn("srp", _srp_bucket_col())
        .transform(materialize)  # consumed by train bands, train
        # embedding fetch-back, and the eval broadcast — one srp/norm
        # computation (the round-6 single-scan rule)
    )
    is_eval = F.col("label") == SEM_DECON_EVAL_LABEL
    on = ["band_idx", "band_bits"]
    bands_e = _srp_band_keys(emb.filter(is_eval)).select(
        *on, F.col("vec_id").alias("eval_vec_id")
    )
    cand = band_pairs(
        _srp_band_keys(emb.filter(~is_eval)), F.broadcast(bands_e), on
    )
    et = emb.select("vec_id", F.col("embedding").alias("emb_t"), F.col("nrm").alias("nrm_t"))
    ee = emb.filter(is_eval).select(
        F.col("vec_id").alias("eval_vec_id"),
        F.col("embedding").alias("emb_e"),
        F.col("nrm").alias("nrm_e"),
    )
    cos = _dot(F.col("emb_t"), F.col("emb_e")) / (F.col("nrm_t") * F.col("nrm_e"))
    hits = (
        cand.join(et, "vec_id")
        .join(F.broadcast(ee), "eval_vec_id")
        .select("vec_id", "eval_vec_id", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= SEM_DECON_EPS)
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine"), F.asc("eval_vec_id")
    )
    return (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "eval_vec_id", "cosine")
    )


def semantic_decontaminate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY twin: EVERY training vector emits a verdict row
    ``(vec_id, contaminated, eval_vec_id, cosine)`` (nullable evidence
    columns on clean rows — the dsir_select zero-row lesson: a
    survivors-only frame is blind to silently vanished inputs)."""
    return semantic_decontaminate_apply_for(_read(spark, sf_dir, "embeddings"))


def semantic_decontaminate_apply_for(raw: DataFrame) -> DataFrame:
    """Core of :func:`semantic_decontaminate_apply` over an arbitrary
    ``(vec_id, embedding, label)`` frame."""
    train = (
        raw.select(F.col("vec_id").cast("long").alias("vec_id"), "label")
        .filter(F.col("label") != SEM_DECON_EVAL_LABEL)
        .select("vec_id")
    )
    rep = semantic_decontamination_for(raw)
    return train.join(rep, "vec_id", "left").select(
        "vec_id",
        F.col("eval_vec_id").isNotNull().alias("contaminated"),
        "eval_vec_id",
        "cosine",
    )


_SEM_HITS_SQL = f"""
WITH sig AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding, label,
         CAST({_SRP_BUCKET_SQL} AS BIGINT) AS srp
  FROM embeddings
),
bands AS ({_srp_bands_sql("vec_id, label")}),
cand AS (
  SELECT DISTINCT t.vec_id, e.vec_id AS eval_vec_id
  FROM bands t JOIN bands e
    ON t.band_idx = e.band_idx AND t.band_bits = e.band_bits
  WHERE t.label <> {SEM_DECON_EVAL_LABEL} AND e.label = {SEM_DECON_EVAL_LABEL}
),
hits AS (
  SELECT * FROM (
    SELECT c.vec_id, c.eval_vec_id,
           ROUND(
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             4) AS cosine
    FROM cand c
    JOIN sig a ON a.vec_id = c.vec_id
    JOIN sig b ON b.vec_id = c.eval_vec_id
  ) WHERE cosine >= {SEM_DECON_EPS}
),
best AS (
  SELECT vec_id, eval_vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, eval_vec_id ASC) AS rn
  FROM hits
)
SELECT vec_id, eval_vec_id, cosine FROM best WHERE rn = 1
"""

SEMANTIC_DECONTAMINATION_SQL = _SEM_HITS_SQL

SEMANTIC_DECONTAMINATE_APPLY_SQL = f"""
WITH rep AS ({_SEM_HITS_SQL})
SELECT t.vec_id,
       rep.eval_vec_id IS NOT NULL AS contaminated,
       rep.eval_vec_id, rep.cosine
FROM (
  SELECT CAST(vec_id AS BIGINT) AS vec_id FROM embeddings
  WHERE label <> {SEM_DECON_EVAL_LABEL}
) t
LEFT JOIN rep ON rep.vec_id = t.vec_id
"""


def ann_topk_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbours with a *deterministic* coarse
    quantizer: the inverted lists are the SRP band buckets
    (:func:`srp_buckets`), the query probes every band it lands in,
    and only probed candidates pay the exact cosine — the IVF search
    shape with zero iterative training, so unlike the KMeans
    :func:`ivf_topk` this one is fully SQL-expressible and the driver
    value-checks it end to end. Recall vs the exact
    :func:`cosine_topk` is pinned in tests."""
    emb = _read(spark, sf_dir, "embeddings").withColumn("srp", _srp_bucket_col())
    banded = _srp_band_keys(emb, "vec_id", "embedding")
    q = banded.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("band_idx").alias("q_band_idx"),
        F.col("band_bits").alias("q_band_bits"),
        F.col("embedding").alias("q_embedding"),
    )
    cand = (
        banded.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(
            F.broadcast(q),
            (F.col("band_idx") == F.col("q_band_idx"))
            & (F.col("band_bits") == F.col("q_band_bits")),
        )
        .select("vec_id", "embedding", "q_embedding")
        .dropDuplicates(["vec_id"])
    )
    cos = _dot(F.col("embedding"), F.col("q_embedding")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_embedding"))
    )
    return (
        cand.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.round(cos, 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


ANN_TOPK_SRP_SQL = f"""
WITH sig AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
         CAST({{bucket}} AS BIGINT) AS srp
  FROM embeddings
),
bands AS ({{bands}}),
q AS (SELECT band_idx, band_bits, embedding AS q_embedding
      FROM bands WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT DISTINCT ON (b.vec_id) b.vec_id, b.embedding, q.q_embedding
  FROM bands b JOIN q
    ON b.band_idx = q.band_idx AND b.band_bits = q.band_bits
  WHERE b.vec_id <> {QUERY_VEC_ID}
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       ROUND(
         list_sum(list_transform(list_zip(embedding, q_embedding),
                                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q_embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         4) AS cosine
FROM cand
ORDER BY cosine DESC, vec_id ASC
LIMIT {TOP_K}
"""

# resolve the bucket/band fragments (defined above with the SRP pair SQL)
ANN_TOPK_SRP_SQL = ANN_TOPK_SRP_SQL.format(
    bucket=_SRP_BUCKET_SQL, bands=_SRP_BANDS_SQL
)


def embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column data-quality rollup: vector-dimension
    consistency, NaN components, zero-norm (dead) vectors, norm
    spread — the sanity dashboard run before any ANN build trusts an
    embedding table."""
    emb = _read(spark, sf_dir, "embeddings")
    dim = F.size("embedding")
    has_nan = F.exists("embedding", lambda x: F.isnan(x.cast("double")))
    nrm = _norm(F.col("embedding"))
    return emb.groupBy(dim.alias("dim")).agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum(has_nan.cast("long")).cast("long").alias("n_with_nan"),
        F.sum((nrm == 0.0).cast("long")).cast("long").alias("n_zero_norm"),
        F.round(F.min(nrm), 4).alias("min_norm"),
        F.round(F.max(nrm), 4).alias("max_norm"),
    )


EMBEDDING_HEALTH_SQL = """
WITH h AS (
  SELECT len(embedding) AS dim,
         CAST(list_count(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) > 0 AS INT) AS has_nan,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
SELECT dim,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(has_nan) AS BIGINT) AS n_with_nan,
       CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
       ROUND(MIN(nrm), 4) AS min_norm,
       ROUND(MAX(nrm), 4) AS max_norm
FROM h GROUP BY dim
"""


def embedding_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label bucket-size histogram for the near-dup self-join —
    the skew instrumentation the chunked join is sized from (a bucket
    of n vectors runs as ⌈n / CHUNK_SIZE⌉ chunk-pairs)."""
    emb = _read(spark, sf_dir, "embeddings")
    return emb.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.count("*").cast("long").alias("cnt")
    ).withColumn("n_chunks", F.ceil(F.col("cnt") / CHUNK_SIZE).cast("int"))


EMBEDDING_BUCKET_STATS_SQL = f"""
SELECT CAST(label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(CEIL(COUNT(*) / {CHUNK_SIZE}.0) AS INT) AS n_chunks
FROM embeddings GROUP BY label
"""


def ivf_topk(spark: SparkSession, sf_dir: str, n_clusters: int = 8, n_probe: int = 2) -> DataFrame:
    """IVF-style approximate nearest neighbours: KMeans coarse
    quantizer (seeded, trained on a bounded sample) assigns every
    vector to a cluster; the query searches only the ``n_probe``
    nearest centroids' inverted lists. This is the 100 TB ANN shape —
    pairwise work drops from N to N·(probed fraction).

    Iterative training ⇒ not SQL-expressible: registered without an
    oracle (driver records the weaker rows-only check; the brute-force
    ``cosine_topk`` above is the exact-recall baseline it is judged
    against in tests)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = _read(spark, sf_dir, "embeddings")
    vecs = emb.withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    model = KMeans(k=n_clusters, seed=42, maxIter=10).fit(vecs.limit(100_000))
    assigned = model.transform(vecs).withColumnRenamed("prediction", "cluster")

    centers = model.clusterCenters()
    q_row = assigned.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        "embedding"
    ).first()
    q = [float(x) for x in q_row.embedding]

    def _cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return dot / (na * nb) if na and nb else 0.0

    probe = sorted(
        range(len(centers)), key=lambda i: -_cos(q, list(centers[i]))
    )[:n_probe]

    cand = assigned.filter(
        F.col("cluster").isin(probe) & (F.col("vec_id") != QUERY_VEC_ID)
    )
    qcol = F.array(*[F.lit(x) for x in q])
    cos = _dot(F.col("embedding"), qcol) / (
        _norm(F.col("embedding")) * _norm(qcol)
    )
    return (
        cand.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("cluster").cast("int").alias("cluster"),
            F.round(cos, 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


COSINE_NEARDUP_PAIRS_SQL = f"""
SELECT * FROM (
  SELECT CAST(a.vec_id AS BIGINT) AS vec_a,
         CAST(b.vec_id AS BIGINT) AS vec_b,
         CAST(a.label AS INT) AS label,
         ROUND(
           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           4) AS cosine
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
) WHERE cosine >= {NEARDUP_THRESHOLD}
"""


def dedup_groups_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the embedding-space SRP near-dup
    graph — the third candidate family (after MinHash and SimHash)
    feeding the shared CC engine
    (:func:`pdftotext_spark.operators.dedup.dedup_groups`), so
    text-shingle, token-bit and embedding near-dups all group through
    identical machinery. Checked against a recursive-CTE transitive
    closure in DuckDB."""
    from pdftotext_spark.operators.dedup import dedup_groups

    pairs = srp_neardup_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return dedup_groups(pairs).select(
        F.col("doc_id").cast("long").alias("vec_id"),
        F.col("group_id").cast("long").alias("group_id"),
    )


DEDUP_GROUPS_SRP_SQL = f"""
WITH RECURSIVE pairs AS ({SRP_NEARDUP_PAIRS_SQL.strip()}),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION
  SELECT vec_b AS src, vec_a AS dst FROM pairs
),
reach AS (
  SELECT src, dst AS r FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.src = e.dst
)
SELECT CAST(src AS BIGINT) AS vec_id,
       CAST(LEAST(src, MIN(r)) AS BIGINT) AS group_id
FROM reach GROUP BY src
"""


KNN_K = 3

# knn-specific band set (VERDICT r3 §next #5): the shared 16-plane 4×4
# layout measured recall@3 = 0.455 against exact brute-force — too weak
# for a production ANN graph. Simulated over the md5 plane family on
# the sf0.001 corpus: 8×4 → 0.703, 12×4 → 0.835, 16×4 → 0.901, while
# 4×8 (the first idea) collapses to 0.09 — fewer, MORE selective bands
# is the wrong direction for moderate-cosine neighbors. 16 bands × 4
# bits (planes 0..63 of the same md5 family) is the shipped point:
# recall 0.90 with 2.7× the candidate volume, still bucketed (2^4
# buckets per band; bits/bands must be re-tuned per corpus geometry at
# scale — more bits when the corpus is angularly tight).
KNN_SRP_PLANES = 64
KNN_SRP_BANDS = 16
KNN_SRP_BAND_BITS = KNN_SRP_PLANES // KNN_SRP_BANDS
_KNN_PLANES_LITERALS = [_srp_plane(k) for k in range(KNN_SRP_PLANES)]


def _seq_accum_dot(A, B):
    """Row-wise dot product with STRICT left-to-right accumulation
    (vectorized across rows, sequential over dimensions) — bit-
    identical to the JVM ``aggregate()`` fold and DuckDB's
    ``list_sum``, so numpy evaluation stays oracle-exact.  np.dot /
    einsum use pairwise/SIMD summation, which is NOT order-equivalent
    in floating point."""
    import numpy as np

    acc = np.zeros(A.shape[0], dtype=np.float64)
    for d in range(A.shape[1]):
        acc = acc + A[:, d] * B[:, d]
    return acc


def _band_keys_pd(it, planes, n_bands, n_bits, extra_cols=()):
    """Arrow-batched SRP band-key computation (worker side), shared by
    the knn graph (16×4 bands) and the oversized-bucket near-dup path
    (16×8 bands): plane dots with :func:`_seq_accum_dot` order (so the
    keys equal the Catalyst expression twin bit-for-bit and the DuckDB
    oracle replays them), then per-band bit packing.  ``extra_cols``
    are copied through unchanged (bind with functools.partial)."""
    import numpy as np
    import pandas as pd

    P = np.array(planes, dtype=np.float64)  # planes × dim
    for pdf in it:
        if pdf.empty:
            continue
        V = np.stack(pdf["embedding"].values).astype(np.float64)
        acc = np.zeros((len(pdf), P.shape[0]), dtype=np.float64)
        for d in range(V.shape[1]):
            acc = acc + np.outer(V[:, d], P[:, d])
        bits = acc > 0
        out = []
        for i in range(n_bands):
            key = np.zeros(len(pdf), dtype=np.int64)
            for j in range(n_bits):
                key += bits[:, i * n_bits + j].astype(np.int64) << j
            cols = {
                "vec_id": pdf["vec_id"].values,
                "band_idx": np.int32(i),
                "band_bits": key,
            }
            for c in extra_cols:
                cols[c] = pdf[c].values
            out.append(pd.DataFrame(cols))
        yield pd.concat(out)


def _knn_band_keys_pd(it, extra_cols=()):
    """The knn band set (64 planes, 16×4 bands) through
    :func:`_band_keys_pd` — measured ~3.4 s at sf0.1 as Catalyst
    higher-order expressions (an unrolled literal expression tree is
    10× worse — codegen blowup) vs ~0.3 s vectorized."""
    yield from _band_keys_pd(
        it, _KNN_PLANES_LITERALS, KNN_SRP_BANDS, KNN_SRP_BAND_BITS, extra_cols
    )


def _pair_cosine_pd(it):
    """Arrow-batched candidate-pair cosine (worker side): sequential-
    order dot (see :func:`_seq_accum_dot`) over the joined embedding
    pair, divided by the precomputed norms.  Raw double out — the 4dp
    rounding stays JVM-side (``F.round``) so the round-half behaviour
    is the one the oracle already matches."""
    import numpy as np
    import pandas as pd

    for pdf in it:
        if pdf.empty:
            continue
        A = np.stack(pdf["emb_a"].values).astype(np.float64)
        B = np.stack(pdf["emb_b"].values).astype(np.float64)
        cos = _seq_accum_dot(A, B) / (
            pdf["nrm_a"].values.astype(np.float64)
            * pdf["nrm_b"].values.astype(np.float64)
        )
        cols = {"src": pdf["src"], "dst": pdf["dst"], "cosine_raw": cos}
        if "label" in pdf.columns:  # the bucketed near-dup caller
            cols["label"] = pdf["label"]
        yield pd.DataFrame(cols)


def knn_graph_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH: for every vector, its
    top-k cosine neighbors among SRP band-collision candidates — the
    all-corpus ANN primitive behind semantic dedup clustering and
    diversity sampling (vs :func:`ann_topk_srp`, which answers for ONE
    query vector).

    100 TB shape: candidates come only from the banded equi-join
    (never all-pairs); the per-source top-k is a window over each
    vector's candidate list (TakeOrdered shape after AQE). Ranking
    uses the 4dp-ROUNDED cosine with a vec-id tie-break so a 1-ulp
    engine difference cannot flip top-k membership (the tfidf
    lesson).

    r5 cost tuning (VERDICT r4 §next #3): the 64 plane-dot band keys
    and the per-candidate cosine move from Catalyst higher-order
    expressions to Arrow-batched numpy with sequential accumulation
    (bit-identical values — see :func:`_seq_accum_dot`); measured
    8.7 s → ~4 s at sf0.1 with the band set (and recall) unchanged."""
    from pdftotext_spark.sources.shipping import ship_package

    ship_package(spark)
    emb = (
        _read(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        # norm computed ONCE per vector, not per candidate pair
        .withColumn("nrm", _norm(F.col("embedding")))
        .transform(materialize)  # consumed by the band join AND the two
        # embedding joins below — one norm computation, not three
    )
    banded = (
        emb.select("vec_id", "embedding")
        .mapInPandas(
            _knn_band_keys_pd, "vec_id long, band_idx int, band_bits long"
        )
        # materialized: BOTH self-join sides consume this narrow frame
        .transform(materialize)
    )
    # NARROW candidate generation: ids only through the banded join
    # and the cross-band dedup (64-float payloads would make the
    # distinct shuffle 50x wider); undirected so each pair pays ONE
    # dot product, mirrored afterwards for the per-vector lists
    on = ["band_idx", "band_bits"]
    cand = band_pairs(
        banded.select(*on, F.col("vec_id").alias("src")),
        banded.select(*on, F.col("vec_id").alias("dst")),
        on,
        F.col("src") < F.col("dst"),
    )
    ea = emb.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = emb.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    half = (
        cand.join(ea, "src")
        .join(eb, "dst")
        .mapInPandas(
            _pair_cosine_pd, "src long, dst long, cosine_raw double"
        )
        .select("src", "dst", F.round("cosine_raw", 4).alias("cosine"))
        # materialized: union branches do NOT share non-Exchange
        # subplans, so an un-checkpointed half would pay the join +
        # dot product once per direction
        .transform(materialize)
    )
    scored = half.union(
        half.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "cosine"
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select(
            F.col("src").cast("long").alias("vec_id"),
            F.col("dst").cast("long").alias("neighbor_id"),
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


# 16 knn bands, each key summed from its own 4 planes (mirrors
# _knn_band_keys_pd exactly — same md5 plane family, same bit order)
_KNN_BANDS_SQL = " UNION ALL ".join(
    f"SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding, {i} AS band_idx, "
    + " + ".join(
        f"(CASE WHEN list_sum(list_transform(list_zip(embedding, "
        f"{_plane_sql(_KNN_PLANES_LITERALS[i * KNN_SRP_BAND_BITS + j])}), "
        f"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(KNN_SRP_BAND_BITS)
    )
    + " AS band_bits FROM embeddings"
    for i in range(KNN_SRP_BANDS)
)

KNN_GRAPH_SRP_SQL = f"""
WITH bands AS ({_KNN_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
         a.embedding AS emb_a, b.embedding AS emb_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits
   AND a.vec_id <> b.vec_id
),
scored AS (
  SELECT src, dst,
         ROUND(
           list_sum(list_transform(list_zip(emb_a, emb_b),
                                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(emb_a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(emb_b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           4) AS cosine
  FROM cand
),
ranked AS (
  SELECT src, dst, cosine,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rank
  FROM scored
)
SELECT CAST(src AS BIGINT) AS vec_id,
       CAST(dst AS BIGINT) AS neighbor_id,
       cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {KNN_K}
"""


KM_K = 8  # clusters
KM_ITERS = 2  # fixed, unrolled Lloyd iterations
KM_PROBE = 2  # probed inverted lists


def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )


def _lloyd_final(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Deterministic unrolled Lloyd-KMeans shared by
    :func:`kmeans_ivf_topk` and :func:`semdedup`: md5-ranked seed
    vectors, a FIXED number of unrolled iterations, and centroid means
    computed as exact DECIMAL(27,10) sums divided once — every float
    downstream consumers compare derives from identical deterministic
    arithmetic, so the full chain replays in DuckDB
    (:func:`_lloyd_with`).

    Returns ``(final, cent)``: ``final`` is the materialized
    (vec_id, cluster, emb) assignment after KM_ITERS rounds; ``cent``
    the K-row (cluster, centroid) frame it was assigned against.

    100 TB shape: per iteration one narrow assignment pass (vectors ×
    K broadcast centroids, row_number per vector) and one
    constant-key-space centroid aggregation (K × dim groups,
    map-side partial). Centroid frames are materialized per iteration
    (K rows) so the unrolled plan never re-derives earlier
    iterations."""
    from pyspark.sql.window import Window

    emb = _emb_double(spark, sf_dir).transform(materialize)
    # deterministic seeds: the K vectors with the smallest md5(vec_id)
    # (vec_id tie-break). orderBy().limit(K) plans as
    # TakeOrderedAndProject — an UN-partitioned row_number window here
    # would sort the whole table on one partition at scale. The window
    # only ranks the ALREADY-reduced K rows.
    seed_key = F.md5(F.col("vec_id").cast("string"))
    seeds = emb.orderBy(seed_key, F.asc("vec_id")).limit(KM_K)
    # the window MUST rank on the same key the TakeOrdered selected by
    seed_w = Window.orderBy(seed_key, F.asc("vec_id"))
    cent = (
        seeds.withColumn("rn", F.row_number().over(seed_w))
        .select(
            (F.col("rn") - 1).cast("int").alias("cluster"),
            F.col("emb").alias("centroid"),
        )
        .transform(materialize)
    )
    dist = F.expr(
        "aggregate(zip_with(emb, centroid, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS DOUBLE), (a, v) -> a + v)"
    )
    assign_w = Window.partitionBy("vec_id").orderBy(
        F.asc("dist"), F.asc("cluster")
    )

    def _assign(centroids: DataFrame) -> DataFrame:
        return (
            emb.join(F.broadcast(centroids))
            .withColumn("dist", dist)
            .withColumn("rn", F.row_number().over(assign_w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cluster", "emb")
        )

    for _ in range(KM_ITERS):
        assigned = _assign(cent)
        comp = assigned.select(
            "cluster", F.posexplode("emb").alias("pos", "val")
        )
        # exact decimal sum -> ONE double division: addition order
        # cannot perturb the centroid in either engine
        sums = comp.groupBy("cluster", "pos").agg(
            (
                F.sum(F.col("val").cast("decimal(27,10)")).cast("double")
                / F.count("*")
            ).alias("comp")
        )
        cent = (
            sums.groupBy("cluster")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, comp))), "
                    "s -> s.comp)"
                ).alias("centroid")
            )
            .transform(materialize)
        )

    return _assign(cent).transform(materialize), cent


def kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN whose coarse quantizer is a FULLY value-checked KMeans
    (:func:`_lloyd_final`) — unlike :func:`ivf_topk` (pyspark.ml
    KMeans, iterative early-stop, rows-only check) this variant has a
    complete DuckDB oracle.

    100 TB shape: the Lloyd passes are broadcast-join + constant-key
    aggregations (see :func:`_lloyd_final`); the probe touches only
    n_probe inverted lists."""
    from pyspark.sql.window import Window

    final, cent = _lloyd_final(spark, sf_dir)
    q = final.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("emb").alias("q_emb")
    )
    # the module's sequential-fold helpers — the same semantics the
    # whole oracle family depends on (no hand-rolled twin to drift)
    qcos = _dot(F.col("centroid"), F.col("q_emb")) / (
        _norm(F.col("centroid")) * _norm(F.col("q_emb"))
    )
    probe_w = Window.orderBy(F.desc("qc"), F.asc("cluster"))
    probe = (
        cent.join(F.broadcast(q))
        .select("cluster", F.round(qcos, 4).alias("qc"))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= KM_PROBE)
        .select("cluster")
    )
    cand = final.join(F.broadcast(probe), "cluster").filter(
        F.col("vec_id") != QUERY_VEC_ID
    )
    cos = _dot(F.col("emb"), F.col("q_emb")) / (
        _norm(F.col("emb")) * _norm(F.col("q_emb"))
    )
    return (
        cand.join(F.broadcast(q))
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("cluster").cast("int").alias("cluster"),
            F.round(cos, 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _lloyd_with() -> tuple[str, str]:
    """The DuckDB WITH-body replaying :func:`_lloyd_final` exactly:
    sequential-fold distances, DECIMAL(27,10) centroid sums with one
    double division (half-away-from-zero tie rounding verified
    identical in both engines). Returns ``(with_body, last_cent)``
    where ``with_body`` defines CTEs ``emb`` … ``final`` and
    ``last_cent`` names the final centroid CTE."""
    d2 = (
        "list_sum(list_transform(list_zip(e.emb, c.centroid), "
        "x -> (x[1] - x[2]) * (x[1] - x[2])))"
    )

    def assign(n: int, cent: str) -> str:
        return f"""
assign{n} AS (
  SELECT vec_id, cluster, emb FROM (
    SELECT e.vec_id, c.cluster, e.emb,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2} ASC, c.cluster ASC) AS rn
    FROM emb e CROSS JOIN {cent} c
  ) WHERE rn = 1
)"""

    def update(n: int, frm: str) -> str:
        return f"""
cent{n} AS (
  SELECT cluster, list(comp ORDER BY pos) AS centroid FROM (
    SELECT cluster, i AS pos,
           CAST(SUM(CAST(emb[CAST(i AS INT)] AS DECIMAL(27,10))) AS DOUBLE)
             / COUNT(*) AS comp
    FROM {frm}, (SELECT unnest(range(1, {SRP_DIM + 1})) AS i) r
    GROUP BY cluster, i
  ) GROUP BY cluster
)"""

    iters = []
    prev = "cent0"
    for it in range(1, KM_ITERS + 1):
        iters.append(assign(it, prev) + ",")
        iters.append(update(it, f"assign{it}") + ",")
        prev = f"cent{it}"
    chain = "\n".join(iters)
    body = f"""emb AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
cent0 AS (
  SELECT CAST(rn - 1 AS INT) AS cluster, emb AS centroid FROM (
    SELECT emb, ROW_NUMBER() OVER (
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id ASC) AS rn
    FROM emb
  ) WHERE rn <= {KM_K}
),
{chain}
final AS (
  SELECT vec_id, cluster, emb FROM (
    SELECT e.vec_id, c.cluster, e.emb,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2} ASC, c.cluster ASC) AS rn
    FROM emb e CROSS JOIN {prev} c
  ) WHERE rn = 1
)"""
    return body, prev


_SQL_DOT = "list_sum(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]))"
_SQL_NRM = "sqrt(list_sum(list_transform({a}, x -> x * x)))"


def _kmeans_sql() -> str:
    """IVF probe over the :func:`_lloyd_with` chain (rounded-cosine
    probe ranks — the :func:`kmeans_ivf_topk` oracle)."""
    body, prev = _lloyd_with()
    cos_q = (
        _SQL_DOT.format(a="{v}", b="q.q_emb")
        + " / ("
        + _SQL_NRM.format(a="{v}")
        + " * "
        + _SQL_NRM.format(a="q.q_emb")
        + ")"
    )
    return f"""
WITH {body},
q AS (SELECT emb AS q_emb FROM final WHERE vec_id = {QUERY_VEC_ID}),
probe AS (
  SELECT cluster FROM (
    SELECT c.cluster,
           ROW_NUMBER() OVER (
             ORDER BY ROUND({cos_q.format(v='c.centroid')}, 4) DESC,
                      c.cluster ASC) AS rn
    FROM {prev} c, q
  ) WHERE rn <= {KM_PROBE}
)
SELECT CAST(f.vec_id AS BIGINT) AS vec_id,
       CAST(f.cluster AS INT) AS cluster,
       ROUND({cos_q.format(v='f.emb')}, 4) AS cosine
FROM final f JOIN probe USING (cluster), q
WHERE f.vec_id <> {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id ASC
LIMIT {TOP_K}
"""


KMEANS_IVF_TOPK_SQL = _kmeans_sql()


# SemDeDup pair threshold. The synthetic embeddings are
# near-orthogonal, so the corpus-wide near-dup threshold (0.30, see
# NEARDUP_THRESHOLD) doubles as a non-trivial semantic-duplicate bar
# within KMeans clusters: clusters group the higher-cosine vectors, so
# the gate checks a real kept/dropped split, not an all-kept no-op.
SEMDEDUP_EPS = NEARDUP_THRESHOLD


def _ccos_frame(final: DataFrame, cent: DataFrame) -> DataFrame:
    """One slim row per vector with its rounded centroid-cosine —
    the rank authority shared by :func:`semdedup` and
    :func:`ssl_prototypes` (single source, like :func:`_lloyd_final`:
    a 4dp→6dp bump or a join change must hit both operators AND both
    oracles, see :func:`_ccos_sql`)."""
    ccos_col = _dot(F.col("emb"), F.col("centroid")) / (
        _norm(F.col("emb")) * _norm(F.col("centroid"))
    )
    return final.join(F.broadcast(cent), "cluster").select(
        "vec_id",
        "cluster",
        F.round(ccos_col, 4).alias("centroid_cos"),
    )


def _ccos_sql(prev: str) -> str:
    """The DuckDB CTE body replaying :func:`_ccos_frame` over the
    :func:`_lloyd_with` chain (``prev`` names its final centroid
    CTE)."""
    ccos = (
        _SQL_DOT.format(a="f.emb", b="c.centroid")
        + " / ("
        + _SQL_NRM.format(a="f.emb")
        + " * "
        + _SQL_NRM.format(a="c.centroid")
        + ")"
    )
    return f"""ccos AS (
  SELECT f.vec_id, f.cluster, f.emb,
         ROUND({ccos}, 4) AS centroid_cos
  FROM final f JOIN {prev} c USING (cluster)
)"""


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication via k-means clustering of the embedding space, then
    within-cluster cosine near-duplicate detection, keeping per
    duplicate relation the vector FARTHEST from its centroid (lowest
    centroid-cosine — the paper's keep rule, which preserves
    cluster-edge diversity). A vector is dropped iff some same-cluster
    vector at pair-cosine ≥ SEMDEDUP_EPS outranks it (lower rounded
    centroid-cosine, vec_id ascending tie-break).

    Output: one row per vector — (vec_id, cluster, centroid_cos,
    n_neighbors, is_kept); survivors are ``is_kept``.

    100 TB shape: the quantizer is :func:`_lloyd_final` (broadcast
    assignment + constant-key centroid aggs); within-cluster pairs run
    the chunk-pair scheme of :func:`_cosine_neardup_exact` (per-task
    work ≤ CHUNK_SIZE², value-identical to the naive bucketed join)
    for clusters ≤ EXACT_BUCKET_CAP, and route through SRP band
    candidates + exact rescoring (:func:`_cosine_neardup_srp`) above
    it — the same hybrid as :func:`cosine_neardup_pairs`, so total
    pair work stays subquadratic even when K under-segments (the
    paper's own mitigation — K scaling with corpus size so cluster
    cardinality stays bounded; 50k clusters for LAION-440M, KM_K=8
    here — remains the first lever). Band-missed pairs above the cap
    can only make the gate KEEP more (a missed neighbor relation
    never drops a vector), and the miss RATE depends on eps: with 16
    bands × 8 bits, pair recall = 1 − (1 − p^8)^16 for
    p = 1 − acos(eps)/π, i.e. ~0.98 at eps 0.86, ~0.80 at 0.70,
    ~0.23 at this corpus's synthetic eps 0.30. The band family is
    tuned for the paper's operating range (extreme-dedup eps ≥ 0.86);
    at low eps the near-dup relation is DENSE and no LSH is
    subquadratic — there K (and the exact cap) is the only honest
    lever. Test corpora sit below the cap so the DuckDB oracle stays
    value-exact."""
    final, cent = _lloyd_final(spark, sf_dir)
    # one SLIM row per vector with its rounded centroid-cosine (the
    # keep rank); materialized WITHOUT the embedding — ExistingRDD
    # scans don't column-prune, and this frame is read three times by
    # scalar-only consumers (both rank joins + the final left join).
    # The pair path reads the vectors from `final`, which
    # _lloyd_final already materialized with them.
    ccos = _ccos_frame(final, cent).transform(materialize)
    emb_pairs = final.select(
        F.col("cluster").alias("label"),
        "vec_id",
        F.col("emb").alias("embedding"),
    ).withColumn("nrm", _norm(F.col("embedding")))
    all_counts = (
        emb_pairs.groupBy("label")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "n_chunks", F.ceil(F.col("cnt") / CHUNK_SIZE).cast("int")
        )
        .transform(materialize)
    )
    counts = all_counts.filter(F.col("cnt") <= EXACT_BUCKET_CAP)
    big_labels = all_counts.filter(F.col("cnt") > EXACT_BUCKET_CAP)
    if big_labels.count() == 0:
        # no oversized cluster: skip the approximate branch entirely
        pairs = _cosine_neardup_exact(
            emb_pairs, counts, threshold=SEMDEDUP_EPS
        )
    else:
        from pdftotext_spark.sources.shipping import ship_package

        _warn_routed_low_eps("semdedup", SEMDEDUP_EPS)
        ship_package(spark)
        emb_pairs = emb_pairs.transform(materialize)
        pairs = _cosine_neardup_exact(
            emb_pairs, counts, threshold=SEMDEDUP_EPS
        ).unionByName(
            _cosine_neardup_srp(
                emb_pairs, big_labels, threshold=SEMDEDUP_EPS
            )
        )
    ra = ccos.select(
        F.col("vec_id").alias("vec_a"), F.col("centroid_cos").alias("ca")
    )
    rb = ccos.select(
        F.col("vec_id").alias("vec_b"), F.col("centroid_cos").alias("cb")
    )
    m = pairs.join(ra, "vec_a").join(rb, "vec_b")
    # pairs have vec_a < vec_b, so exactly one side loses: a is beaten
    # iff b's rank is strictly better (cb < ca); on a centroid-cos tie
    # the smaller vec_id (a) wins
    beaten_a = (F.col("cb") < F.col("ca")).cast("int")
    directed = m.select(
        F.col("vec_a").alias("vec_id"), beaten_a.alias("beaten")
    ).unionByName(
        m.select(
            F.col("vec_b").alias("vec_id"),
            (1 - beaten_a).alias("beaten"),
        )
    )
    agg = directed.groupBy("vec_id").agg(
        F.count("*").alias("n_neighbors"), F.max("beaten").alias("dropped")
    )
    return ccos.join(agg, "vec_id", "left").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster").cast("int").alias("cluster"),
        "centroid_cos",
        F.coalesce(F.col("n_neighbors"), F.lit(0))
        .cast("long")
        .alias("n_neighbors"),
        (F.coalesce(F.col("dropped"), F.lit(0)) == 0).alias("is_kept"),
    )


def _semdedup_sql() -> str:
    """SemDeDup oracle: the :func:`_lloyd_with` chain, then the naive
    within-cluster pair join (value-identical to the Spark chunk-pair
    scheme) with the same rounded-cosine threshold and keep rule."""
    body, prev = _lloyd_with()
    paircos = (
        _SQL_DOT.format(a="a.emb", b="b.emb")
        + " / ("
        + _SQL_NRM.format(a="a.emb")
        + " * "
        + _SQL_NRM.format(a="b.emb")
        + ")"
    )
    return f"""
WITH {body},
{_ccos_sql(prev)},
matched AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         a.centroid_cos AS ca, b.centroid_cos AS cb
  FROM ccos a JOIN ccos b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE ROUND({paircos}, 4) >= {SEMDEDUP_EPS}
),
directed AS (
  SELECT va AS vec_id,
         CASE WHEN cb < ca THEN 1 ELSE 0 END AS beaten
  FROM matched
  UNION ALL
  SELECT vb,
         CASE WHEN cb < ca THEN 0 ELSE 1 END
  FROM matched
),
agg AS (
  SELECT vec_id, COUNT(*) AS n_neighbors, MAX(beaten) AS dropped
  FROM directed GROUP BY vec_id
)
SELECT CAST(c.vec_id AS BIGINT) AS vec_id,
       CAST(c.cluster AS INT) AS cluster,
       c.centroid_cos,
       CAST(COALESCE(a.n_neighbors, 0) AS BIGINT) AS n_neighbors,
       COALESCE(a.dropped, 0) = 0 AS is_kept
FROM ccos c LEFT JOIN agg a USING (vec_id)
"""


SEMDEDUP_SQL = _semdedup_sql()


# Fraction of each cluster to prune, most-prototypical first. 1/4 is
# exact in binary so the threshold arithmetic replays identically.
PROTO_DROP_FRAC = 0.25


def ssl_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototypes pruning (Sorscher et al. 2022, "Beyond neural
    scaling laws"): rank vectors within each KMeans cluster by cosine
    to their centroid and DROP the most prototypical
    PROTO_DROP_FRAC — easy, redundant examples near cluster cores
    contribute least to training. Composed with :func:`semdedup`
    (which prunes the near-duplicate relation instead of the core)
    this is the D4 pipeline of Tirumala et al. 2023
    (arXiv:2308.12284).

    Output: one row per vector — (vec_id, cluster, centroid_cos,
    proto_rank, n_cluster, is_kept); is_kept iff
    proto_rank > floor(PROTO_DROP_FRAC * n_cluster).

    100 TB shape: the quantizer is the shared :func:`_lloyd_final`
    (broadcast assignment + constant-key centroid aggs); the ranking
    window is PARTITIONED BY cluster, so it parallelizes over
    clusters and per-partition size is bounded by cluster cardinality
    (the same K lever as SemDeDup — K scales with corpus size).
    Ties: centroid_cos DESC then vec_id ASC, deterministic in both
    engines."""
    from pyspark.sql.window import Window

    final, cent = _lloyd_final(spark, sf_dir)
    ccos = _ccos_frame(final, cent)
    w = Window.partitionBy("cluster").orderBy(
        F.desc("centroid_cos"), F.asc("vec_id")
    )
    wc = Window.partitionBy("cluster")
    return (
        ccos.withColumn("proto_rank", F.row_number().over(w))
        .withColumn("n_cluster", F.count("*").over(wc))
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("cluster").cast("int").alias("cluster"),
            "centroid_cos",
            F.col("proto_rank").cast("long").alias("proto_rank"),
            F.col("n_cluster").cast("long").alias("n_cluster"),
            (
                F.col("proto_rank")
                > F.floor(F.col("n_cluster") * F.lit(PROTO_DROP_FRAC))
            ).alias("is_kept"),
        )
    )


def _ssl_prototypes_sql() -> str:
    """The :func:`_lloyd_with` chain + the same per-cluster
    prototypicality ranking and floor-threshold keep rule."""
    body, prev = _lloyd_with()
    return f"""
WITH {body},
{_ccos_sql(prev)},
ranked AS (
  SELECT vec_id, cluster, centroid_cos,
         ROW_NUMBER() OVER (PARTITION BY cluster
                            ORDER BY centroid_cos DESC, vec_id ASC)
           AS proto_rank,
         COUNT(*) OVER (PARTITION BY cluster) AS n_cluster
  FROM ccos
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(cluster AS INT) AS cluster,
       centroid_cos,
       CAST(proto_rank AS BIGINT) AS proto_rank,
       CAST(n_cluster AS BIGINT) AS n_cluster,
       proto_rank > FLOOR(n_cluster * {PROTO_DROP_FRAC}) AS is_kept
FROM ranked
"""


SSL_PROTOTYPES_SQL = _ssl_prototypes_sql()


# ------------------------------------------------------- quantized ANN

# Per-vector symmetric int8 quantization: scale = max|x|/127,
# q_i = floor(x_i·127/max|x| + 0.5).  floor(v + 0.5) instead of
# round(v): both engines share IEEE floor semantics, while round()
# half-tie conventions differ across engines.  The epsilon floor
# guards the all-zero vector.
_Q_LEVELS = 127.0
_Q_EPS = 1e-30


def _quantize_arr(emb_col: Column, mx_col: Column) -> Column:
    return F.transform(
        emb_col,
        lambda x: F.floor(
            x.cast("double") * F.lit(_Q_LEVELS) / mx_col + F.lit(0.5)
        ).cast("long"),
    )


def _maxabs(emb_col: Column) -> Column:
    return F.greatest(
        F.aggregate(
            F.transform(emb_col, lambda x: F.abs(x.cast("double"))),
            F.lit(0.0),
            lambda acc, v: F.greatest(acc, v),
        ),
        F.lit(_Q_EPS),
    )


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product (64 dims × 127² ≈ 2²⁰ — far inside
    int64), cast to double only for the final division."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    ).cast("double")


def ann_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k nearest neighbours of vec_id=0 by cosine over int8-
    QUANTIZED vectors, with the absolute error against the float
    cosine reported per neighbour.

    Why it exists: at 100 TB the embedding column dominates shuffle
    and memory — int8 cuts both 4× (float32→int8 per dim) while the
    integer dot products stay EXACT and engine-portable (no float
    summation-order hazard at all, unlike the float path).  abs_err
    makes the quantization loss observable instead of assumed; the
    measured corpus-wide error is ~1e-3, well under any near-dup
    threshold band.

    Same plan shape as :func:`cosine_topk`: broadcast single query
    row, TakeOrderedAndProject top-k — quantization adds one
    projection, no extra shuffle."""
    emb = _read(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        "embedding",
        _maxabs(F.col("embedding")).alias("mx"),
    )
    base = base.select(
        "vec_id",
        "embedding",
        _quantize_arr(F.col("embedding"), F.col("mx")).alias("q"),
    )
    qrow = base.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding"), F.col("q").alias("qq")
    )
    joined = base.filter(F.col("vec_id") != QUERY_VEC_ID).join(
        F.broadcast(qrow)
    )
    qcos = _int_dot(F.col("q"), F.col("qq")) / (
        F.sqrt(_int_dot(F.col("q"), F.col("q")))
        * F.sqrt(_int_dot(F.col("qq"), F.col("qq")))
    )
    fcos = _dot(F.col("embedding"), F.col("q_embedding")) / (
        _norm(F.col("embedding")) * _norm(F.col("q_embedding"))
    )
    return (
        joined.select(
            "vec_id",
            qcos.alias("_qc"),
            F.round(qcos, 4).alias("qcos"),
            F.round(F.abs(qcos - fcos), 4).alias("abs_err"),
        )
        .orderBy(F.desc("_qc"), F.asc("vec_id"))
        .limit(TOP_K)
        .drop("_qc")
    )


_Q_ARR_SQL = (
    "list_transform({e}, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / "
    "greatest(list_max(list_transform({e}, y -> abs(CAST(y AS DOUBLE)))), "
    "1e-30) + 0.5) AS BIGINT))"
)


def _int_dot_sql(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> p[1] * p[2])) AS DOUBLE)"
    )


_F_DOT_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)

ANN_TOPK_QUANTIZED_SQL = f"""
WITH base AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         embedding,
         {_Q_ARR_SQL.format(e="embedding")} AS q
  FROM embeddings
),
qrow AS (
  SELECT embedding AS q_embedding, q AS qq FROM base
  WHERE vec_id = {QUERY_VEC_ID}
),
scored AS (
  SELECT b.vec_id,
         {_int_dot_sql("b.q", "r.qq")}
           / (sqrt({_int_dot_sql("b.q", "b.q")})
              * sqrt({_int_dot_sql("r.qq", "r.qq")})) AS qc,
         {_F_DOT_SQL.format(a="b.embedding", b="r.q_embedding")}
           / (sqrt({_F_DOT_SQL.format(a="b.embedding", b="b.embedding")})
              * sqrt({_F_DOT_SQL.format(a="r.q_embedding", b="r.q_embedding")}))
           AS fc
  FROM base b, qrow r
  WHERE b.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, ROUND(qc, 4) AS qcos, ROUND(abs(qc - fc), 4) AS abs_err
FROM scored
ORDER BY qc DESC, vec_id ASC
LIMIT {TOP_K}
"""


# ------------------------------------------------ incremental semantic dedup

# Embeddings carry no source column, so the corpus/increment split is
# a deterministic id predicate both engines share: incoming =
# vec_id % 4 == 3 (25% of any scale factor; at sf0.01 the split sees
# 160 cross-split and 26 in-batch SRP near-dup pairs, so the gate is
# not trivially all-'keep').
INCREMENTAL_VEC_MOD = 4
INCREMENTAL_VEC_REM = 3


def dedup_incremental_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding) incremental dedup — the SRP member of the
    incremental family (exact and MinHash live in ``operators/
    dedup.py``): verdict per INCOMING vector from banded SRP
    candidates VERIFIED by exact cosine ≥ SRP_COSINE_THRESHOLD
    against the corpus, plus the greedy lower-id rule within the
    batch (same policy as ``dedup_incremental_minhash``; unlike the
    MinHash twin the candidates are verified — one dot product per
    banded candidate is cheap for embeddings and keeps this member
    consistent with :func:`srp_neardup_pairs`'s semantics).

    100 TB shape: the corpus side is the persisted ``(band_idx,
    band_bits, vec_id)`` band index; both probes are equi-joins on the
    band key that carry ids only, and only distinct banded candidates
    fetch embeddings and pay a dot product."""
    emb = _read(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    return incremental_srp_verdicts(
        emb.filter(
            F.col("vec_id") % INCREMENTAL_VEC_MOD != INCREMENTAL_VEC_REM
        ),
        emb.filter(
            F.col("vec_id") % INCREMENTAL_VEC_MOD == INCREMENTAL_VEC_REM
        ),
    )


def incremental_srp_verdicts(
    corpus: DataFrame, incoming: DataFrame
) -> DataFrame:
    """Core of :func:`dedup_incremental_srp` over arbitrary
    ``(vec_id, embedding)`` frames (constructed-input surface).  Both
    probes pass only vec ids through
    :func:`~pdftotext_spark.operators.dedup.band_pairs`; embeddings and
    norms join back after its narrow ``distinct``."""

    def sig(emb: DataFrame) -> DataFrame:
        return emb.select(
            "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"),
            _srp_bucket_col().alias("srp"),
        )

    def payload(s: DataFrame, p: str) -> DataFrame:
        return s.select(
            F.col("vec_id").alias(f"{p}_id"),
            F.col("embedding").alias(f"{p}_emb"),
            F.col("nrm").alias(f"{p}_nrm"),
        )

    inc = sig(incoming).transform(materialize_lazy)
    inc_b = _srp_band_keys(inc, F.col("vec_id").alias("inc_id"))
    cos = _dot(F.col("inc_emb"), F.col("oth_emb")) / (
        F.col("inc_nrm") * F.col("oth_nrm")
    )

    def hits(other: DataFrame, pred, out: str) -> DataFrame:
        oth_b = _srp_band_keys(other, F.col("vec_id").alias("oth_id"))
        return (
            band_pairs(inc_b, oth_b, ["band_idx", "band_bits"], pred)
            .join(payload(inc, "inc"), "inc_id")
            .join(payload(other, "oth"), "oth_id")
            .filter(F.round(cos, 4) >= SRP_COSINE_THRESHOLD)
            .groupBy(F.col("inc_id").alias("vec_id"))
            .agg(F.count("*").alias(out))
        )

    return _greedy_verdicts(
        incoming.select(F.col("vec_id").cast("long").alias("vec_id")),
        "vec_id",
        hits(sig(corpus), None, "n_corpus_dups"),
        hits(inc, F.col("oth_id") < F.col("inc_id"), "n_batch_prior"),
    )


_COS_PAIR_SQL = (
    "ROUND(list_sum(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)"
)

DEDUP_INCREMENTAL_SRP_SQL = f"""
WITH sig AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
         CAST({_SRP_BUCKET_SQL} AS BIGINT) AS srp
  FROM embeddings
),
bands AS ({_SRP_BANDS_SQL}),
inc AS (SELECT * FROM bands
        WHERE vec_id % {INCREMENTAL_VEC_MOD} = {INCREMENTAL_VEC_REM}),
corpus AS (SELECT * FROM bands
           WHERE vec_id % {INCREMENTAL_VEC_MOD} <> {INCREMENTAL_VEC_REM}),
corpus_cand AS (
  SELECT DISTINCT i.vec_id AS inc_id, c.vec_id AS oth_id,
         i.embedding AS inc_emb, c.embedding AS oth_emb
  FROM inc i JOIN corpus c USING (band_idx, band_bits)
),
corpus_hits AS (
  SELECT inc_id AS vec_id, COUNT(DISTINCT oth_id) AS n
  FROM corpus_cand
  WHERE {_COS_PAIR_SQL.format(a="inc_emb", b="oth_emb")} >= {SRP_COSINE_THRESHOLD}
  GROUP BY inc_id
),
batch_cand AS (
  SELECT DISTINCT a.vec_id AS inc_id, b.vec_id AS oth_id,
         a.embedding AS inc_emb, b.embedding AS oth_emb
  FROM inc a JOIN inc b
    ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits
   AND b.vec_id < a.vec_id
),
batch_hits AS (
  SELECT inc_id AS vec_id, COUNT(DISTINCT oth_id) AS n
  FROM batch_cand
  WHERE {_COS_PAIR_SQL.format(a="inc_emb", b="oth_emb")} >= {SRP_COSINE_THRESHOLD}
  GROUP BY inc_id
),
base AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id FROM embeddings
  WHERE vec_id % {INCREMENTAL_VEC_MOD} = {INCREMENTAL_VEC_REM}
)
SELECT base.vec_id,
       CAST(coalesce(ch.n, 0) AS BIGINT) AS n_corpus_dups,
       CAST(coalesce(bh.n, 0) AS BIGINT) AS n_batch_prior,
       CASE WHEN coalesce(ch.n, 0) > 0 THEN 'corpus_dup'
            WHEN coalesce(bh.n, 0) > 0 THEN 'batch_dup'
            ELSE 'keep' END AS verdict
FROM base
LEFT JOIN corpus_hits ch ON base.vec_id = ch.vec_id
LEFT JOIN batch_hits bh ON base.vec_id = bh.vec_id
"""
