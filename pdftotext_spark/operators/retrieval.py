"""Retrieval scoring: BM25 top-k over the documents table.

A training-data pipeline needs keyword retrieval constantly —
pulling eval-adjacent documents for decontamination review, sampling
topical subsets, debugging dedup clusters ("show me everything about
X"). BM25 (Robertson & Zaragoza 2009, the Okapi weighting) is the
standard lexical scorer; this is the brute-force scan variant (the
oracle-checkable baseline — at 100 TB the same scoring expression
runs behind an inverted-index or pruned-posting source, which changes
the scan, not the math).

Portability: the per-term score is ONE shared SQL-dialect expression
(:func:`_bm25_term_sql`) both engines evaluate verbatim — identical
literals, identical operation order — rounded per term to integer
micro-units and integer-summed (the unigram_logloss order-proof
discipline), so cross-engine double drift cannot reorder the top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdftotext_spark.operators import similarity as _sim

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
# fixed benchmark query (terms present in the synthetic vocabulary)
BM25_QUERY_TERMS = ("window", "spark", "join")


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _bm25_term_sql(tf: str, df: str) -> str:
    """Okapi BM25 term contribution in integer micro-units, as a SQL
    expression string valid in BOTH Spark SQL and DuckDB (ln, round,
    CASE, CAST all shared). References columns ``{tf}``, ``{df}``,
    ``n_docs``, ``sum_dl``, ``dl`` — k1=1.2 (so k1+1=2.2) and b=0.75
    (so 1-b=0.25) are baked as literals so the expression text is
    byte-identical across engines. Every literal is spelled in ``e0``
    double notation: a bare ``1.0`` is a DECIMAL literal in both Spark
    SQL and DuckDB, and decimal-scaled division diverges from the IEEE
    doubles the pure-Python replay test computes — in double form all
    THREE engines share the same operation-ordered float semantics."""
    idf = f"ln(1e0 + (n_docs - {df} + 0.5e0) / ({df} + 0.5e0))"
    norm = f"({tf} + 1.2e0 * (0.25e0 + 0.75e0 * (dl * 1e0 * n_docs) / sum_dl))"
    return (
        f"CAST(round(CASE WHEN {tf} > 0 THEN "
        f"{idf} * ({tf} * 2.2e0) / {norm} * 1000000e0 "
        f"ELSE 0e0 END, 0) AS BIGINT)"
    )


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-:data:`BM25_TOPK` documents for the fixed query
    :data:`BM25_QUERY_TERMS` by BM25 (k1=1.2, b=0.75), with per-term
    frequencies observable. Ties break on doc_id.

    100 TB shape: one narrow token scan computes per-doc (dl, tf_t);
    corpus stats (N, Σdl, df_t) are ONE single-row aggregation
    broadcast back via crossJoin (the Lloyd scalar pattern);
    scoring is a zero-shuffle map and the top-k is
    TakeOrderedAndProject — no full sort, no wide shuffle. The token
    projection is scanned twice (stats + scoring), both narrow."""
    return bm25_topk_for(_read(spark, sf_dir, "documents"))


def bm25_topk_for(docs: DataFrame) -> DataFrame:
    """Core of :func:`bm25_topk` over an arbitrary ``(doc_id, text)``
    frame — the constructed-input surface the pure-Python BM25 replay
    test drives (a third engine the DuckDB-parity blindness can't
    fool)."""
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr("filter(split(lower(text), ' '), t -> t <> '')").alias("a"),
    )
    m = toks.select(
        "doc_id",
        F.size("a").cast("long").alias("dl"),
        *[
            F.size(F.expr(f"filter(a, x -> x = '{t}')"))
            .cast("long")
            .alias(f"tf_{t}")
            for t in BM25_QUERY_TERMS
        ],
    )
    stats = m.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long"))
            .cast("long")
            .alias(f"df_{t}")
            for t in BM25_QUERY_TERMS
        ],
    )
    score = sum(
        (
            F.expr(_bm25_term_sql(f"tf_{t}", f"df_{t}"))
            for t in BM25_QUERY_TERMS
        ),
        F.lit(0).cast("long"),
    )
    return (
        m.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "dl",
            *[f"tf_{t}" for t in BM25_QUERY_TERMS],
            score.cast("long").alias("bm25_micro"),
        )
        .orderBy(F.desc("bm25_micro"), "doc_id")
        .limit(BM25_TOPK)
    )


def bm25_index_for(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Build the inverted-index representation of a ``(doc_id, text)``
    frame: ``(postings, stats)``.

    ``postings`` is one row per (term, doc_id) with the term frequency
    and the document length denormalized in (``term, doc_id, tf, dl``)
    — the standard posting-list layout: storing ``dl`` beside ``tf``
    means query-time scoring never joins back to a corpus-cardinality
    lengths frame. ``stats`` is the ONE-row corpus frame
    (``n_docs, sum_dl``) aggregated over ALL documents (including
    zero-token ones, matching :func:`bm25_topk_for`'s stats exactly).

    100 TB shape: the index build is one explode + one groupBy on
    (term, doc_id) — the classic one-time indexing shuffle. Persist
    ``postings`` partitioned/bucketed by ``term`` and query-time term
    filters become partition pruning instead of a scan."""
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr("filter(split(lower(text), ' '), t -> t <> '')").alias("a"),
    )
    ex = toks.select(
        "doc_id",
        F.size("a").cast("long").alias("dl"),
        F.explode("a").alias("term"),
    )
    postings = ex.groupBy("term", "doc_id").agg(
        F.count("*").cast("long").alias("tf"),
        F.min("dl").cast("long").alias("dl"),
    )
    stats = toks.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size("a").cast("long")).cast("long").alias("sum_dl"),
    )
    return postings, stats


def bm25_topk_indexed_for(
    postings: DataFrame,
    stats: DataFrame,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k: int = BM25_TOPK,
) -> DataFrame:
    """Query-time BM25 over an inverted index from
    :func:`bm25_index_for` — NEXT.md #11's scale path behind the SAME
    per-term scoring expression (:func:`_bm25_term_sql`) as the
    brute-force :func:`bm25_topk_for`.

    Candidate semantics (standard retrieval): only documents
    containing >= 1 query term are ranked — the brute-force scan pads
    with zero-score documents when fewer than k candidates exist; the
    indexed path by construction cannot see them. For every emitted
    doc the integer micro-unit score is IDENTICAL to the brute-force
    value: each posting row is exactly one (doc, term) contribution,
    rounded per term then integer-summed, the same algebra in a
    different order of grouping.

    100 TB shape: the ``term IN (...)`` filter prunes the posting scan
    to the query terms (Catalyst pushes it through the index groupBy
    when composed in-plan; against a persisted term-partitioned index
    it is partition pruning), per-term df is a COUNT WINDOW over the
    filtered postings — not a groupBy+join-back, which would re-run
    the corpus explode lineage a second time (ReusedExchange does NOT
    collapse differently-projected subtrees; the round-6 ExactSubstr
    lesson) — the corpus stats row is the Lloyd broadcast-scalar
    pattern, and the final ranking is a groupBy over only matching
    postings + TakeOrderedAndProject — ONE Generate of the corpus at
    index-build, no full-corpus work at query time."""
    qp = postings.filter(F.col("term").isin(*terms))
    qp = qp.withColumn(
        "df", F.count("*").over(Window.partitionBy("term")).cast("long")
    )
    contrib = F.expr(_bm25_term_sql("tf", "df"))
    scored = qp.join(F.broadcast(stats)).select(
        "doc_id", contrib.alias("contrib")
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("contrib").cast("long").alias("bm25_micro"),
        )
        .orderBy(F.desc("bm25_micro"), "doc_id")
        .limit(k)
    )


def bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered inverted-index BM25: build the posting lists over
    ``documents`` in-plan and rank the fixed query
    :data:`BM25_QUERY_TERMS`. Columns: doc_id, n_terms (distinct
    query terms present), bm25_micro."""
    postings, stats = bm25_index_for(_read(spark, sf_dir, "documents"))
    return bm25_topk_indexed_for(postings, stats)


# --- batch multi-query BM25 ----------------------------------------
#
# Production retrieval is batched: decontamination review, topical
# sampling and dedup-cluster debugging all evaluate MANY queries over
# the same corpus, and re-scanning the postings per query wastes the
# dominant cost. This variant evaluates a fixed query SET in ONE pass:
# the posting scan is pruned once to the union of all query terms, df
# is computed once per term (df is query-independent), and the tiny
# (query_id, term) map is broadcast into the pruned postings.

BM25_BATCH_QUERIES = (
    ("q1", ("window", "spark", "join")),
    ("q2", ("stream", "filter", "batch")),
    ("q3", ("vector", "hash")),
    ("q4", ("sort", "merge", "scan")),
)
BM25_BATCH_TOPK = 5


def bm25_batch_topk_for(
    docs: DataFrame,
    queries: tuple[tuple[str, tuple[str, ...]], ...] = BM25_BATCH_QUERIES,
    k: int = BM25_BATCH_TOPK,
) -> DataFrame:
    """Top-``k`` per query for a batch of term queries, all behind the
    SAME per-term expression (:func:`_bm25_term_sql`) as the
    single-query paths — for any (query, doc) pair the micro-unit
    score is IDENTICAL to :func:`bm25_topk_indexed_for` run on that
    query alone (pinned by test). Candidate semantics as the indexed
    path: only docs containing >= 1 of the query's terms rank; a query
    whose terms are all corpus-absent emits no rows.

    Output: query_id, doc_id, n_terms, bm25_micro, q_rank (1-based),
    ordered by (query_id, q_rank).

    100 TB shape: ONE pruned posting scan for the whole batch (term IN
    union-of-terms — partition pruning against a term-partitioned
    index), df once per term via the count window, then the
    (query_id, term) map — genuinely tiny — broadcasts into the
    pruned postings, so corpus-side work is independent of the number
    of queries sharing a term. The per-query top-k window partitions
    by query_id over posting-bounded candidate sets only (never the
    corpus); a mega-batch would range-partition on query_id."""
    postings, stats = bm25_index_for(docs)
    spark = docs.sparkSession
    # dedup terms per query: a duplicated term in one query's tuple
    # would double-count its contribution and inflate n_terms,
    # silently diverging from the single-query path's isin() semantics
    # (ADVICE r6); order-preserving so the map stays deterministic
    qmap = spark.createDataFrame(
        [(qid, t) for qid, terms in queries for t in dict.fromkeys(terms)],
        "query_id string, term string",
    )
    all_terms = sorted({t for _, terms in queries for t in terms})
    fp = postings.filter(F.col("term").isin(*all_terms)).withColumn(
        "df", F.count("*").over(Window.partitionBy("term")).cast("long")
    )
    contrib = F.expr(_bm25_term_sql("tf", "df"))
    scored = (
        fp.join(F.broadcast(qmap), "term")
        .join(F.broadcast(stats))
        .select("query_id", "doc_id", contrib.alias("contrib"))
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("contrib").cast("long").alias("bm25_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25_micro"), F.asc("doc_id")
    )
    return (
        agg.withColumn("q_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("q_rank") <= k)
        .orderBy("query_id", "q_rank")
    )


def bm25_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered batch BM25: the fixed :data:`BM25_BATCH_QUERIES`
    set over ``documents`` in one posting pass."""
    return bm25_batch_topk_for(_read(spark, sf_dir, "documents"))


# --- hybrid retrieval: RRF fusion + dense rerank -------------------
#
# Two-system retrieval over the SAME corpus: the lexical system is the
# inverted-index BM25 above (query = BM25_QUERY_TERMS); the dense
# system ranks by exact cosine against the fixed query vector
# (vec_id = similarity.QUERY_VEC_ID). The synthetic fixture keys both
# tables identically (documents.doc_id 0..N-1 == embeddings.vec_id
# 0..N-1); a deployment would carry an explicit doc_id on the
# embedding table. The query's own row (doc/vec id 0) is excluded
# from BOTH sides so the fused corpus is identical.

RRF_K = 60  # Cormack, Clarke & Buettcher 2009's constant
RRF_POOL = 50  # per-system candidate list depth
RRF_TOPK = 20
RERANK_TOPK = 10


def _rrf_sql(rank: str) -> str:
    """Reciprocal-rank contribution 1e6/(RRF_K + rank) in integer
    micro-units — ONE expression string evaluated verbatim by both
    engines (the :func:`_bm25_term_sql` discipline); NULL rank (doc
    absent from that system's list) propagates NULL for the caller's
    COALESCE."""
    return f"CAST(round(1000000e0 / ({RRF_K}e0 + {rank}), 0) AS BIGINT)"


def _lex_pool(docs: DataFrame) -> DataFrame:
    """Top-:data:`RRF_POOL` lexical candidates (query-doc row
    excluded) with 1-based rank — rank assignment is a row_number over
    the already-LIMITed pool, so the window sorts <= RRF_POOL rows,
    never the corpus (the TakeOrderedAndProject below it did the
    corpus-scale work)."""
    postings, stats = bm25_index_for(
        docs.filter(F.col("doc_id") != _sim.QUERY_VEC_ID)
    )
    pool = bm25_topk_indexed_for(postings, stats, k=RRF_POOL)
    w = Window.orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
    return pool.select(
        "doc_id", "bm25_micro", F.row_number().over(w).alias("lex_r")
    )


def _dense_pool(emb: DataFrame) -> DataFrame:
    """Top-:data:`RRF_POOL` cosine neighbours of the fixed query
    vector with 1-based rank — the shared
    :func:`~pdftotext_spark.operators.similarity.cosine_scan_for`
    broadcast-single-query-row scan (4dp round before ranking) plus
    the rank window over the already-bounded pool."""
    pool = _sim.cosine_scan_for(emb, RRF_POOL, id_col="doc_id")
    w = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    return pool.select(
        "doc_id", "cosine", F.row_number().over(w).alias("cos_r")
    )


def hybrid_rrf_topk_for(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """Reciprocal Rank Fusion (RRF, Cormack et al. 2009) of the BM25
    list and the dense cosine list: score(d) = Σ 1/(60 + rank_sys(d))
    over the systems that retrieved d, in integer micro-units.

    Output: doc_id, lex_rank / cos_rank (1-based; 0 = absent from
    that system's top-:data:`RRF_POOL`), rrf_micro; top
    :data:`RRF_TOPK` by (rrf_micro DESC, doc_id).

    100 TB shape: each system independently reduces the corpus to
    <= RRF_POOL rows via TakeOrderedAndProject (no full sort); the
    fusion full-outer join and final ordering touch only 2×RRF_POOL
    rows — constant work regardless of corpus size."""
    lex = _lex_pool(docs).select("doc_id", "lex_r")
    den = _dense_pool(emb).select("doc_id", "cos_r")
    fused = lex.join(den, "doc_id", "full_outer").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce(F.col("lex_r"), F.lit(0))
        .cast("long")
        .alias("lex_rank"),
        F.coalesce(F.col("cos_r"), F.lit(0))
        .cast("long")
        .alias("cos_rank"),
        (
            F.coalesce(F.expr(_rrf_sql("lex_r")), F.lit(0))
            + F.coalesce(F.expr(_rrf_sql("cos_r")), F.lit(0))
        )
        .cast("long")
        .alias("rrf_micro"),
    )
    return fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(
        RRF_TOPK
    )


def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered hybrid retrieval: RRF-fuse the fixed lexical query
    :data:`BM25_QUERY_TERMS` with the fixed dense query vector over
    the documents/embeddings fixture pair."""
    return hybrid_rrf_topk_for(
        _read(spark, sf_dir, "documents"),
        _read(spark, sf_dir, "embeddings"),
    )


def bm25_rerank_cosine_for(
    docs: DataFrame, emb: DataFrame
) -> DataFrame:
    """Two-stage retrieve-then-rerank: BM25 generates
    <= :data:`RRF_POOL` lexical candidates, the exact cosine against
    the fixed query vector reranks them; top :data:`RERANK_TOPK` by
    (cosine DESC, doc_id). Output: doc_id, bm25_micro, lex_rank,
    cosine.

    100 TB shape: the candidate list is genuinely tiny (<= RRF_POOL
    rows) so it IS force-broadcast into the embedding scan — a
    BroadcastHashJoin that streams the embeddings table once and
    never shuffles it; the rerank scoring then touches only the
    surviving <= RRF_POOL vectors."""
    cand = _lex_pool(docs)
    q = emb.filter(F.col("vec_id") == _sim.QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding")
    )
    joined = (
        emb.join(
            F.broadcast(cand),
            emb["vec_id"].cast("long") == cand["doc_id"],
        )
        .join(F.broadcast(q))
    )
    cos = _sim._dot(F.col("embedding"), F.col("q_embedding")) / (
        _sim._norm(F.col("embedding")) * _sim._norm(F.col("q_embedding"))
    )
    return (
        joined.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("bm25_micro").cast("long").alias("bm25_micro"),
            F.col("lex_r").cast("long").alias("lex_rank"),
            F.round(cos, 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(RERANK_TOPK)
    )


def bm25_rerank_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered two-stage rerank over the fixture pair."""
    return bm25_rerank_cosine_for(
        _read(spark, sf_dir, "documents"),
        _read(spark, sf_dir, "embeddings"),
    )


_TF_SQL = ", ".join(
    f"CAST(len(list_filter(a, x -> x = '{t}')) AS BIGINT) AS tf_{t}"
    for t in BM25_QUERY_TERMS
)
_DF_SQL = ", ".join(
    f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
    for t in BM25_QUERY_TERMS
)
_SCORE_SQL = " + ".join(
    _bm25_term_sql(f"tf_{t}", f"df_{t}") for t in BM25_QUERY_TERMS
)

BM25_TOPK_SQL = f"""
WITH m AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(a) AS BIGINT) AS dl, {_TF_SQL}
  FROM (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), t -> t <> '') AS a
    FROM documents
  )
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl, {_DF_SQL}
  FROM m
)
SELECT doc_id, dl, {", ".join(f"tf_{t}" for t in BM25_QUERY_TERMS)},
       CAST({_SCORE_SQL} AS BIGINT) AS bm25_micro
FROM m, stats
ORDER BY bm25_micro DESC, doc_id
LIMIT {BM25_TOPK}
"""

_QTERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)


def _postings_ctes(
    stats_name: str = "stats", exclude_query_doc: bool = False
) -> str:
    """The toks/stats/postings DuckDB CTE trio every indexed-BM25
    oracle starts from — ONE source for the tokenizer and the posting
    layout, so a fix reaches all of them (they used to be triplicated
    verbatim). ``exclude_query_doc`` drops the hybrid family's query
    row; ``stats_name`` lets a composite oracle avoid CTE-name
    collisions."""
    where = (
        f" WHERE doc_id <> {_sim.QUERY_VEC_ID}" if exclude_query_doc else ""
    )
    return f"""toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS a
  FROM documents{where}
),
{stats_name} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(a)) AS BIGINT) AS sum_dl
  FROM toks
),
postings AS (
  SELECT term, doc_id,
         CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(MIN(dl) AS BIGINT) AS dl
  FROM (
    SELECT doc_id, CAST(len(a) AS BIGINT) AS dl, unnest(a) AS term
    FROM toks
  )
  GROUP BY term, doc_id
)"""


BM25_TOPK_INDEXED_SQL = f"""
WITH {_postings_ctes()},
qp AS (
  SELECT *, CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df
  FROM postings WHERE term IN ({_QTERMS_SQL})
),
scored AS (
  SELECT qp.doc_id, {_bm25_term_sql("tf", "df")} AS contrib
  FROM qp, stats
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(contrib) AS BIGINT) AS bm25_micro
FROM scored
GROUP BY doc_id
ORDER BY bm25_micro DESC, doc_id
LIMIT {BM25_TOPK}
"""


# the ONE dialect cosine spelling lives in similarity.cos4_sql
_cos_sql = _sim.cos4_sql


# lexical pool CTEs (query-doc row excluded; mirrors _lex_pool):
# rank-then-QUALIFY here == orderBy().limit() then row_number() on the
# Spark side — same deterministic total order.
_LEX_POOL_CTES = f"""
{_postings_ctes(stats_name="lstats", exclude_query_doc=True)},
qp AS (
  SELECT *, CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df
  FROM postings WHERE term IN ({_QTERMS_SQL})
),
lex_scored AS (
  SELECT doc_id,
         CAST(SUM(contrib) AS BIGINT) AS bm25_micro
  FROM (
    SELECT qp.doc_id, {_bm25_term_sql("tf", "df")} AS contrib
    FROM qp, lstats
  )
  GROUP BY doc_id
),
lex AS (
  SELECT doc_id, bm25_micro,
         CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id)
              AS BIGINT) AS lex_r
  FROM lex_scored
  QUALIFY lex_r <= {RRF_POOL}
)"""

_DENSE_POOL_CTES = f"""
q AS (
  SELECT embedding AS q_embedding FROM embeddings
  WHERE vec_id = {_sim.QUERY_VEC_ID}
),
dcos AS (
  SELECT CAST(e.vec_id AS BIGINT) AS doc_id,
         {_cos_sql("e.embedding", "q.q_embedding")} AS cosine
  FROM embeddings e, q
  WHERE e.vec_id <> {_sim.QUERY_VEC_ID}
),
den AS (
  SELECT doc_id, cosine,
         CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
              AS BIGINT) AS cos_r
  FROM dcos
  QUALIFY cos_r <= {RRF_POOL}
)"""

HYBRID_RRF_TOPK_SQL = f"""
WITH {_LEX_POOL_CTES},
{_DENSE_POOL_CTES}
SELECT CAST(COALESCE(l.doc_id, d.doc_id) AS BIGINT) AS doc_id,
       CAST(COALESCE(l.lex_r, 0) AS BIGINT) AS lex_rank,
       CAST(COALESCE(d.cos_r, 0) AS BIGINT) AS cos_rank,
       CAST(COALESCE({_rrf_sql("l.lex_r")}, 0)
            + COALESCE({_rrf_sql("d.cos_r")}, 0) AS BIGINT) AS rrf_micro
FROM lex l FULL OUTER JOIN den d ON l.doc_id = d.doc_id
ORDER BY rrf_micro DESC, doc_id
LIMIT {RRF_TOPK}
"""

BM25_RERANK_COSINE_SQL = f"""
WITH {_LEX_POOL_CTES},
q AS (
  SELECT embedding AS q_embedding FROM embeddings
  WHERE vec_id = {_sim.QUERY_VEC_ID}
)
SELECT l.doc_id,
       l.bm25_micro,
       CAST(l.lex_r AS BIGINT) AS lex_rank,
       {_cos_sql("e.embedding", "q.q_embedding")} AS cosine
FROM lex l
JOIN embeddings e ON CAST(e.vec_id AS BIGINT) = l.doc_id
CROSS JOIN q
ORDER BY cosine DESC, doc_id
LIMIT {RERANK_TOPK}
"""


_BATCH_TERMS_SQL = ", ".join(
    f"'{t}'"
    for t in sorted({t for _, ts in BM25_BATCH_QUERIES for t in ts})
)


def _batch_values_sql(queries: tuple[tuple[str, tuple[str, ...]], ...]) -> str:
    """The oracle's (query_id, term) VALUES rows, terms deduped per
    query by the same order-preserving ``dict.fromkeys`` as the Spark
    map in :func:`bm25_batch_topk_for`."""
    return ", ".join(
        f"('{qid}', '{t}')" for qid, ts in queries for t in dict.fromkeys(ts)
    )


_BATCH_VALUES_SQL = _batch_values_sql(BM25_BATCH_QUERIES)

BM25_BATCH_TOPK_SQL = f"""
WITH {_postings_ctes()},
fp AS (
  SELECT *, CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df
  FROM postings WHERE term IN ({_BATCH_TERMS_SQL})
),
batch(query_id, term) AS (VALUES {_BATCH_VALUES_SQL}),
scored AS (
  SELECT b.query_id, fp.doc_id,
         {_bm25_term_sql("tf", "df")} AS contrib
  FROM fp JOIN batch b USING (term), stats
),
agg AS (
  SELECT query_id, doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(contrib) AS BIGINT) AS bm25_micro
  FROM scored
  GROUP BY query_id, doc_id
),
ranked AS (
  SELECT *,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY bm25_micro DESC, doc_id) AS BIGINT) AS q_rank
  FROM agg
  QUALIFY q_rank <= {BM25_BATCH_TOPK}
)
SELECT query_id, doc_id, n_terms, bm25_micro, q_rank
FROM ranked
ORDER BY query_id, q_rank
"""
