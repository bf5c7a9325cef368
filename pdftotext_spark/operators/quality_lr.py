"""In-Spark trained linear quality classifier (logistic regression).

The FineWeb-Edu / fastText-classifier shape of corpus curation: train
a cheap linear model to score documents by "quality", then rank or
gate on the score. Here the training task is fully self-contained and
deterministic — distinguish the prose rendering of a document
(:func:`pdftotext_spark.operators.prose.prose_frame`: multi-line,
punctuated, stopword-bearing) from its raw form — so both engines and
a pure-Python replay train the IDENTICAL model from first principles
(no external labels, no model files).

Training is :data:`LR_ROUNDS` rounds of full-batch gradient descent
driven from the driver: the feature table is materialized ONCE, and
each round is one Spark aggregate over it with the current six
weights attached as literal columns. The aggregate evaluates the
shared gradient, count/sum and update SQL in the same job and returns
the next six integer weights; the driver only carries those longs.

Determinism discipline (the unigram_logloss order-proof rules):
- features are INTEGER micro-units derived from integer counts; the
  per-dialect part is only the count extraction (split vs
  string_split etc.), every arithmetic step after that is ONE shared
  SQL string evaluated verbatim by both engines;
- weights live as integer micro-units and are rounded half-up after
  every update, so cross-round drift cannot accumulate;
- the gradient Σ over rows adds INTEGER per-row contributions (each
  row's (y − σ(z))·x rounded to micro) — addition order can't perturb
  the sum. σ's exp() carries the same accepted 1-ulp cross-engine
  risk class as the BM25 ln(); the per-row micro round shields it.

100 TB shape: one corpus scan builds the (slim, 8-column) feature
frame, materialized once; each round then aggregates THAT frame to a
single row (map-side partial aggregation) — no round ever re-reads
the corpus, and the feature table never leaves Spark. Scoring is a
zero-shuffle projection of the feature frame against the final
weights as literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdftotext_spark.operators import prose as _prose
from pdftotext_spark.operators.materialize import materialize

LR_ROUNDS = 8
LR_RATE = "4e0"  # full-batch step size, baked as a shared literal
LR_STOPWORDS = ("the", "and", "of", "to", "a", "in")

# ---- per-dialect integer count extraction ------------------------
# Spark-side count expressions over a `text` column. replace/chr are
# shared syntax; tokenization and the global regex are per-dialect.
_COUNTS_EXPR = {
    "n_chars": "length(text)",
    "nl_cnt": "length(text) - length(replace(text, chr(10), ''))",
    "dot_cnt": "length(text) - length(replace(text, '.', ''))",
    "up_cnt": "length(regexp_replace(text, '[^A-Z]', ''))",
    "n_tok": "size(filter(split(text, ' '), x -> x <> ''))",
    "stop_cnt": (
        "size(filter(split(lower(text), ' '), x -> x IN "
        f"({', '.join(repr(w) for w in LR_STOPWORDS)})))"
    ),
    "sum_wl": (
        "aggregate(transform(filter(split(text, ' '), x -> x <> ''), "
        "x -> length(x)), 0, (acc, v) -> acc + v)"
    ),
}
# only the genuinely per-dialect entries diverge; the shared strings
# come from ONE source (the shingle keep-rule lesson: shared
# expressions stay shared verbatim or the twins drift)
_COUNTS_SQL = {
    **{k: _COUNTS_EXPR[k] for k in ("n_chars", "nl_cnt", "dot_cnt")},
    "up_cnt": "length(regexp_replace(text, '[^A-Z]', '', 'g'))",
    "n_tok": "len(list_filter(string_split(text, ' '), x -> x <> ''))",
    "stop_cnt": (
        "len(list_filter(string_split(lower(text), ' '), x -> x IN "
        f"({', '.join(repr(w) for w in LR_STOPWORDS)})))"
    ),
    "sum_wl": (
        "coalesce(list_sum(list_transform(list_filter("
        "string_split(text, ' '), x -> x <> ''), x -> len(x))), 0)"
    ),
}

# ---- shared feature-micro expressions over the count columns -----
# Each feature is scaled into [0, 1] micro-units with FIXED constants
# (a data-dependent normalization would add a stats pass and another
# source of cross-engine drift).
_FEAT_SQL = {
    "f1m": "CAST(round(least(nl_cnt, 20) * 1e0 / 20e0 * 1000000e0, 0) AS BIGINT)",
    "f2m": (
        "CAST(round(least(dot_cnt * 1e0 / greatest(n_tok, 1), 1e0) "
        "* 1000000e0, 0) AS BIGINT)"
    ),
    "f3m": (
        "CAST(round(stop_cnt * 1e0 / greatest(n_tok, 1) "
        "* 1000000e0, 0) AS BIGINT)"
    ),
    "f4m": (
        "CAST(round(least(sum_wl * 1e0 / greatest(n_tok, 1) / 10e0, 1e0) "
        "* 1000000e0, 0) AS BIGINT)"
    ),
    "f5m": (
        "CAST(round(least(up_cnt * 1e0 / greatest(n_chars, 1) * 10e0, 1e0) "
        "* 1000000e0, 0) AS BIGINT)"
    ),
}
_FEATS = ("f1m", "f2m", "f3m", "f4m", "f5m")

# z from integer micro weights w0m..w5m and micro features: every
# literal in e0 double form, fixed operation order
_Z_SQL = (
    "((w0m * 1e0 + (w1m * 1e0 * f1m + w2m * 1e0 * f2m + w3m * 1e0 * f3m"
    " + w4m * 1e0 * f4m + w5m * 1e0 * f5m) / 1000000e0) / 1000000e0)"
)
_SIGMA_SQL = f"(1e0 / (1e0 + exp(-{_Z_SQL})))"
# the per-row integer micro score: batch scorer, streaming gate and
# every oracle copy evaluate this one string
_SCORE_SQL = f"CAST(round({_SIGMA_SQL} * 1000000e0, 0) AS BIGINT)"


def _grad_sql(k: int) -> str:
    """Per-row micro gradient contribution for weight k (0 = bias):
    (y − σ(z)) · x_k, with x_0 ≡ 1 (in micro units)."""
    xk = "1000000e0" if k == 0 else f"f{k}m"
    return (
        f"CAST(round((label * 1e0 - {_SIGMA_SQL}) * {xk}, 0) AS BIGINT)"
    )


def _update_sql(k: int) -> str:
    """New micro weight k from the integer gradient sum and n."""
    return (
        f"CAST(w{k}m + round({LR_RATE} * (g{k} * 1e0 / n) / 1000000e0 "
        f"* 1000000e0, 0) AS BIGINT)"
    )


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def features_over(df: DataFrame) -> DataFrame:
    """Append the five micro-unit feature columns to ``df`` (which
    must carry ``text``) — the ONE counts→features composition both
    the batch trainer and the streaming gate run (single-source
    helper discipline)."""
    counts = df.select(
        "*",
        *[F.expr(e).cast("long").alias(c) for c, e in _COUNTS_EXPR.items()],
    )
    return counts.select(
        *df.columns,
        *[F.expr(_FEAT_SQL[f]).alias(f) for f in _FEATS],
    )


def lr_features_for(docs: DataFrame) -> DataFrame:
    """The training table: every document twice — raw (label 0,
    ex_id = 2·doc_id) and prose-rendered (label 1, ex_id =
    2·doc_id + 1) — reduced to the five micro-unit features. One
    corpus scan per rendering, materialized once for the training
    rounds."""
    raw = docs.select(
        (F.col("doc_id").cast("long") * 2).alias("ex_id"),
        F.lit(0).cast("long").alias("label"),
        "text",
    )
    pro = _prose.prose_frame(docs).select(
        (F.col("doc_id").cast("long") * 2 + 1).alias("ex_id"),
        F.lit(1).cast("long").alias("label"),
        "text",
    )
    both = raw.unionByName(pro)
    return features_over(both).drop("text")


def _with_weights(df: DataFrame, w: tuple[int, ...]) -> DataFrame:
    """Attach the six micro weights ``w`` to every row of ``df`` as
    the literal long columns w0m..w5m the shared SQL reads."""
    return df.select(
        "*", *[F.lit(v).cast("long").alias(f"w{k}m") for k, v in enumerate(w)]
    )


def _lr_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, ...]], DataFrame]:
    """Shared trainer: returns ``(weights, feats)`` where ``weights``
    holds the six micro weights of rounds 0..LR_ROUNDS (round 0 = the
    zero init) and ``feats`` is the materialized feature table. Each
    round is one ``first()`` over ``feats``: gradient, count/sum and
    update run in the same job."""
    feats = materialize(
        lr_features_for(_read(spark, sf_dir, "documents"))
    )
    weights = [(0,) * 6]
    for _ in range(LR_ROUNDS):
        grads = (
            _with_weights(feats, weights[-1])
            .select(
                *[F.expr(_grad_sql(k)).alias(f"gc{k}") for k in range(6)]
            )
            .agg(
                F.count("*").cast("long").alias("n"),
                *[
                    F.sum(f"gc{k}").cast("long").alias(f"g{k}")
                    for k in range(6)
                ],
            )
        )
        row = (
            _with_weights(grads, weights[-1])
            .select(
                *[F.expr(_update_sql(k)).alias(f"w{k}m") for k in range(6)]
            )
            .first()
        )
        weights.append(tuple(row))
    return weights, feats


def quality_lr_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered trainer: weight trajectory (round, w0m..w5m in
    integer micro-units), round 0 = init. Ordered by round."""
    weights, _ = _lr_train(spark, sf_dir)
    # a VALUES list plans as a LocalTableScan: collecting it runs no job
    rows = ", ".join(
        "(" + ", ".join(f"{v}L" for v in (r, *w)) + ")"
        for r, w in enumerate(weights)
    )
    cols = ", ".join(f"w{k}m" for k in range(6))
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(round, {cols})")


def quality_lr_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered scorer: every training example with its final-round
    sigmoid score (micro), hard prediction at 0.5, and correctness —
    the per-document quality score a curation run would gate on."""
    weights, feats = _lr_train(spark, sf_dir)
    score = F.expr(_SCORE_SQL)
    return _with_weights(feats, weights[-1]).select(
        "ex_id",
        "label",
        score.alias("score_micro"),
        (score >= 500000).alias("predicted_clean"),
        ((score >= 500000) == (F.col("label") == 1)).alias("correct"),
    )


# ---------------------------------------------------------- oracles


def _feats_ctes() -> str:
    counts = ",\n         ".join(
        f"CAST({e} AS BIGINT) AS {c}" for c, e in _COUNTS_SQL.items()
    )
    fm = ",\n       ".join(f"{_FEAT_SQL[f]} AS {f}" for f in _FEATS)
    return f"""prose_docs AS ({_prose.PROSE_DOCS_SQL}),
pool AS (
  SELECT CAST(doc_id AS BIGINT) * 2 AS ex_id,
         CAST(0 AS BIGINT) AS label, text
  FROM documents
  UNION ALL
  SELECT CAST(doc_id AS BIGINT) * 2 + 1 AS ex_id,
         CAST(1 AS BIGINT) AS label, text
  FROM prose_docs
),
counts AS (
  SELECT ex_id, label,
         {counts}
  FROM pool
),
feats AS MATERIALIZED (
  SELECT ex_id, label,
       {fm}
  FROM counts
)"""


def _round_ctes(rounds: int = LR_ROUNDS) -> str:
    parts = [
        "w0 AS (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS w{k}m" for k in range(6))
        + ")"
    ]
    for r in range(1, rounds + 1):
        gsel = ", ".join(
            f"CAST(SUM({_grad_sql(k)}) AS BIGINT) AS g{k}"
            for k in range(6)
        )
        usel = ", ".join(
            f"{_update_sql(k)} AS w{k}m" for k in range(6)
        )
        parts.append(
            f"""g{r} AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, {gsel}
  FROM feats, w{r - 1}
),
w{r} AS MATERIALIZED (
  SELECT {usel} FROM g{r}, w{r - 1}
)"""
        )
    return ",\n".join(parts)


def _train_union(rounds: int = LR_ROUNDS) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round, * FROM w{r}"
        for r in range(rounds + 1)
    )


QUALITY_LR_TRAIN_SQL = f"""
WITH {_feats_ctes()},
{_round_ctes()}
SELECT * FROM ({_train_union()})
ORDER BY round
"""

QUALITY_LR_SCORES_SQL = f"""
WITH {_feats_ctes()},
{_round_ctes()}
SELECT ex_id, label,
       {_SCORE_SQL} AS score_micro,
       {_SCORE_SQL} >= 500000
         AS predicted_clean,
       ({_SCORE_SQL} >= 500000)
         = (label = 1) AS correct
FROM feats, w{LR_ROUNDS}
"""


def quality_lr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based AUC (Mann-Whitney) of the learned scores against
    the construction labels — the evaluation a classifier-gated
    curation run reports next to its threshold. Midranks handle
    integer-score ties exactly: doubled midrank 2·r_mid = 2·min_rank
    + (ties − 1) stays integer, so the Σ is order-free and the single
    division happens once at the end (micro-rounded).

    Output: one row (n_pos, n_neg, r2_pos, auc_micro). ``r2_pos``
    (the raw doubled positive rank sum) is emitted deliberately: on a
    perfectly-separated corpus ``auc_micro`` saturates at exactly
    1e6, where a whole class of ranking bugs would stay invisible to
    the oracle gate — r2_pos depends on every individual rank and
    does not saturate. ``auc_micro`` is NULL when either class is
    empty (AUC is undefined; an explicit CASE, not a silent 0/0).

    100 TB shape: see :func:`auc_for`."""
    return auc_for(
        quality_lr_scores(spark, sf_dir).select("label", "score_micro")
    )


def auc_for(scored: DataFrame) -> DataFrame:
    """Core of :func:`quality_lr_auc` over an arbitrary
    ``(label, score_micro)`` frame — the constructed-input surface the
    midrank/tie tests drive.

    The rank math runs on the DISTINCT-SCORE frame, never the row
    frame: scores are integer micro-units in [0, 1e6], so the frame
    the prefix-sum window sorts is bounded at 1,000,001 rows at ANY
    corpus size. A rank window straight over the rows would funnel
    the whole corpus through one Exchange SinglePartition task — the
    first version did exactly that (review r6s7); the groupBy form is
    one map-side-combined shuffle plus a bounded-constant window.
    Per distinct score: 2·r_mid = 2·min_rank + cnt − 1 with
    min_rank = 1 + Σ cnt over strictly-lower scores.

    Row-count ceiling (ADVICE r6): ``r2_pos`` = Σ pos·(2·r_mid) grows
    ~n_pos·n_rows, so past ~1e9–1e10 rows it exceeds BIGINT — where
    Spark's non-ANSI long sum wraps silently while DuckDB's
    HUGEINT→BIGINT cast errors, a divergent failure mode. At that
    scale emit r2_pos as DECIMAL(38,0)/double (and accept the doc'd
    precision change), or run AUC on a stratified sample; the
    bounded-distinct-score claim above covers the window, not this
    sum's width."""
    from pyspark.sql import Window

    per_score = scored.groupBy("score_micro").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum((F.col("label") == 1).cast("long")).cast("long").alias("pos"),
    )
    w_lower = (
        Window.orderBy("score_micro")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r2 = (
        2 * (1 + F.coalesce(F.sum("cnt").over(w_lower), F.lit(0)))
        + F.col("cnt")
        - 1
    ).cast("long")
    agg = per_score.select("cnt", "pos", r2.alias("r2")).agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("n_neg"),
        F.sum(F.col("pos") * F.col("r2")).cast("long").alias("r2_pos"),
    )
    auc = (
        "CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL ELSE "
        "round((r2_pos * 1e0 / 2e0 - n_pos * 1e0 * (n_pos + 1e0) / 2e0)"
        " / (n_pos * 1e0 * n_neg) * 1000000e0, 0) END AS BIGINT)"
    )
    return agg.select(
        "n_pos", "n_neg", "r2_pos", F.expr(auc).alias("auc_micro")
    )


QUALITY_LR_AUC_SQL = f"""
WITH {_feats_ctes()},
{_round_ctes()},
scored AS (
  SELECT label,
         {_SCORE_SQL} AS score_micro
  FROM feats, w{LR_ROUNDS}
),
per_score AS (
  SELECT score_micro,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM scored
  GROUP BY score_micro
),
ranked AS (
  SELECT cnt, pos,
         CAST(2 * (1 + coalesce(SUM(cnt) OVER (ORDER BY score_micro
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
              + cnt - 1 AS BIGINT) AS r2
  FROM per_score
),
agg AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(cnt - pos) AS BIGINT) AS n_neg,
         CAST(SUM(pos * r2) AS BIGINT) AS r2_pos
  FROM ranked
)
SELECT n_pos, n_neg, r2_pos,
       CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL ELSE
            round((r2_pos * 1e0 / 2e0 - n_pos * 1e0 * (n_pos + 1e0) / 2e0)
            / (n_pos * 1e0 * n_neg) * 1000000e0, 0) END AS BIGINT)
         AS auc_micro
FROM agg
"""
