"""Constructed-input semantics for BM25 retrieval
(operators/retrieval.py): a pure-Python Okapi replay (the third
engine the DuckDB-parity blindness can't fool — same discipline as
test_incremental_dedup), plus the monotonicity properties the formula
must satisfy. The DuckDB value twin runs in test_oracle_parity."""

import math


def _dec_rh(x: float) -> int:
    """SQL round(x, 0) half-away-from-zero on the exact binary double
    (floor(x + 0.5) differs on the 0.49999999999999994 class)."""
    import decimal

    return int(
        decimal.Decimal(x).quantize(
            decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
        )
    )


import pytest
from pyspark.sql import Row

from pdftotext_spark.operators import retrieval

pytestmark = pytest.mark.spark


def _frame(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def _py_bm25(texts):
    """Independent replay of the shared score expression: identical
    literals, identical operation order, half-up integer micro-round
    (SQL round(); Python's round() is banker's)."""
    terms = retrieval.BM25_QUERY_TERMS
    toks = [[w for w in t.lower().split(" ") if w] for t in texts]
    n_docs = len(toks)
    sum_dl = sum(len(a) for a in toks)
    df = {t: sum(1 for a in toks if t in a) for t in terms}
    out = []
    for i, a in enumerate(toks):
        dl = len(a)
        score = 0
        for t in terms:
            tf = a.count(t)
            if tf > 0:
                idf = math.log(
                    1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5)
                )
                norm = tf + 1.2 * (0.25 + 0.75 * (dl * 1.0 * n_docs) / sum_dl)
                score += _dec_rh(idf * (tf * 2.2) / norm * 1e6)
        out.append((i, dl, score))
    out.sort(key=lambda r: (-r[2], r[0]))
    return out[: retrieval.BM25_TOPK]


def test_bm25_pure_python_replay(spark):
    texts = [
        "spark window join spark",
        "the quick brown fox jumps over the window",
        "join join join and nothing else in here",
        "no query terms at all",
        "spark " + "filler " * 40 + "join",
        "window",
        "spark window join",  # identical tf vector, shorter than 0
    ]
    got = [
        (r.doc_id, r.dl, r.bm25_micro)
        for r in retrieval.bm25_topk_for(_frame(spark, texts)).collect()
    ]
    assert got == _py_bm25(texts)


def test_bm25_semantics(spark):
    texts = [
        "spark alpha beta gamma",            # tf(spark)=1
        "spark spark alpha beta",            # tf(spark)=2, same dl
        "spark alpha beta gamma delta eps",  # tf=1, longer doc
        "alpha beta gamma delta",            # no terms -> 0
    ]
    rows = {
        r.doc_id: r
        for r in retrieval.bm25_topk_for(_frame(spark, texts)).collect()
    }
    assert rows[3].bm25_micro == 0  # term-free doc scores exactly 0
    assert rows[1].bm25_micro > rows[0].bm25_micro  # tf monotone
    assert rows[0].bm25_micro > rows[2].bm25_micro  # dl-normalized
    assert rows[0].tf_spark == 1 and rows[1].tf_spark == 2
    # all-zero tf columns for terms absent from the corpus
    assert rows[0].tf_window == 0 and rows[0].tf_join == 0


def test_bm25_tiebreak_and_limit(spark):
    # 15 identical docs: identical scores, top-10 by doc_id ascending
    texts = ["spark common words here"] * 15
    got = [
        r.doc_id
        for r in retrieval.bm25_topk_for(_frame(spark, texts)).collect()
    ]
    assert got == list(range(retrieval.BM25_TOPK))


def test_bm25_rarer_term_outscores_common(spark):
    # 'join' in 1 of 6 docs, 'window' in 5 of 6: at equal tf and dl
    # the rare term must contribute more (the IDF core of BM25)
    texts = (
        ["join alpha beta gamma"]
        + ["window alpha beta gamma"] * 5
    )
    rows = {
        r.doc_id: r.bm25_micro
        for r in retrieval.bm25_topk_for(_frame(spark, texts)).collect()
    }
    assert rows[0] > rows[1]


def _indexed(spark, texts, k=retrieval.BM25_TOPK):
    postings, stats = retrieval.bm25_index_for(_frame(spark, texts))
    return retrieval.bm25_topk_indexed_for(postings, stats, k=k).collect()


def test_bm25_indexed_equals_bruteforce(spark):
    """The inverted-index path must produce the SAME ranked list with
    the SAME integer micro scores as the brute-force scan whenever >= k
    documents contain a query term (identical per-(doc, term) rounded
    contributions, different grouping order only)."""
    texts = [
        f"spark {'filler ' * (i % 7)}join window doc{i}" for i in range(12)
    ] + ["join only here", "window window twice"]
    brute = [
        (r.doc_id, r.bm25_micro)
        for r in retrieval.bm25_topk_for(_frame(spark, texts)).collect()
    ]
    ix = [(r.doc_id, r.bm25_micro) for r in _indexed(spark, texts)]
    assert ix == brute


def test_bm25_indexed_candidates_only(spark):
    """Documented semantic difference: the index ranks only documents
    containing >= 1 query term — no zero-score padding rows."""
    texts = ["spark alpha", "no terms at all", "also none", "join beta"]
    rows = _indexed(spark, texts)
    assert sorted(r.doc_id for r in rows) == [0, 3]
    assert all(r.bm25_micro > 0 for r in rows)
    assert all(r.n_terms == 1 for r in rows)


def test_bm25_indexed_n_terms_counts_distinct_matches(spark):
    texts = ["spark join window", "spark spark spark", "join window"]
    rows = {r.doc_id: r.n_terms for r in _indexed(spark, texts)}
    assert rows == {0: 3, 1: 1, 2: 2}


def test_bm25_index_shape(spark):
    """Posting-list layout: one row per (term, doc_id), tf counted,
    dl denormalized; the stats row counts ALL docs including
    zero-token ones (must match the brute-force corpus stats)."""
    postings, stats = retrieval.bm25_index_for(
        _frame(spark, ["spark spark join", "  ", "alpha spark"])
    )
    p = {(r.term, r.doc_id): (r.tf, r.dl) for r in postings.collect()}
    assert p[("spark", 0)] == (2, 3) and p[("join", 0)] == (1, 3)
    assert p[("spark", 2)] == (1, 2) and p[("alpha", 2)] == (1, 2)
    assert all(r.doc_id != 1 for r in postings.collect())
    s = stats.collect()[0]
    assert (s.n_docs, s.sum_dl) == (3, 5)


def test_bm25_corpus_fixture_nondegenerate(spark, sf_dir):
    """Registration invariant: the fixed benchmark query must produce
    a full, non-constant top-k on the synthetic corpus."""
    rows = retrieval.bm25_topk(spark, sf_dir).collect()
    assert len(rows) == retrieval.BM25_TOPK
    assert rows[0].bm25_micro > 0
    assert len({r.bm25_micro for r in rows}) > 1


# --- hybrid retrieval (RRF fusion + dense rerank) -------------------


def _emb_frame(spark, vecs):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )


def _py_cos(a, b):
    """Sequential-order cosine, 4dp half-up — the shared formula."""
    dot = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    na = 0.0
    for x in a:
        na += float(x) * float(x)
    nb = 0.0
    for y in b:
        nb += float(y) * float(y)
    c = dot / (math.sqrt(na) * math.sqrt(nb))
    import decimal

    return float(
        decimal.Decimal(c).quantize(
            decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _py_hybrid(texts, vecs):
    """Pure-Python replay of hybrid_rrf_topk: corpus = ids != 0 in
    both modalities; lexical = indexed BM25 (docs containing >= 1
    query term), dense = 4dp cosine vs vec 0; rank by (-score, id),
    pools of RRF_POOL; rrf contribution = half-up round of
    1e6/(60+r)."""
    terms = retrieval.BM25_QUERY_TERMS
    ids = [i for i in range(len(texts)) if i != 0]
    toks = {i: [w for w in texts[i].lower().split(" ") if w] for i in ids}
    n_docs = len(ids)
    sum_dl = sum(len(a) for a in toks.values())
    df = {t: sum(1 for a in toks.values() if t in a) for t in terms}
    lex_scores = {}
    for i in ids:
        a = toks[i]
        dl = len(a)
        s = 0
        for t in terms:
            tf = a.count(t)
            if tf > 0:
                idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
                norm = tf + 1.2 * (0.25 + 0.75 * (dl * 1.0 * n_docs) / sum_dl)
                s += _dec_rh(idf * (tf * 2.2) / norm * 1e6)
        if s > 0:
            lex_scores[i] = s
    lex_order = sorted(lex_scores, key=lambda i: (-lex_scores[i], i))
    lex_rank = {i: r + 1 for r, i in enumerate(lex_order[: retrieval.RRF_POOL])}
    cos = {i: _py_cos(vecs[i], vecs[0]) for i in ids}
    cos_order = sorted(ids, key=lambda i: (-cos[i], i))
    cos_rank = {i: r + 1 for r, i in enumerate(cos_order[: retrieval.RRF_POOL])}

    def rrf(r):
        return int(math.floor(1e6 / (60.0 + r) + 0.5))

    fused = []
    for i in set(lex_rank) | set(cos_rank):
        s = (rrf(lex_rank[i]) if i in lex_rank else 0) + (
            rrf(cos_rank[i]) if i in cos_rank else 0
        )
        fused.append((i, lex_rank.get(i, 0), cos_rank.get(i, 0), s))
    fused.sort(key=lambda r: (-r[3], r[0]))
    return fused[: retrieval.RRF_TOPK]


_HY_TEXTS = [
    "spark window join query doc zero",   # id 0 = the query doc (excluded)
    "spark spark window alpha beta",
    "join gamma delta",
    "no terms here at all",
    "window join spark epsilon",
    "spark " + "pad " * 20,
    "zeta eta theta iota",
    "window window kappa",
]
_HY_VECS = [
    [1.0, 0.0, 0.2],
    [0.9, 0.1, 0.2],    # high cosine
    [0.1, 1.0, 0.0],    # low
    [0.8, 0.05, 0.3],   # high cosine, NO query terms
    [0.0, 0.2, 1.0],
    [0.5, 0.5, 0.5],
    [1.0, 0.05, 0.15],  # highest cosine, no terms either
    [0.2, 0.9, 0.1],
]


def test_hybrid_rrf_pure_python_replay(spark):
    got = [
        (r.doc_id, r.lex_rank, r.cos_rank, r.rrf_micro)
        for r in retrieval.hybrid_rrf_topk_for(
            _frame(spark, _HY_TEXTS), _emb_frame(spark, _HY_VECS)
        ).collect()
    ]
    assert got == _py_hybrid(_HY_TEXTS, _HY_VECS)


def test_hybrid_excludes_query_row_and_fuses_both(spark):
    rows = retrieval.hybrid_rrf_topk_for(
        _frame(spark, _HY_TEXTS), _emb_frame(spark, _HY_VECS)
    ).collect()
    by_id = {r.doc_id: r for r in rows}
    assert 0 not in by_id  # the query's own row never surfaces
    # id 6: dense-only (no query terms) — lex_rank must be 0, rrf from
    # the cosine list alone; id 6 has the highest cosine => cos_rank 1
    assert by_id[6].lex_rank == 0 and by_id[6].cos_rank == 1
    assert by_id[6].rrf_micro == round(1e6 / 61)
    # every doc with a query term made the (small) lexical pool
    assert by_id[2].lex_rank > 0 and by_id[2].cos_rank > 0
    # a doc in BOTH lists outscores the same ranks taken singly
    both = [r for r in rows if r.lex_rank > 0 and r.cos_rank > 0]
    assert both, "fixture must exercise genuine fusion"


def test_hybrid_rank1_both_lists_tops(spark):
    # a doc that is rank 1 lexically AND rank 1 densely must be the
    # overall RRF winner (2/61 > any other achievable score)
    texts = ["q", "spark spark spark window join", "spark alpha", "beta"]
    vecs = [[1.0, 0.0], [0.99, 0.01], [0.0, 1.0], [0.5, 0.5]]
    rows = retrieval.hybrid_rrf_topk_for(
        _frame(spark, texts), _emb_frame(spark, vecs)
    ).collect()
    assert rows[0].doc_id == 1
    assert rows[0].lex_rank == 1 and rows[0].cos_rank == 1
    assert rows[0].rrf_micro == 2 * round(1e6 / 61)


def test_rerank_candidates_and_order(spark):
    rows = retrieval.bm25_rerank_cosine_for(
        _frame(spark, _HY_TEXTS), _emb_frame(spark, _HY_VECS)
    ).collect()
    ids = [r.doc_id for r in rows]
    # candidates come from the lexical pool only: term-free docs
    # (3, 6) and the query row (0) can never appear
    assert not {0, 3, 6} & set(ids)
    # reranked by cosine, not by BM25
    cosines = [r.cosine for r in rows]
    assert cosines == sorted(cosines, reverse=True)
    # lex_rank is the BM25 rank within the candidate pool (1-based,
    # dense over the pool): a permutation of 1..n
    assert sorted(r.lex_rank for r in rows) == list(range(1, len(rows) + 1))
    # id 1 has the highest cosine among term-bearing docs -> first
    assert ids[0] == 1


def test_hybrid_corpus_fixture_nondegenerate(spark, sf_dir):
    rows = retrieval.hybrid_rrf_topk(spark, sf_dir).collect()
    assert len(rows) == retrieval.RRF_TOPK
    assert len({r.rrf_micro for r in rows}) > 1
    # the fixture genuinely fuses: some doc is in both lists
    assert any(r.lex_rank > 0 and r.cos_rank > 0 for r in rows)


def test_rerank_corpus_fixture_nondegenerate(spark, sf_dir):
    rows = retrieval.bm25_rerank_cosine(spark, sf_dir).collect()
    assert len(rows) == retrieval.RERANK_TOPK
    assert len({r.cosine for r in rows}) > 1
    assert all(r.bm25_micro > 0 for r in rows)


def test_bm25_batch_matches_single_query_paths(spark):
    """Each query in the batch must produce EXACTLY the rows the
    single-query indexed path produces for that query alone (same
    postings, same k) — the one-pass evaluation changes the scan
    count, never the math. A query whose terms are all corpus-absent
    emits no rows (candidate semantics); a term shared by two queries
    scores identically in both."""
    texts = [
        "spark window join spark window",
        "join join window stream",
        "stream filter batch filter",
        "vector hash vector",
        "plain filler words only here",
        "window",
    ]
    queries = (
        ("qa", ("spark", "join")),
        ("qb", ("join", "window")),   # 'join' shared with qa
        ("qd", ("filter", "stream", "filter")),  # duplicated term
        ("qc", ("absentterm",)),      # no postings at all
    )
    df = retrieval.bm25_batch_topk_for(_frame(spark, texts), queries=queries, k=3)
    rows = df.collect()
    assert not [r for r in rows if r.query_id == "qc"]
    # a duplicated term counts once, as in the single-query isin()
    assert max(r.n_terms for r in rows if r.query_id == "qd") == 2
    # the oracle's VALUES rows dedup the same way
    assert retrieval._batch_values_sql(queries[2:3]) == (
        "('qd', 'filter'), ('qd', 'stream')"
    )
    postings, stats = retrieval.bm25_index_for(_frame(spark, texts))
    for qid, terms in queries[:3]:
        single = [
            (r.doc_id, r.n_terms, r.bm25_micro)
            for r in retrieval.bm25_topk_indexed_for(
                postings, stats, terms=terms, k=3
            ).collect()
        ]
        got = [
            (r.doc_id, r.n_terms, r.bm25_micro)
            for r in sorted(rows, key=lambda r: r.q_rank)
            if r.query_id == qid
        ]
        assert got == single and 1 <= len(got) <= 3
    # ranks are contiguous from 1 within each query
    for qid in ("qa", "qb", "qd"):
        ranks = sorted(r.q_rank for r in rows if r.query_id == qid)
        assert ranks == list(range(1, len(ranks) + 1))
