"""Semantics of the round-3 quality/sketch additions: Gopher
repetition signals (hand-checked values on a constructed doc), the
HLL distinct sketch (error bound vs the exact twin) and the Bloom
novelty probe (no false negatives; sane fp rate)."""

import pytest

from pdftotext_spark.operators import sketches, textstats

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


def test_repetition_signals_hand_checked(spark, tmp_path):
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["a a b", "x", "  "],  # doc 3: zero tokens
            "lang": ["en", "en", "en"],
            "source": ["src0", "src1", "src2"],
            "n_chars": [5, 1, 2],
        }
    )
    d = str(tmp_path)
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    rows = {
        r.doc_id: r for r in textstats.repetition_signals(spark, d).collect()
    }
    r1 = rows[1]  # tokens: a a b; bigrams: "a a", "a b"
    assert (r1.n_tokens, r1.n_distinct) == (3, 2)
    assert r1.dup_word_frac == pytest.approx(1 / 3)
    assert r1.top_token_frac == pytest.approx(2 / 3)
    assert r1.top_bigram_frac == pytest.approx(1 / 2)
    r2 = rows[2]  # single token: no repetition, no bigrams
    assert (r2.n_tokens, r2.n_distinct) == (1, 1)
    assert r2.dup_word_frac == 0.0
    assert r2.top_token_frac == 1.0
    assert r2.top_bigram_frac == 0.0
    r3 = rows[3]  # zero tokens: all signals 0, never NULL
    assert (r3.n_tokens, r3.n_distinct) == (0, 0)
    assert (r3.dup_word_frac, r3.top_token_frac, r3.top_bigram_frac) == (
        0.0, 0.0, 0.0,
    )
    # and the chunker emits NO chunk for it (not one empty chunk)
    chunks = textstats.chunk_documents(spark, d)
    assert chunks.filter("doc_id = 3").count() == 0
    assert chunks.filter("doc_id = 1").count() == 1


def test_repetition_signals_ranges(spark):
    rows = textstats.repetition_signals(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.dup_word_frac < 1
        assert 0 < r.top_token_frac <= 1
        assert 0 <= r.top_bigram_frac <= 1
        assert r.n_distinct <= r.n_tokens


def test_hll_tracks_exact_distinct(spark):
    row = sketches.hll_distinct(spark, SF).collect()[0]
    assert row.m == sketches.HLL_M
    # ~12k distinct items across 64 registers: every register is hit
    assert row.registers_hit == sketches.HLL_M
    assert row.exact_distinct > 1000
    rel_err = abs(row.est_distinct - row.exact_distinct) / row.exact_distinct
    # theoretical sigma = 1.04/sqrt(64) = 13%; allow 3 sigma
    assert rel_err < 0.4, (row.est_distinct, row.exact_distinct)


def test_bloom_no_false_negatives_and_sane_fp(spark):
    row = sketches.bloom_novelty(spark, SF).collect()[0]
    assert row.n_train > 0 and row.n_probe > 0
    # Bloom filters never miss a real member
    assert row.bloom_positives >= row.true_members
    assert row.false_positives >= 0
    assert row.bits_set <= min(sketches.BLOOM_BITS, row.n_train * sketches.BLOOM_K)
    # m=2^16 sized for ~10% fp at this corpus; 30% means the hash is broken
    assert row.fp_rate < 0.3


def test_chunk_documents_covers_every_token(spark):
    from pyspark.sql import functions as F

    chunks = textstats.chunk_documents(spark, SF)
    stats = chunks.groupBy("doc_id").agg(
        F.max("end_tok").alias("max_end"),
        F.min("start_tok").alias("min_start"),
        F.count("*").alias("n_chunks"),
    )
    toks = textstats.repetition_signals(spark, SF).select("doc_id", "n_tokens")
    joined = stats.join(toks, "doc_id")
    # full coverage: chunks start at token 1 and reach the last token
    assert joined.filter("min_start <> 1 OR max_end <> n_tokens").count() == 0
    # chunk_text token count == end - start + 1 (the slice is honest)
    bad = chunks.filter(
        F.size(F.split("chunk_text", " ")) != F.col("end_tok") - F.col("start_tok") + 1
    )
    assert bad.count() == 0


def test_stratified_sample_is_deterministic_k_per_stratum(spark):
    a = sorted(map(tuple, textstats.stratified_sample(spark, SF).collect()))
    b = sorted(map(tuple, textstats.stratified_sample(spark, SF).collect()))
    assert a == b and a
    from collections import Counter

    per_src = Counter(r[0] for r in a)
    assert all(v <= textstats.SAMPLE_PER_STRATUM for v in per_src.values())
    ranks = {r[3] for r in a}
    assert ranks == set(range(1, max(per_src.values()) + 1))


def test_knn_graph_neighbors_are_sane(spark):
    from pdftotext_spark.operators import similarity

    g = similarity.knn_graph_srp(spark, SF).collect()
    assert g
    by_src = {}
    for r in g:
        assert r.vec_id != r.neighbor_id
        assert -1.0 <= r.cosine <= 1.0
        by_src.setdefault(r.vec_id, []).append(r)
    for rows in by_src.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= similarity.KNN_K
        # ranks follow the rounded cosine descending
        cosines = [r.cosine for r in rows]
        assert cosines == sorted(cosines, reverse=True)


def test_kmeans_ivf_recall_vs_exact(spark):
    from pdftotext_spark.operators import similarity

    exact = [r.vec_id for r in similarity.cosine_topk(spark, SF).collect()]
    rows = similarity.kmeans_ivf_topk(spark, SF).collect()
    approx = [r.vec_id for r in rows]
    assert approx, "probe lists should not be empty"
    # IVF with n_probe=2 of 8 clusters: expect meaningful overlap with
    # the exact top-k (not a guarantee — pin a floor, not equality)
    overlap = len(set(exact) & set(approx)) / len(exact)
    assert overlap >= 0.3, (exact, approx)
    # every returned neighbour must come from a probed cluster (at
    # most n_probe distinct clusters appear) and never be the query
    assert len({r.cluster for r in rows}) <= similarity.KM_PROBE
    assert similarity.QUERY_VEC_ID not in approx


def _write_semdedup_fixture(spark, tmp_path, dim=16, noise=0.05):
    """Constructed embedding corpus for the SemDeDup tests: four
    well-separated direction groups (within-group pairs are strong
    near-dups), a planted A/B pair in group 0 where A sits on the
    centroid mass and B is tilted away (pair cosine ~0.89, lower
    centroid-cos), and two orthogonal loners that pair with nothing.
    The oversized-cluster routing test passes dim=SRP_DIM (the band
    planes are 64-wide) with tighter noise to keep the centroid-cos
    margins clear."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for g in range(4):
        base = np.zeros(dim)
        base[g] = 1.0
        for _ in range(6):
            v = base + rng.normal(scale=noise, size=dim)
            rows.append((vid, 0, [float(x) for x in v]))
            vid += 1
    a = np.zeros(dim)
    a[0] = 1.0
    b = 0.9 * a
    b[1] = 0.45
    rows.append((100, 0, [float(x) for x in a]))
    rows.append((200, 0, [float(x) for x in b]))
    for loner_dim, loner_id in ((5, 300), (6, 400)):
        v = np.zeros(dim)
        v[loner_dim] = 1.0
        rows.append((loner_id, 0, [float(x) for x in v]))
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    return rows


def test_semdedup_constructed_keep_rule(spark, tmp_path):
    """Hand-checked SemDeDup semantics (the parity gate is blind to a
    keep-rule inversion implemented identically in both engines):
    replay the within-cluster pair scan + the paper's keep rule
    (FARTHEST-from-centroid survives, smaller vec_id on ties) in pure
    Python against the engine's own cluster/centroid_cos outputs and
    require an exact kept/dropped/n_neighbors match on every vector —
    plus a planted pair where the member closer to its centroid is
    the one dropped."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from pdftotext_spark.operators import similarity

    rows = _write_semdedup_fixture(spark, tmp_path)

    out = {
        r.vec_id: r
        for r in similarity.semdedup(spark, str(tmp_path)).collect()
    }
    assert len(out) == len(rows)

    # independent Python replay; float32 storage then double math,
    # strict left-to-right accumulation (the JVM fold order)
    emb = {
        r[0]: np.array(r[2], dtype=np.float32).astype(np.float64)
        for r in rows
    }

    def seqdot(x, y):
        acc = 0.0
        for i in range(len(x)):
            acc += x[i] * y[i]
        return acc

    def cos4(x, y):
        c = seqdot(x, y) / (
            math.sqrt(seqdot(x, x)) * math.sqrt(seqdot(y, y))
        )
        # Spark ROUND on doubles goes through the shortest-repr
        # decimal, HALF_UP
        return float(
            Decimal(repr(c)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        )

    clusters: dict[int, list[int]] = {}
    for v, r in out.items():
        clusters.setdefault(r.cluster, []).append(v)
    nbrs = {v: 0 for v in emb}
    beaten = {v: False for v in emb}
    for vids in clusters.values():
        svids = sorted(vids)
        for i, va in enumerate(svids):
            for vb in svids[i + 1 :]:
                if cos4(emb[va], emb[vb]) < similarity.SEMDEDUP_EPS:
                    continue
                nbrs[va] += 1
                nbrs[vb] += 1
                # exactly one side loses: a iff b ranks strictly
                # better (lower centroid-cos); tie -> smaller id wins
                if out[vb].centroid_cos < out[va].centroid_cos:
                    beaten[va] = True
                else:
                    beaten[vb] = True
    for v in emb:
        assert out[v].n_neighbors == nbrs[v], v
        assert out[v].is_kept == (not beaten[v]), v

    # planted semantics: same cluster, B farther from centroid, so A
    # (the one CLOSER to its centroid) is dropped and B survives
    assert out[100].cluster == out[200].cluster
    assert out[200].centroid_cos < out[100].centroid_cos
    assert not out[100].is_kept
    assert out[200].is_kept
    # loners never pair, always kept
    for loner_id in (300, 400):
        assert out[loner_id].n_neighbors == 0 and out[loner_id].is_kept
    # the gate is non-trivial both ways
    kept = [r.is_kept for r in out.values()]
    assert any(kept) and not all(kept)


def test_repetition_and_chunking_match_python_model(spark, tmp_path):
    """Differential check on 200 seeded random docs: the zero-shuffle
    array-expression plans must agree exactly with a direct Python
    reimplementation of the Gopher signals and the chunk math."""
    import random

    import pandas as pd

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(12)]
    texts = []
    for _ in range(200):
        n = rng.randint(1, 120)
        # mix in runs to exercise repetition fractions
        toks = []
        while len(toks) < n:
            w = rng.choice(vocab)
            toks.extend([w] * rng.randint(1, 4))
        texts.append(" ".join(toks[:n]))
    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": [f"src{i % 5}" for i in range(len(texts))],
            "n_chars": [len(t) for t in texts],
        }
    )
    d = str(tmp_path)
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )

    from collections import Counter

    def model_signals(text):
        toks = [t for t in text.lower().split(" ") if t]
        n = len(toks)
        dis = len(set(toks))
        top = max(Counter(toks).values())
        bigs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        topb = max(Counter(bigs).values()) if bigs else 0
        return (
            n,
            dis,
            (n - dis) / max(n, 1),
            top / max(n, 1),
            topb / max(n - 1, 1),
        )

    got = {
        r.doc_id: (
            r.n_tokens,
            r.n_distinct,
            r.dup_word_frac,
            r.top_token_frac,
            r.top_bigram_frac,
        )
        for r in textstats.repetition_signals(spark, d).collect()
    }
    for i, t in enumerate(texts):
        exp = model_signals(t)
        assert got[i][:2] == exp[:2], (i, got[i], exp)
        for g, e in zip(got[i][2:], exp[2:]):
            assert g == pytest.approx(e), (i, got[i], exp)

    W, S = textstats.CHUNK_W, textstats.CHUNK_S

    def model_chunks(text):
        toks = [t for t in text.lower().split(" ") if t]
        n = len(toks)
        if n == 0:
            return []
        n_chunks = 1 if n <= W else 1 + -(-(n - W) // S)
        out = []
        for c in range(n_chunks):
            s = c * S
            out.append((c, " ".join(toks[s : s + W]), s + 1, min(s + W, n)))
        return out

    chunks = {}
    for r in textstats.chunk_documents(spark, d).collect():
        chunks.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.chunk_text, r.start_tok, r.end_tok)
        )
    for i, t in enumerate(texts):
        exp = model_chunks(t)
        assert sorted(chunks.get(i, [])) == sorted(exp), (i, t)


def test_duplicated_span_fraction_hand_checked(spark, tmp_path):
    """Two docs sharing one 8-char run and a fully-unique doc: the
    ExactSubstr coverage math is checkable by hand (8 of 16 chars
    covered -> 0.5; unique doc -> 0.0)."""
    import pandas as pd

    from pdftotext_spark.operators import dedup

    texts = [
        "XXXXXXXXqwertyui",  # dup run at chars 1-8
        "zcvbnmkXXXXXXXXp",  # dup run at chars 8-15
        "abdefghijlmnopqr",  # no 8-gram occurs twice anywhere
        "abc",  # shorter than a shingle: no 8-gram exists
        "abc",  # ... even when the short text itself is duplicated
    ]
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": texts,
            "lang": ["en"] * 5,
            "source": ["src0"] * 5,
            "n_chars": [len(t) for t in texts],
        }
    )
    d = str(tmp_path)
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    rows = {
        r.doc_id: r
        for r in dedup.duplicated_span_fraction(spark, d).collect()
    }
    assert rows[1].text_len == 16 and rows[1].dup_chars == 8
    assert rows[1].dup_frac == pytest.approx(0.5)
    assert rows[2].dup_chars == 8 and rows[2].dup_frac == pytest.approx(0.5)
    assert rows[3].dup_chars == 0 and rows[3].dup_frac == 0.0
    # sub-shingle docs can never exceed full coverage (the truncated-
    # shingle overshoot bug): no 8-gram -> zero, not 8/3
    for i in (4, 5):
        assert rows[i].dup_chars == 0 and rows[i].dup_frac == 0.0
    assert all(0.0 <= r.dup_frac <= 1.0 for r in rows.values())


def test_quantile_sketch_bounds_true_quantiles(spark):
    """DDSketch guarantee at gamma=2: the sketch quantile is within
    one bucket (a factor of 2) of the true quantile, and the bucket
    table is internally consistent."""
    rows = [
        r.asDict()
        for r in sketches.value_quantile_sketch(spark, SF).collect()
    ]
    assert rows
    rows.sort(key=lambda r: r["bucket"])
    total = rows[-1]["cum_cnt"]
    assert total == sum(r["cnt"] for r in rows)
    for r in rows:
        assert r["hi"] == 2 * r["lo"]

    import duckdb

    # rank ORDER STATISTIC (quantile_disc), not quantile_cont: the
    # sketch's bound is against the ranked value — interpolation can
    # land between buckets on gapped distributions
    exact = duckdb.sql(
        f"SELECT quantile_disc(value, 0.5), quantile_disc(value, 0.95) "
        f"FROM read_parquet('{SF}/events.parquet') WHERE value > 0"
    ).fetchone()
    for q, true_q in zip((0.5, 0.95), exact):
        est = sketches.qsketch_quantile(rows, q)
        # upper-bound estimate: the ranked value sits inside the
        # chosen bucket, so hi/2 <= true <= hi (small rounding slack)
        assert est / 2 <= true_q * 1.05 and true_q <= est * 1.05, (
            q, est, true_q,
        )


def test_bigram_logloss_hand_checked(spark, tmp_path):
    """Constructed corpus with hand-computable probabilities: tokens
    a,b,a,b,a,c -> cnt(a)=3,b=2,c=1,total=6; bigrams (a,b)x2,(a,c)x1.
    'a b' scores (-log2(3/6) - log2(2/3))/2; 'a c' pays the rarer
    continuation -log2(1/3) and must score strictly higher. Doc 4 is
    all-whitespace: it must still emit a row with n_tokens=0 and
    logloss_bits=0 (ADVICE r5 — the groupBy dropped it and the
    oracle was identically blind)."""
    import math

    import pandas as pd

    from pdftotext_spark.operators import textstats

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["a b", "a b", "a c", "   "],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [3, 3, 3, 3],
        }
    )
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    rows = {
        r.doc_id: r
        for r in textstats.bigram_logloss(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    assert {rows[d].n_tokens for d in (1, 2, 3)} == {2}
    ab = (-math.log2(3 / 6) - math.log2(2 / 3)) / 2
    ac = (-math.log2(3 / 6) - math.log2(1 / 3)) / 2
    assert rows[1].logloss_bits == pytest.approx(ab, abs=1e-5)
    assert rows[2].logloss_bits == pytest.approx(ab, abs=1e-5)
    assert rows[3].logloss_bits == pytest.approx(ac, abs=1e-5)
    assert rows[3].logloss_bits > rows[1].logloss_bits
    assert rows[4].n_tokens == 0 and rows[4].logloss_bits == 0.0
    # the unigram twin got the same fix — zero-token row present
    uni = {
        r.doc_id: r
        for r in textstats.unigram_logloss(spark, str(tmp_path)).collect()
    }
    assert uni[4].n_tokens == 0 and uni[4].logloss_bits == 0.0


def test_semdedup_oversized_cluster_routes_srp(spark, tmp_path, monkeypatch):
    """Clusters above EXACT_BUCKET_CAP leave the chunked all-pairs
    path for SRP band candidates + exact rescoring (the
    cosine_neardup_pairs hybrid). On the strong-near-dup fixture the
    band collision probability is ~1, so the routed run must produce
    the IDENTICAL keep/drop/n_neighbors output as the exact run —
    same fixture, same deterministic KMeans, only the pair-candidate
    generator differs."""
    from pdftotext_spark.operators import similarity

    _write_semdedup_fixture(
        spark, tmp_path, dim=similarity.SRP_DIM, noise=0.02
    )
    exact = {
        r.vec_id: (r.cluster, r.centroid_cos, r.n_neighbors, r.is_kept)
        for r in similarity.semdedup(spark, str(tmp_path)).collect()
    }
    assert exact
    # the gate is non-trivial: the fixture has both kept and dropped
    kept_flags = {v[3] for v in exact.values()}
    assert kept_flags == {True, False}

    monkeypatch.setattr(similarity, "EXACT_BUCKET_CAP", 4)
    # VERDICT r5: the low-eps routed branch must be OBSERVABLE — a
    # warning carrying the computed band recall bound, not a silent
    # keep-more degradation (SEMDEDUP_EPS 0.30 < the 0.7 tuned floor)
    with pytest.warns(UserWarning, match=r"semdedup.*recall bound is ~0\.2"):
        routed = {
            r.vec_id: (r.cluster, r.centroid_cos, r.n_neighbors, r.is_kept)
            for r in similarity.semdedup(spark, str(tmp_path)).collect()
        }
    assert routed == exact
    # and eps at/above the tuned range stays silent
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")
        similarity._warn_routed_low_eps("semdedup", 0.86)


def test_dsir_select_constructed_ranking(spark, tmp_path):
    """Hand-checked DSIR semantics: with a target source whose vocab
    is disjoint from the bulk's, every target-vocab document must get
    a positive log importance weight, every bulk-vocab document a
    negative one, and the top-N selection must take all target-vocab
    docs first then fill by doc_id tie-break — computed WITHOUT
    replaying floats (margin-based), so the test is independent of
    both engines' log arithmetic."""
    import pandas as pd

    from pdftotext_spark.operators import textstats

    tgt_text = "qq ww ee rr qq ww"
    bulk_text = "aa bb cc dd aa bb"
    rows = []
    # 10 target docs (source 'a' = MIN(source) -> the target domain)
    for i in range(10):
        rows.append((i, tgt_text, "en", "a", len(tgt_text)))
    # 120 bulk docs written in the TARGET vocab (should be selected)
    for i in range(100, 220):
        rows.append((i, tgt_text, "en", "z", len(tgt_text)))
    # 120 bulk docs in the bulk vocab (negative weight)
    for i in range(300, 420):
        rows.append((i, bulk_text, "en", "z", len(bulk_text)))
    # one zero-token doc: must be EMITTED with weight 0, not dropped
    rows.append((500, "  ", "en", "z", 2))
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    out = {
        r.doc_id: r
        for r in textstats.dsir_select(spark, str(tmp_path)).collect()
    }
    assert len(out) == 251
    # the empty doc: weight log2(1) = 0 (equally likely under both
    # LMs) -> ranks above every negative-weight doc here
    assert out[500].n_tokens == 0
    assert out[500].logweight_bits == 0.0
    assert out[500].selected
    tgt_ids = set(range(10)) | set(range(100, 220))
    bulk_ids = set(range(300, 420))
    # DSIR weights are relative (smoothing shifts the absolute level):
    # every target-vocab doc must strictly outrank every bulk-vocab doc
    tgt_lw = {out[d].logweight_bits for d in tgt_ids}
    bulk_lw = {out[d].logweight_bits for d in bulk_ids}
    assert min(tgt_lw) > max(bulk_lw)
    for d in tgt_ids:
        assert out[d].n_tokens == 6
    # identical content -> identical weight within each group
    assert len({out[d].logweight_bits for d in tgt_ids}) == 1
    assert len({out[d].logweight_bits for d in bulk_ids}) == 1
    # top-200: the zero-token doc (weight 0 — ranks first HERE because
    # every non-empty doc's weight is negative in this smoothed
    # fixture; in general 0 sits between the sign groups), all 130
    # target-vocab docs, then the 69 smallest bulk doc_ids on the
    # tie-break
    expected_sel = {500} | tgt_ids | set(sorted(bulk_ids)[:69])
    got_sel = {d for d, r in out.items() if r.selected}
    assert got_sel == expected_sel
    assert len(got_sel) == textstats.DSIR_SELECT_N


def test_mix_weights_hand_checked(spark, tmp_path):
    """Temperature mixing on a 90/10 token split: p = (0.9, 0.1),
    q proportional to sqrt(p) -> (0.75, 0.25), oversample (0.8333...,
    2.5) — the XLM-R upsampling of the low-resource source."""
    import pandas as pd

    from pdftotext_spark.operators import textstats

    rows = []
    # source 'big': 9 docs x 10 tokens = 90; 'small': 1 doc x 10 = 10
    for i in range(9):
        rows.append((i, " ".join(["tok"] * 10), "en", "big", 40))
    rows.append((99, " ".join(["tok"] * 10), "en", "small", 40))
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    out = {
        r.source: r
        for r in textstats.mix_weights(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"big", "small"}
    assert out["big"].n_tokens == 90 and out["small"].n_tokens == 10
    assert out["big"].p_raw == 0.9 and out["small"].p_raw == 0.1
    assert abs(out["big"].weight - 0.75) < 1e-6
    assert abs(out["small"].weight - 0.25) < 1e-6
    assert abs(out["big"].oversample - 0.833333) < 1e-5
    assert abs(out["small"].oversample - 2.5) < 1e-6
    # weights are a distribution
    assert abs(out["big"].weight + out["small"].weight - 1.0) < 1e-9


def test_ssl_prototypes_constructed(spark, tmp_path):
    """Hand-checked prototypicality pruning (Sorscher et al. 2022):
    replay the per-cluster rank + floor-threshold keep rule in pure
    Python from the engine's own (cluster, centroid_cos) outputs and
    require an exact rank/n/is_kept match on every vector; the
    planted pure-base vector A — the most prototypical member of its
    cluster — must be dropped while the tilted B survives."""
    import math

    from pdftotext_spark.operators import similarity

    rows = _write_semdedup_fixture(spark, tmp_path)
    out = {
        r.vec_id: r
        for r in similarity.ssl_prototypes(spark, str(tmp_path)).collect()
    }
    assert len(out) == len(rows)

    by_cluster: dict[int, list] = {}
    for r in out.values():
        by_cluster.setdefault(r.cluster, []).append(r)
    for members in by_cluster.values():
        members.sort(key=lambda r: (-r.centroid_cos, r.vec_id))
        n = len(members)
        drop = math.floor(n * similarity.PROTO_DROP_FRAC)
        for i, r in enumerate(members, 1):
            assert r.proto_rank == i, r
            assert r.n_cluster == n, r
            assert r.is_kept == (i > drop), r

    # planted semantics: A (no noise-norm penalty) is the cluster's
    # most prototypical member -> dropped; B is tilted away -> kept
    assert out[100].proto_rank == 1
    assert not out[100].is_kept
    assert out[200].is_kept
    flags = {r.is_kept for r in out.values()}
    assert flags == {True, False}


def test_bpe_learn_merges_matches_reference_python(spark, tmp_path):
    """Hand-checked BPE training: an independent pure-Python
    implementation of the Sennrich et al. 2016 loop (overlapping
    adjacent pair counts weighted by word frequency, argmax with the
    count-DESC/left-ASC/right-ASC total order, leftmost
    non-overlapping merge application) must produce the IDENTICAL
    merge table — rank, symbols, merged token, and pair count. The
    fixture plants a repeated-char run ('zzzz') to pin the
    overlap-counting and leftmost-application semantics."""
    import pandas as pd

    from pdftotext_spark.operators import textstats

    vocab = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "zzzz": 4}
    rows = []
    did = 0
    for w, n in vocab.items():
        # spread each word's occurrences over two docs
        rows.append((did, " ".join([w] * (n // 2 + n % 2)), "en", "a", 1))
        did += 1
        if n // 2:
            rows.append((did, " ".join([w] * (n // 2)), "en", "b", 1))
            did += 1
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    def ref_bpe(words, k):
        seqs = {w: list(w) for w in words}
        merges = []
        for _ in range(k):
            stats = {}
            for w, f in words.items():
                s = seqs[w]
                for i in range(len(s) - 1):
                    stats[(s[i], s[i + 1])] = (
                        stats.get((s[i], s[i + 1]), 0) + f
                    )
            if not stats:
                break
            (a, b), c = sorted(
                stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )[0]
            merges.append((a, b, a + b, c))
            for w in seqs:
                s = seqs[w]
                out = []
                i = 0
                while i < len(s):
                    if i < len(s) - 1 and s[i] == a and s[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                seqs[w] = out
        return merges, seqs

    expected, final_seqs = ref_bpe(vocab, textstats.BPE_MERGE_ROUNDS)
    got = sorted(
        (
            (r.merge_rank, r.left_sym, r.right_sym, r.merged, r.pair_count)
            for r in textstats.bpe_learn_merges(
                spark, str(tmp_path)
            ).collect()
        )
    )
    assert got == [
        (i + 1, a, b, m, c) for i, (a, b, m, c) in enumerate(expected)
    ]
    # the run word exercised overlap semantics: (z,z) counts 3 per
    # occurrence before any merge
    assert any(r[1] == "z" and r[2] == "z" for r in got)

    # apply side: the compression stats must match the reference's
    # final tokenized sequences exactly
    stats = textstats.bpe_apply_stats(spark, str(tmp_path)).collect()
    assert len(stats) == 1
    s = stats[0]
    assert s.n_words == len(vocab)
    assert s.n_word_occurrences == sum(vocab.values())
    chars_total = sum(f * len(w) for w, f in vocab.items())
    tokens_after = sum(f * len(final_seqs[w]) for w, f in vocab.items())
    assert s.chars_total == chars_total
    assert s.tokens_after == tokens_after
    assert s.chars_per_token == round(chars_total / tokens_after, 6)
    assert s.tokens_after < s.chars_total  # the merges actually compress


def test_bpe_exhaustion_keeps_vocab(spark, tmp_path):
    """Pair exhaustion before BPE_MERGE_ROUNDS must stop emitting
    merges WITHOUT destroying the vocabulary (the empty-argmax cross
    join bug class — review r5: the DuckDB twin collapsed identically,
    so the parity gate was blind). Corpus of one two-char word:
    round 1 merges (a,b), every later round finds no pairs. Both
    engines are checked on the same fixture."""
    import duckdb
    import pandas as pd

    from pdftotext_spark.operators import textstats

    pdf = pd.DataFrame(
        [(0, "ab ab ab", "en", "a", 8), (1, "ab", "en", "b", 2)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    merges = textstats.bpe_learn_merges(spark, str(tmp_path)).collect()
    assert [
        (r.merge_rank, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in sorted(merges)
    ] == [(1, "a", "b", "ab", 4)]

    s = textstats.bpe_apply_stats(spark, str(tmp_path)).collect()[0]
    # 4 occurrences of 'ab': 8 chars -> 4 single tokens after merge 1
    assert (
        s.n_words,
        s.n_word_occurrences,
        s.chars_total,
        s.tokens_after,
        s.chars_per_token,
    ) == (1, 4, 8, 4, 2.0)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    duck_merges = con.execute(textstats.BPE_LEARN_MERGES_SQL).fetchall()
    assert duck_merges == [(1, "a", "b", "ab", 4)]
    duck_stats = con.execute(textstats.BPE_APPLY_STATS_SQL).fetchone()
    assert duck_stats == (1, 4, 8, 4, 2.0)

    # per-doc budget: doc 0 has 3 'ab' occurrences (3 tokens after the
    # merge), doc 1 has one — both engines
    per_doc = {
        r.doc_id: (r.n_words, r.bpe_tokens, r.n_chars_tok, r.chars_per_token)
        for r in textstats.bpe_doc_tokens(spark, str(tmp_path)).collect()
    }
    assert per_doc == {0: (3, 3, 6, 2.0), 1: (1, 1, 2, 2.0)}
    duck_per_doc = {
        r[0]: tuple(r[1:])
        for r in con.execute(textstats.BPE_DOC_TOKENS_SQL).fetchall()
    }
    assert duck_per_doc == per_doc


def _naive_bpe(vocab: dict, k: int):
    """The independent reference Sennrich loop (full per-round recount
    + argmax + leftmost application) — quadratic, used only as the
    equality pin for the incremental driver-side trainer. Returns the
    merges and each word's final symbol sequence."""
    seqs = {w: list(w) for w in vocab}
    merges = []
    for rank in range(1, k + 1):
        stats = {}
        for w, f in vocab.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                stats[(s[i], s[i + 1])] = stats.get((s[i], s[i + 1]), 0) + f
        if not stats:
            break
        (a, b), c = sorted(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        merges.append((rank, a, b, a + b, c))
        for w in seqs:
            s = seqs[w]
            out, i = [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges, seqs


def test_bpe_driver_trainer_equals_naive_reference_1000_merges():
    """VERDICT r5 #6: the production-shape driver-side trainer
    (incremental pair counts + lazy max-heap) must be bit-for-bit the
    naive per-round recount at n=1000 merges on a realistic-size
    vocabulary — including the repeated-char words that pin overlap
    counting and leftmost application, and long shared prefixes that
    force deep merge chains. The final per-word sequences, which feed
    bpe_apply_stats and bpe_doc_tokens, must equal the reference's
    too. No Spark: this pins the trainer itself."""
    import hashlib

    from pdftotext_spark.operators.textstats import _train_bpe_driver

    vocab: dict[str, int] = {}
    for i in range(1200):
        w = hashlib.md5(f"bpe:{i}".encode()).hexdigest()[:10]
        vocab[w] = (i % 17) + 1
    vocab["zzzzzzzz"] = 40           # overlap-counting pin
    vocab["ababababab"] = 33         # alternating leftmost pin
    expected, expected_seqs = _naive_bpe(vocab, 1000)
    word_freqs = sorted(vocab.items())
    got, seqs = _train_bpe_driver(word_freqs, 1000)
    assert len(got) == 1000          # vocabulary big enough to sustain
    assert got == expected
    assert any(m[1] == "z" and m[2] == "z" for m in got)
    assert seqs == [expected_seqs[w] for w, _ in word_freqs]


def test_bpe_driver_trainer_exhaustion_and_empty():
    from pdftotext_spark.operators.textstats import _train_bpe_driver

    # exhaustion: 'ab' merges once, then no pairs remain
    assert _train_bpe_driver([("ab", 4)], 10) == (
        [(1, "a", "b", "ab", 4)],
        [["ab"]],
    )
    # single-char words have no pairs at all
    assert _train_bpe_driver([("a", 9), ("b", 3)], 5) == ([], [["a"], ["b"]])
    assert _train_bpe_driver([], 5) == ([], [])


def test_bpe_merges_driver_prefix_equals_unrolled_duckdb(spark):
    """The driver trainer against an independent engine on the real
    fixture: the first BPE_MERGE_ROUNDS rows of bpe_merges_driver, and
    all of bpe_learn_merges, equal DuckDB's unrolled CTE replay of the
    same loop (BPE_LEARN_MERGES_SQL) exactly. The 32-round oracle
    replay is exercised by the parity mirror."""
    import duckdb

    sf = "/root/testdata/sf0.001"

    def merges(df):
        return sorted(
            (r.merge_rank, r.left_sym, r.right_sym, r.merged, r.pair_count)
            for r in df.collect()
        )

    driver = [
        m
        for m in merges(textstats.bpe_merges_driver(spark, sf))
        if m[0] <= textstats.BPE_MERGE_ROUNDS
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    unrolled = sorted(con.execute(textstats.BPE_LEARN_MERGES_SQL).fetchall())
    assert driver == unrolled and len(driver) == textstats.BPE_MERGE_ROUNDS
    assert merges(textstats.bpe_learn_merges(spark, sf)) == unrolled


def test_bpe_driver_max_words_cap_is_deterministic(spark, tmp_path):
    """max_words keeps the TOP-frequency words with a word-ASC
    tie-break: training on the capped vocab equals training on the
    same cap computed by hand."""
    import pandas as pd

    from pdftotext_spark.operators.textstats import (
        _train_bpe_driver,
        bpe_learn_merges_driver,
    )

    vocab = {"aaxx": 9, "bbxx": 9, "ccxx": 5, "ddyy": 3, "eeyy": 1}
    rows = [
        (i, " ".join([w] * f), "s")
        for i, (w, f) in enumerate(vocab.items())
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_learn_merges_driver(
            spark, str(tmp_path), n_merges=50, max_words=3
        ).collect()
    ]
    capped = {w: f for w, f in vocab.items() if w in ("aaxx", "bbxx", "ccxx")}
    assert sorted(got) == _train_bpe_driver(sorted(capped.items()), 50)[0]


def test_trigram_logloss_python_replay(spark, tmp_path):
    """Independent pure-Python replay of the Jelinek-Mercer trigram
    interpolation (third engine — the DuckDB oracle shares the SQL
    shape, so a formula bug could pass parity): exact equality on the
    micro-bit-rounded per-doc means, zero-token rows present, and the
    semantic direction pin — a doc whose trigram continuation is the
    corpus-majority one scores strictly lower than its rare-branch
    sibling."""
    import math
    from collections import Counter

    import pandas as pd

    from pdftotext_spark.operators import textstats

    texts = {
        1: "a b c d",
        2: "a b c d",
        3: "a b c e",  # rare trigram branch (b,c)->e vs majority ->d
        4: "b c d a b",
        5: "   ",  # zero tokens — must still emit a row
        6: "c",  # single token — unigram-only position
    }
    docs = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts.values()],
        }
    )
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )

    toks = {d: [w for w in t.lower().split(" ") if w] for d, t in texts.items()}
    uni = Counter(w for a in toks.values() for w in a)
    total = sum(uni.values())
    bi = Counter(
        (a[i - 1], a[i]) for a in toks.values() for i in range(1, len(a))
    )
    tri = Counter(
        (a[i - 2], a[i - 1], a[i])
        for a in toks.values()
        for i in range(2, len(a))
    )

    def micro(p: float) -> int:
        # HALF_UP like Spark's F.round / DuckDB ROUND, on the exact
        # binary double (floor(x+0.5) misrounds the .4999…94 class)
        import decimal

        return int(
            decimal.Decimal(-math.log2(p) * 1_000_000).quantize(
                decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
            )
        )

    L3, L2, L1 = (
        textstats.TRIGRAM_L3,
        textstats.TRIGRAM_L2,
        textstats.TRIGRAM_L1,
    )
    l2n, l1n = L2 / (L2 + L1), L1 / (L2 + L1)
    expected = {}
    for d, a in toks.items():
        losses = []
        for i, w in enumerate(a):
            if i == 0:
                p = uni[w] / total
            elif i == 1:
                p = l2n * (bi[(a[0], w)] / uni[a[0]]) + l1n * (uni[w] / total)
            else:
                p = (
                    L3 * (tri[(a[i - 2], a[i - 1], w)] / bi[(a[i - 2], a[i - 1])])
                    + L2 * (bi[(a[i - 1], w)] / uni[a[i - 1]])
                    + L1 * (uni[w] / total)
                )
            losses.append(micro(p))
        expected[d] = (
            len(a),
            (sum(losses) / len(losses)) / 1_000_000.0 if losses else 0.0,
        )

    rows = {
        r.doc_id: (r.n_tokens, r.logloss_bits)
        for r in textstats.trigram_logloss(spark, str(tmp_path)).collect()
    }
    assert set(rows) == set(expected)
    for d in expected:
        assert rows[d][0] == expected[d][0], d
        assert rows[d][1] == pytest.approx(expected[d][1], abs=1e-12), d
    assert rows[5] == (0, 0.0)
    # majority continuation (docs 1/2) beats the rare branch (doc 3)
    assert rows[1][1] < rows[3][1]
    assert rows[1] == rows[2]


def test_zipf_fit_exact_power_law(spark, tmp_path):
    """A corpus built as an EXACT power law (token k occurs 120/k
    times for k | 120) must fit slope = -1 with r2 = 1 (to the 1e-4
    ln-rounding and 4dp output)."""
    import pandas as pd

    from pdftotext_spark.operators import textstats

    toks = []
    for k, w in enumerate(["t1", "t2", "t3", "t4", "t5", "t6"], start=1):
        toks += [w] * (120 // k)
    docs = pd.DataFrame(
        {
            "doc_id": [1],
            "text": [" ".join(toks)],
            "lang": ["en"],
            "source": ["s"],
            "n_chars": [1],
        }
    )
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    r = textstats.zipf_fit(spark, str(tmp_path)).collect()[0]
    assert r.n_types == 6 and r.n_tokens == 120 + 60 + 40 + 30 + 24 + 20
    assert r.slope == pytest.approx(-1.0, abs=2e-4)
    assert r.r2 == pytest.approx(1.0, abs=2e-4)
    assert r.intercept == pytest.approx(__import__("math").log(120), abs=2e-4)


def test_zipf_fit_python_replay(spark, tmp_path):
    """Independent pure-Python replay with the identical integer
    convention (third engine): exact equality on all five outputs."""
    import math
    import random
    from collections import Counter

    import pandas as pd

    from pdftotext_spark.operators import textstats

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(40)]
    texts = [
        " ".join(rng.choices(vocab, weights=[1 / (i + 1) for i in range(40)],
                             k=rng.randint(10, 80)))
        for _ in range(30)
    ]
    docs = pd.DataFrame(
        {
            "doc_id": range(1, 31),
            "text": texts,
            "lang": ["en"] * 30,
            "source": ["s"] * 30,
            "n_chars": [len(t) for t in texts],
        }
    )
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    cnt = Counter(w for t in texts for w in t.lower().split(" ") if w)
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    S = textstats.ZIPF_SCALE

    def ival(v: float) -> int:
        import decimal

        # HALF_UP on the exact binary double, as Spark/DuckDB round()
        return int(
            decimal.Decimal(v * S).quantize(
                decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
            )
        )

    xs = [ival(math.log(r + 1)) for r in range(len(ranked))]
    ys = [ival(math.log(c)) for _, c in ranked]
    n = float(len(ranked))
    x = float(sum(xs)) / float(S)
    y = float(sum(ys)) / float(S)
    xy = float(sum(a * b for a, b in zip(xs, ys))) / (float(S) * S)
    xx = float(sum(a * a for a in xs)) / (float(S) * S)
    yy = float(sum(b * b for b in ys)) / (float(S) * S)
    cov, varx, vary = n * xy - x * y, n * xx - x * x, n * yy - y * y
    r = textstats.zipf_fit(spark, str(tmp_path)).collect()[0]
    assert r.n_types == len(ranked)
    assert r.n_tokens == sum(cnt.values())
    assert r.slope == round(cov / varx, 4)
    assert r.intercept == round((y - (cov / varx) * x) / n, 4)
    assert r.r2 == round((cov * cov) / (varx * vary), 4)


def test_perplexity_buckets_hand_checked(spark, tmp_path):
    """Constructed corpus: 6 English docs with strictly ordered
    loglosses -> exactly 2 head / 2 middle / 2 tail in logloss order;
    coherence with the standalone trigram_logloss pinned doc-by-doc."""
    import pandas as pd

    from pdftotext_spark.operators import textstats

    # distinct repeated-phrase rates give strictly different loglosses
    texts = {
        1: "the cat sat the cat sat the cat sat the cat sat",
        2: "the cat sat the cat sat the cat sat on a mat",
        3: "the cat sat on a mat and the dog ran away",
        4: "a dog ran far away from the old stone house",
        5: "quick zebras vault the mossy fjords while gnomes watch",
        6: "jagged quartz vexing the nymphs blow zephyr dust everywhere",
    }
    docs = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * 6,
            "source": ["s"] * 6,
            "n_chars": [len(t) for t in texts.values()],
        }
    )
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    rows = {
        r.doc_id: r
        for r in textstats.perplexity_buckets(spark, str(tmp_path)).collect()
    }
    assert len(rows) == 6
    ll = {
        r.doc_id: r.logloss_bits
        for r in textstats.trigram_logloss(spark, str(tmp_path)).collect()
    }
    for d, r in rows.items():
        assert r.logloss_bits == ll[d]
    order = sorted(rows, key=lambda d: (rows[d].logloss_bits, d))
    # single language -> thirds over the full set
    assert {r.pred_lang for r in rows.values()} == {"en"}
    assert [rows[d].bucket for d in order] == [
        "head", "head", "middle", "middle", "tail", "tail",
    ]
