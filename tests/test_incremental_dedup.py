"""Semantic tests for the incremental dedup family on CONSTRUCTED
inputs — the oracle gate is blind to a bug implemented identically in
both engines (CLAUDE.md), so every verdict class is pinned here on
planted duplicates where the correct answer is known by construction."""

import pytest
from pyspark.sql import functions as F

from pdftotext_spark.operators import dedup

pytestmark = pytest.mark.spark

SF_DIR = "/root/testdata/sf0.001"

CORPUS = [
    (1, "old", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2, "old", "completely different corpus content nothing shared here at all"),
]
INCOMING = [
    # exact copy of corpus doc 1 → corpus_dup in both operators
    (10, "new", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    # twins 11/12: absent from the corpus → first-seen keeps, second drops
    (11, "new", "unique incoming text with its own words entirely fresh snow"),
    (12, "new", "unique incoming text with its own words entirely fresh snow"),
    # singleton → keep
    (13, "new", "another singleton nothing like anything else in any batch xyzzy"),
]


def _frames(spark):
    schema = "doc_id long, source string, text string"
    return (
        spark.createDataFrame(CORPUS, schema),
        spark.createDataFrame(INCOMING, schema),
    )


def test_incremental_exact_verdict_classes(spark):
    corpus, incoming = _frames(spark)
    got = {
        r.doc_id: r.verdict
        for r in dedup.incremental_exact_verdicts(corpus, incoming).collect()
    }
    assert got == {
        10: "corpus_dup",
        11: "keep",
        12: "batch_dup",
        13: "keep",
    }


def test_incremental_exact_emits_index_row(spark):
    """content_hash is the persisted index row for the next increment:
    it must be md5(text), identical for identical texts."""
    corpus, incoming = _frames(spark)
    rows = {
        r.doc_id: r.content_hash
        for r in dedup.incremental_exact_verdicts(corpus, incoming).collect()
    }
    assert rows[11] == rows[12]
    assert len(set(rows.values())) == 3  # 10, {11,12}, 13


def test_incremental_minhash_verdict_classes(spark):
    corpus, incoming = _frames(spark)
    got = {
        r.doc_id: (r.verdict, r.n_corpus_dups, r.n_batch_prior)
        for r in dedup.incremental_minhash_verdicts(
            corpus, incoming
        ).collect()
    }
    # identical text ⇒ identical signature ⇒ all 4 bands collide, so
    # these verdicts are deterministic, not probabilistic
    assert got[10] == ("corpus_dup", 1, 0)
    assert got[12] == ("batch_dup", 0, 1)
    assert got[11][0] == "keep"
    assert got[13][0] == "keep"


def test_incremental_minhash_greedy_rule_is_prior_id_only(spark):
    """The within-batch rule is greedy by lower doc_id: in a twin pair
    the LOWER id keeps even though it collides with the higher id —
    collisions only count against prior (smaller) ids."""
    corpus, incoming = _frames(spark)
    got = {
        r.doc_id: r.n_batch_prior
        for r in dedup.incremental_minhash_verdicts(
            corpus, incoming
        ).collect()
    }
    assert got[11] == 0  # twin 12 is NOT prior to 11
    assert got[12] == 1


def test_incremental_minhash_corpus_dup_wins_over_batch_dup(spark):
    """A doc colliding with both the corpus and a prior batch doc is
    classified corpus_dup (the corpus check is authoritative — the doc
    exists in the curated set regardless of batch ordering)."""
    schema = "doc_id long, source string, text string"
    text = "shared everywhere alpha beta gamma delta epsilon zeta eta"
    corpus = spark.createDataFrame([(1, "old", text)], schema)
    incoming = spark.createDataFrame(
        [(10, "new", text), (11, "new", text)], schema
    )
    got = {
        r.doc_id: r.verdict
        for r in dedup.incremental_minhash_verdicts(
            corpus, incoming
        ).collect()
    }
    assert got == {10: "corpus_dup", 11: "corpus_dup"}


def test_incremental_every_incoming_doc_emits_a_row(spark):
    """Empty-text docs still get a verdict row (the bigram_logloss
    zero-row lesson): the base frame left-joins the collision counts."""
    schema = "doc_id long, source string, text string"
    corpus = spark.createDataFrame([(1, "old", "corpus words here")], schema)
    incoming = spark.createDataFrame(
        [(10, "new", ""), (11, "new", "real text")], schema
    )
    ex = dedup.incremental_exact_verdicts(corpus, incoming)
    mh = dedup.incremental_minhash_verdicts(corpus, incoming)
    assert {r.doc_id for r in ex.collect()} == {10, 11}
    assert {r.doc_id for r in mh.collect()} == {10, 11}


def test_registered_queries_nonzero_and_split_consistent(spark):
    """The registered sf-dir wrappers: every incoming doc appears
    exactly once, no corpus doc leaks in, and the minhash gate is not
    trivially all-'keep' at the driver's scale."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    inc_ids = {
        r.doc_id
        for r in docs.filter(
            F.col("source") >= dedup.INCREMENTAL_SPLIT
        ).collect()
    }
    ex = dedup.dedup_incremental_exact(spark, SF_DIR).collect()
    mh = dedup.dedup_incremental_minhash(spark, SF_DIR).collect()
    assert {r.doc_id for r in ex} == inc_ids
    assert {r.doc_id for r in mh} == inc_ids
    assert any(r.verdict != "keep" for r in mh)


def test_batch_twin_matches_streaming_store_probe(spark, tmp_path):
    """Coherence pin: dedup_incremental_minhash's 'keep' set equals
    the streaming store-probe filter's survivors when the corpus is
    fed as micro-batch 0 and the increment as micro-batch 1 — the two
    implementations share signatures_for/bands_for and the greedy
    lower-key policy, and this test keeps them from drifting apart.
    (The corpus must be internally collision-free: the streaming store
    holds only batch-0 SURVIVOR bands, while the batch operator
    indexes every corpus doc — the documented semantic difference.)"""
    from pdftotext_spark.streaming.dedup import neardup_filter_batch

    corpus_rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "completely different corpus content nothing shared here at all"),
    ]
    incoming_rows = [
        (10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (11, "unique incoming text with its own words entirely fresh snow"),
        (12, "unique incoming text with its own words entirely fresh snow"),
        (13, "another singleton nothing like anything else in any batch xyzzy"),
    ]

    def as_stream_frame(rows):
        return spark.createDataFrame(
            [(f"{d:06d}", 0, t) for d, t in rows],
            "conv_id string, turn_idx int, text string",
        )

    out, store = str(tmp_path / "out"), str(tmp_path / "store")
    fn = neardup_filter_batch(out, store)
    fn(as_stream_frame(corpus_rows), 0)
    fn(as_stream_frame(incoming_rows), 1)
    survivors = {
        int(r.conv_id)
        for r in spark.read.parquet(f"{out}/batch_id=1").collect()
    }

    schema = "doc_id long, source string, text string"
    corpus = spark.createDataFrame(
        [(d, "old", t) for d, t in corpus_rows], schema
    )
    incoming = spark.createDataFrame(
        [(d, "new", t) for d, t in incoming_rows], schema
    )
    import pdftotext_spark.operators.dedup as dd

    keeps = {
        r.doc_id
        for r in dd.incremental_minhash_verdicts(corpus, incoming).collect()
        if r.verdict == "keep"
    }
    assert survivors == keeps == {11, 13}


def test_streaming_store_probe_raises_on_corrupt_store(spark, tmp_path):
    """A corrupt file in the band store fails the micro-batch instead
    of degrading the probe into a pass-everything filter, also when a
    good file of the same batch sorts first."""
    import os

    from pdftotext_spark.streaming.dedup import neardup_filter_batch

    def frame(rows):
        return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")

    out, store = str(tmp_path / "out"), str(tmp_path / "store")
    fn = neardup_filter_batch(out, store)
    fn(frame([("a", 0, "alpha beta gamma delta epsilon zeta eta theta")]), 0)
    with open(f"{store}/batch_id=0/part-99999-corrupt.snappy.parquet", "wb") as f:
        f.write(b"not a parquet file")
    assert os.path.exists(f"{out}/batch_id=0")
    with pytest.raises(Exception, match="not a Parquet file"):
        fn(frame([("b", 0, "unique incoming text with its own words")]), 1)
    assert not os.path.exists(f"{out}/batch_id=1")


def _py_sig(text: str) -> list:
    """Independent pure-Python replay of the sampled-shingle MinHash
    signature (md5 slices — engine-free), for randomized differential
    testing of the Spark implementation."""
    import hashlib

    L = dedup.SHINGLE_LEN
    n = max(len(text) - L + 1, 1)
    shingles = [text[i : i + L] for i in range(n)]
    kept = [
        sh
        for j, sh in enumerate(shingles)
        if j == 0
        or dedup.SHINGLE_KEEP16 >= 16
        or hashlib.md5(b"s:" + sh.encode()).hexdigest()[0] < dedup._KEEP_THR
    ]
    return [
        min(
            hashlib.md5(f"{'a' if k < 4 else 'b'}:{sh}".encode()).hexdigest()[
                8 * (k % 4) : 8 * (k % 4) + 8
            ]
            for sh in kept
        )
        for k in range(8)
    ]


def _py_bands(text: str) -> set:
    """Band rows derived from :func:`_py_sig` (band i = md5 of slice i
    of digest a concatenated with slice i of digest b)."""
    import hashlib

    hs = _py_sig(text)
    return {
        (i, hashlib.md5((hs[i] + hs[i + 4]).encode()).hexdigest())
        for i in range(4)
    }


def _py_agree(sig_a: list, sig_b: list) -> int:
    return sum(1 for x, y in zip(sig_a, sig_b) if x == y)


def test_incremental_minhash_matches_python_replay_randomized(spark):
    """Randomized differential: full verdict + count frames equal an
    independent pure-Python implementation of the same scheme on
    seeded random corpora with planted near-dups (catches bugs the
    DuckDB oracle shares — a third, structurally different engine)."""
    import random

    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    for seed in (11, 22, 33):
        rng = random.Random(seed)

        def doc():
            return " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 14)))

        corpus_rows = [(i, "old", doc()) for i in range(1, 21)]
        incoming_rows = []
        for i in range(50, 70):
            if rng.random() < 0.3:  # copy (possibly mutated) from corpus
                base = rng.choice(corpus_rows)[2]
                if rng.random() < 0.5:
                    base = base + " " + rng.choice(vocab)
                incoming_rows.append((i, "new", base))
            else:
                incoming_rows.append((i, "new", doc()))

        # pure-Python reference
        corpus_bands = {d: _py_bands(t) for d, _, t in corpus_rows}
        inc_bands = {d: _py_bands(t) for d, _, t in incoming_rows}
        expected = {}
        for d, _, _ in incoming_rows:
            nc = sum(1 for cb in corpus_bands.values() if inc_bands[d] & cb)
            nb = sum(
                1
                for d2, _, _ in incoming_rows
                if d2 < d and inc_bands[d] & inc_bands[d2]
            )
            verdict = (
                "corpus_dup" if nc else "batch_dup" if nb else "keep"
            )
            expected[d] = (nc, nb, verdict)

        schema = "doc_id long, source string, text string"
        got = {
            r.doc_id: (r.n_corpus_dups, r.n_batch_prior, r.verdict)
            for r in dedup.incremental_minhash_verdicts(
                spark.createDataFrame(corpus_rows, schema),
                spark.createDataFrame(incoming_rows, schema),
            ).collect()
        }
        assert got == expected, f"seed {seed}"


def test_incremental_pipeline_is_intersection_of_standalone_stages(spark):
    """The composed per-increment gate's admitted set must be EXACTLY
    the intersection of the standalone stage survivor sets (quality
    window ∩ exact-keep ∩ minhash-keep over the incoming split)."""
    from pdftotext_spark.operators import curation, textstats

    sf = SF_DIR
    got = {
        r.doc_id for r in curation.incremental_pipeline(spark, sf).collect()
    }
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    incoming = {
        r.doc_id
        for r in docs.filter(
            F.col("source") >= dedup.INCREMENTAL_SPLIT
        ).collect()
    }
    quality = {
        r.doc_id
        for r in docs.filter(textstats.qf_keep_predicate()).collect()
    }
    ex_keep = {
        r.doc_id
        for r in dedup.dedup_incremental_exact(spark, sf).collect()
        if r.verdict == "keep"
    }
    mh_keep = {
        r.doc_id
        for r in dedup.dedup_incremental_minhash(spark, sf).collect()
        if r.verdict == "keep"
    }
    assert got == (incoming & quality & ex_keep & mh_keep)
    assert got  # non-trivial at this scale


# ----------------------------------------- signature-verified variant


def _find_rejectable_pair(seed: int = 7):
    """Deterministic pure-Python search for a document pair that BAND-
    COLLIDES yet agrees on fewer than INCR_VERIFY_AGREE signature
    components — the false-positive class the verified variant exists
    to reject. Seeded → stable across runs; the scheme is md5-based so
    the search needs no engine."""
    import random

    vocab = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    ).split()
    rng = random.Random(seed)
    docs = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 20)))
        for _ in range(300)
    ]
    sigs = [_py_sig(t) for t in docs]
    bands = [_py_bands(t) for t in docs]
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            if docs[i] != docs[j] and (bands[i] & bands[j]):
                if _py_agree(sigs[i], sigs[j]) < dedup.INCR_VERIFY_AGREE:
                    return docs[i], docs[j]
    raise AssertionError("no rejectable pair found — widen the search")


def test_verified_rejects_band_collision_false_positive(spark):
    """A band collision whose signatures agree on < INCR_VERIFY_AGREE
    components must be a rejected candidate: the unverified operator
    calls it a dup, the verified one keeps it — with the rejection
    observable in (n_corpus_cands > 0, n_corpus_dups = 0)."""
    ta, tb = _find_rejectable_pair()
    schema = "doc_id long, source string, text string"
    corpus = spark.createDataFrame([(1, "old", ta)], schema)
    incoming = spark.createDataFrame([(10, "new", tb)], schema)
    unver = dedup.incremental_minhash_verdicts(corpus, incoming).collect()[0]
    ver = dedup.incremental_minhash_verified_verdicts(
        corpus, incoming
    ).collect()[0]
    assert unver.verdict == "corpus_dup"  # candidate-level FP
    assert ver.verdict == "keep"
    assert ver.n_corpus_cands == 1 and ver.n_corpus_dups == 0
    assert 0 < ver.best_corpus_agree < dedup.INCR_VERIFY_AGREE


def test_verified_exact_copy_has_full_agreement(spark):
    corpus, incoming = _frames(spark)
    got = {
        r.doc_id: r
        for r in dedup.incremental_minhash_verified_verdicts(
            corpus, incoming
        ).collect()
    }
    assert got[10].verdict == "corpus_dup"
    assert got[10].best_corpus_agree == dedup.N_MINHASH
    assert got[12].verdict == "batch_dup"
    assert got[11].verdict == "keep" and got[13].verdict == "keep"


def test_verified_candidates_equal_unverified_dups(spark):
    """Candidate generation is IDENTICAL to the unverified operator:
    per doc, verified.n_corpus_cands == unverified.n_corpus_dups and
    verified counts never exceed the candidate counts (verification
    only moves verdicts toward keep)."""
    sf = SF_DIR
    unver = {
        r.doc_id: r
        for r in dedup.dedup_incremental_minhash(spark, sf).collect()
    }
    ver = {
        r.doc_id: r
        for r in dedup.dedup_incremental_minhash_verified(
            spark, sf
        ).collect()
    }
    assert set(ver) == set(unver)
    for d, v in ver.items():
        u = unver[d]
        assert v.n_corpus_cands == u.n_corpus_dups
        assert v.n_batch_cands == u.n_batch_prior
        assert v.n_corpus_dups <= v.n_corpus_cands
        assert v.n_batch_prior <= v.n_batch_cands
        if u.verdict == "keep":
            assert v.verdict == "keep"


def test_verified_matches_python_replay_randomized(spark):
    """Randomized differential for the VERIFIED variant: full output
    frame equals an independent pure-Python replay (third engine —
    catches bugs the DuckDB oracle would share)."""
    import random

    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    for seed in (5, 17):
        rng = random.Random(seed)

        def doc():
            return " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 14)))

        corpus_rows = [(i, "old", doc()) for i in range(1, 21)]
        incoming_rows = []
        for i in range(50, 70):
            if rng.random() < 0.3:
                base = rng.choice(corpus_rows)[2]
                if rng.random() < 0.5:
                    base = base + " " + rng.choice(vocab)
                incoming_rows.append((i, "new", base))
            else:
                incoming_rows.append((i, "new", doc()))

        c_sig = {d: _py_sig(t) for d, _, t in corpus_rows}
        c_bands = {d: _py_bands(t) for d, _, t in corpus_rows}
        i_sig = {d: _py_sig(t) for d, _, t in incoming_rows}
        i_bands = {d: _py_bands(t) for d, _, t in incoming_rows}
        A = dedup.INCR_VERIFY_AGREE
        expected = {}
        for d, _, _ in incoming_rows:
            cc = [c for c in c_bands if i_bands[d] & c_bands[c]]
            bc = [
                d2
                for d2, _, _ in incoming_rows
                if d2 < d and i_bands[d] & i_bands[d2]
            ]
            ncd = sum(1 for c in cc if _py_agree(i_sig[d], c_sig[c]) >= A)
            nbp = sum(1 for p in bc if _py_agree(i_sig[d], i_sig[p]) >= A)
            best = max(
                (_py_agree(i_sig[d], c_sig[c]) for c in cc), default=0
            )
            verdict = "corpus_dup" if ncd else "batch_dup" if nbp else "keep"
            expected[d] = (len(cc), ncd, len(bc), nbp, best, verdict)

        schema = "doc_id long, source string, text string"
        got = {
            r.doc_id: (
                r.n_corpus_cands,
                r.n_corpus_dups,
                r.n_batch_cands,
                r.n_batch_prior,
                r.best_corpus_agree,
                r.verdict,
            )
            for r in dedup.incremental_minhash_verified_verdicts(
                spark.createDataFrame(corpus_rows, schema),
                spark.createDataFrame(incoming_rows, schema),
            ).collect()
        }
        assert got == expected, f"seed {seed}"


# ------------------------------------------------ shared banding layer


def test_bit_bands_splits_a_48_bit_value_into_12_bit_bands(spark):
    """Band i holds bits [12i, 12i+12) of the value, carry columns
    (names and aliased columns alike) come through unchanged, first."""
    df = spark.createDataFrame(
        [(7, "x", 0xABC_DEF_123_456), (8, "y", (1 << 48) - 1)],
        "doc_id long, tag string, bits long",
    )
    out = dedup.bit_bands(df, "bits", 4, 12, "doc_id", F.col("tag").alias("t"))
    assert out.columns == ["doc_id", "t", "band_idx", "band_bits"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (7, "x", 0, 0x456),
        (7, "x", 1, 0x123),
        (7, "x", 2, 0xDEF),
        (7, "x", 3, 0xABC),
        (8, "y", 0, 0xFFF),
        (8, "y", 1, 0xFFF),
        (8, "y", 2, 0xFFF),
        (8, "y", 3, 0xFFF),
    ]


def test_band_pairs_self_join_emits_each_planted_pair_once(spark):
    """Through the MinHash LSH self-join on constructed signatures
    (band i = md5(h_i || h_{i+4})): docs 1 and 2 share bands 0-2, doc
    5 shares band 0 with both, doc 3 shares band 3 with doc 2, and doc
    4's band 1 hashes the same string as docs 1/2's band 0 — a bucket
    match under a DIFFERENT band index, which is no collision.  Each
    pair comes out exactly once, as (lower id, higher id)."""
    base = ["a0", "a1", "a2", "a3", "b0", "b1", "b2", "b3"]

    def sig(doc_id, **over):
        h = dict(zip([f"h{k}" for k in range(8)], base))
        h.update(over)
        return (doc_id, *h.values())

    rows = [
        sig(1),
        sig(2, h3="c3", h7="d3"),
        sig(3, h0="e0", h1="e1", h2="e2", h3="c3", h7="d3"),
        sig(4, h0="f0", h1="a0", h2="f2", h3="f3", h5="b0"),
        sig(5, h1="g1", h2="g2", h3="g3"),
    ]
    frame = spark.createDataFrame(
        rows, "doc_id long, " + ", ".join(f"h{k} string" for k in range(8))
    )
    got = [tuple(r) for r in dedup._lsh_pairs_from_sig(frame).collect()]
    assert sorted(got) == [(1, 2), (1, 5), (2, 3), (2, 5)]


def test_band_pairs_cross_set_keeps_label_and_dedups(spark):
    """Cross-set probe with a non-band key in ``on``: ``label`` stays
    in the output, the band columns go, pairs need the same label AND
    band index AND bits, and src 1 / dst 10 (three shared bands) come
    out once.  The broadcast hint on the right side is kept."""
    schema = "label int, band_idx int, band_bits long, {} long"
    left = spark.createDataFrame(
        [(0, 0, 5, 1), (0, 1, 7, 1), (0, 2, 9, 1),
         (0, 0, 5, 2), (0, 1, 8, 2),
         (1, 0, 5, 3)],
        schema.format("src"),
    )
    right = spark.createDataFrame(
        [(0, 0, 5, 10), (0, 1, 7, 10), (0, 2, 9, 10),
         (1, 0, 5, 11), (1, 1, 7, 11),
         (0, 1, 5, 12)],
        schema.format("dst"),
    )
    out = dedup.band_pairs(
        left, F.broadcast(right), ["label", "band_idx", "band_bits"]
    )
    assert out.columns == ["label", "src", "dst"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (0, 1, 10), (0, 2, 10), (1, 3, 11),
    ]
