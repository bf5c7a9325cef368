"""Physical-plan assertions: the plans we ship are the plans we want
(broadcasts broadcast, filters push down, top-k avoids global sort).
These guard against regressions that stay correct but stop scaling."""

import pytest

from pdftotext_spark.operators import dedup, relational, similarity

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_segment_revenue_broadcasts_dimension(spark):
    plan = _plan(relational.segment_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the big (orders) side must NOT go through a shuffle exchange for
    # the join itself
    assert "SortMergeJoin" not in plan


def test_containment_filter_pushed_to_scan(spark):
    plan = _plan(relational.containment_capture(spark, SF))
    assert "PushedFilters:" in plan
    # quantity bounds reach the parquet reader
    assert "GreaterThanOrEqual(l_quantity,10.0" in plan.replace(" ", "")


def test_containment_scan_prunes_columns(spark):
    plan = _plan(relational.containment_capture(spark, SF))
    read_schema = plan.split("ReadSchema:")[-1].splitlines()[0]
    assert "l_quantity" in read_schema and "l_extendedprice" in read_schema
    # untouched wide columns must not be read
    assert "l_shipdate" not in read_schema and "l_partkey" not in read_schema


def test_topk_uses_take_ordered(spark):
    plan = _plan(relational.fragment_sort_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan  # no global sort materialized


def test_cosine_topk_broadcasts_query_vector(spark):
    plan = _plan(similarity.cosine_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_jaccard_broadcasts_candidates(spark):
    plan = _plan(dedup.ngram_jaccard_pairs(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_range_join_tiers_has_no_join_node(spark):
    # static tiers compile to a map-side CASE projection
    from pdftotext_spark.operators import temporal

    plan = _plan(temporal.range_join_tiers(spark, SF))
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_simhash_neardup_is_banded_equi_join(spark):
    # pigeonhole banding: an equi-join on (band_idx, band_bits), never
    # a cartesian / nested-loop pair generator
    plan = _plan(dedup.simhash_neardup_pairs(spark, SF))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_knn_graph_and_fused_cc_never_cartesian(spark):
    # r4 additions keep the family invariant: candidates only ever
    # come from banded equi-joins
    from pdftotext_spark.operators import similarity

    plan = _plan(similarity.knn_graph_srp(spark, SF))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    plan = _plan(dedup.dedup_groups_multi(spark, SF))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def _knn_band_structs():
    """One (band_idx, band_bits) struct per band, band key computed
    directly from its 4 planes (no 64-bit pack — bit 63 would overflow
    a signed long): the Catalyst expression ``_knn_band_keys_pd``
    replaced, kept as its differential twin."""
    from pyspark.sql import functions as F

    out = []
    for i in range(similarity.KNN_SRP_BANDS):
        key = None
        for j in range(similarity.KNN_SRP_BAND_BITS):
            plane = similarity._KNN_PLANES_LITERALS[
                i * similarity.KNN_SRP_BAND_BITS + j
            ]
            arr = F.array(*[F.lit(x) for x in plane])
            bit = (
                F.when(similarity._dot(F.col("embedding"), arr) > 0, F.lit(1 << j))
                .otherwise(F.lit(0))
            )
            key = bit if key is None else key + bit
        out.append(
            F.struct(
                F.lit(i).alias("band_idx"), key.cast("long").alias("band_bits")
            )
        )
    return out


def test_knn_numpy_band_keys_equal_expression_twin(spark):
    """Differential twin for the r5 numpy band-key rewrite (the perf-
    rewrite twin rule): the Arrow-batched sequential-accumulation keys
    must equal the Catalyst ``_knn_band_structs`` expression keys
    bit-for-bit — the oracle replays the expression semantics, so any
    divergence here is an oracle break, not a tuning choice."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    via_np = emb.mapInPandas(
        similarity._knn_band_keys_pd,
        "vec_id long, band_idx int, band_bits long",
    )
    via_expr = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.explode(F.array(*_knn_band_structs())).alias("b"),
    ).select("vec_id", F.col("b.band_idx").cast("int").alias("band_idx"), "b.band_bits")
    assert via_np.exceptAll(via_expr).count() == 0
    assert via_expr.exceptAll(via_np).count() == 0
    assert via_np.count() == emb.count() * similarity.KNN_SRP_BANDS


def test_knn_numpy_pair_cosine_equals_hof_dot(spark):
    """Differential twin for the numpy candidate-pair cosine: the
    sequential-accumulation value must match the JVM zip_with +
    aggregate fold exactly (raw doubles compared — no rounding to
    hide ulps behind)."""
    from pyspark.sql import functions as F

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding")
        .withColumn("nrm", similarity._norm(F.col("embedding")))
        .limit(60)
    )
    a = emb.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    pairs = a.join(b, F.col("src") < F.col("dst"))
    via_np = {
        (r.src, r.dst): r.cosine_raw
        for r in pairs.mapInPandas(
            similarity._pair_cosine_pd, "src long, dst long, cosine_raw double"
        ).collect()
    }
    hof = similarity._dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    via_expr = {
        (r.src, r.dst): r.c
        for r in pairs.select("src", "dst", hof.alias("c")).collect()
    }
    assert len(via_np) == len(via_expr) > 1000
    assert all(via_np[k] == via_expr[k] for k in via_expr)


def test_cosine_neardup_chunked_equals_naive(spark, monkeypatch):
    # force multi-chunk buckets (CHUNK_SIZE 8 « bucket sizes) and check
    # the bounded chunk-pair join emits exactly the naive bucketed
    # join's pair set
    from pyspark.sql import functions as F

    monkeypatch.setattr(similarity, "CHUNK_SIZE", 8)
    chunked = {
        (r.vec_a, r.vec_b, r.label, r.cosine)
        for r in similarity.cosine_neardup_pairs(spark, SF).collect()
    }
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a, b = emb.alias("a"), emb.alias("b")
    cos = similarity._dot(F.col("a.embedding"), F.col("b.embedding")) / (
        similarity._norm(F.col("a.embedding")) * similarity._norm(F.col("b.embedding"))
    )
    naive = {
        (r.vec_a, r.vec_b, r.label, r.cosine)
        for r in a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").cast("long").alias("vec_a"),
            F.col("b.vec_id").cast("long").alias("vec_b"),
            F.col("a.label").cast("int").alias("label"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= similarity.NEARDUP_THRESHOLD)
        .collect()
    }
    assert chunked == naive and len(naive) > 0


def _write_skewed_embeddings(tmp_path, spark, n_big=240, n_small=30):
    """One oversized label (0) built as ~n_big/4 clusters of 4 noisy
    copies (real near-dups for SRP to find) plus a small label (1)."""
    import numpy as np

    rng = np.random.default_rng(42)
    rows = []
    vid = 0
    for c in range(n_big // 4):
        center = rng.normal(size=64)
        center /= np.linalg.norm(center)
        for _ in range(4):
            v = center + rng.normal(scale=0.02, size=64)
            rows.append((vid, 0, [float(x) for x in v]))
            vid += 1
    for _ in range(n_small):
        v = rng.normal(size=64)
        rows.append((vid, 1, [float(x) for x in v]))
        vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_cosine_neardup_oversized_bucket_routes_srp(spark, tmp_path, monkeypatch):
    """VERDICT r4 §next #4: labels above EXACT_BUCKET_CAP leave the
    chunked all-pairs path for SRP band candidates. On a constructed
    oversized bucket of genuine near-dup clusters: (a) the candidate
    set is subquadratic in the bucket size, (b) every emitted pair
    carries the EXACT cosine (subset of the naive join's rows), and
    (c) the strong near-dup pairs (cluster siblings, cosine ≫
    threshold) are all found — band collision probability ≈ 1 there."""
    from pyspark.sql import functions as F

    sf_dir = _write_skewed_embeddings(tmp_path, spark)
    monkeypatch.setattr(similarity, "EXACT_BUCKET_CAP", 100)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    big = emb.filter("label = 0").withColumn(
        "nrm", similarity._norm(F.col("embedding"))
    )
    n_big = big.count()
    cand = similarity._srp_label_candidates(big)
    n_cand = cand.count()
    assert n_cand < (n_big * (n_big - 1) // 2) * 0.5  # subquadratic

    got = similarity.cosine_neardup_pairs(spark, sf_dir).collect()
    by_pair = {(r.vec_a, r.vec_b): (r.label, r.cosine) for r in got}
    assert len(by_pair) == len(got)  # no duplicate emissions

    # naive exact reference over BOTH labels
    a, b = emb.alias("a"), emb.alias("b")
    cos = similarity._dot(F.col("a.embedding"), F.col("b.embedding")) / (
        similarity._norm(F.col("a.embedding"))
        * similarity._norm(F.col("b.embedding"))
    )
    naive = {
        (r.vec_a, r.vec_b): (r.label, r.cosine)
        for r in a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").cast("long").alias("vec_a"),
            F.col("b.vec_id").cast("long").alias("vec_b"),
            F.col("a.label").cast("int").alias("label"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= similarity.NEARDUP_THRESHOLD)
        .collect()
    }
    # (b) exact values, subset semantics
    assert set(by_pair) <= set(naive)
    assert all(by_pair[k] == naive[k] for k in by_pair)
    # (c) the engineered cluster-sibling pairs are all recovered
    strong = {k for k, (_, c) in naive.items() if c >= 0.9}
    assert strong and strong <= set(by_pair)
    # the small label ran the exact path: every naive label-1 pair out
    small_naive = {k for k, (lbl, _) in naive.items() if lbl == 1}
    assert {k for k, (lbl, _) in by_pair.items() if lbl == 1} == small_naive


def test_asof_window_equals_pandas_merge_asof(spark):
    # two independent implementations of the as-of join must agree
    # row-for-row (JVM window carry-forward vs pd.merge_asof)
    from pdftotext_spark.operators import temporal

    jvm = {
        tuple(r) for r in temporal.asof_join_events(spark, SF).collect()
    }
    pdx = {
        tuple(r) for r in temporal.asof_join_events_pandas(spark, SF).collect()
    }
    assert jvm == pdx and len(jvm) > 0


def test_asof_join_is_python_free(spark):
    from pdftotext_spark.operators import temporal

    plan = _plan(temporal.asof_join_events(spark, SF))
    assert "FlatMapGroupsInPandas" not in plan and "EvalPython" not in plan


def test_no_cartesian_product_in_any_registered_query(spark):
    """Registry-wide guard: no queries() entry may plan a
    CartesianProduct, ever (BroadcastNestedLoopJoin is tolerated only
    for single-row broadcast sides like cosine_topk's query vector).
    This is the class of regression that stays correct at sf0.01 and
    melts at 100 TB."""
    import __spark_entry__ as entrymod

    offenders = []
    for name, fn in sorted(entrymod.queries().items()):
        plan = _plan(fn(spark, SF))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == []


def test_dsir_select_plan_shape(spark):
    """DSIR must rank its top-N on TakeOrderedAndProject (never a
    global window / global sort) and join the constant-key bucket
    counts back broadcast (never a shuffled SortMergeJoin)."""
    from pdftotext_spark.operators import textstats

    plan = _plan(textstats.dsir_select(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_aggregations_are_partial(spark):
    # map-side combine: two HashAggregate levels around the exchange
    plan = _plan(relational.pricing_summary(spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan.lower() or "partial" in plan


def test_winnowing_pairs_scan_positions_once(spark):
    """r6: winnowing_shared_pairs runs ONE corpus-sized position
    explode (count-window df guard + bounded in-bucket pair explode)
    — the old df-groupBy + join-back + fp self-join re-ran it per
    subtree (measured 2 Generate nodes, no ReusedExchange) and is the
    same defect class as the ExactSubstr double scan below. The
    'Generate explode' node is the bounded pair fan-out, not a second
    corpus scan; no join operator appears at all."""
    plan = _plan(dedup.winnowing_shared_pairs(spark, SF))
    assert plan.count("Generate posexplode") == 1
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join not in plan


def test_exactsubstr_islands_scan_positions_once(spark):
    """VERDICT r5 #2: the ExactSubstr positional-shingle frame is the
    biggest frame in the system (one row per character position,
    whole corpus, unsampled). The old groupBy("sh") + left_semi form
    scanned and exploded it TWICE (differently-projected Exchange
    subtrees — ReusedExchange can never collapse them); the count
    window form must show exactly ONE posexplode Generate in the
    metric plan; the apply side materializes the slim merged-span
    frame before its two consumers, so its final plan has ZERO (the
    one scan ran inside the checkpoint job)."""
    plan = _plan(dedup.duplicated_span_fraction(spark, SF))
    assert plan.count("Generate posexplode") == 1
    # duplicate marking stays a window, not a re-join of the frame
    assert "LeftSemi" not in plan
    plan = _plan(dedup.strip_duplicated_spans(spark, SF))
    assert plan.count("Generate posexplode") == 0
    assert "LeftSemi" not in plan


def test_incremental_exact_is_one_corpus_shuffle(spark):
    """dedup_incremental_exact: the incoming frame is shuffled ONCE on
    the digest (the window after the index join); the only other
    exchanges are the corpus index's distinct and its broadcast. The
    source-split predicates must reach the parquet scan."""
    plan = _plan(dedup.dedup_incremental_exact(spark, SF))
    assert "GreaterThanOrEqual(source,src5)" in plan.replace(" ", "")
    assert "LessThan(source,src5)" in plan.replace(" ", "")
    # the window's min(doc_id) keys on the same digest the join used
    assert plan.count("Exchange hashpartitioning(content_hash") <= 2
    assert "SinglePartition" not in plan


def test_incremental_minhash_is_banded_equi_join(spark):
    """dedup_incremental_minhash: every join is an equi-join keyed on
    the band bucket (the LSH candidate shape) — never a cartesian or
    an all-pairs theta join."""
    plan = _plan(dedup.dedup_incremental_minhash(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_hash" in plan


def test_quantized_topk_plan_matches_cosine_topk(spark):
    """ann_topk_quantized keeps cosine_topk's plan shape: broadcast
    single-row query join + TakeOrderedAndProject (quantization is a
    projection, not a shuffle)."""
    plan = _plan(similarity.ann_topk_quantized(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert (
        "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    )
    assert "Exchange hashpartitioning" not in plan


def test_training_order_window_is_distributed(spark):
    """training_order: the corpus-sized row_number window must be
    PARTITIONED (by the hash-prefix bucket); the only SinglePartition
    exchange sits above the 256-row bucket-count aggregate, and the
    offsets join back broadcast."""
    from pdftotext_spark.operators import textstats

    plan = _plan(textstats.training_order(spark, SF))
    assert "windowspecdefinition(bucket" in plan
    agg_then_single = plan.index("Exchange SinglePartition") < plan.index(
        "HashAggregate(keys=[bucket"
    )
    assert agg_then_single, "SinglePartition exchange must feed off the tiny aggregate"
    assert plan.count("Exchange SinglePartition") == 1
    assert "BroadcastHashJoin" in plan


def test_top_dup_spans_single_scan_and_topk(spark):
    """top_duplicated_spans reuses the ExactSubstr single-scan island
    algebra (one posexplode in the pre-AQE executed plan; the final
    adaptive plan was verified to keep one — the toString after
    collect prints initial+final and double-counts) and the report
    itself is a TakeOrderedAndProject, not a global sort."""
    df = dedup.top_duplicated_spans(spark, SF)
    plan = _plan(df)
    assert plan.count("Generate posexplode") == 1
    assert "TakeOrderedAndProject" in plan
    assert "LeftSemi" not in plan


def test_gopher_repetition_one_row_function(spark, monkeypatch):
    """The Gopher repetition panel counts each document's n-grams in
    ONE row function: no gram explode, exactly one MapInPandas, no
    shuffled join. The pin fails on the Catalyst twin's plan (one
    explode, two aggregations and a join back)."""
    from test_gopher_quality import catalyst_repetition_signature

    from pdftotext_spark.operators import textstats

    def one_row_function(plan):
        return (
            "Generate" not in plan
            and plan.count("MapInPandas") == 1
            and "SortMergeJoin" not in plan
        )

    assert one_row_function(_plan(textstats.gopher_repetition(spark, SF)))
    monkeypatch.setattr(
        textstats, "repetition_signature", catalyst_repetition_signature
    )
    assert not one_row_function(_plan(textstats.gopher_repetition(spark, SF)))


def test_quality_vote_one_scan_no_join(spark):
    """The five-panel vote is one row-wise chain over one corpus scan:
    no Join, one parquet scan and one MapInPandas (the repetition row
    function, which carries the other four keeps as keys). The pin
    fails on a vote that runs each panel as its own scan and joins
    the verdicts on doc_id."""
    from pdftotext_spark.operators import curation

    plan = _plan(curation.quality_vote(spark, SF))
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("MapInPandas") == 1


def _subtree(lines, i):
    """Plan lines of the node on ``lines[i]`` and everything below it."""
    depth = len(lines[i]) - len(lines[i].lstrip(" :+-"))
    end = i + 1
    while end < len(lines) and len(lines[end]) - len(lines[end].lstrip(" :+-")) > depth:
        end += 1
    return lines[i:end]


def test_minhash_shingle_explode_spread_once(spark):
    """A single-file corpus scans as one split, so ``_shingles`` spreads
    it before the shingle explode: below every shingle Generate the
    only Exchange is one round-robin repartition."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    lines = _plan(dedup.minhash_lsh_pairs(spark, SF)).splitlines()
    shingle = [
        i for i, ln in enumerate(lines)
        if "Generate explode(filter(transform(sequence" in ln
    ]
    assert shingle
    for i in shingle:
        below = [ln for ln in _subtree(lines, i) if "Exchange" in ln]
        assert len(below) == 1, below
        assert "RoundRobinPartitioning" in below[0], below


def test_c4_quality_zero_shuffle(spark):
    """c4_quality is a single narrow scan: no exchange, no join."""
    from pdftotext_spark.operators import textstats

    plan = _plan(textstats.c4_quality(spark, SF))
    for node in ("Exchange", "Join", "Generate"):
        assert node not in plan, node


def test_fineweb_quality_zero_shuffle(spark):
    """fineweb_quality is a single narrow scan: no exchange, no
    join — same shape pin as c4_quality."""
    from pdftotext_spark.operators import textstats

    plan = _plan(textstats.fineweb_quality(spark, SF))
    for node in ("Exchange", "Join", "Generate"):
        assert node not in plan, node


def test_text_cleanup_trio_zero_shuffle(spark):
    """encoding_quality / text_normalize / strip_repeated_lines are
    single narrow scans: no exchange, no join, no explode."""
    from pdftotext_spark.operators import textstats

    for fn in (
        textstats.encoding_quality,
        textstats.text_normalize,
        textstats.strip_repeated_lines,
    ):
        plan = _plan(fn(spark, SF))
        for node in ("Exchange", "Join", "Generate"):
            assert node not in plan, (fn.__name__, node)


def test_boilerplate_lines_single_explode_one_line_shuffle(spark):
    """boilerplate_lines (r6 prose family): ONE corpus line explode
    feeding the line-keyed aggregation; the double exchange is the
    standard multi-distinct Expand (gid) shape — partial aggregation
    on both levels absorbs hot boilerplate keys — and no join node
    appears at all (the prose map fuses into the scan)."""
    from pdftotext_spark.operators import prose

    plan = _plan(prose.boilerplate_lines(spark, SF))
    assert plan.count("Generate explode") == 1
    assert "partial_" in plan
    assert "Join" not in plan
    assert "Exchange SinglePartition" not in plan


def test_strip_boilerplate_single_explode_anti_join(spark):
    """strip_boilerplate_lines: the tiny df-filtered boiler set is
    materialized slim (Scan ExistingRDD — its explode ran inside the
    checkpoint job) and anti-joined broadcast, so the final plan
    explodes the corpus exactly ONCE; the rebuild shuffles on doc_id
    only, and no forced broadcast hint appears on the corpus-sized
    rebuilt frame (AQE picks — the source_overlap_matrix lesson)."""
    from pdftotext_spark.operators import prose

    plan = _plan(prose.strip_boilerplate_lines(spark, SF))
    assert plan.count("Generate posexplode") == 1
    assert "LeftAnti" in plan
    assert "ExistingRDD" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_paragraph_dedup_newline_one_window_shuffle(spark):
    """paragraph_dedup_newline: one posexplode, then ONE shuffle — the
    min-struct window keyed on md5(seg_text) (the r6 count/min-window
    discipline: no groupBy + join-back of the corpus-sized segment
    frame, slim spillable rows under boilerplate hot keys)."""
    from pdftotext_spark.operators import prose

    plan = _plan(prose.paragraph_dedup_newline(spark, SF))
    assert plan.count("Generate posexplode") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "Window" in plan


def test_bm25_topk_broadcast_stats_take_ordered(spark):
    """bm25_topk: corpus stats are ONE single-row aggregate (partial →
    SinglePartition) broadcast back onto the token frame; scoring is a
    zero-shuffle map and the top-k is TakeOrderedAndProject — no
    global sort, no wide shuffle anywhere."""
    from pdftotext_spark.operators import retrieval

    plan = _plan(retrieval.bm25_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange SinglePartition") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "partial_" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_semantic_decontamination_broadcast_eval_windowed_argmax(spark):
    """semantic_decontamination: eval-side band keys and embeddings
    are (forced, genuinely-small) broadcasts; the per-vec argmax is a
    rank-1 window with a PARTIAL WindowGroupLimit below the shuffle
    (only each task's local best candidates move); exactly two wide
    shuffles (candidate distinct + argmax window); no cartesian, no
    sort-merge join at this scale."""
    from pdftotext_spark.operators import similarity

    plan = _plan(similarity.semantic_decontamination(spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_bm25_topk_indexed_single_generate_pruned_scan(spark):
    """bm25_topk_indexed: the corpus is exploded ONCE (per-term df is
    a count window over the filtered postings, not a groupBy +
    join-back that would re-run the explode lineage — the round-6
    ExactSubstr lesson); the term IN filter sits BELOW the postings
    aggregate (pushed through the groupBy to just above Generate, so
    only query-term tokens are shuffled); ranking ends in
    TakeOrderedAndProject."""
    from pdftotext_spark.operators import retrieval

    plan = _plan(retrieval.bm25_topk_indexed(spark, SF))
    assert plan.count("Generate explode") == 1
    assert "TakeOrderedAndProject" in plan
    assert "Window" in plan
    # filter pushed below the (term, doc_id) aggregate: the Filter on
    # term literals must appear AFTER (deeper than) the partial
    # aggregate line in the printed tree
    agg_at = plan.index("partial_count")
    filt_at = plan.index("IN (window,spark,join)")
    assert filt_at > agg_at
    assert "SortMergeJoin" not in plan


def test_hybrid_rrf_pools_bounded_before_fusion(spark):
    """hybrid_rrf_topk: each system reduces the corpus to <= RRF_POOL
    rows via TakeOrderedAndProject BEFORE any rank window or the
    fusion join runs — the row_number windows and the full-outer join
    only ever see pool-sized frames (constant work at any corpus
    size). One Generate (the lexical index explode); the dense-side
    query exclusion is pushed to the parquet scan; no cartesian."""
    from pdftotext_spark.operators import retrieval

    plan = _plan(retrieval.hybrid_rrf_topk(spark, SF))
    assert plan.count(
        f"TakeOrderedAndProject(limit={retrieval.RRF_POOL}"
    ) == 2
    assert f"TakeOrderedAndProject(limit={retrieval.RRF_TOPK}" in plan
    assert plan.count("Generate explode") == 1
    assert "CartesianProduct" not in plan
    # rank windows sit ABOVE (printed before) their bounded pools
    first_window = plan.index("Window [row_number()")
    first_pool = plan.index(
        f"TakeOrderedAndProject(limit={retrieval.RRF_POOL}"
    )
    assert first_window < first_pool
    assert "Not(EqualTo(vec_id,0))" in plan  # pushed to the scan


def test_rerank_broadcasts_candidates_into_embedding_scan(spark):
    """bm25_rerank_cosine: the <= RRF_POOL candidate list is the
    BROADCAST side of a BroadcastHashJoin against the embeddings
    table (the big side streams once, never shuffles); the query-row
    exclusion propagates through the equi-join into the parquet
    PushedFilters; final ranking is TakeOrderedAndProject."""
    from pdftotext_spark.operators import retrieval

    plan = _plan(retrieval.bm25_rerank_cosine(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert f"TakeOrderedAndProject(limit={retrieval.RERANK_TOPK}" in plan
    assert "Not(EqualTo(vec_id,0))" in plan
    assert plan.count("Generate explode") == 1


def test_bm25_batch_one_posting_pass_group_limited(spark):
    """bm25_batch_topk: the WHOLE query batch rides ONE posting pass —
    a single corpus Generate, the union-of-terms filter pushed below
    the postings aggregate, the (query_id, term) map and the stats row
    broadcast in; the per-query top-k is WindowGroupLimit-ed (Partial
    below the query_id shuffle) so no corpus-scale sort ever runs."""
    from pdftotext_spark.operators import retrieval

    plan = _plan(retrieval.bm25_batch_topk(spark, SF))
    assert plan.count("Generate explode") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "BroadcastHashJoin" in plan  # the (query_id, term) map
    # >10 terms: the union filter prints as INSET, pushed below the
    # postings aggregate (deeper = later in the printed tree)
    terms = ", ".join(
        sorted({t for _, ts in retrieval.BM25_BATCH_QUERIES for t in ts})
    )
    agg_at = plan.index("partial_count")
    filt_at = plan.index(f"INSET {terms}")
    assert filt_at > agg_at


def test_mixture_weights_single_corpus_scan(spark):
    """mixture_weights: ONE corpus FileScan, map-side-combined to
    #sources rows; the Σ totals are an unpartitioned window over that
    tiny frame (one SinglePartition exchange of #sources rows) — NOT
    an agg+crossJoin-back, which re-runs the corpus scan+aggregate
    lineage (ReusedExchange does not collapse differently-projected
    subtrees; verified: that form planned TWO FileScans)."""
    from pdftotext_spark.operators import mixing

    plan = _plan(mixing.mixture_weights(spark, SF))
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1  # groupBy(source)
    assert plan.count("Exchange SinglePartition") == 1   # S-row totals
    assert "partial_count" in plan  # map-side combine before the shuffle
    assert "SortMergeJoin" not in plan


def test_mixture_rebalance_broadcasts_rates(spark):
    """mixture_rebalance: exactly TWO corpus scans (the stats pass and
    the apply pass — the fundamental minimum; a window-by-source
    single-scan would shuffle the corpus into #sources hot
    partitions), the #sources-row rate frame on the BROADCAST side of
    the per-doc join, and the md5-Bernoulli copy rule a zero-shuffle
    projection above it."""
    from pdftotext_spark.operators import mixing

    plan = _plan(mixing.mixture_rebalance(spark, SF))
    assert plan.count("FileScan parquet") == 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # stats groupBy only


def test_mixture_pack_two_scans_one_explode(spark):
    """mixture_pack: still exactly TWO corpus scans (the copy counts
    are computed in the SAME apply-side scan that feeds the pack
    window), ONE copy explode, rates broadcast, and the pack window
    partitioned by source (no global sort)."""
    from pdftotext_spark.operators import mixing

    plan = _plan(mixing.mixture_pack(spark, SF))
    assert plan.count("FileScan parquet") == 2
    assert plan.count("Generate explode") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quality_lr_corpus_never_rescanned(spark):
    """quality_lr: the corpus is scanned only inside the one feats
    materialization job. The final scores plan reads ONLY that
    ExistingRDD and projects it against the final weights as literals:
    no weight frame, no join, no shuffle. The train plan is the
    trajectory as a local table."""
    from pdftotext_spark.operators import quality_lr

    plan = _plan(quality_lr.quality_lr_scores(spark, SF))
    assert plan.count("FileScan parquet") == 0
    assert plan.count("Scan ExistingRDD") == 1
    assert "Join" not in plan and "Exchange" not in plan
    plan = _plan(quality_lr.quality_lr_train(spark, SF))
    assert "LocalTableScan" in plan
    assert "Scan" not in plan.replace("LocalTableScan", "")


def _jobs_per_query(spark, module, names) -> dict:
    """Spark jobs that build plus collect of each ``module.<name>``
    launch, counted per job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = {}
    try:
        for name in names:
            group = f"test-jobs:{name}"
            sc.setJobGroup(group, name)
            getattr(module, name)(spark, SF).collect()
            jobs[name] = len(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return jobs


def test_quality_lr_queries_launch_at_most_22_jobs(spark):
    """quality_lr trains on the driver: each gradient-descent round is
    one aggregate over the materialized feature table (a shuffle stage
    and a result job under AQE), with the six weights carried as
    literals, so build plus collect costs at most two jobs per round
    plus a few for the feature cut and the final plan."""
    from pdftotext_spark.operators import quality_lr

    jobs = _jobs_per_query(
        spark,
        quality_lr,
        ("quality_lr_train", "quality_lr_scores", "quality_lr_auc"),
    )
    bound = 2 * quality_lr.LR_ROUNDS + 6
    assert all(0 < n <= bound for n in jobs.values()), jobs


def test_bpe_queries_launch_at_most_10_jobs(spark):
    """BPE training runs on the driver over the collected (word, freq)
    vocabulary, so build plus collect of each trainer-fed query costs
    the one vocabulary aggregate and one small final plan, not a Spark
    job chain per merge round. Jobs are counted per job group."""
    from pdftotext_spark.operators import textstats

    jobs = _jobs_per_query(
        spark,
        textstats,
        ("bpe_learn_merges", "bpe_apply_stats", "bpe_doc_tokens"),
    )
    assert all(0 < n <= 10 for n in jobs.values()), jobs


def test_bpe_doc_tokens_broadcasts_vocabulary(spark):
    """bpe_doc_tokens: the vocabulary-sized local frame is the
    broadcast side of the per-word join. Without the hint the planner
    sees no size statistics for it and broadcasts the corpus word
    explode instead, which grows with the corpus."""
    from pdftotext_spark.operators import textstats

    lines = _plan(textstats.bpe_doc_tokens(spark, SF)).splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    at = next(i for i, ln in enumerate(lines) if "BroadcastExchange" in ln)
    sub = [lines[at]]
    for ln in lines[at + 1:]:
        if depth(ln) <= depth(lines[at]):
            break
        sub.append(ln)
    sub = "\n".join(sub)
    assert "Scan ExistingRDD" in sub
    assert "Generate" not in sub and "FileScan" not in sub


def test_auc_windows_bounded_distinct_score_frame(spark):
    """auc_for: the prefix-sum rank window sorts the DISTINCT-SCORE
    frame (<= 1,000,001 rows at any corpus size — scores are micro
    ints in [0, 1e6]), never the row frame; the SinglePartition
    exchange must sit ABOVE the per-score aggregate, so the corpus
    only ever flows through the map-side-combined groupBy."""
    from pyspark.sql import Row

    from pdftotext_spark.operators import quality_lr

    scored = spark.createDataFrame(
        [Row(label=i % 2, score_micro=i % 7) for i in range(100)]
    )
    plan = _plan(quality_lr.auc_for(scored))
    agg_at = plan.index("partial_count")  # per-score map-side combine
    sp_at = plan.index("Exchange SinglePartition")
    assert sp_at < agg_at  # window input is the aggregated frame
    assert "SortMergeJoin" not in plan


def test_cosine_batch_single_scan_group_limited(spark):
    """cosine_batch_topk: the Q-row query frame broadcasts into ONE
    embeddings scan (corpus I/O independent of Q); the per-query
    top-k is WindowGroupLimit-ed with a Partial pass below the
    query_id shuffle, so only ~Q·k rows per task ever shuffle."""
    from pdftotext_spark.operators import similarity

    plan = _plan(similarity.cosine_batch_topk(spark, SF))
    assert plan.count("FileScan parquet") == 2  # corpus + tiny query side
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan


def test_mixture_incremental_single_scan(spark):
    """mixture_incremental: ONE corpus FileScan (the corpus/incoming
    split masses are conditional sums inside the same per-source
    aggregate), both plans' totals as windows over the #sources frame
    — no join, no second scan."""
    from pdftotext_spark.operators import mixing

    plan = _plan(mixing.mixture_incremental(spark, SF))
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_curation_funnel_single_pass(spark):
    """curation_funnel (r7 rewrite): per-doc stage flags in ONE pass +
    a single cumulative-AND aggregate — NOT a union of seven chained
    semi/anti-join counts whose detector subtrees re-plan per branch
    (Spark shares no lineage across union branches).  Parquet scans:
    flags base (1) + the quality vote's one spread scan (1) + exact
    digests (1) = 3, each exactly once; the LSH and decontamination
    detectors read the one materialized shingle cut."""
    from pdftotext_spark.operators import curation

    plan = _plan(curation.curation_funnel(spark, SF))
    assert "Union" not in plan
    assert plan.count("Scan parquet") == 3


def test_perplexity_rank_window_is_tie_bounded(spark):
    """perplexity_buckets (r7 rewrite): the corpus-sized row_number
    window partitions by (pred_lang, logloss_bits) — never by
    pred_lang alone, which under one dominant language is a
    single-task sort of most of the corpus; the per-language offsets
    come from running sums over the tiny logloss histogram."""
    from pdftotext_spark.operators import textstats

    plan = _plan(textstats.perplexity_buckets(spark, SF))
    rn_lines = [
        ln for ln in plan.splitlines() if "row_number()" in ln
    ]
    assert rn_lines, "rank window missing"
    for ln in rn_lines:
        assert "windowspecdefinition" in ln, f"no window spec in: {ln}"
        spec = ln.split("windowspecdefinition", 1)[1]
        # windowspecdefinition(<partition keys>, <order keys> ASC ...):
        # the text before the first " ASC" ends with the first ORDER
        # key, so drop it to leave the partition keys alone
        keys = spec.split(" ASC", 1)[0].lstrip("(").split(", ")[:-1]
        assert any(k.startswith("logloss_bits#") for k in keys), (
            f"rank window partitions by {keys}: logloss_bits must be a "
            "partition key, not only an order key"
        )
