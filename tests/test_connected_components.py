"""Connected components in ``dedup.dedup_groups``.

The pair columns are fetched once as Arrow and labelled by union-find
on the driver. Every case compares the output with a labelling by
graph search (``_expected``): every doc maps to its component's
minimum id. ``FUSED_NS`` namespacing is covered in
``test_spark_pipeline.py``.
"""

from __future__ import annotations

import random

import pytest

from pdftotext_spark.operators import dedup

pytestmark = pytest.mark.spark

_SCHEMA = "doc_a long, doc_b long"


def _expected(edges) -> list[tuple[int, int]]:
    """Reference labelling by graph search, independent of union-find:
    each node gets the minimum id reachable from it."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {}
    for start in adj:
        if start in label:
            continue
        comp, stack = {start}, [start]
        while stack:
            for nb in adj[stack.pop()] - comp:
                comp.add(nb)
                stack.append(nb)
        root = min(comp)
        label.update(dict.fromkeys(comp, root))
    return sorted(label.items())


def _labels(pairs) -> list[tuple[int, int]]:
    return sorted(tuple(r) for r in dedup.dedup_groups(pairs).collect())


def _assert_labels(spark, edges):
    rows = _labels(spark.createDataFrame(edges, _SCHEMA))
    assert rows == _expected(edges)
    return rows


# a 40-node chain over shuffled ids: labels must travel both ways
_CHAIN_IDS = random.Random(11).sample(range(100, 140), 40)
_CHAIN = [(_CHAIN_IDS[i], _CHAIN_IDS[i + 1]) for i in range(39)]


def test_shuffled_chain(spark, monkeypatch):
    # small chunks: unions and path halving cross chunk seams
    monkeypatch.setattr(dedup, "_CC_CHUNK", 7)
    rows = _assert_labels(spark, _CHAIN)
    assert {g for _, g in rows} == {100}


def test_star_with_small_leaf(spark):
    # the centre is not the minimum: leaf 3 labels the whole star
    edges = [(50, leaf) for leaf in range(51, 61)] + [(3, 50)]
    rows = _assert_labels(spark, edges)
    assert {g for _, g in rows} == {3}


def test_self_loops(spark):
    rows = _assert_labels(spark, [(5, 5), (7, 7), (8, 7)])
    assert rows == [(5, 5), (7, 7), (8, 7)]


def test_duplicated_and_mirrored_pairs(spark):
    edges = [(2, 1), (1, 2), (1, 2), (3, 2), (2, 3), (9, 10), (10, 9)]
    rows = _assert_labels(spark, edges)
    assert rows == [(1, 1), (2, 1), (3, 1), (9, 9), (10, 9)]


def test_minimum_not_first_seen(spark):
    # each component's minimum arrives last, after two larger roots
    # have already merged
    edges = [(9, 6), (20, 15), (6, 4), (15, 11)]
    rows = _assert_labels(spark, edges)
    assert rows == [
        (4, 4), (6, 4), (9, 4), (11, 11), (15, 11), (20, 11)
    ]


def test_id_type_follows_input(spark):
    """Labels are typed like the pair columns (their union type when
    the two differ), whether or not PySpark's Arrow conf is on."""
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(conf)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(conf, arrow)
            for schema, want in (
                ("doc_a int, doc_b int", "int"),
                ("doc_a int, doc_b long", "bigint"),
            ):
                pairs = spark.createDataFrame([(3, 1), (1, 2)], schema)
                out = dedup.dedup_groups(pairs)
                types = [f.dataType.simpleString() for f in out.schema]
                assert types == [want] * 2, arrow
                assert sorted(tuple(r) for r in out.collect()) == [
                    (1, 1), (2, 1), (3, 1)
                ]
    finally:
        spark.conf.set(conf, before)


def test_empty_pairs(spark):
    assert _labels(spark.createDataFrame([], _SCHEMA)) == []


def test_pairs_evaluated_once(spark):
    """The pair detection upstream runs once. A counting UDF stands in
    for the upstream."""
    from pyspark.sql import functions as F

    edges = [(1, 2), (2, 3), (5, 6)]
    seen = spark.sparkContext.accumulator(0)

    def count(x):
        seen.add(1)
        return x

    pairs = spark.createDataFrame(edges, _SCHEMA).withColumn(
        "doc_a", F.udf(count, "long")("doc_a")
    )
    assert _labels(pairs) == _expected(edges)
    assert seen.value == len(edges), f"{seen.value} evaluations"


def test_dedup_groups_launches_one_job(spark):
    """Labelling an already-built pair frame costs the one Arrow fetch:
    no lineage cut, no bounded-fetch probe. Jobs are counted per job
    group."""
    pairs = spark.createDataFrame(_CHAIN, _SCHEMA)
    sc = spark.sparkContext
    group = "test-jobs:dedup_groups"
    sc.setJobGroup(group, "dedup_groups")
    try:
        labels = dedup.dedup_groups(pairs)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert len(jobs) == 1, jobs
    assert sorted(tuple(r) for r in labels.collect()) == _expected(_CHAIN)


def test_longdocs_candidate_graph(spark, tmp_path):
    """The MinHash-LSH candidate graph of the planted-truth long-doc
    corpus: labels match graph search, and every planted exact pair
    shares the smaller member's group."""
    from pdftotext_spark.sources.longdocs_gen import make_longdocs

    truth = make_longdocs(
        str(tmp_path), scale=1, seed=13,
        regimes={"short": 300, "medium": 1500},
    )
    lsh = dedup.minhash_lsh_pairs(spark, str(tmp_path)).select("doc_a", "doc_b")
    edges = [tuple(r) for r in lsh.collect()]
    assert edges
    label = dict(_assert_labels(spark, edges))
    for a, b in truth.pairs_of("exact"):
        assert label[a] == label[b] <= a
