"""Driver union-find vs pointer jumping in ``dedup.dedup_groups``.

A candidate graph of at most ``DRIVER_CC_MAX_EDGES`` pair rows is
labelled by union-find on the driver; a larger one by the Spark
pointer-jumping loop (``_dedup_groups_spark``). Every test forces each
path by monkeypatching the cap (the ``cc_under_cap`` fixture), checks
through a spy that the intended path really ran, and asserts both
paths emit the same rows as a hand-computed labelling: every doc maps
to its component's minimum id. The boundary itself and the ``FUSED_NS``
namespacing are covered the same way in ``test_spark_pipeline.py``.
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


def _assert_paths_agree(spark, cc_under_cap, edges):
    pairs = spark.createDataFrame(edges, _SCHEMA)
    driver, ran_spark = cc_under_cap(pairs, cap=len(edges))
    assert not ran_spark, "driver path expected at the cap"
    looped, ran_spark = cc_under_cap(pairs, cap=0)
    assert ran_spark, "Spark path expected above the cap"
    assert driver == looped == _expected(edges)
    return driver


# a 40-node chain over shuffled ids: labels must travel both ways, and
# this shuffle takes the loop three rounds to reach its fixed point
# (plus the round that sees no change)
_CHAIN_IDS = random.Random(11).sample(range(100, 140), 40)
_CHAIN = [(_CHAIN_IDS[i], _CHAIN_IDS[i + 1]) for i in range(39)]


def test_chain_needs_more_than_two_rounds(spark, cc_under_cap, monkeypatch):
    rounds = []
    lazy_cut = dedup.materialize_lazy

    def count_round(df):
        rounds.append(1)
        return lazy_cut(df)

    # the loop cuts each round's labels lazily, once per round
    monkeypatch.setattr(dedup, "materialize_lazy", count_round)
    rows = _assert_paths_agree(spark, cc_under_cap, _CHAIN)
    assert {g for _, g in rows} == {100}
    # deep enough to exercise the loop: more than two rounds change
    # labels before the round that sees no change
    assert len(rounds) - 1 > 2, f"loop converged in {len(rounds)} rounds"


def test_unconverged_loop_raises(spark, cc_under_cap):
    # one round cannot settle the chain: the loop fails loudly instead
    # of returning labels that are not the component minima
    pairs = spark.createDataFrame(_CHAIN, _SCHEMA)
    with pytest.raises(RuntimeError, match="max_iterations=1 rounds"):
        cc_under_cap(pairs, cap=0, max_iterations=1)


def test_star_with_small_leaf(spark, cc_under_cap):
    # the centre is not the minimum: leaf 3 labels the whole star
    edges = [(50, leaf) for leaf in range(51, 61)] + [(3, 50)]
    rows = _assert_paths_agree(spark, cc_under_cap, edges)
    assert {g for _, g in rows} == {3}


def test_self_loops(spark, cc_under_cap):
    rows = _assert_paths_agree(spark, cc_under_cap, [(5, 5), (7, 7), (8, 7)])
    assert rows == [(5, 5), (7, 7), (8, 7)]


def test_duplicated_and_mirrored_pairs(spark, cc_under_cap):
    edges = [(2, 1), (1, 2), (1, 2), (3, 2), (2, 3), (9, 10), (10, 9)]
    rows = _assert_paths_agree(spark, cc_under_cap, edges)
    assert rows == [(1, 1), (2, 1), (3, 1), (9, 9), (10, 9)]


def test_minimum_not_first_seen(spark, cc_under_cap):
    # each component's minimum arrives last, after two larger roots
    # have already merged
    edges = [(9, 6), (20, 15), (6, 4), (15, 11)]
    rows = _assert_paths_agree(spark, cc_under_cap, edges)
    assert rows == [
        (4, 4), (6, 4), (9, 4), (11, 11), (15, 11), (20, 11)
    ]


def test_id_type_follows_input(spark, monkeypatch):
    """Both paths type the labels like the pair columns (their union
    type when the two differ)."""
    for schema, want in (
        ("doc_a int, doc_b int", "int"),
        ("doc_a int, doc_b long", "bigint"),
    ):
        pairs = spark.createDataFrame([(3, 1), (1, 2)], schema)
        for cap in (10, 0):
            monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", cap)
            out = dedup.dedup_groups(pairs)
            assert [f.dataType.simpleString() for f in out.schema] == [want] * 2
            assert sorted(tuple(r) for r in out.collect()) == [
                (1, 1), (2, 1), (3, 1)
            ]


def test_empty_pairs(spark, cc_under_cap):
    pairs = spark.createDataFrame([], _SCHEMA)
    rows, ran_spark = cc_under_cap(pairs, cap=dedup.DRIVER_CC_MAX_EDGES)
    assert rows == [] and not ran_spark


def test_pairs_evaluated_once_on_either_path(spark, cc_under_cap):
    """The pair detection upstream runs once: the loop above the cap
    reads the rows the bounded fetch already produced instead of
    recomputing them. A counting UDF stands in for the upstream."""
    from pyspark.sql import functions as F

    edges = [(1, 2), (2, 3), (5, 6)]
    for cap in (len(edges), 0):
        seen = spark.sparkContext.accumulator(0)

        def count(x):
            seen.add(1)
            return x

        pairs = spark.createDataFrame(edges, _SCHEMA).withColumn(
            "doc_a", F.udf(count, "long")("doc_a")
        )
        rows, _ = cc_under_cap(pairs, cap=cap)
        assert rows == _expected(edges)
        assert seen.value == len(edges), f"cap={cap}: {seen.value} evaluations"


def test_longdocs_candidate_graph(spark, cc_under_cap, tmp_path):
    """The MinHash-LSH candidate graph of the planted-truth long-doc
    corpus: both paths agree, and every planted exact pair shares the
    smaller member's group."""
    from pdftotext_spark.sources.longdocs_gen import make_longdocs

    truth = make_longdocs(
        str(tmp_path), scale=1, seed=13,
        regimes={"short": 300, "medium": 1500},
    )
    lsh = dedup.minhash_lsh_pairs(spark, str(tmp_path)).select("doc_a", "doc_b")
    edges = [tuple(r) for r in lsh.collect()]
    assert edges
    rows = _assert_paths_agree(spark, cc_under_cap, edges)
    label = dict(rows)
    for a, b in truth.pairs_of("exact"):
        assert label[a] == label[b] <= a
