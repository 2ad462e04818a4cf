"""Connected components (large-star/small-star) vs an independent union-find."""

import random

import pytest
from pyspark.sql import functions as F

from pipeline_spark.functions.graph import connected_components


def _union_find_labels(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # min-label per component
    comp = {}
    for n in list(parent):
        comp[n] = find(n)
    # find() roots are component minima because unions always attach the
    # larger root under the smaller
    return comp


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src: long, dst: long")
    rows = connected_components(df, **kw).collect()
    return {r["node"]: r["component"] for r in rows}


def _cc_distributed(spark, edges):
    """Force the alternating-star loop (threshold 0 disables the
    driver union-find fast path)."""
    return _cc(spark, edges, small_graph_threshold=0)


def test_cc_simple_pair(spark):
    assert _cc(spark, [(2, 1)]) == {1: 1, 2: 1}


def test_cc_transitive_chain(spark):
    # a-c, b-c: pair-local doc_b dropping would miss b; CC must not
    assert _cc(spark, [(1, 3), (2, 3)]) == {1: 1, 2: 1, 3: 1}


def test_cc_distributed_small(spark):
    # per-commit coverage of the alternating-star loop: a reversed
    # chain plus a second component
    edges = [(4, 3), (3, 2), (2, 1), (10, 11)]
    assert _cc_distributed(spark, edges) == {
        1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
    }


@pytest.mark.slow  # fast-tier deselects (r16: driver verify window)
def test_cc_long_chain_and_separate_components(spark):
    edges = [(i, i + 1) for i in range(1, 20)] + [(100, 101), (101, 102)]
    for labels in (_cc(spark, edges), _cc_distributed(spark, edges)):
        assert all(labels[i] == 1 for i in range(1, 21))
        assert all(labels[i] == 100 for i in (100, 101, 102))


def test_cc_self_loops_and_duplicates_ignored(spark):
    labels = _cc(spark, [(5, 5), (1, 2), (2, 1), (1, 2)])
    assert labels == {1: 1, 2: 1}


@pytest.mark.slow  # fast-tier deselects (r16: driver verify window)
def test_cc_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(40 + trial * 30)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        expect = _union_find_labels(edges)
        # both strategies: the driver union-find fast path (default at
        # this size) and the forced distributed alternating-star loop
        assert _cc(spark, edges) == expect
        assert _cc_distributed(spark, edges) == expect


def test_dedup_output_clusters_transitive(spark):
    # doc 1 ~ doc 3 and doc 2 ~ doc 3 (shared grams), 1 !~ 2 directly at
    # the threshold; clusters must still merge all three
    from pipeline_spark.operators.dedup import dedup_transform
    from pipeline_spark.registry import ModuleContext

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "gamma delta epsilon zeta eta theta"),
            (3, "alpha beta gamma delta epsilon zeta eta theta"),
            (4, "completely different words entirely here now"),
        ],
        "doc_id: long, text: string",
    )
    out = dedup_transform(
        ModuleContext(
            spark=spark,
            name="cl",
            params={
                "method": "ngram_jaccard",
                "idField": "doc_id",
                "field": "text",
                "ngram": 3,
                "threshold": 0.4,
                "outputClusters": True,
            },
            inputs=[docs],
            input_names=["docs"],
            side_inputs={},
        )
    )[""]
    labels = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert labels == {1: 1, 2: 1, 3: 1}


def test_dedup_default_drop_is_cluster_correct(spark):
    # pairs (2,3) and (1,3) only — component {1,2,3}; keep exactly doc 1
    from pipeline_spark.operators.dedup import drop_cluster_dupes

    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z"), (9, "solo")], "doc_id: long, text: string"
    )
    pairs = spark.createDataFrame([(2, 3), (1, 3)], "doc_a: long, doc_b: long")
    kept = sorted(
        r["doc_id"] for r in drop_cluster_dupes(df, pairs, "doc_id").collect()
    )
    assert kept == [1, 9]
