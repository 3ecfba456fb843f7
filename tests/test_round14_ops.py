"""Round-14 optimization internals.

Every change this round is schedule/plan-shape only — results must be
bit-identical. These tests pin the equalities the optimizations rely on:

- catalog.load_table memoizes the READER PLAN per (session, sf_dir,
  table) — a plan handle, never data; the memo must be keyed by live
  session and must not leak across scale-factor dirs.
- connected_components persists its pair input for the probe/edge/label
  consumers; the pair cache must be released at kernel exit (no storage
  leak on top of the existing checkpoint-release contract).
"""

from __future__ import annotations

import pytest

from data_collection_ieee_spark import catalog, registry

registry.load_all()

SF_A = "/root/testdata/sf0.001"


def test_load_table_memoizes_reader_plan_per_session(spark):
    """Same (session, sf_dir, name) → same DataFrame object (a plan
    handle — no data is cached); a different sf_dir must get a fresh
    reader, and the memo must never confuse tables."""
    a1 = catalog.load_table(spark, SF_A, "orders")
    a2 = catalog.load_table(spark, SF_A, "orders")
    assert a1 is a2
    b = catalog.load_table(spark, "/root/testdata/sf0.01", "orders")
    assert b is not a1
    c = catalog.load_table(spark, SF_A, "lineitem")
    assert c is not a1 and "l_orderkey" in c.columns
    # the memo holds no persisted blocks — nothing for release to drop
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    catalog.load_table(spark, SF_A, "customer")
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_cc_kernel_releases_pair_cache(spark):
    """connected_components persists its pair input (r14); kernel exit
    must unpersist it together with the edge cache so a campaign loop
    cannot accumulate pair caches."""
    from data_collection_ieee_spark.operators.dedup import connected_components

    catalog.release_caches()
    base = spark.sparkContext._jsc.getPersistentRDDs().size()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "a_id bigint, b_id bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in range(21)], "doc_id bigint")
    connected_components(spark, pairs, nodes).count()
    catalog.release_caches()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == base


@pytest.mark.parametrize("swap", [True, False])
def test_cc_labels_identical_under_pair_persist(spark, swap):
    """The pair persist is schedule-only: labels must match a driver
    union-find whichever way round each pair is written (pairs are
    undirected)."""
    from data_collection_ieee_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 10)]
    nodes_l = [1, 2, 3, 10, 11, 20, 21, 22, 30]
    rows = [(b, a) for a, b in edges] if swap else edges
    pairs = spark.createDataFrame(rows, "a_id bigint, b_id bigint")
    nodes = spark.createDataFrame([(i,) for i in nodes_l], "doc_id bigint")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(spark, pairs, nodes).collect()
    }
    # reference union-find
    parent = {n: n for n in nodes_l}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: min(m for m in nodes_l if find(m) == find(n)) for n in nodes_l}
    catalog.release_caches()
    assert got == want
