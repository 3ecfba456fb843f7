"""Differential tests: every registered query vs its DuckDB oracle.

This is the same comparison the driver applies (row count + schema +
order-insensitive value multiset), run at sf0.001 for speed. Queries
without an oracle are smoke-checked (runs, stable schema, ≥0 rows).
"""

from __future__ import annotations

import pytest

from data_collection_ieee_spark import oracle as orc
from data_collection_ieee_spark import registry

registry.load_all()


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    df = registry.QUERIES[name](spark, sf_dir)
    sql = registry.ORACLES.get(name)
    if sql is None:
        rows = df.collect()
        assert rows is not None
        assert len(df.columns) > 0
    else:
        problems = orc.compare(df, duck, sql)
        assert not problems, f"{name}: {problems}"


def test_articles_corpus_exercises_both_lookups(spark, sf_dir):
    """The parity check of articles_enrich_dims is only as strong as its
    in-repo corpus: each lookup must both hit and miss on a present key,
    and no ACM row (a date or "" publication) may get a country."""
    rows = registry.QUERIES["articles_enrich_dims"](spark, sf_dir).collect()
    for key, dim in (("publisher", "pays_dim"), ("venue_key", "quartile_dim")):
        assert any(r[dim] is not None for r in rows), dim
        assert any(r[key] is not None and r[dim] is None for r in rows), dim
    assert any(r["indexation"] == "ACM" for r in rows)
    assert not [
        r for r in rows if r["indexation"] == "ACM" and r["pays_dim"] is not None
    ]


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """The whole point of join_bucketed: bucket i joins bucket i with no
    Exchange on either join input (the only allowed Exchange is the
    post-join aggregation's)."""
    import io
    from contextlib import redirect_stdout

    from data_collection_ieee_spark import registry

    # at test scale AQE would broadcast the tiny side and hide the
    # property under test; force the co-located sort-merge path
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry.QUERIES["join_bucketed"](spark, sf_dir)
        df.collect()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        txt = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    tree = txt.split("\n\n")[0]  # the top-down operator tree
    if "== Final Plan ==" in tree:  # AQE prints final + initial; keep final
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    assert "SortMergeJoin" in tree
    # everything below the join (its two bucketed scan inputs) must be
    # Exchange-free; the only allowed Exchange is the post-join
    # aggregation's, which sits ABOVE the join in a top-down print
    below_join = tree.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_join, below_join


def test_partitioned_scan_prunes_directories(spark, sf_dir):
    """scan_partition_pruned's lang predicate must be satisfied by
    partition pruning (PartitionFilters on the scan), not by reading
    every directory and filtering rows."""
    import io
    from contextlib import redirect_stdout

    from data_collection_ieee_spark import registry

    df = registry.QUERIES["scan_partition_pruned"](spark, sf_dir)
    df.collect()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    txt = buf.getvalue()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", txt)
    assert m and "lang" in m.group(1), txt


def test_topk_queries_have_bounded_plans(spark, sf_dir):
    """Every top-k-shaped query must compile to a heap-based
    TakeOrderedAndProject, and NO query plan may contain an unbounded
    partitionBy-less Window (the single-partition sort scale-killer
    removed in round 5). Reuses the auditor's detector so pytest and
    tools/plan_audit.py cannot drift apart."""
    import io
    from contextlib import redirect_stdout

    from data_collection_ieee_spark import registry
    from tools.plan_audit import _has_unbounded_global_window

    for name in ("sim_cosine_topk", "sim_ann_ivf", "sim_ann_hyperplane", "topk_limit"):
        df = registry.QUERIES[name](spark, sf_dir)
        df.collect()  # AQE: final plan only exists after execution
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        txt = buf.getvalue()
        assert "TakeOrderedAndProject" in txt, f"{name}: top-k not heap-based"
        assert not _has_unbounded_global_window(txt), f"{name}: unbounded global window"

    # sort_multi encodes a total order yet must also avoid the pattern
    df = registry.QUERIES["sort_multi"](spark, sf_dir)
    df.collect()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert not _has_unbounded_global_window(buf.getvalue())
