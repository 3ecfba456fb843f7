"""Round-13 operator tests: ANN-backed KNN join (VERDICT r12 #6).

The equality test is the strong one: at n_probe = n_lists the IVF
routing admits every list, so the operator must reproduce the exact
block-nested-loop join ROW FOR ROW (same kernel, same rounding, same
tie-breaks) — any drift in the cogroup kernel or window key fails it
bit-exactly. The recall test then pins the default probe depth's
quality against the exact result.
"""

from __future__ import annotations

import pytest


def _knn_rows(df):
    return {(r["q_id"], r["vec_id"], r["cos_sim"], r["rank"]) for r in df.collect()}


def _neighbors(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["q_id"], set()).add(r["vec_id"])
    return out


@pytest.fixture(scope="module")
def exact_knn(spark, sf_dir):
    from data_collection_ieee_spark.operators.similarity import _knn_join_impl

    return _knn_join_impl(spark, sf_dir).collect()


def test_knn_join_ann_full_probe_equals_exact(spark, sf_dir, exact_knn):
    from data_collection_ieee_spark.operators.similarity import (
        _knn_join_ann_impl,
    )

    exact = {(r["q_id"], r["vec_id"], r["cos_sim"], r["rank"]) for r in exact_knn}
    full = _knn_rows(_knn_join_ann_impl(spark, sf_dir, n_probe=10**6))
    assert full == exact


def test_knn_join_ann_default_recall(spark, sf_dir, exact_knn):
    from data_collection_ieee_spark.operators.similarity import (
        _KNN_K,
        sim_knn_join_ann,
    )

    exact_nb = {}
    for r in exact_knn:
        exact_nb.setdefault(r["q_id"], set()).add(r["vec_id"])
    ann_nb = _neighbors(sim_knn_join_ann(spark, sf_dir))
    assert set(ann_nb) == set(exact_nb)  # every query answered
    recalls = [
        len(ann_nb[q] & exact_nb[q]) / min(_KNN_K, len(exact_nb[q]))
        for q in exact_nb
    ]
    mean_recall = sum(recalls) / len(recalls)
    # deterministic build → this is exact, not flaky: measured 0.660 at
    # sf0.001 (490 vectors, 4 of 13 lists probed). IVF recall rises
    # with corpus size (sim_ann_ivf measured 0.95 at sf10 probing
    # 1/320 of lists); the floor is a smoke gate — the equality and
    # monotonicity tests carry the correctness weight.
    assert mean_recall >= 0.60, f"mean recall {mean_recall:.3f} < 0.60"


def test_knn_join_ann_recall_monotone_in_probes(spark, sf_dir, exact_knn):
    from data_collection_ieee_spark.operators.similarity import (
        _knn_join_ann_impl,
    )

    exact_nb = {}
    for r in exact_knn:
        exact_nb.setdefault(r["q_id"], set()).add(r["vec_id"])

    def mean_recall(df):
        nb = _neighbors(df)
        return sum(
            len(nb.get(q, set()) & exact_nb[q]) / len(exact_nb[q])
            for q in exact_nb
        ) / len(exact_nb)

    r1 = mean_recall(_knn_join_ann_impl(spark, sf_dir, n_probe=1))
    r_full = mean_recall(_knn_join_ann_impl(spark, sf_dir, n_probe=10**6))
    assert r1 <= r_full + 1e-12
    assert r_full == pytest.approx(1.0)


def _pack_reference(spark, sf_dir):
    """Driver-side reference pack: per source, admit docs in
    (md5(doc_id), doc_id) order until the target is covered."""
    import hashlib

    from data_collection_ieee_spark.catalog import load_table
    from data_collection_ieee_spark.operators.pipeline import (
        mix_temperature_resample,
    )
    from pyspark.sql import functions as F

    targets = {
        r["source"]: r["target_tokens"]
        for r in mix_temperature_resample(spark, sf_dir).collect()
    }
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        .collect()
    )
    by_source = {}
    for r in docs:
        h = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()
        by_source.setdefault(r["source"], []).append(
            (h, r["doc_id"], r["n_tokens"])
        )
    kept = {}
    for src, rows in by_source.items():
        rows.sort()
        cum = 0
        for h, doc_id, n_tokens in rows:
            if cum >= targets[src]:
                break
            cum += n_tokens
            kept[doc_id] = (src, n_tokens, cum, targets[src])
    return kept


def test_mix_token_budget_pack_matches_reference(spark, sf_dir):
    from data_collection_ieee_spark.operators.pipeline import (
        mix_token_budget_pack,
    )

    ref = _pack_reference(spark, sf_dir)
    got = {
        r["doc_id"]: (
            r["source"],
            r["n_tokens"],
            r["cum_tokens"],
            r["target_tokens"],
        )
        for r in mix_token_budget_pack(spark, sf_dir).collect()
    }
    assert got == ref


def test_mix_token_budget_pack_deterministic_and_minimal(spark, sf_dir):
    from data_collection_ieee_spark.operators.pipeline import (
        mix_token_budget_pack,
    )

    from data_collection_ieee_spark.catalog import load_table
    from pyspark.sql import functions as F

    rows1 = sorted(map(tuple, mix_token_budget_pack(spark, sf_dir).collect()))
    rows2 = sorted(map(tuple, mix_token_budget_pack(spark, sf_dir).collect()))
    assert rows1 == rows2  # byte-identical across runs
    supply = {
        r["source"]: r["supply"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(F.split("text", " ")).cast("long")).alias("supply"))
        .collect()
    }
    per_src = {}
    for doc_id, src, n_tokens, cum, target in rows1:
        s = per_src.setdefault(src, {"kept": 0, "max_cum": 0, "target": target})
        s["kept"] += n_tokens
        s["max_cum"] = max(s["max_cum"], cum)
        assert cum - n_tokens < target  # every kept doc starts in-budget
    for src, s in per_src.items():
        # prefix-ness: max cumulative == sum of kept tokens means the
        # kept set is one contiguous prefix of the hash order
        assert s["max_cum"] == s["kept"]
        # covering: the pack reaches the target unless supply ran out
        # (epochs > 1 sources keep everything and repeat at training)
        assert s["kept"] >= min(s["target"], supply[src])
    assert set(per_src) == set(supply)  # every source packed
