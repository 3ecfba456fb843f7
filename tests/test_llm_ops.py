"""Property tests for operators whose contract the SQL oracle can't
fully express (approximation tolerance, ANN recall, stub determinism,
LSH-vs-exact equivalence)."""

from __future__ import annotations

import os

from data_collection_ieee_spark import registry


def _rows(name, spark, sf_dir):
    return registry.QUERIES[name](spark, sf_dir).collect()


def test_approx_distinct_within_tolerance(spark, sf_dir):
    approx = {
        r["event_type"]: r["approx_users"]
        for r in _rows("agg_approx_distinct", spark, sf_dir)
    }
    exact = {
        r["event_type"]: r["n_users"] for r in _rows("agg_count_distinct", spark, sf_dir)
    }
    assert set(approx) == set(exact)
    for k, e in exact.items():
        assert abs(approx[k] - e) <= max(2, 0.05 * e), (k, approx[k], e)


def test_ann_ivf_recall_vs_exact(spark, sf_dir):
    exact_ids = {r["vec_id"] for r in _rows("sim_cosine_topk", spark, sf_dir)}
    ann_ids = {r["vec_id"] for r in _rows("sim_ann_ivf", spark, sf_dir)}
    recall = len(exact_ids & ann_ids) / len(exact_ids)
    # nprobe=4 of 16 lists scans ~25% of the corpus; on random vectors
    # recall well above that floor indicates the index routes correctly.
    assert recall >= 0.3, f"IVF recall {recall:.2f}"


def test_minhash_lsh_equals_exact_jaccard(spark, sf_dir):
    exact = {
        (r["a_id"], r["b_id"]) for r in _rows("dedup_ngram_jaccard", spark, sf_dir)
    }
    lsh = {(r["a_id"], r["b_id"]) for r in _rows("dedup_minhash_lsh", spark, sf_dir)}
    assert lsh == exact  # banding at these params loses nothing at τ=0.8


def test_decode_features_deterministic(spark, sf_dir):
    a = sorted(map(tuple, _rows("multimodal_decode_features", spark, sf_dir)))
    b = sorted(map(tuple, _rows("multimodal_decode_features", spark, sf_dir)))
    assert a == b
    # the decoded header must be the real WAV header the encoder wrote,
    # and the PCM features must be in range for 16-bit samples
    for _, sample_rate, n_channels, sample_width, n_frames, rms, peak in a:
        assert sample_rate == 8000
        assert n_channels == 1
        assert sample_width == 2
        assert n_frames > 0
        assert 0.0 <= rms <= 32768.0
        assert 0 <= peak <= 32768


def test_simhash_identical_docs_zero_hamming(spark, sf_dir):
    # any exact-duplicate content (same vocab fingerprint) must appear
    # at hamming 0; and every reported pair is within the threshold
    rows = _rows("dedup_simhash", spark, sf_dir)
    for r in rows:
        assert 0 <= r["hamming"] <= 3


def test_stratified_sample_deterministic_and_rated(spark, sf_dir):
    a = sorted(r["doc_id"] for r in _rows("sample_stratified", spark, sf_dir))
    b = sorted(r["doc_id"] for r in _rows("sample_stratified", spark, sf_dir))
    assert a == b  # no rand() anywhere: byte-identical on rerun
    from data_collection_ieee_spark.operators.pipeline import _RATES
    from data_collection_ieee_spark.catalog import load_table
    totals = {
        r["lang"]: r["n"]
        for r in load_table(spark, sf_dir, "documents").groupBy("lang").count()
        .withColumnRenamed("count", "n").collect()
    }
    kept = {}
    for r in _rows("sample_stratified", spark, sf_dir):
        kept[r["lang"]] = kept.get(r["lang"], 0) + 1
    for lang, n_total in totals.items():
        rate = _RATES.get(lang, 100) / 100
        # md5 buckets are uniform-ish; allow generous slack on small strata
        assert abs(kept.get(lang, 0) - rate * n_total) <= max(5, 0.35 * n_total)


def test_pack_sequences_invariants(spark, sf_dir):
    from data_collection_ieee_spark.operators.pipeline import _CTX_LEN
    rows = _rows("pack_sequences", spark, sf_dir)
    assert rows
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
        assert r["first_doc"] <= r["last_doc"]
        assert r["n_docs"] >= 1
    for src, packs in by_src.items():
        packs.sort(key=lambda r: r["pack_id"])
        # pack ids are starts//CTX_LEN of a monotone running sum: non-decreasing, start at 0
        assert packs[0]["pack_id"] == 0
        # a pack only overflows by (at most) its last doc's length: every
        # pack except possibly the last must have crossed its boundary
        total = sum(p["pack_tokens"] for p in packs)
        assert total == sum(p["pack_tokens"] for p in packs)  # sanity: no loss


def test_approx_quantiles_within_tolerance(spark, sf_dir):
    from pyspark.sql import functions as F

    from data_collection_ieee_spark.catalog import load_table

    approx = {r["o_orderstatus"]: r for r in _rows("agg_approx_quantiles", spark, sf_dir)}
    exact = {
        r["o_orderstatus"]: r
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, array(0.25, 0.5, 0.75, 0.95))").alias("qs")
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for status, a in approx.items():
        for i, p in enumerate(("p25", "p50", "p75", "p95")):
            e = exact[status]["qs"][i]
            assert abs(a[p] - e) <= max(1.0, 0.02 * abs(e)), (status, p, a[p], e)


def test_ann_hyperplane_recall_vs_exact(spark, sf_dir):
    exact_ids = {r["vec_id"] for r in _rows("sim_cosine_topk", spark, sf_dir)}
    ann_ids = {r["vec_id"] for r in _rows("sim_ann_hyperplane", spark, sf_dir)}
    recall = len(exact_ids & ann_ids) / len(exact_ids)
    # 13 of 4096 buckets scanned; sign-LSH concentrates near neighbors
    # in the probe's bucket neighborhood — recall must beat the ~0.3%
    # random-scan floor by a wide margin
    assert recall >= 0.25, f"hyperplane-LSH recall {recall:.2f}"


def test_ann_hyperplane_recall_vs_probe_radius(spark, sf_dir):
    """Multiprobe radius is the recall-vs-cost dial: recall must be
    monotone non-decreasing in the radius, and at radius = n_planes
    (every bucket scanned) the search is exact — recall 1.0."""
    from data_collection_ieee_spark.operators.similarity import (
        _N_PLANES,
        _ann_hyperplane_impl,
    )

    exact_ids = {r["vec_id"] for r in _rows("sim_cosine_topk", spark, sf_dir)}
    recalls = []
    for r in range(_N_PLANES + 1):
        ids = {
            row["vec_id"]
            for row in _ann_hyperplane_impl(spark, sf_dir, probe_hamming=r).collect()
        }
        recalls.append(len(exact_ids & ids) / len(exact_ids))
    assert all(b >= a for a, b in zip(recalls, recalls[1:])), recalls
    assert recalls[-1] == 1.0, recalls


def test_pii_redact_leaves_no_residual_pii(spark, sf_dir):
    import re

    rows = _rows("text_pii_redact", spark, sf_dir)
    email = re.compile(r"[a-z0-9.]+@[a-z0-9.]+\.[a-z]+")
    phone = re.compile(r"\d{3}-\d{4}")
    planted = 0
    for r in rows:
        assert not email.search(r["redacted"]), r
        assert not phone.search(r["redacted"]), r
        # counts reflect the deterministic planting rule
        assert r["n_emails"] == (1 if r["doc_id"] % 3 != 0 else 0)
        assert r["n_phones"] == (1 if r["doc_id"] % 2 == 0 else 0)
        planted += r["n_emails"] + r["n_phones"]
    assert planted > 0  # the fixture construction actually planted PII


def test_unpivot_shape_and_inverse_consistency(spark, sf_dir):
    rows = _rows("agg_unpivot", spark, sf_dir)
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["metric"]] = r["value"]
    for doc_id, m in by_doc.items():
        assert set(m) == {"n_chars", "n_tokens", "n_uniq"}, doc_id
        assert m["n_uniq"] <= m["n_tokens"] <= m["n_chars"], (doc_id, m)


def test_sketch_reaggregate_matches_exact_within_tolerance(spark, sf_dir):
    merged = {
        r["event_type"]: r["approx_users"]
        for r in _rows("agg_sketch_reaggregate", spark, sf_dir)
    }
    exact = {
        r["event_type"]: r["n_users"] for r in _rows("agg_count_distinct", spark, sf_dir)
    }
    assert set(merged) == set(exact)
    for k, e in exact.items():
        assert abs(merged[k] - e) <= max(2, 0.05 * e), (k, merged[k], e)


# ---------------------------------------------------------------------------
# adaptive candidate generation for dedup_ngram_jaccard (round 5)


def _synthetic_highdf_shingles(spark):
    """Shingle frame with pathological document frequency: every doc
    shares one 'boilerplate' shingle (df = n_docs), plus rare content
    shingles; docs 2k/2k+1 are near-duplicates (Jaccard 9/11 > 0.8)."""
    rows = []
    boiler = 0  # the high-df shingle hash
    for d in range(400):
        pair = d // 2
        content = [1_000_000 + pair * 100 + i for i in range(9)]
        extra = [2_000_000 + d] if d % 2 else [3_000_000 + d]
        rows.append((d, [boiler] + content + extra))
    return spark.createDataFrame(rows, "doc_id bigint, hs array<bigint>")


def test_jaccard_prefix_path_equals_count_join_path(spark):
    from data_collection_ieee_spark.operators import dedup

    sh = _synthetic_highdf_shingles(spark)
    full = dedup._jaccard_pairs(spark, sh, force_prefix=False)
    pref = dedup._jaccard_pairs(spark, sh, force_prefix=True)
    key = lambda r: (r["a_id"], r["b_id"])
    fr = sorted(full.collect(), key=key)
    pr = sorted(pref.collect(), key=key)
    assert [tuple(r) for r in fr] == [tuple(r) for r in pr]
    # every even/odd doc pair qualifies: inter=10 of 12 united... compute:
    # shared = boiler + 9 content = 10; union = 12; 10/12 = 0.833 >= 0.8
    assert len(fr) == 200
    assert all(r["inter"] == 10 and r["uni"] == 12 for r in fr)


def test_jaccard_prefix_candidates_collapse_on_high_df(spark):
    """The boilerplate shingle (df = 400) makes the full self-join emit
    C(400,2) = 79 800 candidate pairs from that single posting list; the
    rarest-first prefix never touches it, so candidates collapse to the
    qualifying neighborhood."""
    from pyspark.sql import functions as F

    from data_collection_ieee_spark.operators import dedup

    sh = _synthetic_highdf_shingles(spark)
    postings = sh.select("doc_id", F.explode("hs").alias("h"))
    sizes = sh.select("doc_id", F.size("hs").alias("n"))
    df_tbl = postings.groupBy("h").agg(F.count("*").alias("df"))

    full_cand = (
        postings.select(F.col("doc_id").alias("a_id"), "h")
        .join(postings.select(F.col("doc_id").alias("b_id"), "h"), "h")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
        .count()
    )
    pref_cand = dedup._prefix_candidates(postings, sizes, df_tbl).count()
    assert full_cand >= 79_800  # the df² blow-up the prefix path avoids
    assert pref_cand < full_cand / 50  # collapses by >50x on this fixture
    assert pref_cand >= 200  # still a superset of the 200 true pairs


def test_jaccard_adaptive_switch_thresholds(spark):
    """max df over the synthetic frame (400) stays under the switch, so
    the adaptive path must pick the count-join; forcing the cache to a
    huge max df must pick the prefix path. Both give identical rows."""
    from data_collection_ieee_spark.operators import dedup

    sh = _synthetic_highdf_shingles(spark)
    dedup._MAXDF_CACHE.clear()
    auto = dedup._jaccard_pairs(spark, sh)  # decides from real max df (400)
    assert dedup._MAXDF_CACHE[id(sh)] == 400
    assert auto.count() == 200
    dedup._MAXDF_CACHE[id(sh)] = dedup.PREFIX_DF_SWITCH + 1
    forced = dedup._jaccard_pairs(spark, sh)  # now takes the prefix path
    assert forced.count() == 200
    dedup._MAXDF_CACHE.clear()


def test_embed_cosine_subblocking_matches_unblocked(spark, sf_dir):
    """Forcing tiny sub-blocks (block_target=8 → many rectangle/triangle
    groups per list pair) must reproduce the unblocked pair set exactly —
    the bounded-task-memory path for giant IVF lists at scale."""
    from data_collection_ieee_spark.operators import dedup

    base = sorted(
        tuple(r) for r in dedup._embed_cosine_pairs(spark, sf_dir).collect()
    )
    blocked = sorted(
        tuple(r)
        for r in dedup._embed_cosine_pairs(spark, sf_dir, block_target=8).collect()
    )
    assert base == blocked
    assert len(base) > 0  # fixture guarantees qualifying pairs


def test_knn_join_matches_bruteforce(spark, sf_dir):
    """sim_knn_join's two-phase (batch-local top-k → per-query window)
    result must equal a driver-side exact brute force, including the
    (rounded cos desc, vec_id) tie-break."""
    import numpy as np

    from data_collection_ieee_spark.catalog import load_table
    from data_collection_ieee_spark.operators.similarity import _KNN_K, _KNN_QMOD

    rows = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    vids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    m = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(m, axis=1)
    is_q = vids % _KNN_QMOD == 0

    expected = set()
    for qi in np.where(is_q)[0]:
        cos = (m[~is_q] @ m[qi]) / (norms[~is_q] * norms[qi])
        cos = np.sign(cos) * np.floor(np.abs(cos) * 1e4 + 0.5) / 1e4
        bvids = vids[~is_q]
        order = np.lexsort((bvids, -cos))[:_KNN_K]
        for rank, bi in enumerate(order, start=1):
            expected.add((int(vids[qi]), int(bvids[bi]), float(cos[bi] + 0.0), rank))

    got = {
        (r["q_id"], r["vec_id"], r["cos_sim"], r["rank"])
        for r in _rows("sim_knn_join", spark, sf_dir)
    }
    assert got == expected


def test_knn_join_batch_associativity(spark, sf_dir):
    """Phase-1 block-local top-k must be associative: changing the
    block count (many more / fewer local top-k merges, different
    base-row groupings) cannot change the result. n_blocks=1 is the
    degenerate single-merge case; 97 far exceeds the row count per
    block at sf0.001."""
    from data_collection_ieee_spark.operators.similarity import _knn_join_impl

    baseline = sorted(map(tuple, _rows("sim_knn_join", spark, sf_dir)))
    one_block = sorted(map(tuple, _knn_join_impl(spark, sf_dir, n_blocks=1).collect()))
    many_blocks = sorted(
        map(tuple, _knn_join_impl(spark, sf_dir, n_blocks=97).collect())
    )
    assert one_block == baseline
    assert many_blocks == baseline


def test_decontaminate_matches_bruteforce(spark, sf_dir):
    """pipeline_decontaminate == a driver-side set-overlap reference:
    same contaminated doc set, same distinct-8-gram counts."""
    import hashlib

    from data_collection_ieee_spark.catalog import load_table
    from data_collection_ieee_spark.operators.pipeline import (
        _DECON_EVAL_PCT,
        _DECON_NGRAM,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    def bucket(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100

    def ngrams(text: str) -> set:
        t = text.split(" ")
        return {
            " ".join(t[i : i + _DECON_NGRAM])
            for i in range(len(t) - _DECON_NGRAM + 1)
        }

    ev = set()
    train = {}
    for r in docs:
        ngs = ngrams(r["text"])
        if len(r["text"].split(" ")) < _DECON_NGRAM:
            continue
        if bucket(r["doc_id"]) < _DECON_EVAL_PCT:
            ev |= ngs
        else:
            train[r["doc_id"]] = ngs
    expected = {
        (d, len(ngs), len(ngs & ev)) for d, ngs in train.items() if ngs & ev
    }

    got = {
        (r["doc_id"], r["n_doc_ngrams"], r["n_shared_ngrams"])
        for r in _rows("pipeline_decontaminate", spark, sf_dir)
    }
    assert got == expected


def test_repetition_signals_reference(spark, sf_dir):
    """text_repetition_signals == an independent per-doc Python
    reference (third implementation besides Spark and DuckDB)."""
    from collections import Counter

    from data_collection_ieee_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    expected = {}
    for r in docs:
        t = r["text"].split(" ")
        bigrams = [" ".join(t[i : i + 2]) for i in range(len(t) - 1)]
        expected[r["doc_id"]] = (
            len(t),
            max(Counter(t).values()),
            len(bigrams),
            len(bigrams) - len(set(bigrams)),
        )

    for r in _rows("text_repetition_signals", spark, sf_dir):
        exp = expected[r["doc_id"]]
        assert (
            r["n_tokens"],
            r["top_tok_cnt"],
            r["n_bigrams"],
            r["dup_bigram_cnt"],
        ) == exp, r["doc_id"]


def test_anomaly_zscore_matches_numpy_reference(spark, sf_dir):
    """events_anomaly_zscore == an independent numpy population-z
    reference computed from the same (type, day) counts."""
    from collections import Counter

    import numpy as np

    from data_collection_ieee_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "cast(ts as date) as day"
    ).collect()
    counts = Counter((r["event_type"], r["day"]) for r in ev)
    by_type: dict = {}
    for (t, d), n in counts.items():
        by_type.setdefault(t, []).append(n)

    got = {
        (r["event_type"], r["day"]): (r["n_events"], r["z_score"], r["is_anomaly"])
        for r in _rows("events_anomaly_zscore", spark, sf_dir)
    }
    assert len(got) == len(counts)
    for (t, d), n in counts.items():
        arr = np.array(by_type[t], dtype=np.float64)
        std = arr.std()  # population
        z = 0.0 if std == 0 else round((n - arr.mean()) / std, 4) + 0.0
        gn, gz, ga = got[(t, d)]
        assert gn == n
        assert abs(gz - z) <= 1e-9, (t, d, gz, z)
        assert ga == (abs(gz) > 2.0)


def test_substring_spans_planted_passages(spark):
    """_substring_spans on a synthetic corpus with a planted 25-token
    verbatim passage: overlapping duplicate windows must merge into ONE
    maximal span per doc covering exactly the planted region, unique
    docs must emit nothing, and a self-repeated adjacent passage must
    fuse into a single span."""
    from data_collection_ieee_spark.operators.dedup import _substring_spans

    w = 20
    passage = [f"p{i}" for i in range(25)]
    doc_a = [f"a{i}" for i in range(7)] + passage + [f"az{i}" for i in range(8)]
    doc_b = [f"b{i}" for i in range(3)] + passage + [f"bz{i}" for i in range(4)]
    doc_u = [f"u{i}" for i in range(40)]  # all-unique: no dup windows
    doc_s = [f"s{i}" for i in range(2)] + passage + passage  # self-repeat
    docs = spark.createDataFrame(
        [
            (1, " ".join(doc_a)),
            (2, " ".join(doc_b)),
            (3, " ".join(doc_u)),
            (4, " ".join(doc_s)),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_dup_grams"])
        for r in _substring_spans(docs, w=w).collect()
    }
    # doc 1: passage occupies 1-based token positions 8..32; duplicate
    # windows start at 8..13 (6 windows), span = [8, 13+w-1=32]
    assert got[1] == (8, 32, 6)
    # doc 2: passage at positions 4..28 -> starts 4..9, span [4, 28]
    assert got[2] == (4, 28, 6)
    assert 3 not in got
    # doc 4: passage twice back-to-back at 3..27 and 28..52. Duplicated
    # windows are those fully inside a copy (starts 3..8 and 28..33 —
    # straddling windows are rotations that occur nowhere else); the
    # two runs are exactly w apart (28 = 8 + w), so adjacency merging
    # fuses them into ONE span [3, 52]
    assert got[4] == (3, 52, 12)


def test_dedup_within_watermark_invariants(spark, sf_dir):
    """The batch watermark-dedup chain must conserve arrivals
    (kept + absorbed = injected arrivals) and never keep two arrivals
    of one key within the horizon of each other — the exact guarantee
    dropDuplicatesWithinWatermark gives a stream."""
    from data_collection_ieee_spark.catalog import load_table
    from data_collection_ieee_spark.operators.streaming_shaped import (
        _WM_HORIZON_MIN,
    )

    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    n5 = ev.filter("event_id % 5 = 0").count()
    n10 = ev.filter("event_id % 10 = 0").count()
    rows = _rows("dedup_within_watermark", spark, sf_dir)
    assert sum(1 + r["n_dropped"] for r in rows) == n + n5 + n10
    by_key = {}
    for r in rows:
        by_key.setdefault(r["event_id"], []).append(r["kept_ts"])
    for k, times in by_key.items():
        times.sort()
        for a, b in zip(times, times[1:]):
            assert (b - a).total_seconds() > _WM_HORIZON_MIN * 60, (k, times)


def test_repetition_signals_long_doc_path(spark):
    """Docs above the length gate must take the explode+groupBy path
    and produce byte-identical signals to the in-row path (gate forced
    above every doc) and to a Counter reference — including a 6000-token
    book-length doc that the gate routes to the explode path."""
    from collections import Counter

    from data_collection_ieee_spark.operators.text_analysis import (
        _REP_LONG_DOC_TOKENS,
        _repetition_signals,
    )

    long_toks = [f"w{i % 37}" for i in range(6000)]  # heavy repetition
    assert len(long_toks) > _REP_LONG_DOC_TOKENS
    docs_py = {
        1: "alpha beta gamma alpha beta gamma alpha",
        2: " ".join(long_toks),
        3: " ".join(f"u{i}" for i in range(50)),
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in docs_py.items()], "doc_id bigint, text string"
    )
    gated = sorted(map(tuple, _repetition_signals(docs).collect()))
    inrow = sorted(
        map(tuple, _repetition_signals(docs, long_doc_tokens=10**9).collect())
    )
    assert gated == inrow
    for row in _repetition_signals(docs).collect():
        toks = docs_py[row["doc_id"]].split(" ")
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        assert row["n_tokens"] == len(toks)
        assert row["top_tok_cnt"] == Counter(toks).most_common(1)[0][1]
        assert row["n_bigrams"] == len(toks) - 1
        assert row["dup_bigram_cnt"] == len(bgs) - len(set(bgs))


def test_token_rarity_matches_counter_reference(spark, sf_dir):
    """text_token_rarity == a driver-side Counter reference: corpus
    frequency table, per-doc frequency sums, and the integer
    cross-multiplied rarity flag."""
    from collections import Counter

    from data_collection_ieee_spark.catalog import load_table

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    freq = Counter(t for toks in docs.values() for t in toks)
    t_total = sum(freq.values())
    c2 = sum(c * c for c in freq.values())
    rows = _rows("text_token_rarity", spark, sf_dir)
    assert len(rows) == len(docs)
    for r in rows:
        toks = docs[r["doc_id"]]
        sum_freq = sum(freq[t] for t in toks)
        assert r["n_tokens"] == len(toks)
        assert r["sum_freq"] == sum_freq
        assert abs(r["avg_freq"] - sum_freq / len(toks)) < 1e-3
        want = "rare_tokens" if 2 * sum_freq * t_total < c2 * len(toks) else "keep"
        assert r["verdict"] == want, (r, want)


def test_quantize_int8_reconstruction_bound(spark, sf_dir):
    """Dequantized vectors must reconstruct within scale/2 per unclipped
    lane (the symmetric-quantizer bound), codes must stay in [-127,127],
    and clipping must only occur at the +/-127 boundary."""
    from data_collection_ieee_spark.catalog import load_table

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    rows = _rows("embed_quantize_int8", spark, sf_dir)
    assert len(rows) == len(emb)
    for r in rows:
        orig = emb[r["vec_id"]]
        s = r["qscale"]
        codes = r["codes"]
        assert len(codes) == len(orig)
        assert all(-127 <= c <= 127 for c in codes)
        if s == 0.0:
            assert all(c == 0 for c in codes)
            continue
        n_clip = 0
        for x, c in zip(orig, codes):
            # clamping only ACTS when round(x/s) leaves [-127, 127],
            # i.e. |x/s| > 127.5 under round-half-away; a lane at
            # 127 < |x/s| <= 127.5 rounds back inside and still meets
            # the s/2 bound
            if abs(c) == 127 and abs(x / s) > 127.5:
                n_clip += 1  # clipped lane: error unbounded by s/2
                continue
            assert abs(x - c * s) <= s / 2 + 1e-9, (r["vec_id"], x, c, s)
        assert n_clip == r["n_clipped"]


def test_threshold_sweep_consistent_with_jaccard_pairs(spark, sf_dir):
    """The calibration histogram must agree with the pair operator at
    its own threshold: cumulative pairs at bucket >= 8 equals the
    dedup_ngram_jaccard pair count (both sides use the identical
    integer predicate 10*inter >= 8*union), and the histogram must
    conserve total candidate pairs."""
    rows = {r["jaccard_bucket"]: r for r in _rows("dedup_threshold_sweep", spark, sf_dir)}
    n_pairs_tau = sum(r["n_pairs"] for b, r in rows.items() if b >= 8)
    assert n_pairs_tau == len(_rows("dedup_ngram_jaccard", spark, sf_dir))
    total = sum(r["n_pairs"] for r in rows.values())
    for b, r in rows.items():
        assert r["n_pairs_at_or_above"] == sum(
            rows[b2]["n_pairs"] for b2 in rows if b2 >= b
        )
    assert total == max(r["n_pairs_at_or_above"] for r in rows.values())


def test_containment_matches_bruteforce(spark, sf_dir, duck):
    """Independent implementation: Python string-trigram sets over the
    raw parquet, exact containment, same integer predicate — must
    reproduce the operator's pair set, scores, and directions."""
    docs = duck.execute("SELECT doc_id, text FROM documents").fetchall()
    sets = {}
    for doc_id, text in docs:
        toks = text.split(" ")
        if len(toks) < 3:
            continue
        sets[doc_id] = {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}
    expect = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            m = min(len(sets[a]), len(sets[b]))
            if 100 * inter >= 90 * m:
                expect[(a, b)] = (
                    inter,
                    round(inter / m, 4),
                    "a_in_b" if len(sets[a]) <= len(sets[b]) else "b_in_a",
                )
    got = {
        (r["a_id"], r["b_id"]): (r["inter"], r["containment"], r["direction"])
        for r in _rows("dedup_containment", spark, sf_dir)
    }
    assert got == expect
    assert expect, "fixture corpus has no containment pairs"


def test_containment_catches_what_jaccard_misses(spark, tmp_path):
    """The operator's reason to exist: a small doc embedded verbatim in
    one ~5x its size has containment 1.0 (a_in_b) but Jaccard ~0.2 —
    below the 0.8 pair threshold — so dedup_ngram_jaccard must NOT
    pair them while dedup_containment MUST."""
    small = " ".join(f"w{i}" for i in range(20))
    big = small + " " + " ".join(f"x{i}" for i in range(80))
    other = " ".join(f"y{i}" for i in range(30))
    import pandas as pd

    df = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [small, big, other],
            "lang": ["en"] * 3,
            "source": ["src0"] * 3,
            "n_chars": [len(small), len(big), len(other)],
        }
    )
    d = str(tmp_path / "sfsynth")
    os.makedirs(d)
    df.to_parquet(d + "/documents.parquet", index=False)
    cont = {
        (r["a_id"], r["b_id"]): (r["containment"], r["direction"])
        for r in _rows("dedup_containment", spark, d)
    }
    assert cont == {(1, 2): (1.0, "a_in_b")}
    assert _rows("dedup_ngram_jaccard", spark, d) == []


def test_entropy_quality_matches_counter(spark, sf_dir, duck):
    """Independent implementation: collections.Counter + math.log2 with
    the same round-9-then-exact-sum convention must reproduce ttr and
    entropy for every document."""
    import math
    from collections import Counter
    from decimal import Decimal

    docs = duck.execute("SELECT doc_id, text FROM documents").fetchall()
    got = {r["doc_id"]: r for r in _rows("text_entropy_quality", spark, sf_dir)}
    assert len(got) == len(docs)
    for doc_id, text in docs:
        c = Counter(text.split(" "))
        n = sum(c.values())
        r = got[doc_id]
        assert r["n_tokens"] == n
        assert r["n_types"] == len(c)
        assert abs(r["ttr"] - len(c) / n) <= 5e-5
        h = sum(
            Decimal(str(round((k / n) * math.log2(n / k), 9))) for k in c.values()
        )
        assert abs(Decimal(str(r["entropy_bits"])) - h) <= Decimal("0.000001")
        # entropy is bounded by log2(n_types); equality iff uniform counts
        assert r["entropy_bits"] <= math.log2(len(c)) + 1e-6


def test_temperature_resample_flattens_the_mix(spark, sf_dir):
    """α < 1 must compress the head: weights sum to 1, every
    below-average source is upsampled (weight > natural share), every
    above-average source downsampled, ordering is preserved, and the
    published targets/epochs are pure functions of the published
    weight."""
    rows = _rows("mix_temperature_resample", spark, sf_dir)
    assert len(rows) >= 2
    assert abs(sum(r["weight"] for r in rows) - 1.0) <= 1e-4
    assert abs(sum(r["token_share"] for r in rows) - 1.0) <= 1e-4
    for r in rows:
        assert r["target_tokens"] == round(1_000_000_000 * r["weight"])
        assert abs(r["epochs"] - round(r["target_tokens"] / r["sum_tokens"], 4)) <= 1e-9
    # exact flattening law: for any two sources, the weight ratio is the
    # share ratio to the α power — strictly compressed toward 1 when the
    # shares differ (α = 0.7 < 1)
    for ra in rows:
        for rb in rows:
            if ra["sum_tokens"] > rb["sum_tokens"] * 1.01:
                share_ratio = ra["sum_tokens"] / rb["sum_tokens"]
                weight_ratio = ra["weight"] / rb["weight"]
                assert abs(weight_ratio - share_ratio**0.7) <= 0.01 * share_ratio**0.7
                assert weight_ratio < share_ratio
    # and the smallest source gains mass relative to the largest
    lo = min(rows, key=lambda r: r["sum_tokens"])
    hi = max(rows, key=lambda r: r["sum_tokens"])
    if hi["sum_tokens"] > lo["sum_tokens"] * 1.01:
        assert lo["weight"] / lo["token_share"] > hi["weight"] / hi["token_share"]
    by_share = sorted(rows, key=lambda r: r["token_share"])
    by_weight = sorted(rows, key=lambda r: r["weight"])
    assert [r["source"] for r in by_share] == [r["source"] for r in by_weight]


def test_session_overlap_matches_bruteforce(spark, sf_dir):
    """Independent implementation: all-pairs Python loop over the
    sessionization operator's own spans (no bucketing anywhere) must
    reproduce the bucketized join's pair set exactly — proving the
    bucket decomposition neither drops boundary-spanning overlaps nor
    double-counts pairs that share several buckets."""
    spans = [
        (r["user_id"], r["session_seq"], r["session_start"], r["session_end"])
        for r in _rows("stream_session", spark, sf_dir)
    ]
    expect = {}
    for ua, sa, st_a, en_a in spans:
        for ub, sb, st_b, en_b in spans:
            if ua < ub and st_a <= en_b and st_b <= en_a:
                ovl = (
                    min(en_a, en_b) - max(st_a, st_b)
                ).total_seconds()
                expect[(ua, sa, ub, sb)] = round(ovl * 1_000_000)
    got = {
        (r["user_a"], r["session_a"], r["user_b"], r["session_b"]): r["overlap_us"]
        for r in _rows("join_session_overlap", spark, sf_dir)
    }
    rows = _rows("join_session_overlap", spark, sf_dir)
    assert len(rows) == len(got), "duplicate pairs emitted"
    assert got == expect
    assert expect, "fixture corpus has no overlapping sessions"


def test_session_overlap_dedups_multi_bucket_pairs(spark, tmp_path):
    """Planted case the corpus lacks: two users whose sessions overlap
    ACROSS an hour-bucket boundary (the pair is a candidate in every
    shared bucket) must be emitted exactly once, with the exact overlap
    span; a third user far away must pair with no one."""
    import datetime as dt

    import pandas as pd

    t0 = dt.datetime(2024, 3, 1, 10, 30)  # 10:30 — sessions straddle 11:00 and 12:00
    recs = []
    eid = 0

    def emit(user, start, minutes_list):
        nonlocal eid
        for m in minutes_list:
            recs.append(
                {
                    "event_id": eid,
                    "ts": start + dt.timedelta(minutes=m),
                    "user_id": user,
                    "event_type": "click",
                    "value": 1.0,
                    "props": "{}",
                }
            )
            eid += 1

    emit(1, t0, range(0, 120, 20))  # one session 10:30-12:10 (gaps 20min < 30)
    emit(2, t0 + dt.timedelta(minutes=30), range(0, 100, 20))  # 11:00-12:40
    emit(3, t0 + dt.timedelta(hours=30), [0])  # isolated
    d = str(tmp_path / "sfovl")
    os.makedirs(d)
    pd.DataFrame(recs).to_parquet(d + "/events.parquet", index=False)

    rows = _rows("join_session_overlap", spark, d)
    assert len(rows) == 1
    r = rows[0]
    assert (r["user_a"], r["user_b"]) == (1, 2)
    # overlap = [11:00, 12:10] — 70 minutes, crossing the 11:00 and
    # 12:00 bucket boundaries (3 shared buckets, emitted once)
    assert r["overlap_start"] == t0 + dt.timedelta(minutes=30)
    assert r["overlap_end"] == t0 + dt.timedelta(minutes=100)
    assert r["overlap_us"] == 70 * 60 * 1_000_000


def test_overlap_rollup_matches_pair_list(spark, sf_dir):
    """Independent implementation: a Python dict-fold over the pair
    list must reproduce the per-user rollup exactly (partner sets,
    pair counts, total/max overlap)."""
    pairs = _rows("join_session_overlap", spark, sf_dir)
    agg = {}
    for r in pairs:
        for me, other in ((r["user_a"], r["user_b"]), (r["user_b"], r["user_a"])):
            a = agg.setdefault(me, {"partners": set(), "n": 0, "tot": 0, "mx": None})
            a["partners"].add(other)
            a["n"] += 1
            a["tot"] += r["overlap_us"]
            a["mx"] = r["overlap_us"] if a["mx"] is None else max(a["mx"], r["overlap_us"])
    got = {
        r["user_id"]: (r["n_partners"], r["n_overlaps"], r["total_overlap_us"], r["max_overlap_us"])
        for r in _rows("join_overlap_rollup", spark, sf_dir)
    }
    expect = {
        u: (len(a["partners"]), a["n"], a["tot"], a["mx"]) for u, a in agg.items()
    }
    assert got == expect
    assert expect, "fixture corpus has no overlapping sessions"


def test_concurrency_sweep_matches_bruteforce(spark, sf_dir):
    """Independent implementation: a sequential Python sweep over the
    sessionization operator's own spans (sorted boundary list, running
    counter, per-hour max) must reproduce the distributed prefix-sum's
    per-hour peaks and boundary counts exactly."""
    import calendar

    HOUR_US = 3_600_000_000

    def us(d):
        # integer epoch-micros from the naive datetime's own fields
        # (float .timestamp() round-trips can wobble a microsecond)
        return calendar.timegm(d.timetuple()) * 1_000_000 + d.microsecond

    bounds = []
    for r in _rows("stream_session", spark, sf_dir):
        bounds.append((us(r["session_start"]), 1, r["user_id"], r["session_seq"]))
        bounds.append((us(r["session_end"]), -1, r["user_id"], r["session_seq"]))
    # +1 before -1 at equal ts: sort key delta DESC
    bounds.sort(key=lambda b: (b[0], -b[1], b[2], b[3]))
    run = 0
    peaks: dict[int, int] = {}
    counts: dict[int, int] = {}
    for ts, d, _, _ in bounds:
        run += d
        h = ts // HOUR_US
        counts[h] = counts.get(h, 0) + 1
        peaks[h] = max(peaks.get(h, run), run)
    got = {}
    for r in _rows("events_concurrency_sweep", spark, sf_dir):
        got[us(r["hour_start"]) // HOUR_US] = (
            r["n_boundaries"],
            r["peak_concurrency"],
        )
    assert got == {h: (counts[h], peaks[h]) for h in counts}
    assert run == 0, "sweep must return to zero concurrency"


def test_ks_source_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: per-pair sorted-sample ECDF scan in
    exact Fraction arithmetic must reproduce the KS statistic and its
    smallest attaining grid value."""
    from fractions import Fraction

    samples = {}
    for source, x in duck.execute("SELECT source, n_chars FROM documents").fetchall():
        samples.setdefault(source, []).append(x)
    got = {
        (r["source_a"], r["source_b"]): r for r in _rows("stats_ks_source", spark, sf_dir)
    }
    srcs = sorted(samples)
    expect_pairs = {(a, b) for i, a in enumerate(srcs) for b in srcs[i + 1 :]}
    assert set(got) == expect_pairs
    for (sa, sb), r in got.items():
        va, vb = sorted(samples[sa]), sorted(samples[sb])
        na, nb = len(va), len(vb)
        assert (r["n_a"], r["n_b"]) == (na, nb)
        best, best_x = Fraction(0), None
        for x in sorted(set(va) | set(vb)):
            import bisect

            d = abs(
                Fraction(bisect.bisect_right(va, x), na)
                - Fraction(bisect.bisect_right(vb, x), nb)
            )
            if d > best:
                best, best_x = d, x
        assert abs(r["ks_stat"] - float(best)) <= 1e-6, (sa, sb)
        assert r["ks_at_value"] == best_x, (sa, sb)


def test_top_terms_invariants(spark, sf_dir):
    """Composition check against the oracle-verified tfidf frame: every
    emitted (doc, token) weight must equal the tfidf operator's weight,
    ranks are 1..k dense per doc, and no unlisted token of the doc
    out-weighs a listed one (the cut is correct, not just sorted)."""
    tfidf = {}
    for r in _rows("text_wordcount_tfidf", spark, sf_dir):
        tfidf.setdefault(r["doc_id"], {})[r["token"]] = r["tfidf"]
    top = {}
    for r in _rows("text_top_terms", spark, sf_dir):
        top.setdefault(r["doc_id"], []).append(r)
    assert set(top) == set(tfidf)
    for doc_id, rows in top.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) == min(3, len(tfidf[doc_id]))
        listed = set()
        for r in rows:
            assert tfidf[doc_id][r["token"]] == r["tfidf"]
            listed.add(r["token"])
        cut = min((r["tfidf"], r["token"]) for r in rows)
        for token, wgt in tfidf[doc_id].items():
            if token not in listed:
                # strictly after the cut in the (tfidf desc, token asc) order
                assert wgt < cut[0] or (wgt == cut[0] and token > cut[1]), (
                    doc_id,
                    token,
                )


def test_gini_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: textbook mean-absolute-difference
    Gini (O(n²) over pairs, exact Fraction arithmetic) must agree with
    the sorted-rank identity the operator uses."""
    from fractions import Fraction

    lens = {}
    for source, text in duck.execute("SELECT source, text FROM documents").fetchall():
        lens.setdefault(source, []).append(len(text.split(" ")))
    got = {r["source"]: r for r in _rows("stats_gini_tokens", spark, sf_dir)}
    assert set(got) == set(lens)
    for source, xs in lens.items():
        n, tot = len(xs), sum(xs)
        mad = sum(abs(a - b) for a in xs for b in xs)  # includes both orders
        gini = Fraction(mad, 2 * n * n) / Fraction(tot, n)
        r = got[source]
        assert (r["n_docs"], r["sum_tokens"]) == (n, tot)
        assert abs(r["gini"] - float(gini)) <= 1e-6, source
        assert 0.0 <= r["gini"] < 1.0


def test_semantic_keep_matches_union_find(spark, sf_dir):
    """Independent implementation: driver-side union-find over the
    oracle-checked embed-cosine pair list must reproduce keeper ids,
    sizes, and keep/drop actions; exactly one keep per cluster and the
    keeper keeps itself."""
    from data_collection_ieee_spark.catalog import load_table

    pairs = [(r["a_id"], r["b_id"]) for r in _rows("dedup_embed_cosine", spark, sf_dir)]
    nodes = {
        r["vec_id"]
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id").collect()
    }
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), set()).add(n)
    keeper = {n: min(comp[find(n)]) for n in nodes}
    got = {r["vec_id"]: r for r in _rows("dedup_semantic_keep", spark, sf_dir)}
    assert set(got) == nodes
    kept = 0
    for n in nodes:
        r = got[n]
        assert r["keeper_id"] == keeper[n], n
        assert r["cluster_size"] == len(comp[find(n)]), n
        assert r["action"] == ("keep" if n == keeper[n] else "drop"), n
        kept += r["action"] == "keep"
    assert kept == len(comp)
    assert pairs, "fixture has no semantic near-dups; threshold too high"


def test_scorecard_consistent_with_constituents(spark, sf_dir):
    """The labels table must agree row-by-row with the operators it
    joins, and final_verdict must be the first non-keep by precedence
    (quality > repetition > rarity)."""
    qual = {r["doc_id"]: r["verdict"] for r in _rows("pipeline_quality_filter", spark, sf_dir)}
    rep = {r["doc_id"]: r["verdict"] for r in _rows("text_repetition_signals", spark, sf_dir)}
    rar = {r["doc_id"]: r["verdict"] for r in _rows("text_token_rarity", spark, sf_dir)}
    lang = {r["doc_id"]: r["pred_lang"] for r in _rows("text_lang_id", spark, sf_dir)}
    rows = _rows("pipeline_doc_scorecard", spark, sf_dir)
    assert {r["doc_id"] for r in rows} == set(qual)
    n_nonkeep = 0
    for r in rows:
        d = r["doc_id"]
        assert r["quality_verdict"] == qual[d]
        assert r["repetition_verdict"] == rep[d]
        assert r["rarity_verdict"] == rar[d]
        assert r["pred_lang"] == lang[d]
        expected = next(
            (v for v in (qual[d], rep[d], rar[d]) if v != "keep"), "keep"
        )
        assert r["final_verdict"] == expected, d
        n_nonkeep += expected != "keep"
    assert n_nonkeep > 0, "fixture corpus trips no filter; thresholds untested"


def test_tpch_q5_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: a pure-Python hash-join chain in
    exact Decimal arithmetic over the base tables must reproduce the
    per-nation revenue and the rank order."""
    from decimal import Decimal

    cust = dict(duck.execute("SELECT c_custkey, c_nationkey FROM customer").fetchall())
    orders = {
        k: c
        for k, c, d in duck.execute(
            "SELECT o_orderkey, o_custkey, o_orderdate FROM orders"
        ).fetchall()
        if "1996-01-01" <= str(d) < "1997-01-01"
    }
    supp = dict(duck.execute("SELECT s_suppkey, s_nationkey FROM supplier").fetchall())
    nations = dict(
        duck.execute(
            "SELECT n_nationkey, n_name FROM nation JOIN region "
            "ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'"
        ).fetchall()
    )
    rev: dict = {}
    for ok, sk, price, disc in duck.execute(
        "SELECT l_orderkey, l_suppkey, l_extendedprice, l_discount FROM lineitem"
    ).fetchall():
        if ok not in orders:
            continue
        c_nat = cust[orders[ok]]
        s_nat = supp[sk]
        if c_nat != s_nat or s_nat not in nations:
            continue
        p = Decimal(str(price)).quantize(Decimal("0.01"))
        d = Decimal(str(disc)).quantize(Decimal("0.01"))
        rev[nations[s_nat]] = rev.get(nations[s_nat], Decimal(0)) + p * (1 - d)
    got = _rows("tpch_q5_local_supplier", spark, sf_dir)
    assert {r["n_name"] for r in got} == set(rev)
    for r in got:
        assert abs(r["revenue"] - float(rev[r["n_name"]])) <= 1e-6, r["n_name"]
    ordered = sorted(got, key=lambda r: (-r["revenue"], r["n_name"]))
    assert [r["rank"] for r in ordered] == list(range(1, len(got) + 1))


def test_chi2_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: Counter contingency table + float
    chi-square loop must agree with the decimal-accumulated statistic."""
    from collections import Counter

    cells = Counter()
    for source, lang in duck.execute("SELECT source, lang FROM documents").fetchall():
        cells[(source, lang)] += 1
    n = sum(cells.values())
    rows = Counter()
    cols = Counter()
    for (s, l), c in cells.items():
        rows[s] += c
        cols[l] += c
    chi2 = 0.0
    for (s, l), o in cells.items():
        e = rows[s] * cols[l] / n
        chi2 += (o - e) ** 2 / e
    [r] = _rows("stats_chi2_independence", spark, sf_dir)
    assert r["n_docs"] == n
    assert (r["n_sources"], r["n_langs"]) == (len(rows), len(cols))
    assert r["dof"] == (len(rows) - 1) * (len(cols) - 1)
    assert abs(r["chi2"] - chi2) <= 1e-5
    assert r["chi2"] >= 0.0


def test_orc_roundtrip_is_value_exact(spark, sf_dir):
    """The ORC sink/source pair must return the exact source multiset —
    same contract the CSV/JSON roundtrips are held to."""
    src = sorted(
        tuple(r)
        for r in registry.QUERIES["scan_parquet"](spark, sf_dir).collect()
    )
    back = sorted(
        tuple(r)
        for r in registry.QUERIES["scan_orc_roundtrip"](spark, sf_dir).collect()
    )
    assert src == back


def test_tpch_q7_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: Decimal hash-join loop over the base
    tables must reproduce every (supp_nation, cust_nation, year) cell."""
    from decimal import Decimal

    supp = dict(duck.execute("SELECT s_suppkey, s_nationkey FROM supplier").fetchall())
    ordc = dict(duck.execute("SELECT o_orderkey, o_custkey FROM orders").fetchall())
    cust = dict(duck.execute("SELECT c_custkey, c_nationkey FROM customer").fetchall())
    nat = dict(duck.execute("SELECT n_nationkey, n_name FROM nation").fetchall())
    ref: dict = {}
    for ok, sk, price, disc, sd in duck.execute(
        "SELECT l_orderkey, l_suppkey, l_extendedprice, l_discount, l_shipdate "
        "FROM lineitem"
    ).fetchall():
        if not ("1996-01-01" <= str(sd) < "1998-01-01"):
            continue
        sn, cn = supp[sk], cust[ordc[ok]]
        if sn == cn:
            continue
        key = (nat[sn], nat[cn], sd.year)
        p = Decimal(str(price)).quantize(Decimal("0.01"))
        d = Decimal(str(disc)).quantize(Decimal("0.01"))
        ref[key] = ref.get(key, Decimal(0)) + p * (1 - d)
    got = {
        (r["supp_nation"], r["cust_nation"], r["l_year"]): r["revenue"]
        for r in _rows("tpch_q7_volume_shipping", spark, sf_dir)
    }
    assert set(got) == set(ref)
    for k, v in ref.items():
        assert abs(got[k] - float(v)) <= 1e-6, k


def test_tpch_q10_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: per-customer returned-item revenue in
    the quarter, verified for the reported top-20 plus rank order."""
    from decimal import Decimal

    cust = {
        k: (n, b, nk)
        for k, n, b, nk in duck.execute(
            "SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM customer"
        ).fetchall()
    }
    nat = dict(duck.execute("SELECT n_nationkey, n_name FROM nation").fetchall())
    orders = {
        k: c
        for k, c, d in duck.execute(
            "SELECT o_orderkey, o_custkey, o_orderdate FROM orders"
        ).fetchall()
        if "1996-01-01" <= str(d) < "1996-04-01"
    }
    rev: dict = {}
    for ok, price, disc, rf in duck.execute(
        "SELECT l_orderkey, l_extendedprice, l_discount, l_returnflag FROM lineitem"
    ).fetchall():
        if rf != "R" or ok not in orders:
            continue
        ck = orders[ok]
        p = Decimal(str(price)).quantize(Decimal("0.01"))
        d = Decimal(str(disc)).quantize(Decimal("0.01"))
        rev[ck] = rev.get(ck, Decimal(0)) + p * (1 - d)
    top = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = _rows("tpch_q10_returned_items", spark, sf_dir)
    assert [r["c_custkey"] for r in sorted(got, key=lambda r: r["rank"])] == [
        ck for ck, _ in top
    ]
    for r in got:
        assert abs(r["revenue"] - float(rev[r["c_custkey"]])) <= 1e-6
        name, bal, nk = cust[r["c_custkey"]]
        assert (r["c_name"], r["n_name"]) == (name, nat[nk])


def test_tpch_q14_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: Decimal conditional sums over the
    lineitem-part join for the promo month."""
    from decimal import Decimal

    ptype = dict(duck.execute("SELECT p_partkey, p_type FROM part").fetchall())
    promo = total = Decimal(0)
    for pk, price, disc, sd in duck.execute(
        "SELECT l_partkey, l_extendedprice, l_discount, l_shipdate FROM lineitem"
    ).fetchall():
        if not ("1997-09-01" <= str(sd) < "1997-10-01"):
            continue
        p = Decimal(str(price)).quantize(Decimal("0.01"))
        d = Decimal(str(disc)).quantize(Decimal("0.01"))
        r = p * (1 - d)
        total += r
        if ptype[pk] == "PROMO":
            promo += r
    [r] = _rows("tpch_q14_promo_share", spark, sf_dir)
    assert abs(r["promo_revenue"] - float(promo)) <= 1e-6
    assert abs(r["total_revenue"] - float(total)) <= 1e-6
    assert abs(r["promo_pct"] - 100.0 * float(promo) / float(total)) <= 1e-5
    assert 0.0 < r["promo_pct"] < 100.0, "degenerate month: promo share untested"


def test_tpch_q18_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: per-order quantity totals + threshold
    + value ordering, against a pure-Python scan."""
    qty: dict = {}
    for ok, q in duck.execute(
        "SELECT l_orderkey, l_quantity FROM lineitem"
    ).fetchall():
        qty[ok] = qty.get(ok, 0.0) + q
    big = {ok: q for ok, q in qty.items() if q > 300}
    assert big, "threshold prunes everything; raise SF or lower it"
    orders = {
        k: (c, d, t)
        for k, c, d, t in duck.execute(
            "SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders"
        ).fetchall()
    }
    expected = sorted(big, key=lambda ok: (-orders[ok][2], ok))[:100]
    got = sorted(_rows("tpch_q18_big_orders", spark, sf_dir), key=lambda r: r["rank"])
    assert [r["o_orderkey"] for r in got] == expected
    for r in got:
        assert abs(r["total_qty"] - big[r["o_orderkey"]]) <= 1e-9
        assert r["o_totalprice"] == orders[r["o_orderkey"]][2]


def test_hash_split_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: hashlib md5 bucket per doc must
    reproduce the split counts, and shares must sum to 1."""
    import hashlib

    counts = {"train": 0, "val": 0, "test": 0}
    chars = {"train": 0, "val": 0, "test": 0}
    for doc_id, n_chars in duck.execute(
        "SELECT doc_id, n_chars FROM documents"
    ).fetchall():
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100
        split = "train" if b < 80 else ("val" if b < 90 else "test")
        counts[split] += 1
        chars[split] += n_chars
    n = sum(counts.values())
    got = {r["split"]: r for r in _rows("sample_hash_split", spark, sf_dir)}
    assert set(got) == {k for k, v in counts.items() if v > 0}
    for s, r in got.items():
        assert r["n_docs"] == counts[s], s
        assert r["sum_chars"] == chars[s], s
        assert abs(r["share"] - counts[s] / n) <= 1e-6
    assert abs(sum(r["share"] for r in got.values()) - 1.0) <= 3e-6


def test_centroid_drift_matches_numpy_reference(spark, sf_dir, duck):
    """Independent implementation: numpy per-label mean vs global mean
    cosine must agree with the two-stage aggregate to 1e-5."""
    import numpy as np

    rows = duck.execute("SELECT label, embedding FROM embeddings").fetchall()
    by_label: dict = {}
    for label, emb in rows:
        by_label.setdefault(label, []).append(np.asarray(emb, dtype=np.float64))
    g = np.mean([v for vs in by_label.values() for v in vs], axis=0)
    got = {r["label"]: r for r in _rows("embed_centroid_drift", spark, sf_dir)}
    assert set(got) == set(by_label)
    for label, vs in by_label.items():
        m = np.mean(vs, axis=0)
        cos = float(m @ g / (np.linalg.norm(m) * np.linalg.norm(g)))
        assert got[label]["n_vecs"] == len(vs)
        assert abs(got[label]["cos_to_global"] - cos) <= 1e-5, label


def test_tpch_q6_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: Decimal filter-and-sum loop; also
    pins that the band edges are decided in decimal, not double."""
    from decimal import Decimal

    n = 0
    tot = Decimal(0)
    lo, hi = Decimal("0.05"), Decimal("0.07")
    for price, disc, qty, sd in duck.execute(
        "SELECT l_extendedprice, l_discount, l_quantity, l_shipdate FROM lineitem"
    ).fetchall():
        if not ("1997-01-01" <= str(sd) < "1998-01-01"):
            continue
        d = Decimal(str(disc)).quantize(Decimal("0.01"))
        if not (lo <= d <= hi and qty < 24):
            continue
        n += 1
        tot += Decimal(str(price)).quantize(Decimal("0.01")) * d
    [r] = _rows("tpch_q6_forecast_revenue", spark, sf_dir)
    assert r["n_lines"] == n and n > 0
    assert abs(r["revenue_delta"] - float(tot)) <= 1e-6


def test_tpch_q13_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: Counter over the outer join,
    including the zero-order customers a WHERE clause would lose."""
    from collections import Counter

    per_cust = Counter()
    custs = [
        k for (k,) in duck.execute("SELECT c_custkey FROM customer").fetchall()
    ]
    for ck, pri in duck.execute(
        "SELECT o_custkey, o_orderpriority FROM orders"
    ).fetchall():
        if pri != "1-URGENT":
            per_cust[ck] += 1
    dist = Counter(per_cust.get(ck, 0) for ck in custs)
    got = {r["c_count"]: r["custdist"] for r in _rows("tpch_q13_customer_distribution", spark, sf_dir)}
    assert got == dict(dist)
    # the urgent-only/orderless bucket must exist for the outer join to
    # have been exercised; if this fires the fixture no longer covers it
    assert 0 in got or all(per_cust.get(ck, 0) > 0 for ck in custs)


def test_tpch_q19_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: per-arm Decimal loop; every OR arm
    must contribute at least one line so the disjunction is exercised."""
    from decimal import Decimal

    part = {
        k: (b, s)
        for k, b, s in duck.execute(
            "SELECT p_partkey, p_brand, p_size FROM part"
        ).fetchall()
    }
    arms = [("Brand#12", 1, 15, 1, 15), ("Brand#23", 1, 20, 10, 25), ("Brand#14", 1, 25, 20, 35)]
    n = 0
    tot = Decimal(0)
    arm_hits = [0, 0, 0]
    for pk, qty, price, disc in duck.execute(
        "SELECT l_partkey, l_quantity, l_extendedprice, l_discount FROM lineitem"
    ).fetchall():
        b, s = part[pk]
        hit = False
        for i, (brand, smin, smax, qmin, qmax) in enumerate(arms):
            if b == brand and smin <= s <= smax and qmin <= qty <= qmax:
                arm_hits[i] += 1
                hit = True
        if hit:
            n += 1
            p = Decimal(str(price)).quantize(Decimal("0.01"))
            d = Decimal(str(disc)).quantize(Decimal("0.01"))
            tot += p * (1 - d)
    [r] = _rows("tpch_q19_disjunctive_revenue", spark, sf_dir)
    assert r["n_lines"] == n
    assert abs(r["revenue"] - float(tot)) <= 1e-6
    assert all(h > 0 for h in arm_hits), f"dead OR arm: {arm_hits}"


def test_tpch_q22_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: Decimal mean threshold + set-based
    anti join per nation."""
    from decimal import Decimal

    custs = duck.execute(
        "SELECT c_custkey, c_nationkey, c_acctbal FROM customer"
    ).fetchall()
    pos = [Decimal(str(b)).quantize(Decimal("0.01")) for _, _, b in custs if b > 0]
    mean = float(sum(pos)) / len(pos)
    recent = {
        ck
        for ck, d in duck.execute(
            "SELECT o_custkey, o_orderdate FROM orders"
        ).fetchall()
        if str(d) >= "2000-01-01"
    }
    nat = dict(duck.execute("SELECT n_nationkey, n_name FROM nation").fetchall())
    agg: dict = {}
    for ck, nk, bal in custs:
        if bal > mean and ck not in recent:
            n, s = agg.get(nat[nk], (0, Decimal(0)))
            agg[nat[nk]] = (n + 1, s + Decimal(str(bal)).quantize(Decimal("0.01")))
    got = {r["n_name"]: r for r in _rows("tpch_q22_idle_capital", spark, sf_dir)}
    assert set(got) == set(agg) and agg, "no idle high-balance customers in fixture"
    for name, (n, s) in agg.items():
        assert got[name]["n_custs"] == n
        assert abs(got[name]["total_acctbal"] - float(s)) <= 1e-6


def test_novelty_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: dict-based first-claimant scan over
    string 8-grams; also pins the boundary invariants (first doc fully
    novel, ratios in (0,1])."""
    docs = sorted(
        duck.execute("SELECT doc_id, text FROM documents").fetchall()
    )
    gram_owner: dict = {}
    per_doc = {}
    for doc_id, text in docs:
        toks = text.split(" ")
        if len(toks) < 8:
            continue
        grams = {" ".join(toks[i : i + 8]) for i in range(len(toks) - 7)}
        for g in grams:
            gram_owner.setdefault(g, doc_id)
        per_doc[doc_id] = grams
    got = {r["doc_id"]: r for r in _rows("text_novelty_ratio", spark, sf_dir)}
    assert set(got) == set(per_doc)
    for doc_id, grams in per_doc.items():
        novel = sum(1 for g in grams if gram_owner[g] == doc_id)
        r = got[doc_id]
        assert r["n_grams"] == len(grams), doc_id
        assert r["n_novel"] == novel, doc_id
        assert abs(r["novelty"] - novel / len(grams)) <= 1e-6
    first = min(per_doc)
    assert got[first]["novelty"] == 1.0


def test_langid_confusion_consistent_with_lang_id(spark, sf_dir):
    """The confusion matrix must be exactly the groupBy of
    text_lang_id's per-doc predictions — the two restatements of the
    classifier may never drift."""
    from collections import Counter

    preds = Counter(
        (r["actual_lang"], r["pred_lang"])
        for r in _rows("text_lang_id", spark, sf_dir)
    )
    rows_tot = Counter()
    for (a, _), n in preds.items():
        rows_tot[a] += n
    got = {
        (r["actual_lang"], r["pred_lang"]): r
        for r in _rows("text_langid_confusion", spark, sf_dir)
    }
    assert set(got) == set(preds)
    for k, r in got.items():
        assert r["n_docs"] == preds[k]
        assert abs(r["row_share"] - preds[k] / rows_tot[k[0]]) <= 1e-6
    # row shares sum to 1 per actual language
    for a in rows_tot:
        s = sum(r["row_share"] for k, r in got.items() if k[0] == a)
        assert abs(s - 1.0) <= 1e-5, a


def test_token_deciles_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: sorted-list nearest-rank picks."""
    import math

    by_source: dict = {}
    for source, text in duck.execute(
        "SELECT source, text FROM documents"
    ).fetchall():
        by_source.setdefault(source, []).append(len(text.split(" ")))
    got = {
        (r["source"], r["decile"]): r["cut_tokens"]
        for r in _rows("stats_token_deciles", spark, sf_dir)
    }
    expected = {}
    for source, xs in by_source.items():
        xs.sort()
        for d in range(1, 10):
            expected[(source, d)] = xs[math.ceil(d * len(xs) / 10) - 1]
    assert got == expected
    # deciles are monotone within each source
    for source in by_source:
        cuts = [got[(source, d)] for d in range(1, 10)]
        assert cuts == sorted(cuts), source


def test_zipf_slope_matches_numpy_reference(spark, sf_dir, duck):
    """Independent implementation: Counter + numpy polyfit over the
    same top-100 ranks; natural-ish text must slope downward."""
    import numpy as np
    from collections import Counter

    freq = Counter()
    for (text,) in duck.execute("SELECT text FROM documents").fetchall():
        freq.update(text.split(" "))
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    x = np.log10(np.arange(1, len(top) + 1, dtype=float))
    y = np.log10(np.array([f for _, f in top], dtype=float))
    slope, intercept = np.polyfit(x, y, 1)
    [r] = _rows("stats_zipf_slope", spark, sf_dir)
    assert r["n_terms"] == len(top)
    assert abs(r["zipf_slope"] - slope) <= 1e-5
    assert abs(r["zipf_intercept"] - intercept) <= 1e-5
    assert r["zipf_slope"] < 0.0, "frequency must decay with rank"


def test_dataset_card_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: dict accumulation per source with
    hashlib-keyed exact-duplicate detection."""
    import hashlib

    stats: dict = {}
    for source, lang, n_chars, text in duck.execute(
        "SELECT source, lang, n_chars, text FROM documents"
    ).fetchall():
        s = stats.setdefault(source, {"n": 0, "chars": 0, "langs": set(), "keys": set()})
        s["n"] += 1
        s["chars"] += n_chars
        s["langs"].add(lang)
        s["keys"].add(hashlib.md5(text.lower().encode()).hexdigest())
    got = {r["source"]: r for r in _rows("pipeline_dataset_card", spark, sf_dir)}
    assert set(got) == set(stats)
    for source, s in stats.items():
        r = got[source]
        assert r["n_docs"] == s["n"]
        assert r["sum_chars"] == s["chars"]
        assert r["n_langs"] == len(s["langs"])
        assert r["n_unique"] == len(s["keys"])
        assert abs(r["dup_rate"] - (1.0 - len(s["keys"]) / s["n"])) <= 1e-6
        assert abs(r["mean_chars"] - s["chars"] / s["n"]) <= 1e-6


def test_merge_schema_null_extends_old_generation(spark, sf_dir):
    """The merged read must null-extend exactly the old generation's
    rows and preserve the new generation's values byte-for-byte."""
    src = registry.QUERIES["scan_parquet"](spark, sf_dir)
    got = registry.QUERIES["scan_parquet_merge_schema"](spark, sf_dir)
    assert got.count() == src.count()
    old = got.filter("l_linenumber = 1")
    assert old.filter("l_returnflag IS NOT NULL").count() == 0
    assert old.count() == src.filter("l_linenumber = 1").count()
    new_src = sorted(
        tuple(r) for r in src.filter("l_linenumber <> 1").collect()
    )
    new_got = sorted(
        tuple(r) for r in got.filter("l_linenumber <> 1").collect()
    )
    assert new_src == new_got


def test_conversion_lag_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: per-user first-signup/first-purchase
    scan + sorted nearest-rank quantiles per cohort."""
    import math

    signup: dict = {}
    purchases: dict = {}
    for uid, et, ts in duck.execute(
        "SELECT user_id, event_type, ts FROM events"
    ).fetchall():
        if et == "signup":
            signup[uid] = min(signup.get(uid, ts), ts)
        elif et == "purchase":
            purchases.setdefault(uid, []).append(ts)
    cohorts: dict = {}
    for uid, t0 in signup.items():
        month = f"{t0.year:04d}-{t0.month:02d}"
        c = cohorts.setdefault(month, {"n": 0, "lags": []})
        c["n"] += 1
        after = [t for t in purchases.get(uid, []) if t > t0]
        if after:
            dt = min(after) - t0
            c["lags"].append(int(dt.total_seconds() * 1_000_000))
    got = {r["cohort_month"]: r for r in _rows("events_conversion_lag", spark, sf_dir)}
    assert set(got) == set(cohorts)
    any_converted = False
    for month, c in cohorts.items():
        r = got[month]
        assert r["n_signups"] == c["n"]
        assert r["n_converted"] == len(c["lags"])
        assert abs(r["conv_rate"] - len(c["lags"]) / c["n"]) <= 1e-6
        if c["lags"]:
            any_converted = True
            lags = sorted(c["lags"])
            med = lags[math.ceil(len(lags) / 2) - 1] / 1e6
            p90 = lags[math.ceil(0.9 * len(lags)) - 1] / 1e6
            assert abs(r["median_lag_s"] - med) <= 1e-5, month
            assert abs(r["p90_lag_s"] - p90) <= 1e-5, month
        else:
            assert r["median_lag_s"] is None
    assert any_converted, "fixture has no signup->purchase conversions"


def test_tpch_q8_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: Decimal hash-join chain per year;
    the chosen nation's numerator must be live at this SF."""
    from decimal import Decimal

    ptype = dict(duck.execute("SELECT p_partkey, p_type FROM part").fetchall())
    orders = {
        k: (c, d.year)
        for k, c, d in duck.execute(
            "SELECT o_orderkey, o_custkey, o_orderdate FROM orders"
        ).fetchall()
        if "1996-01-01" <= str(d) < "1998-01-01"
    }
    cust = dict(duck.execute("SELECT c_custkey, c_nationkey FROM customer").fetchall())
    supp = dict(duck.execute("SELECT s_suppkey, s_nationkey FROM supplier").fetchall())
    nat = dict(duck.execute("SELECT n_nationkey, n_name FROM nation").fetchall())
    asia = {
        k
        for k, in duck.execute(
            "SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'ASIA'"
        ).fetchall()
    }
    per_year: dict = {}
    for ok, pk, sk, price, disc in duck.execute(
        "SELECT l_orderkey, l_partkey, l_suppkey, l_extendedprice, l_discount "
        "FROM lineitem"
    ).fetchall():
        if ok not in orders or ptype[pk] != "STANDARD":
            continue
        ck, year = orders[ok]
        if cust[ck] not in asia:
            continue
        p = Decimal(str(price)).quantize(Decimal("0.01"))
        d = Decimal(str(disc)).quantize(Decimal("0.01"))
        r = p * (1 - d)
        tot, nrev = per_year.get(year, (Decimal(0), Decimal(0)))
        if nat[supp[sk]] == "NATION_18":
            nrev += r
        per_year[year] = (tot + r, nrev)
    got = {r["o_year"]: r for r in _rows("tpch_q8_market_share", spark, sf_dir)}
    assert set(got) == set(per_year)
    assert any(n > 0 for _, n in per_year.values()), "dead numerator at this SF"
    for year, (tot, nrev) in per_year.items():
        r = got[year]
        assert abs(r["market_revenue"] - float(tot)) <= 1e-6
        assert abs(r["nation_revenue"] - float(nrev)) <= 1e-6
        assert abs(r["mkt_share"] - float(nrev) / float(tot)) <= 1e-5


def test_tpch_q15_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: Decimal per-supplier sums + exact
    max; equality-on-max must surface every tied supplier."""
    from decimal import Decimal

    rev: dict = {}
    for sk, price, disc, sd in duck.execute(
        "SELECT l_suppkey, l_extendedprice, l_discount, l_shipdate FROM lineitem"
    ).fetchall():
        if not ("1996-01-01" <= str(sd) < "1996-04-01"):
            continue
        p = Decimal(str(price)).quantize(Decimal("0.01"))
        d = Decimal(str(disc)).quantize(Decimal("0.01"))
        rev[sk] = rev.get(sk, Decimal(0)) + p * (1 - d)
    m = max(rev.values())
    expected = {sk for sk, v in rev.items() if v == m}
    got = _rows("tpch_q15_top_supplier", spark, sf_dir)
    assert {r["s_suppkey"] for r in got} == expected
    for r in got:
        assert abs(r["total_revenue"] - float(m)) <= 1e-6


def test_tpch_q17_matches_python_reference(spark, sf_dir, duck):
    """Independent implementation: per-part Decimal averages + strict
    threshold scan."""
    from decimal import Decimal

    brand_parts = {
        k
        for k, in duck.execute(
            "SELECT p_partkey FROM part WHERE p_brand = 'Brand#7'"
        ).fetchall()
    }
    lines = [
        (pk, qty, price)
        for pk, qty, price in duck.execute(
            "SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem"
        ).fetchall()
        if pk in brand_parts
    ]
    sums: dict = {}
    for pk, qty, _ in lines:
        s, c = sums.get(pk, (Decimal(0), 0))
        sums[pk] = (s + Decimal(str(qty)).quantize(Decimal("0.01")), c + 1)
    thresh = {pk: 0.2 * (float(s) / c) for pk, (s, c) in sums.items()}
    small = [
        (pk, price) for pk, qty, price in lines if qty < thresh[pk]
    ]
    tot = sum(
        (Decimal(str(price)).quantize(Decimal("0.01")) for _, price in small),
        Decimal(0),
    )
    [r] = _rows("tpch_q17_small_qty_revenue", spark, sf_dir)
    assert r["n_lines"] == len(small) and small
    assert abs(r["small_qty_revenue"] - float(tot)) <= 1e-6
    assert abs(r["avg_yearly"] - float(tot) / 7.0) <= 1e-5


def test_compaction_reduces_file_count_and_preserves_values(spark, sf_dir):
    """The compacted copy must hold the exact source multiset in the
    target number of files (the part SQL cannot see)."""
    import glob
    import os
    import tempfile

    src = sorted(
        tuple(r) for r in registry.QUERIES["scan_parquet"](spark, sf_dir).collect()
    )
    got = sorted(
        tuple(r)
        for r in registry.QUERIES["sink_compact_small_files"](spark, sf_dir).collect()
    )
    assert src == got
    base = os.path.join(tempfile.gettempdir(), "dcis_scratch")
    frag = glob.glob(os.path.join(base, "compact_fragmented", "part-*"))
    compact = glob.glob(os.path.join(base, "compact_done", "part-*"))
    assert len(frag) == 64
    assert len(compact) == 4


def test_dynamic_overwrite_leaves_other_partitions_untouched(spark, sf_dir):
    """Dynamic mode must swap ONLY the rewritten partition: the other
    partitions' physical files must be byte-identical before and after,
    and the rewritten one must hold exactly the replacement rows."""
    import glob
    import hashlib
    import os
    import tempfile

    registry.QUERIES["sink_partitioned_overwrite"](spark, sf_dir).collect()
    base = os.path.join(
        tempfile.gettempdir(), "dcis_scratch", "dyn_overwrite_table"
    )

    def digests(flag):
        out = {}
        for f in glob.glob(os.path.join(base, f"l_returnflag={flag}", "part-*")):
            out[os.path.basename(f)] = hashlib.md5(open(f, "rb").read()).hexdigest()
        return out

    before = {flag: digests(flag) for flag in ("N", "A")}
    # second run: full write + dynamic overwrite again — N/A partitions
    # are rewritten by the FULL write, so capture after one more run and
    # instead verify within-run: re-run only the dynamic step by hand
    src = registry.QUERIES["scan_parquet"](spark, sf_dir)
    replacement = src.filter("l_returnflag = 'R' AND l_linenumber = 1")
    replacement.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("l_returnflag").parquet(base)
    after = {flag: digests(flag) for flag in ("N", "A")}
    assert before == after, "dynamic overwrite touched a foreign partition"
    r_rows = (
        spark.read.parquet(base).filter("l_returnflag = 'R'").count()
    )
    assert r_rows == replacement.count()
    # static mode on the same write would have truncated N/A entirely
    assert all(before[f] for f in before), "baseline partitions missing"


def test_text_log_roundtrip_exact(spark, sf_dir, duck):
    """Independent implementation: Python serialization of the same
    lines; the parse must reproduce every event exactly (no float
    drift — that is the point of the integer wire format)."""
    from datetime import datetime

    epoch = datetime(1970, 1, 1)
    expected = set()
    for eid, ts, uid, et, val in duck.execute(
        "SELECT event_id, ts, user_id, event_type, value FROM events"
    ).fetchall():
        # timezone-free arithmetic on the naive datetime (the parquet
        # timestamps are NTZ; .timestamp() would apply the host zone)
        d = ts - epoch
        us = (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
        expected.add((eid, us, uid, et, round(val * 100)))
    got = {
        (r["event_id"], r["ts_us"], r["user_id"], r["event_type"], r["value_cents"])
        for r in _rows("scan_text_log_roundtrip", spark, sf_dir)
    }
    assert got == expected


def test_percent_rank_cume_matches_naive_window(spark, sf_dir):
    """Independent implementation: the naive 3-partition Spark window
    (the exact form the distributed literal-boundary rank replaced —
    o_orderstatus has 3 distinct values, so it serializes into 3 tasks
    and cannot scale) must agree bit-for-bit with the shipped plan."""
    from pyspark.sql import Window, functions as F
    from data_collection_ieee_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    naive = {
        (r["o_orderkey"], r["pct_rank"], r["cume"])
        for r in o.select(
            "o_orderkey",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        ).collect()
    }
    got = {
        (r["o_orderkey"], r["pct_rank"], r["cume"])
        for r in _rows("win_percent_rank_cume", spark, sf_dir)
    }
    assert got == naive


def test_percent_rank_cume_null_status_partition(spark, tmp_path):
    """A NULL o_orderstatus is a legitimate window partition: the
    literal-boundary dispatch must rank it like any other status (r8
    ADVICE: `== lit(status)` let NULL rows fall through every branch
    and emit NULL ranks). NULL prices keep their dedicated bucket."""
    from pyspark.sql import Window, functions as F

    rows = [
        (1, "F", 10.0), (2, "F", 20.0), (3, None, 5.0), (4, None, 15.0),
        (5, None, 25.0), (6, "O", 30.0), (7, None, None), (8, "F", None),
    ]
    o = spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    o.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc_nulls_last(), "o_orderkey"
    )
    naive = {
        (r["o_orderkey"], r["pct_rank"], r["cume"])
        for r in o.select(
            "o_orderkey",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        ).collect()
    }
    got = {
        (r["o_orderkey"], r["pct_rank"], r["cume"])
        for r in _rows("win_percent_rank_cume", spark, str(tmp_path))
    }
    assert got == naive


def test_median_exact_matches_numpy(spark, sf_dir, duck):
    """Independent implementation: numpy linear-interpolation
    percentiles (the same percentile_cont formula) per return flag,
    checked against the bucket-selected-rank plan (which never sorts
    more than the target ranks' buckets)."""
    import numpy as np

    rows = duck.execute(
        "SELECT l_returnflag, CAST(l_quantity AS DOUBLE),"
        " CAST(l_extendedprice AS DOUBLE) FROM lineitem"
    ).fetchall()
    by_flag: dict = {}
    for flag, q, p in rows:
        by_flag.setdefault(flag, ([], []))
        by_flag[flag][0].append(q)
        by_flag[flag][1].append(p)
    expected = {
        flag: (
            round(float(np.percentile(qs, 50)), 4),
            round(float(np.percentile(qs, 90)), 4),
            round(float(np.percentile(ps, 50)), 4),
        )
        for flag, (qs, ps) in by_flag.items()
    }
    got = {
        r["l_returnflag"]: (r["med_qty"], r["p90_qty"], r["med_price"])
        for r in _rows("agg_median_exact", spark, sf_dir)
    }
    assert got == expected


def _write_lineitem(tmp_path, rows):
    import pandas as pd

    pd.DataFrame(
        rows, columns=["l_returnflag", "l_quantity", "l_extendedprice"]
    ).to_parquet(str(tmp_path / "lineitem.parquet"), index=False)
    return str(tmp_path)


def test_median_exact_heavy_tail_skew(spark, tmp_path):
    """width_bucket skew adversary: 99% of one group's values are
    identical, so the median's bracketing bucket holds nearly the whole
    group — the 'sort only small buckets' premise fails and the kept
    bucket degrades to a full-group sort. The answer must stay exact
    (numpy linear-interpolation reference); the degradation is a perf
    bound (== the rank-filter form it replaced), never a wrong row."""
    import numpy as np

    vals = [1.0] * 990 + [10.0**i for i in range(1, 11)]
    rows = [("S", v, v * 2) for v in vals]
    # second group: uniform spread, exercises the normal bucket path
    rows += [("U", float(i), float(i) * 3) for i in range(1, 501)]
    d = _write_lineitem(tmp_path, rows)
    expected = {}
    for flag, scale in (("S", vals), ("U", [float(i) for i in range(1, 501)])):
        qs = np.array(scale)
        ps = qs * (2 if flag == "S" else 3)
        expected[flag] = (
            round(float(np.percentile(qs, 50)), 4),
            round(float(np.percentile(qs, 90)), 4),
            round(float(np.percentile(ps, 50)), 4),
        )
    got = {
        r["l_returnflag"]: (r["med_qty"], r["p90_qty"], r["med_price"])
        for r in _rows("agg_median_exact", spark, d)
    }
    assert got == expected


def test_median_exact_all_null_group_keeps_row(spark, tmp_path):
    """percentile_cont semantics: a group whose metric values are all
    NULL keeps its output row with NULL quantiles (the DuckDB oracle's
    GROUP BY does), and NULLs inside a mixed group are skipped, not
    interpolated (r8 ADVICE: the old pre-grouping filter dropped the
    all-NULL group entirely)."""
    rows = [
        ("N", None, None),
        ("N", None, None),
        ("M", 1.0, None),
        ("M", 3.0, 10.0),
        ("M", None, 30.0),
    ]
    d = _write_lineitem(tmp_path, rows)
    got = {
        r["l_returnflag"]: (r["med_qty"], r["p90_qty"], r["med_price"])
        for r in _rows("agg_median_exact", spark, d)
    }
    assert set(got) == {"N", "M"}
    assert got["N"] == (None, None, None)
    # M: qty over [1,3] -> med 2.0, p90 2.8; price over [10,30] -> med 20.0
    assert got["M"] == (2.0, 2.8, 20.0)


def test_weighted_percentiles_match_python_reference(spark, sf_dir, duck):
    """Independent implementation: a driver-side sort + cumulative
    integer weight walk (the textbook lower weighted percentile) must
    match the bucket-selected distributed plan exactly."""
    rows = duck.execute(
        "SELECT lang, CAST(n_chars AS BIGINT),"
        " CAST(len(string_split(text, ' ')) AS BIGINT) FROM documents"
    ).fetchall()
    by_lang: dict = {}
    for lang, v, w in rows:
        by_lang.setdefault(lang, []).append((v, w))
    expected = {}
    for lang, vw in by_lang.items():
        vw.sort()
        tw = sum(w for _v, w in vw)
        med = p90 = None
        cum = 0
        for v, w in vw:
            cum += w
            if med is None and 2 * cum >= tw:
                med = v
            if p90 is None and 10 * cum >= 9 * tw:
                p90 = v
        expected[lang] = (med, p90)
    got = {
        r["lang"]: (r["w_med"], r["w_p90"])
        for r in _rows("agg_weighted_percentiles", spark, sf_dir)
    }
    assert got == expected


def test_weighted_percentiles_skew_and_ties(spark, tmp_path):
    """Heavy weight concentration: one giant-weight doc holds >90% of
    the mass, so both percentiles must land ON that doc's length, and
    value ties must merge (condition evaluated on the tie group's full
    prefix). Also covers a constant-length group (lo == hi -> single
    bucket)."""
    import pandas as pd

    rows = (
        [("en", 100, "x " * 9)] * 5          # 5 docs, len 100, w=10 each
        + [("en", 500, "y " * 999)]           # w=1000: >90% of en mass
        + [("de", 42, "z " * 4)] * 7          # constant length group
    )
    pd.DataFrame(
        [(lang, n, t) for lang, n, t in rows],
        columns=["lang", "n_chars", "text"],
    ).to_parquet(str(tmp_path / "documents.parquet"), index=False)
    got = {
        r["lang"]: (r["w_med"], r["w_p90"])
        for r in _rows("agg_weighted_percentiles", spark, str(tmp_path))
    }
    assert got == {"en": (500, 500), "de": (42, 42)}


def test_asof_nearest_matches_bruteforce(spark, sf_dir, duck):
    """Independent implementation: per-purchase python loop over that
    user's clicks picking min |gap| (tie -> backward; within a side,
    highest id backward / lowest id forward) must equal the
    single-shuffle union-window plan."""
    clicks: dict = {}
    for uid, us, eid in duck.execute(
        "SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)), event_id"
        " FROM events WHERE event_type = 'click'"
    ).fetchall():
        clicks.setdefault(uid, []).append((us, eid))
    expected = {}
    for uid, us, eid in duck.execute(
        "SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)), event_id"
        " FROM events WHERE event_type = 'purchase'"
    ).fetchall():
        cand = clicks.get(uid, [])
        back = max(((cus, cid) for cus, cid in cand if cus <= us), default=None)
        fwd = min(((cus, cid) for cus, cid in cand if cus > us), default=None)
        if back is None and fwd is None:
            continue
        if back is not None and (fwd is None or us - back[0] <= fwd[0] - us):
            expected[eid] = (back[1], back[0] - us, "back")
        else:
            expected[eid] = (fwd[1], fwd[0] - us, "forward")
    got = {
        r["purchase_id"]: (r["click_id"], r["gap_us"], r["direction"])
        for r in _rows("join_asof_nearest", spark, sf_dir)
    }
    assert got == expected
