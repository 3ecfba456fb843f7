"""Deduplication operators — the north-star LLM-data-pipeline surface.

Seven levels, each a `queries()` entry over the `documents` table:

- `dedup_exact_key`      exact content dedup via hash-groupBy (argmin keeper)
- `dedup_substring_exact` exact duplicated-PASSAGE spans (20-token
                         windows occurring at ≥2 corpus locations,
                         positional output, overlapping spans merged) —
                         the long-verbatim-passage removal step that
                         document-level similarity cannot express
- `dedup_ngram_jaccard`  exact near-dup pairs: word-trigram shingle hashes +
                         postings count-join + integer-exact Jaccard
- `dedup_minhash_lsh`    MinHash (128 perms, Arrow-vectorized) + LSH banding
                         (32×4) candidate join, then exact-Jaccard
                         verification — same result set as the exact oracle
                         (banding params put miss probability at ~5e-8 at
                         the 0.8 threshold)
- `dedup_simhash`        60-bit SimHash from a cross-engine md5-derived
                         token hash, folded in-row; pigeonhole-bucketed
                         hamming join (hamming ≤ 3 over 4 chunks ⇒ ≥ 1
                         exact chunk match — EXACT, no recall loss)
- `dedup_embed_cosine`   embedding-cosine near-dup via IVF-sharded block
                         matmul: centroid assignment + triangle-inequality
                         list-pair pruning (exact) + per-list-pair
                         applyInPandas blocks — no driver collect
- `dedup_cluster_assign` connected-component cluster labels over the exact
                         pair graph (iterative min-label propagation;
                         recursive-CTE oracle)

Reference lineage: the reference's implied dedup key is the canonical
DOI (its two encodings 'DOI: 10.…' / 'https://doi.org/10.…' — see
str_regex_normalize); `dedup_exact_key` generalizes that to content
hashing.

Scale notes (the whole point of the designs):
- exact dedup / jaccard: one shuffle on the hash / shingle key; the
  inverted index join is linear in total postings, never all-pairs.
- minhash: signatures are 128 longs/doc regardless of doc size; the
  banding join touches only colliding buckets. This is the 100 TB path.
- simhash: hamming-≤-k search via chunk pigeonholing is an equi-join —
  no quadratic scan — and stays exact.
- embed cosine: IVF list sharding with an exactness-preserving angular
  triangle-inequality prune on list pairs; compute is per-list-pair
  block matmuls, distributed and driver-collect-free at any scale.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_collection_ieee_spark.catalog import load_table, on_release, persist_tracked
from data_collection_ieee_spark.registry import query

# ---------------------------------------------------------------------------
# shared shingle/token helpers (Spark side)

JACCARD_THRESHOLD_PCT = 80  # integer-exact: 100*inter >= PCT*union


def _tokens(col: str = "text"):
    return F.split(F.col(col), " ")


_SHINGLE_CACHE: dict = {}
# release_caches() (catalog.py) clears the memo alongside unpersisting
# the tracked frames, so a long-lived session can run dedup campaigns
# over many sf_dirs without accumulating executor storage
on_release(_SHINGLE_CACHE.clear)


def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + distinct word-trigram shingle HASH array `hs` (docs with
    ≥3 tokens).

    Shingles are never materialized as strings: each token is hashed
    once, and a trigram's identity is xxhash64 of its three token
    hashes — same distinct-set semantics as string shingles (a
    disagreement needs an xxhash64 collision, ~2⁻⁶⁴), at a fraction of
    the concat/allocation cost. Every downstream consumer (inverted
    index, MinHash signatures, pair verification) joins and intersects
    on these 8-byte keys.

    Persisted and memoized per sf_dir: every near-dup operator branches
    off this frame several times, and on a cluster this IS the
    materialized shingle table you'd write once before a dedup
    campaign."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _SHINGLE_CACHE:
        return _SHINGLE_CACHE[key]
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens().alias("toks")).filter(F.size("toks") >= 3)
    out = (
        toks.select(
            "doc_id",
            F.expr(
                """
                element_at(transform(array(transform(toks, t -> xxhash64(t))),
                  th -> array_distinct(transform(
                    sequence(1, size(th) - 2),
                    i -> xxhash64(element_at(th, i), element_at(th, i + 1), element_at(th, i + 2))))
                ), 1)
                """
            ).alias("hs"),
        )
    )
    out = persist_tracked(out)
    _SHINGLE_CACHE[key] = out
    return out


# DuckDB mirror of the shingle construction (1-based list comprehension).
_SQL_SHINGLES = """
SELECT doc_id,
       list_distinct([string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                      || ' ' || string_split(text,' ')[i+2]
                      for i in range(1, len(string_split(text,' ')) - 1)]) AS shingles
FROM documents
WHERE len(string_split(text,' ')) >= 3
"""

_SQL_JACCARD_PAIRS = f"""
WITH sh AS ({_SQL_SHINGLES}),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         len(list_intersect(a.shingles, b.shingles)) AS inter,
         len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) AS uni
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni,
       round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
FROM pairs
WHERE 100 * inter >= {JACCARD_THRESHOLD_PCT} * uni
"""


@query(
    "dedup_exact_key",
    oracle="""
WITH keyed AS (SELECT doc_id, md5(lower(text)) AS content_key FROM documents)
SELECT content_key,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM keyed
GROUP BY content_key
""",
)
def dedup_exact_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized content hash; deterministic argmin
    keeper (never dropDuplicates' arbitrary first row). One map-side-
    combined shuffle on the 128-bit key — the canonical 100 TB dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.lower("text").cast("binary")).alias("content_key"))
        .groupBy("content_key")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


def _verified_pairs(candidates: DataFrame, sh: DataFrame) -> DataFrame:
    """Join candidate (a_id, b_id) pairs back to shingle-hash sets and
    apply the integer-exact Jaccard filter (100*inter >= PCT*union).
    Intersections run on the 8-byte xxhash64 values, not the strings —
    same counts (a within-pair collision needs ~2⁻⁶⁴ luck)."""
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("hs").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("sh_b"))
    joined = candidates.join(a, "a_id").join(b, "b_id")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size("sh_a") + F.size("sh_b") - inter
    return (
        joined.select(
            "a_id",
            "b_id",
            inter.cast("long").alias("inter"),
            uni.cast("long").alias("uni"),
        )
        .filter(100 * F.col("inter") >= JACCARD_THRESHOLD_PCT * F.col("uni"))
        .withColumn("jaccard", F.round(F.col("inter").cast("double") / F.col("uni"), 4))
    )


# When any shingle's document frequency exceeds this, the full postings
# self-join's Σ df² term dominates and candidate generation switches to
# rarest-first prefix filtering (see _prefix_candidates). The driver
# corpora stay far below it (sf0.1 max df ≈ low hundreds), so the
# default path — and the green CORRECTNESS row — is the count-join.
PREFIX_DF_SWITCH = 10_000


def _jaccard_tail(inter: DataFrame, sizes: DataFrame) -> DataFrame:
    """Shared finish for both candidate-generation paths: attach set
    sizes (broadcast), apply the integer-exact threshold
    (100·inter ≥ PCT·union), emit the pair row. All codegen."""
    na = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(na), "a_id")
        .join(F.broadcast(nb), "b_id")
        .withColumn("uni", (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("long"))
        .filter(100 * F.col("inter") >= JACCARD_THRESHOLD_PCT * F.col("uni"))
        .select(
            "a_id",
            "b_id",
            F.col("inter").cast("long").alias("inter"),
            "uni",
            F.round(F.col("inter").cast("double") / F.col("uni"), 4).alias("jaccard"),
        )
    )


def _prefix_candidates(postings: DataFrame, sizes: DataFrame, df_tbl: DataFrame) -> DataFrame:
    """Rarest-first prefix-filter candidate pairs (AllPairs/PPJoin).

    Order each doc's shingles by ascending document frequency (ties by
    hash — a global total order), and keep only the PREFIX of length
    n − ⌈τ·n⌉ + 1. Theorem: for any pair with Jaccard ≥ τ, the
    globally-smallest shared shingle sits inside BOTH prefixes — all
    earlier elements of either set are non-shared, and each set has at
    most n − ⌈τ·n⌉ of those since |A∩B| ≥ ⌈τ·n⌉. So the prefix-prefix
    equi-join loses NO qualifying pair, while the rarest-first order
    makes prefixes land on the lowest-df postings — the df² term of the
    full self-join collapses to the df² of the rarest ~20% of each doc.
    ⌈τ·n⌉ is computed in exact integer arithmetic (τ = PCT/100)."""
    ranked = postings.join(df_tbl, "h")
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("h").asc())
    prefix_len = F.expr(
        f"n - (({JACCARD_THRESHOLD_PCT} * n + 99) DIV 100) + 1"  # n − ⌈τ·n⌉ + 1, exact ints
    )
    prefix = (
        ranked.withColumn("r", F.row_number().over(w))
        .join(sizes, "doc_id")
        .filter(F.col("r") <= prefix_len)
        .select("doc_id", "h")
    )
    a = prefix.select(F.col("doc_id").alias("a_id"), "h")
    b = prefix.select(F.col("doc_id").alias("b_id"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


# ---------------------------------------------------------------------------
# bounded-spill pass decomposition (round 9)
#
# The shingle count-join family's shuffle volume is Σ_shingle df² —
# at sf100 on this host that exceeds the single local disk (the
# BASELINE.md "disk ceiling" negative). On a real cluster the same
# wall exists whenever a campaign's shuffle exceeds aggregate shuffle
# disk; the standard move is a SHARDED CAMPAIGN: partition the pair
# space, run one bounded shuffle per shard, union the shard outputs.
# Pairs are sharded by the SMALLER document's id hash (the a-side of
# the a_id < b_id canonical order), so every pair lands in exactly one
# pass and no cross-pass merge is ever needed — each pass's
# threshold-filtered output is final. Cost: the b-side postings are
# re-shuffled once per pass (K × a linear term) to cut the quadratic
# pair-mass spill to ~1/K per pass. Passes run as separate jobs with
# shuffle-file cleanup between, materialized to scratch parquet; the
# operator returns the lazy union read, so the default single-pass
# plan (SPARK_GRAFT_PAIR_PASSES unset or 1) is byte-identical to
# before.

PAIR_PASSES_ENV = "SPARK_GRAFT_PAIR_PASSES"

# per-label stats of the last sharded run: [{pass, wall_s,
# scratch_bytes, local_dir_bytes}] — the scale-trend runner records
# these next to the decade entry. Deliberately NOT cleared by
# release_caches(): it is run metadata, not a cached frame, and the
# trend harness reads it after its final cache release.
PASS_STATS: dict[str, list[dict]] = {}


def _n_pair_passes() -> int:
    import os

    try:
        return max(1, int(os.environ.get(PAIR_PASSES_ENV, "1")))
    except ValueError:
        return 1


def _a_bucket_pred(col: str, bucket: tuple[int, int]):
    """Pass predicate: pair rows whose smaller-side doc hashes into
    bucket k of n. xxhash64 balances any id distribution; pmod keeps
    the negative half of the hash space in range."""
    k, n = bucket
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n)) == F.lit(k)


def _local_dir_bytes() -> int:
    """Total bytes under the Spark local dirs (blockmgr shuffle/spill
    files) — the quantity the disk ceiling is measured in."""
    import glob
    import os

    total = 0
    for root in glob.glob(os.path.join("/tmp", "blockmgr-*")):
        for dirpath, _dirnames, filenames in os.walk(root):
            for f in filenames:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return total


def _run_pair_passes(spark: SparkSession, label: str, n_passes, build_pass) -> DataFrame:
    """Run ``build_pass(k)`` for each pair-space shard as its own job,
    materializing each shard's (small, already-thresholded) output to
    scratch parquet and releasing the shard's shuffle files before the
    next one starts; return the lazy union read. On a cluster this is
    one submitted job per shard against the same warehouse scratch
    path — the bounded-spill campaign pattern, not a bench workaround."""
    import os
    import shutil
    import tempfile
    import time

    root = os.path.join(
        tempfile.gettempdir(),
        "dcis_pair_passes",
        f"{spark.sparkContext.applicationId}_{label}",
    )
    shutil.rmtree(root, ignore_errors=True)
    stats: list[dict] = []
    schema = None
    for k in range(n_passes):
        t0 = time.time()
        df = build_pass(k)
        if schema is None:
            schema = df.schema
        df.write.mode("overwrite").parquet(os.path.join(root, f"k{k}"))
        # drop this pass's shuffle files before the next pass shuffles:
        # the ContextCleaner removes them once the JVM-side plan objects
        # are unreachable, which a GC makes prompt instead of eventual
        spark._jvm.System.gc()
        scratch = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dn, fns in os.walk(root)
            for f in fns
        )
        stats.append(
            {
                "pass": k,
                "wall_s": round(time.time() - t0, 3),
                "scratch_bytes": scratch,
                "local_dir_bytes": _local_dir_bytes(),
            }
        )
    PASS_STATS[label] = stats
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(root)
    )


# max-df per shingle frame, memoized so repeat callers (e.g.
# dedup_cluster_assign → dedup_ngram_jaccard) pay the 1-row decision
# job once per session; cleared with the other caches
_MAXDF_CACHE: dict = {}
on_release(_MAXDF_CACHE.clear)


def _jaccard_pairs(
    spark: SparkSession,
    sh: DataFrame,
    force_prefix: bool | None = None,
    a_bucket: tuple[int, int] | None = None,
) -> DataFrame:
    """Exact Jaccard ≥ τ pairs over a (doc_id, hs) shingle frame, with
    adaptive candidate generation (see dedup_ngram_jaccard docstring).
    `force_prefix` pins the path for tests; None = decide from max df
    (one 1-row metadata collect over the df aggregate, memoized per
    shingle frame). ``a_bucket=(k, n)`` restricts output to pairs whose
    smaller-side doc hashes into shard k of n (the bounded-spill pass
    decomposition — lossless because a_id < b_id makes the smaller side
    a function of the pair)."""
    postings = sh.select("doc_id", F.explode("hs").alias("h"))
    sizes = sh.select("doc_id", F.size("hs").alias("n"))

    use_prefix = force_prefix
    df_tbl = None
    if use_prefix is None or use_prefix:
        df_tbl = postings.groupBy("h").agg(F.count("*").alias("df"))
    if use_prefix is None:
        if id(sh) not in _MAXDF_CACHE:
            row = df_tbl.agg(F.max("df").alias("m")).first()
            _MAXDF_CACHE[id(sh)] = row["m"] or 0
        use_prefix = _MAXDF_CACHE[id(sh)] > PREFIX_DF_SWITCH

    if use_prefix:
        cand = _prefix_candidates(postings, sizes, df_tbl)
        if a_bucket is not None:
            cand = cand.filter(_a_bucket_pred("a_id", a_bucket))
        # count-join VERIFICATION restricted to candidates: one row per
        # shared shingle of each candidate pair — cost ∝ candidate
        # postings, all codegen, no interpreted array intersections.
        ap = postings.select(F.col("doc_id").alias("a_id"), "h")
        bp = postings.select(F.col("doc_id").alias("b_id"), "h")
        inter = (
            cand.join(ap, "a_id")
            .join(bp, ["b_id", "h"])
            .groupBy("a_id", "b_id")
            .agg(F.count("*").alias("inter"))
        )
    else:
        a_postings = (
            postings.filter(_a_bucket_pred("doc_id", a_bucket))
            if a_bucket is not None
            else postings
        )
        a = a_postings.select(F.col("doc_id").alias("a_id"), "h")
        b = postings.select(F.col("doc_id").alias("b_id"), "h")
        inter = (
            a.join(b, "h")
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.count("*").alias("inter"))
        )
    return _jaccard_tail(inter, sizes)


@query("dedup_ngram_jaccard", oracle=_SQL_JACCARD_PAIRS)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs at trigram-shingle Jaccard ≥ 0.8 via an
    inverted-index count-join with ADAPTIVE candidate generation:

    Postings are the 64-bit per-shingle hashes computed once in
    _shingles_df (8-byte join keys, not strings). The self-join emits
    one row per SHARED shingle of an ordered pair, so
    `groupBy(a,b).count()` IS the exact intersection size — the whole
    pipeline (explode → equi-join → partial/final count → broadcast
    size join → integer filter) stays inside whole-stage codegen, with
    no interpreted array intersections anywhere. The threshold test is
    integer arithmetic (100·inter ≥ 80·union): no float boundary can
    disagree with the oracle.

    Scale adaptivity (the df² escape hatch, built in round 5):
    - moderate df (this corpus): full postings self-join — cost
      ∝ total postings + Σ_shingle df², fastest when document
      frequency is bounded.
    - boilerplate-heavy corpora (max df > PREFIX_DF_SWITCH, decided
      from a 1-row collect of the df aggregate): rarest-first
      prefix-filter generation (_prefix_candidates) — prefixes of
      length n − ⌈τ·n⌉ + 1 in ascending-df order, provably lossless —
      then the SAME count-join, restricted to candidates. Either path
      feeds the identical integer filter, so results are identical by
      construction (tests/test_llm_ops.py proves path equality on a
      crafted high-df fixture and that the candidate count collapses).

    Bounded-spill campaign mode (SPARK_GRAFT_PAIR_PASSES=K > 1): the
    pair space is sharded by the smaller doc's id hash and each shard
    runs as its own job (see _run_pair_passes) — the move when the
    Σ df² shuffle exceeds per-node disk; output provably equal to the
    single-pass form (pytest)."""
    sh = _shingles_df(spark, sf_dir)
    n_passes = _n_pair_passes()
    if n_passes == 1:
        return _jaccard_pairs(spark, sh)
    return _run_pair_passes(
        spark,
        "ngram_jaccard",
        n_passes,
        lambda k: _jaccard_pairs(spark, sh, a_bucket=(k, n_passes)),
    )


_N_HASHES = 128
_N_BANDS = 32
_ROWS_PER_BAND = _N_HASHES // _N_BANDS


@query("dedup_minhash_lsh", oracle=_SQL_JACCARD_PAIRS)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified exact — the scale path.

    shingle-hash → 128 affine min-permutations → 32 bands × 4 rows →
    band-bucket equi-join → exact-Jaccard verification of candidates.
    The oracle is the exact-Jaccard pair set; at τ=0.8 the banding miss
    probability per qualifying pair is (1-0.8⁴)³² ≈ 5e-8, so the
    verified candidate set equals the exact set. Signatures are fixed
    width (128 longs/doc), so cost at 100 TB scales with corpus size,
    not document size or pair count.

    The signature+banding stage is an Arrow-batched numpy kernel
    (mapInPandas): per batch, one (128 × |shingles|) uint64 multiply-
    add against the precomputed shingle hashes, min along the shingle
    axis, then a per-band mix — ~30M permutation evaluations land in
    two vectorized ops instead of 30M interpreted expression calls
    (measured ~4× faster than the pure-expression form, which is kept
    simple here because candidate exactness never depends on WHICH
    uniform permutation family generated them)."""
    import numpy as np

    sh = _shingles_df(spark, sf_dir)

    # Deterministic odd multipliers / offsets for the affine permutation
    # family h_i(x) = a_i*x + b_i (mod 2^64, wrapping uint64 mul).
    rng = np.random.default_rng(42)
    A = (rng.integers(1, 2**63, size=_N_HASHES, dtype=np.uint64) * 2 + 1).astype(np.uint64)
    B = rng.integers(0, 2**63, size=_N_HASHES, dtype=np.uint64)
    C = (rng.integers(1, 2**63, size=_ROWS_PER_BAND, dtype=np.uint64) * 2 + 1).astype(np.uint64)

    def band_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        band_idx = np.arange(_N_BANDS, dtype=np.int32)
        for pdf in batches:
            n_docs = len(pdf)
            if n_docs == 0:
                continue
            # flatten every doc's shingle hashes into one vector and
            # min-reduce per doc segment — fully vectorized across the
            # batch, no per-doc python loop
            arrs = [np.asarray(x, dtype=np.int64) for x in pdf["hs"]]
            flat = np.concatenate(arrs).view(np.uint64)
            starts = np.zeros(n_docs, dtype=np.intp)
            np.cumsum([len(a) for a in arrs[:-1]], out=starts[1:])
            sigs = np.empty((_N_HASHES, n_docs), dtype=np.uint64)
            for i in range(_N_HASHES):
                sigs[i] = np.minimum.reduceat(A[i] * flat + B[i], starts)
            mix = (
                sigs.reshape(_N_BANDS, _ROWS_PER_BAND, n_docs)
                * C[None, :, None]
            ).sum(axis=1, dtype=np.uint64)  # (bands, docs)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].values.astype(np.int64), _N_BANDS),
                    "band": np.tile(band_idx, n_docs),
                    "sig": mix.T.reshape(-1).view(np.int64),
                }
            )

    # the signature table: built once, joined against itself;
    # tracked so release_caches() can drop it between campaigns
    banded = persist_tracked(
        sh.select("doc_id", "hs").mapInPandas(
            band_rows, schema="doc_id bigint, band int, sig bigint"
        )
    )
    a = banded.select(F.col("doc_id").alias("a_id"), "band", "sig")
    b = banded.select(F.col("doc_id").alias("b_id"), "band", "sig")
    candidates = (
        a.join(b, ["band", "sig"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    return _verified_pairs(candidates, sh)


@query(
    "dedup_threshold_sweep",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
pairs AS (
  SELECT len(list_intersect(a.shingles, b.shingles)) AS inter,
         len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles)) AS uni
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.shingles, b.shingles)) >= 1
),
hist AS (
  SELECT CAST((10 * inter) // uni AS INT) AS jaccard_bucket,
         COUNT(*) AS n_pairs
  FROM pairs GROUP BY 1
)
SELECT jaccard_bucket, n_pairs,
       CAST(SUM(n_pairs) OVER (ORDER BY jaccard_bucket DESC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS n_pairs_at_or_above
FROM hist
""",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration histogram — the sweep a dedup campaign
    runs BEFORE choosing τ: every candidate pair sharing ≥ 1 shingle,
    bucketed by Jaccard decile, with the cumulative pair count at or
    above each bucket (i.e. "how many pairs would τ = b/10 remove").
    Buckets are exact integer arithmetic ((10·inter) DIV union — no
    float ever touches a boundary), so the histogram is bit-stable
    across engines.

    Plan: the same postings count-join as `dedup_ngram_jaccard`'s
    default path (shuffle on 8-byte shingle hashes, map-side combined
    per-pair counts) but WITHOUT the threshold filter, then an 11-row
    aggregate; the cumulative window runs over those ≤ 11 rows. Each
    posting row CARRIES its document's shingle count, so the pair
    frame's groupBy aggregates min(n_a)/min(n_b) in the same map-side
    combine and the pair frame is never joined against anything — the
    r7 sf1→sf10 trend measured the former size-attach joins shuffling
    the ~1.1B-row pair frame twice (10.7× decade ratio); carrying 8
    bytes per posting removes both shuffles. At 100 TB the
    threshold-free sweep inherits the Σ df² candidate cost with no
    prefix-filter escape (the prefix theorem needs a τ), so the
    campaign-scale form runs on a stratified sample
    (`sample_stratified` is the companion operator) — calibration
    needs distribution shape, not the full census."""
    sh = _shingles_df(spark, sf_dir)

    def hist_shard(a_bucket: tuple[int, int] | None) -> DataFrame:
        postings = sh.select(
            "doc_id", F.size("hs").alias("n"), F.explode("hs").alias("h")
        )
        a_postings = (
            postings.filter(_a_bucket_pred("doc_id", a_bucket))
            if a_bucket is not None
            else postings
        )
        a = a_postings.select(
            F.col("doc_id").alias("a_id"), F.col("n").alias("n_a"), "h"
        )
        b = postings.select(
            F.col("doc_id").alias("b_id"), F.col("n").alias("n_b"), "h"
        )
        return (
            a.join(b, "h")
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(
                F.count("*").alias("inter"),
                # n_a/n_b are functionally determined by a_id/b_id; min is a
                # deterministic pick that rides the same map-side combine
                F.min("n_a").alias("n_a"),
                F.min("n_b").alias("n_b"),
            )
            .withColumn("uni", F.col("n_a") + F.col("n_b") - F.col("inter"))
            .select(F.expr("CAST((10 * inter) DIV uni AS INT)").alias("jaccard_bucket"))
            .groupBy("jaccard_bucket")
            .agg(F.count("*").alias("n_pairs"))
        )

    n_passes = _n_pair_passes()
    if n_passes == 1:
        hist = hist_shard(None)
    else:
        # per-shard 11-row histograms sum exactly: each pair is counted
        # in precisely one shard (sharded by its smaller doc's id hash)
        hist = (
            _run_pair_passes(
                spark,
                "threshold_sweep",
                n_passes,
                lambda k: hist_shard((k, n_passes)),
            )
            .groupBy("jaccard_bucket")
            .agg(F.sum("n_pairs").alias("n_pairs"))
        )
    w = Window.orderBy(F.col("jaccard_bucket").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return hist.withColumn("n_pairs_at_or_above", F.sum("n_pairs").over(w))


CONTAINMENT_THRESHOLD_PCT = 90  # integer-exact: 100*inter >= PCT*min(|A|,|B|)


@query(
    "dedup_containment",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         len(list_intersect(a.shingles, b.shingles)) AS inter,
         len(a.shingles) AS n_a, len(b.shingles) AS n_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(CAST(inter AS DOUBLE) / least(n_a, n_b), 4) AS containment,
       CASE WHEN n_a <= n_b THEN 'a_in_b' ELSE 'b_in_a' END AS direction
FROM pairs
WHERE 100 * inter >= {CONTAINMENT_THRESHOLD_PCT} * least(n_a, n_b)
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: pairs where ≥ 90% of the SMALLER
    document's shingles appear in the larger one — the doc-inside-doc
    duplicates (quoted article + commentary, page + boilerplate wrapper)
    that symmetric Jaccard structurally misses (a small doc embedded in
    one 10× its size has containment 1.0 but Jaccard ≤ 0.1). The
    `direction` column says which side is the contained one. Threshold
    is exact integer arithmetic (100·inter ≥ 90·min(n_a, n_b)); no
    float ever touches the predicate.

    Plan: the same postings count-join candidate generation as
    `dedup_ngram_jaccard`'s default path (shuffle on 8-byte shingle
    hashes, map-side-combined per-pair intersection counts). Each
    posting row carries its document's shingle count, so n_a/n_b are
    min-aggregated inside the same groupBy and the pair frame is never
    joined against the corpus-sized size tables (the r7 trend measured
    that size-attach at 17.1× per decade — two shuffles of a ~1.1B-row
    pair frame). The Jaccard prefix-filter escape does NOT transfer:
    containment has no lower bound on the larger set's size, so the
    prefix theorem's ⌈τ·n⌉ bound only holds for the smaller side. At
    campaign scale the standard moves are (a) df-capping the postings
    (drop shingles with df above a cutoff — boilerplate carries no
    containment signal) and (b) banding the SMALLER set's bottom-k
    sketch; both preserve this operator's output contract on the
    surviving candidates."""
    sh = _shingles_df(spark, sf_dir)

    def shard(a_bucket: tuple[int, int] | None) -> DataFrame:
        postings = sh.select(
            "doc_id", F.size("hs").cast("long").alias("n"), F.explode("hs").alias("h")
        )
        a_postings = (
            postings.filter(_a_bucket_pred("doc_id", a_bucket))
            if a_bucket is not None
            else postings
        )
        a = a_postings.select(
            F.col("doc_id").alias("a_id"), F.col("n").alias("n_a"), "h"
        )
        b = postings.select(
            F.col("doc_id").alias("b_id"), F.col("n").alias("n_b"), "h"
        )
        inter = (
            a.join(b, "h")
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(
                F.count("*").alias("inter"),
                F.min("n_a").alias("n_a"),
                F.min("n_b").alias("n_b"),
            )
        )
        m = F.least("n_a", "n_b")
        return (
            inter.filter(100 * F.col("inter") >= CONTAINMENT_THRESHOLD_PCT * m)
            .select(
                "a_id",
                "b_id",
                F.col("inter").cast("long").alias("inter"),
                "n_a",
                "n_b",
                F.round(F.col("inter").cast("double") / m, 4).alias("containment"),
                F.when(F.col("n_a") <= F.col("n_b"), F.lit("a_in_b"))
                .otherwise(F.lit("b_in_a"))
                .alias("direction"),
            )
        )

    n_passes = _n_pair_passes()
    if n_passes == 1:
        return shard(None)
    return _run_pair_passes(
        spark, "containment", n_passes, lambda k: shard((k, n_passes))
    )


_SUBSTR_W = 20  # verbatim-passage window, in tokens


def _substring_spans(docs: DataFrame, w: int = _SUBSTR_W) -> DataFrame:
    """Core of `dedup_substring_exact` over any (doc_id, text) frame —
    exact duplicated-PASSAGE detection: every maximal token span whose
    w-gram windows all occur at ≥ 2 locations in the corpus (the
    long-verbatim-passage removal step of training-data curation —
    exact n-gram Jaccard scores whole documents; this finds the shared
    substrings themselves, with positions, so they can be cut).

    Plan (all linear, no all-pairs anywhere):
    1. tokens hashed once per doc; a w-gram's identity is xxhash64 of
       the token-hash SLICE — never a materialized n-gram string
       (the explode-over-transform string trap measured 4-5× slower;
       hashing arrays keeps the generate path cheap).
    2. posexplode to (doc_id, pos, gram_hash) — one row per window.
    3. duplicated grams via groupBy(gram_hash) HAVING count ≥ 2 — a
       map-side-combined shuffle on 8-byte keys; joined back to the
       locations (AQE handles hot common-phrase keys; a window over
       gram_hash would funnel each hot gram through one task instead).
    4. gaps-and-islands per doc: windows at pos p cover [p, p+w-1], so
       consecutive duplicate windows merge while pos − prev_pos ≤ w
       (overlap or adjacency); the island aggregate emits one row per
       maximal span. Per-doc window functions are bounded by document
       length — never corpus-sized.
    """
    toks = docs.select("doc_id", _tokens().alias("toks")).filter(F.size("toks") >= w)
    # bind the token-hash array once (same device as _shingles_df), then
    # one gram hash per window position over its slices
    loc = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"""
                element_at(transform(array(transform(toks, t -> xxhash64(t))),
                  th -> transform(sequence(1, size(th) - {w} + 1),
                                  i -> xxhash64(slice(th, i, {w})))
                ), 1)
                """
            )
        ).alias("pos0", "gh"),
    ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "gh")
    dup = (
        loc.groupBy("gh")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("gh")
    )
    d = loc.join(dup, "gh").select("doc_id", "pos")
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    brk = d.withColumn(
        "b",
        F.when(F.col("pos") - F.lag("pos").over(wdoc) > w, F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    isl = brk.withColumn(
        "island", F.sum("b").over(wdoc.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + w - 1).cast("int").alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_dup_grams")
    )


@query(
    "dedup_substring_exact",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
loc AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(list_slice(toks, i, i + {_SUBSTR_W} - 1), ' ') AS gram
  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - {_SUBSTR_W} + 2)) AS i)
  WHERE len(toks) >= {_SUBSTR_W}
),
dup AS (SELECT gram FROM loc GROUP BY gram HAVING COUNT(*) >= 2),
d AS (SELECT l.doc_id, l.pos FROM loc l JOIN dup USING (gram)),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {_SUBSTR_W} THEN 1 ELSE 0 END AS b
  FROM d
),
isl AS (
  SELECT doc_id, pos,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS island
  FROM brk
)
SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
       CAST(MAX(pos) + {_SUBSTR_W} - 1 AS INT) AS span_end,
       COUNT(*) AS n_dup_grams
FROM isl GROUP BY doc_id, island
""",
)
def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup (VERDICT r5 #3): positional maximal
    spans of ≥ {w}-token verbatim passages shared across ≥ 2 corpus
    locations — see `_substring_spans` for the plan. The oracle builds
    the same windows as strings; the value hash therefore also
    collision-checks the Spark side's hashed-slice device."""
    return _substring_spans(load_table(spark, sf_dir, "documents"))


_SIMHASH_BITS = 60  # 15 hex chars of md5 → fits BIGINT, 4 chunks of 15
_HAMMING_MAX = 3  # ≤3 differing bits over 4 chunks ⇒ ≥1 chunk identical
_N_CHUNKS = 4
_CHUNK_BITS = _SIMHASH_BITS // _N_CHUNKS

# Cross-engine token hash: both engines take the first 15 hex chars of
# md5(token) as a 60-bit integer (verified bit-identical).
_SQL_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents
),
hashed AS (
  SELECT doc_id, CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
  FROM toks
),
bits AS (
  SELECT doc_id, t.bit,
         SUM(CASE WHEN (h >> CAST(t.bit AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, range({_SIMHASH_BITS}) t(bit)
  GROUP BY doc_id, t.bit
)
SELECT doc_id,
       SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS simhash
FROM bits
GROUP BY doc_id
"""


@query(
    "dedup_simhash",
    oracle=f"""
WITH sh AS ({_SQL_SIMHASH})
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming ≤ 3, found EXACTLY without an
    all-pairs scan: split the 60-bit simhash into 4 chunks of 15 bits —
    any pair within hamming 3 must agree on ≥ 1 whole chunk
    (pigeonhole), so a (chunk_idx, chunk_value) equi-join generates a
    candidate superset with zero recall loss; bit_count verifies.
    Integer arithmetic end to end — no float drift possible.

    The search runs in DISTINCT-HASH space (round-6 fix; the sf1 trend
    run caught the previous doc-level shape at 99× for 10× data):
    identical-fingerprint docs — entire near-dup families, and on a
    small-vocab corpus most long docs — collapse to ONE row each
    before the pigeonhole join, so candidate generation and the
    dedup-distinct cost |values|-squared-per-bucket, not
    |docs|-squared. Doc pairs are expanded from the verified VALUE
    pairs at the end (two member equi-joins for cross-hash pairs, one
    self-join for the hamming-0 cliques) — strictly output-bound work,
    and the skewed expansion keys are exactly the shape AQE's
    skew-join splitting handles. The emitted pair set is intrinsically
    quadratic in duplicate-cluster size (it is a PAIRS operator; the
    cluster-level answer is dedup_cluster_assign's job), so the scale
    floor is the output itself: the sf1 trend decade emits 10.75 M
    pairs (60× sf0.1's 178 k) in 8.1 s vs 0.9 s — 9× time for 10×
    docs and 60× output, i.e. sublinear per output row, where the
    doc-level shape took 76 s (99×) on the same data."""
    docs = load_table(spark, sf_dir, "documents")
    # Whole simhash per doc as ONE narrow in-row expression: hash each
    # distinct token once, then fold the tokens into a 60-slot sign
    # counter (zip_with inside aggregate) and assemble the bit vector.
    # The previous shape exploded (doc × token × bit) rows — 60× the
    # postings — through two shuffles; this computes the same integer
    # with zero shuffle and nothing wider than one row.
    # The token-hash array is let-bound as a lambda variable via
    # transform(array(<expr>), th -> body)[1] so it is evaluated ONCE
    # per row — as a plain projected column, CollapseProject would
    # inline it into all 60 per-bit aggregates (60× the md5 work).
    simhash = docs.select(
        "doc_id",
        F.expr(
            f"""
            element_at(transform(array(
                transform(array_distinct(split(text, ' ')),
                          t -> cast(conv(substring(md5(cast(t as binary)), 1, 15), 16, 10) as bigint))
              ),
              th -> aggregate(
                transform(sequence(0, {_SIMHASH_BITS - 1}),
                  b -> if(aggregate(th, 0, (acc, h) -> acc + if((shiftright(h, b) & 1) = 1, 1, -1)) >= 0,
                          shiftleft(cast(1 as bigint), b), cast(0 as bigint))),
                cast(0 as bigint), (a, x) -> a + x
              )
            ), 1)
            """
        ).alias("simhash"),
    )
    members = persist_tracked(simhash)
    vals = members.select("simhash").distinct()
    vchunks = vals.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"),
                        F.shiftright(F.col("simhash"), c * _CHUNK_BITS)
                        .bitwiseAND((1 << _CHUNK_BITS) - 1)
                        .alias("v"),
                    )
                    for c in range(_N_CHUNKS)
                ]
            )
        ).alias("ch"),
    ).select("simhash", F.col("ch.c").alias("c"), F.col("ch.v").alias("v"))
    va = vchunks.select(F.col("simhash").alias("ha"), "c", "v")
    vb = vchunks.select(F.col("simhash").alias("hb"), "c", "v")
    vpairs = (
        va.join(vb, ["c", "v"])
        .filter(F.col("ha") < F.col("hb"))
        .select("ha", "hb")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= _HAMMING_MAX)
    )
    # expand verified value pairs to doc pairs (each unordered doc pair
    # maps to exactly one ordered (ha < hb) value pair — no distinct
    # needed); orientation of the OUTPUT ids via least/greatest
    ma = members.select(F.col("doc_id").alias("da"), F.col("simhash").alias("ha"))
    mb = members.select(F.col("doc_id").alias("db"), F.col("simhash").alias("hb"))
    cross = (
        vpairs.join(ma, "ha")
        .join(mb, "hb")
        .select(
            F.least("da", "db").alias("a_id"),
            F.greatest("da", "db").alias("b_id"),
            "hamming",
        )
    )
    # hamming-0 cliques: all in-group combinations of each hash's members
    within = (
        ma.join(mb, ma.ha == mb.hb)
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("a_id"),
            F.col("db").alias("b_id"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross.unionByName(within).select(
        "a_id", "b_id", F.col("hamming").cast("int").alias("hamming")
    )


COSINE_DUP_THRESHOLD = 0.45


@query(
    "dedup_embed_cosine",
    oracle=f"""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 4) >= {COSINE_DUP_THRESHOLD}
""",
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.45), EXACT, with no
    driver-side collect of the table and no full-matrix broadcast —
    the 100 TB shape of exact all-pairs search:

    1. 16 deterministic coarse centroids (mean per vec_id%16 bucket;
       the only collect is 16×64 doubles — the IVF centroid table).
    2. Each vector gets a list_id via one Arrow-batched matmul, plus
       its cosine to its own centroid.
    3. List pairs are PRUNED by the triangle inequality on angles:
       a pair (u∈i, v∈j) with angle(u,v) ≤ θ_thr requires
       angle(cᵢ,cⱼ) ≤ θ_thr + rᵢ + rⱼ (rₗ = list angular radius), so
       dropping list pairs that violate the bound loses NOTHING —
       unlike plain IVF blocking this stays exact, and on genuinely
       clustered corpora (the real dedup case) it prunes most of the
       O(K²) list pairs.
    4. Each surviving list pair is one `applyInPandas` group: a block
       matmul of the two lists (upper triangle for self-pairs). Every
       qualifying pair is scored in exactly one group, so no
       dedup/distinct pass is needed. Compute is distributed across
       list pairs. Lists larger than `block_target` rows are SUB-BLOCKED
       (deterministic xxhash64(vec_id) mod n_sub): a (list_i, list_j)
       pair expands to n_i×n_j rectangle groups (triangle over
       sub-block pairs within a list), so per-task memory is bounded by
       two sub-blocks no matter how big a list grows at 100 TB, and the
       rectangle/triangle group roles are exactly the ones the kernel
       already handles — results are provably identical to the
       unblocked form (every vector pair lands in exactly one group;
       tested in tests/test_llm_ops.py). The driver corpora sit far
       below the target, so the default path is single-block.

    Bounded-spill campaign mode (SPARK_GRAFT_PAIR_PASSES=K > 1, r13):
    the block-pair GROUP space is sharded by pair_id % K and each
    shard runs as its own job (`_run_pair_passes`). The replication
    shuffle (each vector rides to every admissible block-pair group
    it belongs to) is the disk hazard at the third decade — at sf100
    (2M vectors, quadratic candidate mass on the synthetic fixture)
    the single-pass form overran a 51 GB disk (round-13 campaign);
    per-pass volume is ~1/K. Outputs are disjoint and final (every
    vector pair lands in exactly one pair_id), so no cross-pass merge;
    pass-mode equality pytested.

    Oracle: the exact all-pairs threshold join — this plan must and
    does reproduce it bit-for-bit at the 4-decimal rounding."""
    return _embed_cosine_pairs(spark, sf_dir)


_BLOCK_ROWS_TARGET = 4096  # max vectors per applyInPandas sub-block side


def _embed_cosine_pairs(
    spark: SparkSession, sf_dir: str, block_target: int = _BLOCK_ROWS_TARGET
) -> DataFrame:
    import math

    import numpy as np

    n_lists = 16
    thr = COSINE_DUP_THRESHOLD
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # --- 1. deterministic centroids (tiny collect: 16 rows)
    cent_rows = (
        emb.withColumn("bucket", (F.col("vec_id") % n_lists).cast("int"))
        .groupBy("bucket")
        .agg(
            F.array(
                *[F.avg(F.element_at("embedding", i + 1)) for i in range(64)]
            ).alias("centroid")
        )
        .collect()
    )
    cents = np.zeros((n_lists, 64))
    for r in cent_rows:
        cents[r["bucket"]] = np.asarray(r["centroid"], dtype=np.float64)
    cent_norms = np.linalg.norm(cents, axis=1) + 1e-300

    # --- 2. assign lists (Arrow matmul; the 16×64 table ships in the closure)
    def assign_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_in in batches:
            m = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf_in["embedding"]])
            cos = (m @ cents.T) / (
                np.linalg.norm(m, axis=1)[:, None] * cent_norms[None, :] + 1e-300
            )
            out = pdf_in[["vec_id", "embedding"]].copy()
            out["list_id"] = cos.argmax(axis=1).astype("int32")
            out["own_cos"] = cos.max(axis=1)
            yield out

    assigned = persist_tracked(
        emb.mapInPandas(
            assign_batches,
            schema="vec_id bigint, embedding array<float>, list_id int, own_cos double",
        )
    )

    # --- 3. list radii + sizes (tiny collect: ≤16 rows, one job) →
    # admissible list pairs, expanded to sub-block granularity
    stat_rows = (
        assigned.groupBy("list_id")
        .agg(F.min("own_cos").alias("c"), F.count("*").alias("cnt"))
        .collect()
    )
    radius = {r["list_id"]: float(np.arccos(np.clip(r["c"], -1.0, 1.0))) for r in stat_rows}
    nsub = {
        r["list_id"]: max(1, math.ceil(r["cnt"] / block_target)) for r in stat_rows
    }
    theta_thr = float(np.arccos(thr))
    cc = (cents @ cents.T) / np.outer(cent_norms, cent_norms)
    live = sorted(radius)
    # (pair_id, member_list, member_sub, side): 'a'/'b' rectangle roles,
    # 's' = a sub-block paired with itself (triangle)
    admissible = []
    pid = 0
    for ii, i in enumerate(live):
        for j in live[ii:]:
            ang = float(np.arccos(np.clip(cc[i, j], -1.0, 1.0)))
            if ang > theta_thr + radius[i] + radius[j]:
                continue  # triangle inequality: no qualifying pair can span i,j
            if i == j:
                # triangle over sub-block pairs: (bi, bi) self, (bi, bj) rect
                for bi in range(nsub[i]):
                    for bj in range(bi, nsub[i]):
                        if bi == bj:
                            admissible.append((pid, i, bi, "s"))
                        else:
                            admissible.append((pid, i, bi, "a"))
                            admissible.append((pid, i, bj, "b"))
                        pid += 1
            else:
                for bi in range(nsub[i]):
                    for bj in range(nsub[j]):
                        admissible.append((pid, i, bi, "a"))
                        admissible.append((pid, j, bj, "b"))
                        pid += 1
    # --- 4. per-block-pair matmul (sub_id: deterministic hash mod n_sub,
    # so membership never depends on row order or partitioning)
    nsub_map = F.create_map(*[F.lit(x) for kv in nsub.items() for x in kv])
    sub_assigned = assigned.withColumn(
        "sub_id", F.pmod(F.xxhash64("vec_id"), F.element_at(nsub_map, F.col("list_id"))).cast("int")
    )

    def block_pairs(pdf_in: pd.DataFrame) -> pd.DataFrame:
        is_self = (pdf_in["side"] == "s").any()
        a = pdf_in if is_self else pdf_in[pdf_in["side"] == "a"]
        b = pdf_in if is_self else pdf_in[pdf_in["side"] == "b"]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []}).astype(
                {"a_id": "int64", "b_id": "int64", "cos_sim": "float64"}
            )
        a_ids = a["vec_id"].to_numpy(dtype="int64")
        b_ids = b["vec_id"].to_numpy(dtype="int64")
        ma = np.vstack([np.asarray(v, dtype=np.float64) for v in a["embedding"]])
        mb = np.vstack([np.asarray(v, dtype=np.float64) for v in b["embedding"]])
        cos = (ma @ mb.T) / (
            np.outer(np.linalg.norm(ma, axis=1), np.linalg.norm(mb, axis=1)) + 1e-300
        )
        cos_r = np.round(cos, 4)
        ai, bi = np.nonzero((cos_r >= thr) & (a_ids[:, None] != b_ids[None, :]))
        lo = np.minimum(a_ids[ai], b_ids[bi])
        hi = np.maximum(a_ids[ai], b_ids[bi])
        out = pd.DataFrame({"a_id": lo, "b_id": hi, "cos_sim": cos_r[ai, bi]})
        if is_self:  # self block scores each unordered pair twice
            out = out[a_ids[ai] < b_ids[bi]]
        return out

    def build_pass(shard: tuple[int, int] | None = None) -> DataFrame:
        # shard the block-pair GROUP space: pair_id % K == k. Each
        # vector is replicated only to this pass's groups, so the
        # replication shuffle — the per-node-disk hazard at the third
        # decade — is ~1/K per pass; every vector pair still lands in
        # exactly one pair_id, so pass outputs are disjoint and final.
        subset = (
            admissible
            if shard is None
            else [t for t in admissible if t[0] % shard[1] == shard[0]]
        )
        pairs_df = spark.createDataFrame(
            subset,
            schema="pair_id int, member_list int, member_sub int, side string",
        )
        rep = sub_assigned.join(
            F.broadcast(pairs_df),
            (sub_assigned.list_id == pairs_df.member_list)
            & (sub_assigned.sub_id == pairs_df.member_sub),
        ).select("pair_id", "side", "vec_id", "embedding")
        return rep.groupBy("pair_id").applyInPandas(
            block_pairs, schema="a_id bigint, b_id bigint, cos_sim double"
        )

    n_passes = _n_pair_passes()
    if n_passes == 1:
        return build_pass()
    return _run_pair_passes(
        spark,
        "embed_cosine",
        n_passes,
        lambda k: build_pass((k, n_passes)),
    )


@query(
    "dedup_cluster_assign",
    oracle=f"""
WITH RECURSIVE pairs AS ({_SQL_JACCARD_PAIRS}),
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL
  SELECT b_id AS u, a_id AS v FROM pairs
),
nodes AS (
  SELECT doc_id FROM documents WHERE len(string_split(text, ' ')) >= 3
),
reach(u, lbl) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
),
lab AS (SELECT u AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY u)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lab
""",
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: every doc labeled with its
    connected component's minimum doc_id over the exact-Jaccard pair
    graph — the assignment a dedup campaign actually consumes (keep one
    representative per cluster, drop the rest).

    The component kernel is `connected_components` (hot-key-hardened
    min-label propagation; see its docstring for the skew design and
    tests/test_properties.py for the 10k-node hub property test).
    Oracle: DuckDB recursive CTE computing exact min-reachable labels.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    nodes = _shingles_df(spark, sf_dir).select("doc_id")
    labels = connected_components(spark, pairs, nodes)
    # cluster_size via aggregate + join, NOT count().over(partitionBy):
    # a WindowExec materializes each cluster in ONE task's memory — a
    # giant component at 100 TB would OOM that task. The aggregate is
    # map-side combined and the join's skew is AQE-splittable.
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "cluster_id").select("doc_id", "cluster_id", "cluster_size")


@query(
    "dedup_semantic_keep",
    oracle="""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])), 4) >= 0.45
),
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL
  SELECT b_id AS u, a_id AS v FROM pairs
),
reach(u, lbl) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
),
lab AS (SELECT u AS vec_id, MIN(lbl) AS keeper_id FROM reach GROUP BY u),
sz AS (SELECT keeper_id, COUNT(*) AS cluster_size FROM lab GROUP BY keeper_id)
SELECT lab.vec_id, lab.keeper_id, CAST(sz.cluster_size AS BIGINT) AS cluster_size,
       CASE WHEN lab.vec_id = lab.keeper_id THEN 'keep' ELSE 'drop' END AS action
FROM lab JOIN sz USING (keeper_id)
""",
)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup DECISION table (Abbas et al. 2023
    shape): connected components over the exact embedding-cosine
    near-dup graph (`dedup_embed_cosine`, cos >= 0.45), keeper = the
    component's minimum vec_id, every other member marked `drop` — the
    frame a curation pipeline anti-joins against the corpus. Note the
    transitive-closure semantics are deliberate and SemDeDup-faithful:
    a drop chain a~b~c removes c even when cos(a,c) is below threshold.

    Plan: the pair graph comes from the triangle-pruned IVF block join
    (no all-pairs anywhere); components use `connected_components`
    (pointer-jumping min-label propagation, per-round localCheckpoint,
    hot-hub broadcast split); sizes by aggregate-and-join, never a
    partitionBy window over a possibly-giant cluster."""
    pairs = dedup_embed_cosine(spark, sf_dir).select("a_id", "b_id")
    nodes = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    labels = connected_components(spark, pairs, nodes)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "cluster_id")
        .select(
            F.col("doc_id").alias("vec_id"),
            F.col("cluster_id").alias("keeper_id"),
            "cluster_size",
            F.when(F.col("doc_id") == F.col("cluster_id"), F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("action"),
        )
    )


HOT_DEGREE = 1024  # in-degree above which a node's label is broadcast


# Checkpoint tracking lives in catalog (shared infrastructure — moved
# in r14 per ADVICE r13; graph.py/stats.py previously imported these
# underscore-privates from here, an operators→operators layering wart).
# The release contract is documented at catalog._CKPT_TRACKED: a
# released checkpoint has NO lineage, so any still-held result frame
# derived from one is unusable afterwards — callers must materialize
# (collect/write) results they need BEFORE releasing.
from data_collection_ieee_spark.catalog import (  # noqa: E402,F401
    free_local_checkpoint as _free_local_checkpoint,
    track_final_checkpoint as _track_final_checkpoint,
)


def connected_components(
    spark: SparkSession,
    pairs: DataFrame,
    nodes: DataFrame,
    max_rounds: int = 15,
    hot_degree: int = HOT_DEGREE,
) -> DataFrame:
    """Connected-component labels (min node id per component) over an
    undirected (a_id, b_id) pair list; returns (doc_id, cluster_id) for
    every node in `nodes` (isolated nodes label themselves).

    Iterative min-label propagation with pointer jumping: each round
    joins current labels across edges, keeps the per-node min, then
    shortcuts L[x] <- min(L[x], L[L[x]]). Propagation extends a
    label's reach one hop; the jump doubles chains, so rounds needed
    are O(log diameter) — `max_rounds`=15 covers diameter ~2^15
    (propagation alone needed d rounds and silently mislabeled a
    40-node chain). Duplicate clusters are near-cliques (diameter
    1-2, converge in 2-3 rounds). Each round is one shuffle join, one
    aggregate, and one label self-join — fully distributed; the only
    driver-side values are the has-hot-keys flag and the round's
    `changed` count.

    Hot-key hardening (round 5): the propagation join looks up
    labels[v] for every edge (u, v). A high-degree hub — the min-label
    center of a giant near-clique component is exactly that — sends ALL
    its edge rows to one shuffle partition. Degrees are static, so the
    edge list is split ONCE by in-degree: lookups against nodes with
    degree ≥ `hot_degree` resolve through a BROADCAST of just those
    nodes' labels (≤ |E|/hot_degree rows by construction — bounded
    metadata, same trick as a skew-hint join), while the long tail
    keeps the ordinary shuffle join. The per-node min aggregate itself
    is already safe: Spark's partial aggregation combines map-side, so
    no reducer sees a hub's full fan-in. (The classic alternative is
    large-star/small-star alternation; the split keeps the
    convergence-in-the-aggregate trick and touches only the join.)

    Lineage truncation (round 5, hypothesis-caught): each round's plan
    embeds the previous round's plan two to three times over (labels
    feeds the cold join, the hot broadcast, AND the merge union), so
    with persist alone the LOGICAL plan grows as ~3^rounds even though
    the data is cached — at graph diameter ≳10 the driver OOMs just
    building plan strings, before one task runs. Both halves of every
    round therefore go through a lazy localCheckpoint, which cuts the
    plan back to a LogicalRDD leaf: plan size is O(1) per round at any
    diameter. The checkpoints are materialized by the round's one
    `changed` count, the driver's convergence test; AQE also runs
    each round's shuffle stages as jobs while producing the
    checkpoints' RDDs, so a round is several jobs, not one. On a
    cluster the same
    truncation would ride reliable checkpoint() against the checkpoint
    dir (executor loss can't recompute a localCheckpoint); the loop
    structure is unchanged either way."""
    # Persist the caller's pair pipeline (OPTIMIZATION r14, guide §2.4):
    # `pairs` is typically an expensive build (the affinity explode, the
    # Jaccard postings join, the IVF cosine blocks) and it is read by
    # BOTH symmetrization branches below AND by the caller's node frame
    # (built from this same object, so the CacheManager serves it from
    # this cache). Unpersisted, the max-degree probe, the round-0 label
    # build and the edge cache fill each re-ran the full upstream
    # pipeline — measured 3x the affinity build inside one
    # graph_connected_users run at sf0.1. Filled once by the probe job
    # below; released with `edges` at kernel exit (the returned labels
    # are checkpoint-backed and never re-read it).
    pairs = pairs.persist()
    edges = (
        pairs.union(pairs.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id")))
        .withColumnsRenamed({"a_id": "u", "b_id": "v"})
        .persist()
    )
    deg = edges.groupBy("v").agg(F.count("*").alias("deg"))
    # ONE tiny job decides whether a hot split is needed at all (it also
    # materializes the edges cache); the common no-hub case then runs
    # the loop on the plain edge list with zero extra plumbing
    max_deg = (deg.agg(F.max("deg").alias("m")).first()["m"]) or 0
    has_hot = max_deg >= hot_degree
    if has_hot:
        hot_nodes = deg.filter(F.col("deg") >= hot_degree).select("v")
        # tiny by construction: ≤ |E|/hot_degree rows
        edges_hot = edges.join(F.broadcast(hot_nodes), "v").persist()
        edges_cold = edges.join(F.broadcast(hot_nodes), "v", "left_anti").persist()
    else:
        edges_cold = edges

    labels = persist_tracked(nodes.withColumn("cluster_id", F.col("doc_id")))
    cached = labels  # round-0 persisted frame; superseded after round 1
    ckpt = None  # previous round's localCheckpoint, freed when superseded
    for _ in range(max_rounds):
        # Convergence detection rides INSIDE the propagation aggregate:
        # each node's own row is tagged, so the same groupBy that takes
        # the neighborhood min also recovers the node's previous label,
        # and "did anything change" is a filter over the fresh cache —
        # no separate old-vs-new join, no second scan of the label
        # table per round.
        prop = edges_cold.join(labels, edges_cold.v == labels.doc_id).select(
            F.col("u").alias("doc_id"), "cluster_id", F.lit(False).alias("_self")
        )
        if has_hot:
            hot_lbl = labels.join(
                F.broadcast(hot_nodes), labels.doc_id == hot_nodes.v
            ).select("doc_id", "cluster_id")
            prop = prop.unionByName(
                edges_hot.join(
                    F.broadcast(hot_lbl), edges_hot.v == hot_lbl.doc_id
                ).select(
                    F.col("u").alias("doc_id"),
                    "cluster_id",
                    F.lit(False).alias("_self"),
                )
            )
        stepped = (
            labels.select("doc_id", "cluster_id", F.lit(True).alias("_self"))
            .unionByName(prop)
            .groupBy("doc_id")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.min(F.when(F.col("_self"), F.col("cluster_id"))).alias("_old"),
            )
        )
        # truncates lineage (docstring above); also lets the self-join
        # below read the aggregate once instead of recomputing it on
        # both join sides. Lazy: the round's `changed` count below
        # materializes it together with `merged`.
        stepped = stepped.localCheckpoint(eager=False)
        # Pointer jump (round-5 fix): edge propagation alone moves a
        # label ONE hop per round, so a component of diameter d needs d
        # rounds — a 40-node chain silently exceeded max_rounds and
        # kept wrong labels. Following each propagation with a label
        # shortcut L[x] <- min(L[x], L[L[x]]) contracts label chains
        # geometrically (propagate extends reach, jump doubles it), so
        # max_rounds=15 now covers diameter ~2^15 instead of 15. The
        # lookup side is unique on its key; the probe side's key skew
        # (a giant component funneling onto one label) is exactly the
        # shape AQE's skew-join splitting handles, since the unique
        # build side can be replicated per split.
        lut = stepped.select(
            F.col("doc_id").alias("_jd"), F.col("cluster_id").alias("_jc")
        )
        merged = (
            stepped.join(lut, stepped.cluster_id == F.col("_jd"), "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("_jc"), F.col("cluster_id"))
                ).alias("_new"),
                "_old",
            )
            .select(
                "doc_id",
                F.col("_new").alias("cluster_id"),
                (F.col("_new") < F.col("_old")).alias("_changed"),
            )
        )
        merged = merged.localCheckpoint(eager=False)
        # FULL count (no limit): a limit would take(1) a lazily
        # checkpointed RDD — a partial materialization that leaves the
        # rest of the checkpoint to recompute from truncated lineage.
        # The full count materializes merged (and stepped behind it)
        # completely.
        changed = merged.filter(F.col("_changed")).count()
        # the checkpoints materialized the round, so the superseded
        # round's storage can go — keeps executor storage at ≤2 label
        # tables however many rounds convergence takes
        if cached is not None:
            cached.unpersist()
            cached = None
        if ckpt is not None:
            _free_local_checkpoint(ckpt)
        _free_local_checkpoint(stepped)
        ckpt = merged
        labels = merged.select("doc_id", "cluster_id")
        if changed == 0:
            break
    edges.unpersist()
    pairs.unpersist()
    if has_hot:
        edges_hot.unpersist()
        edges_cold.unpersist()
    if ckpt is not None:
        # the returned labels read the final round's checkpoint blocks;
        # release_caches() frees them with everything else. NOTE the
        # contract at _CKPT_TRACKED: after release, this result (and
        # anything derived from it) is unrecoverable — materialize
        # before releasing.
        _track_final_checkpoint(ckpt)
    return labels


# ---------------------------------------------------------------------------
# incremental cross-snapshot dedup (round 7, VERDICT r6 item 3)

_INCR_NEW_MOD = 5  # doc_id % 5 == 4 → the "new batch" (~20% of the corpus);
# stand-in for the arrival-date predicate a daily crawl would use
# (reference analogue: the append-across-runs accumulation A11,
# reference main.py:109 — each run's rows land on top of prior runs').


def _incremental_parts(spark: SparkSession, sf_dir: str):
    """Shared internals of `dedup_incremental_snapshot`, exposed so the
    pytest can assert the candidate-generation restriction directly:
    returns (members, groups, left_postings, right_postings).

    `members` is one row per ≥3-token doc with its exact-content group
    (thash), group representative (min doc_id), shingle count and
    is_new flag; `left_postings` carries ONLY the representatives of
    DIRTY groups (groups containing ≥1 new doc) — the old×old corpus
    mass never enters the candidate join's left side. Both posting
    sides carry the representative's shingle count (n_l/n_r) so the
    candidate groupBy aggregates sizes in its map-side combine and the
    pair frame is never joined back to `groups` (the r7 trend measured
    that size-attach at 22.3× per decade)."""
    sh = _shingles_df(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    members = sh.join(
        docs.select("doc_id", F.md5(F.encode("text", "UTF-8")).alias("thash")),
        "doc_id",
    ).select(
        "doc_id",
        "thash",
        F.size("hs").cast("long").alias("n"),
        (F.col("doc_id") % _INCR_NEW_MOD == _INCR_NEW_MOD - 1).alias("is_new"),
    )
    groups = members.groupBy("thash").agg(
        F.min("doc_id").alias("rep"),
        F.max(F.col("is_new").cast("int")).alias("dirty"),
        F.min("n").alias("n"),  # identical text ⇒ identical shingle count
    )
    members = persist_tracked(
        members.join(groups.select("thash", "rep", "dirty"), "thash")
    )
    rep_sh = sh.join(
        groups.select(F.col("rep").alias("doc_id"), "dirty"), "doc_id"
    )
    postings = rep_sh.select(
        "doc_id", "dirty", F.size("hs").cast("long").alias("n"),
        F.explode("hs").alias("h"),
    )
    left = postings.filter(F.col("dirty") == 1).select(
        F.col("doc_id").alias("l_id"), F.col("n").alias("n_l"), "h"
    )
    right = postings.select(
        F.col("doc_id").alias("r_id"),
        F.col("dirty").alias("r_dirty"),
        F.col("n").alias("n_r"),
        "h",
    )
    return members, groups, left, right


@query(
    "dedup_incremental_snapshot",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
th AS (SELECT doc_id, md5(text) AS thash FROM documents),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         len(list_intersect(a.shingles, b.shingles)) AS inter,
         len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles)) AS uni
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE a.doc_id % {_INCR_NEW_MOD} = {_INCR_NEW_MOD - 1}
     OR b.doc_id % {_INCR_NEW_MOD} = {_INCR_NEW_MOD - 1}
)
SELECT p.a_id, p.b_id,
       CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni,
       round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard,
       CASE WHEN ta.thash = tb.thash THEN 'exact' ELSE 'near' END AS pair_kind,
       CASE WHEN p.a_id % {_INCR_NEW_MOD} = {_INCR_NEW_MOD - 1}
             AND p.b_id % {_INCR_NEW_MOD} = {_INCR_NEW_MOD - 1}
            THEN 'new_new' ELSE 'new_old' END AS pair_scope
FROM pairs p
JOIN th ta ON p.a_id = ta.doc_id
JOIN th tb ON p.b_id = tb.doc_id
WHERE 100 * inter >= {JACCARD_THRESHOLD_PCT} * uni
""",
)
def dedup_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-snapshot dedup — the daily-crawl primitive:
    given an existing corpus snapshot ("old", doc_id % 5 ≠ 4) and a new
    batch ("new", doc_id % 5 == 4), emit EXACTLY the qualifying
    duplicate pairs (trigram Jaccard ≥ 0.8, both docs ≥3 tokens) that
    TOUCH the new batch — without ever pairing snapshot grams against
    snapshot grams. Output is provably equal to the full-corpus
    `dedup_ngram_jaccard` restricted to pairs with a new side
    (pytest-verified), plus pair_kind (exact text copy vs near) and
    pair_scope (new_new vs new_old) labels.

    Plan — anti-old×old by construction, in three stages:

    1. EXACT grouping: one narrow hash-agg over md5(text) groups
       byte-identical docs (the dominant mass of a crawl's re-fetches);
       same-group pairs with ≥1 new side are emitted directly with
       inter = uni = |shingles| — no postings work at all for exact
       copies.
    2. NEAR candidates over REPRESENTATIVES only: the shingle postings
       self-join's LEFT side is restricted to representatives of DIRTY
       groups (≥1 new member) — |left| ≈ |new batch| ≪ |corpus| — and
       the right side is all representatives, so candidate volume is
       Σ_h df_dirty(h)·df(h), never the snapshot's df², and identical
       text is paired once however many copies exist. Orientation
       keeps (dirty, clean) always and (dirty, dirty) once via l < r.
    3. EXPANSION: qualifying representative pairs fan back out to
       member pairs through two small rep→members joins (identical
       text ⇒ identical shingle sets ⇒ identical inter/uni), filtered
       to ≥1 new side and canonically ordered.

    At 100 TB the snapshot side contributes postings only where a NEW
    doc shares a shingle — the incremental cost profile (∝ new batch ×
    collision breadth) that makes daily dedup affordable, vs re-pairing
    the whole corpus. The % 5 split is a fixture stand-in for the
    arrival-date predicate; the reference's analogue is its
    append-across-runs accumulation (reference main.py:109)."""
    members, groups, left, right = _incremental_parts(spark, sf_dir)

    # stage 1: same-group (exact-copy) pairs
    m1 = members.select(
        "thash",
        F.col("doc_id").alias("x"),
        F.col("is_new").alias("x_new"),
        "n",
    )
    m2 = members.select(
        "thash", F.col("doc_id").alias("y"), F.col("is_new").alias("y_new")
    )
    exact_pairs = (
        m1.join(m2, "thash")
        .filter((F.col("x") < F.col("y")) & (F.col("x_new") | F.col("y_new")))
        .select(
            F.col("x").alias("a_id"),
            F.col("y").alias("b_id"),
            F.col("n").alias("inter"),
            F.col("n").alias("uni"),
            F.lit("exact").alias("pair_kind"),
        )
    )

    # stage 2: cross-group near pairs over dirty-left representatives
    rep_pairs = (
        left.join(right, "h")
        .filter(
            (F.col("l_id") != F.col("r_id"))
            & ((F.col("r_dirty") == 0) | (F.col("l_id") < F.col("r_id")))
        )
        .groupBy("l_id", "r_id")
        .agg(
            F.count("*").alias("inter"),
            F.min("n_l").alias("n_l"),
            F.min("n_r").alias("n_r"),
        )
        .withColumn("uni", F.col("n_l") + F.col("n_r") - F.col("inter"))
        .filter(100 * F.col("inter") >= JACCARD_THRESHOLD_PCT * F.col("uni"))
        .select("l_id", "r_id", "inter", "uni")
    )

    # stage 3: expand representative pairs to member pairs (≥1 new side)
    mem = members.select(
        "rep", F.col("doc_id").alias("m"), F.col("is_new").alias("m_new")
    )
    near_pairs = (
        rep_pairs.join(
            mem.select(
                F.col("rep").alias("l_id"),
                F.col("m").alias("x"),
                F.col("m_new").alias("x_new"),
            ),
            "l_id",
        )
        .join(
            mem.select(
                F.col("rep").alias("r_id"),
                F.col("m").alias("y"),
                F.col("m_new").alias("y_new"),
            ),
            "r_id",
        )
        .filter(F.col("x_new") | F.col("y_new"))
        .select(
            F.least("x", "y").alias("a_id"),
            F.greatest("x", "y").alias("b_id"),
            "inter",
            "uni",
            F.lit("near").alias("pair_kind"),
        )
    )

    both = exact_pairs.unionByName(near_pairs)
    one_new = F.lit(_INCR_NEW_MOD - 1)
    return both.select(
        "a_id",
        "b_id",
        F.col("inter").cast("long").alias("inter"),
        F.col("uni").cast("long").alias("uni"),
        F.round(F.col("inter").cast("double") / F.col("uni"), 4).alias("jaccard"),
        "pair_kind",
        F.when(
            (F.col("a_id") % _INCR_NEW_MOD == one_new)
            & (F.col("b_id") % _INCR_NEW_MOD == one_new),
            F.lit("new_new"),
        )
        .otherwise(F.lit("new_old"))
        .alias("pair_scope"),
    )


_EDIST_PFX = 12  # blocking prefix length (chars)
_EDIST_MAX = 24  # max edit distance reported as a near-dup


@query(
    "dedup_editdist_blocked",
    oracle=f"""
WITH d AS (SELECT doc_id, text FROM documents),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         levenshtein(a.text, b.text) AS dist
  FROM d a JOIN d b
    ON substr(a.text, 1, {_EDIST_PFX}) = substr(b.text, 1, {_EDIST_PFX})
   AND a.doc_id < b.doc_id
   AND abs(len(a.text) - len(b.text)) <= {_EDIST_MAX}
)
SELECT doc_a, doc_b, CAST(dist AS INT) AS dist
FROM pairs WHERE dist <= {_EDIST_MAX}
""",
)
def dedup_editdist_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (edit-distance) near-duplicate pairs — the
    record-linkage flavor of the dedup ladder: candidate pairs share a
    {_EDIST_PFX}-char prefix block AND a length band (|Δlen| ≤ dist
    bound, a provable edit-distance lower bound, so the band loses no
    true pair within the block), then exact Levenshtein confirms.
    Complements the token/shingle family (ngram_jaccard, minhash) with
    the character-level measure linkage pipelines use on titles/names.

    Scale shape: the self-join is an EQUI-join on the block key — the
    all-pairs frame never exists; candidate mass is Σ|block|², the
    classic blocking bound, and at 100 TB the prefix key
    hash-partitions across the cluster (skewed mega-blocks would get
    AQE skew splitting). The Levenshtein verify is threshold-bounded
    (`levenshtein(a, b, K)`: O(K·L) banded DP, -1 past K) so per-pair
    cost is linear in doc length, not quadratic."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.substring("text", 1, _EDIST_PFX).alias("pfx"),
        F.length("text").alias("len"),
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
        "pfx",
        F.col("len").alias("len_a"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
        "pfx",
        F.col("len").alias("len_b"),
    )
    pairs = a.join(b, "pfx").filter(
        (F.col("doc_a") < F.col("doc_b"))
        & (F.abs(F.col("len_a") - F.col("len_b")) <= _EDIST_MAX)
    )
    return (
        pairs.withColumn(
            "dist", F.levenshtein("text_a", "text_b", _EDIST_MAX)
        )
        .filter(F.col("dist") != -1)
        .select("doc_a", "doc_b", F.col("dist").cast("int").alias("dist"))
    )
