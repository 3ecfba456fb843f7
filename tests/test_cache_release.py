"""Cache-release hook (catalog.persist_tracked / release_caches).

Operators persist intermediate frames (shingle table, LSH signatures,
simhash chunks, IVF assignments, the sort_multi ranged frame). In a
long-lived session those caches would accumulate across sf_dirs; the
release hook must drop every tracked frame AND the shingle memo so a
second campaign starts from zero executor storage.
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from data_collection_ieee_spark import catalog
from data_collection_ieee_spark.operators import dedup, sorting

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_drops_all_tracked_frames(spark):
    catalog.release_caches()  # start clean regardless of test order
    base = _n_persistent(spark)

    dedup.dedup_minhash_lsh(spark, SF_A).count()  # persists shingles + signatures
    sorting.sort_multi(spark, SF_A).count()  # persists the ranged frame
    assert _n_persistent(spark) > base

    n = catalog.release_caches()
    assert n >= 3  # shingles, signature table, ranged frame at minimum
    assert _n_persistent(spark) == base
    assert not dedup._SHINGLE_CACHE  # memo cleared with the frames


def test_second_sf_dir_does_not_accumulate(spark):
    """Running the same campaign on a second sf_dir after release must
    not stack storage: the footprint after (run B, release) equals the
    footprint after (run A, release)."""
    catalog.release_caches()
    base = _n_persistent(spark)

    dedup.dedup_simhash(spark, SF_A).count()
    after_a = _n_persistent(spark)
    assert after_a > base
    catalog.release_caches()
    assert _n_persistent(spark) == base

    dedup.dedup_simhash(spark, SF_B).count()
    after_b = _n_persistent(spark)
    # same operator, same number of tracked frames — no generation leak
    assert after_b - base == after_a - base
    catalog.release_caches()
    assert _n_persistent(spark) == base


def test_release_is_idempotent_and_safe_when_empty(spark):
    catalog.release_caches()
    assert catalog.release_caches() == 0


def test_cc_checkpoints_released(spark):
    """connected_components rounds go through localCheckpoint, whose
    blocks the CacheManager never sees; superseded rounds free theirs
    eagerly and the final round's blocks must go with release_caches().
    Storage must return to base — no checkpoint leak per campaign."""
    catalog.release_caches()
    base = _n_persistent(spark)

    edges = [(i, i + 1) for i in range(30)]
    pairs = spark.createDataFrame(edges, "a_id bigint, b_id bigint")
    nodes = spark.createDataFrame([(i,) for i in range(31)], "doc_id bigint")
    dedup.connected_components(spark, pairs, nodes).count()
    assert _n_persistent(spark) > base  # final round's checkpoint live

    catalog.release_caches()
    assert _n_persistent(spark) == base


def test_cc_keeps_a_pairs_cache_the_caller_holds(spark):
    """connected_components persists an uncached `pairs` frame for its
    own reads and releases it at exit; a frame the caller already
    cached stays cached, and the labels do not depend on which."""
    catalog.release_caches()
    edges = [(i, i + 1) for i in range(10)] + [(20, 21)]
    schema = "a_id bigint, b_id bigint"
    nodes = spark.createDataFrame([(i,) for i in range(22)], "doc_id bigint")

    fresh = spark.createDataFrame(edges, schema)
    want = sorted(dedup.connected_components(spark, fresh, nodes).collect())
    assert not fresh.is_cached

    held = spark.createDataFrame(edges, schema).persist()
    got = sorted(dedup.connected_components(spark, held, nodes).collect())
    assert held.is_cached
    assert got == want
    held.unpersist()
    catalog.release_caches()


class _StandInSession:
    """Just the surface load_table touches: read.parquet and conf.set."""

    def __init__(self):
        self.read = SimpleNamespace(parquet=lambda path: ("plan", path))
        self.conf = SimpleNamespace(set=lambda key, value: None)


def test_table_memo_holds_one_session(monkeypatch):
    """The reader-plan memo keeps only the current session's plans: the
    first load under a new session drops every entry of the previous
    one, so a stopped session is not pinned for the process lifetime."""
    monkeypatch.setattr(catalog, "normalize_events_ts", lambda df: df)
    monkeypatch.setattr(catalog, "_TABLE_CACHE", {})
    first, second = _StandInSession(), _StandInSession()

    plan = catalog.load_table(first, "/sf", "region")
    catalog.load_table(first, "/sf", "events")
    assert catalog.load_table(first, "/sf", "region") is plan  # memo hit
    assert {k[0] for k in catalog._TABLE_CACHE} == {first}

    catalog.load_table(second, "/sf", "region")
    assert {k[0] for k in catalog._TABLE_CACHE} == {second}


def test_eager_checkpoint_free_actually_drops_blocks(spark):
    """_free_local_checkpoint reaches the checkpointed RDD through a
    py4j internal accessor; if a Spark upgrade shifts it, every eager
    free would silently no-op and executor storage would grow to
    O(rounds) label tables. This canary asserts (a) a freed frame's
    blocks really leave getPersistentRDDs and (b) the failure counter
    stays zero — so an accessor break fails CI instead of masking."""
    catalog.release_caches()
    base = _n_persistent(spark)
    fails_before = catalog.ckpt_free_failures()

    df = spark.range(100).localCheckpoint(eager=True)
    assert _n_persistent(spark) == base + 1
    catalog.free_local_checkpoint(df)
    assert _n_persistent(spark) == base
    assert catalog.ckpt_free_failures() == fails_before


def test_release_skips_unmaterialized_lazy_checkpoint(spark):
    """A LAZY localCheckpoint tracked but never computed (explain-only
    path) must survive release_caches(): unpersisting it would strand
    the deferred materialization (no lineage, no blocks). The frame
    must still be computable AFTER a release (ADVICE r13)."""
    catalog.release_caches()
    df = spark.range(50).localCheckpoint(eager=False)
    catalog.track_final_checkpoint(df)
    catalog.release_caches()  # must SKIP the unmaterialized checkpoint
    assert df.count() == 50  # still computable — storage level intact
    # now materialized but no longer tracked; free eagerly to clean up
    catalog.free_local_checkpoint(df)
