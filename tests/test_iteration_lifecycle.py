"""Iterative kernels and pair builders: the job schedule they keep and
the storage they free.

- The build-phase job count of graph_pagerank and
  graph_label_propagation (the Spark jobs their query functions launch
  before the caller's action) is pinned. Every per-round checkpoint is
  lazy, but AQE runs each round's shuffle stages while producing the
  checkpoint's RDD, so these counts are what a change to the schedule
  moves first. They are the same at SPARK_GRAFT_CPUS=4 and 8.
- Every iterative query, and every dedup/triangle pair builder, frees
  what it persists, checkpoints or writes: after collect +
  catalog.release_caches() no new persistent RDD and no new path under
  a ``dcis_*`` scratch dir is left, and the checkpoint-free failure
  counter has not moved.
"""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

from data_collection_ieee_spark import catalog, registry

registry.load_all()

SF_A = "/root/testdata/sf0.001"

# measured on sf0.001 after one warm-up run in the same session; the
# first run of graph_pagerank in a fresh session launches 2 more
BUILD_JOBS = {
    "graph_pagerank": 50,
    "graph_label_propagation": 29,
}

SWEEP = (
    "graph_pagerank",
    "graph_label_propagation",
    "graph_bfs_hops",
    "graph_connected_users",
    "graph_assortativity",
    "dedup_semantic_keep",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_threshold_sweep",
    "dedup_embed_cosine",
    "graph_triangle_count",
    "graph_triangle_sample",
)


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _scratch_paths() -> set:
    """Every file and directory under the temp dir's dcis_* scratch roots."""
    out = set()
    for root in glob.glob(os.path.join(tempfile.gettempdir(), "dcis_*")):
        for dirpath, _dirnames, filenames in os.walk(root):
            out.add(dirpath)
            out.update(os.path.join(dirpath, f) for f in filenames)
    return out


@pytest.mark.parametrize("name", sorted(BUILD_JOBS))
def test_build_phase_job_count(spark, name):
    fn = registry.QUERIES[name]
    fn(spark, SF_A).collect()  # warm-up
    catalog.release_caches()
    sc = spark.sparkContext
    group = f"{name}/build"
    sc.setJobGroup(group, group)
    try:
        df = fn(spark, SF_A)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    df.collect()
    catalog.release_caches()
    assert n_jobs == BUILD_JOBS[name]


@pytest.mark.parametrize("name", SWEEP)
def test_query_releases_all_storage(spark, name):
    catalog.release_caches()
    base = _persistent_ids(spark)
    scratch = _scratch_paths()
    fails_before = catalog.ckpt_free_failures()
    rows = registry.QUERIES[name](spark, SF_A).collect()
    assert rows
    catalog.release_caches()
    # ids, not a count: the ContextCleaner may drop older RDDs meanwhile
    assert _persistent_ids(spark) - base == set()
    assert _scratch_paths() - scratch == set()
    assert catalog.ckpt_free_failures() == fails_before
