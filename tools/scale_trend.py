"""One-decade scale-trend harness (VERDICT r5 #2).

Times the heavy queries at the driver's sf0.1 testdata AND the
generated sfN set (tools/gen_scale.py), median of N noop-sink runs
each (same sink as bench.py), and reports the time ratio against the
data ratio. A query whose time grows faster than ~linear in rows is a
scale bug — its plan gets fixed, not excused.

Usage:
  python tools/gen_scale.py                      # once, ~1 min
  SPARK_DRIVER_MEMORY=32g python tools/scale_trend.py [--reps 3] [name ...]

Writes SCALE_TREND.json at the repo root.

Heap sizing: the default 8g local JVM divides across 32 executor
threads (~250 MB/task) — at sf1 the dedup warm pass can OOM on that
(observed once, in connected-components' degree aggregate while the
whole dedup family's caches were resident). 32g is comfortable on the
128 GiB harness; on a real cluster this is per-executor memory vs
partition count, which the operators already size for.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_collection_ieee_spark import catalog, registry  # noqa: E402
from data_collection_ieee_spark.session import get_spark  # noqa: E402

# the expensive family: dedup ladder + CC + KNN + global sort + the
# heavy text/events queries (BENCH_r05 top of table, plus round-6 adds)
DEFAULT_QUERIES = [
    "dedup_exact_key",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embed_cosine",
    "dedup_cluster_assign",
    "dedup_semantic_keep",
    "dedup_substring_exact",
    "dedup_within_watermark",
    "sim_knn_join",
    "sim_cosine_topk",
    "sort_multi",
    "text_repetition_signals",
    "events_anomaly_zscore",
]


def run_once(spark, name: str, sf_dir: str) -> float:
    t0 = time.time()
    registry.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true", help="every registered query")
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default="/tmp/dcis_scale/sf1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--no-warm",
        action="store_true",
        help="skip the untimed warm run before the timed reps — for "
        "multi-thousand-second sf100 campaign queries where a warm pass "
        "doubles the wall for little steady-state benefit (codegen and "
        "page cache are a rounding error at that duration); single-run "
        "medians are then cold-inclusive, which the decade entry's "
        "env_history records via reps/warm fields",
    )
    ap.add_argument(
        "--label",
        default=None,
        help="decade label in SCALE_TREND.json (default '<base>-><big>')",
    )
    args = ap.parse_args()

    manifest = json.load(open(os.path.join(args.big, "MANIFEST.json")))
    factor = manifest["factor"]
    base_manifest_path = os.path.join(args.base, "MANIFEST.json")
    if os.path.exists(base_manifest_path):
        # both ends generated: the decade factor is the ratio of the
        # two generation factors (e.g. sf1(x10) -> sf10(x100) = x10)
        factor = factor / json.load(open(base_manifest_path))["factor"]
        factor = int(factor) if factor == int(factor) else factor
    label = args.label or (
        os.path.basename(args.base.rstrip("/"))
        + "->"
        + os.path.basename(args.big.rstrip("/"))
    )

    registry.load_all()
    names = (
        sorted(registry.QUERIES) if args.all else (args.names or DEFAULT_QUERIES)
    )
    spark = get_spark("scale-trend")

    results = {}
    for sf_dir in (args.base, args.big):
        for name in names:
            # isolate queries from each other's resident caches (the
            # dedup family's persisted frames otherwise accumulate and
            # GC pressure inflates whatever runs LAST — observed 3-4×
            # on the tail queries of an accumulate-then-release run);
            # each query pays its own materialization, which is the
            # honest per-query cost. Warm run covers codegen + page
            # cache + its own cache build; reps then measure steady
            # state.
            catalog.release_caches()
            # prompt-drop the PREVIOUS query's unpersisted blocks and
            # now-unreachable shuffle files before timing this one: at
            # sf100 a single query's one-shot shuffles are tens of GB,
            # and the eventual-GC ContextCleaner otherwise lets two
            # queries' disk footprints overlap (observed 31 GB residue
            # from graph_degree_stats while pagerank began its own
            # 30 GB edge build — on a 76 GB disk that is the run)
            import gc as _gc

            _gc.collect()
            spark._jvm.System.gc()
            if not args.no_warm:
                run_once(spark, name, sf_dir)
            times = [run_once(spark, name, sf_dir) for _ in range(args.reps)]
            results.setdefault(name, {})[sf_dir] = round(
                statistics.median(times), 3
            )
        catalog.release_caches()

    print(f"\n{'query':26} {'base':>8} {'big':>8} {'ratio':>7}  (data x{factor})")
    out = {
        "factor": factor,
        "reps": args.reps,
        "warm": not args.no_warm,
        "base": args.base,
        "big": args.big,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "queries": {},
    }

    worst = 0.0
    for name in names:
        t1, tn = results[name][args.base], results[name][args.big]
        ratio = tn / t1 if t1 > 0 else float("inf")
        out["queries"][name] = {"base_s": t1, "big_s": tn, "ratio": round(ratio, 2)}
        worst = max(worst, ratio)
        flag = "" if ratio <= factor * 1.3 else "  <-- SUPERLINEAR"
        print(f"{name:26} {t1:8.3f} {tn:8.3f} {ratio:6.2f}x{flag}")

    # merge this decade into SCALE_TREND.json (multi-decade format);
    # a pre-round-7 flat file is migrated under its decade label
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    trend_path = os.path.join(root, "SCALE_TREND.json")
    trend = {"decades": {}}
    if os.path.exists(trend_path):
        prior = json.load(open(trend_path))
        if "decades" in prior:
            trend = prior
        elif "queries" in prior:  # legacy single-decade layout
            trend["decades"]["sf0.1->sf1"] = prior
    stored = trend["decades"].get(label)
    if stored is not None and stored.get("big") == args.big:
        # same decade re-run on a subset: merge per query, keep the rest
        # — but only when BOTH endpoints match (r7 ADVICE: a --base
        # mismatch would record ratios from a different decade under
        # the stored one), and refresh the run-environment metadata so
        # merged ratios are never attributed to stale conditions; if
        # the environment differs from the stored run, keep a per-run
        # history under "env_history" instead of silently overwriting.
        if stored.get("base") is None:
            # legacy pre-r8 entry recorded without a base key: the big
            # endpoint already matched, so treat it as same-decade and
            # backfill rather than locking the entry out of merges
            stored["base"] = args.base
        if stored.get("base") != args.base:
            raise SystemExit(
                f"decade '{label}' was recorded with base={stored.get('base')} "
                f"but this run uses base={args.base}; pass a new --label "
                "instead of merging across decades"
            )
        env_keys = ("factor", "reps", "warm", "shuffle_partitions", "driver_memory")
        env = {k: out[k] for k in env_keys}
        # pre-flag entries always warmed, so their implicit warm is True
        old_env = {k: stored.get(k, True if k == "warm" else None) for k in env_keys}
        if env != old_env:
            stored.setdefault("env_history", []).append(
                {"prev": old_env, "queries_before_rerun": sorted(stored["queries"])}
            )
        stored.update(env)
        stored["queries"].update(out["queries"])
    else:
        trend["decades"][label] = out
    with open(trend_path, "w") as f:
        json.dump(trend, f, indent=1)
    print(
        f"\nworst ratio {worst:.2f}x vs data x{factor}; "
        f"SCALE_TREND.json decade '{label}' written"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
