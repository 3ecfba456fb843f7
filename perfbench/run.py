#!/usr/bin/env python3
"""End-to-end benchmark of the engine, run from the root of a checkout.

    python3 perfbench/run.py --workload iterative_kernels --seed 1 --seconds 15 --trace 0

One process, one local[nproc] Spark driver. A run:

1. generates its inputs under ``.perfbench/`` (gen.py): the ten catalog
   tables at a fixed seed, and for a workload with the
   ``articles_pipeline`` op a bronze article corpus drawn from ``--seed``;
2. sets the engine up through its public entry points (import,
   ``session.get_spark``, ``registry.load_all``, one warm-up query) --
   that wall time is ``setup_s``;
3. runs every op of the workload once and checks its output (the DuckDB
   oracle via ``oracle.compare``, a row count where an op has none, the
   generator's row and DOI counts for the article pipeline); this pass is
   not timed and is the first code-generation and JIT warm-up;
4. runs WARM_PASSES more passes untimed: the JVM's JIT keeps speeding
   the driver's per-job work up for several passes after the first one,
   at a pace that differs from run to run, and timing those passes
   widened the spread of ``pass_s`` between runs;
5. times whole passes over the workload's ops, each pass in an order
   drawn from ``--seed``: ``--seconds`` / PASS_S passes. An op is its
   build phase (the Python query function, including any Spark jobs it
   launches) plus its run phase (the noop-sink action), followed by
   ``catalog.release_caches()``.

End-to-end metrics (``--trace 0``) are each taken once per timed pass
and reported as their median over the passes, so one pass slowed by the
host does not move them: ``pass_s`` is the pass wall time; ``op_p50_s``
is the median and ``op_p90_s`` the nearest-rank 90th percentile of the
per-op wall times within a pass (on a workload of two ops they are the
mean and the slower of the two, see the workload notes in
workloads.json); ``jobs_per_pass`` counts the
Spark jobs the ops launch in one pass (a tripwire: it does not move with
host noise); ``setup_s`` is step 2. Input generation is the benchmark's
work and is not timed.

With ``--trace 1`` the run measures one untraced window, then restarts
the Spark context with the plain-JSON event log on and measures a traced
window in which every job is tagged ``<op>/build`` or ``<op>/run``, then
restarts it without the log and measures one more untraced window; each
restart is followed by one untimed pass. The
per-layer metrics come from the traced window (eventlog.py reads the log
and the job counts come from the status tracker right after each op);
``trace.overhead_s`` is the traced pass time minus the mean of the two
untraced ones.

The last stdout line is the result object; the line before it is a run
record (host steal share, foreign Spark JVMs, pass count, sample count).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "data_collection_ieee_spark"
WORK = os.path.join(ROOT, ".perfbench")
PIPELINE_OP = "articles_pipeline"
# nominal seconds of one pass: a run times round(--seconds / PASS_S)
# passes, a fixed count, so parent and change do the same work
PASS_S = 5.0
# untimed passes between the check pass and the timed ones
WARM_PASSES = 3
# per-layer quantities summed over the ops of a pass
LAYER_SUMS = (
    ["operators.build_s", "operators.run_s"]
    + [f"operators.{p}_{k}" for p in ("build", "run") for k in ("jobs", "stages", "tasks", "failed_tasks")]
    + ["catalog.release_caches_s", "catalog.released_frames"]
    + ["sources.read_s", "sources.silver_s", "sources.write_csv_s", "sources.write_json_s"]
)

sys.path.insert(0, HERE)
import gen  # noqa: E402
import eventlog  # noqa: E402


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def _spark_jvms() -> int:
    """Number of live Spark JVMs on this host."""
    try:
        out = subprocess.run(
            ["ps", "-eo", "args="], capture_output=True, text=True, timeout=10
        ).stdout
    except (OSError, subprocess.SubprocessError):
        return 0
    return sum("java" in line and "org.apache.spark" in line for line in out.splitlines())


def _prepare_env(work: str) -> None:
    """Keep every file the engine, Spark and the JVM write inside the
    checkout."""
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the engine's own tuning variables stay at their defaults
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # every JVM: temp files in the checkout, no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )
    # executors' Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )


class Counter:
    """Wraps ``catalog.load_table`` to count calls and time spent."""

    def __init__(self, fn):
        self.fn = fn
        self.calls = 0
        self.seconds = 0.0

    def __call__(self, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return self.fn(*args, **kwargs)
        finally:
            self.seconds += time.perf_counter() - t0
            self.calls += 1


class Bench:
    def __init__(self, args, spec: dict, work: str):
        self.args = args
        self.spec = spec
        self.wl = spec["workloads"][args.workload]
        self.ops: list[str] = list(self.wl["ops"])
        self.work = work
        self.data_dir = os.path.join(work, "tables")
        self.out_dir = os.path.join(work, "out")
        self.articles: dict | None = None
        self.spark = None
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # ----------------------------------------------------------- inputs
    def make_inputs(self) -> None:
        gen.write_tables(self.data_dir, self.wl["table_factor"], self.spec["tables"]["seed"])
        if PIPELINE_OP in self.ops:
            # multiLine JSON is read one file per task: one file per core
            self.articles = gen.write_articles(
                os.path.join(self.work, "bronze"),
                self.args.seed,
                self.wl["article_records"],
                len(os.sched_getaffinity(0)),
            )

    # ------------------------------------------------------------ setup
    def setup(self, load_table_counter: bool) -> float:
        t0 = time.perf_counter()
        from data_collection_ieee_spark import catalog, registry
        from data_collection_ieee_spark.session import get_spark

        self.catalog, self.registry, self.get_spark = catalog, registry, get_spark
        if load_table_counter:
            # installed before the operator modules import it by name
            self.load_table = Counter(catalog.load_table)
            catalog.load_table = self.load_table
        t1 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t2 = time.perf_counter()
        registry.load_all()
        t3 = time.perf_counter()
        self.warm_up()
        t4 = time.perf_counter()
        self.layers["session.get_spark_s"] = t2 - t1
        self.layers["registry.load_all_s"] = t3 - t2
        return t4 - t0

    def warm_up(self) -> None:
        self.spark.sparkContext.setJobGroup("perfbench/warm", "perfbench/warm")
        df = self.registry.QUERIES["agg_hash_group"](self.spark, self.data_dir)
        df.write.format("noop").mode("overwrite").save()
        self.catalog.release_caches()

    # -------------------------------------------------------------- ops
    def build(self, name: str, acc: dict):
        """Build phase: returns the frame(s) the run phase acts on."""
        if name != PIPELINE_OP:
            return self.registry.QUERIES[name](self.spark, self.data_dir)
        from data_collection_ieee_spark.sources import articles

        t0 = time.perf_counter()
        ieee = articles.read_bronze_json(self.spark, self.articles["ieee"], "ieee")
        acm = articles.read_bronze_json(self.spark, self.articles["acm"], "acm")
        t1 = time.perf_counter()
        merged = articles.merge_sources(
            articles.bronze_to_silver(ieee), articles.bronze_to_silver(acm)
        )
        t2 = time.perf_counter()
        _add(acc, "sources.read_s", t1 - t0)
        _add(acc, "sources.silver_s", t2 - t1)
        return merged

    def run(self, name: str, df, acc: dict) -> None:
        """Run phase: the noop sink, or the two file sinks of the pipeline."""
        if name != PIPELINE_OP:
            df.write.format("noop").mode("overwrite").save()
            return
        from data_collection_ieee_spark.sources import articles

        t0 = time.perf_counter()
        articles.write_csv(df, os.path.join(self.out_dir, "csv"))
        t1 = time.perf_counter()
        articles.write_json(df, os.path.join(self.out_dir, "json"))
        t2 = time.perf_counter()
        _add(acc, "sources.write_csv_s", t1 - t0)
        _add(acc, "sources.write_json_s", t2 - t1)

    # ------------------------------------------------------------ check
    def check(self) -> None:
        """Run every op once, untimed, and check its output."""
        from data_collection_ieee_spark import oracle

        sc = self.spark.sparkContext
        con = oracle.oracle_connection(self.data_dir)
        mismatches = 0
        t0 = time.perf_counter()
        for name in self.ops:
            sc.setJobGroup(f"{name}/check", f"{name}/check")
            self.attempted += 1
            try:
                problems = self.check_op(name, con, oracle)
            except Exception as exc:  # noqa: BLE001 - one op must not end the run
                problems = [f"{type(exc).__name__}: {str(exc)[:300]}"]
            finally:
                self.catalog.release_caches()
            if problems:
                mismatches += 1
                self.failed += 1
                self.errors.append(f"{name}: {'; '.join(problems)[:400]}")
        con.close()
        self.layers["oracle.check_s"] = time.perf_counter() - t0
        self.layers["oracle.mismatches"] = mismatches

    def check_op(self, name: str, con, oracle) -> list[str]:
        df = self.build(name, {})
        if name == PIPELINE_OP:
            self.run(name, df, {})
            back = self.spark.read.json(os.path.join(self.out_dir, "json"))
            rows, dois = back.selectExpr(
                "count(*)", "count(distinct doi_canonical)"
            ).first()
            want = (self.articles["rows"], self.articles["distinct_doi"])
            if (rows, dois) != want:
                return [f"json sink rows/distinct doi_canonical {(rows, dois)} != {want}"]
            return []
        sql = self.registry.ORACLES.get(name)
        if sql is not None:
            return oracle.compare(df, con, sql)
        if not df.collect():
            return ["no rows (no oracle; row-count check)"]
        return []

    # ----------------------------------------------------------- passes
    def passes(self, n: int, traced: bool) -> dict:
        """Time ``n`` whole passes."""
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        rng = random.Random(self.args.seed)
        known = self.group_jobs(st)
        seen = set(known)
        out = {"pass_s": [], "by_op": {}, "op_s": [], "jobs": [], "per_pass": [], "intervals": [], "op_jobs": {}}
        ckpt0 = self.catalog.ckpt_free_failures()
        for _ in range(n):
            order = list(self.ops)
            rng.shuffle(order)
            acc = dict.fromkeys(LAYER_SUMS, 0)
            op_s = []
            t_pass = time.perf_counter()
            for name in order:
                self.attempted += 1
                build_g, run_g = f"{name}/build", f"{name}/run"
                sc.setJobGroup(build_g, build_g)
                e0, t0 = time.time(), time.perf_counter()
                try:
                    df = self.build(name, acc)
                    e1, t1 = time.time(), time.perf_counter()
                    sc.setJobGroup(run_g, run_g)
                    self.run(name, df, acc)
                    e2, t2 = time.time(), time.perf_counter()
                except Exception as exc:  # noqa: BLE001 - one op must not end the run
                    self.failed += 1
                    self.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                    self.catalog.release_caches()
                    continue
                del df
                t3 = time.perf_counter()
                released = self.catalog.release_caches()
                t4 = time.perf_counter()
                out["by_op"].setdefault(name, []).append(t2 - t0)
                op_s.append(t2 - t0)
                _add(acc, "operators.build_s", t1 - t0)
                _add(acc, "operators.run_s", t2 - t1)
                _add(acc, "catalog.release_caches_s", t4 - t3)
                _add(acc, "catalog.released_frames", released)
                if traced:
                    out["intervals"].append((e0, e1, e2))
                    jobs = []
                    for phase, group in (("build", build_g), ("run", run_g)):
                        counts = _group_counts(st, group, seen)
                        for k, v in counts.items():
                            _add(acc, f"operators.{phase}_{k}", v)
                        jobs.append(counts["jobs"])
                    out["op_jobs"].setdefault(name, []).append(jobs)
            if traced:
                # what the whole pass leaves cached after its last release
                acc["catalog.persistent_rdds_after_release"] = sc._jsc.getPersistentRDDs().size()
            out["pass_s"].append(time.perf_counter() - t_pass)
            out["op_s"].append(op_s or [0.0])
            out["per_pass"].append(acc)
            # counted pass by pass: the tracker keeps only the last 1000 jobs
            now = self.group_jobs(st)
            out["jobs"].append(len(now - known))
            known = now
        out["ckpt_free_failures"] = self.catalog.ckpt_free_failures() - ckpt0
        return out

    def group_jobs(self, st) -> set[int]:
        """Ids of the jobs the tracker holds under the ops' job groups."""
        return {
            j
            for name in self.ops
            for phase in ("build", "run")
            for j in st.getJobIdsForGroup(f"{name}/{phase}")
        }

    # ---------------------------------------------------------- tracing
    def restart(self, event_log: bool) -> str:
        """Stop the context and start a new one, with or without a
        plain-JSON event log; returns the new application id."""
        jvm = self.spark._jvm
        self.spark.stop()
        for k, v in (
            ("spark.eventLog.enabled", str(event_log).lower()),
            ("spark.eventLog.compress", "false"),
            ("spark.eventLog.rolling.enabled", "false"),
            ("spark.eventLog.dir", "file://" + os.path.join(self.work, "events")),
        ):
            jvm.System.setProperty(k, v)
        self.spark = self.get_spark("perfbench")
        self.warm_up()
        # a new context loads each table afresh, launching jobs the
        # warm passes before the restart no longer did
        self.passes(1, traced=False)
        return self.spark.sparkContext.applicationId

    def jvm_rss_mb(self) -> float:
        try:
            pid = self.spark._jvm.ProcessHandle.current().pid()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except Exception:  # noqa: BLE001 - a missing /proc entry only loses this metric
            pass
        return 0.0

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        children = _descendants(os.getpid())
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None
        # the JVM's Python workers are not our children: poll until gone
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
            time.sleep(0.1)
        for p in children:
            if os.path.exists(f"/proc/{p}"):
                try:
                    os.kill(p, 9)
                except OSError:
                    pass


def _descendants(root: int) -> list[int]:
    """PIDs of every live process below ``root``."""
    parent = {}
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                # the field after the parenthesised command is the state, then ppid
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (ValueError, OSError, IndexError):
            continue
    out, frontier = [], [root]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = kids
    return out


def _add(acc: dict, key: str, v: float) -> None:
    acc[key] = acc.get(key, 0) + v


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def _group_counts(st, group: str, seen: set[int]) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of the jobs in ``group`` not
    counted before. Stages skipped on shuffle reuse (no task ran) are
    not counted."""
    ids = [j for j in st.getJobIdsForGroup(group) if j not in seen]
    seen.update(ids)
    c = {"jobs": len(ids), "stages": 0, "tasks": 0, "failed_tasks": 0}
    for j in ids:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue
            c["stages"] += 1
            c["tasks"] += si.numCompletedTasks + si.numFailedTasks
            c["failed_tasks"] += si.numFailedTasks
    return c


def _quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    return sorted(values)[max(0, math.ceil(q * len(values)) - 1)]


def _per_pass(windows: list[dict]) -> dict[str, float]:
    """Median over passes of each per-pass accumulator."""
    keys = sorted({k for p in windows for k in p})
    return {k: statistics.median(p.get(k, 0) for p in windows) for k in keys}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"run from a checkout root holding {PACKAGE}/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    foreign = _spark_jvms()
    steal0, total0 = _cpu_times()

    bench = Bench(args, spec, work)
    phases = {"start": time.perf_counter()}
    bench.make_inputs()
    phases["inputs"] = time.perf_counter()
    try:
        setup_s = bench.setup(load_table_counter=bool(args.trace))
        phases["setup"] = time.perf_counter()
        bench.check()
        phases["check"] = time.perf_counter()
        bench.passes(WARM_PASSES, traced=False)
        phases["warm"] = time.perf_counter()
        n = max(1, round(args.seconds / PASS_S))
        plain = bench.passes(n, traced=False)
        phases["timed"] = time.perf_counter()
        traced = None
        if args.trace:
            app_id = bench.restart(event_log=True)
            bench.load_table.calls, bench.load_table.seconds = 0, 0.0
            traced = bench.passes(n, traced=True)
            calls, seconds = bench.load_table.calls, bench.load_table.seconds
            rss = bench.jvm_rss_mb()
            phases["traced"] = time.perf_counter()
            # an untraced window after the traced one: the JIT keeps
            # warming, so the overhead is taken against both neighbours
            bench.restart(event_log=False)
            after = bench.passes(n, traced=False)
            phases["untraced_again"] = time.perf_counter()
    finally:
        bench.stop()
    phases["stop"] = time.perf_counter()
    steal1, total1 = _cpu_times()

    values = {
        "setup_s": setup_s,
        "pass_s": statistics.median(plain["pass_s"]),
        "op_p50_s": statistics.median(statistics.median(p) for p in plain["op_s"]),
        "op_p90_s": statistics.median(_quantile(p, 0.9) for p in plain["op_s"]),
        "jobs_per_pass": statistics.median(plain["jobs"]),
    }
    if traced is not None:
        values = dict.fromkeys(LAYER_SUMS, 0)
        values.update(_per_pass(traced["per_pass"]))
        values.update(bench.layers)
        values.update(eventlog.phase_metrics(
            os.path.join(work, "events", app_id), traced["intervals"], n))
        untraced = (statistics.median(plain["pass_s"]) + statistics.median(after["pass_s"])) / 2
        values.update({
            "session.jvm_peak_rss_mb": rss,
            "catalog.load_table_calls": calls / n,
            "catalog.load_table_s": seconds / n,
            "catalog.ckpt_free_failures": traced["ckpt_free_failures"] / n,
            # every pass overwrites the sinks, so what is there is one pass's output
            "sources.bytes_written_per_input_byte": sum(
                _dir_bytes(os.path.join(bench.out_dir, d)) for d in ("csv", "json")
            ) / bench.articles["bytes"] if bench.articles else 0.0,
            "trace.overhead_s": statistics.median(traced["pass_s"]) - untraced,
        })
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = json.load(f)["per_layer" if args.trace else "end_to_end"]

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "ops_per_pass": len(bench.ops),
        "passes": len(plain["pass_s"]),
        "op_samples": sum(len(ts) for ts in plain["by_op"].values()),
        "pass_s_all": [round(x, 4) for x in plain["pass_s"]],
        "host_steal_share": (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0,
        "foreign_spark_jvms": foreign,
        "op_median_s": {
            k: round(statistics.median(v), 4) for k, v in sorted(plain["by_op"].items())
        },
        "phase_s": {
            k: round(phases[k] - phases[p], 3)
            for p, k in zip(list(phases), list(phases)[1:])
        },
        "errors": bench.errors[:10],
    }
    if traced is not None:
        # [build jobs, run jobs] of each op, one pair per traced pass
        record["op_jobs"] = dict(sorted(traced["op_jobs"].items()))
    print(json.dumps({"run_record": record}))
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
