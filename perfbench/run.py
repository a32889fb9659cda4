"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds nothing: the program is the
``vamana_spark`` package next to this directory. Everything the run
writes (staged inputs, Spark scratch, event log) goes under
``.perfbench_run/`` in the checkout and is removed at exit.

Output: a ``# context`` line (host load, sizes, every metric under its
workload-specific name, the set-up breakdown), then as the last line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import eventlog, host  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "recall": "fraction",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}

#: per-layer ops: every traced run reports all of them (0 where a
#: workload does not run the op)
OPS = (
    "index.vamana.build",
    "index.vamana.search",
    "index.vamana.search_minibatch",
    "operators.dedup.minhash_near_dups",
    "operators.dedup.incremental_dedup",
)
COUNTS = {
    "session.start_s": "s",
    "all_ops.jobs": "count",
    "index.kernels.search.dist_comps_per_query": "count",
    "index.kernels.search.hops_per_query": "count",
    "index.graph.reachable_frac": "fraction",
    "index.graph.avg_degree": "count",
    "operators.dedup.minhash.candidate_pairs": "count",
    "operators.dedup.minhash.verified_pairs": "count",
    "operators.dedup.minhash.useful_ratio": "fraction",
    "operators.dedup.incremental_dedup.kept_rows": "count",
}

#: workload-specific names of the generic end-to-end values
NAMED = {
    "index-build": {"throughput_per_s": "build_points_per_s", "recall": "recall_at_10",
                    "op_p50_s": "probe_search_p50_s"},
    "index-islands": {"throughput_per_s": "build_points_per_s", "recall": "recall_at_10",
                      "op_p50_s": "probe_search_p50_s"},
    "index-search": {"throughput_per_s": "search_qps", "recall": "recall_at_10",
                     "op_p50_s": "minibatch_p50_s"},
    "text-dedup": {"throughput_per_s": "dedup_docs_per_s", "recall": "near_dup_recall"},
}
ALL_NAMED = (
    ("setup_s", "s"), ("build_points_per_s", "points/s"), ("recall_at_10", "fraction"),
    ("search_qps", "queries/s"), ("minibatch_p50_s", "s"), ("minibatch_p95_s", "s"),
    ("dedup_docs_per_s", "docs/s"), ("near_dup_recall", "fraction"),
    ("incdedup_docs_per_s", "docs/s"), ("peak_rss_mb", "MB"), ("error_rate", "fraction"),
    ("probe_search_p50_s", "s"),
)

SETUP_REPS = 3
#: timed calls per phase at least, however long a call takes: a phase's
#: median then never rests on a single call
MIN_CALLS = 2


def _cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


class Bench:
    """State of one run: the session, timers, checks and metrics."""

    def __init__(self, spark, rss, workload: str, seed: int, seconds: float, trace: bool,
                 run_dir: str):
        import numpy as np

        self.spark, self.rss = spark, rss
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.run_dir = run_dir
        self.rng = np.random.default_rng(seed)
        self.spans: dict = {op: [] for op in OPS}
        self.attempted = self.failed = 0
        self.problems: list = []
        self.e2e: dict = {}
        self.counts: dict = dict.fromkeys(COUNTS, 0.0)
        self.setup: dict = {}
        self.info: dict = {}

    # -- spans ----------------------------------------------------------
    @contextlib.contextmanager
    def op(self, name: str):
        """Span around one call into the program. In a traced run its
        Spark jobs are tagged with the job group ``name``."""
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(name, name)
        cpu0, t0 = _cpu_s(), time.time()
        try:
            yield
        finally:
            self.spans.setdefault(name, []).append(
                {"t0": t0, "t1": time.time(), "cpu_s": _cpu_s() - cpu0}
            )
            if self.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def loop(self, name: str, budget_s: float, fn, check) -> list:
        """Warm up with one untimed call of ``fn`` (its wall time counts
        toward ``setup_s``), then call it until ``budget_s`` has passed and
        at least ``MIN_CALLS`` times; each timed call is one attempted op,
        timed alone and then checked (RSS sampling paused). Returns the
        wall times of the calls that passed their check; none if the
        warm-up raised."""
        try:
            self.setup_step(f"warmup_{name.rsplit('.', 1)[-1]}_s", fn)
        except Exception:
            self.check(f"{name} warm-up", [traceback.format_exc(limit=3)])
            return []
        times, calls, start = [], 0, time.perf_counter()
        while True:
            t = time.perf_counter()
            try:
                with self.op(name):
                    out = fn()
                dt = time.perf_counter() - t
                with self.rss.paused():
                    problems = check(out)
            except Exception:
                problems = [traceback.format_exc(limit=3)]
            self.check(name, problems)
            if not problems:
                times.append(dt)
            calls += 1
            if calls >= MIN_CALLS and time.perf_counter() - start >= budget_s:
                self.info.setdefault("op_times_s", {})[name] = times
                return times

    @contextlib.contextmanager
    def guarded(self, what: str):
        """A step outside the timed loops: an exception in it counts as
        one failed check and does not end the run."""
        try:
            yield
        except Exception:
            self.check(what, [traceback.format_exc(limit=3)])

    def check(self, what: str, problems: list) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append(f"{what}: {'; '.join(problems)}")
            print(f"CHECK FAILED {what}: {problems}", file=sys.stderr)

    # -- values ---------------------------------------------------------
    def metric(self, name: str, value: float) -> None:
        self.e2e[name] = float(value)

    def count(self, name: str, value: float) -> None:
        self.counts[name] = float(value)

    def describe(self, sizes: dict, **extra) -> None:
        self.info.update(sizes, **extra)

    def latency_tail(self, what: str, times: list) -> None:
        """Sample count, p50 and p95; p95 is reported only once at least
        ten samples lie beyond it."""
        import numpy as np

        self.info[f"{what}_samples"] = len(times)
        self.info[f"{what}_p50_s"] = float(np.median(times))
        self.info[f"{what}_p95_s"] = float(np.percentile(times, 95)) if len(times) >= 200 else None

    # -- set-up ---------------------------------------------------------
    def setup_stage(self, name: str, table, schema: str):
        """Stage an input as Parquet files in the run directory (written by
        pyarrow, outside Spark) and return the DataFrame Spark reads from
        them. Written SETUP_REPS times; the median counts toward
        ``setup_s``."""
        import pyarrow.parquet as pq

        path = os.path.join(self.run_dir, "inputs", name)
        parts = len(os.sched_getaffinity(0))
        times = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            step = -(-table.num_rows // parts)
            with self.rss.paused():
                for i in range(parts):
                    pq.write_table(table.slice(i * step, step),
                                   os.path.join(path, f"part-{i:05d}.parquet"))
            times.append(time.perf_counter() - t)
        t = time.perf_counter()
        df = self.spark.read.schema(schema).parquet(path)
        self.setup[f"stage_{name}_s"] = statistics.median(times) + time.perf_counter() - t
        return df

    def setup_step(self, key: str, fn):
        t = time.perf_counter()
        out = fn()
        self.setup[key] = time.perf_counter() - t
        return out


def start_session(run_dir: str, trace: bool):
    """Start the program's session as a user of a small local host would:
    ``SPARK_GRAFT_CPUS`` = usable cores, a driver heap well below RAM, and
    every scratch path inside the run directory."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    heap_gb = max(1, min(2, mem_kb // (4 * 1024 * 1024)))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # HotSpot writes its perf-data file to /tmp, outside the run
        # directory: off for spark-submit's launcher JVM and the driver JVM
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        ["--driver-java-options", java_opts]
        + [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
        + ["pyspark-shell"]
    )
    from vamana_spark.session import get_session

    t = time.perf_counter()
    spark = get_session(app_name="perfbench")
    return spark, time.perf_counter() - t


def stop_session(spark) -> list:
    """Stop Spark and the JVM, and wait for the JVM and every Python
    worker to end. Returns pids that had to be killed."""
    from pyspark import SparkContext

    pids = [p for p in host.process_tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    return host.wait_gone(pids)


def _layer_metrics(bench: Bench, start_s: float) -> dict:
    log = eventlog.find_log(os.path.join(bench.run_dir, "eventlog"))
    recs = eventlog.fold(eventlog.read_events(log), bench.spans)
    out = {}
    jobs = 0.0
    for op in OPS:
        rec = eventlog.per_call(recs[op])
        jobs += recs[op]["jobs"]
        for field, unit in eventlog.FIELDS.items():
            out[f"{op}.{field}"] = {"value": rec[field], "unit": unit}
    bench.counts["session.start_s"] = start_s
    bench.counts["all_ops.jobs"] = jobs
    for name, unit in COUNTS.items():
        out[name] = {"value": bench.counts[name], "unit": unit}
    return out


def _named(bench: Bench, rss_mb: float) -> dict:
    """Every metric under its workload-specific name (None where the
    workload does not measure it)."""
    named = dict.fromkeys((n for n, _ in ALL_NAMED), None)
    for generic, name in NAMED[bench.workload].items():
        named[name] = bench.e2e.get(generic)
    named["setup_s"] = bench.e2e.get("setup_s")
    named["peak_rss_mb"] = rss_mb
    named["error_rate"] = bench.failed / max(bench.attempted, 1)
    if bench.workload == "index-search":
        named["minibatch_p95_s"] = bench.info.get("minibatch_p95_s")
    if bench.workload == "text-dedup" and "op_p50_s" in bench.e2e:
        named["incdedup_docs_per_s"] = bench.info["batch"] / bench.e2e["op_p50_s"]
    units = dict(ALL_NAMED)
    return {k: {"value": v, "unit": units[k]} for k, v in named.items()}


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import vamana_spark  # noqa: F401  (fail fast, before any set-up)

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    ctx = host.HostContext()
    ctx.start()
    try:
        with host.RssSampler() as rss:
            spark, start_s = start_session(run_dir, bool(args.trace))
            bench = Bench(spark, rss, args.workload, args.seed, args.seconds, bool(args.trace),
                          run_dir)
            bench.setup["session_start_s"] = start_s
            try:
                # a failure the workload does not catch itself still ends
                # in a printed (incorrect) result
                with bench.guarded("workload"):
                    WORKLOADS[args.workload](bench)
            finally:
                killed = stop_session(spark)
        setup_s = sum(bench.setup.values())
        bench.metric("setup_s", setup_s)
        bench.metric("peak_rss_mb", rss.peak_bytes / 2**20)
        if args.trace:
            metrics = _layer_metrics(bench, start_s)
        else:
            metrics = {k: {"value": bench.e2e[k], "unit": u} for k, u in E2E_UNITS.items() if k in bench.e2e}
        context = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "sizes": bench.info, "setup": bench.setup,
            "named": _named(bench, rss.peak_bytes / 2**20),
            "e2e": bench.e2e, "host": ctx.end(), "killed_pids": killed,
            "peak_rss_mb_by_process": {k: v / 2**20 for k, v in rss.peak_by_name.items()},
            "problems": bench.problems,
        }
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("# context " + json.dumps(context, default=float))
    missing = [k for k in E2E_UNITS if k not in bench.e2e]
    result = {
        "correct": bench.failed == 0 and not missing,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
