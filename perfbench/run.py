#!/usr/bin/env python3
"""The repository's benchmark: the paper's tracking chain and the dedup
graph queries, run in a closed loop on a local Spark session.

    python3 perfbench/run.py --workload season_backfill --seed 1 --seconds 1 --trace 0

One client submits a whole chain repetition, waits for it and submits the
next, until ``--seconds`` have passed. Correctness is checked after the
timed loop; the last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run also
writes its spans and Spark counters to ``.perfbench_work/``. See
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from probe import RssSampler, Tracer, job_group_counters, task_skew

# The package and the modules that import it (chains, checks, layers) are
# imported inside functions: the environment must be fitted before pyspark
# starts its JVM.
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("season_backfill", "dedup_graph")
TRACKING_OPS = ("ingest", "pressing", "graphs", "efpi_frame", "efpi_possession")
DEDUP_OPS = ("d_dup_clusters", "d_cluster_keep_best", "d_label_communities", "d_pagerank", "d_kcore_peeling")
# grouped-map kernel -> the op it runs in (velocity smoothing runs in ingest)
KERNELS = {
    "savgol": "ingest",
    "pressing": "pressing",
    "graphs": "graphs",
    "efpi_frame": "efpi_frame",
    "efpi_possession": "efpi_possession",
}
SESSION_COUNTERS = ("jobs", "tasks", "single_task_stages", "shuffle_bytes", "spill_bytes", "executor_run_s", "core_busy")

#: input sizes per workload
SIZES = {
    "season_backfill": {"matches": 2, "frames": 150},
    "dedup_graph": {"docs": 300},
}
N_SETUPS = 5

END_TO_END = {
    "setup_s": "s",
    "chain_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    units = {f"operators.{op}_s": "s" for op in ("melt", "velocity", "acceleration", "possession", "orientation")}
    for op in TRACKING_OPS + DEDUP_OPS:
        units[f"bench.{op}.wall_s"] = "s"
        for c in SESSION_COUNTERS:
            units[f"session.{op}.{c}"] = {"executor_run_s": "s", "shuffle_bytes": "B", "spill_bytes": "B",
                                          "core_busy": "ratio"}.get(c, "count")
    for k in KERNELS:
        units.update({
            f"models.{k}.python_run_s": "s",
            f"models.{k}.python_start_s": "s",
            f"models.{k}.arrow_bytes": "B",
            f"models.{k}.kernel_groups": "count",
            f"models.{k}.task_skew": "ratio",
        })
    units.update({
        "functions.intercept_us_per_frame": "us",
        "functions.graph_batch_us_per_frame": "us",
        "functions.assignment_us_per_frame": "us",
        "functions.assignment_solves_per_frame": "count",
        "functions.savgol_us_per_series": "us",
        "sources.tracking_write_s": "s",
        "sources.tracking_bytes": "B",
        "sources.graph_write_s": "s",
        "sources.graph_bytes": "B",
        "bench.tracing_overhead_s": "s",
        "bench.error_rate": "ratio",
    })
    return units


def fit_environment(work: str) -> None:
    """Size the session to this machine and keep every file it writes
    inside ``work``. Must run before pyspark starts its JVM."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    heap_mb = min(1024, total_mb // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The whole heap is committed and touched at JVM start, so the peak RSS
    # does not depend on when the collector chose to grow the heap.
    java_options = f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m -XX:+AlwaysPreTouch"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{heap_mb}m",
        # Python workers import the package from the checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            f"--driver-java-options '{java_options}' pyspark-shell"
        ),
    )


class Bench:
    """One workload on one Spark session: staged inputs plus its chain."""

    def __init__(self, spark, workload: str, work: str, seed: int, sizes: dict, tracer):
        from chains import DedupChain, TrackingChain
        from inputs import stage_documents, stage_matches

        self.workload = workload
        if workload == "dedup_graph":
            self.chain = DedupChain(spark, stage_documents(work, seed, sizes["docs"]), tracer)
        else:
            matches = stage_matches(work, seed, sizes["matches"], sizes["frames"])
            self.chain = TrackingChain(spark, work, matches, tracer)


class Loop:
    """Runs chain repetitions and records walls, digests and failures."""

    def __init__(self, spark, tracer):
        self.spark, self.tracer = spark, tracer
        self.rep = 0
        self.attempted = self.failed = 0
        self.digests: dict[str, set] = {}
        self.counters: dict[str, list] = {}
        self.errors: list[str] = []

    def run(self, bench: Bench, traced: bool) -> dict[str, float]:
        self.tracer.enabled = traced
        self.tracer.rep = self.rep
        sc = self.spark.sparkContext
        walls = {}
        t0 = time.perf_counter()
        with self.tracer.span("chain"):
            for name, op in bench.chain.ops():
                group = f"rep{self.rep}.{name}"
                sc.setJobGroup(group, name)
                self.attempted += 1
                start = time.perf_counter()
                try:
                    with self.tracer.span(name):
                        out = op()
                    walls[name] = time.perf_counter() - start
                    out = out() if callable(out) else out
                except Exception:  # an op that raises is a failed operation; keep measuring
                    self.failed += 1
                    self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
                    continue
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                self.digests.setdefault(name, set()).add(out)
                if traced:
                    self.counters.setdefault(name, []).append((walls[name], job_group_counters(self.spark, group)))
        walls["chain"] = time.perf_counter() - t0
        self.tracer.enabled = False
        self.rep += 1
        return walls


def closed_loop(loop: Loop, bench: Bench, seconds: float, trace: bool) -> list[tuple[bool, dict]]:
    """Repetitions back to back until the next one would end after
    ``seconds``, at least one. The first runs in a fresh session and pays
    every op's first-run costs (JIT, code generation, Python worker
    start-up), as a backfill job does. A traced run alternates untraced
    and traced repetitions, at least one of each after the first."""
    min_reps = 3 if trace else 1
    reps = []
    start = time.perf_counter()
    while True:
        traced = trace and len(reps) % 2 == 1
        reps.append((traced, loop.run(bench, traced)))
        elapsed = time.perf_counter() - start
        if len(reps) >= min_reps and elapsed + reps[-1][1]["chain"] > seconds:
            return reps


def start_spark():
    from unravelsports_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        sizes: dict | None = None, perturb=None) -> dict:
    """One benchmark run; returns the result object. ``perturb``, when
    given, is applied to the collected correctness sample before it is
    checked (the smoke test uses it to prove the checks can fail)."""
    sizes = sizes or SIZES[workload]
    tracer = Tracer()
    with RssSampler() as rss:
        spark = None
        setups = []
        try:
            for _ in range(N_SETUPS):
                t0 = time.perf_counter()
                if spark is not None:
                    spark.stop()
                spark = start_spark()
                bench = Bench(spark, workload, os.path.join(work, "inputs"), seed, sizes, tracer)
                setups.append(time.perf_counter() - t0)
            loop = Loop(spark, tracer)
            rss.reset()
            reps = closed_loop(loop, bench, seconds, trace)
            peak_rss_mb = rss.peak_kib / 1024.0
            print(
                f"perfbench: {workload} setups {[round(s, 2) for s in setups]} "
                f"reps {[{k: round(v, 2) for k, v in w.items()} for _, w in reps]}",
                file=sys.stderr,
            )

            t0 = time.perf_counter()
            checks = correctness(spark, bench, loop, seed, perturb)
            print(f"perfbench: checks {time.perf_counter() - t0:.2f} s", file=sys.stderr)
            if trace:
                metrics = per_layer_metrics(spark, bench, loop, reps, tracer, seed)
                write_trace(workload, seed, tracer, loop, metrics)
            else:
                metrics = {
                    "setup_s": statistics.median(setups),
                    "chain_s": reps[0][1]["chain"],
                    "peak_rss_mb": peak_rss_mb,
                }
        finally:
            if spark is not None:
                stop_spark(spark)
    attempted = loop.attempted + checks["attempted"]
    failed = loop.failed + checks["failed"]
    if trace:
        metrics["bench.error_rate"] = failed / attempted
    units = END_TO_END if not trace else per_layer_units()
    for msg in loop.errors + checks["messages"]:
        print(f"perfbench: {msg}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def correctness(spark, bench: Bench, loop: Loop, seed: int, perturb) -> dict:
    """Digest agreement across repetitions, row-count invariants and the
    independent recomputation (tracking) or DuckDB oracle (dedup)."""
    from checks import check_dedup, check_tracking, collect_tracking_sample

    messages = [
        f"{op}: {len(digests)} different output digests across repetitions"
        for op, digests in loop.digests.items()
        if len(digests) != 1
    ]
    failed = len(messages)
    if bench.workload == "dedup_graph":
        sample = dict(bench.chain.results)
        if perturb:
            perturb(sample)
        messages += check_dedup(bench.chain.sf_dir, sample)
    else:
        sample = collect_tracking_sample(bench.chain, seed)
        if perturb:
            perturb(sample)
        rows = {op: next(iter(d)).rows for op, d in loop.digests.items() if len(d) == 1}
        messages += check_tracking(bench.chain, sample, rows)
    # one check per op's digests, plus the sample check as one more
    failed += len(messages) > failed
    return {"attempted": len(loop.digests) + 1, "failed": failed, "messages": messages}


def per_layer_metrics(spark, bench: Bench, loop: Loop, reps, tracer, seed: int) -> dict:
    from chains import dir_bytes
    from layers import kernel_floor, operator_self_times

    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    cpus = spark.sparkContext.defaultParallelism
    # the first repetition is the cold one: it is left out of both sides
    traced = [w["chain"] for t, w in reps[1:] if t]
    untraced = [w["chain"] for t, w in reps[1:] if not t]
    m = {k: 0.0 for k in per_layer_units()}
    m["bench.tracing_overhead_s"] = med(traced) - med(untraced)

    for op, samples in loop.counters.items():
        m[f"bench.{op}.wall_s"] = med([w for w, _ in samples])
        for c in ("jobs", "tasks", "single_task_stages", "shuffle_bytes", "spill_bytes", "executor_run_s"):
            m[f"session.{op}.{c}"] = med([getattr(cn, c) for _, cn in samples])
        m[f"session.{op}.core_busy"] = med([cn.executor_run_s / (w * cpus) for w, cn in samples])
    for kernel, op in KERNELS.items():
        samples = loop.counters.get(op, [])
        for c in ("python_run_s", "python_start_s", "arrow_bytes"):
            m[f"models.{kernel}.{c}"] = med([getattr(cn, c) for _, cn in samples])
        m[f"models.{kernel}.task_skew"] = med([task_skew(cn.heavy_task_s) for _, cn in samples])

    if bench.workload != "dedup_graph":
        chain = bench.chain
        m.update(kernel_groups(chain))
        durations = lambda name: [s.end - s.start for s in tracer.spans if s.name == name]  # noqa: E731
        m["sources.tracking_write_s"] = med(durations("sources.tracking_write"))
        m["sources.tracking_bytes"] = dir_bytes(chain.tracking_path)
        m["sources.graph_write_s"] = med(durations("sources.graph_write"))
        m["sources.graph_bytes"] = dir_bytes(chain.graphs_path)
        for op, wall in operator_self_times(spark, chain.matches).items():
            m[f"operators.{op}_s"] = wall
        from checks import collect_tracking_sample

        sample = collect_tracking_sample(chain, seed + 1, frames_per_match=40)
        series = [
            g.sort_values(["period_id", "timestamp"])["x"].to_numpy()
            for m_ in chain.matches
            for _, g in m_.long.groupby(["id", "period_id"])
        ]
        m.update(kernel_floor(sample["frame_rows"], series, chain.settings()))
    return m


def kernel_groups(chain) -> dict[str, float]:
    """Groups each grouped-map kernel runs over, from the public batch
    sizes of the models and the generated frames."""
    from checks import possession
    from unravelsports_spark.models.efpi import EFPI
    from unravelsports_spark.models.pressing_intensity import PressingIntensity

    fields = lambda cls, f: cls.__dataclass_fields__[f].default  # noqa: E731
    s = chain.settings()
    batch = fields(PressingIntensity, "frames_per_batch")
    chunk = fields(EFPI, "stateless_chunk_frames")
    buckets = fields(EFPI, "stateless_segment_buckets")
    g = dict.fromkeys(("savgol", "pressing", "graphs", "efpi_frame", "efpi_possession"), 0)
    for m in chain.matches:
        owner = possession(m.long, s.ball_carrier_threshold)
        kept = owner[owner["kept"]]
        frames = m.long.drop_duplicates("frame_id").set_index("frame_id").loc[kept.index]
        g["savgol"] += m.long.groupby(["id", "period_id"]).ngroups
        g["pressing"] += len({(p, f // batch) for p, f in zip(frames["period_id"], frames.index)})
        g["efpi_frame"] += len({f // chunk for f in kept.index})
        segments = int((kept["owner_team"] != kept["owner_team"].shift()).sum())
        g["efpi_possession"] += min(buckets, segments)
    g["graphs"] = g["pressing"]
    return {f"models.{k}.kernel_groups": v for k, v in g.items()}


def write_trace(workload: str, seed: int, tracer, loop: Loop, metrics: dict) -> None:
    """Spans, per-op Spark counters and the per-layer metrics, in one file."""
    from dataclasses import asdict

    os.makedirs(WORK_ROOT, exist_ok=True)
    path = os.path.join(WORK_ROOT, f"trace-{workload}-seed{seed}.json")
    doc = {
        "workload": workload,
        "seed": seed,
        "spans": [asdict(s) for s in tracer.spans],
        "self_s": {n: tracer.self_time(n) for n in sorted({s.name for s in tracer.spans})},
        "counters": {op: [dict(asdict(c), wall_s=w) for w, c in v] for op, v in loop.counters.items()},
        "metrics": metrics,
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"perfbench: trace written to {path}", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "unravelsports_spark", "__init__.py")):
        print(f"perfbench: no unravelsports_spark package in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    fit_environment(work)
    sys.path.insert(0, ROOT)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
