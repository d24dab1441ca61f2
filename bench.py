#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

The headline set is ``unravelsports_spark.plans.HEADLINE``: the queries
registered with ``headline=True``, in registry order (the criterion is in
the ``plans.query`` docstring). Why a query is not headlined is a comment on
the query where it is defined.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed twice: a warm-up collect (JIT/codegen, file listing)
is NOT counted; the timed run reflects steady-state execution. Model-kernel
benches run the Pressing Intensity and graph-conversion pipelines on a
synthetic tracking table sized to the scale factor.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from unravelsports_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def sf_from_dir(d: str) -> float:
    name = os.path.basename(d.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def time_df(make_df, warmup: bool = True, runs: int = 3) -> float:
    """Steady-state wall time: one uncounted warm-up (codegen, file listing,
    shuffle-service spin-up), then best-of-`runs` — JIT tiering and GC pauses
    can still land in the first post-warmup run."""
    if warmup:
        make_df().write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        make_df().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def time_duck(con, sql: str, runs: int = 5) -> float:
    """Best-of-`runs` DuckDB oracle wall time (first run warms the buffer
    pool and is also counted — DuckDB has no JIT warm-up to exclude)."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    from unravelsports_spark.cache import release_tracked
    from unravelsports_spark.datasets.synthetic import AWAY, HOME, synthetic_tracking_df
    from unravelsports_spark.models.graph_converter import SoccerGraphConverter
    from unravelsports_spark.models.pressing_intensity import PressingIntensity
    from unravelsports_spark.plans import HEADLINE, ORACLE_SQL, QUERIES
    from unravelsports_spark.settings import DefaultSettings, GraphSettings

    from tools.registry import counted_run, gate_duckdb

    spark = get_spark("unravelsports-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    sf = sf_from_dir(SF_DIR)
    timings: dict[str, float] = {}

    # measured empty-job floor: the fixed per-job cost (scheduling + codegen
    # + task fan-out) on this box. Ratios vs single-process engines are only
    # interpretable above this floor — a 0.05 s DuckDB query can never beat
    # it regardless of plan quality.
    floor = round(time_df(lambda: spark.range(1)), 4)

    n_jobs: dict[str, int] = {}
    for name in HEADLINE:
        # label jobs per query (guide §1.5) so event logs / UI stay readable
        spark.sparkContext.setJobDescription(f"bench:{name}")
        timings[name] = round(time_df(lambda: QUERIES[name](spark, SF_DIR)), 4)
        release_tracked()  # drop per-query persisted intermediates
        # count the Spark jobs one timed run launches: broadcast-build chains
        # pay the fixed per-job cost once per job, so a 5-job query carries
        # ~5 floors of scheduling overhead — n_jobs makes the floor-adjusted
        # ratios interpretable instead of hiding it
        _, counters = counted_run(spark, f"count:{name}", lambda: QUERIES[name](spark, SF_DIR))
        n_jobs[name] = counters.jobs
        release_tracked()

    # DuckDB oracle wall time on the same parquet, same box — the 2×-gate
    # evidence (BASELINE.md: the reference publishes no numbers, so the
    # single-node columnar engine is the operative baseline). The
    # floor-adjusted ratio subtracts the fixed per-job scheduling cost that
    # dominates sub-second queries on local[32] but vanishes at scale.
    con = gate_duckdb(SF_DIR)
    oracle_sec: dict[str, float] = {}
    ratio_floor_adj: dict[str, float] = {}
    ratio_jobs_adj: dict[str, float] = {}
    for name in HEADLINE:
        if name not in ORACLE_SQL:
            continue
        oracle_sec[name] = round(time_duck(con, ORACLE_SQL[name]), 4)
        if oracle_sec[name] > 0:
            ratio_floor_adj[name] = round(
                max(timings[name] - floor, 0.0) / oracle_sec[name], 3
            )
            # every Spark job pays the fixed scheduling floor, so n_jobs ×
            # floor is the upper bound on per-query overhead (jobs partly
            # overlap, so the truth sits between the two adjustments: the
            # 1-floor ratio over-counts Spark, the n_jobs ratio under-counts)
            ratio_jobs_adj[name] = round(
                max(timings[name] - n_jobs[name] * floor, 0.0) / oracle_sec[name], 3
            )
    con.close()

    # model kernels on synthetic tracking sized to sf (sf0.1 → 2,000 frames /
    # 46k rows spread over 8 games — the many-match shape the engine
    # parallelizes over), cached so kernel time dominates, not generation
    n_games = 8
    n_frames = max(50, int(20_000 * sf) // n_games)
    tracking = synthetic_tracking_df(spark, n_frames=n_frames, n_games=n_games, seed=1).cache()
    tracking.count()
    settings = DefaultSettings(home_team_id=HOME, away_team_id=AWAY)
    gsettings = GraphSettings(home_team_id=HOME, away_team_id=AWAY)

    spark.sparkContext.setJobDescription("bench:model_pressing_intensity")
    timings["model_pressing_intensity"] = round(
        time_df(
            lambda: PressingIntensity(tracking, settings)
            .fit(method="teams", ball_method="max", orient="home_away", speed_threshold=2)
            .output
        ),
        4,
    )
    spark.sparkContext.setJobDescription("bench:model_graph_convert")
    timings["model_graph_convert"] = round(
        time_df(lambda: SoccerGraphConverter(tracking, gsettings).to_graph_frames()),
        4,
    )
    spark.sparkContext.setJobDescription("bench:model_efpi_possession")
    timings["model_efpi_possession"] = round(
        time_df(lambda: QUERIES["m_efpi_possession"](spark, SF_DIR)), 4
    )
    # the reference's primary EFPI mode: per-frame formation detection over
    # the sf-sized tracking table — the heaviest model-kernel path
    # (template-bound pruning + list-based JV solver land here)
    from unravelsports_spark.models.efpi import EFPI

    spark.sparkContext.setJobDescription("bench:model_efpi_frame")
    timings["model_efpi_frame"] = round(
        time_df(lambda: EFPI(tracking, settings).fit(every="frame").output), 4
    )

    spark.sparkContext.setJobDescription(None)
    total = round(sum(timings.values()), 4)
    oracle_total = round(sum(oracle_sec.values()), 4)
    spark_oracle_total = round(sum(timings[n] for n in oracle_sec), 4)
    agg_ratio = (
        round(
            max(spark_oracle_total - len(oracle_sec) * floor, 0.0) / oracle_total, 3
        )
        if oracle_total > 0
        else None
    )
    agg_ratio_jobs = (
        round(
            max(
                spark_oracle_total - sum(n_jobs[n] for n in oracle_sec) * floor, 0.0
            )
            / oracle_total,
            3,
        )
        if oracle_total > 0
        else None
    )
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "floor": floor,
        "n_jobs": n_jobs,
        "oracle_sec": oracle_sec,
        "ratio_floor_adj": ratio_floor_adj,
        "ratio_jobs_adj": ratio_jobs_adj,
        "oracle_total_sec": oracle_total,
        "spark_oracle_subset_sec": spark_oracle_total,
        "agg_ratio_floor_adj": agg_ratio,
        "agg_ratio_jobs_adj": agg_ratio_jobs,
    }
    # The driver records only a 2000-char stdout TAIL; the full dict is
    # ~5 KB, so every BENCH_r8..r13 artifact ended up "parsed": null
    # (VERDICT r13 residual nit). Print a COMPACT line that fits the tail
    # (per-query spark seconds at 3 decimals + the aggregates; the four
    # per-query oracle-side dicts move to the detail files), and write the
    # full dict to a PER-RUN file (VERDICT r14 #6: a fixed BENCH_DETAIL.json
    # was rewritten in place by every run, so the driver's 8-cpu leg
    # clobbered the builder's committed 32-cpu evidence) and to
    # $SPARK_GRAFT_BENCH_OUT.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    detail_name = f"BENCH_DETAIL_c{cpus}_{int(time.time())}.json"
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": {k: round(v, 3) for k, v in timings.items()},
            "sf": sf,
            "floor": floor,
            "oracle_total_sec": oracle_total,
            "spark_oracle_subset_sec": spark_oracle_total,
            "agg_ratio_floor_adj": agg_ratio,
            "agg_ratio_jobs_adj": agg_ratio_jobs,
            "detail": detail_name,
        },
        separators=(",", ":"),
    )
    print(line)
    for out in (
        os.path.join(os.path.dirname(os.path.abspath(__file__)), detail_name),
        os.environ.get("SPARK_GRAFT_BENCH_OUT", "/tmp/bench_last.json"),
    ):
        try:
            with open(out, "w") as f:
                f.write(json.dumps(detail) + "\n")
        except OSError:
            pass  # a read-only target must never fail the bench itself
    spark.stop()


if __name__ == "__main__":
    main()
