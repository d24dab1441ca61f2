#!/usr/bin/env python
"""Check, time, snapshot and re-pin the registry's queries.

    python tools/registry.py check NAME... | --all | --window [N]
    python tools/registry.py time NAME... | --all [--runs K]
    python tools/registry.py snapshot save|check PATH NAME...
    python tools/registry.py values NAME...

- ``check`` compares each query with its DuckDB oracle (exact values via
  ``tests/oracle_compare.py:compare_frames``; a query without an oracle is
  collected as a rows-only smoke). ``--window`` grades what the driver
  grades: ``__spark_entry__.py`` loaded by path in a plain ``local[8]``
  session, ``entry()`` smoke-run, then the first N (default 50) of
  ``queries()``. A query that raises fails alone; exit code 1 if any failed.
  Off the sf0.01 gate scale, a mismatch of a query registered with a
  ``scale`` other than ``"exact"`` is reported as benign, not failed.
- ``time`` runs one noop-sink warm-up, then K timed runs (default 3), each
  under its own job group, and prints wall median/min/max with the
  counters of the median run, slowest query first.
- ``snapshot`` saves or checks the canonical row set of each query (sorted
  ``repr`` of row tuples) — the check for queries without an oracle.
- ``values`` prints the literal-VALUES oracle block of each query, ready to
  paste into its ``plans/`` module. Every literal-VALUES oracle in the
  registry is exactly ``values_sql`` of its own rows
  (``tests/test_registry_tool.py``), and the snapshot ones are md5-pinned in
  ``tests/test_snapshot_pins.py``, so a regeneration is a second, visible
  edit there.

Tables are read from ``$SPARK_GRAFT_SF_DIR`` (default the gate scale,
sf0.01). ``main(argv)`` returns the exit code and leaves the session
running, so tests can call it in-process.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

from perfbench.probe import OpCounters, job_group_counters  # noqa: E402
from tests.oracle_compare import compare_frames  # noqa: E402
from unravelsports_spark.cache import release_tracked  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

GATE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

def gate_duckdb(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per gate table under ``sf_dir``."""
    con = duckdb.connect()
    for t in GATE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, float):
        return f"CAST({v!r} AS DOUBLE)"
    if isinstance(v, int) and not isinstance(v, bool):
        return f"CAST({v} AS BIGINT)"
    raise TypeError(f"no VALUES literal for {v!r}")


def values_sql(columns, rows) -> str:
    """The one literal-VALUES oracle text for ``rows`` (in the given order)."""
    body = ",\n".join("      (" + ", ".join(map(_literal, r)) + ")" for r in rows)
    return f"\n    SELECT * FROM (VALUES\n{body}\n    ) AS t({', '.join(columns)})\n    "


def counted_run(spark, group: str, make_df) -> tuple[float, OpCounters]:
    """Wall time of one noop-sink run of ``make_df()`` under job group
    ``group``, and the counters of the jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        make_df().write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    finally:
        sc.setJobGroup("", "")
    return wall, job_group_counters(spark, group)


def _registry_session():
    from unravelsports_spark.plans import ORACLE_SQL, QUERIES
    from unravelsports_spark.session import get_spark

    spark = get_spark("registry-tool")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, QUERIES, ORACLE_SQL


def _entry_session():
    """The driver's view: ``__spark_entry__.py`` loaded by path, a plain
    session (none of the package's session config)."""
    from pyspark.sql import SparkSession

    spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, mod


def check(spark, queries, oracles, names, sf_dir: str) -> int:
    from unravelsports_spark.plans import SCALE

    gate_scale = sf_dir.rstrip("/").endswith("sf0.01")
    con = gate_duckdb(sf_dir)
    failed, benign = [], 0
    t0 = time.time()
    for i, name in enumerate(names, 1):
        t = time.time()
        try:
            df = queries[name](spark, sf_dir)
            if name not in oracles:
                verdict = f"rows-only ({len(df.collect())} rows)"
            else:
                ok, msg = compare_frames(df, con.execute(oracles[name]))
                if ok:
                    verdict = "exact"
                elif not gate_scale and SCALE[name] != "exact":
                    verdict = f"scale {SCALE[name]} ({msg[:80]})"
                    benign += 1
                else:
                    verdict = f"FAIL {msg[:300]}"
                    failed.append(name)
        except Exception as e:  # noqa: BLE001 — a raising query fails alone
            verdict = f"FAIL raised {type(e).__name__}: {str(e)[:300]}"
            failed.append(name)
        finally:
            release_tracked()
        print(f"[{i}/{len(names)}] {name}: {verdict} {time.time() - t:.1f}s", flush=True)
    con.close()
    print(
        f"check @ {sf_dir}: {len(names) - len(failed)}/{len(names)} green "
        f"({benign} benign-diff), {len(failed)} failed, {time.time() - t0:.0f}s"
    )
    if failed:
        print("FAILED:", failed)
    return 1 if failed else 0


def time_queries(spark, queries, names, sf_dir: str, runs: int) -> int:
    out, errors = [], []
    for name in names:
        try:
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            release_tracked()
            timed = []
            for r in range(runs):
                timed.append(counted_run(spark, f"time:{name}:{r}", lambda: queries[name](spark, sf_dir)))
                release_tracked()
            walls = [w for w, _ in timed]
            median_run = sorted(timed, key=lambda wc: wc[0])[(runs - 1) // 2][1]
            out.append((statistics.median(walls), min(walls), max(walls), median_run, name))
            print(f". {name} {out[-1][0]:.2f}s", flush=True)
        except Exception as e:  # noqa: BLE001 — a raising query fails alone
            release_tracked()
            errors.append(f"{name} ERROR {type(e).__name__}: {str(e)[:120]}")
            print(f". {errors[-1]}", flush=True)
    out.sort(key=lambda row: row[0], reverse=True)
    print(f"\n=== wall over {runs} warm runs @ {sf_dir}; counters of the median run ===")
    print(f"{'median_s':>8} {'min_s':>7} {'max_s':>7} {'jobs':>4} {'stages':>6} {'tasks':>6} "
          f"{'shuffle_B':>10} {'spill_B':>8} {'exec_s':>7}  query")
    for med, lo, hi, c, name in out:
        print(f"{med:8.3f} {lo:7.3f} {hi:7.3f} {c.jobs:4d} {c.stages:6d} {c.tasks:6d} "
              f"{c.shuffle_bytes:10d} {c.spill_bytes:8d} {c.executor_run_s:7.2f}  {name}")
    for line in errors:
        print(f"{'':>71}  {line}")
    return 1 if errors else 0


def _canon(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def snapshot(spark, queries, mode: str, path: str, names, sf_dir: str) -> int:
    if mode == "save":
        snap = {}
        for name in names:
            snap[name] = _canon(queries[name](spark, sf_dir))
            release_tracked()
            print(f"saved {name}: {len(snap[name])} rows", flush=True)
        with open(path, "w") as f:
            json.dump(snap, f)
        return 0
    with open(path) as f:
        ref = json.load(f)
    rc = 0
    for name in names:
        if name not in ref:
            print(f"FAIL {name}: not present in snapshot {path}", flush=True)
            rc = 1
            continue
        got = _canon(queries[name](spark, sf_dir))
        release_tracked()
        if got == ref[name]:
            print(f"OK   {name} ({len(got)} rows)", flush=True)
        else:
            a, b = set(ref[name]), set(got)
            print(f"FAIL {name}: {len(ref[name])} ref vs {len(got)} got; "
                  f"only-ref {sorted(a - b)[:3]} only-got {sorted(b - a)[:3]}", flush=True)
            rc = 1
    return rc


def values(spark, queries, names, sf_dir: str) -> int:
    for name in names:
        df = queries[name](spark, sf_dir)
        rows = sorted(map(tuple, df.collect()))
        release_tracked()
        print(f'        "{name}": """{values_sql(df.columns, rows)}""",', flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("check", help="compare queries with their DuckDB oracles")
    c.add_argument("names", nargs="*")
    c.add_argument("--all", action="store_true", help="every registered query")
    c.add_argument("--window", nargs="?", type=int, const=50, metavar="N",
                   help="the driver's view: the first N (default 50) of __spark_entry__.queries()")
    t = sub.add_parser("time", help="warm walls and counters, slowest first")
    t.add_argument("names", nargs="*")
    t.add_argument("--all", action="store_true", help="every registered query")
    t.add_argument("--runs", type=int, default=3)
    s = sub.add_parser("snapshot", help="save or check canonical row sets")
    s.add_argument("mode", choices=["save", "check"])
    s.add_argument("path")
    s.add_argument("names", nargs="+")
    v = sub.add_parser("values", help="print literal-VALUES oracle blocks")
    v.add_argument("names", nargs="+")
    args = ap.parse_args(argv)

    if args.cmd in ("check", "time"):
        picked = bool(args.names) + args.all + (getattr(args, "window", None) is not None)
        if picked != 1:
            ap.error(f"{args.cmd}: give query names or one selector flag")
    if args.cmd == "time" and args.runs < 1:
        ap.error("time: --runs must be at least 1")

    if args.cmd == "check" and args.window is not None:
        spark, mod = _entry_session()
        df = mod.entry(spark)
        n = len(df.collect())
        print(f"entry smoke: {n} rows, schema {df.schema.simpleString()[:80]}")
        qs = mod.queries()
        rc = check(spark, qs, mod.oracle_sql(), list(qs)[: args.window], SF_DIR)
        return max(rc, int(n == 0))

    spark, queries, oracles = _registry_session()
    names = list(queries) if getattr(args, "all", False) else args.names
    if args.cmd == "check":
        return check(spark, queries, oracles, names, SF_DIR)
    if args.cmd == "time":
        return time_queries(spark, queries, names, SF_DIR, args.runs)
    if args.cmd == "snapshot":
        return snapshot(spark, queries, args.mode, args.path, names, SF_DIR)
    return values(spark, queries, names, SF_DIR)


if __name__ == "__main__":
    sys.exit(main())
