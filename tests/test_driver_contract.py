"""Entry-contract invariants: the order of queries() that decides which 50
queries a round certifies, computed from the CORRECTNESS_r*.json records
and the map of queries touched since them."""

import importlib.util
import json
from pathlib import Path

WINDOW = 50

_ENTRY_PATH = Path(__file__).resolve().parents[1] / "__spark_entry__.py"


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", str(_ENTRY_PATH)
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_touched_map_names_registered_queries():
    """A typo'd map key would never become due, and never expire."""
    mod = _load_entry()
    from unravelsports_spark.plans import QUERIES

    assert set(mod._TOUCHED) <= set(QUERIES)


def test_queries_are_due_keys_then_stalest_first():
    """On the committed records: the due keys fit in the window (a due key
    past slot 50 is not checked), queries() lists them first, and the rest
    follow by non-decreasing last-verified round. Same 210 keys, same
    oracles."""
    mod = _load_entry()
    from unravelsports_spark.plans import ORACLE_SQL, QUERIES

    seen = mod.last_verified(mod._HERE)
    due = {n for n in QUERIES if mod.is_due(n, seen)}
    names = list(mod.queries())
    assert len(due) <= WINDOW, sorted(due)
    assert set(names[: len(due)]) == due
    rest = [seen.get(n, 0) for n in names[len(due):]]
    assert rest == sorted(rest)
    assert sorted(names) == sorted(QUERIES)
    assert mod.oracle_sql() == ORACLE_SQL


def _records(tmp_path, rounds):
    for rnd, recs in rounds.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(recs))
    return tmp_path


_GREEN = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 3, "oracle_rows": 3, "err": None}
_WRONG = dict(_GREEN, hash_match=False)
_ROWS = {"rows_match": None, "schema_match": None, "hash_match": None,
         "spark_rows": 100, "oracle_rows": None, "err": "no_oracle"}
_FAILED = dict(_ROWS, err="Traceback ...")


def test_order_from_handwritten_records(tmp_path):
    """Records r15-r17 in the recorded format: a key never recorded green
    is due; a map entry expires once a later record shows the key green;
    hash_match false, a failed rows-only run or one with no rows refreshes
    nothing; rows-only keys order by their last rows-green record."""
    mod = _load_entry()
    from unravelsports_spark.plans import ORACLE_SQL, QUERIES

    assert mod._TOUCHED["w7_row_index"] == 15
    assert mod._TOUCHED["m_pressing_intensity"] == 15
    d = _records(tmp_path, {
        15: {"w7_row_index": _GREEN, "a5_conditional_sum": _GREEN,
             "m_pressing_intensity": _ROWS, "m_savgol_events": _ROWS},
        16: {"w7_row_index": _GREEN, "a5_conditional_sum": _WRONG,
             "m_pressing_intensity": _FAILED,
             "m_savgol_events": dict(_ROWS, spark_rows=0)},
        17: {"m_efpi_possession": _ROWS},
    })
    seen = mod.last_verified(d)
    assert seen == {"w7_row_index": 16, "a5_conditional_sum": 15,
                    "m_pressing_intensity": 15, "m_savgol_events": 15,
                    "m_efpi_possession": 17}
    due = {n for n in QUERIES if mod.is_due(n, seen)}
    assert "q1_pricing_summary" in due and "q1_pricing_summary" in ORACLE_SQL
    assert "m_pressing_intensity" in due  # mapped at 15, last green r15
    assert due == set(QUERIES) - {"w7_row_index", "a5_conditional_sum",
                                  "m_savgol_events", "m_efpi_possession"}
    names = mod.certification_order(d)
    assert names[len(due):] == ["a5_conditional_sum", "m_savgol_events",
                                "w7_row_index", "m_efpi_possession"]


def test_no_records_gives_registry_order(tmp_path):
    """Without records every key is due, so the order is the registry's."""
    mod = _load_entry()
    from unravelsports_spark.plans import QUERIES

    assert mod.last_verified(tmp_path) == {}
    assert all(mod.is_due(n, {}) for n in QUERIES)
    assert mod.certification_order(tmp_path) == list(QUERIES)


def test_read_table_cache_single_generation(spark, tmp_path):
    """read_table reuses the analyzed DataFrame within one session (no
    footer re-read) and read_table_cache_clear() resets it; the cache
    must also serve correct per-(dir, table) entries."""
    from unravelsports_spark.session import (
        read_table,
        read_table_cache_clear,
    )

    read_table_cache_clear()
    a1 = read_table(spark, "/root/testdata/sf0.001", "region")
    a2 = read_table(spark, "/root/testdata/sf0.001", "region")
    assert a1 is a2  # same analyzed plan object: no footer job re-paid
    b = read_table(spark, "/root/testdata/sf0.01", "region")
    assert b is not a1  # different dir → different entry
    assert a1.count() != b.count() or a1.count() > 0
    read_table_cache_clear()
    a3 = read_table(spark, "/root/testdata/sf0.001", "region")
    assert a3 is not a1  # cleared: a fresh DataFrame
    assert sorted(map(tuple, a3.collect())) == sorted(map(tuple, a1.collect()))


def test_read_table_refresh_rereads_rewritten_dir(spark, tmp_path):
    """refresh=True (ADVICE r8 #3): a caller that rewrote a parquet dir
    mid-session gets fresh data without the global cache clear — and the
    refreshed entry replaces the stale one for later default reads."""
    from unravelsports_spark.session import read_table

    d = str(tmp_path)
    p = str(tmp_path / "region.parquet")
    spark.createDataFrame([(1, "a")], "r_regionkey long, r_name string").write.parquet(p)
    first = read_table(spark, d, "region")
    assert first.count() == 1
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "r_regionkey long, r_name string"
    ).write.mode("overwrite").parquet(p)
    # without refresh the cached entry is stale by design (it pins the old
    # file listing — executing it now raises FAILED_READ_FILE)
    assert read_table(spark, d, "region") is first
    fresh = read_table(spark, d, "region", refresh=True)
    assert fresh.count() == 2
    assert read_table(spark, d, "region") is fresh  # replaced the entry
