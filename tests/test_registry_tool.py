"""tools/registry.py: the one VALUES oracle format, and the subcommands run
in-process through ``registry.main(argv)`` on the shared session."""

import hashlib
import re

import duckdb
import pytest

from tests.conftest import SF_CORRECT
from tools import registry
from unravelsports_spark.plans import ORACLE_SQL

VALUES_PAT = re.compile(r"FROM\s*\(\s*VALUES", re.I)
VALUES_ORACLES = sorted(k for k, v in ORACLE_SQL.items() if VALUES_PAT.search(v))


def _reprint(sql: str) -> str:
    cur = duckdb.connect().execute(sql)
    return registry.values_sql([d[0] for d in cur.description], cur.fetchall())


@pytest.mark.parametrize("name", VALUES_ORACLES)
def test_values_oracle_text_is_values_sql_of_its_rows(name):
    """Every literal-VALUES oracle is byte for byte what ``values`` prints
    for its rows, so a regenerated oracle differs only where its rows do."""
    assert _reprint(ORACLE_SQL[name]) == ORACLE_SQL[name]


def test_hand_edited_literal_breaks_the_format():
    name = next(n for n in VALUES_ORACLES if "AS DOUBLE)" in ORACLE_SQL[n])
    edited = re.sub(r"CAST\(([^ ]+) AS DOUBLE\)", r"\1", ORACLE_SQL[name], count=1)
    assert edited != ORACLE_SQL[name]
    assert _reprint(edited) != edited


@pytest.fixture
def tool(spark, monkeypatch):
    monkeypatch.setattr(registry, "SF_DIR", SF_CORRECT)
    return registry.main


FAST = ["q1_pricing_summary", "m_savgol_cells"]


def test_check_passes_and_a_wrong_oracle_fails_alone(tool, capsys, monkeypatch):
    assert tool(["check", *FAST]) == 0
    assert capsys.readouterr().out.count(": exact") == 2

    monkeypatch.setitem(ORACLE_SQL, FAST[1], f"SELECT * FROM ({ORACLE_SQL[FAST[1]]}) AS o LIMIT 1")
    assert tool(["check", *FAST]) == 1
    out = capsys.readouterr().out
    assert f"{FAST[0]}: exact" in out
    assert f"{FAST[1]}: FAIL" in out


def test_snapshot_round_trip_and_missing_name(tool, tmp_path, capsys):
    path = str(tmp_path / "snap.json")
    assert tool(["snapshot", "save", path, FAST[1]]) == 0
    assert tool(["snapshot", "check", path, FAST[1]]) == 0
    assert tool(["snapshot", "check", path, FAST[1], FAST[0]]) == 1
    out = capsys.readouterr().out
    assert f"OK   {FAST[1]}" in out
    assert f"FAIL {FAST[0]}: not present" in out


def test_values_reprints_the_pinned_af_cells_oracle(tool, capsys):
    from tests.test_snapshot_pins import PINS

    assert tool(["values", "m_af_cells"]) == 0
    sql = capsys.readouterr().out.split('"""')[1]
    assert hashlib.md5(sql.encode()).hexdigest() == PINS["m_af_cells"]


def test_time_reports_probe_counters(tool, capsys):
    assert tool(["time", "--runs", "1", FAST[1]]) == 0
    row = capsys.readouterr().out.strip().splitlines()[-1].split()
    assert row[-1] == FAST[1]
    assert int(row[3]) >= 1  # jobs of the median run
