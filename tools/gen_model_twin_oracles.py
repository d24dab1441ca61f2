#!/usr/bin/env python
"""Regenerate the literal VALUES oracles for the model full-output
fingerprint twins (plans/model_twins.py: the six m_*_fp queries) and for
m_af_cells, the one all-BIGINT cell twin whose input is generated here
(datasets/synthetic.py:synthetic_bdb_csvs).

Run after an INTENDED kernel/assembly change, paste the printed SQL into
ORACLE_SQL.update in plans/model_twins.py, and update the corresponding
pin in tests/test_snapshot_pins.py (the pin forces every re-snapshot to be
a second, visible diff line — see that module's docstring). An unintended
change flips the driver hash instead.

The fingerprints are partitioning-independent (per-frame md5s summed
order-insensitively), so one local run is the canonical value.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from unravelsports_spark.plans import QUERIES  # noqa: E402
from unravelsports_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

TWINS = [
    "m_af_cells",
    "m_pressing_intensity_fp",
    "m_graph_convert_fp",
    "m_graph_convert_delaunay_fp",
    "m_af_graph_convert_fp",
    "m_efpi_possession_fp",
    "m_savgol_events_fp",
]


def main() -> None:
    spark = get_spark("gen-model-twin-oracles")
    spark.sparkContext.setLogLevel("ERROR")
    for name in TWINS:
        rows = QUERIES[name](spark, SF_DIR).collect()
        assert len(rows) == 1, (name, rows)
        row = rows[0]
        cols = ", ".join(row.asDict())
        vals = ", ".join(f"CAST({v} AS BIGINT)" for v in row)
        print(f'        "{name}": """')
        print("    SELECT * FROM (VALUES")
        print(f"      ({vals})")
        print(f"    ) AS t({cols})")
        print('    """,')


if __name__ == "__main__":
    main()
