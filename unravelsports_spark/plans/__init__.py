"""The query registry: every registered DataFrame plan, its DuckDB oracle and
how bench and the registry tool treat it.

A query registers where it is defined, with the ``@query`` decorator; the
eight domain modules imported at the bottom hold the queries:

- ``relational``: the SURVEY §2 operator inventory and the TPC-H shapes;
- ``streaming``: sliding and session windows;
- ``models``: the model kernels and their hash twins;
- ``dedup``: near-duplicate detection and the near-duplicate graph;
- ``retrieval``: nearest-neighbour search, k-means and ranking;
- ``text``: tokenizers, filters, selection and the corpus-prep pipelines;
- ``crawl``: crawl planning, markup extraction and container round trips;
- ``media``: image, audio and video decode and features.

Registry order is module order, then definition order. The oracle kind
follows from the oracle text: none means the driver checks rows only, a
``FROM (VALUES`` literal pins the output (``tools/registry.py values``
regenerates it and ``tests/test_snapshot_pins.py`` pins its md5), and any
other SQL recomputes the result in DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}
#: the queries ``bench.py`` times against their oracles, in registry order
HEADLINE: list[str] = []
#: each query's scale class (see ``query``)
SCALE: dict[str, str] = {}

SCALES = ("exact", "sf0.01", "ln_boundary")


def query(name: str, oracle: str | None = None, *, headline: bool = False, scale: str = "exact"):
    """Register the decorated ``fn(spark, sf_dir) -> DataFrame`` as ``name``.

    ``oracle`` is DuckDB SQL over the same tables that returns the same rows.
    ``headline`` puts the query in bench.py's headline set: its DuckDB
    oracle must take long enough at sf0.1 that the time ratio measures plan
    quality, not Spark's fixed per-job cost. ``scale`` says where the oracle
    holds:

    - ``"exact"``: at every scale factor;
    - ``"sf0.01"``: a pinned engine-specific or non-SQL output, exact at the
      gate scale only and different elsewhere by construction;
    - ``"ln_boundary"``: exact unless a rounded ln() lands on a rounding
      boundary, where the JVM and libm may differ by one ulp.

    A name registers once, and has at most one oracle.
    """
    if name in QUERIES:
        raise ValueError(f"query {name!r} is already registered")
    if oracle is not None and name in ORACLE_SQL:
        raise ValueError(f"query {name!r} already has an oracle")
    if scale not in SCALES:
        raise ValueError(f"query {name!r}: scale {scale!r} is not one of {SCALES}")

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        if headline:
            HEADLINE.append(name)
        SCALE[name] = scale
        return fn

    return deco


# the domain modules register their queries on import, in this order
from . import relational, streaming, models, dedup, retrieval, text, crawl, media  # noqa: E402,F401
