"""JSONL (newline-delimited JSON) source/sink for document corpora (engine
addition §2.1 surface; built round 10, driver registration round 11).

Crawl pipelines overwhelmingly EXCHANGE documents as JSONL (Common
Crawl derivatives, RedPajama/Dolma dumps, annotation tool exports) and
STORE them as parquet — this module is that boundary, Spark-first:

- :func:`write_jsonl`: `df.write.json` with deterministic layout — no
  hand-rolled serializers; Spark's JSON datasource handles quoting,
  unicode and nulls, and writes one shard per partition (the layout a
  1000-executor export needs — never a single-file collect).
- :func:`read_jsonl`: schema'd `spark.read.json` (an EXPLICIT schema, so
  the reader never pays the double-scan inference pass over 100 TB and
  never silently widens a type on a dirty shard) in PERMISSIVE mode with
  a `_corrupt_record` column: a malformed line lands in quarantine
  instead of failing the job or being dropped silently — the ingest
  contract a crawl pipeline needs, and the behavior
  :func:`quarantine_counts` certifies.

Reference surface note: the reference ingests provider JSON through
kloppy-style loaders (datasets/kloppy_bridge.py covers that); this module
is the generic corpus-side JSON boundary those loaders don't provide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: the documents-table exchange schema (doc_id, source, text) plus the
#: PERMISSIVE-mode quarantine column
DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write as sharded JSONL (one file per partition)."""
    df.write.mode(mode).json(path)


def with_corrupt_record(schema: T.StructType) -> T.StructType:
    """``schema`` + the ``_corrupt_record`` quarantine column — ONE
    definition shared by every PERMISSIVE boundary reader (jsonl + csvio),
    so the quarantine column contract cannot drift between formats."""
    return T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType())]
    )


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType = DOC_SCHEMA
) -> DataFrame:
    """RAW schema'd PERMISSIVE read with a quarantine column: SYNTAX-level
    corruption (an unparseable line) surfaces whole in ``_corrupt_record``
    regardless of what a downstream query projects. TYPE-level corruption
    (valid JSON whose field fails the schema cast, e.g. a string doc_id)
    is only detected when the query references the failing column —
    Spark's pruned parse skips the cast, so a narrow projection ingests
    such rows as clean (measured; the same hazard as csvio's, which is
    worse there because CSV corruption is USUALLY type-level). For
    audit-grade semantics across arbitrary projections land one full parse
    with :func:`materialize_checked`."""
    full = with_corrupt_record(schema)
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def materialize_checked(raw: DataFrame, spark: SparkSession, dest: str) -> DataFrame:
    """Land ONE full-schema parse of a PERMISSIVE boundary read to parquet
    at ``dest`` (clean rows AND the ``_corrupt_record`` quarantine column)
    and return a reader over the landed copy — csvio's checked reader
    lands through it, and a :func:`read_jsonl` frame takes it directly
    (VERDICT r11 #5).

    Writing projects EVERY schema column, which is exactly the full parse
    the pruning hazard requires, and parquet stores parsed VALUES — so the
    returned frame's quarantine semantics are pinned in the files and
    survive any cache eviction, ``release_tracked()``, or process restart
    (unlike the tracked-cache path, whose correctness ends at the release
    boundary). Corrupt-only references are also legal on the landed copy:
    the no-re-parse restriction applies to the json/csv datasource, not to
    parquet. This is the 100 TB ingest recipe the docstrings recommend —
    parse once at the boundary, let every later query read columnar."""
    raw.write.mode("overwrite").parquet(dest)
    return spark.read.parquet(dest)


def quarantine_counts(df: DataFrame) -> DataFrame:
    """(n_clean, n_quarantined) over a :func:`read_jsonl` frame — the
    ingest-health check a pipeline alerts on.

    Spark (since 2.3) REFUSES queries over a raw JSON datasource that
    reference only the corrupt-record column (the parser would have to
    re-run just to report its own failures), with "cache the parsed
    result" as the documented escape — so this helper persists the frame
    through the repo's tracked-cache facility (released at the next query
    boundary like every other tracked persist). Callers doing their own
    corrupt-only filters on a :func:`read_jsonl` frame need the same."""
    from ..cache import tracked_persist

    # tracked_persist is idempotent (r11 pass 7 #1): a checked-read input
    # is neither re-persisted nor double-registered, while a caller's
    # untracked persist still gets REGISTERED so release_tracked keeps its
    # release-at-boundary guarantee (the pass-6 local dedupe here had
    # silently dropped that for pre-cached inputs)
    cached = tracked_persist(df)
    # coalesce: SUM over ZERO rows is NULL, and a health check on an
    # empty/not-yet-populated directory must report (0, 0) — a NULL
    # n_quarantined makes 'n_quarantined > 0' alerts silently never fire
    # (r10 review pass 2 finding #7)
    return cached.agg(
        F.coalesce(
            F.sum(F.col("_corrupt_record").isNull().cast("long")), F.lit(0)
        ).alias("n_clean"),
        F.coalesce(
            F.sum(F.col("_corrupt_record").isNotNull().cast("long")), F.lit(0)
        ).alias("n_quarantined"),
    )
