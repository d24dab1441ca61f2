"""CSV corpus source/sink (engine addition §2.1 surface; built round 11,
driver registration queued r13) — the other interchange format crawl and
annotation pipelines ship documents in (metadata dumps, spreadsheet
exports, label vendor returns). Spark-first like sources/jsonl.py:

- :func:`write_csv`: `df.write.csv` with RFC-4180 quoting — quote and
  ESCAPE are both `"` (doubled-quote escaping), not Spark's backslash
  default, so the shards are readable by DuckDB/pandas/Excel and survive
  embedded commas and quotes byte-exactly. One shard per partition.
- :func:`read_csv`: explicit schema (never the double-scan inference pass)
  in PERMISSIVE mode with a `_corrupt_record` quarantine.
  :func:`~unravelsports_spark.sources.jsonl.quarantine_counts` works on
  the result unchanged (same column contract).

CSV quarantine hazard (r11 review pass 5 — measured, Spark-specific): the
CSV parser validates ONLY the columns a query references. A downstream
projection that prunes the malformed column reads the corrupt row AS CLEAN
(`select('source','text')` happily returns the row whose doc_id failed to
parse), and a query whose pruned references collapse to the corrupt-record
column alone raises QUERY_ONLY_CORRUPT_RECORD_COLUMN. Quarantine-correct
consumption therefore requires parsing every schema column once — that is
:func:`read_csv_checked` (one full parse, persisted through the tracked
cache; the audit you came for costs exactly that parse). Use the raw
:func:`read_csv` only when every downstream query references all schema
columns. JSONL shares the TYPE-level leg of this hazard (a valid-JSON row
whose field fails the schema cast also leaks under pruning — see
read_jsonl); only SYNTAX-level corruption is
pruning-immune there. CSV corruption is usually type-level (every field is
a bare string until cast), which is why the hazard bites hardest here.

Scale caveat the API makes explicit: records with EMBEDDED NEWLINES need
``multi_line=True``, and multiLine CSV parses each FILE as one unsplittable
unit (the parser cannot resync mid-file), so a 100 TB export that needs it
should prefer JSONL (sources/jsonl.py) or many small shards. The default
(multi_line=False) keeps every shard line-splittable — newline-free
corpora (or JSON-escaped text columns) pay nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .jsonl import (  # the shared (doc_id, source, text) + quarantine contract
    DOC_SCHEMA,
    with_corrupt_record,
)

#: RFC-4180 dialect: doubled-quote escaping, header row per shard.
#: ignore*WhiteSpace are EXPLICIT on both sides because their defaults
#: disagree (write trims boundary whitespace by default, read does not) —
#: found by the round-trip oracle: '  padded ends  ' lost its trailing
#: spaces and flipped the fingerprint sum.
_CSV_OPTS = {
    "header": "true",
    "quote": '"',
    "escape": '"',
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
}


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write as sharded RFC-4180 CSV (one file per partition, header per
    shard, doubled-quote escaping)."""
    df.write.mode(mode).options(**_CSV_OPTS).csv(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOC_SCHEMA,
    multi_line: bool = False,
) -> DataFrame:
    """RAW schema'd PERMISSIVE read with a quarantine column — correct
    ONLY for queries that reference every schema column (see the module
    quarantine-hazard note: CSV validates just the referenced columns, so
    a pruning projection ingests corrupt rows as clean and a corrupt-only
    reference raises). For audit-grade semantics use
    :func:`read_csv_checked`. ``multi_line=True`` only for records with
    embedded newlines (see the module scale caveat)."""
    full = with_corrupt_record(schema)
    return (
        spark.read.schema(full)
        .options(**_CSV_OPTS)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("multiLine", str(bool(multi_line)).lower())
        .csv(path)
    )


def read_csv_checked(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOC_SCHEMA,
    multi_line: bool = False,
    materialize: str | None = None,
) -> DataFrame:
    """Quarantine-CORRECT read: the full-schema parse is materialized once
    through the tracked cache (released at the repo's usual query
    boundaries), so every downstream projection — however narrow — sees
    the corrupt rows flagged and never re-triggers the pruning hazard.
    The cost is the one full parse the audit requires anyway; at 100 TB
    run it at ingest, land clean rows to parquet, and let every later
    query read the columnar copy instead of re-parsing CSV.

    Release caveat (r11 pass 6 #3): after ``release_tracked()`` a
    STILL-HELD checked frame recomputes from the raw files and silently
    reverts to pruned-parse semantics — treat the frame's lifetime as
    ending at the release boundary, OR pass ``materialize=<scratch dir>``
    (VERDICT r11 #5) to land the parse to parquet via
    :func:`~unravelsports_spark.sources.jsonl.materialize_checked`: the
    landed copy's quarantine semantics live in the files, not the cache,
    and survive release/eviction/restart."""
    from ..cache import tracked_persist
    from .jsonl import materialize_checked

    raw = read_csv(spark, path, schema, multi_line)
    if materialize is not None:
        return materialize_checked(raw, spark, materialize)
    return tracked_persist(raw)
