"""CSV corpus boundary (sources/csvio.py) — built round 11, REGISTERED
round 13 as `o18_csv_roundtrip`. The canonical oracle SQL and query shape
now live in plans/crawl.py; this suite imports them, so twin and oracle cannot drift.

The injected suffixes make RFC-4180 quoting LOAD-BEARING: embedded commas,
embedded doubled quotes and boundary spaces must survive the write/read
byte-exactly or the md5-prefix fingerprint sum flips. The oracle recomputes
the rollup from the ORIGINAL parquet plus the same injection arithmetic —
the CSV bytes exist only between Spark's writer and Spark's reader."""

from pyspark.sql import functions as F

from unravelsports_spark.plans.crawl import (
    CSV_ROUNDTRIP_SQL,
    o18_csv_roundtrip,
)

from .conftest import SF_CORRECT


def test_csv_roundtrip_matches_duckdb(spark, duck):
    got = sorted(map(tuple, o18_csv_roundtrip(spark, SF_CORRECT).collect()))
    want = sorted(map(tuple, duck.execute(CSV_ROUNDTRIP_SQL).fetchall()))
    assert got == want and len(got) == 20


def test_embedded_newline_needs_multiline(spark, tmp_path):
    """Embedded newlines round-trip ONLY under multi_line=True — the
    default line-splittable read quarantines/garbles them, which is the
    documented trade (JSONL is the recommended carrier there)."""
    from unravelsports_spark.sources.csvio import read_csv, write_csv

    df = spark.createDataFrame(
        [(0, "a", "line one\nline two"), (1, "a", "plain")],
        "doc_id long, source string, text string",
    )
    p = str(tmp_path / "nl")
    write_csv(df, p)
    ml = {
        r["doc_id"]: r["text"]
        for r in read_csv(spark, p, multi_line=True)
        .where(F.col("_corrupt_record").isNull())
        .collect()
    }
    assert ml == {0: "line one\nline two", 1: "plain"}
    flat = read_csv(spark, p).where(F.col("_corrupt_record").isNull())
    texts = {r["text"] for r in flat.collect()}
    assert "line one\nline two" not in texts  # default mode cannot carry it


def test_quote_comma_roundtrip_exact(spark, tmp_path):
    """The RFC-4180 dialect carries commas, doubled quotes, leading/
    trailing spaces and empty strings byte-exactly."""
    from unravelsports_spark.sources.csvio import read_csv, write_csv

    vals = ['a,b,"c" d', '""', "  pad  ", "", 'quote"inside', ",lead", "trail,"]
    df = spark.createDataFrame(
        [(i, "s", v) for i, v in enumerate(vals)],
        "doc_id long, source string, text string",
    )
    p = str(tmp_path / "q")
    write_csv(df, p)
    got = {
        r["doc_id"]: r["text"]
        for r in read_csv(spark, p)
        .where(F.col("_corrupt_record").isNull())
        .collect()
    }
    # Spark's CSV writer emits empty string as an empty (NULL-reading)
    # field — the one known lossy cell; everything else is byte-exact
    for i, v in enumerate(vals):
        if v == "":
            assert got[i] in ("", None)
        else:
            assert got[i] == v, (i, ascii(v), ascii(got[i]))


def test_corrupt_line_quarantined(spark, tmp_path):
    from unravelsports_spark.cache import release_tracked
    from unravelsports_spark.sources.csvio import read_csv, write_csv
    from unravelsports_spark.sources.jsonl import quarantine_counts

    df = spark.createDataFrame(
        [(0, "a", "x")], "doc_id long, source string, text string"
    )
    p = str(tmp_path / "c")
    write_csv(df, p)
    with open(f"{p}/part-bad.csv", "w") as fh:
        fh.write("doc_id,source,text\nNaN-ish,s,t\n")
    qc = quarantine_counts(read_csv(spark, p)).collect()[0]
    release_tracked()
    assert (qc["n_clean"], qc["n_quarantined"]) == (1, 1)


def test_pruning_hazard_and_checked_read(spark, tmp_path):
    """The CSV-specific quarantine hazard, pinned (r11 pass 5 finding #1):
    on a RAW read, a projection that prunes the malformed column ingests
    the corrupt row as clean; read_csv_checked closes it for every
    downstream projection. Also pins the corrupt-only-reference crash
    (finding #3) so the docstrings stay honest."""
    import pytest
    from pyspark.errors import AnalysisException

    from unravelsports_spark.cache import release_tracked
    from unravelsports_spark.sources.csvio import (
        read_csv,
        read_csv_checked,
        write_csv,
    )

    df = spark.createDataFrame(
        [(0, "a", "x")], "doc_id long, source string, text string"
    )
    p = str(tmp_path / "h")
    write_csv(df, p)
    with open(f"{p}/part-bad.csv", "w") as fh:
        fh.write("doc_id,source,text\nnotanumber,srcX,oops\n")

    # ALL raw-frame assertions BEFORE read_csv_checked exists: the
    # checked frame persists the IDENTICAL logical plan, and Spark's cache
    # manager then serves the raw frame from the InMemoryRelation too —
    # masking both hazards (observed: the raise below vanished once the
    # cache was live; that masking is itself why the hazards are so easy
    # to ship).
    raw = read_csv(spark, p)
    leaked = (
        raw.where(F.col("_corrupt_record").isNull())
        .select("source", "text")
        .collect()
    )
    assert len(leaked) == 2, "Spark now validates pruned columns - update csvio docs"
    with pytest.raises(AnalysisException) as ei:
        raw.where(F.col("_corrupt_record").isNull()).count()
    assert "CORRUPT_RECORD" in str(ei.value).upper()

    checked = read_csv_checked(spark, p)
    try:
        clean = (
            checked.where(F.col("_corrupt_record").isNull())
            .select("source", "text")
            .collect()
        )
        assert len(clean) == 1 and clean[0]["source"] == "a"
        # clean-row counts work on the checked frame
        assert checked.where(F.col("_corrupt_record").isNull()).count() == 1
    finally:
        # an assertion failure must not leak the persisted frame into the
        # shared-session suite (r11 pass 7 #3)
        release_tracked()


def test_materialized_checked_read_survives_release(spark, tmp_path):
    """The materialize= hardening (VERDICT r11 #5): the landed-parquet
    checked read keeps quarantine-correct semantics AFTER release_tracked
    and a full cache clear — the one place where a cache decision was
    correctness-load-bearing, now opt-out. Also pins that corrupt-only
    references are legal on the landed copy (parquet, not the csv
    datasource, so the no-re-parse restriction doesn't apply)."""
    from unravelsports_spark.cache import release_tracked
    from unravelsports_spark.sources.csvio import read_csv_checked, write_csv

    df = spark.createDataFrame(
        [(0, "a", "x")], "doc_id long, source string, text string"
    )
    p = str(tmp_path / "h")
    write_csv(df, p)
    with open(f"{p}/part-bad.csv", "w") as fh:
        fh.write("doc_id,source,text\nnotanumber,srcX,oops\n")

    checked = read_csv_checked(spark, p, materialize=str(tmp_path / "landed"))
    release_tracked()
    spark.catalog.clearCache()  # prove nothing cache-resident is load-bearing
    clean = (
        checked.where(F.col("_corrupt_record").isNull())
        .select("source", "text")
        .collect()
    )
    assert len(clean) == 1 and clean[0]["source"] == "a"
    # corrupt-only reference: raises on the raw csv datasource (pinned
    # above), works on the landed copy
    assert checked.where(F.col("_corrupt_record").isNotNull()).count() == 1


def test_o18_releases_tracked_caches_in_finally(spark):
    """ADVICE r13 #2 pin: o18_csv_roundtrip tracked-persists the checked
    CSV frame via quarantine_counts; invoked outside the driver's
    evicting wrapper it must release in its own finally (mirroring o19),
    else the cached relation — backed by the just-deleted tmpdir —
    lingers until some later query boundary."""
    from unravelsports_spark.cache import _TRACKED, release_tracked
    from unravelsports_spark.plans.crawl import o18_csv_roundtrip

    release_tracked()
    o18_csv_roundtrip(spark, SF_CORRECT).collect()
    assert _TRACKED == []
