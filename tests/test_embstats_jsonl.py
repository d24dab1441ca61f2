"""Per-dimension embedding stats (operators/embstats.py) and the JSONL
source boundary (sources/jsonl.py) — built round 10, driver-registered
round 11 (plans/retrieval.py, plans/crawl.py). The canonical oracle SQL moved there at
registration; this test imports it so twin and oracle cannot drift."""

from pyspark.sql import functions as F

from unravelsports_spark.plans.retrieval import EMB_DIM_STATS_SQL

from .conftest import SF_CORRECT


def test_embedding_dim_stats_matches_duckdb(spark, duck):
    """Exact integer-grid per-dimension stats over the embeddings table —
    count/sum/mean/min/max bit-identical to the SQL twin in any
    aggregation order."""
    from unravelsports_spark.operators.embstats import embedding_dim_stats
    from unravelsports_spark.session import read_table

    e = read_table(spark, SF_CORRECT, "embeddings")
    got = sorted(map(tuple, embedding_dim_stats(e).collect()))
    want = sorted(map(tuple, duck.execute(EMB_DIM_STATS_SQL).fetchall()))
    assert got == want and len(got) == 64
    # the negative-sum mean path (div vs // both truncate toward zero) is
    # genuinely exercised by the fixture — don't let a data regen drop it
    assert any(r[2] < 0 and r[2] % r[1] != 0 for r in got)


def test_embedding_dim_stats_order_invariant(spark):
    """Integer aggregation is associative: a reshuffled corpus produces
    BIT-identical stats (the reason the grid path exists — a double AVG
    would not)."""
    from unravelsports_spark.operators.embstats import embedding_dim_stats
    from unravelsports_spark.session import read_table

    e = read_table(spark, SF_CORRECT, "embeddings")
    a = sorted(map(tuple, embedding_dim_stats(e).collect()))
    b = sorted(map(tuple, embedding_dim_stats(e.repartition(17)).collect()))
    assert a == b


def test_embedding_dim_stats_known_values(spark):
    from unravelsports_spark.operators.embstats import embedding_dim_stats

    df = spark.createDataFrame(
        [(0, [1.0, -0.5]), (1, [0.5, 0.25])], ["vec_id", "embedding"]
    )
    got = {r["pos"]: r for r in embedding_dim_stats(df).collect()}
    Q = 1 << 20
    assert got[0]["sum_q"] == Q + Q // 2 and got[0]["n"] == 2
    assert got[1]["min_q"] == -Q // 2 and got[1]["max_q"] == Q // 4
    # Spark's div() AND DuckDB's // both truncate toward zero (verified:
    # duckdb SELECT -7 // 2 = -3), so negative non-divisible sums — 34 of
    # the 64 dimensions at sf0.01 — agree across engines. Do NOT "fix"
    # either side to floor semantics; that breaks the oracle on those rows.
    assert got[0]["mean_q"] == (Q + Q // 2) // 2
    import duckdb as _dd

    assert _dd.sql("SELECT -7 // 2").fetchone()[0] == -3  # truncation, not floor


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path, duck):
    """documents → JSONL shards → PERMISSIVE schema'd read: clean rows
    round-trip exactly (hash-compared source rollup vs DuckDB on the
    original parquet — the r11 `o17_jsonl_roundtrip` oracle shape), an
    injected malformed line lands in _corrupt_record instead of failing
    or vanishing."""
    from unravelsports_spark.session import read_table
    from unravelsports_spark.sources.jsonl import (
        quarantine_counts,
        read_jsonl,
        write_jsonl,
    )

    docs = read_table(spark, SF_CORRECT, "documents").select(
        "doc_id", "source", "text"
    )
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)
    back = read_jsonl(spark, path)
    got = sorted(
        map(
            tuple,
            back.where(F.col("_corrupt_record").isNull())
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.length("text")).alias("total_chars"),
                F.sum("doc_id").alias("sum_ids"),
            )
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            duck.execute(
                """
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(length(text)) AS BIGINT) AS total_chars,
               CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        FROM documents GROUP BY source
        """
            ).fetchall(),
        )
    )
    assert got == want and len(got) == 20

    # inject a corrupt SHARD (one malformed line): quarantined, not
    # dropped/fatal. A new file + refreshByPath, because Spark's global
    # FileStatusCache pins the first read's listing/lengths for the path.
    with open(f"{path}/part-corrupt.json", "w") as fh:
        fh.write('{"doc_id": 999999, "source": "x", "text": truncated\n')
    spark.catalog.refreshByPath(path)
    back2 = read_jsonl(spark, path)
    qc = quarantine_counts(back2).collect()[0]
    assert qc["n_quarantined"] == 1
    assert qc["n_clean"] == docs.count()
    # corrupt-only filters on the RAW datasource are disallowed by Spark —
    # persist first (quarantine_counts does the same internally)
    from unravelsports_spark.cache import release_tracked, tracked_persist

    bad = (
        tracked_persist(back2)
        .where(F.col("_corrupt_record").isNotNull())
        .collect()
    )
    assert len(bad) == 1 and "truncated" in bad[0]["_corrupt_record"]
    release_tracked()


def test_embedding_dim_stats_property_matches_numpy(spark):
    """Property (hypothesis): for random float32-representable vectors the
    grid stats equal an independent numpy recompute exactly — count, sum,
    truncating mean, min and max, negative values included."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from unravelsports_spark.operators.embstats import Q, embedding_dim_stats

    vecs = st.lists(
        st.lists(
            st.floats(
                min_value=-8.0, max_value=8.0, allow_nan=False, width=32
            ),
            min_size=3,
            max_size=3,
        ),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=10, deadline=None)
    @given(vecs)
    def law(vs):
        rows = [(i, [float(np.float32(x)) for x in v]) for i, v in enumerate(vs)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {r["pos"]: r for r in embedding_dim_stats(df).collect()}
        for pos in range(3):
            qs = [
                int(np.floor(np.float64(np.float32(v[pos])) * Q))
                for v in vs
            ]
            r = got[pos]
            assert r["n"] == len(qs) and r["sum_q"] == sum(qs)
            assert r["min_q"] == min(qs) and r["max_q"] == max(qs)
            # div truncates toward zero (NOT python's floor //) — exact
            # integer form, no float division
            s = sum(qs)
            expected = -((-s) // len(qs)) if s < 0 else s // len(qs)
            assert r["mean_q"] == expected, (pos, s, len(qs), r["mean_q"])

    law()


def test_jsonl_type_corruption_pruning_hazard(spark, tmp_path):
    """JSONL shares the TYPE-level pruning hazard (r11 pass 6 #1/#2): a
    valid-JSON row whose doc_id fails the long cast leaks as clean under a
    pruned projection on the raw read. (The o17 oracle is immune
    regardless: its injected line is SYNTAX-corrupt, and its rollup
    references every schema column.)"""
    from unravelsports_spark.sources.jsonl import read_jsonl, write_jsonl

    df = spark.createDataFrame(
        [(0, "a", "x")], "doc_id long, source string, text string"
    )
    p = str(tmp_path / "docs")
    write_jsonl(df, p)
    with open(f"{p}/part-typebad.json", "w") as fh:
        fh.write('{"doc_id": "notanumber", "source": "bad", "text": "oops"}\n')
    raw = read_jsonl(spark, p)
    leaked = (
        raw.where(F.col("_corrupt_record").isNull())
        .select("source", "text")
        .collect()
    )
    assert len(leaked) == 2, "Spark now casts pruned JSON columns - update docs"


def test_jsonl_materialized_checked_read_survives_release(spark, tmp_path):
    """materialize_checked on the JSONL side (VERDICT r11 #5) closes the
    hazard: type-corrupt rows stay flagged under a pruned projection after
    release_tracked + a full cache clear, because the parse landed to
    parquet."""
    from unravelsports_spark.cache import release_tracked
    from unravelsports_spark.sources.jsonl import (
        materialize_checked,
        read_jsonl,
        write_jsonl,
    )

    df = spark.createDataFrame(
        [(0, "a", "x")], "doc_id long, source string, text string"
    )
    p = str(tmp_path / "docs")
    write_jsonl(df, p)
    with open(f"{p}/part-typebad.json", "w") as fh:
        fh.write('{"doc_id": "notanumber", "source": "bad", "text": "oops"}\n')

    checked = materialize_checked(read_jsonl(spark, p), spark, str(tmp_path / "landed"))
    release_tracked()
    spark.catalog.clearCache()
    clean = (
        checked.where(F.col("_corrupt_record").isNull())
        .select("source", "text")
        .collect()
    )
    assert len(clean) == 1 and clean[0]["source"] == "a"
    assert checked.where(F.col("_corrupt_record").isNotNull()).count() == 1
