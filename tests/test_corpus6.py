"""Round-10 registrations and the r9 ADVICE fixes:
streamed-IVF-index search (partition pruning + latest-batch dedup),
vocab_bound_stats without an n_pieces output, zero-norm cosine guards,
and the d_cdc_chunks null-text structural invariant."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from .conftest import SF_CORRECT


# ---------------------------------------------------------------------------
# s_ann_from_index (VERDICT r9 #3)
# ---------------------------------------------------------------------------


def _index_fixture(spark):
    """Run the registered query once (it builds the PID-keyed scratch index
    as a side effect) and return (centroids, query_vec, index_dir,
    result_rows)."""
    from unravelsports_spark.plans import QUERIES
    from unravelsports_spark.plans.retrieval import _index_dir
    from unravelsports_spark.session import read_table

    rows = [tuple(r) for r in QUERIES["s_ann_from_index"](spark, SF_CORRECT).collect()]
    emb = read_table(spark, SF_CORRECT, "embeddings")
    cent_rows = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(8)
        .collect()
    )
    C = np.asarray([[float(v) for v in r[1]] for r in cent_rows])
    qvec = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    ]
    return C, qvec, _index_dir(SF_CORRECT), rows


def test_s_ann_from_index_matches_duckdb(spark, duck):
    """The registered query (index build through the foreachBatch write
    shape + partition-pruned search) equals the DuckDB IVF recompute."""
    from unravelsports_spark.plans import ORACLE_SQL

    _, _, _, rows = _index_fixture(spark)
    want = sorted(map(tuple, duck.execute(ORACLE_SQL["s_ann_from_index"]).fetchall()))
    assert sorted(rows) == want and len(rows) == 10


def test_s_ann_from_index_partition_prunes(spark):
    """The probed-cell filter must land at the parquet reader
    (PartitionFilters) on the WIDE scan, and the latest-batch ledger scan
    must read ONLY vec_id (column pruning keeps it narrow)."""
    from unravelsports_spark.streaming.windows import ann_search_from_index

    C, qvec, index_dir, _ = _index_fixture(spark)
    df = ann_search_from_index(spark, index_dir, C, qvec, k=10, n_probe=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "PartitionFilters" in l]
    wide = [l for l in scans if "cell#" in l.split("PartitionFilters")[1][:80]]
    assert wide, f"no cell-pruned scan in plan:\n{plan[:2000]}"
    assert "embedding:array" in wide[0]
    narrow = [l for l in scans if "ReadSchema: struct<vec_id:bigint>" in l]
    assert narrow, "latest-batch ledger scan is not column-pruned to vec_id"


def test_s_ann_from_index_dedup_is_load_bearing(spark):
    """batch 1 re-ingests every 10th vector: without the per-id
    latest-batch left-semi those ids rank twice; with it the top-k has
    unique ids and equals the deduped expectation."""
    from unravelsports_spark.streaming.windows import ann_search_from_index

    C, qvec, index_dir, rows = _index_fixture(spark)
    no_dedup = ann_search_from_index(
        spark, index_dir, C, qvec, k=10, n_probe=3, dedup_updates=False
    )
    raw = [tuple(r) for r in no_dedup.collect()]
    ids = [r[0] for r in raw]
    assert len(ids) != len(set(ids)), "re-ingested ids should duplicate"
    kept_ids = [r[0] for r in rows]
    assert len(kept_ids) == len(set(kept_ids))


# ---------------------------------------------------------------------------
# ADVICE r9 #1: vocab_bound_stats without an n_pieces output
# ---------------------------------------------------------------------------


def test_vocab_bound_stats_optional_n_pieces(spark):
    import pandas as pd

    from unravelsports_spark.operators.unigram import vocab_bound_stats

    df = spark.createDataFrame(
        [(0, "aa bb"), (1, ""), (2, "aa aa aa")], ["doc_id", "text"]
    )

    def seg(words):
        def run(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    {"word": pdf["word"], "n_x_word": [len(str(w)) for w in pdf["word"]]}
                )

        return words.mapInPandas(run, "word string, n_x_word long")

    # no n_pieces output: must build (no AnalysisException on the missing
    # column) and must NOT add the compression metric
    out = vocab_bound_stats(df, seg, [("n_x_word", "n_x")])
    assert "pieces_per_100_words" not in out.columns
    got = {r["doc_id"]: (r["n_words"], r["n_x"]) for r in out.collect()}
    assert got == {0: (2, 4), 1: (0, 0), 2: (3, 6)}

    # with n_pieces present the metric still appears (existing behavior)
    def seg2(words):
        def run(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    {"word": pdf["word"], "n_p": [2] * len(pdf)}
                )

        return words.mapInPandas(run, "word string, n_p long")

    out2 = vocab_bound_stats(df, seg2, [("n_p", "n_pieces")])
    assert "pieces_per_100_words" in out2.columns


# ---------------------------------------------------------------------------
# ADVICE r9 #3: zero-norm cosine guards
# ---------------------------------------------------------------------------


def test_cosine_vs_refs_zero_norm_guard(spark):
    """A zero-norm corpus vector yields cosine 0.0 (never NaN, which would
    outrank every real value under DESC); non-zero rows are untouched."""
    import math

    from unravelsports_spark.operators.similarity import _cosine_vs_refs

    e = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 2.0])], ["vec_id", "v"]
    )
    rows = {
        (r["vec_id"], r["ref_id"]): r["cosine"]
        for r in _cosine_vs_refs(e, [(7, [1.0, 0.0])]).collect()
    }
    assert rows[(0, 7)] == 0.0 and not math.isnan(rows[(0, 7)])
    assert rows[(1, 7)] == 1.0 and rows[(2, 7)] == 0.0


def test_cosine_vs_queries_with_cell_zero_norm_guard(spark):
    """Zero-norm vector: all cosines 0.0 and the cell is DETERMINISTIC —
    argmax over an all-zero row picks the lowest centroid id."""
    from unravelsports_spark.operators.similarity import _cosine_vs_queries_with_cell

    e = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 1.0])], ["vec_id", "v"]
    )
    out = _cosine_vs_queries_with_cell(
        e, [(9, [1.0, 0.0])], [(3, [0.0, 1.0]), (5, [1.0, 1.0])]
    )
    got = {r["vec_id"]: (r["cosine"], r["cell"]) for r in out.collect()}
    assert got[0] == (0.0, 3)  # lowest centroid id, cosine 0 not NaN
    assert got[1][1] == 3  # true nearest centroid unaffected by the guard


# ---------------------------------------------------------------------------
# ADVICE r9 #2: d_cdc_chunks counts n_docs only over chunk-capable docs
# ---------------------------------------------------------------------------


def test_cdc_chunks_null_text_structural(spark, tmp_path):
    """A NULL-text document emits no chunks on either engine; the Spark
    n_docs literal must therefore exclude it (oracle equality is
    structural, not data-generator-dependent). Empty/whitespace text still
    emits its single empty-token chunk and IS counted."""
    import duckdb

    from unravelsports_spark.plans import ORACLE_SQL, QUERIES

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [
            (0, "srcA", "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "srcA", None),
            (2, "srcA", ""),
            (3, "srcB", "   "),
            (4, "srcB", "one two three four five six seven eight nine"),
        ],
        "doc_id long, source string, text string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    got = sorted(map(tuple, QUERIES["d_cdc_chunks"](spark, sf_dir).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(ORACLE_SQL["d_cdc_chunks"]).fetchall()))
    assert got == want and len(got) == 2
    by_src = {r[0]: r[1] for r in got}
    assert by_src["srcA"] == 2  # doc 1 (NULL) excluded, doc 2 ('') counted
    assert by_src["srcB"] == 2


# ---------------------------------------------------------------------------
# ADVICE r9 #4: the mel filterbank memo is module-level (per-process)
# ---------------------------------------------------------------------------


def test_mel_filterbank_cache_is_module_level():
    from unravelsports_spark.operators import multimodal as mm

    mm._MEL_FB_CACHE.clear()
    a = mm._mel_filterbank_cached(26, 400, 16_000)
    b = mm._mel_filterbank_cached(26, 400, 16_000)
    assert a is b  # same object: memoized, not rebuilt
    assert (26, 400, 16_000) in mm._MEL_FB_CACHE
    c = mm._mel_filterbank_cached(26, 400, 8_000)
    assert c is not a and len(mm._MEL_FB_CACHE) == 2
