"""Semantic tests for vocabulary/TF-IDF and mixture resampling — the
exact-value checks live in the oracle sweep (test_relational_oracle); these
cover behavior the SQL can't express (tie-breaks, determinism)."""

import math

import pytest
from pyspark.sql import functions as F

from unravelsports_spark.operators.sampling import PPM, mixture_rates, sample_mixture
from unravelsports_spark.operators.vocab import tfidf_terms, vocab_topk
from unravelsports_spark.session import read_table

from .conftest import SF_CORRECT


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "a"),
            (2, "the dog sat on the log", "a"),
            (3, "cat cat cat", "b"),
            (4, "unique snowflake words here", "b"),
        ],
        "doc_id bigint, text string, source string",
    )


def test_tfidf_rare_term_outranks_common(docs):
    rows = {r["term"]: r for r in tfidf_terms(docs).collect()}
    # 'the' appears in 2 docs, 'snowflake' in 1 → snowflake idf strictly higher
    assert rows["snowflake"]["idf"] > rows["the"]["idf"]
    assert rows["the"]["doc_freq"] == 2 and rows["the"]["total_tf"] == 4
    n = 4
    exp = round(math.log((n + 1) / (1 + 1)) + 1, 6)
    assert rows["snowflake"]["idf"] == pytest.approx(exp, abs=0)


def test_vocab_topk_tiebreak(docs):
    rows = vocab_topk(docs, k=3).collect()
    # 'cat' (1+3) ties 'the' (2+2) at 4 occurrences → term-asc puts cat first
    assert [(r["term"], r["n_occurrences"]) for r in rows[:2]] == [("cat", 4), ("the", 4)]
    assert rows[0]["n_docs"] == 2 and rows[1]["n_docs"] == 2
    # ties sorted by term ascending → deterministic prefix
    counts = [(r["n_occurrences"], r["term"]) for r in rows]
    assert counts == sorted(counts, key=lambda t: (-t[0], t[1]))


def test_mixture_rates_and_sample(spark):
    d = read_table(spark, SF_CORRECT, "documents")
    targets = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    rates = {r["source"]: r for r in mixture_rates(d, targets).collect()}
    assert len(rates) == 20
    # uniform 25-per-source corpus: T = min(25/0.5, 25/0.3, 25/0.2) = 50
    # → src0 keeps everything, others downsample proportionally
    assert rates["src0"]["rate_ppm"] == PPM
    assert rates["src1"]["rate_ppm"] == pytest.approx(0.6 * PPM, abs=2)
    assert rates["src2"]["rate_ppm"] == pytest.approx(0.4 * PPM, abs=2)
    assert rates["src5"]["rate_ppm"] == 0  # untargeted domain dropped
    samp = sample_mixture(d, targets)
    srcs = {r["source"] for r in samp.select("source").distinct().collect()}
    assert srcs <= {"src0", "src1", "src2"}
    # deterministic: same sample twice
    ids1 = sorted(r["doc_id"] for r in samp.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in sample_mixture(d, targets).select("doc_id").collect())
    assert ids1 == ids2


def test_chunk_tokens_windows(spark):
    from unravelsports_spark.operators.text import chunk_tokens

    text_80 = " ".join(f"w{i}" for i in range(80))
    text_10 = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, text_80), (2, text_10)], "doc_id bigint, text string"
    )
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["chunk_len"], r["chunk_text"])
         for r in chunk_tokens(df, chunk_size=32, stride=24).collect())
    )
    # doc1: 80 tokens → chunks start at 0/24/48 → 1+ceil((80-32)/24)=3 chunks
    doc1 = [r for r in rows if r[0] == 1]
    assert [r[1] for r in doc1] == [0, 1, 2]
    assert [r[2] for r in doc1] == [32, 32, 32]
    assert doc1[1][3].split()[0] == "w24"   # stride offset
    assert doc1[2][3].split()[-1] == "w79"  # tail covered
    # doc2: 10 tokens → single short chunk
    doc2 = [r for r in rows if r[0] == 2]
    assert len(doc2) == 1 and doc2[0][2] == 10


def test_hll_sketch_union_accuracy(spark):
    from unravelsports_spark.plans import QUERIES

    row = QUERIES["a15_hll_sketch_union"](spark, SF_CORRECT).collect()[0]
    exact = row["sum_per_source_exact"]  # sources are disjoint by construction
    assert abs(row["global_estimate"] - exact) / exact < 0.05


def test_incremental_dedup_cross_batch(spark):
    from unravelsports_spark.operators.dedup import incremental_dedup

    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha  beta")],  # 3 dups 1
        "doc_id bigint, text string",
    )
    kept1 = incremental_dedup(b1)
    assert sorted(r["doc_id"] for r in kept1.collect()) == [1, 2]
    ledger = kept1.select("fingerprint")
    b2 = spark.createDataFrame(
        [(10, "ALPHA BETA"), (11, "epsilon"), (12, "epsilon"), (13, "gamma delta")],
        "doc_id bigint, text string",
    )
    kept2 = incremental_dedup(b2, seen=ledger)
    # 10 dups batch-1 doc 1 (case/whitespace-normalized), 13 dups doc 2,
    # 12 dups 11 within-batch → only 11 survives
    assert sorted(r["doc_id"] for r in kept2.collect()) == [11]
    # idempotent: replaying batch 2 against the grown ledger yields nothing
    ledger2 = ledger.union(kept2.select("fingerprint"))
    assert incremental_dedup(b2, seen=ledger2).count() == 0


# -- property tests (hypothesis) ---------------------------------------------

try:
    from hypothesis import given, settings as hsettings
    from hypothesis import strategies as st

    @given(
        n_tokens=st.integers(0, 200),
        chunk_size=st.integers(1, 50),
        stride_frac=st.integers(1, 10),
    )
    @hsettings(max_examples=30, deadline=None)
    def test_chunking_invariants(spark, n_tokens, chunk_size, stride_frac):
        """Every token lands in ≥1 chunk; chunk starts advance by stride;
        no chunk exceeds chunk_size."""
        from unravelsports_spark.operators.text import chunk_tokens

        stride = max(1, chunk_size * stride_frac // 10)
        text = " ".join(f"t{i}" for i in range(n_tokens))
        df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
        rows = sorted(
            (r["chunk_idx"], r["chunk_len"], r["chunk_text"])
            for r in chunk_tokens(df, chunk_size=chunk_size, stride=stride).collect()
        )
        assert len(rows) >= 1
        if n_tokens == 0:
            # whitespace-split of "" is [""] — one empty token, one chunk
            # (the t_token_stats counting convention)
            assert rows == [(0, 1, "")]
            return
        covered = set()
        for idx, ln, txt in rows:
            toks = txt.split()
            assert ln == len(toks) <= chunk_size
            start = idx * stride
            assert toks == [f"t{i}" for i in range(start, min(start + chunk_size, n_tokens))]
            covered.update(range(start, start + ln))
        assert covered == set(range(n_tokens))

except ImportError:  # pragma: no cover
    pass


def test_morton_key_matches_python_reference(spark):
    """The SQL bit-spread must equal an independent Python interleave
    (oracle and Spark share the expression text, so this guards both)."""
    from unravelsports_spark.plans import QUERIES
    from unravelsports_spark.session import read_table

    def interleave(x, y):
        out = 0
        for b in range(16):
            out |= ((x >> b) & 1) << (2 * b)
            out |= ((y >> b) & 1) << (2 * b + 1)
        return out

    rows = QUERIES["o15_morton_key"](spark, SF_CORRECT).collect()
    src = read_table(spark, SF_CORRECT, "lineitem").filter(F.col("l_orderkey") < 64).collect()
    assert len(rows) == len(src) > 0
    # (l_orderkey, l_linenumber) is not unique in the synthetic data →
    # compare as multisets keyed by the full expected tuple
    got = sorted((r["l_orderkey"], r["l_linenumber"], r["morton"]) for r in rows)
    want = sorted(
        (r["l_orderkey"], r["l_linenumber"], interleave(r["l_partkey"] % 65536, r["l_suppkey"] % 65536))
        for r in src
    )
    assert got == want
