"""l-diversity audit (operators/privacy.py) and leakage-safe cluster splits
(operators/corpus_splits.py) — built round 10, driver-registered round 11
(plans/relational.py, plans/dedup.py). The canonical oracle SQL moved there at registration;
these tests import it so twin and oracle cannot drift."""

from pyspark.sql import functions as F

from unravelsports_spark.plans.relational import L_DIVERSITY_SQL

from .conftest import SF_CORRECT


def test_l_diversity_matches_duckdb(spark, duck):
    """Distinct-l-diversity histogram over customer quasi-identifiers with
    the account-balance thousand-bucket as the sensitive attribute, exact
    vs the SQL twin."""
    from unravelsports_spark.operators.privacy import l_diversity_report
    from unravelsports_spark.session import read_table

    c = read_table(spark, SF_CORRECT, "customer").withColumn(
        "bal_bucket", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    got = sorted(
        map(
            tuple,
            l_diversity_report(
                c, ["c_nationkey", "c_mktsegment"], "bal_bucket", l=3
            ).collect(),
        )
    )
    want = sorted(map(tuple, duck.execute(L_DIVERSITY_SQL).fetchall()))
    assert got == want and len(got) > 0
    # row conservation: the histogram accounts for every customer row
    assert sum(r[2] for r in got) == c.count()


def test_l_diversity_flags_homogeneous_class(spark):
    """A class that passes k-anonymity (size 5) but has ONE sensitive value
    must appear at l=1/at_risk; a diverse class of the same size must not."""
    from unravelsports_spark.operators.privacy import l_diversity_report

    rows = [(i, "NY", "M", "flu") for i in range(5)] + [
        (10 + i, "CA", "F", s) for i, s in enumerate("abcde")
    ]
    df = spark.createDataFrame(rows, ["id", "region", "gender", "diagnosis"])
    got = {
        r["l_distinct"]: (r["n_classes"], r["n_rows"], r["at_risk"])
        for r in l_diversity_report(df, ["region", "gender"], "diagnosis").collect()
    }
    assert got == {1: (1, 5, True), 5: (1, 5, False)}


def test_l_diversity_null_sensitive_is_one_value(spark):
    """NULL sensitive values form one distinct value (an all-NULL class is
    still homogeneous — the leak is 'the value is whatever NULL encodes')."""
    from unravelsports_spark.operators.privacy import l_diversity_report

    df = spark.createDataFrame(
        [(0, "NY", None), (1, "NY", None), (2, "CA", "x"), (3, "CA", None)],
        ["id", "region", "diag"],
    )
    got = {
        r["l_distinct"]: r["n_classes"]
        for r in l_diversity_report(df, ["region"], "diag").collect()
    }
    assert got == {1: 1, 2: 1}


# the exact SQL twin for the `d_cluster_safe_split` registration — the
# canonical string lives in plans/dedup.py (recursive-CTE closure over
# the certified d_dup_clusters shape)
def _split_audit_sql() -> str:
    from unravelsports_spark.plans.dedup import _split_audit_sql as canon

    return canon()


def _assigned(spark):
    from unravelsports_spark.operators.corpus_splits import cluster_safe_split
    from unravelsports_spark.operators.dedup import (
        doc_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from unravelsports_spark.session import read_table

    docs = read_table(spark, SF_CORRECT, "documents")
    sigs = minhash_signatures(doc_shingles(docs, distinct=False), num_hashes=8)
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    return cluster_safe_split(docs.select("doc_id"), pairs)


def test_cluster_safe_split_audit_matches_duckdb(spark, duck):
    """Split audit over the LSH near-dup graph, exact vs the recursive-CTE
    twin — cluster counts, dup-cluster membership, and the structural
    zero-straddle invariant all inside the hash."""
    from unravelsports_spark.cache import release_tracked
    from unravelsports_spark.operators.corpus_splits import split_audit

    got = sorted(map(tuple, split_audit(_assigned(spark)).collect()))
    release_tracked()
    want = sorted(map(tuple, duck.execute(_split_audit_sql()).fetchall()))
    assert got == want and len(got) > 0
    assert all(r[4] == 0 for r in got)  # nothing straddles, certified


def test_cluster_safe_split_no_near_dup_straddles(spark):
    """Every near-dup pair lands in ONE split (the property random per-doc
    splits violate), and the split is stable under repartitioning."""
    from unravelsports_spark.cache import release_tracked
    from unravelsports_spark.operators.corpus_splits import cluster_safe_split

    docs = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(0, 7), (7, 9), (2, 3)], ["id_a", "id_b"]
    )
    a = cluster_safe_split(docs, pairs)
    rows = {r["doc_id"]: (r["component"], r["split"]) for r in a.collect()}
    assert rows[0] == rows[7] == rows[9]  # transitive closure shares a split
    assert rows[2] == rows[3]
    assert rows[1][0] == 1  # singleton is its own component
    b = cluster_safe_split(docs.repartition(7), pairs)
    assert {r["doc_id"]: r["split"] for r in b.collect()} == {
        k: v[1] for k, v in rows.items()
    }
    release_tracked()
