"""Salted aggregation equivalence with its unsalted form."""

from pyspark.sql import functions as F

from unravelsports_spark.operators.skew import salted_agg, with_salt

from .conftest import SF_CORRECT


def test_salted_agg_matches_plain(spark):
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    plain = {
        (r["l_returnflag"],): (r["cnt"], r["qty"])
        for r in li.groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"), F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .collect()
    }
    salted = {
        (r["l_returnflag"],): (r["cnt"], r["qty"])
        for r in salted_agg(
            li,
            keys=["l_returnflag"],
            partial_aggs=[
                F.count("*").alias("c"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"),
            ],
            final_aggs=[F.sum("c").alias("cnt"), F.sum("q").alias("qty")],
            n_salts=8,
            unique_col="l_orderkey",
        ).collect()
    }
    assert salted == plain


def test_salt_distribution(spark):
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet").limit(10000)
    counts = [
        r["count"]
        for r in with_salt(li, 8, unique_col="l_orderkey").groupBy("_salt").count().collect()
    ]
    assert len(counts) == 8
    # hash salt spreads the hot key roughly uniformly
    assert max(counts) < 2.5 * min(counts)
