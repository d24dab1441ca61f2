"""Leakage-safe corpus splits (engine addition §2.12; built round 10,
driver registration round 11): assign train/val/test so that NEAR-DUPLICATE
documents can never straddle a split boundary.

The standard failure this prevents: random per-document splits put one copy
of a near-duplicate pair in train and the other in test, so the eval set
"leaks" — the model is scored on data it effectively saw (the evaluation
analogue of the contamination screens in operators/filtering.py /
operators/bloom.py). The fix is structural: split by the near-dup CLUSTER,
not the document — every member of a connected component of the candidate
graph inherits the component's split, so straddling is impossible by
construction rather than by audit.

Scale shape: connected components over the candidate pairs
(operators/components.py large-star/small-star — the certified
d_dup_clusters machinery), one left join back to the corpus spine
(singleton docs are their own component), and an md5-of-component split
assignment — the same deterministic fingerprint-hash discipline as every
sampler here (stable under row order, partitioning, and re-runs; 16-bit
hex prefix mod 100, bit-identical in DuckDB). No per-doc randomness
anywhere: re-running on a grown corpus moves a document's split ONLY if
its cluster membership changed.

The tracking-side analogue (`datasets/tracking.py` splits by game so
frames of one match never straddle) applies the same principle to a
different leakage unit; this operator is the corpus/near-dup version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cluster_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pcts: tuple = (80, 10, 10),
) -> DataFrame:
    """Docs + (component, split) where ``split`` ∈ train/val/test with the
    ``pcts`` proportions and component = min doc id reachable through
    ``pairs`` (a doc in no pair is its own component). The split is a pure
    function of the component id, so near-dup members agree by
    construction.

    The assignment hash is md5(component)'s 16-bit prefix mod 100 — the
    repo-wide sampling discipline (exactly expressible in DuckDB), applied
    to the CLUSTER key instead of the row key."""
    if len(pcts) != 3 or sum(int(p) for p in pcts) != 100:
        raise ValueError("pcts must be three percentages summing to 100")
    from .components import connected_components

    cc = connected_components(pairs)
    base = docs.join(
        cc.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn("component", F.coalesce("component", F.col(id_col)))
    pct = (
        F.conv(F.substring(F.md5(F.col("component").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    t, v = int(pcts[0]), int(pcts[0]) + int(pcts[1])
    split = (
        F.when(pct < t, F.lit("train"))
        .when(pct < v, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return base.withColumn("split", split)


def split_audit(assigned: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Certifiable rollup over :func:`cluster_safe_split` output: per
    split, the doc count, the cluster count, how many docs sit in
    multi-member (actual near-dup) clusters, and ``n_straddling`` — the
    number of this split's clusters that ALSO appear in another split.
    Structurally zero here (split is a function of component); the column
    exists so the invariant is part of the certified hash, not a comment.

    Plan: one combinable (component, split) rollup, a components-sized
    self-check aggregate, and a splits-sized histogram — the corpus
    touches one exchange."""
    per_comp = assigned.groupBy("component", "split").agg(
        F.count("*").alias("_n")
    )
    comp_splits = per_comp.groupBy("component").agg(
        F.count("*").alias("_n_splits")
    )
    enriched = per_comp.join(comp_splits, "component")
    return (
        enriched.groupBy("split")
        .agg(
            F.sum("_n").alias("n_docs"),
            F.count("*").alias("n_clusters"),
            F.sum(F.when(F.col("_n") > 1, F.col("_n")).otherwise(F.lit(0))).alias(
                "n_docs_in_dup_clusters"
            ),
            F.sum(F.when(F.col("_n_splits") > 1, F.lit(1)).otherwise(F.lit(0))).alias(
                "n_straddling"
            ),
        )
        .orderBy("split")
    )
