"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2 plus the
large-scale data-pipeline operators (dedup / similarity / text analysis) for
the DuckDB correctness gate at sf0.01.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"
_HERE = Path(__file__).resolve().parent


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from unravelsports_spark.plans import QUERIES

    return QUERIES["q1_pricing_summary"](spark, SF0001)


# Queries whose code changed after the named round's certification records
# (CORRECTNESS_r<round>.json). Each is due for re-certification until a later
# record shows it green; an entry then stops mattering and may stay.
_TOUCHED = dict.fromkeys(
    (
        # changed in round 15 after their last hash (VERDICT r15, next round 1)
        "w7_row_index", "w8_rank_distributions", "w9_interpolate_gaps",
        "w10_moving_avg", "t_nb_confusion", "t_prep_to_shards_e2e",
        "t_full_pipeline_e2e", "d_label_communities", "t_sequence_packing",
        "q7_volume_shipping", "a22_touch_attribution", "t_dsir_resample",
        "t_ngram_novelty", "d_cross_source_overlap", "t_frontier_plan",
        # model kernels moved onto models/frames.py; EFPI segmentation, graph
        # padding and AF frame validity became window passes
        "m_pi_cells", "m_graph_cells", "m_graph_custom_cells",
        "m_delaunay_cells", "m_af_cells", "m_efpi_cells",
        "m_pressing_intensity_fp", "m_graph_convert_fp",
        "m_graph_convert_delaunay_fp", "m_af_graph_convert_fp",
        "m_efpi_possession_fp", "m_pressing_intensity", "m_graph_convert",
        "m_af_graph_convert", "m_efpi_possession", "m_graph_convert_delaunay",
        # integer pHash (dHash shares its block sums); the LSH pair chain
        # shared through d_lsh_candidate_pairs; the graph operators' one
        # pinned edge table and the two-parent convergence check
        "mm_image_phash", "mm_image_dhash_dedup", "d_dup_clusters",
        "d_cluster_keep_best", "d_pagerank", "d_kcore_peeling",
        "d_cluster_safe_split",
        # one Lloyd trainer for the PQ family; m_savgol_cells on savgol_by_key
        "s_ann_pq", "s_kmeans_fit", "s_ann_ivfpq", "s_ann_ivfpq_residual",
        "s_ann_recall", "m_savgol_cells",
        # write_warc without the CDX index option; read_warc calls the shared
        # shard decoder directly; read_tfrecords lost its batch-size option
        "o19_warc_roundtrip", "o20_tfrecord_roundtrip",
        # shard buckets by the shared range-bucket rule; base_tokens removed
        "t_shard_manifest",
    ),
    15,
)


def last_verified(records_dir: Path) -> dict[str, int]:
    """Latest round in which the CORRECTNESS_r*.json records show each query green:
    hash-exact for an oracle-backed query, rows produced without error for a
    rows-only one (recorded as ``err: "no_oracle"``)."""
    from unravelsports_spark.plans import ORACLE_SQL

    seen: dict[str, int] = {}
    for path in records_dir.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name, rec in json.loads(path.read_text()).items():
            if name in ORACLE_SQL:
                green = rec.get("hash_match") is True
            else:
                green = bool(rec.get("spark_rows")) and rec.get("err") in (None, "no_oracle")
            if green:
                seen[name] = max(seen.get(name, 0), rnd)
    return seen


def is_due(name: str, seen: dict[str, int]) -> bool:
    """Never recorded green, or touched since its last green record."""
    last = seen.get(name, 0)
    return last == 0 or last <= _TOUCHED.get(name, -1)


def certification_order(records_dir: Path = _HERE) -> list[str]:
    """Registry names in certification order: due queries first, then the
    rest stalest-first; ties keep registry order. Each round certifies a
    bounded prefix of ``queries()``."""
    from unravelsports_spark.plans import QUERIES

    seen = last_verified(records_dir)
    return sorted(QUERIES, key=lambda n: (not is_due(n, seen), seen.get(n, 0)))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from unravelsports_spark.plans import QUERIES

    def evicting(fn):
        # Query-boundary cache eviction (VERDICT r4): operators tracked_persist
        # intermediate tables (LSH buckets, pagerank edges, signatures...);
        # without a release point a full registry run accumulates cached
        # relations. Each query call first drops the PREVIOUS query's tracked
        # caches — safe because the driver has already collected that result,
        # and unpersist never changes results (plans recompute if re-run).
        def run(spark, sf_dir, _fn=fn):
            from unravelsports_spark.cache import release_tracked

            release_tracked()
            return _fn(spark, sf_dir)

        return run

    return {name: evicting(QUERIES[name]) for name in certification_order()}


def oracle_sql() -> dict[str, str]:
    from unravelsports_spark.plans import ORACLE_SQL

    return dict(ORACLE_SQL)
