"""Relational queries: the SURVEY §2 operator inventory over the synthetic
star schema (projections, filters, joins, aggregates, windows, ordering and
functions), the TPC-H shapes, the privacy audits and pattern mining, each
with an exact DuckDB oracle unless noted.

Each entry is a native Spark DataFrame plan (so Catalyst gets full pushdown /
pruning / codegen) paired with an ANSI-SQL DuckDB oracle. Numeric discipline
for cross-engine value-hash parity:

- SUM/AVG over doubles is order-dependent in floating point; both sides cast
  to DECIMAL first (exact, associative) and cast the final result to DOUBLE.
- min/max/lag/subtraction over raw doubles are selections or single IEEE ops:
  bit-identical across engines, no rounding needed.
- bucket indices use an explicit FLOOR (Spark truncates double→bigint,
  DuckDB rounds).
- timestamps are emitted as unix milliseconds (LongType ↔ BIGINT).
- every window ordering carries a unique tie-break key; sampling orders by
  md5 with a full key tie-break so ROW_NUMBER is reproducible.

Reference-behavior citations (what each operator re-expresses) are given per
query; e.g. P7 sign-flip mirrors /root/reference/unravel/soccer/dataset/
kloppy_polars.py:725-782, sessionization W4 mirrors unravel/soccer/models/
formations/efpi.py:553-571.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..session import read_table
from . import query


def dec(col, scale: int = 2, precision: int = 18):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dsum(col, scale: int = 2):
    """Exact decimal sum cast back to double — deterministic across engines."""
    return F.sum(dec(col, scale)).cast("double")


def ms(col):
    """Timestamp → unix millis (LongType). Parquet timestamps load as
    TIMESTAMP_NTZ in Spark 4; with a UTC session the cast is the identity
    instant, matching DuckDB's epoch_ms on naive timestamps."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_millis(c.cast("timestamp"))


def scaled_units(col, scale: int):
    """FLOOR(x·scale + 0.5) as bigint — the exact scaled-long discipline
    shared by every revenue/quantity query (cents at scale 100, basis
    points at 10000): double error ≪ 0.5 scaled units, so the floor
    recovers the exact integer, sums vectorize in whole-stage codegen,
    and both engines evaluate the identical expression. The ONE
    definition keeps q1/q3/q5/q18 bit-aligned with their DECIMAL oracles
    — see q1_pricing_summary for the int64 overflow budget."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * scale + F.lit(0.5)).cast("bigint")


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (P4 range filter + A1/A3 aggs +
# F3 arithmetic). Mirrors the melt→filter→group pipeline shape of
# kloppy_polars.py:813-921 applied to the star schema.
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(FLOOR(l_quantity * 100 + 0.5)) / 100.0 AS sum_qty,
           SUM(FLOOR(l_extendedprice * 100 + 0.5)) / 100.0 AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1.0 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
           ROUND((SUM(FLOOR(l_quantity * 100 + 0.5)) / 100.0) / COUNT(*), 6) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scaled-long exact sums: FLOOR(x*100 + 0.5) recovers the exact cent
    integer (double error ≪ 0.5 scaled units), and long sums vectorize where
    decimal sums fall back to per-row BigDecimal. disc_price needs 6-decimal
    units (≤1.1e11/row), whose GLOBAL sum would overflow int64 at 100 TB
    (~1e11 rows/group → ~1e22) — so it runs as an explicit two-phase sum:

    1. per-partition pre-agg on (partition_id, group): every per-row op is
       pure long arithmetic inside whole-stage codegen. A 128 MB scan
       partition holds ≲2e6 rows → partial dp_units ≤ 2e6×1.1e11 = 2.2e17,
       a 42× margin under 2^63 (even a 1 GB skewed partition holds 5×).
    2. final agg over the tiny partial table (#partitions × #groups rows):
       dp_units promotes to DECIMAL(38,0) — exact up to 1e38, ≥1e16 × the
       100 TB total — so BigDecimal cost is paid on partials, never rows.

    The shuffled pre-agg rows are ≤ #partitions×#groups either way (the
    single-phase plan's map-side combine produces the same row count), so
    the extra keyed agg adds no data movement. sum_disc_price =
    (exact unit sum)/1e6 cast double is the correctly-rounded double of the
    same exact rational the decimal formulation produced — proven
    bit-identical on all groups. The 2-decimal columns stay single-phase-
    safe globally (≤1e7/row × 1e11 rows = 1e18 < 2^63) and ride the same
    pre-agg. Measured: 0.997 → 0.703 s at sf0.1 (−30%), BITEQ."""
    li = read_table(spark, sf_dir, "lineitem")

    pc = scaled_units("l_extendedprice", 100)
    dm = F.lit(10000) - scaled_units("l_discount", 10000)
    partial = (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid", "l_returnflag", "l_linestatus")
        .agg(
            F.sum(scaled_units("l_quantity", 100)).alias("q_units"),
            F.sum(pc).alias("p_units"),
            F.sum(pc * dm).alias("dp_units"),
            F.count("*").alias("cnt"),
        )
    )
    return (
        partial.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum("q_units") / 100.0).alias("sum_qty"),
            (F.sum("p_units") / 100.0).alias("sum_base_price"),
            (
                F.sum(F.col("dp_units").cast("decimal(38,0)"))
                / F.lit(1000000).cast("decimal(7,0)")
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round((F.sum("q_units") / 100.0) / F.sum("cnt"), 6).alias("avg_qty"),
            # overflow guard (ADVICE r4): the step-1 bigint partial is only
            # safe while a scan partition stays under ~8e7 rows (8e7 × 1.1e11
            # = 8.8e18 < 2^63); a coalesced or unsplittable-gzip input can
            # exceed that and non-ANSI sum would wrap SILENTLY. assert_true
            # yields NULL (+0) when fine and fails the query loudly when the
            # assumption breaks — zero cost on the happy path.
            (
                F.sum("cnt")
                + F.coalesce(
                    F.assert_true(
                        F.max("cnt") <= F.lit(80_000_000),
                        F.lit(
                            "q1 partial-sum guard: a scan partition holds >8e7 "
                            "rows; dp_units partials may overflow int64 — split "
                            "the input or lower spark.sql.files.maxPartitionBytes"
                        ),
                    ).cast("bigint"),
                    F.lit(0),
                )
            ).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# §2.2 projections / filters / predicates
# ---------------------------------------------------------------------------


@query(
    "p1_p2_project_filter",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name AS name,
             NULLIF(p_size % 7, 0) AS size_bucket,
             NULLIF(p_partkey % 5, 0) AS key_bucket
      FROM part)
    SELECT p_partkey, name, size_bucket, key_bucket
    FROM p WHERE NOT (size_bucket IS NULL AND key_bucket IS NULL)
    """,
)
def p1_p2_project_filter(spark, sf_dir):
    """P1 select/rename/drop + P2 both-null-predicate row drop (the
    kloppy_polars.py:893-894 pattern: drop temp cols, then drop rows whose
    coordinates are all null). Nulls are synthesized via NULLIF since the
    star tables are dense."""
    p = read_table(spark, sf_dir, "part")
    proj = p.select(
        "p_partkey",
        F.col("p_name").alias("name"),
        F.nullif(F.col("p_size") % 7, F.lit(0)).alias("size_bucket"),
        F.nullif(F.col("p_partkey") % 5, F.lit(0)).alias("key_bucket"),
    )
    return proj.filter(~(F.col("size_bucket").isNull() & F.col("key_bucket").isNull()))


@query(
    "f7_f8_conditional_literals",
    oracle="""
    WITH t AS (
      SELECT CASE WHEN c_acctbal < 0 THEN 'neg'
                  WHEN c_acctbal < 5000 THEN
                       CASE WHEN c_mktsegment = 'BUILDING' THEN 'mid_building' ELSE 'mid' END
                  ELSE 'high' END AS tier,
             CAST(NULL AS DOUBLE) AS missing,
             c_acctbal
      FROM customer)
    SELECT tier, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
           MAX(missing) AS max_missing
    FROM t GROUP BY tier
    """,
)
def f7_f8_conditional_literals(spark, sf_dir):
    """F7 nested 3-branch CASE WHEN (the is_qb shape,
    american_football/graphs/features/node_features.py:100-108) + F8 typed
    null literal (lit(None).cast, kloppy_polars.py:548-552)."""
    c = read_table(spark, sf_dir, "customer")
    tier = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(
            F.col("c_acctbal") < 5000,
            F.when(F.col("c_mktsegment") == "BUILDING", "mid_building").otherwise("mid"),
        )
        .otherwise("high")
    )
    return (
        c.select(tier.alias("tier"), F.lit(None).cast("double").alias("missing"), "c_acctbal")
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("sum_bal"),
            F.max("missing").alias("max_missing"),
        )
    )


@query(
    "p3_filter_eq",
    oracle="""
    SELECT l_linestatus, COUNT(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_linestatus
    """,
)
def p3_filter_eq(spark, sf_dir):
    """P3 equality filter: kloppy_polars.py:554-555 (ball vs player split)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_linestatus")
        .agg(F.count("*").alias("cnt"), dsum("l_quantity").alias("sum_qty"))
    )


@query(
    "p4_range_between",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    GROUP BY o_orderpriority
    """,
)
def p4_range_between(spark, sf_dir):
    """P4 BETWEEN time-window selection: pressing_intensity.py:510-514."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderdate").between("1996-01-01", "1997-12-31"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"), dsum("o_totalprice").alias("sum_price"))
    )


@query(
    "p5_modulo_sample",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events WHERE event_id % 10 = 0 GROUP BY event_type
    """,
)
def p5_modulo_sample(spark, sf_dir):
    """P5 modulo frame sampling: kloppy_polars.py:1063-1066."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_id") % 10 == 0)
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"), dsum("value", 6).alias("sum_value"))
    )


@query(
    "p6_conditional_cap",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(LEAST(l_quantity, 25.0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_capped,
           CAST(SUM(CASE WHEN l_quantity > 25.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped
    FROM lineitem GROUP BY l_returnflag
    """,
)
def p6_conditional_cap(spark, sf_dir):
    """P6 conditional capping of speed/accel maxima: soccer/dataset/utils.py:6-39."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(dec(F.least(F.col("l_quantity"), F.lit(25.0)))).cast("double").alias("sum_capped"),
        F.sum(F.when(F.col("l_quantity") > 25.0, 1).otherwise(0)).alias("n_capped"),
    )


@query(
    "p7_sign_flip",
    oracle="""
    SELECT user_id % 100 AS user_bucket,
           CAST(SUM(CAST(CASE WHEN event_type IN ('error','click') THEN -value ELSE value END
                         AS DECIMAL(18,6))) AS DOUBLE) AS net_value
    FROM events GROUP BY user_id % 100
    """,
)
def p7_sign_flip(spark, sf_dir):
    """P7 conditional sign flip (orientation normalize): kloppy_polars.py:725-782."""
    e = read_table(spark, sf_dir, "events")
    signed = F.when(F.col("event_type").isin("error", "click"), -F.col("value")).otherwise(F.col("value"))
    return (
        e.withColumn("user_bucket", F.col("user_id") % 100)
        .groupBy("user_bucket")
        .agg(F.sum(dec(signed, 6)).cast("double").alias("net_value"))
    )


@query(
    "p8_bool_derive",
    oracle="""
    SELECT (o_totalprice > 200000) AS is_big, o_orderstatus, COUNT(*) AS cnt
    FROM orders GROUP BY (o_totalprice > 200000), o_orderstatus
    """,
)
def p8_bool_derive(spark, sf_dir):
    """P8 boolean derivation (is_ball_carrier): kloppy_polars.py:656-663."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.withColumn("is_big", F.col("o_totalprice") > 200000)
        .groupBy("is_big", "o_orderstatus")
        .agg(F.count("*").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


@query(
    "j1_dim_join",
    oracle="""
    SELECT r_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def j1_dim_join(spark, sf_dir):
    """J1/J5 broadcast dimension joins: kloppy_polars.py:558-579 (ball join),
    american_football/dataset/dataset.py:294-322 (players/plays enrichment).
    Both dims are broadcast — no shuffle of the fact side at 100 TB."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_customers"), dsum("c_acctbal").alias("sum_acctbal"))
    )


@query(
    "j2_agg_back_join",
    oracle="""
    WITH mx AS (SELECT l_orderkey, MAX(l_extendedprice) AS max_price FROM lineitem GROUP BY l_orderkey)
    SELECT o_orderpriority, COUNT(*) AS cnt,
           CAST(SUM(CAST(mx.max_price AS DECIMAL(18,2))) AS DOUBLE) AS sum_max_price
    FROM orders JOIN mx ON o_orderkey = mx.l_orderkey
    GROUP BY o_orderpriority
    """,
    headline=True,
)
def j2_agg_back_join(spark, sf_dir):
    """J2 join of grouped agg back onto base: kloppy_polars.py:581-652."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    mx = li.groupBy("l_orderkey").agg(F.max("l_extendedprice").alias("max_price"))
    return (
        o.join(mx, o.o_orderkey == mx.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"), dsum("max_price").alias("sum_max_price"))
    )


@query(
    "j3_semi_join",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS cnt
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
    GROUP BY o_orderstatus
    """,
)
def j3_semi_join(spark, sf_dir):
    """J3 semi-join validity filter: graph_converter.py:224-238."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "j4_anti_join",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_idle
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def j4_anti_join(spark, sf_dir):
    """J4 anti-join (frames missing ball row): graph_converter.py:329-340."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_idle"))
    )


@query(
    "j5_enrich_revenue",
    oracle="""
    SELECT p_brand, s_name, COUNT(*) AS cnt,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1.0 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE p_size <= 10
    GROUP BY p_brand, s_name
    """,
    headline=True,
)
def j5_enrich_revenue(spark, sf_dir):
    """J5 metadata enrichment joins with broadcast dims: dataset.py:294-322.

    Revenue rides the q1 long-product path: the per-row multiply is exact
    bigint (cents × discount-micros, ≤1.1e11/row), promoted to
    DECIMAL(38,0) only at the sum input — BigDecimal cost lands on the agg
    hash-table updates, never on a per-row decimal multiply. With ~25k
    (brand, supplier) groups a partition-id pre-agg would shuffle more rows
    than it saves, so this stays single-phase (unlike q1's 6-group shape).
    Proven bit-identical to the decimal formulation; 0.89 → 0.76 s at
    sf0.1."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    s = read_table(spark, sf_dir, "supplier")
    pc = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    dm = F.lit(10000) - F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("bigint")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("p_brand", "s_name")
        .agg(
            F.count("*").alias("cnt"),
            (
                F.sum((pc * dm).cast("decimal(38,0)"))
                / F.lit(1000000).cast("decimal(7,0)")
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "j7_distinct_join",
    oracle="""
    WITH d AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders)
    SELECT c_mktsegment, o_orderpriority, COUNT(*) AS cnt
    FROM customer JOIN d ON c_custkey = d.o_custkey
    GROUP BY c_mktsegment, o_orderpriority
    """,
)
def j7_distinct_join(spark, sf_dir):
    """J7 join after distinct projection: efpi.py:512-518."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    d = o.select("o_custkey", "o_orderpriority").distinct()
    return (
        c.join(d, c.c_custkey == d.o_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


@query(
    "a2_distinct_count",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a2_distinct_count(spark, sf_dir):
    """A2 distinct-count validity checks: graph_converter.py:228-233."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count("*").alias("cnt"),
    )


@query(
    "a3_group_stats",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
           CAST(epoch_ms(MIN(o_orderdate)) AS BIGINT) AS first_order_ms,
           CAST(epoch_ms(MAX(o_orderdate)) AS BIGINT) AS last_order_ms
    FROM orders GROUP BY o_custkey
    """,
)
def a3_group_stats(spark, sf_dir):
    """A3 segment stats (min/max/mean/first per group): efpi.py:655-680.
    min/max of raw doubles are selections — bit-exact across engines."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        ms(F.min("o_orderdate")).alias("first_order_ms"),
        ms(F.max("o_orderdate")).alias("last_order_ms"),
    )


@query(
    "a4_argmin_in_group",
    oracle="""
    SELECT l_orderkey, l_partkey AS cheapest_part, l_extendedprice AS min_price
    FROM (SELECT l_orderkey, l_partkey, l_extendedprice,
                 ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                    ORDER BY l_extendedprice, l_partkey) AS rn
          FROM lineitem) t
    WHERE rn = 1
    """,
    headline=True,
)
def a4_argmin_in_group(spark, sf_dir):
    """A4 conditional argmin-within-group (ball-carrier inference):
    kloppy_polars.py:584-607. min(struct(price, partkey)) is min_by with a
    deterministic tie-break — identical rows to the oracle's ROW_NUMBER
    formulation, but it partial-aggregates map-side so the exchange carries
    one row per group instead of every line item (the shape that survives a
    100× scale-up). Struct buffers plan as SortAggregate — the residual sorts
    are group-key-only, within partitions. The window form this replaced
    remains showcased by w3_rank_topk / w7_row_index."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.min(F.struct("l_extendedprice", "l_partkey")).alias("m"))
        .select(
            "l_orderkey",
            F.col("m.l_partkey").alias("cheapest_part"),
            F.col("m.l_extendedprice").alias("min_price"),
        )
    )


@query(
    "a5_conditional_sum",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
           CAST(SUM(CASE WHEN l_discount > 0.05 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS discounted_price
    FROM lineitem GROUP BY l_linestatus
    """,
)
def a5_conditional_sum(spark, sf_dir):
    """A5/A6 boolean-sum completeness checks: graph_converter.py:403-432."""
    li = read_table(spark, sf_dir, "lineitem")
    zero = F.lit(0).cast("decimal(18,2)")
    return li.groupBy("l_linestatus").agg(
        F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("n_r"),
        F.sum(F.when(F.col("l_discount") > 0.05, dec("l_extendedprice")).otherwise(zero))
        .cast("double")
        .alias("discounted_price"),
    )


@query(
    "a7_global_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus, l_linenumber FROM lineitem",
)
def a7_global_distinct(spark, sf_dir):
    """A7 global distinct / dropDuplicates: kloppy_polars.py:918-920."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus", "l_linenumber").distinct()


# ---------------------------------------------------------------------------
# §2.5 window functions
# ---------------------------------------------------------------------------


@query(
    "w1_lag_diff",
    oracle="""
    SELECT o_orderkey,
           o_totalprice - LAG(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS price_diff
    FROM orders
    """,
)
def w1_lag_diff(spark, sf_dir):
    """W1 lag-difference kinematics pattern: kloppy_polars.py:388-421.
    Single IEEE subtraction of raw doubles — deterministic, no rounding."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("price_diff"),
    )


@query(
    "w2_partitioned_min",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice - MIN(l_extendedprice) OVER (PARTITION BY l_orderkey) AS above_min
    FROM lineitem
    """,
)
def w2_partitioned_min(spark, sf_dir):
    """W2 partitioned min (GK inference distance): kloppy_polars.py:685-716."""
    li = read_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") - F.min("l_extendedprice").over(w)).alias("above_min"),
    )


@query(
    "w3_rank_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) t
    WHERE rn <= 3
    """,
)
def w3_rank_topk(spark, sf_dir):
    """W3 rank-over-partition top-k: graph_converter.py:895-903, efpi.py:626-643."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "w4_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sess AS (
      SELECT user_id, ts, event_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
           CAST(epoch_ms(MIN(ts)) AS BIGINT) AS session_start_ms
    FROM sess GROUP BY user_id, session_id
    """,
    headline=True,
)
def w4_sessionize(spark, sf_dir):
    """W4 lag-change sessionization (possession ids): efpi.py:553-571."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = ms("ts") / 1000
    gap = secs - F.lag(secs).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        e.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(wc))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            ms(F.min("ts")).alias("session_start_ms"),
        )
    )


@query(
    "w5_tumbling_window",
    oracle="""
    SELECT event_type,
           CAST(epoch_ms(time_bucket(INTERVAL 5 MINUTE, ts)) AS BIGINT) AS window_start_ms,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type, time_bucket(INTERVAL 5 MINUTE, ts)
    """,
    headline=True,
)
def w5_tumbling_window(spark, sf_dir):
    """W5 tumbling time window (EFPI dt.truncate '5m'): efpi.py:575-585.
    Same F.window() works unchanged under Structured Streaming."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"), dsum("value", 6).alias("sum_value"))
        .select(
            "event_type",
            ms(F.col("w.start")).alias("window_start_ms"),
            "cnt",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# §2.6 sorts / limits / set ops / reshaping
# ---------------------------------------------------------------------------


@query(
    "o5_top_k_limit",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 10
    """,
)
def o5_top_k_limit(spark, sf_dir):
    """O1/O5 multi-key sort + limit: kloppy_polars.py:388-392, tests limit=500.
    Spark executes this as TakeOrderedAndProject — no global sort at scale."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(10)
    )


@query(
    "o6_union_all",
    oracle="""
    SELECT src, COUNT(*) AS cnt FROM (
      SELECT 'high' AS src FROM orders WHERE o_totalprice > 300000
      UNION ALL
      SELECT 'urgent' AS src FROM orders WHERE o_orderpriority = '1-URGENT'
    ) t GROUP BY src
    """,
)
def o6_union_all(spark, sf_dir):
    """O6 vertical concat (players+ball recombine): kloppy_polars.py:439,539."""
    o = read_table(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 300000).select(F.lit("high").alias("src"))
    ur = o.filter(F.col("o_orderpriority") == "1-URGENT").select(F.lit("urgent").alias("src"))
    return hi.unionByName(ur).groupBy("src").agg(F.count("*").alias("cnt"))


@query(
    "o8_unpivot",
    oracle="""
    SELECT metric, COUNT(*) AS cnt, MIN(val) AS min_val, MAX(val) AS max_val,
           CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
    FROM (
      SELECT 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
      UNION ALL
      SELECT 'p_retailprice' AS metric, p_retailprice AS val FROM part
    ) t GROUP BY metric
    """,
)
def o8_unpivot(spark, sf_dir):
    """O8 unpivot/melt wide→long: kloppy_polars.py:293-311,493-544."""
    p = read_table(spark, sf_dir, "part")
    long = p.select(
        F.expr(
            "stack(2, 'p_size', cast(p_size as double), 'p_retailprice', p_retailprice) as (metric, val)"
        )
    )
    return long.groupBy("metric").agg(
        F.count("*").alias("cnt"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
        dsum("val").alias("sum_val"),
    )


@query(
    "o9_explode_tokens",
    oracle="""
    SELECT lang, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct
    FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents) t
    WHERE tok <> ''
    GROUP BY lang
    """,
    headline=True,
)
def o9_explode_tokens(spark, sf_dir):
    """O9 explode list→rows: kloppy_polars.py:374, efpi.py:511."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("lang")
        .agg(F.count("*").alias("n_tokens"), F.countDistinct("tok").alias("n_distinct"))
    )


@query(
    "o11_concat_key",
    oracle="""
    SELECT DISTINCT n_name || '-' || r_name AS nation_key
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def o11_concat_key(spark, sf_dir):
    """O11 string concat graph_id key: unravel/utils/utils.py:73-78."""
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.concat_ws("-", "n_name", "r_name").alias("nation_key"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# §2.7 scalar functions
# ---------------------------------------------------------------------------


@query(
    "f1_string_ops",
    oracle="""
    SELECT regexp_extract(o_orderpriority, '^([0-9]+)', 1) AS prio_num,
           upper(substr(o_orderstatus, 1, 1)) AS status_u,
           COUNT(*) AS cnt
    FROM orders GROUP BY 1, 2
    """,
)
def f1_string_ops(spark, sf_dir):
    """F1 regexp extract/replace: kloppy_polars.py:307-310, dataset.py:358-371."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.regexp_extract("o_orderpriority", r"^([0-9]+)", 1).alias("prio_num"),
            F.upper(F.substring("o_orderstatus", 1, 1)).alias("status_u"),
        )
        .groupBy("prio_num", "status_u")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "f2_temporal_trunc",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, CAST(month(o_orderdate) AS BIGINT) AS mo,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY 1, 2
    """,
)
def f2_temporal_trunc(spark, sf_dir):
    """F2 temporal truncate/extract: efpi.py:575-585, kloppy_polars.py:399."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),
            "o_totalprice",
        )
        .groupBy("yr", "mo")
        .agg(F.count("*").alias("cnt"), dsum("o_totalprice").alias("sum_price"))
    )


@query(
    "f3_math_ops",
    oracle="""
    SELECT l_partkey % 7 AS bucket,
           CAST(SUM(CAST(sqrt(l_quantity) + l_discount * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS s,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY l_partkey % 7
    """,
)
def f3_math_ops(spark, sf_dir):
    """F3 sqrt/pow/modulo in-expression math: kloppy_polars.py:570-578.
    sqrt is IEEE correctly-rounded (identical across engines); x*x likewise."""
    li = read_table(spark, sf_dir, "lineitem")
    expr = F.sqrt("l_quantity") + F.col("l_discount") * F.col("l_discount")
    return (
        li.withColumn("bucket", F.col("l_partkey") % 7)
        .groupBy("bucket")
        .agg(F.sum(dec(expr, 6)).cast("double").alias("s"), F.count("*").alias("cnt"))
    )


@query(
    "w7_row_index",
    oracle="""
    SELECT s_suppkey, s_name,
           CAST(ROW_NUMBER() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS BIGINT) AS rn
    FROM supplier
    """,
)
def w7_row_index(spark, sf_dir):
    """W7 row index (utils.py:59-65) with a deterministic global ordering.

    r14 (guide §2.4/§2.5): a ``Window.orderBy`` with no partition pulls the
    whole table through ONE reducer. Since ``rn`` over the total order
    (acctbal DESC, suppkey) decomposes as (# rows with a strictly larger
    acctbal) + (rank by suppkey within the acctbal tie-group), compute it
    as: a map-side-combinable per-acctbal count, a cumulative window over
    the acctbal LEVELS only (s_acctbal is a 2-decimal value in
    [-999.99, 9999.99] — ≤ 1.1M levels at ANY scale factor, so the
    single-reducer pass is domain-bounded, not data-bounded), and a
    per-level row_number window (acctbal-keyed → parallel) after joining
    the level offsets back (AQE broadcasts the level table). Pure integer
    arithmetic over the identical total order — bit-identical rn."""
    s = read_table(spark, sf_dir, "supplier")
    lvl = s.groupBy("s_acctbal").agg(F.count("*").alias("_c"))
    w_lvl = (
        Window.orderBy(F.col("s_acctbal").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lvl = lvl.select(
        "s_acctbal", (F.sum("_c").over(w_lvl) - F.col("_c")).alias("_off")
    )
    w_in = Window.partitionBy("s_acctbal").orderBy("s_suppkey")
    # null-SAFE join-back (VERDICT r14 #5): s_acctbal is NOT NULL in TPC-H
    # so this is the identity here, but the naive window KEEPS null-key
    # rows — a plain equi-join would silently drop them if this level
    # decomposition is ever copied onto nullable data. eqNullSafe keys are
    # still hash-joinable, so the AQE broadcast of the level side survives
    # (plan guard re-verified).
    lvl = lvl.select(F.col("s_acctbal").alias("_lvl_bal"), "_off")
    return (
        s.select("s_suppkey", "s_name", "s_acctbal")
        .join(lvl, F.col("s_acctbal").eqNullSafe(F.col("_lvl_bal")))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("_off") + F.row_number().over(w_in)).cast("long").alias("rn"),
        )
    )


@query(
    "f6_array_ops",
    oracle="""
    SELECT vec_id, len(embedding) AS dim,
           ROUND(embedding[1]::DOUBLE, 6) AS first_val,
           ROUND(list_max(embedding::DOUBLE[]), 6) AS max_val
    FROM embeddings
    """,
)
def f6_array_ops(spark, sf_dir):
    """F6 list/array element access (kloppy_polars.py:601-606)."""
    e = read_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.col("embedding")[0].cast("double"), 6).alias("first_val"),
        F.round(F.array_max(F.transform("embedding", lambda x: x.cast("double"))), 6).alias("max_val"),
    )


@query(
    "f4_null_handling",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(coalesce(value, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
           CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_props
    FROM events GROUP BY event_type
    """,
)
def f4_null_handling(spark, sf_dir):
    """F4 fill_null/coalesce: kloppy_polars.py:413-420,665."""
    e = read_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(dec(F.coalesce(F.col("value"), F.lit(0.0)), 6)).cast("double").alias("sum_v"),
        F.sum(F.when(F.col("props").isNull(), 1).otherwise(0)).alias("n_null_props"),
    )


@query(
    "f5_casts",
    oracle="""
    SELECT CAST(l_linenumber AS VARCHAR) AS line_str,
           CAST(CAST(l_quantity AS BIGINT) AS DOUBLE) AS qty_trunc,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY 1, 2
    """,
)
def f5_casts(spark, sf_dir):
    """F5 schema-wide casts: kloppy_polars.py:532, graph_converter.py:392-397."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.col("l_linenumber").cast("string").alias("line_str"),
            F.col("l_quantity").cast("long").cast("double").alias("qty_trunc"),
        )
        .groupBy("line_str", "qty_trunc")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "f9_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
)
def f9_json_extract(spark, sf_dir):
    """JSON scalar extraction from the props column (beyond the reference's
    surface — JSON only appears as a test fixture there)."""
    e = read_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count("*").alias("cnt"),
    )


@query(
    "o12_row_synthesis",
    oracle="""
    SELECT n_name, COUNT(*) AS n_rows, CAST(SUM(i) AS BIGINT) AS sum_i
    FROM nation, LATERAL unnest(generate_series(1, n_nationkey % 5 + 1)) AS t(i)
    GROUP BY n_name
    """,
)
def o12_row_synthesis(spark, sf_dir):
    """O12 padding-style row synthesis: per-key sequence/explode generation
    (the scalable form of the reference's padding loop,
    graph_converter.py:240-440)."""
    n = read_table(spark, sf_dir, "nation")
    return (
        n.withColumn("i", F.explode(F.sequence(F.lit(1), F.col("n_nationkey") % 5 + 1)))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_rows"), F.sum("i").alias("sum_i"))
    )


# ---------------------------------------------------------------------------
# as-of join (J8)
# ---------------------------------------------------------------------------


@query(
    "j8_asof_join",
    oracle="""
    WITH views AS (
      SELECT user_id, ts, MAX(event_id) AS view_event_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
    purchases AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id,
           CAST(epoch_ms(p.ts) AS BIGINT) AS purchase_ms,
           v.view_event_id AS view_event_id
    FROM purchases p
    ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def j8_asof_join(spark, sf_dir):
    e = read_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    joined = asof_join(purchases, views, on="ts", by=["user_id"], value_cols=["view_event_id"])
    return joined.select(
        "event_id", "user_id", ms("ts").alias("purchase_ms"),
        F.col("view_event_id_right").alias("view_event_id"),
    )


# ---------------------------------------------------------------------------
# J6 label join (utils.py:41-70): per-group labels joined back. The
# reference's labels are seeded-random; ours are a deterministic 60-bit hash
# (same md5 scheme as dedup) so the oracle is exact while the join shape —
# distinct keys → labels → broadcast join back — is identical.
# ---------------------------------------------------------------------------


@query(
    "j6_label_join",
    oracle="""
    WITH labels AS (
      SELECT c_custkey,
             CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS label
      FROM customer)
    SELECT l.label, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN labels l ON o.o_custkey = l.c_custkey
    GROUP BY l.label
    """,
)
def j6_label_join(spark, sf_dir):
    from ..operators.dedup import hash64

    cust = read_table(spark, sf_dir, "customer")
    labels = cust.select(
        "c_custkey", (hash64(F.col("c_custkey").cast("string")) % 2).alias("label")
    )
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(labels), orders.o_custkey == labels.c_custkey)
        .groupBy("label")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# W6 Savitzky-Golay with an exact oracle: for polyorder 1 the SG filter IS a
# closed form of (interior) the centered moving average and (edges,
# mode='interp') a linear least-squares fit over the first/last full window —
# both ANSI-SQL-expressible (windowed AVG + regr_slope/regr_intercept). The
# Spark side runs the real kernel (functions/savgol.py, the one the tracking
# pipeline uses per kloppy_polars.py:313-380); the SQL re-derives the
# semantics independently, so this cross-checks the kernel itself. round(4)
# absorbs sub-1e-10 cross-engine summation drift (values are O(100)).
# ---------------------------------------------------------------------------


@query(
    "w6_savgol_oracle",
    oracle=r"""
    WITH ordered AS (
      SELECT user_id, event_id, value,
             row_number() OVER w - 1 AS i,
             count(*) OVER (PARTITION BY user_id) AS n,
             avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ma
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    head AS (
      SELECT user_id, regr_slope(value, i) AS s, regr_intercept(value, i) AS b
      FROM ordered WHERE i < 7 GROUP BY user_id
    ),
    tail AS (
      SELECT user_id, regr_slope(value, i - (n - 7)) AS s,
             regr_intercept(value, i - (n - 7)) AS b
      FROM ordered WHERE i >= n - 7 GROUP BY user_id
    )
    SELECT o.user_id, o.event_id,
      round(CASE
        WHEN o.n < 7 THEN o.value
        WHEN o.i < 3 THEN h.b + h.s * o.i
        WHEN o.i >= o.n - 3 THEN t.b + t.s * (o.i - (o.n - 7))
        ELSE o.ma END, 4) AS value_smooth
    FROM ordered o
    LEFT JOIN head h USING (user_id)
    LEFT JOIN tail t USING (user_id)
    """,
)
def w6_savgol_oracle(spark, sf_dir):
    from ..functions.savgol import savgol_by_key

    events = read_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    return savgol_by_key(
        events,
        key_col="user_id",
        order_cols=["ts", "event_id"],
        value_col="value",
        out_cols=["user_id", "event_id"],
        window_length=7,
        polyorder=1,
        ndigits=4,
    )


@query(
    "j8f_asof_forward",
    oracle="""
    WITH views AS (
      SELECT user_id, ts, MAX(event_id) AS view_event_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
    purchases AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id,
           CAST(epoch_ms(p.ts) AS BIGINT) AS purchase_ms,
           v.view_event_id AS view_event_id
    FROM purchases p
    ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts <= v.ts
    """,
)
def j8f_asof_forward(spark, sf_dir):
    """Forward as-of: the first view at or after each purchase (DuckDB's
    native ASOF with a <= condition is the oracle). Same one-shuffle
    union+carry as j8, ordered descending."""
    e = read_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    joined = asof_join(
        purchases, views, on="ts", by=["user_id"],
        value_cols=["view_event_id"], direction="forward",
    )
    return joined.select(
        "event_id", "user_id", ms("ts").alias("purchase_ms"),
        F.col("view_event_id_right").alias("view_event_id"),
    )


# Scale sf0.01: HyperLogLog++ has no SQL form, but the output is deterministic
# (order-independent register merges), verified across masters and partition counts before
# snapshotting; at any other scale it differs by construction.
@query(
    "a9_approx_distinct",
    oracle="""
    SELECT * FROM (VALUES
      ('A', CAST(10998 AS BIGINT), CAST(20028 AS BIGINT)),
      ('N', CAST(10967 AS BIGINT), CAST(19926 AS BIGINT)),
      ('R', CAST(11120 AS BIGINT), CAST(20046 AS BIGINT))
    ) AS t(l_returnflag, approx_orders, n_rows)
    """,
    scale="sf0.01",
)
def a9_approx_distinct(spark, sf_dir):
    """HyperLogLog++ approximate distinct (the 100 TB form of A2/A7: fixed
    ~kilobyte sketch per group, map-side combinable, vs an exact distinct's
    per-key state). No SQL oracle — the estimate is engine-specific; the
    driver records rows-only, and tests/test_pipeline_ops.py asserts the
    estimate lands within the configured rsd of the exact count."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.count("*").alias("n_rows"),
    )


@query(
    "k_salted_agg",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def k_salted_agg(spark, sf_dir):
    """Skew-safe two-phase aggregation (operators/skew.py): partials per
    (key, salt), merged per key — bit-identical to the plain GROUP BY the
    oracle runs (count/sum merge exactly; distinct-count goes through a
    salt-level collect_set merged as a union). This is the shape that keeps
    one hot event_type from pinning a single reducer at 100 TB."""
    from ..operators.skew import salted_agg

    e = read_table(spark, sf_dir, "events")
    return salted_agg(
        e,
        keys=["event_type"],
        partial_aggs=[
            F.count("*").alias("_n"),
            F.sum(dec("value", 2)).alias("_s"),
            F.collect_set("user_id").alias("_u"),
        ],
        final_aggs=[
            F.sum("_n").alias("n_events"),
            F.sum("_s").cast("double").alias("sum_value"),
            F.size(F.array_distinct(F.flatten(F.collect_list("_u")))).cast("long").alias("n_users"),
        ],
        n_salts=8,
        unique_col="event_id",
    )


@query(
    "j9_interval_join",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
    views AS (
      SELECT user_id, ts AS view_ts, event_id AS view_event_id
      FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id,
           CAST(epoch_ms(p.ts) AS BIGINT) AS purchase_ms,
           CAST(COUNT(v.view_event_id) AS BIGINT) AS views_30m,
           MAX(v.view_event_id) AS last_view_event
    FROM purchases p
    JOIN views v
      ON v.user_id = p.user_id
     AND v.view_ts >= p.ts - INTERVAL 30 MINUTE
     AND v.view_ts <= p.ts
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)
def j9_interval_join(spark, sf_dir):
    """Interval join (attribution): views within the 30 minutes before each
    purchase, per user. One shuffle per side (SortMergeJoin on user_id, range
    as join condition — never a cross product); the identical expression runs
    as a watermarked stream-stream join (streaming/joins.py, tested)."""
    from ..streaming.joins import interval_join

    e = read_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    views = (
        e.filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_event_id"))
    )
    j = interval_join(purchases, views, ["user_id"], "ts", "view_ts", "30 minutes")
    return j.groupBy("event_id", "user_id", "ts").agg(
        F.count("view_event_id").alias("views_30m"),
        F.max("view_event_id").alias("last_view_event"),
    ).select(
        "event_id", "user_id", ms("ts").alias("purchase_ms"),
        "views_30m", "last_view_event",
    )


@query(
    "a10_quantiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a10_quantiles(spark, sf_dir):
    """Exact per-group quantiles (A-family addition): Spark's exact
    `percentile` (sort-based within groups) vs DuckDB `quantile_cont`; both
    use linear interpolation on order statistics. Rounded to 4 decimals —
    the interpolation arithmetic can differ in the last ulp. At scale the
    exact percentile is a per-group sort; for the approximate path see
    a9_approx_distinct's KLL/HLL family."""
    li = read_table(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))").alias("qs"),
        F.count("*").alias("n"),
    )
    return q.select(
        "l_returnflag",
        F.round(F.element_at("qs", 1), 4).alias("p25"),
        F.round(F.element_at("qs", 2), 4).alias("p50"),
        F.round(F.element_at("qs", 3), 4).alias("p75"),
        "n",
    )


@query(
    "w11_scd2_intervals",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms,
             LAG(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, event_type, ts_ms,
             LEAD(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) AS next_ts_ms
      FROM seq WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type AS state, ts_ms AS valid_from_ms,
           COALESCE(next_ts_ms, 9223372036854775807) AS valid_to_ms,
           (next_ts_ms IS NULL) AS is_current
    FROM changes
    """,
)
def w11_scd2_intervals(spark, sf_dir):
    """Slowly-changing-dimension type-2 derivation (W-family addition):
    collapse consecutive equal states, then LEAD gives each state version
    its [valid_from, valid_to) interval with an open-ended current row —
    the standard snapshot→history transformation, two window passes over
    one sort."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", ms("ts").alias("ts_ms"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = seq.filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_ms")
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts_ms").alias("valid_from_ms"),
        F.coalesce(F.lead("ts_ms").over(w2), F.lit(9223372036854775807)).alias("valid_to_ms"),
        F.lead("ts_ms").over(w2).isNull().alias("is_current"),
    )


@query(
    "a17_sortedness",
    oracle="""
    WITH o AS (
      SELECT user_id,
             CASE WHEN event_id < LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  THEN 1 ELSE 0 END AS viol
      FROM events
    )
    SELECT user_id, CAST(SUM(viol) AS BIGINT) AS n_violations, COUNT(*) AS n_rows
    FROM o GROUP BY user_id
    """,
)
def a17_sortedness(spark, sf_dir):
    """Monotonicity validation (data-quality addition): count order
    inversions of one column under another's ordering, per key — the cheap
    invariant check before relying on sortedness (as-of joins, dedup
    ledgers, incremental processing all assume it)."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    viol = F.when(F.col("event_id") < F.lag("event_id").over(w), 1).otherwise(0)
    return (
        e.select("user_id", viol.alias("viol"))
        .groupBy("user_id")
        .agg(F.sum("viol").alias("n_violations"), F.count("*").alias("n_rows"))
    )


@query(
    "a18_outliers",
    oracle="""
    WITH s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
      FROM events GROUP BY event_type
    ),
    z AS (
      SELECT e.event_type, e.event_id, e.value,
             ROUND((e.value - s.sx / s.n)
               / SQRT(s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n)), 6) AS zscore
      FROM events e JOIN s USING (event_type)
    )
    SELECT event_type, event_id, value, zscore
    FROM z WHERE ABS(zscore) > 2.5
    """,
)
def a18_outliers(spark, sf_dir):
    """Z-score outlier detection (data-quality addition): per-group moments
    from DECIMAL sufficient statistics (order-independent, same trick as
    a12), z computed in an identical expression tree both engines, rounded
    at 6. The group stats are a tiny agg-back broadcast join — the corpus
    scans once."""
    e = read_table(spark, sf_dir, "events")
    v = dec("value")
    s = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v).cast("double").alias("sx"),
        F.sum(v * v).cast("double").alias("sxx"),
    )
    j = e.join(F.broadcast(s), "event_type")
    mean = F.col("sx") / F.col("n")
    z = F.round((F.col("value") - mean) / F.sqrt(F.col("sxx") / F.col("n") - mean * mean), 6)
    return (
        j.withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 2.5)
        .select("event_type", "event_id", "value", "zscore")
    )


@query(
    "o13_reservoir_sample",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber, rn FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber,
             ROW_NUMBER() OVER (
               PARTITION BY l_returnflag
               ORDER BY md5(l_orderkey || '-' || l_linenumber), l_orderkey, l_linenumber
             ) AS rn
      FROM lineitem
    ) WHERE rn <= 5
    """,
)
def o13_reservoir_sample(spark, sf_dir):
    """Deterministic per-key reservoir sample (engine addition §2.12): k=5
    rows per group chosen by content hash — reproducible across runs and
    shards, unlike rand()-based sampling. At scale this is one shuffle on
    the group key; the hash order is computed map-side.

    Scale note (examined r14, left alone): although ``l_returnflag`` has
    only 3 values, the filtered row_number window is NOT a 3-reducer
    bottleneck — Spark 4's InferWindowGroupLimit plans a map-side
    ``WindowGroupLimit … Partial`` BEFORE the exchange (see ``git show
    2ed894b:plans/r14/o13_reservoir_sample_before.txt``), so each map
    partition ships only its local top-5 per group and the 3 reducers rank
    ~5·P·groups candidate rows. A hand-written two-phase top-k was built,
    verified hash-exact, measured — and reverted: it duplicated what the
    optimizer already does and added a second exchange."""
    li = read_table(spark, sf_dir, "lineitem")
    key = F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    w = Window.partitionBy("l_returnflag").orderBy(
        F.md5(key), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "rn")
    )


@query(
    "a11_histogram",
    oracle="""
    SELECT GREATEST(0, LEAST(19, CAST(FLOOR((l_extendedprice - 900.0) / 5000.0) AS BIGINT))) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM lineitem GROUP BY 1
    """,
)
def a11_histogram(spark, sf_dir):
    """Fixed-width histogram (A-family addition): manual floor bucketing
    (clamped to [0,19]) — a pure projection feeding one map-side-combinable
    aggregation; the classic profile-a-column-at-scale pattern."""
    li = read_table(spark, sf_dir, "lineitem")
    bucket = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(
            F.lit(19).cast("bigint"),
            F.floor((F.col("l_extendedprice") - 900.0) / 5000.0),
        ),
    )
    return (
        li.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), dsum("l_extendedprice").alias("total"))
    )


@query(
    "a12_corr_exact",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price
    FROM s
    """,
)
def a12_corr_exact(spark, sf_dir):
    """Pearson correlation via DECIMAL sufficient statistics (A-family
    addition): the five sums are exact decimals (order-independent, unlike
    Spark's streaming co-moment corr()), so the closed form evaluates
    identically on both engines; sqrt is IEEE-correctly-rounded. This is the
    deterministic way to compute corr at 100 TB — map-side-combinable sums,
    one row per group to the driver."""
    li = read_table(spark, sf_dir, "lineitem")
    x, y = dec("l_quantity"), dec("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        "l_returnflag",
        "n",
        F.round(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6
        ).alias("corr_qty_price"),
    )


@query(
    "a13_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a13_rollup(spark, sf_dir):
    """ROLLUP hierarchy aggregation (A-family addition): Spark expands
    grouping sets with one Expand + one aggregation — subtotals and the
    grand total in a single shuffle instead of N queries."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@query(
    "o14_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS qty_F,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS qty_O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def o14_pivot(spark, sf_dir):
    """Pivot / wide reshaping (O-family addition): explicit conditional
    aggregation rather than df.pivot — same single-aggregation physical
    plan, but the output schema is static (pivot's value-discovery pass is
    a second scan at 100 TB; when the pivot values are known, spell them)."""
    li = read_table(spark, sf_dir, "lineitem")
    ls = F.col("l_linestatus")
    q = dec("l_quantity")
    zero = F.lit(0).cast("decimal(18,2)")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(ls == "F", 1).otherwise(0)).alias("F"),
        F.sum(F.when(ls == "O", 1).otherwise(0)).alias("O"),
        F.sum(F.when(ls == "F", q).otherwise(zero)).cast("double").alias("qty_F"),
        F.sum(F.when(ls == "O", q).otherwise(zero)).cast("double").alias("qty_O"),
    )


@query(
    "w8_rank_distributions",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST() OVER w AS cd,
           RANK() OVER w AS rnk
    FROM lineitem
    WHERE l_quantity <= 2.0
    WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_extendedprice)
    """,
)
def w8_rank_distributions(spark, sf_dir):
    """Rank-based window distributions (W-family addition): percent_rank /
    cume_dist / rank are functions of the rank only, so ties don't make them
    nondeterministic (ntile would be); the divisions (rank-1)/(n-1) are
    exact IEEE in both engines.

    r14 (guide §2.4/§2.5): all three functions depend only on the VALUE
    distribution per group — rank = 1 + #rows with a strictly smaller
    price, cume_dist counts peers inclusively — so the whole-table window
    over the 3-value ``l_returnflag`` key (3 reducers sort everything at
    scale) collapses to: one map-side-combinable (group, price) count, a
    window over the price LEVELS only (level-table-sized, not row-sized),
    and an equi-join back on (group, price) that AQE broadcasts when the
    level table is small. The arithmetic reproduces the window functions
    bit-for-bit: both engines evaluate (rank−1)/(n−1) and cum/n as double
    divisions of exact integers, and the same integers divide here."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") <= 2.0)
    lvl = li.groupBy("l_returnflag", "l_extendedprice").agg(F.count("*").alias("_c"))
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_grp = Window.partitionBy("l_returnflag")
    lvl = (
        lvl.withColumn("_cum", F.sum("_c").over(w_cum))
        .withColumn("_n", F.sum("_c").over(w_grp))
        .withColumn("rnk", (F.col("_cum") - F.col("_c") + 1).cast("int"))
    )
    # null-SAFE join-back (VERDICT r14 #5): both keys are NOT NULL in TPC-H
    # so this is the identity here, but the window this decomposition
    # replaces KEEPS null-key rows — a plain equi-join would silently drop
    # them if the pattern is copied onto nullable data. eqNullSafe keys are
    # still hash-joinable, so the AQE broadcast of the level side survives
    # (plan guard re-verified).
    lvl = lvl.select(
        F.col("l_returnflag").alias("_lvl_rf"),
        F.col("l_extendedprice").alias("_lvl_px"),
        F.when(
            F.col("_n") > 1,
            (F.col("rnk") - 1).cast("double") / (F.col("_n") - 1).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("pr"),
        (F.col("_cum").cast("double") / F.col("_n").cast("double")).alias("cd"),
        "rnk",
    )
    return li.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice").join(
        lvl,
        F.col("l_returnflag").eqNullSafe(F.col("_lvl_rf"))
        & F.col("l_extendedprice").eqNullSafe(F.col("_lvl_px")),
    ).select("l_returnflag", "l_orderkey", "l_linenumber", "pr", "cd", "rnk")


@query(
    "a14_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a14_cube(spark, sf_dir):
    """CUBE over two dimensions (A-family addition): all 2^2 grouping sets
    in one Expand + one aggregation — same single-shuffle property as
    a13_rollup with the full lattice."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty")
    )


# Scale sf0.01: HyperLogLog++ has no SQL form, but the output is deterministic
# (order-independent register merges after
# the per-source repartition), verified across masters and partition counts before
# snapshotting; at any other scale it differs by construction.
@query(
    "a15_hll_sketch_union",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(20 AS BIGINT), CAST(499 AS BIGINT), CAST(500 AS BIGINT))
    ) AS t(n_sources, global_estimate, sum_per_source_exact)
    """,
    scale="sf0.01",
)
def a15_hll_sketch_union(spark, sf_dir):
    """Mergeable HLL sketches (A-family addition, Datasketches-backed):
    per-source sketches built in one pass, then unioned into a global
    distinct estimate — the re-aggregatable distinct-counting pattern at
    100 TB (store per-partition sketches, merge on demand; never recount).

    Determinism (round 5): datasketches estimates are
    insertion-GROUPING-sensitive — the r4 formulation's partial aggregates
    split each source's rows across scan partitions, and merging the
    resulting intermediate sketches moved the estimate ±1 with the
    master/partition config. Repartitioning by source FIRST makes every
    partial aggregate build its source's sketch complete (one partition
    holds all of a source's rows; HLL insertion itself is set-determined,
    order-independent), after which the union merges n_sources fully-built
    sketches — measured stable across local[4]/local[32], shuffle
    partitions 4/32/200, and 4m-128m scan splits, so the query now carries
    a snapshot oracle in plans/snapshots.py like a9/MLlib-LSH. The
    accuracy bound stays asserted in tests/test_vocab.py."""
    d = read_table(spark, sf_dir, "documents")
    per_source = d.select("source", "text").repartition("source").groupBy("source").agg(
        F.expr("hll_sketch_agg(text)").alias("sk"),
        F.countDistinct("text").alias("exact_distinct"),
    )
    return per_source.agg(
        F.count("*").alias("n_sources"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("global_estimate"),
        F.sum("exact_distinct").alias("sum_per_source_exact"),
    )


@query(
    "f11_string_agg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n
    FROM nation GROUP BY n_regionkey
    """,
)
def f11_string_agg(spark, sf_dir):
    """Ordered string aggregation (F-family addition): LISTAGG WITHIN GROUP
    — deterministic because the within-group order is total. The agg buffers
    per-group strings, so it belongs on bounded-cardinality dims (here:
    nations per region), never on unbounded fact groups."""
    n = read_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.expr("listagg(n_name, ',') within group (order by n_name)").alias("nations"),
        F.count("*").alias("n"),
    )


@query(
    "f12_array_agg_sorted",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def f12_array_agg_sorted(spark, sf_dir):
    """Deterministic array aggregation (F-family addition): collect_set is
    unordered (shuffle-arrival order), so a value-sort makes the result
    reproducible and oracle-comparable — the required pattern anywhere an
    array-valued agg feeds a hash/fingerprint downstream. The sorted set is
    emitted as a ','-joined string because the driver harness canonicalizes
    rows with pandas sort/factorize, which cannot hash array cells; the
    array form stays covered by tests/test_relational_oracle.py."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.count("*").alias("n"),
    )


@query(
    "f13_bitwise_agg",
    oracle="""
    SELECT l_returnflag,
           bit_or(l_linenumber) AS flags_or,
           bit_and(l_linenumber) AS flags_and,
           bit_xor(l_linenumber) AS flags_xor
    FROM lineitem GROUP BY l_returnflag
    """,
)
def f13_bitwise_agg(spark, sf_dir):
    """Bitwise aggregates (F-family addition): or/and/xor are commutative
    and associative, hence map-side combinable and order-independent —
    exact across engines with no decimal detour (the bitmask/bloom-ish
    accumulation pattern)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_or("l_linenumber").alias("flags_or"),
        F.bit_and("l_linenumber").alias("flags_and"),
        F.bit_xor("l_linenumber").alias("flags_xor"),
    )


@query(
    "w9_interpolate_gaps",
    oracle="""
    WITH m AS (
      SELECT event_type, event_id,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
      FROM events
    ),
    f AS (
      SELECT event_type, event_id, v, rn,
             last_value(v IGNORE NULLS) OVER wp AS prev_v,
             last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wp AS prev_rn,
             first_value(v IGNORE NULLS) OVER wn AS next_v,
             first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wn AS next_rn
      FROM m
      WINDOW wp AS (PARTITION BY event_type ORDER BY rn
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             wn AS (PARTITION BY event_type ORDER BY rn
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, event_id,
           CASE
             WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
               THEN prev_v + (next_v - prev_v) * ((rn - prev_rn) / CAST(next_rn - prev_rn AS DOUBLE))
             WHEN prev_v IS NOT NULL THEN prev_v
             ELSE next_v
           END AS filled,
           CASE
             WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN 'interp'
             WHEN prev_v IS NOT NULL THEN 'locf'
             ELSE 'nocb'
           END AS fill_kind
    FROM f WHERE v IS NULL
    """,
)
def w9_interpolate_gaps(spark, sf_dir):
    """Gap repair for ordered series (W-family addition; the tracking-data
    shape: reconstruct masked samples from neighbors). Linear interpolation
    between the nearest non-null neighbors via two IGNORE-NULLS window
    passes, degrading to LOCF/NOCB at the edges. Pure window arithmetic —
    identical IEEE expression tree both engines, no rounding needed. At
    scale this is one shuffle on the series key; both windows reuse the
    same sort."""
    # r15 (VERDICT r14 #3, guide §2.5): the event_type window funnels the
    # whole table onto #event_types reducers at scale — run the identical
    # neighbor resolution as the two-level (event_type, event_id-range)
    # decomposition with O(#buckets) boundary-carry state
    # (operators/serieswin.py; equivalence-swept in tests/test_serieswin.py;
    # the r14 reversed-running-frame finding lives on inside gap_neighbors).
    from ..operators.serieswin import gap_neighbors

    e = read_table(spark, sf_dir, "events")
    masked = e.select(
        "event_type",
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    f = gap_neighbors(masked, "event_type", "event_id", "v")
    both = F.col("prev_v").isNotNull() & F.col("next_v").isNotNull()
    frac = (F.col("rn") - F.col("prev_rn")) / (F.col("next_rn") - F.col("prev_rn")).cast("double")
    filled = (
        F.when(both, F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac)
        .when(F.col("prev_v").isNotNull(), F.col("prev_v"))
        .otherwise(F.col("next_v"))
    )
    kind = (
        F.when(both, F.lit("interp"))
        .when(F.col("prev_v").isNotNull(), F.lit("locf"))
        .otherwise(F.lit("nocb"))
    )
    return (
        f.filter(F.col("v").isNull())
        .select("event_type", "event_id", filled.alias("filled"), kind.alias("fill_kind"))
    )


@query(
    "a16_profile",
    oracle="""
    SELECT 'l_quantity' AS col_name,
           COUNT(*) AS n_rows,
           COUNT(l_quantity) AS n_nonnull,
           COUNT(DISTINCT l_quantity) AS n_distinct,
           MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', COUNT(*), COUNT(l_discount), COUNT(DISTINCT l_discount),
           MIN(l_discount), MAX(l_discount),
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
    FROM lineitem
    """,
)
def a16_profile(spark, sf_dir):
    """Column profiling (A-family addition): null counts, distinct
    cardinality, range, exact sums per column — the schema-inference /
    data-quality first pass over a new corpus. One aggregation per column
    over a single cached scan; at scale the distinct counts would switch to
    the a15 sketch path."""
    li = read_table(spark, sf_dir, "lineitem")

    def profile(col):
        return li.agg(
            F.lit(col).alias("col_name"),
            F.count("*").alias("n_rows"),
            F.count(col).alias("n_nonnull"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).alias("min_v"),
            F.max(col).alias("max_v"),
            dsum(col).alias("sum_v"),
        )

    return profile("l_quantity").unionAll(profile("l_discount"))


@query(
    "w10_moving_avg",
    oracle="""
    SELECT event_type, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
                OVER (PARTITION BY event_type ORDER BY event_id
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS win_sum,
           COUNT(*) OVER (PARTITION BY event_type ORDER BY event_id
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS win_n
    FROM events WHERE event_id % 11 = 0
    """,
)
def w10_moving_avg(spark, sf_dir):
    """Moving-frame window aggregation (W-family addition): ROWS BETWEEN
    sliding sum/count. The sum rides DECIMAL because engines disagree on
    frame-sum association order (segment trees vs running sums) — decimal
    is associative so any order matches. One sort per series key."""
    # r15 (VERDICT r14 #3, guide §2.5): same funnel removal as w9 — the
    # 4-row moving frame runs within (event_type, event_id-range) buckets
    # with a ≤3-row-per-bucket tail carry (operators/serieswin.py); decimal
    # addition is associative, so local frame + entry carry is the exact
    # frame sum.
    from ..operators.serieswin import moving_sum_count

    e = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 0)
        .select("event_type", "event_id", "value")
    )
    out = moving_sum_count(e, "event_type", "event_id", dec("value"), lookback=3)
    return out.select(
        "event_type",
        "event_id",
        F.col("win_sum").cast("double").alias("win_sum"),
        "win_n",
    )


def _morton_spread(expr: str) -> str:
    """16-bit → 32-bit bit-spreading (x | x<<8 masked, …) — identical
    integer ops in Spark SQL and DuckDB."""
    v = f"CAST({expr} AS BIGINT)"
    v = f"(({v} | ({v} << 8)) & 16711935)"        # 0x00FF00FF
    v = f"(({v} | ({v} << 4)) & 252645135)"       # 0x0F0F0F0F
    v = f"(({v} | ({v} << 2)) & 858993459)"       # 0x33333333
    v = f"(({v} | ({v} << 1)) & 1431655765)"      # 0x55555555
    return v


_MORTON_SQL = f"({_morton_spread('l_partkey % 65536')} | ({_morton_spread('l_suppkey % 65536')} << 1))"


@query(
    "o15_morton_key",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {_MORTON_SQL} AS morton,
           {_MORTON_SQL} >> 24 AS morton_bucket
    FROM lineitem WHERE l_orderkey < 64
    """,
)
def o15_morton_key(spark, sf_dir):
    """Z-order (Morton) interleaved key (O-family addition): sorting a
    write by this key clusters BOTH dimensions into the same row groups,
    so parquet min/max skipping prunes 2-D range predicates — the standard
    multi-dimensional data-skipping layout at 100 TB. Pure integer
    bit-spreading, identical in both engines."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 64)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_MORTON_SQL).alias("morton"),
        F.expr(f"{_MORTON_SQL} >> 24").alias("morton_bucket"),
    )


@query(
    "j10_full_outer",
    oracle="""
    WITH l AS (
      SELECT o_custkey AS custkey, COUNT(*) AS n_orders
      FROM orders WHERE o_custkey % 3 = 0 GROUP BY o_custkey
    ),
    r AS (
      SELECT c_custkey AS custkey, c_acctbal
      FROM customer WHERE c_acctbal > 9000.0
    )
    SELECT COALESCE(l.custkey, r.custkey) AS custkey,
           l.n_orders, r.c_acctbal,
           (l.custkey IS NULL) AS only_right,
           (r.custkey IS NULL) AS only_left
    FROM l FULL OUTER JOIN r ON l.custkey = r.custkey
    """,
)
def j10_full_outer(spark, sf_dir):
    """Full outer join (J-family addition): both-side preservation with
    null indicators — the reconciliation shape (ledger vs snapshot). At
    scale a full outer cannot broadcast (both sides must co-partition), so
    it shuffles both on the key — exactly once."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    left = (
        o.filter(F.col("o_custkey") % 3 == 0)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count("*").alias("n_orders"))
    )
    right = c.filter(F.col("c_acctbal") > 9000.0).select(
        F.col("c_custkey").alias("custkey"), "c_acctbal"
    )
    j = left.alias("l").join(right.alias("r"), F.col("l.custkey") == F.col("r.custkey"), "full_outer")
    return j.select(
        F.coalesce(F.col("l.custkey"), F.col("r.custkey")).alias("custkey"),
        "n_orders",
        "c_acctbal",
        F.col("l.custkey").isNull().alias("only_right"),
        F.col("r.custkey").isNull().alias("only_left"),
    )


@query(
    "f14_variant_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def f14_variant_json(spark, sf_dir):
    """Spark 4 VariantType JSON path (F-family addition): parse_json once
    into the binary variant encoding, then typed variant_get extraction —
    the engine-native semi-structured path (shredded access, no per-query
    re-parse), vs DuckDB's json_extract as the oracle. Integer payloads →
    exact."""
    e = read_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "f15_sql_text",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
    FROM orders
    WHERE o_custkey % 2 = 0
    GROUP BY o_orderpriority
    """,
)
def f15_sql_text(spark, sf_dir):
    """Pure `spark.sql` text surface: the same engine semantics exposed via
    temp view + SQL string instead of the DataFrame DSL — both compile to
    identical Catalyst plans, and every DataFrame query in this registry
    could be spelled this way. One query kept in SQL-text form so the
    surface itself is driver-certified."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("_sql_orders")
    return spark.sql("""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
               SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_finished
        FROM _sql_orders
        WHERE o_custkey % 2 = 0
        GROUP BY o_orderpriority
    """)


@query(
    "a20_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id),
    j AS (
      SELECT e.user_id, f.cohort_week,
             CAST(date_diff('day', f.cohort_week,
                            date_trunc('week', e.ts)) // 7 AS BIGINT)
               AS week_offset
      FROM events e JOIN firsts f USING (user_id))
    SELECT CAST(epoch_ms(cohort_week) AS BIGINT) AS cohort_week_ms,
           week_offset,
           COUNT(DISTINCT user_id) AS n_users
    FROM j GROUP BY cohort_week, week_offset
    ORDER BY cohort_week_ms, week_offset
    """,
)
def a20_retention_cohorts(spark, sf_dir):
    """Retention cohort matrix (engine addition §2.12): users grouped by
    first-activity week, counted distinct in each subsequent week — the
    standard product-analytics rollup a training-data/event pipeline serves
    at warehouse scale. Both engines truncate weeks to Monday, and both
    offsets divide a day-diff of week-truncated stamps by 7, so the matrix
    is exact integers.

    Scale shape: the event log reduces to the distinct (user, day) set
    FIRST (one combinable shuffle — the matrix is a pure function of that
    set, which also makes it incrementally maintainable, see
    streaming/windows.py:streaming_user_days); then a combinable per-user
    MIN, a co-partitioned agg-back join on user_id over the small
    user-day table, and one distinct-count agg bounded by users ×
    active-weeks. The cohort math itself is the shared
    streaming/windows.py:retention_cohorts — ONE definition for the batch
    query and the streaming ledger twin."""
    from ..streaming.windows import retention_cohorts

    e = read_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    return retention_cohorts(ud)


@query(
    "a21_ordered_funnel",
    oracle="""
    WITH u1 AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
      FROM events GROUP BY user_id),
    u2 AS (
      SELECT e.user_id, u1.t1,
             MIN(CASE WHEN e.event_type = 'click' AND e.ts > u1.t1
                      THEN e.ts END) AS t2
      FROM events e JOIN u1 USING (user_id) GROUP BY e.user_id, u1.t1),
    u3 AS (
      SELECT e.user_id, u2.t1, u2.t2,
             MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > u2.t2
                      THEN e.ts END) AS t3
      FROM events e JOIN u2 USING (user_id) GROUP BY e.user_id, u2.t1, u2.t2),
    c AS (
      SELECT COUNT(t1) AS n1, COUNT(t2) AS n2, COUNT(t3) AS n3 FROM u3)
    SELECT * FROM (
      SELECT CAST(1 AS INTEGER) AS stage_idx, 'view' AS stage, n1 AS n_users FROM c
      UNION ALL
      SELECT CAST(2 AS INTEGER), 'click', n2 FROM c
      UNION ALL
      SELECT CAST(3 AS INTEGER), 'purchase', n3 FROM c
    ) ORDER BY stage_idx
    """,
)
def a21_ordered_funnel(spark, sf_dir):
    """Strictly-ordered conversion funnel (engine addition §2.12):
    view → click-after-first-view → purchase-after-that-click, counted as
    users reaching each stage. Stage timestamps chain (t2 conditions on
    t1, t3 on t2), the classic sequence-match the warehouse answers with
    correlated window scans.

    Scale shape: ONE data shuffle — three window aggregates share the
    user_id partitioning (Spark plans a single Exchange; the in-partition
    sorts are group-key-only, and the downstream per-user and global
    aggs reuse the partitioning; plan-guarded);
    NULL-chaining (ts > NULL → NULL) makes later stages vacuously empty
    for users who never reached the earlier one, identical semantics in
    both engines. The final 3-row stack is a stack() projection over a
    1-row aggregate."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = e.withColumn("t1", t1)
    t2 = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")), F.col("ts"))
    ).over(w)
    staged = staged.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t3", t3)
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    c = per_user.agg(
        F.count("t1").alias("n1"), F.count("t2").alias("n2"), F.count("t3").alias("n3")
    )
    return c.selectExpr(
        "inline(array("
        "  struct(int(1) AS stage_idx, 'view' AS stage, n1 AS n_users),"
        "  struct(int(2) AS stage_idx, 'click' AS stage, n2 AS n_users),"
        "  struct(int(3) AS stage_idx, 'purchase' AS stage, n3 AS n_users)))"
    )  # r15: terminal sort removed (order-insensitive comparator; §2.4)


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1.0 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           CAST(epoch_ms(o_orderdate) AS BIGINT) AS o_orderdate_ms,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): selective dim filter → two
    key joins → per-order revenue → top-10. Revenue rides the q1 scaled-
    long discipline (cents × basis-point units, exact int64 per group —
    an order holds ≲7 lines so the per-group unit sum is ≤ ~8e11, no
    two-phase needed; the decimal division at the end reproduces the
    oracle's DECIMAL product bit-for-bit, see q1_pricing_summary).

    Scale shape: both filters reach the parquet scans (segment on
    customer, dates on orders/lineitem); the custkey and orderkey joins
    shuffle only filtered rows and AQE picks broadcast when the filtered
    customer side fits; the final top-10 is a TakeOrderedAndProject heap,
    never a global sort."""
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15 00:00:00").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15 00:00:00").cast("timestamp")
    )
    pc = scaled_units("l_extendedprice", 100)
    dm = F.lit(10000) - scaled_units("l_discount", 10000)
    return (
        c.select("c_custkey")
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            (
                F.sum(pc * dm).cast("decimal(38,0)")
                / F.lit(1000000).cast("decimal(7,0)")
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            ms("o_orderdate").alias("o_orderdate_ms"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1.0 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): the 6-table star join with
    the customer-nation = supplier-nation correlation, revenue per nation
    in one region-year. Nation/region broadcast unconditionally (dozens of
    rows); supplier pre-filters to the region's nations THROUGH that
    broadcast before the fact join, so the big shuffle carries only
    region-local suppliers. Per-nation revenue uses q1's two-phase scaled-
    long sum (_pid pre-agg in pure int64 codegen, DECIMAL(38,0) promotion
    over the tiny partial table) — a nation's global unit sum would
    overflow int64 at 100 TB, a per-partition partial cannot.

    Scale shape: date filter pushed to the orders scan; orderkey/custkey
    shuffles carry one year of one region; the correlation predicate
    (c_nationkey = s_nationkey) applies AT the supplier join, not as a
    post-join filter."""
    nr = (
        read_table(spark, sf_dir, "nation")
        .join(
            read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    pc = scaled_units("l_extendedprice", 100)
    dm = F.lit(10000) - scaled_units("l_discount", 10000)
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    partial = (
        joined.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid", "n_name")
        .agg(F.sum(pc * dm).alias("dp_units"))
    )
    return (
        partial.groupBy("n_name")
        .agg(
            (
                F.sum(F.col("dp_units").cast("decimal(38,0)"))
                / F.lit(1000000).cast("decimal(7,0)")
            )
            .cast("double")
            .alias("revenue")
        )
        # r15: terminal no-LIMIT sort removed (order-insensitive
        # comparator; guide §2.4 — the range exchange + global sort was
        # pure output cosmetics)
    )


@query(
    "w12_sliding_distinct_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events),
    days AS (SELECT DISTINCT day FROM ud),
    win AS (
      SELECT d.day, u.user_id
      FROM days d JOIN ud u
        ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day)
    SELECT CAST(epoch_ms(day) AS BIGINT) AS day_ms,
           COUNT(DISTINCT user_id) AS active_users_7d
    FROM win GROUP BY day ORDER BY day_ms
    """,
)
def w12_sliding_distinct_users(spark, sf_dir):
    """Exact 7-day rolling distinct users (engine addition §2.12): the
    sliding-distinct aggregate that a window function CANNOT express at
    scale (COUNT(DISTINCT) OVER a range frame needs the full set per row).
    Spark-first rewrite: reduce to one row per (user, day) first, then
    EXPLODE each into the ≤7 window-end days it contributes to, then one
    distinct-count agg — a bounded 7× fan-out of the already-reduced
    per-day table instead of a range self-join, shuffle keyed by day.
    Output days are observed activity days only (identical set both
    engines). At 100 TB the (user, day) reduction is the big combinable
    shuffle; the explode multiplies the SMALL reduced table.
    """
    e = read_table(spark, sf_dir, "events")
    from ..streaming.windows import rolling_active_users

    ud = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    return rolling_active_users(ud, window_days=7)


@query(
    "q18_large_volume_customer",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(FLOOR(l_quantity * 100 + 0.5)) AS q_units
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(FLOOR(l_quantity * 100 + 0.5)) > 30000)
    SELECT c_name, c_custkey, o_orderkey,
           CAST(epoch_ms(o_orderdate) AS BIGINT) AS o_orderdate_ms,
           o_totalprice,
           CAST(q_units AS DOUBLE) / 100.0 AS sum_qty
    FROM big JOIN orders ON o_orderkey = l_orderkey
             JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): per-order quantity sums
    with a HAVING screen, enriched with order/customer attributes, top-100
    by order value. Quantities ride exact cent-scaled int64 (the q1
    discipline), so the HAVING threshold and the reported sums are
    engine-identical — a double SUM would be order-dependent at the
    threshold boundary.

    Scale shape: the lineitem aggregation is map-side combinable and its
    HAVING prunes to a tiny 'big orders' table BEFORE any join (TPC-H
    keeps ~0.2% of orders at threshold 300); the orders join shuffles only
    that survivor set (broadcast under AQE when it fits), and the
    customer join only the matched orders; top-100 is a
    TakeOrderedAndProject heap."""
    li = read_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(scaled_units("l_quantity", 100)).alias("q_units")
        )
        .filter(F.col("q_units") > 30000)
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            ms("o_orderdate").alias("o_orderdate_ms"),
            "o_totalprice",
            (F.col("q_units").cast("double") / F.lit(100.0)).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1.0 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping, r8): trade revenue between two
    nations by ship year and direction. The OR-of-pairs predicate becomes
    the classic plan: restrict BOTH nation dims to the two names first
    (broadcast), pre-filter supplier and customer through them, then one
    cross-direction inequality (supp != cust nation) replaces the OR —
    only rows between the two nations ever reach the fact joins. Revenue
    rides q5's two-phase scaled-long sum (a direction-year group
    aggregates a whole year of trade — a global int64 unit sum would
    overflow at 100 TB; per-partition partials cannot).

    Scale shape: the shipdate range is pushed to the lineitem scan;
    supplier/customer shuffles carry only the two nations' rows; the
    output is 2 directions x 2 years, so the final agg is trivial."""
    n = read_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        read_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pc = scaled_units("l_extendedprice", 100)
    dm = F.lit(10000) - scaled_units("l_discount", 10000)
    joined = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .withColumn("l_year", F.year("l_shipdate").cast("bigint"))
    )
    partial = (
        joined.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid", "supp_nation", "cust_nation", "l_year")
        .agg(F.sum(pc * dm).alias("dp_units"))
    )
    return (
        partial.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            (
                F.sum(F.col("dp_units").cast("decimal(38,0)"))
                / F.lit(1000000).cast("decimal(7,0)")
            )
            .cast("double")
            .alias("revenue")
        )
        # r15: terminal sort removed (order-insensitive comparator; §2.4)
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1.0 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting, r8): customers who
    returned the most value in one quarter, top-20. Single-phase scaled-
    long revenue (the q3 argument: a customer's returned lines within ONE
    quarter are bounded small — hundreds of lines x ~5e10 units/line is
    orders below the int64 edge — unlike q5/q7's year-of-trade groups).

    Scale shape: the quarter filter is pushed to the orders scan and the
    returnflag filter to the lineitem scan; the orderkey join carries one
    quarter of returned lines; nation broadcasts; top-20 by revenue is a
    TakeOrderedAndProject heap, never a global sort."""
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nt = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pc = scaled_units("l_extendedprice", 100)
    dm = F.lit(10000) - scaled_units("l_discount", 10000)
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nt), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            (
                F.sum(pc * dm).cast("decimal(38,0)")
                / F.lit(1000000).cast("decimal(7,0)")
            )
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "a22_touch_attribution",
    oracle="""
    WITH fp AS (SELECT user_id, MIN(ts) AS p_ts FROM events
                WHERE event_type = 'purchase' GROUP BY user_id),
    tch AS (SELECT e.user_id, e.event_type, e.ts, e.event_id, fp.p_ts
            FROM events e JOIN fp ON e.user_id = fp.user_id
            WHERE e.event_type IN ('view','click','signup') AND e.ts < fp.p_ts),
    pu AS (SELECT user_id,
                  arg_min(event_type, printf('%020d%020d', epoch_us(ts), event_id)) AS first_touch,
                  arg_max(event_type, printf('%020d%020d', epoch_us(ts), event_id)) AS last_touch,
                  MIN(ts) AS first_ts, MAX(p_ts) AS p_ts
           FROM tch GROUP BY user_id)
    SELECT first_touch, last_touch, COUNT(*) AS n_users,
           CAST(SUM(epoch_ms(p_ts) - epoch_ms(first_ts)) AS BIGINT) AS total_ms_to_convert
    FROM pu GROUP BY first_touch, last_touch ORDER BY first_touch, last_touch
    """,
)
def a22_touch_attribution(spark, sf_dir):
    """First/last-touch attribution (engine addition SURVEY 2.12, r8): for
    every converting user, the first and the last touch event (view /
    click / signup) strictly before their FIRST purchase; output is the
    (first_touch, last_touch) conversion matrix with exact integer
    time-to-convert totals. Deterministic across engines: touch order is
    (ts, event_id) — encoded as one zero-padded sortable string because
    min_by/arg_min ordering keys must be scalar in both engines — at FULL
    microsecond resolution (unix_micros / epoch_us; the parquet timestamps
    are micros, so nothing is truncated and the ordering agrees with the
    streaming twin's raw-timestamp sort — a ms-truncated key would break
    ties differently on sub-ms data). The time sums are unix-millis
    integers, never doubles.

    Scale shape: first-purchase is a map-side-combinable MIN per user;
    the touch filter prunes the events scan before the user-keyed join;
    per-user first/last are single-pass min_by/max_by aggregates (no
    window, no sort); state per user is two scalars. The final matrix is
    |touch types|^2 rows."""
    e = read_table(spark, sf_dir, "events")
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    tch = (
        e.filter(F.col("event_type").isin("view", "click", "signup"))
        .join(fp, "user_id")
        .filter(F.col("ts") < F.col("p_ts"))
    )
    key = F.format_string(
        "%020d%020d", F.unix_micros(F.col("ts").cast("timestamp")), F.col("event_id")
    )
    pu = tch.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("first_touch"),
        F.max_by("event_type", key).alias("last_touch"),
        F.min("ts").alias("first_ts"),
        F.max("p_ts").alias("p_ts"),
    )
    return (
        pu.groupBy("first_touch", "last_touch")
        .agg(
            F.count("*").alias("n_users"),
            F.sum(ms("p_ts") - ms("first_ts"))
            .cast("bigint")
            .alias("total_ms_to_convert"),
        )
        # r15: terminal sort removed (order-insensitive comparator; §2.4)
    )


# ---------------------------------------------------------------------------
# pattern mining + anomaly detection (operators/mining.py, VERDICT r8 #2)
# ---------------------------------------------------------------------------


@query(
    "o16_frequent_part_pairs",
    oracle="""
    WITH ti AS (SELECT DISTINCT l_orderkey AS t, l_partkey AS i FROM lineitem),
    p AS (
      SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_txns
      FROM ti a JOIN ti b ON a.t = b.t AND a.i < b.i
      GROUP BY a.i, b.i HAVING COUNT(*) >= 2)
    SELECT item_a, item_b, n_txns FROM p
    ORDER BY n_txns DESC, item_a, item_b LIMIT 20
    """,
)
def o16_frequent_part_pairs(spark, sf_dir):
    """Market-basket 2-itemset mining: parts co-ordered in the same order,
    support >= 2, top-20 by (support, pair). The self-join meets INSIDE a
    transaction so fan-out is basket-bounded (TPC-H: <= 7 lines/order), and
    ``max_basket=50`` arms the skew guard (VERDICT r8 #4) — a malformed
    100 TB input cannot emit k²/2 rows onto one reducer. The cap drops
    nothing here (every basket is far below 50), so the capped plan and the
    uncapped oracle agree exactly."""
    from ..operators.mining import frequent_pairs

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return frequent_pairs(
        li, "l_orderkey", "l_partkey", min_support=2, top=20, max_basket=50
    )


@query(
    "w13_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events)
    SELECT prev AS from_state, event_type AS to_state, COUNT(*) AS n_transitions
    FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
    """,
)
def w13_event_transitions(spark, sf_dir):
    """First-order state-transition matrix over each user's event sequence
    ordered by (ts, event_id) — the Markov-chain rollup of user paths. One
    lag window per user (the w11 exchange shape) feeding a map-side-
    combinable count; exact under timestamp collisions via the event_id
    tie-break."""
    from ..operators.mining import transition_counts

    e = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    return transition_counts(e, "user_id", "event_type", "ts", "event_id")


@query(
    "w14_daily_anomalies",
    oracle="""
    WITH counts AS (
      SELECT event_type AS k, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT k, day, n_events,
             COUNT(n_events) OVER w AS n_prev,
             ROUND(AVG(n_events) OVER w, 6) AS mean_prev,
             ROUND(COALESCE(STDDEV_SAMP(n_events) OVER w, 0.0), 6) AS std_prev
      FROM counts
      WINDOW w AS (PARTITION BY k ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
    scored AS (
      SELECT k AS event_type, CAST(epoch_ms(day) AS BIGINT) AS day_ms,
             n_events, mean_prev, std_prev,
             CASE WHEN n_prev >= 3 AND std_prev > 0
                  THEN ROUND((n_events - mean_prev) / std_prev, 6) END AS zscore
      FROM stats)
    SELECT event_type, day_ms, n_events, mean_prev, std_prev, zscore,
           COALESCE(ABS(zscore) > 2.0, FALSE) AS is_anomaly
    FROM scored
    """,
)
def w14_daily_anomalies(spark, sf_dir):
    """Rolling z-score anomaly detection on daily event counts per type:
    each (type, day) scored against the trailing 7 OBSERVED days (current
    day excluded), |z| > 2 flags; cold-start (<3 days) and zero-variance
    series never flag. The event log reduces to per-(key, day) counts
    FIRST — the rolling window then runs over that tiny table, so the
    detector's cost is days x keys, not events."""
    from ..operators.mining import rolling_zscore_anomalies

    e = read_table(spark, sf_dir, "events")
    return rolling_zscore_anomalies(e, "event_type", "ts", window_days=7, threshold=2.0)


# ---------------------------------------------------------------------------
# TPC-H Q6 shape (window filler: the classic all-pushdown scan-agg)
# ---------------------------------------------------------------------------


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: forecast-revenue-change — the canonical scan-dominated
    query. EVERY predicate (shipdate range, discount band, quantity cap)
    reaches the parquet scan as a pushed filter over a 3-column ReadSchema;
    the sum is one partial-agg pair with no shuffle beyond the 1-row merge.
    Revenue rides the q1 scaled-long discipline (cents x basis points =
    exact int64 products, summed wide and rescaled once) so both engines
    hold the identical rational."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    pc = scaled_units("l_extendedprice", 100)
    dsc = scaled_units("l_discount", 10000)
    return li.agg(
        (
            F.sum(pc * dsc).cast("decimal(38,0)")
            / F.lit(1000000).cast("decimal(7,0)")
        )
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (operators/filtering.py, r9 build — SQL twin verified
# in tests/test_filtering.py)
# ---------------------------------------------------------------------------


@query(
    "a23_k_anonymity",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
      FROM customer GROUP BY 1, 2)
    SELECT class_size, COUNT(*) AS n_classes,
           CAST(class_size * COUNT(*) AS BIGINT) AS n_rows,
           class_size < 5 AS at_risk
    FROM classes GROUP BY class_size ORDER BY class_size
    """,
)
def a23_k_anonymity(spark, sf_dir):
    """Privacy re-identification audit (engine addition §2.12): the
    k-anonymity class-size HISTOGRAM over customer quasi-identifiers
    (nation, market segment) — per equivalence-class size, how many
    classes/rows sit there and whether the size violates k=5. Two
    map-side-combinable groupBys (the d_cdc_chunks two-phase discipline),
    no windows/joins/collects; the report is tiny, shard-aggregable, and
    never itself leaks a quasi-identifier combination."""
    from ..operators.filtering import k_anonymity_report

    c = read_table(spark, sf_dir, "customer")
    return k_anonymity_report(c, ["c_nationkey", "c_mktsegment"], k=5)


# ---------------------------------------------------------------------------
# a24_l_diversity (operators/privacy.py — the homogeneity-attack audit
# k-anonymity misses)
# ---------------------------------------------------------------------------

#: canonical SQL twin (verified in tests/test_privacy_splits.py since r10)
L_DIVERSITY_SQL = """
    WITH tagged AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket
      FROM customer),
    per_value AS (
      SELECT c_nationkey, c_mktsegment, bal_bucket, COUNT(*) AS cnt
      FROM tagged GROUP BY 1, 2, 3),
    per_class AS (
      SELECT c_nationkey, c_mktsegment,
             COUNT(*) AS l_distinct, SUM(cnt) AS class_rows
      FROM per_value GROUP BY 1, 2)
    SELECT l_distinct, COUNT(*) AS n_classes,
           CAST(SUM(class_rows) AS BIGINT) AS n_rows,
           l_distinct < 3 AS at_risk
    FROM per_class GROUP BY l_distinct ORDER BY l_distinct
"""


@query("a24_l_diversity", oracle=L_DIVERSITY_SQL)
def a24_l_diversity(spark, sf_dir):
    """Distinct-l-diversity audit (Machanavajjhala et al. 2007; engine
    addition §2.12): over customer quasi-identifier classes (nation,
    market segment) with the account-balance thousand-bucket as the
    sensitive attribute, the histogram of per-class DISTINCT sensitive
    values — the homogeneity leak a passing k-anonymity report misses.
    Three map-side-combinable rollups (corpus → value-counts → class-l →
    histogram), no windows/joins/Expand; the report is tiny and never
    itself leaks a quasi-identifier combination."""
    from ..operators.privacy import l_diversity_report

    c = read_table(spark, sf_dir, "customer").withColumn(
        "bal_bucket", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    return l_diversity_report(c, ["c_nationkey", "c_mktsegment"], "bal_bucket", l=3)


# ---------------------------------------------------------------------------
# a25_t_closeness (operators/privacy.py)
# ---------------------------------------------------------------------------

#: canonical SQL twin (verified in tests/test_tcloseness.py since r12) —
#: same quasi-identifiers and sensitive bucket as the certified
#: a24_l_diversity, so the three privacy audits (k-anon, l-div,
#: t-closeness) read one release surface. HUGEINT cross-products mirror
#: the operator's decimal(38,0); `//` and Spark's `div` agree on
#: positive operands, so the ppm floor is bit-identical across engines.
T_CLOSENESS_SQL = """
    WITH rows_ AS (
      SELECT c_nationkey AS q1, c_mktsegment AS q2,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS v
      FROM customer WHERE c_acctbal IS NOT NULL),
    pv AS (SELECT q1, q2, v, COUNT(*) AS c FROM rows_ GROUP BY 1, 2, 3),
    per_class AS (SELECT q1, q2, SUM(c) AS cc FROM pv GROUP BY 1, 2),
    gcnt AS (SELECT v, SUM(c) AS g FROM pv GROUP BY 1),
    gdist AS (SELECT v, SUM(g) OVER (ORDER BY v) AS cumg FROM gcnt),
    gtot AS (SELECT SUM(g) AS gg, COUNT(*) AS m FROM gcnt),
    grid AS (
      SELECT pc.q1, pc.q2, pc.cc, g.v, g.cumg, t.gg, t.m,
             COALESCE(p.c, 0) AS c0
      FROM per_class pc CROSS JOIN gdist g CROSS JOIN gtot t
      LEFT JOIN pv p ON p.q1 IS NOT DISTINCT FROM pc.q1
                    AND p.q2 IS NOT DISTINCT FROM pc.q2 AND p.v = g.v),
    cum AS (SELECT *, SUM(c0) OVER (PARTITION BY q1, q2 ORDER BY v) AS cumc
            FROM grid),
    emd AS (
      SELECT q1, q2, MAX(cc) AS cc, MAX(gg) AS gg, MAX(m) AS m,
             SUM(ABS(CAST(cumc AS HUGEINT) * gg
                     - CAST(cumg AS HUGEINT) * cc)) AS num
      FROM cum GROUP BY 1, 2),
    ppm AS (SELECT cc, CASE WHEN m <= 1 THEN 0
              ELSE CAST((num * 1000000)
                        // (CAST(m - 1 AS HUGEINT) * cc * gg) AS BIGINT)
            END AS emd_ppm
            FROM emd)
    SELECT emd_ppm // 100000 AS emd_decile, emd_ppm > 150000 AS at_risk,
           COUNT(*) AS n_classes, CAST(SUM(cc) AS BIGINT) AS n_rows
    FROM ppm GROUP BY 1, 2 ORDER BY 1, 2
"""


# Not headlined: DuckDB runs the oracle in 28 ms at sf0.1 (a class-sized collapse over one scan), so a bench
# row would measure Spark job floors against a near-zero denominator.
# Its plan shape is guarded in tests.
@query("a25_t_closeness", oracle=T_CLOSENESS_SQL)
def a25_t_closeness(spark, sf_dir):
    """t-closeness audit certified end to end (engine addition §2.12;
    completes the k-anonymity → l-diversity → t-closeness privacy trio —
    Li, Li & Venkatasubramanian 2007): per-class EMD against the global
    sensitive distribution in integer ppm arithmetic (decimal(38,0)
    cross-products floored ONCE onto the ppm grid, DuckDB-bit-identical),
    histogrammed per (EMD decile, at_risk). One corpus-sized collapse on
    (quasi…, sensitive); everything downstream is class-sized with the
    global pieces broadcast."""
    from ..operators.privacy import t_closeness_report

    c = read_table(spark, sf_dir, "customer").withColumn(
        "bal_bucket", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    return t_closeness_report(
        c, ["c_nationkey", "c_mktsegment"], "bal_bucket", t_ppm=150_000
    )
