"""Operator-coverage queries over the TPC-H-ish tables, one per SURVEY §2
inventory row not already exercised by the analytics pack.

Scale notes per query are inline; the common themes: filters/projections
push into the Parquet scan (PushedFilters/ReadSchema), dims broadcast,
windows partition by high-cardinality keys, ANY-join dedups reuse the
join's own shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.joins import any_join
from ..operators.predicates import in_list, make_range_filter
from .registry import register, table

DEC = "decimal(38,6)"


def _dsum(col):
    return F.sum(col.cast(DEC)).cast("double")


@register(
    "scan_projection",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_quantity - 1 AS qty_minus_one
    FROM lineitem
    WHERE l_returnflag = 'R'
      AND ((l_quantity >= 5 AND l_quantity < 20) OR (l_quantity >= 45))
    """,
    note="S1 projection + P1 'expr AS alias' derived columns "
    "(reference clients/custom_clickhouse.py:31-41) + P2 "
    "make_range_query OR-chain of half-open ranges (reference "
    "utils.py:32-66, formerly the standalone `range_predicate` query — "
    "folded here to free an oracle-window slot for "
    "`substring_dedup_stats`); predicate+columns push to the Parquet "
    "scan",
)
def scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .filter(make_range_filter("l_quantity", (5, 20), (45, None)))
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias(
                "revenue"
            ),
            (F.col("l_quantity") - F.lit(1)).alias("qty_minus_one"),
        )
    )


# (the former standalone `in_list_filter` query was folded into
# `union_all_universe` below — its orders leg now carries the P3
# whitelist IN predicate — freeing a slot in the driver's 50-query
# correctness window; operators.predicates.in_list remains unit-tested)


@register(
    "unprocessed_anti_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
    note="P5/J1/J4 anti-membership: rows without a matching watermark/flag "
    "(reference utils.py:99-104, operations/internal_transactions.py:410-419)",
)
def unprocessed_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    done = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select(F.col("o_custkey").alias("c_custkey"))
    return cust.join(done, "c_custkey", "left_anti").select("c_custkey", "c_name")


# P6/F5 (LIKE '%sig%' AND-chain flags, reference
# operations/contract_transactions.py:27-69) had a standalone synthetic
# micro-query (`like_standard_detector`) through round 5; the SAME
# expressions are hash-checked with the real keccak selector sets by
# derived_contracts (plans/derived_queries.py), so its oracle-window slot
# moved to the promoted pipeline queries (see plans/chainops.py note).


@register(
    "any_left_join_first_lineitem",
    """
    SELECT o.o_orderkey, o.o_totalprice, f.l_linenumber AS first_line,
           f.l_extendedprice AS first_price
    FROM orders o
    LEFT JOIN (
      SELECT * FROM (
        SELECT l_orderkey, l_linenumber, l_extendedprice,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_linenumber, l_extendedprice) AS rn
        FROM lineitem
      ) WHERE rn = 1
    ) f ON o.o_orderkey = f.l_orderkey
    """,
    note="ANY LEFT JOIN: at most one right match per left row, "
    "deterministic first-pick (SURVEY §2.3 preamble, §4.2.1)",
)
def any_left_join_first_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        "l_extendedprice",
    )
    # the synthetic lineitem carries duplicate (orderkey, linenumber) rows
    # (ReplacingMergeTree-style replays), so the ANY-join pick needs a full
    # deterministic ordering, not just linenumber
    out = any_join(
        orders, li, keys="o_orderkey", order_by=["l_linenumber", "l_extendedprice"], how="left"
    )
    return out.select(
        "o_orderkey",
        "o_totalprice",
        F.col("l_linenumber").alias("first_line"),
        F.col("l_extendedprice").alias("first_price"),
    )


@register(
    "multikey_join_outcome_income",
    """
    SELECT o.l_partkey, o.l_suppkey, o.qty_out, i.qty_in
    FROM (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty_out
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_partkey, l_suppkey
    ) o
    JOIN (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty_in
      FROM lineitem WHERE l_returnflag = 'N' GROUP BY l_partkey, l_suppkey
    ) i ON o.l_partkey = i.l_partkey AND o.l_suppkey = i.l_suppkey
    """,
    note="J9 two-key equi join of aggregates (reference token_balances.sql "
    "USING token, address); both sides share the (partkey,suppkey) shuffle",
)
def multikey_join_outcome_income(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    out = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_partkey", "l_suppkey")
        .agg(_dsum(F.col("l_quantity")).alias("qty_out"))
    )
    inc = (
        li.filter(F.col("l_returnflag") == "N")
        .groupBy("l_partkey", "l_suppkey")
        .agg(_dsum(F.col("l_quantity")).alias("qty_in"))
    )
    return out.join(inc, ["l_partkey", "l_suppkey"], "inner")


@register(
    "broadcast_dim_join",
    """
    SELECT n.n_name, count(*) AS customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
    GROUP BY n.n_name
    """,
    note="J5/J10 broadcast joins to small dims (the reference's hashed "
    "block_timestamp dictionary, SURVEY §4.1); no shuffle of the fact side",
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    dims = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_nationkey", "n_name")
    return (
        cust.join(F.broadcast(dims), cust.c_nationkey == dims.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            _dsum(F.col("c_acctbal")).alias("total_acctbal"),
        )
    )


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    note="A1/A2/A5 hash aggregation with expression-sums (TPC-H Q1 shape; "
    "partial+final agg via Catalyst, map-side combine)",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            (_dsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "moving_average_warmup",
    """
    SELECT event_type, day, daily,
           CASE WHEN rn >= 5 THEN ma5 ELSE daily END AS moving_average
    FROM (
      SELECT event_type, day, daily,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             CAST(SUM(CAST(daily AS DECIMAL(38,6))) OVER (
                  PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
               / count(*) OVER (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ma5
      FROM (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS daily
        FROM events GROUP BY event_type, date_trunc('day', ts)
      )
    )
    """,
    note="W1 5-point trailing moving average with warm-up semantics (emit "
    "raw value until the window fills) — reference operations/token_prices.py:79-102",
)
def moving_average_warmup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(_dsum(F.col("value")).alias("daily"))
    w = Window.partitionBy("event_type").orderBy("day")
    wf = w.rowsBetween(-4, 0)
    # decimal window sum / count: order- and algorithm-independent doubles
    # (a plain double window avg differs across engines in the last ulp —
    # DuckDB uses segment trees, Spark accumulates in frame order)
    ma = F.sum(F.col("daily").cast(DEC)).over(wf).cast("double") / F.count(
        F.lit(1)
    ).over(wf)
    rn = F.row_number().over(w)
    return daily.select(
        "event_type",
        "day",
        "daily",
        F.when(rn >= 5, ma).otherwise(F.col("daily")).alias("moving_average"),
    )


@register(
    "dedup_latest_event",
    """
    SELECT user_id, event_id AS last_event, value AS last_value
    FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    note="W2 FINAL/ReplacingMergeTree dedup-latest as a window "
    "(SURVEY §1.3; engine-level in catalog.final_dedup)",
)
def dedup_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event"),
            F.col("value").alias("last_value"),
        )
    )


@register(
    "union_all_universe",
    """
    SELECT CAST(count(*) AS BIGINT) AS total_rows,
           CAST(count(DISTINCT address) AS BIGINT) AS distinct_addresses
    FROM (
      SELECT o_custkey AS address FROM orders
      WHERE o_orderstatus IN ('F', 'O')
      UNION ALL
      SELECT c_custkey AS address FROM customer
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      UNION ALL
      SELECT user_id AS address FROM events
    )
    """,
    note="U1/A8 UNION ALL of three key columns + distinct "
    "(reference balances.sql:8-17 address universe); the orders/customer "
    "legs carry P3 whitelist IN filters (reference utils.py:105-107), "
    "pushed into the Parquet scans",
)
def union_all_universe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        table(spark, sf_dir, "orders")
        .filter(in_list("o_orderstatus", ["F", "O"]))
        .select(F.col("o_custkey").alias("address"))
    )
    cust = (
        table(spark, sf_dir, "customer")
        .filter(in_list("c_mktsegment", ["BUILDING", "MACHINERY"]))
        .select(F.col("c_custkey").alias("address"))
    )
    ev = table(spark, sf_dir, "events").select(F.col("user_id").alias("address"))
    u = orders.unionAll(cust).unionAll(ev)
    return u.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.countDistinct("address").alias("distinct_addresses"),
    )


# fold #5 (r14): `block_bucketing` — A10/T4 distinct(floor(number/range))
# micro-batch bucketing (reference operations/events.py:12-35) — is
# retired from the registry. Its operator shape stays oracle-checked:
# `compat_notebook_gas` carries the SAME integer-divide bucketing
# (toInt64(blockNumber/1000)*1000 in the `g` CTE, hash-checked against
# DuckDB every round), and the range micro-batch operator itself
# (`streaming/incremental.py` block_ranges_frame) keeps its dedicated pytest
# coverage. The freed oracle slot promotes `simhash_near_duplicates_md5`
# (plans/pipeline.py) — the SimHash family's first hash-checked face.
