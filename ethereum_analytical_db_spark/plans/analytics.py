"""The reference's analytics read path, re-expressed over the driver's
synthetic tables (events as the transaction fact, users as addresses).

Shapes reproduced:
- balances.sql 4-level join/agg pyramid (SURVEY J7/J8/U1/A1/A2/A8, F15,
  J15 coalesce-arithmetic) — the flagship;
- token_balances.sql multi-key join of two aggregates (J9, A1);
- Grafana dashboard set: top-k by aggregate (O1, A3-A6), time-series
  buckets (A9), count-distinct (A4);
- gas-price notebook stats: quantiles per bucket (A7, A10, J10).

Scale notes: every aggregate is a partial+final hash agg (map-side
combine free from Catalyst); the pyramid joins 5 aggregates of the SAME
fact table — all five shuffle on the same key (user_id), so the exchange
is reused; the universe side is distinct-on-key, co-partitioned. Top-k is
orderBy+limit → Spark's TakeOrderedAndProject (no full sort).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import frozen
from .registry import register, table

DEC = "decimal(38,6)"


def _dsum(col):
    """Order-independent double sum: exact decimal accumulate, double out."""
    return F.sum(col.cast(DEC)).cast("double")


# ---------------------------------------------------------------- flagship

BALANCES_ORACLE = """
WITH universe AS (
  SELECT DISTINCT address FROM (
    SELECT user_id AS address FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT user_id AS address FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT user_id AS address FROM events WHERE event_type = 'signup'
  ) u
),
income AS (
  SELECT user_id AS address, CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS income
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
outcome AS (
  SELECT user_id AS address, CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS outcome
  FROM events WHERE event_type = 'click' GROUP BY user_id
),
reward AS (
  SELECT user_id AS address, CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS reward
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
fee AS (
  SELECT user_id AS address,
         CAST(SUM(CAST(value * 0.01 AS DECIMAL(38,6))) AS DOUBLE) AS fee
  FROM events WHERE event_type = 'error' GROUP BY user_id
),
fee_reward AS (
  SELECT user_id AS address,
         CAST(SUM(CAST(value * 0.01 AS DECIMAL(38,6))) AS DOUBLE) AS fee_reward
  FROM events WHERE event_type = 'view' GROUP BY user_id
)
SELECT u.address,
       COALESCE(income, 0) - COALESCE(outcome, 0) + COALESCE(reward, 0)
         - COALESCE(fee, 0) + COALESCE(fee_reward, 0) AS balance,
       GREATEST(COALESCE(income, 0) - COALESCE(outcome, 0) + COALESCE(reward, 0)
         - COALESCE(fee, 0) + COALESCE(fee_reward, 0), 0) AS balance_floored
FROM universe u
LEFT JOIN income USING (address)
LEFT JOIN outcome USING (address)
LEFT JOIN reward USING (address)
LEFT JOIN fee USING (address)
LEFT JOIN fee_reward USING (address)
"""


@register(
    "balances_pyramid",
    BALANCES_ORACLE,
    note="J8 address-universe left-join pyramid, U1 UNION ALL, A8 distinct-over-union, "
    "A1/A2 sums, F15 coalesce, J15 full-outer dict-merge arithmetic "
    "(reference examples/sql_balances/balances.sql:1-63, balances_api/actions/balances.py:68-83)",
)
def balances_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    def universe(ev: DataFrame) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == "purchase").select(F.col("user_id").alias("address"))
            .unionAll(ev.filter(F.col("event_type") == "click").select(F.col("user_id").alias("address")))
            .unionAll(ev.filter(F.col("event_type") == "signup").select(F.col("user_id").alias("address")))
            .distinct()
        )

    return _pyramid(table(spark, sf_dir, "events"), universe)


def _pyramid(ev: DataFrame, universe, hint: str | None = None) -> DataFrame:
    """The balances pyramid over the fact frame ``ev``: five
    per-address aggregates left-joined onto ``universe(ev)``, every
    aggregate side carrying the join ``hint`` when one is given. The
    universe is built after the aggregates: expression ids follow build
    order, and the formatted plans of ``balances_pyramid`` carry this one."""

    def agg_of(event_type: str, alias: str, fee_scaled: bool = False) -> DataFrame:
        src = ev.filter(F.col("event_type") == event_type)
        val = (F.col("value") * F.lit(0.01)) if fee_scaled else F.col("value")
        agg = src.groupBy(F.col("user_id").alias("address")).agg(
            _dsum(val).alias(alias)
        )
        return agg.hint(hint) if hint else agg

    aggs = [
        agg_of("purchase", "income"),
        agg_of("click", "outcome"),
        agg_of("signup", "reward"),
        agg_of("error", "fee", fee_scaled=True),
        agg_of("view", "fee_reward", fee_scaled=True),
    ]
    out = universe(ev)
    for agg in aggs:
        out = out.join(agg, "address", "left")
    balance = (
        F.coalesce(F.col("income"), F.lit(0.0))
        - F.coalesce(F.col("outcome"), F.lit(0.0))
        + F.coalesce(F.col("reward"), F.lit(0.0))
        - F.coalesce(F.col("fee"), F.lit(0.0))
        + F.coalesce(F.col("fee_reward"), F.lit(0.0))
    )
    return out.select(
        "address",
        balance.alias("balance"),
        F.greatest(balance, F.lit(0.0)).alias("balance_floored"),
    )


# frozen co-located layout for the bucketed serve-path query below: the
# catalog table name, built once per session (plans/frozen.memo). The
# bucketing shuffle is paid ONCE (the "pay the shuffle at
# materialization" premise of Warehouse.materialize_bucketed); every
# subsequent build is a pure exchange-free read — the same
# build-vs-serve split as the IVF frozen index (`ann_cosine_ivf` vs
# `ann_cosine_ivf_probe`).
def _bucketed_events_table(spark: SparkSession, sf_dir: str) -> str:
    from ..catalog import Warehouse

    def build(root: str) -> str:
        name = f"events_by_user_{os.path.basename(root)}"
        # through the PRODUCTION path: same writer + catalog
        # registration a warehouse compaction (layout="bucketed") uses;
        # `source=` feeds the bench corpus in without a warehouse copy
        Warehouse(spark, root).materialize_bucketed(
            "events",
            buckets=32,
            by=["user_id"],
            name=name,
            source=table(spark, sf_dir, "events"),
        )
        return name

    return frozen.memo("bucketed", sf_dir, build)


@register(
    "balances_pyramid_bucketed",
    None,  # same result as the hash-checked `balances_pyramid` — exact
    # parity pinned by tests/test_analytics_bucketed.py, which also
    # asserts the ZERO-Exchange physical plan; a second oracle entry
    # would push an existing query out of the driver's 50-slot
    # hash-check window for no new information
    note="J8 pyramid on the CO-LOCATED layout: the same 5-aggregate "
    "fact-to-fact join as balances_pyramid, read from a hash-bucketed "
    "(user_id, 32 buckets) materialization refreshed via "
    "Warehouse.materialize_bucketed / compact(layout='bucketed') — "
    "every groupBy, the universe distinct, and all 5 joins run with "
    "ZERO Exchange (plan-asserted); this row prices the repeated-read "
    "path after the bucketing shuffle was paid once at materialization",
    prewarm=_bucketed_events_table,  # the bucketed materialization is
    # the fixture; the timed band prices the repeated-read serve path
)
def balances_pyramid_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    def universe(ev: DataFrame) -> DataFrame:
        # single-scan isin form of the UNION-ALL universe (identical set:
        # distinct-of-union == distinct-of-isin-filter) — Union discards
        # the bucketed output partitioning, the filter form keeps it,
        # which is precisely the re-plan the co-located layout exists to
        # enable
        return (
            ev.filter(F.col("event_type").isin("purchase", "click", "signup"))
            .select(F.col("user_id").alias("address"))
            .distinct()
        )

    # merge-hinted: the fixture sizes would take broadcast, but the
    # layout exists for the both-sides-big case — force the sort-merge
    # path the 100 TB join takes (bucket-co-located: sorts, no shuffle)
    return _pyramid(
        spark.table(_bucketed_events_table(spark, sf_dir)), universe, hint="merge"
    )


@register(
    "token_balances",
    """
    SELECT o.event_type, o.address, income - outcome AS balance
    FROM (
      SELECT event_type, user_id AS address,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS outcome
      FROM events GROUP BY event_type, user_id
    ) o
    JOIN (
      SELECT event_type, user_id AS address,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS income
      FROM events WHERE value > 5 GROUP BY event_type, user_id
    ) i ON o.event_type = i.event_type AND o.address = i.address
    WHERE income - outcome < 0
    """,
    note="J9 multi-key equi join of two aggregates + post-agg filter "
    "(reference examples/sql_balances/token_balances.sql:1-14)",
)
def token_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    outcome = ev.groupBy(
        "event_type", F.col("user_id").alias("address")
    ).agg(_dsum(F.col("value")).alias("outcome"))
    income = (
        ev.filter(F.col("value") > 5)
        .groupBy("event_type", F.col("user_id").alias("address"))
        .agg(_dsum(F.col("value")).alias("income"))
    )
    joined = outcome.join(income, ["event_type", "address"], "inner")
    return joined.select(
        "event_type",
        "address",
        (F.col("income") - F.col("outcome")).alias("balance"),
    ).filter(F.col("balance") < 0)


# ---------------------------------------------------------------- dashboards


# (the former `top10_senders` query was folded into `top10_with_names`,
# which exercises the same O1 top-k-by-aggregate shape plus the J11 name
# join — one registry slot instead of two under the driver's 50-query
# correctness window)


# (the former `daily_event_counts` query — A9 time-series bucket count,
# grafana $timeSeries idiom — was folded into `wallet_to_wallet_daily`
# in r13 (fold #4): same events scan, same daily grain, its count now
# rides there as the `all_events` column. The freed hash-check slot went
# to `minhash_lsh_candidates_md5`, the first hash-checked face of the
# approximate-dedup tier.)


@register(
    "unique_token_holders",
    """
    SELECT event_type, count(DISTINCT user_id) AS holders
    FROM events GROUP BY event_type
    """,
    note="A4 exact count-distinct per group (grafana erc20_tokens.json)",
)
def unique_token_holders(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("holders")
    )


@register(
    "avg_gas_by_type",
    """
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(value) AS avg_value,
           count(*) AS cnt
    FROM events GROUP BY event_type
    """,
    note="A6 avg(expr) per group, expressed as exact-sum/count for "
    "order-independent doubles (grafana gas_spended query)",
)
def avg_gas_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        (_dsum(F.col("value")) / F.count("value")).alias("avg_value"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "gas_price_percentiles",
    """
    SELECT CAST(FLOOR(event_id / 1000) * 1000 AS BIGINT) AS bucket,
           CAST(quantile_cont(value, 0.5) AS REAL) AS p50,
           CAST(quantile_cont(value, 0.2) AS REAL) AS p20
    FROM events
    GROUP BY 1 ORDER BY bucket
    """,
    note="A7 quantile(0.5)/(0.2) per block bucket + A10 division bucketing "
    "(gas_price_estimation notebook cell 6); exact interpolated percentile "
    "both sides (R-7), float32-cast because the two engines' linear "
    "interpolation can differ in the last double ulp (~1e-15 — observed "
    "at sf0.1)",
)
def gas_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bucket = (F.floor(F.col("event_id") / 1000) * 1000).cast("long").alias("bucket")
    return (
        ev.groupBy(bucket)
        .agg(
            F.percentile(F.col("value"), F.lit(0.5)).cast("float").alias("p50"),
            F.percentile(F.col("value"), F.lit(0.2)).cast("float").alias("p20"),
        )
        .orderBy("bucket")
    )


@register(
    "top10_with_names",
    """
    SELECT t.user_id, t.volume, c.c_name AS holder_name
    FROM (
      SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS volume
      FROM events GROUP BY user_id
      ORDER BY volume DESC, user_id ASC LIMIT 10
    ) t
    JOIN customer c ON t.user_id = c.c_custkey
    """,
    note="J11 top-k then join names (grafana erc20_tokens.json query 4)",
)
def top10_with_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cust = table(spark, sf_dir, "customer")
    top = (
        ev.groupBy("user_id")
        .agg(_dsum(F.col("value")).alias("volume"))
        .orderBy(F.col("volume").desc(), F.col("user_id").asc())
        .limit(10)
    )
    return top.join(
        F.broadcast(cust.select(F.col("c_custkey"), F.col("c_name").alias("holder_name"))),
        top.user_id == F.col("c_custkey"),
        "inner",
    ).select("user_id", "volume", "holder_name")


@register(
    "wallet_to_wallet_daily",
    """
    WITH filt AS (
      SELECT date_trunc('day', e.ts) AS day,
             count(*) AS txs,
             CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS volume
      FROM events e
      WHERE e.user_id IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        AND e.user_id NOT IN (SELECT s_suppkey FROM supplier)
        AND e.event_type = 'purchase'
      GROUP BY 1
    ), alld AS (
      SELECT date_trunc('day', ts) AS day, count(*) AS all_events
      FROM events GROUP BY 1
    )
    SELECT a.day, a.all_events, f.txs, f.volume
    FROM alld a LEFT JOIN filt f USING (day)
    ORDER BY a.day
    """,
    note="J12 semi-join + J13 anti-join time filter (notebook cell 6: "
    "to IN contracts / to NOT IN contracts) + A9 time-series bucket "
    "count (grafana $timeSeries idiom; `all_events` — folded here from "
    "the retired `daily_event_counts` in r13, same scan, same grain; "
    "days with no qualifying purchases carry NULL txs/volume)",
)
def wallet_to_wallet_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select(F.col("c_custkey").alias("user_id"))
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("user_id")
    )
    filtered = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(cust), "user_id", "left_semi")
        .join(F.broadcast(supp), "user_id", "left_anti")
    )
    filtered_daily = filtered.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.count(F.lit(1)).alias("txs"),
        _dsum(F.col("value")).alias("volume"),
    )
    all_daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("all_events"))
    return (
        all_daily.join(filtered_daily, "day", "left")
        .select("day", "all_events", "txs", "volume")
        .orderBy("day")
    )


@register(
    "fee_vs_miner_join",
    """
    SELECT f.user_id,
           f.fee, m.reward_cnt
    FROM (
      SELECT user_id, CAST(SUM(CAST(value * 0.01 AS DECIMAL(38,6))) AS DOUBLE) AS fee
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ) f
    JOIN (
      SELECT user_id, count(*) AS reward_cnt
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ) m ON f.user_id = m.user_id
    """,
    note="J7 inner join of two aggregates on the same fact "
    "(reference balances.sql:20-33 fee ⟖ miner)",
)
def fee_vs_miner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    fee = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(_dsum(F.col("value") * F.lit(0.01)).alias("fee"))
    )
    miner = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("reward_cnt"))
    )
    return fee.join(miner, "user_id", "inner").select("user_id", "fee", "reward_cnt")
