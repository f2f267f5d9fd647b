"""Oracle-checked queries that exercise the ClickHouse-dialect
translation layer (eads.compat) end-to-end: the Spark side runs
*ClickHouse SQL text* — the same dialect the reference's analytics
surface is written in (examples/sql_balances/token_balances.sql:1-14,
grafana/dashboards/ethereum.json top-k queries) — through
``translate()``; the DuckDB oracle runs the equivalent ANSI SQL.

Dialect constructs covered under value-hash checking: ANY INNER JOIN
with bare USING lists, reserved ``from``/``to`` column names, ``count()``,
``toFloat64``, select-alias reference in WHERE, FINAL stripping, Grafana
``$macros``, IN-subqueries.

Determinism: view-level ``CAST(value AS DECIMAL(38,6))`` makes sums
order-independent; top-k orderings carry a unique tie-break key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import ClickHouseCompat
from ..session import app_memo
from .registry import register, table

def _register_eth_views(spark: SparkSession, sf_dir: str) -> ClickHouseCompat:
    """Shape the driver's events table into eth_* views (pseudo-addresses
    from ids, token = event_type) for the dialect queries."""
    # The eight view registrations are ~8 selectExpr constructions +
    # temp-view swaps of pure driver work per build; the views are a
    # deterministic function of (session, sf_dir), so re-running them for
    # every build of every compat query only re-creates identical objects
    # (r16 build-latency cut). Temp views live in the SESSION catalog, so
    # the session object is part of the key: a sibling spark.newSession()
    # — same SparkContext — registers its own. The views are re-registered
    # whenever they were built from another events DataFrame than the
    # session's one for sf_dir (registry.table), so switching back and
    # forth between data directories stays correct.
    c = app_memo(("compat", spark), lambda: ClickHouseCompat(spark))
    ev = table(spark, sf_dir, "events")
    if getattr(c, "views_from", None) is ev:
        return c
    c.register_table(
        "eth_token_transaction",
        ev.selectExpr(
            "event_type AS token",
            "CAST(user_id AS STRING) AS `to`",
            "CAST(event_id % 50 AS STRING) AS `from`",
            "CAST(value AS DECIMAL(38,6)) AS value",
        ),
    )
    c.register_table(
        "eth_internal_transaction",
        ev.selectExpr(
            "CAST(event_id % 50 AS STRING) AS `from`",
            "CAST(user_id AS STRING) AS `to`",
            "CAST(event_id AS BIGINT) AS blockNumber",
            "value AS gasPrice",
            "value",
            "CASE WHEN event_id % 7 = 0 THEN 'create' ELSE 'call' END AS type",
            "concat(CAST(event_id AS STRING), '.', CAST(event_id % 3 AS STRING)) AS id",
        ),
    )
    c.register_table(
        "eth_contract",
        # a strict SUBSET of addresses (user_id % 3 = 0): the notebook's
        # wallet-to-wallet filter `to NOT IN contracts` must keep rows
        ev.filter("event_type = 'purchase' AND user_id % 3 = 0")
        .selectExpr(
            "CAST(user_id AS STRING) AS address",
            "CAST(user_id % 97 AS BIGINT) AS blockNumber",
            "CAST(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS TINYINT) AS standard_erc20",
        )
        .distinct(),
    )
    c.register_table(
        "eth_contract_description",
        # a strict subset of eth_contract addresses (% 6 ⊂ % 3): the
        # insights descriptions panel counts described contracts only
        ev.filter("event_type = 'purchase' AND user_id % 6 = 0")
        .selectExpr(
            "CAST(user_id AS STRING) AS id",
            "CAST(user_id % 19 AS TINYINT) AS decimals",
        )
        .distinct(),
    )
    c.register_table(
        "eth_event",
        # several events per block (mod fold), Int32 blockNumber like the
        # reference eth_event schema — the panel toInt32()s eth_block.number
        ev.selectExpr(
            "CAST(event_id % 300 AS INT) AS blockNumber",
            "event_type AS address",
        ),
    )
    c.register_table(
        "eth_internal_transaction_blocks",
        ev.selectExpr("CAST(event_id AS BIGINT) AS number").distinct(),
    )
    c.register_table(
        "eth_block",
        ev.selectExpr("CAST(event_id AS BIGINT) AS number", "ts AS timestamp"),
    )
    c.register_table("eth_events", ev.select("event_id", "ts", "event_type"))
    c.views_from = ev
    return c


TOKEN_BALANCES_CH = """
SELECT token, address, toFloat64(income) - toFloat64(outcome) AS balance FROM (
    SELECT token, from AS address, sum(value) AS outcome
    FROM eth_token_transaction FINAL
    GROUP BY token, from
)
ANY INNER JOIN (
    SELECT token, to AS address, sum(value) AS income
    FROM eth_token_transaction FINAL
    GROUP BY token, to
)
USING token, address
WHERE balance > 0.01 OR balance < -0.01
"""

TOKEN_BALANCES_ORACLE = """
WITH t AS (
  SELECT event_type AS token,
         CAST(user_id AS VARCHAR) AS to_addr,
         CAST(event_id % 50 AS VARCHAR) AS from_addr,
         CAST(value AS DECIMAL(38,6)) AS value
  FROM events
),
o AS (SELECT token, from_addr AS address, SUM(value) AS outcome FROM t GROUP BY 1, 2),
i AS (SELECT token, to_addr AS address, SUM(value) AS income FROM t GROUP BY 1, 2)
SELECT o.token, o.address,
       CAST(i.income AS DOUBLE) - CAST(o.outcome AS DOUBLE) AS balance
FROM o JOIN i ON o.token = i.token AND o.address = i.address
WHERE CAST(i.income AS DOUBLE) - CAST(o.outcome AS DOUBLE) > 0.01
   OR CAST(i.income AS DOUBLE) - CAST(o.outcome AS DOUBLE) < -0.01
"""


@register(
    "compat_token_balances",
    TOKEN_BALANCES_ORACLE,
    note="ClickHouse-dialect text via eads.compat.translate: ANY INNER JOIN "
    "bare USING, reserved from/to, alias-in-WHERE, FINAL, toFloat64 "
    "(reference examples/sql_balances/token_balances.sql:1-14, SURVEY §4.2.3)",
)
def compat_token_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _register_eth_views(spark, sf_dir)
    return c.sql(TOKEN_BALANCES_CH)


PYRAMID_CH = """
SELECT address, toFloat64(balance_without_income + income) AS balance
FROM (
    SELECT address, outcome_side - outcome AS balance_without_income
    FROM (
        SELECT address, fee_reward AS outcome_side, outcome
        FROM (
            SELECT address, fee_reward
            FROM (
                SELECT distinct(address)
                FROM (
                    SELECT to AS address FROM eth_token_transaction
                    UNION ALL
                    SELECT from AS address FROM eth_token_transaction
                )
            )
            ANY LEFT JOIN (
                SELECT token AS address, sum(value) AS fee_reward
                FROM eth_token_transaction
                GROUP BY token
            )
            USING address
        )
        ANY LEFT JOIN (
            SELECT from AS address, sum(value) AS outcome
            FROM eth_token_transaction
            GROUP BY from
        )
        USING address
    )
)
ANY LEFT JOIN (
    SELECT to AS address, sum(value) AS income
    FROM eth_token_transaction
    WHERE value > 0
    GROUP BY to
)
USING address
"""

PYRAMID_ORACLE = """
WITH t AS (
  SELECT event_type AS token,
         CAST(user_id AS VARCHAR) AS to_addr,
         CAST(event_id % 50 AS VARCHAR) AS from_addr,
         CAST(value AS DECIMAL(38,6)) AS value
  FROM events
),
universe AS (
  SELECT DISTINCT address FROM (
    SELECT to_addr AS address FROM t
    UNION ALL
    SELECT from_addr AS address FROM t
  ) u
),
fee_reward AS (
  SELECT token AS address, SUM(value) AS fee_reward FROM t GROUP BY token
),
outcome AS (
  SELECT from_addr AS address, SUM(value) AS outcome FROM t GROUP BY from_addr
),
income AS (
  SELECT to_addr AS address, SUM(value) AS income FROM t WHERE value > 0 GROUP BY to_addr
)
SELECT u.address,
       CAST((fr.fee_reward - o.outcome) + i.income AS DOUBLE) AS balance
FROM universe u
LEFT JOIN fee_reward fr USING (address)
LEFT JOIN outcome o USING (address)
LEFT JOIN income i USING (address)
"""


@register(
    "compat_balances_pyramid",
    PYRAMID_ORACLE,
    note="ClickHouse-dialect nested ANY LEFT JOIN pyramid via eads.compat "
    "(4 nesting levels, UNION ALL universe, distinct(), reserved from/to) "
    "— the reference's flagship balances.sql shape "
    "(examples/sql_balances/balances.sql:1-63, SURVEY §3.3/J8)",
)
def compat_balances_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _register_eth_views(spark, sf_dir)
    return c.sql(PYRAMID_CH)


TOPK_CALLS_CH = """
SELECT from AS address, toFloat64(count()) AS calls
FROM eth_internal_transaction
WHERE to IN(SELECT address FROM eth_contract)
AND blockNumber IN(
  SELECT number
  FROM eth_internal_transaction_blocks
  WHERE ($timeFilter)
)
GROUP BY from
ORDER BY calls DESC, address ASC
LIMIT 10
"""

TOPK_CALLS_ORACLE = """
WITH itx AS (
  SELECT CAST(event_id % 50 AS VARCHAR) AS from_addr,
         CAST(user_id AS VARCHAR) AS to_addr,
         CAST(event_id AS BIGINT) AS blockNumber
  FROM events
),
contracts AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS address
  FROM events WHERE event_type = 'purchase' AND user_id % 3 = 0
)
SELECT from_addr AS address, CAST(COUNT(*) AS DOUBLE) AS calls
FROM itx
WHERE to_addr IN (SELECT address FROM contracts)
  AND blockNumber < 6000
GROUP BY from_addr
ORDER BY calls DESC, address ASC
LIMIT 10
"""


@register(
    "compat_grafana_topk",
    TOPK_CALLS_ORACLE,
    note="ClickHouse-dialect Grafana-style top-k via eads.compat: count(), "
    "toFloat64, IN-subqueries, $timeFilter macro, reserved from/to "
    "(reference grafana/dashboards/ethereum.json calls_sended query)",
)
def compat_grafana_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _register_eth_views(spark, sf_dir)
    return c.sql(TOPK_CALLS_CH, macros={"timeFilter": "number < 6000"})


TIMESERIES_CH = """
SELECT $timeSeries AS t, count() AS n
FROM eth_events
WHERE $timeFilter
GROUP BY t
ORDER BY t
"""

TIMESERIES_ORACLE = """
SELECT CAST(FLOOR(epoch(ts) / 21600) * 21600 AS BIGINT) AS t,
       COUNT(*) AS n
FROM events
WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
GROUP BY 1
ORDER BY 1
"""


@register(
    "compat_grafana_timeseries",
    TIMESERIES_ORACLE,
    note="Grafana $timeSeries/$timeFilter macro expansion via eads.compat: "
    "intDiv(toUInt32(ts), N) * N six-hour buckets, count() "
    "(reference grafana/dashboards/ethereum.json time-series panels, A9)",
)
def compat_grafana_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _register_eth_views(spark, sf_dir)
    return c.sql(
        TIMESERIES_CH,
        macros={
            "timeSeries": "intDiv(toUInt32(ts), 21600) * 21600",
            "timeFilter": "ts >= toDateTime('2024-01-02 00:00:00')",
        },
    )


# The gas-price notebook's cell-6 SQL (reference examples/
# gas_price_estimation/gas_price_estimation.ipynb), replayed verbatim
# through the dialect layer with three documented adaptations:
# - block > 1000 instead of > 6500000 (the synthetic chain is shorter);
# - quantileExact instead of quantile: ClickHouse quantile() is a
#   sampling reservoir — non-deterministic by design, so NO oracle could
#   hash-match it; quantileExact → Spark percentile ↔ DuckDB
#   quantile_cont (both exact interpolated, R-7). Latent exposure:
#   the two engines' interpolation can differ in the last double ulp
#   on some distributions (observed for gas_price_percentiles at
#   sf0.1, fixed there by a float32 cast); this replay keeps the
#   notebook SQL verbatim, so the risk is accepted for fidelity;
# - explicit aliases on the quantile columns (the notebook reads
#   positional tuples; the correctness harness compares by column name).
NOTEBOOK_GAS_CH = """
SELECT *
FROM (
    SELECT toInt64(blockNumber / 1000) * 1000 AS block,
           quantileExact(0.5)(gasPrice) * 1e9 AS p50_gwei,
           quantileExact(0.2)(gasPrice) * 1e9 AS p20_gwei
    FROM eth_internal_transaction
    WHERE
        (block > 1000)
    AND
        to NOT IN (SELECT address FROM eth_contract)
    AND
        value > 0
    AND
        type = 'call'
    AND
        id LIKE '%.0'
    GROUP BY block
)
ANY INNER JOIN (
    SELECT number AS block, timestamp
    FROM eth_block
)
USING block
"""

NOTEBOOK_GAS_ORACLE = """
WITH itx AS (
  SELECT CAST(event_id AS BIGINT) AS blockNumber,
         value AS gasPrice,
         CAST(user_id AS VARCHAR) AS to_addr,
         value AS val,
         CASE WHEN event_id % 7 = 0 THEN 'create' ELSE 'call' END AS typ,
         CAST(event_id AS VARCHAR) || '.' || CAST(event_id % 3 AS VARCHAR) AS tid
  FROM events
),
contracts AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS address
  FROM events WHERE event_type = 'purchase' AND user_id % 3 = 0
),
g AS (
  SELECT CAST(FLOOR(blockNumber / 1000) * 1000 AS BIGINT) AS block,
         quantile_cont(gasPrice, 0.5) * 1e9 AS p50_gwei,
         quantile_cont(gasPrice, 0.2) * 1e9 AS p20_gwei
  FROM itx
  WHERE CAST(FLOOR(blockNumber / 1000) * 1000 AS BIGINT) > 1000
    AND to_addr NOT IN (SELECT address FROM contracts)
    AND val > 0 AND typ = 'call' AND tid LIKE '%.0'
  GROUP BY 1
)
SELECT g.block, g.p50_gwei, g.p20_gwei, b.timestamp,
       CAST(day(b.timestamp) AS INT) AS dayofmonth,
       CAST(isodow(b.timestamp) - 1 AS INT) AS dayofweek,
       CAST(hour(b.timestamp) AS INT) AS hour,
       CAST(minute(b.timestamp) AS INT) AS minute
FROM g
JOIN (SELECT CAST(event_id AS BIGINT) AS block, ts AS timestamp FROM events) b
  USING (block)
"""


@register(
    "compat_notebook_gas",
    NOTEBOOK_GAS_ORACLE,
    note="gas-price notebook cell-6 SQL replay via eads.compat (reference "
    "examples/gas_price_estimation/gas_price_estimation.ipynb): A10 "
    "toInt64(blockNumber/1000)*1000 bucketing, A7 quantile()() per "
    "bucket, select-alias reference in WHERE, J13 to NOT IN contracts, "
    "P7 top-level-call `id LIKE '%.0'`, P10 type filter, J10 ANY INNER "
    "JOIN USING to block timestamps; plus cell 10's model date features "
    "(SURVEY F16 — dayofmonth/dayofweek/hour/minute in the pandas "
    "Monday=0 convention, computed on the joined datetime exactly as "
    "gas_stats_df['datetime'].dt.* does)",
)
def compat_notebook_gas(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _register_eth_views(spark, sf_dir)
    df = c.sql(NOTEBOOK_GAS_CH)
    return df.select(
        "*",
        F.dayofmonth("timestamp").alias("dayofmonth"),
        F.weekday("timestamp").alias("dayofweek"),
        F.hour("timestamp").alias("hour"),
        F.minute("timestamp").alias("minute"),
    )


# insights.json's most structured stat panel: ERC-20 contract count in
# the dashboard's time window (reference grafana/dashboards/insights.json
# "New ERC20 Tokens" panel). count(*) is aliased for the name-based
# comparator; the reference panel reads a positional scalar.
INSIGHTS_ERC20_CH = """
SELECT count(*) AS n
FROM eth_contract
WHERE blockNumber in(
  SELECT number
  FROM eth_block
  WHERE $timeFilter
)
AND standard_erc20 = 1
"""



# insights.json "ERC20 token descriptions" / "Contract ABIs" panels share
# this shape: a two-level nested IN — described ids ⊂ window contracts ⊂
# window blocks (reference grafana/dashboards/insights.json rows[0])
INSIGHTS_DESCR_CH = """
SELECT count(*) AS n
FROM eth_contract_description
WHERE id in(
  SELECT address
  FROM eth_contract
  WHERE blockNumber in(
    SELECT number
    FROM eth_block
    WHERE $timeFilter
  )
)
"""

# insights.json "Total events" / "ERC20 transactions" panels: the count
# IN-subquery with the dashboard's toInt32() cast on eth_block.number
# (eth_event.blockNumber is Int32 in the reference schema)
INSIGHTS_EVENTS_CH = """
SELECT count(*) AS n
FROM eth_event
WHERE blockNumber in(
  SELECT toInt32(number)
  FROM eth_block
  WHERE $timeFilter
)
"""

# one row, one column per panel family — three scalar subqueries cross-
# joined (each subquery is the verbatim oracle of its panel's shape)
INSIGHTS_PANELS_ORACLE = """
WITH contracts AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS address,
         CAST(user_id % 97 AS BIGINT) AS blockNumber,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS standard_erc20
  FROM events WHERE event_type = 'purchase' AND user_id % 3 = 0
),
descr AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS id
  FROM events WHERE event_type = 'purchase' AND user_id % 6 = 0
),
win_blocks AS (
  SELECT CAST(event_id AS BIGINT) AS number FROM events WHERE event_id < 50
)
SELECT
  (SELECT count(*) FROM contracts
   WHERE blockNumber IN (SELECT number FROM win_blocks)
     AND standard_erc20 = 1) AS n_erc20,
  (SELECT count(*) FROM descr
   WHERE id IN (SELECT address FROM contracts
                WHERE blockNumber IN (SELECT number FROM win_blocks))) AS n_descr,
  (SELECT count(*)
   FROM (SELECT CAST(event_id % 300 AS INT) AS blockNumber FROM events) e
   WHERE blockNumber IN (SELECT CAST(number AS INT) FROM win_blocks)) AS n_events
"""


@register(
    "compat_insights_panels",
    INSIGHTS_PANELS_ORACLE,
    note="insights.json dashboard replay via eads.compat (reference "
    "grafana/dashboards/insights.json): the three distinct stat-panel "
    "shapes in one row — New-ERC20-Tokens (S3 scalar count + nested IN "
    "over eth_block + flag predicate), ERC20-token-descriptions / "
    "Contract-ABIs (TWO-level nested IN, J12 semi-join chain), and "
    "Total-events / ERC20-transactions (IN-subquery with the "
    "dashboard's toInt32(number) cast, F14); each panel SQL runs "
    "through the ClickHouse-dialect translator unmodified",
)
def compat_insights_panels(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _register_eth_views(spark, sf_dir)
    macros = {"timeFilter": "number < 50"}
    erc20 = c.sql(INSIGHTS_ERC20_CH, macros=macros)
    descr = c.sql(INSIGHTS_DESCR_CH, macros=macros)
    events = c.sql(INSIGHTS_EVENTS_CH, macros=macros)
    # union + pivot, not a join: combining three 1-row scalars through a
    # join degenerates to BroadcastNestedLoopJoin (a constant key folds
    # away), which the plan-audit gate forbids; a labeled union with a
    # fixed-values pivot is one exchange-free aggregation
    labeled = (
        erc20.select(F.lit("n_erc20").alias("k"), "n")
        .unionAll(descr.select(F.lit("n_descr").alias("k"), "n"))
        .unionAll(events.select(F.lit("n_events").alias("k"), "n"))
    )
    return (
        labeled.groupBy()
        .pivot("k", ["n_erc20", "n_descr", "n_events"])
        .sum("n")
    )
