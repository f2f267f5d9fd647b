"""REST serving layer (SURVEY §2.1 S17, §2.3 J15).

The reference serves balances over Flask: POST /balances/ with a JSON
address list, POST /token_balances/<token>
(examples/balances_api/server.py:8-18). Each handler combines five
per-address aggregates in Python dicts — income − outcome + reward −
fee + fee_reward, floored at 0
(examples/balances_api/actions/balances.py:68-83,
token_balances.py:26-35).

Here the combine is a single-pass signed ledger executed by Spark SQL
over the warehouse's registered views (the analytics read path,
SURVEY §3.3): one scan of each fact table emits every row's
``(address, signed amount)`` entries with ``inline``, and one
``GROUP BY address`` sums them, so a FINAL view's dedup window runs
once per read and a token filter reaches the Parquet scan. Flask only
shapes JSON. Balance semantics follow
examples/sql_balances/balances.sql:1-63: fees count only top-level
calls (id LIKE '%.0'), rewards only type='reward', and a miner earns
each block's total fees (fee_reward) once per ``rewardType = 'block'``
row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Per row: `to` gets the value of a successful non-reward call; `from`
# pays the value of a successful call and the fee of a top-level call;
# `author` gets the reward plus, on block rewards, the block's fees.
BALANCES_SQL = """
SELECT address, GREATEST(COALESCE(SUM(v), 0), 0) AS balance
FROM (
  SELECT inline(array(
    named_struct('address', `to`, 'v', IF(type != 'reward' AND ok, value, NULL)),
    named_struct('address', `from`, 'v',
      -(IF(ok, COALESCE(value, 0), 0) + IF(id LIKE '%.0', COALESCE(gasUsed * gasPrice, 0), 0))),
    named_struct('address', author, 'v',
      IF(type = 'reward',
         COALESCE(value, 0) + IF(rewardType = 'block', COALESCE(block_fee, 0), 0), NULL))
  ))
  FROM (
    SELECT *,
           error IS NULL AND (parent_error IS NULL OR CAST(parent_error AS INT) = 0) AS ok,
           SUM(IF(id LIKE '%.0', gasUsed * gasPrice, NULL))
             OVER (PARTITION BY blockNumber) AS block_fee
    FROM internal_transaction
  )
)
WHERE address IS NOT NULL
GROUP BY address
"""

# Per-side sums meet on (token, address) with SQL NULL semantics: a
# NULL token or address matches nothing, so it keeps one row per side.
TOKEN_BALANCES_SQL = """
SELECT token, address, COALESCE(SUM(v), 0) AS balance
FROM (
  SELECT token, inline(array(
    named_struct('side', 'from', 'address', `from`, 'v', -value),
    named_struct('side', 'to', 'address', `to`, 'v', value)
  ))
  FROM token_transaction
)
GROUP BY token, address, CASE WHEN token IS NULL OR address IS NULL THEN side END
"""


def compute_balances(
    spark: SparkSession, addresses: list[str] | None = None
) -> DataFrame:
    df = spark.sql(BALANCES_SQL)
    # None = no filter (full scan is the explicit ask); an EMPTY list
    # means "these zero addresses" and must return zero rows — the
    # falsy-list check previously collected the whole address universe
    # for a request that asked for nothing
    if addresses is not None:
        df = df.filter(df["address"].isin([a.lower() for a in addresses]))
    return df


def compute_token_balances(spark: SparkSession, token: str) -> DataFrame:
    df = spark.sql(TOKEN_BALANCES_SQL)
    return df.filter(df["token"] == token.lower()).select("address", "balance")


def create_app(spark: SparkSession):
    """Flask app factory (import-gated: serving is optional)."""
    from flask import Flask, jsonify, request

    app = Flask("spark-chain-analytics")

    @app.post("/balances/")
    def balances():
        payload = request.get_json(silent=True)
        # accept both body shapes: {"addresses": [...]} and a bare JSON
        # list (the reference clients post the latter) — .get on a list
        # was a 500
        addrs = payload.get("addresses") if isinstance(payload, dict) else payload
        # a bare string would iterate into single characters
        if addrs is not None and not (
            isinstance(addrs, list) and all(isinstance(a, str) for a in addrs)
        ):
            return jsonify({"error": "addresses must be a list of strings"}), 400
        rows = compute_balances(spark, addrs).collect()
        return jsonify({r["address"]: r["balance"] for r in rows})

    @app.post("/token_balances/<token>")
    def token_balances(token: str):
        rows = compute_token_balances(spark, token).collect()
        return jsonify({r["address"]: r["balance"] for r in rows})

    return app
