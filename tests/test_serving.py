"""REST serving layer S17 — Flask over spark.sql views, reference
balances arithmetic (J15): income − outcome + reward − fee + fee_reward,
floored at 0 (examples/balances_api tests' semantics)."""

import math
import re
from collections import Counter, defaultdict

import pytest
from pyspark.sql import Row

from ethereum_analytical_db_spark import schemas
from ethereum_analytical_db_spark.catalog import Warehouse
from ethereum_analytical_db_spark.serving import api

# The multi-join form the single-pass ledger replaced: one aggregate per
# balance component, each over its own scan, joined back to the address
# universe. Kept here only as the parity reference.
REFERENCE_BALANCES_SQL = """
WITH universe AS (
  SELECT DISTINCT address FROM (
    SELECT `to` AS address FROM internal_transaction
    UNION ALL SELECT `from` AS address FROM internal_transaction
    UNION ALL SELECT author AS address FROM internal_transaction
  ) WHERE address IS NOT NULL
),
income AS (
  SELECT `to` AS address, SUM(value) AS v FROM internal_transaction
  WHERE type != 'reward' AND error IS NULL
    AND (parent_error IS NULL OR CAST(parent_error AS INT) = 0)
  GROUP BY `to`
),
outcome AS (
  SELECT `from` AS address, SUM(value) AS v FROM internal_transaction
  WHERE error IS NULL
    AND (parent_error IS NULL OR CAST(parent_error AS INT) = 0)
  GROUP BY `from`
),
reward AS (
  SELECT author AS address, SUM(value) AS v FROM internal_transaction
  WHERE type = 'reward' GROUP BY author
),
fee AS (
  SELECT `from` AS address, SUM(gasUsed * gasPrice) AS v
  FROM internal_transaction WHERE id LIKE '%.0' GROUP BY `from`
),
block_fee AS (
  SELECT blockNumber, SUM(gasUsed * gasPrice) AS v
  FROM internal_transaction WHERE id LIKE '%.0' GROUP BY blockNumber
),
fee_reward AS (
  SELECT m.author AS address, SUM(bf.v) AS v
  FROM (SELECT author, blockNumber FROM internal_transaction
        WHERE type = 'reward' AND rewardType = 'block') m
  JOIN block_fee bf USING (blockNumber)
  GROUP BY m.author
)
SELECT u.address,
       GREATEST(
         COALESCE(i.v, 0) - COALESCE(o.v, 0) + COALESCE(r.v, 0)
         - COALESCE(f.v, 0) + COALESCE(fr.v, 0),
         0
       ) AS balance
FROM universe u
LEFT JOIN income i ON u.address = i.address
LEFT JOIN outcome o ON u.address = o.address
LEFT JOIN reward r ON u.address = r.address
LEFT JOIN fee f ON u.address = f.address
LEFT JOIN fee_reward fr ON u.address = fr.address
"""

REFERENCE_TOKEN_BALANCES_SQL = """
SELECT COALESCE(o.token, i.token) AS token,
       COALESCE(o.address, i.address) AS address,
       COALESCE(i.v, 0) - COALESCE(o.v, 0) AS balance
FROM (
  SELECT token, `from` AS address, SUM(value) AS v
  FROM token_transaction GROUP BY token, `from`
) o
FULL OUTER JOIN (
  SELECT token, `to` AS address, SUM(value) AS v
  FROM token_transaction GROUP BY token, `to`
) i ON o.token = i.token AND o.address = i.address
"""


@pytest.fixture()
def chain_views(spark):
    itx_cols = (
        "id string, blockNumber long, `from` string, `to` string, value double, "
        "gasUsed int, gasPrice double, type string, rewardType string, "
        "author string, error string, parent_error boolean"
    )
    rows = [
        # block 1: a→b 10 ETH top-level, fee 21000 * 1e-9
        Row(id="0xT1.0", blockNumber=1, **{"from": "0xa"}, to="0xb", value=10.0,
            gasUsed=21000, gasPrice=1e-9, type="call", rewardType=None,
            author=None, error=None, parent_error=False),
        # failed tx: must not move value
        Row(id="0xT2.0", blockNumber=1, **{"from": "0xb"}, to="0xa", value=99.0,
            gasUsed=0, gasPrice=0.0, type="call", rewardType=None,
            author=None, error="Reverted", parent_error=False),
        # block reward to miner m + fee_reward from block 1 fees
        Row(id="0xR1.0", blockNumber=1, **{"from": None}, to=None, value=2.0,
            gasUsed=None, gasPrice=None, type="reward", rewardType="block",
            author="0xm", error=None, parent_error=False),
    ]
    spark.createDataFrame(rows, itx_cols).createOrReplaceTempView(
        "internal_transaction"
    )
    tt = [
        Row(id="0xE1.0", token="0xtok", **{"from": "0xa"}, to="0xb", value=7.5),
        Row(id="0xE2.0", token="0xtok", **{"from": "0xb"}, to="0xc", value=2.5),
    ]
    spark.createDataFrame(
        tt, "id string, token string, `from` string, `to` string, value double"
    ).createOrReplaceTempView("token_transaction")


def test_compute_balances(spark, chain_views):
    out = {r["address"]: r["balance"] for r in api.compute_balances(spark).collect()}
    fee = 21000 * 1e-9
    assert out["0xb"] == pytest.approx(10.0)        # received 10; failed send ignored
    assert out["0xa"] == pytest.approx(0.0)          # 0 - 10 - fee → floored at 0
    assert out["0xm"] == pytest.approx(2.0 + fee)    # block reward + fee_reward


def test_flask_endpoints(spark, chain_views):
    app = api.create_app(spark)
    client = app.test_client()

    resp = client.post("/balances/", json={"addresses": ["0xB", "0xM"]})
    assert resp.status_code == 200
    body = resp.get_json()
    assert set(body) == {"0xb", "0xm"}
    assert body["0xb"] == pytest.approx(10.0)

    # a bare string used to be iterated into single letters, and a
    # non-string element raised inside .lower() (a 500)
    assert client.post("/balances/", json={"addresses": "0xabc"}).status_code == 400
    assert client.post("/balances/", json={"addresses": ["0xb", 5]}).status_code == 400
    assert client.post("/balances/", json="0xb").status_code == 400

    resp = client.post("/token_balances/0xTOK")
    body = resp.get_json()
    assert body["0xb"] == pytest.approx(7.5 - 2.5)
    assert body["0xc"] == pytest.approx(2.5)
    assert body["0xa"] == pytest.approx(-7.5)  # token balances are not floored


ITX_COLS = (
    "id string, blockNumber long, `from` string, `to` string, value double, "
    "gasUsed int, gasPrice double, type string, rewardType string, "
    "author string, error string, parent_error {}"
)


def _itx(id, block, frm, to, value, gas_used=None, gas_price=None, type="call",
         reward_type=None, author=None, error=None, parent_error=0):
    return (id, block, frm, to, value, gas_used, gas_price, type, reward_type,
            author, error, parent_error)


# every branch of the balance arithmetic, with the NULLs the reference
# SQL's WHERE clauses and COALESCEs have to absorb
EDGE_ITX = [
    # block 1: a→b top-level transfer, fee 21000 * 1e-9
    _itx("0xT1.0", 1, "0xa", "0xb", 10.0, 21000, 1e-9),
    # its child moves value but pays no fee
    _itx("0xT1.1", 1, "0xb", "0xf", 0.25, 3000, 1e-9),
    # contract creation: NULL `to`, the sender still pays value and fee
    _itx("0xT2.0", 1, "0xb", None, 3.0, 50000, 2e-9, type="create"),
    # reverted top-level call: no value moves, the fee is still paid
    _itx("0xT3.0", 1, "0xc", "0xa", 5.0, 30000, 1e-9, error="Reverted"),
    # child of a failed parent: no value moves
    _itx("0xT3.1", 1, "0xc", "0xg", 1.0, 100, 1e-9, parent_error=1),
    # top-level call with NULL gasUsed: value moves, the fee is NULL
    _itx("0xT4.0", 1, "0xd", "0xe", 1.5, None, 1e-9),
    # NULL value
    _itx("0xT5.1", 1, "0xe", "0xf", None, 10, 1e-9),
    # two block rewards in one block: each author earns the block's fees;
    # 0xn is seen only as an author
    _itx("0xR1.0", 1, None, None, 2.0, type="reward", reward_type="block", author="0xm"),
    _itx("0xR1.1", 1, None, None, 0.5, type="reward", reward_type="block", author="0xn"),
    # an uncle reward: the reward, no fee_reward
    _itx("0xR1.2", 1, None, None, 1.0, type="reward", reward_type="uncle", author="0xu"),
    # block 2 has a block reward but no top-level fees
    _itx("0xR2.0", 2, None, None, 2.0, type="reward", reward_type="block", author="0xm"),
    _itx("0xT6.1", 2, "0xm", "0xh", 0.5, 10, 1e-9),
    # an address seen only in a reverted call
    _itx("0xT7.0", 3, "0xz", "0xy", 4.0, 0, 0.0, error="Reverted"),
]

EDGE_TOKEN = [
    ("0xE1.0", "0xtok", "0xa", "0xb", 7.5),
    ("0xE2.0", "0xtok", "0xb", "0xc", 2.5),
    ("0xE3.0", "0xtok", None, "0xa", 100.0),  # mint: NULL `from`
    ("0xE4.0", "0xtok", "0xa", None, 1.0),  # burn: NULL `to`
    ("0xE5.0", "0xtok", None, None, 3.0),  # both NULL
    ("0xE6.0", "0xtok", "0xc", "0xd", None),  # NULL value
    ("0xE7.0", "0xtok2", "0xb", "0xa", 3.0),
    ("0xE8.0", None, "0xa", "0xb", 1.0),  # NULL token
]


@pytest.fixture(params=["tinyint", "boolean"])
def edge_views(spark, request):
    """Edge-case fixture; ``parent_error`` is a byte in the warehouse
    schema and a boolean in some callers' views, so both are covered."""
    rows = EDGE_ITX
    if request.param == "boolean":
        rows = [r[:-1] + (bool(r[-1]),) for r in rows]
    spark.createDataFrame(rows, ITX_COLS.format(request.param)).createOrReplaceTempView(
        "internal_transaction"
    )
    spark.createDataFrame(
        EDGE_TOKEN, "id string, token string, `from` string, `to` string, value double"
    ).createOrReplaceTempView("token_transaction")


def _keyed(df, keys):
    """key tuple → sorted balances; a NULL key may carry several rows"""
    out = defaultdict(list)
    for r in df.collect():
        out[tuple(r[k] for k in keys)].append(r["balance"])
    return {k: sorted(v) for k, v in out.items()}


def _assert_same(got, want):
    assert Counter({k: len(v) for k, v in got.items()}) == Counter(
        {k: len(v) for k, v in want.items()}
    )
    for k, vs in want.items():
        for g, w in zip(got[k], vs):
            assert math.isclose(g, w, rel_tol=1e-12, abs_tol=1e-15), (k, g, w)


def test_balances_match_reference(spark, edge_views):
    got = _keyed(spark.sql(api.BALANCES_SQL), ["address"])
    want = _keyed(spark.sql(REFERENCE_BALANCES_SQL), ["address"])
    _assert_same(got, want)
    # the fixture reaches every component: spot-check the ones that need it
    fee = 21000e-9 + 50000 * 2e-9 + 30000e-9  # block 1's top-level calls
    assert got[("0xm",)] == [pytest.approx(4.0 + fee - 0.5)]
    assert got[("0xn",)] == [pytest.approx(0.5 + fee)]
    assert got[("0xu",)] == [1.0]
    assert got[("0xz",)] == [0.0] and got[("0xy",)] == [0.0]


def test_token_balances_match_reference(spark, edge_views):
    keys = ["token", "address"]
    got = _keyed(spark.sql(api.TOKEN_BALANCES_SQL), keys)
    want = _keyed(spark.sql(REFERENCE_TOKEN_BALANCES_SQL), keys)
    _assert_same(got, want)
    # a NULL address keeps one row per side
    assert got[("0xtok", None)] == [-103.0, 4.0]
    for token in ["0xtok", "0xTOK2", "0xnope"]:
        got = _keyed(api.compute_token_balances(spark, token), ["address"])
        want = _keyed(
            spark.sql(REFERENCE_TOKEN_BALANCES_SQL)
            .filter(f"token = '{token.lower()}'")
            .select("address", "balance"),
            ["address"],
        )
        _assert_same(got, want)


@pytest.mark.parametrize(
    "addresses", [None, [], ["0xnope"], ["0xB", "0xM", "0xn", "0XU", "0xnope"]]
)
def test_compute_balances_filters_match_reference(spark, edge_views, monkeypatch, addresses):
    got = _keyed(api.compute_balances(spark, addresses), ["address"])
    monkeypatch.setattr(api, "BALANCES_SQL", REFERENCE_BALANCES_SQL)
    want = _keyed(api.compute_balances(spark, addresses), ["address"])
    _assert_same(got, want)
    if addresses is not None:
        assert set(k[0] for k in got) <= {a.lower() for a in addresses} - {"0xnope"}
    if addresses and len(addresses) > 1:
        assert len(got) == 4


def _itx_row(**kw):
    base = dict(blockHash="0xh", subtraces=0, traceAddress=[], type="call")
    base.update(kw)
    return tuple(base.get(f.name) for f in schemas.INTERNAL_TRANSACTION.fields)


def _tt_row(**kw):
    return tuple(kw.get(f.name) for f in schemas.TOKEN_TRANSACTION.fields)


def test_serving_plan_shape(spark, tmp_path):
    """One scan of each fact table per read: the balance plan over a
    FINAL view of uncompacted batches reads internal_transaction once
    and dedups it once; the token plan has no join, and once compacted
    its token filter reaches the Parquet scan."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    itx = [
        _itx_row(id="0xT1.0", blockNumber=1, **{"from": "0xa"}, to="0xb",
                 value=1.0, gasUsed=21000, gasPrice=1e-9),
        _itx_row(id="0xR1.0", blockNumber=1, type="reward", rewardType="block",
                 author="0xm", value=2.0),
    ]
    tt = [_tt_row(id="0xE1.0", token="0xtok", **{"from": "0xa"}, to="0xb", value=1.0)]
    for _ in range(2):  # the second batch re-sends the first: FINAL must dedup
        wh.write("internal_transaction", spark.createDataFrame(itx, schemas.INTERNAL_TRANSACTION))
        wh.write("token_transaction", spark.createDataFrame(tt, schemas.TOKEN_TRANSACTION))
    assert not wh.is_dedup_free("internal_transaction")
    wh.register_views("internal_transaction", "token_transaction")

    bal = api.compute_balances(spark, ["0xb", "0xm"])
    opt = bal._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"Relation \[", opt)) == 1, opt
    assert bal._jdf.queryExecution().executedPlan().toString().count("FileScan parquet") == 1
    assert all("/internal_transaction/" in f for f in bal.inputFiles())
    assert len(re.findall(r"Window \[row_number\(\)", opt)) == 1, opt
    assert "Join" not in opt, opt
    assert {r["address"]: r["balance"] for r in bal.collect()} == pytest.approx(
        {"0xb": 1.0, "0xm": 2.0 + 21000e-9}
    )

    tok = api.compute_token_balances(spark, "0xTOK")
    opt = tok._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in opt, opt
    assert len(re.findall(r"Relation \[", opt)) == 1, opt
    assert {r["address"]: r["balance"] for r in tok.collect()} == {"0xa": -1.0, "0xb": 1.0}

    # FINAL's dedup window partitions by id, so the token filter stops
    # above it; on the dedup-free compacted table it reaches the scan
    wh.compact("token_transaction")
    wh.register_views("token_transaction")
    tok = api.compute_token_balances(spark, "0xtok")
    phys = tok._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(token,0xtok\)", phys), phys
    assert {r["address"]: r["balance"] for r in tok.collect()} == {"0xa": -1.0, "0xb": 1.0}
