"""Live-node-optional integration test for the HTTP JSON-RPC path —
the engine's analogue of the reference's ``@parity`` gate
(/root/reference/tests/test_utils.py:7-24, config.py TEST_PARITY_NODE):
skipped unless ``TEST_RPC_NODE`` points at an answering Ethereum
JSON-RPC endpoint, so the suite stays green in sandboxes while the one
seam that talks to production (``HttpJsonRpcTransport`` wrapped in
``RetryTransport``, sources/rpc.py) is exercised end-to-end wherever a
node exists.

Run with e.g.::

    TEST_RPC_NODE=http://localhost:8545 pytest tests/test_rpc_live.py
"""

import os

import pytest

from ethereum_analytical_db_spark.sources import rpc

NODE = os.environ.get("TEST_RPC_NODE")

pytestmark = pytest.mark.skipif(
    not NODE, reason="TEST_RPC_NODE not set (live-node integration gate)"
)


def _transport():
    # the exact production composition from __main__.make_transport_factory
    return rpc.RetryTransport(rpc.HttpJsonRpcTransport(NODE), attempts=3)


def test_live_block_number():
    resp = rpc._post_matched(
        _transport(),
        [{"jsonrpc": "2.0", "id": 0, "method": "eth_blockNumber", "params": []}],
    )
    head = int(str(resp[0]["result"]), 0)
    assert head >= 0


def test_live_batched_block_fetch_realigned():
    """Batch of two + response realignment by id (the property
    _post_matched exists for) against a real node."""
    reqs = [
        {
            "jsonrpc": "2.0",
            "id": i,
            "method": "eth_getBlockByNumber",
            "params": [hex(i + 1), False],
        }
        for i in range(2)
    ]
    resp = rpc._post_matched(_transport(), reqs)
    assert len(resp) == 2
    for i, r in enumerate(resp):
        blk = r["result"]
        assert int(str(blk["number"]), 0) == i + 1
        assert "timestamp" in blk


def test_live_spark_block_timestamp_source(spark):
    """The full distributed path: fetch_block_timestamps through
    mapInPandas workers hitting the live node (genesis substitution
    included). The factory is the CLI's own production composition —
    a partial over library code, so executors (which don't have tests/
    on their path) can unpickle it."""
    import functools

    from ethereum_analytical_db_spark import __main__ as cli

    nums = spark.createDataFrame([(0,), (1,), (2,)], "number long")
    got = {
        r["number"]: r["timestamp"]
        for r in rpc.fetch_block_timestamps(
            nums, functools.partial(cli._http_transport, NODE)
        ).collect()
    }
    assert set(got) == {0, 1, 2}
    assert all(v is not None for v in got.values())
