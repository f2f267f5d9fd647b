"""JSON-RPC chain sources (SURVEY §2.1 S6-S10, §2.10 X1).

The reference pulls traces/transactions/blocks/logs from a Parity node
with batched HTTP POSTs fanned out over a 3-process pool
(operations/internal_transactions.py:68-95,134-167,210-233), picks the
node URL per block range (operations/internal_transactions.py:23-41),
and reads block timestamps via web3 (operations/blocks.py:52-94).

Spark-first design: the *fetch* is expressed as ``mapInPandas`` over a
DataFrame of block numbers — each partition opens its own transport and
pulls its blocks, so a 1000-executor cluster fans out natively (the
reference's Pool(3) becomes task parallelism). Transports are pluggable:
``HttpJsonRpcTransport`` (urllib, for a real node) or
``FileJsonRpcTransport`` (fixture directory, used by tests and the
driver environment, which has no chain node). Decoding (hex→float ether,
positional ids, parent errors) happens post-fetch with the engine's
Column expressions — never per-row Python.
"""

from __future__ import annotations

import json
import os
import urllib.request
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions import ethereum as eth_fn
from ..operators.traces import assign_trace_ids, propagate_parent_errors

# requests per JSON-RPC batch POST: real nodes cap batch sizes, so a
# backfill partition of thousands of blocks goes out in bounded POSTs
RPC_BATCH_SIZE = 10
# block 0 has no on-node timestamp (reference config.py:61 ETHEREUM_START_DATE)
GENESIS_TS = "2015-07-30 15:26:13"

# trace rows come back flattened to these fields (reference
# operations/internal_transactions.py:276-303 _preprocess)
TRACE_FIELDS = [
    "blockNumber", "blockHash", "transactionHash", "traceAddress", "type",
    "callType", "from", "to", "value_hex", "gas_hex", "gasUsed_hex",
    "input", "output", "error", "author", "rewardType", "address", "code",
    "init", "refundAddress", "balance",
]
TRACE_DDL = (
    "blockNumber long, blockHash string, transactionHash string, "
    "traceAddress array<long>, "
    "type string, callType string, `from` string, `to` string, value_hex string, "
    "gas_hex string, gasUsed_hex string, input string, output string, "
    "error string, author string, rewardType string, address string, "
    "code string, init string, refundAddress string, balance string"
)


def pick_host(hosts_by_range: list[tuple[int, int | None, str]], block: int) -> str:
    """S8: per-block-range host routing (reference
    operations/internal_transactions.py:23-41). ``None`` end = open."""
    for lo, hi, url in hosts_by_range:
        if block >= lo and (hi is None or block < hi):
            return url
    raise ValueError(f"no host configured for block {block}")


class RetryTransport:
    """T6: the reference's ``repeat_on_exception`` retry-forever wrapper
    (utils.py:22-30 — sleep 5, retry; tests/utils_tests.py:26-41) as a
    composable transport decorator, with two deliberate deviations:

    - bounded attempts (default 5), not forever: at cluster scale an
      unbounded per-task retry loop turns one dead endpoint into a hung
      job; after the wrapper gives up, Spark's own task retry
      (``spark.task.maxFailures``) takes over — retries then land on a
      different executor, which the in-process loop can never do;
    - exponential backoff with a cap instead of a flat sleep.

    Picklable (factory composition) so it wraps transports inside
    mapInPandas workers.
    """

    def __init__(self, inner, attempts: int = 5, base_sleep_s: float = 1.0,
                 max_sleep_s: float = 30.0, sleep=None):
        self.inner = inner
        self.attempts = attempts
        self.base_sleep_s = base_sleep_s
        self.max_sleep_s = max_sleep_s
        self._sleep = sleep  # injectable for tests; None → time.sleep

    def post(self, batch: list[dict]) -> list[dict]:
        import time as _time

        sleep = self._sleep or _time.sleep
        last: Exception | None = None
        for i in range(self.attempts):
            try:
                return self.inner.post(batch)
            except Exception as exc:  # noqa: BLE001 - transport boundary
                last = exc
                if i + 1 < self.attempts:
                    sleep(min(self.base_sleep_s * 2**i, self.max_sleep_s))
        raise last  # type: ignore[misc]  # attempts >= 1 always sets it


class HttpJsonRpcTransport:
    """Batched JSON-RPC over HTTP (stdlib urllib; no extra deps)."""

    def __init__(self, url: str, timeout: float = 30.0):
        self.url = url
        self.timeout = timeout

    def post(self, batch: list[dict]) -> list[dict]:  # pragma: no cover - needs node
        req = urllib.request.Request(
            self.url,
            data=json.dumps(batch).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            return json.loads(resp.read())


class FileJsonRpcTransport:
    """Fixture-backed fake: responses live as ``{method}_{param0}.json``
    files in a directory. Picklable, so executors can use it inside
    mapInPandas — the test stand-in for a node cluster."""

    def __init__(self, fixture_dir: str):
        self.fixture_dir = fixture_dir

    @staticmethod
    def _fixture_key(req: dict) -> str:
        """First request param → fixture-file key. eth_getLogs sends a
        real filter object ({fromBlock, toBlock} hex, inclusive); its
        fixture key is the engine's half-open '{lo}-{hi}' range form."""
        if not req.get("params"):
            return ""
        p0 = req["params"][0]
        if isinstance(p0, dict) and "fromBlock" in p0:
            try:
                # block *tags* ('latest', 'earliest', …) aren't hex
                # quantities; fall through to a fixture miss rather than
                # crashing the executor task on int(x, 16)
                lo = int(str(p0["fromBlock"]), 16)
                hi = int(str(p0["toBlock"]), 16) + 1
            except (ValueError, TypeError, KeyError):
                return str(p0)
            return f"{lo}-{hi}"
        return str(p0)

    def post(self, batch: list[dict]) -> list[dict]:
        out = []
        for req in batch:
            path = os.path.join(
                self.fixture_dir, f"{req['method']}_{self._fixture_key(req)}.json"
            )
            if os.path.exists(path):
                with open(path) as f:
                    result = json.load(f)
            else:
                result = None
            out.append({"id": req.get("id"), "result": result})
        return out


def _hex_quantity(c):
    """0x-hex JSON-RPC quantity → decimal string (unsigned 64-bit conv)."""
    return F.conv(F.regexp_replace(c, "^0x", ""), 16, 10)


def _post_matched(transport, reqs: list[dict]) -> list[dict]:
    """POST a batch and realign responses to request order by ``id`` —
    JSON-RPC 2.0 batch responses are NOT guaranteed ordered, so a
    positional zip could attribute results to the wrong block.

    A missing response id or an ``error`` member raises instead of
    degrading to an empty result: 'node rejected/rate-limited the call'
    must stay distinguishable from 'block genuinely has no traces/logs',
    or a flaky node silently drops data. Spark's task retry
    (``spark.task.maxFailures``) is the retry loop (SURVEY T6)."""
    by_id = {
        r.get("id"): r for r in transport.post(reqs) if isinstance(r, dict)
    }
    out = []
    for req in reqs:
        resp = by_id.get(req["id"])
        if resp is None:
            raise RuntimeError(
                f"JSON-RPC batch response missing id {req['id']!r} "
                f"(method {req.get('method')})"
            )
        if resp.get("error") is not None:
            raise RuntimeError(
                f"JSON-RPC error for id {req['id']!r} "
                f"(method {req.get('method')}): {resp['error']!r}"
            )
        out.append(resp)
    return out


def _rpc_frame(keys, make_transport, method, params, rows, ddl) -> DataFrame:
    """The one JSON-RPC fetch loop: ``mapInPandas`` over ``keys`` (a
    row's integer columns are one request key), ``RPC_BATCH_SIZE``
    requests per POST through :func:`_post_matched`. ``params(*key)``
    builds a request's params; ``rows(result, *key)`` yields output rows
    (tuples in ``ddl`` order or dicts keyed by its names). The transport
    is built on a task's first non-empty batch, so the mostly-empty
    tasks of a small incremental tick never dial the endpoint."""
    cols = StructType.fromDDL(ddl).names

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = None
        for pdf in batches:
            out: list = []
            todo = [tuple(int(v) for v in k) for k in pdf.itertuples(index=False)]
            if todo and transport is None:
                transport = make_transport()
            for off in range(0, len(todo), RPC_BATCH_SIZE):
                chunk = todo[off : off + RPC_BATCH_SIZE]
                reqs = [
                    {"jsonrpc": "2.0", "id": i, "method": method, "params": params(*k)}
                    for i, k in enumerate(chunk)
                ]
                for k, resp in zip(chunk, _post_matched(transport, reqs)):
                    out.extend(rows(resp.get("result"), *k))
            yield pd.DataFrame(out, columns=cols)

    return keys.mapInPandas(fetch, schema=ddl)


def _flatten_trace(block_number: int, tx_hash: str | None, raw: dict) -> dict:
    a = raw.get("action", {})
    r = raw.get("result") or {}
    return {
        "blockNumber": block_number,
        # carried for two reasons: reward traces key their ids off it
        # (reference internal_transactions.py:247 `transactionHash or
        # blockHash`), and reorg reconciliation anti-matches on it
        "blockHash": raw.get("blockHash"),
        "transactionHash": tx_hash,
        "traceAddress": [int(x) for x in raw.get("traceAddress", [])],
        "type": raw.get("type"),
        "callType": a.get("callType"),
        "from": a.get("from"),
        "to": a.get("to") or a.get("address"),
        "value_hex": a.get("value"),
        "gas_hex": a.get("gas"),
        "gasUsed_hex": r.get("gasUsed"),
        "input": a.get("input"),
        "output": r.get("output"),
        "error": raw.get("error"),
        "author": a.get("author"),
        "rewardType": a.get("rewardType"),
        # create traces: deployed address + runtime code live in result,
        # init code in action (the fields derived.contracts keys off;
        # reference operations/contract_transactions.py create handling)
        "address": r.get("address"),
        "code": r.get("code"),
        "init": a.get("init"),
        "refundAddress": a.get("refundAddress"),
        "balance": a.get("balance"),
    }


def fetch_traces(block_numbers: DataFrame, make_transport) -> DataFrame:
    """S6: trace_block per block, batched, partition-parallel.

    ``block_numbers``: DataFrame with a ``number`` column.
    ``make_transport``: picklable zero-arg factory (or factory taking a
    block number via pick_host composition) returning a transport.
    """
    return _rpc_frame(
        block_numbers.select("number"),
        make_transport,
        "trace_block",
        lambda n: [hex(n)],
        lambda result, n: (
            _flatten_trace(n, raw.get("transactionHash"), raw) for raw in result or []
        ),
        TRACE_DDL,
    )


def decode_traces(raw: DataFrame) -> DataFrame:
    """Reference _preprocess_internal_transaction + id/parent-error steps
    (operations/internal_transactions.py:235-303): hex value →
    float64 ether, gasUsed → int, positional ids, parent errors. All
    Column expressions + the trace-tree operators.

    The value decode goes through the 128-bit two-half path
    (``hex_word_to_float``), NOT ``conv``: conv is unsigned-64-bit, so
    any transfer above 2^64-1 wei (~18.45 ETH) would silently wrap.
    gasUsed fits 64 bits by protocol (≤ block gas limit), so conv is
    fine there. Reward traces (null transactionHash) key their ids off
    blockHash, exactly like the reference's ``transactionHash or
    blockHash`` — a flat null partition would re-mint the same bare
    '0..N' ids every ingest batch and last-write-wins would replace
    earlier blocks' reward rows."""
    word = F.concat(
        F.lit("0x"),
        F.lpad(F.regexp_replace(F.col("value_hex"), "^0x", ""), 64, "0"),
    )
    df = raw.withColumn(
        "value",
        F.when(F.col("value_hex").isNotNull(), eth_fn.hex_word_to_float(word, 18)),
    ).withColumn("gasUsed", _hex_quantity(F.col("gasUsed_hex")).cast("int"))
    df = df.withColumn(
        "_id_key", F.coalesce(F.col("transactionHash"), F.col("blockHash"))
    )
    df = assign_trace_ids(
        df,
        tx_col="_id_key",
        # rewardType/author break ties among a block's reward traces
        # (traceAddress is [] for all of them); both are null for
        # ordinary call traces so the canonical ordering is unchanged
        order_col=F.struct("traceAddress", "rewardType", "author"),
    )
    df = propagate_parent_errors(df)
    return df.drop("value_hex", "gasUsed_hex", "_id_key")


TX_GAS_DDL = "blockNumber long, blockHash string, hash string, gasPrice_hex string"


def fetch_block_transactions(block_numbers: DataFrame, make_transport) -> DataFrame:
    """S7: chain transactions per block — eth_getBlockByNumber(n, full=
    True), the dim the reference merges gasPrice from
    (_make_transactions_requests + _merge_block,
    internal_transactions.py:151-202). Without it every ingested trace
    row has NULL gasPrice and the balance API's fee / fee_reward
    aggregates silently collapse to zero."""
    return _rpc_frame(
        block_numbers.select("number"),
        make_transport,
        "eth_getBlockByNumber",
        lambda n: [hex(n), True],
        lambda result, n: (
            (n, tx.get("blockHash"), tx.get("hash"), tx.get("gasPrice"))
            for tx in (result or {}).get("transactions") or []
        ),
        TX_GAS_DDL,
    )


def merge_transaction_gas(traces: DataFrame, txs: DataFrame) -> DataFrame:
    """Reference ``_merge_block`` semantics: the TOP-LEVEL trace row of
    each transaction (traceAddress = [], the first row per tx in the
    reference's arrival order) inherits the chain transaction's
    gasPrice, ether-scaled like every reference money field
    (internal_transactions.py:297-301 divides gasPrice by 1e18 too).
    Sub-call and reward rows keep NULL. One equi-join on
    (transactionHash, blockHash); AQE broadcasts the tx dim while the
    ingested window is small."""
    dim = txs.select(
        F.col("hash").alias("_tx_hash"),
        F.col("blockHash").alias("_tx_bh"),
        (_hex_quantity(F.col("gasPrice_hex")).cast("double") / F.lit(1e18)).alias(
            "_gas_price"
        ),
    )
    joined = traces.join(
        dim,
        (traces["transactionHash"] == F.col("_tx_hash"))
        & (traces["blockHash"] == F.col("_tx_bh"))
        & (F.size("traceAddress") == 0),
        "left",
    )
    return joined.withColumn("gasPrice", F.col("_gas_price")).drop(
        "_tx_hash", "_tx_bh", "_gas_price"
    )


def fetch_block_timestamps(block_numbers: DataFrame, make_transport) -> DataFrame:
    """S9: block → timestamp dim. Block 0 has no timestamp on-node; the
    reference substitutes ETHEREUM_START_DATE (config.py:61)."""
    fetched = _rpc_frame(
        block_numbers.select("number"),
        make_transport,
        "eth_getBlockByNumber",
        lambda n: [hex(n), False],
        lambda result, n: [(n, (result or {}).get("timestamp"))],
        "number long, ts_hex string",
    )
    return fetched.select(
        F.col("number").cast("long").alias("number"),
        F.when(F.col("number") == 0, F.lit(GENESIS_TS).cast("timestamp"))
        .otherwise(F.timestamp_seconds(_hex_quantity(F.col("ts_hex")).cast("long")))
        .alias("timestamp"),
    ).withColumn("id", F.col("number").cast("string"))


EVENT_DDL = (
    "address string, topics array<string>, data string, blockNumber long, "
    "transactionHash string, transactionLogIndex int, logIndex int, "
    "blockHash string, type string"
)


def _event_row(log: dict) -> dict:
    return {
        "address": (log.get("address") or "").lower(),
        "topics": log.get("topics", []),
        "data": log.get("data"),
        "blockNumber": int(str(log["blockNumber"]), 0),
        "transactionHash": log.get("transactionHash"),
        "transactionLogIndex": int(str(log.get("transactionLogIndex", "0x0")), 0),
        "logIndex": int(str(log.get("logIndex", "0x0")), 0),
        "blockHash": log.get("blockHash"),
        "type": log.get("type", "mined"),
    }


def fetch_events(ranges: DataFrame, make_transport) -> DataFrame:
    """S10: eth_getLogs per [from, to) block range (reference
    operations/events.py:37-52 uses web3 filters over
    EVENTS_RANGE_SIZE-block windows).

    ``ranges`` is a ``(lo, hi)`` DataFrame
    (``incremental.block_ranges_frame``): range rows go
    scan→shuffle→task without ever touching the driver, spread over
    ``defaultParallelism`` tasks."""
    rng = ranges.select(
        F.col("lo").cast("long"), F.col("hi").cast("long")
    ).repartition(ranges.sparkSession.sparkContext.defaultParallelism)
    out = _rpc_frame(
        rng,
        make_transport,
        "eth_getLogs",
        # real eth_getLogs filter object; ranges here are half-open
        # [lo, hi) so toBlock (inclusive) = hi - 1
        lambda lo, hi: [{"fromBlock": hex(lo), "toBlock": hex(hi - 1)}],
        lambda result, lo, hi: (_event_row(log) for log in result or []),
        EVENT_DDL,
    )
    # event id = '{txHash}.{transactionLogIndex}' (reference operations/events.py:83)
    return out.withColumn(
        "id",
        F.concat_ws(".", F.col("transactionHash"), F.col("transactionLogIndex")),
    )
