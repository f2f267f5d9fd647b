"""Source adapters S6-S16: fixture-backed JSON-RPC (partition-parallel
mapInPandas fetch), HTTP enrichments with injected fetchers, genesis/
token file loads, CSV export."""

import json
from collections import Counter

import pytest
from pyspark.sql import functions as F

from ethereum_analytical_db_spark.sources import enrich, files, rpc


@pytest.fixture()
def rpc_fixtures(tmp_path):
    d = tmp_path / "rpc"
    d.mkdir()
    # trace_block for blocks 1 and 2 (hex param naming)
    traces_b1 = [
        {
            "transactionHash": "0xT1",
            "traceAddress": [],
            "type": "call",
            "action": {
                "callType": "call",
                "from": "0xAA",
                "to": "0xBB",
                "value": hex(2 * 10**18),
                "gas": "0x5208",
            },
            "result": {"gasUsed": "0x5208", "output": "0x"},
        },
        {
            "transactionHash": "0xT1",
            "traceAddress": [0],
            "type": "call",
            "action": {
                "callType": "call",
                "from": "0xBB",
                "to": "0xCC",
                "value": "0x0",
                "gas": "0x0",
            },
            "error": "Reverted",
        },
        {
            "transactionHash": "0xT1",
            "traceAddress": [0, 0],
            "type": "call",
            "action": {"callType": "call", "from": "0xCC", "to": "0xDD", "value": "0x0"},
        },
    ]
    (d / "trace_block_0x1.json").write_text(json.dumps(traces_b1))
    (d / "trace_block_0x2.json").write_text(json.dumps([]))
    (d / "eth_getBlockByNumber_0x0.json").write_text(json.dumps({"timestamp": None}))
    (d / "eth_getBlockByNumber_0x1.json").write_text(
        json.dumps({"timestamp": hex(1438269988)})
    )
    (d / "eth_getLogs_0-5.json").write_text(
        json.dumps(
            [
                {
                    "address": "0xToKeN",
                    "topics": ["0xddf2"],
                    "data": "0x01",
                    "blockNumber": "0x3",
                    "transactionHash": "0xT9",
                    "transactionLogIndex": "0x2",
                    "logIndex": "0x5",
                    "blockHash": "0xB3",
                    "type": "mined",
                }
            ]
        )
    )
    return str(d)


def test_fetch_and_decode_traces(spark, rpc_fixtures):
    blocks = spark.createDataFrame([(1,), (2,)], "number long")
    fixture_dir = rpc_fixtures
    raw = rpc.fetch_traces(blocks, lambda: rpc.FileJsonRpcTransport(fixture_dir))
    decoded = rpc.decode_traces(raw)
    rows = {r["id"]: r for r in decoded.collect()}
    assert len(rows) == 3  # block 2 empty
    assert rows["0xT1.0"]["value"] == 2.0  # wei → float ether
    assert rows["0xT1.0"]["gasUsed"] == 21000
    assert rows["0xT1.1"]["error"] == "Reverted"
    assert rows["0xT1.1"]["parent_error"] is None
    assert rows["0xT1.2"]["parent_error"] is True  # descendant of the revert


def test_fetch_block_timestamps_genesis_default(spark, rpc_fixtures):
    blocks = spark.createDataFrame([(0,), (1,)], "number long")
    fixture_dir = rpc_fixtures
    out = {
        r["number"]: r["timestamp"]
        for r in rpc.fetch_block_timestamps(
            blocks, lambda: rpc.FileJsonRpcTransport(fixture_dir)
        ).collect()
    }
    assert out[0].year == 2015 and out[0].month == 7  # ETHEREUM_START_DATE
    assert out[1].year == 2015 and out[1].month == 7 and out[1].day == 30


def test_fetch_events_builds_ids(spark, rpc_fixtures):
    fixture_dir = rpc_fixtures
    ranges = spark.createDataFrame([(0, 5)], "lo long, hi long")
    out = rpc.fetch_events(
        ranges, lambda: rpc.FileJsonRpcTransport(fixture_dir)
    ).collect()
    assert len(out) == 1
    ev = out[0]
    assert ev["id"] == "0xT9.2"  # txHash.transactionLogIndex
    assert ev["address"] == "0xtoken"  # lowercased (F8)
    assert ev["blockNumber"] == 3


def test_rpc_posts_are_bounded_batches(spark, tmp_path):
    """A backfill partition goes out as POSTs of at most RPC_BATCH_SIZE
    requests, not one POST per partition (real nodes cap batch sizes).
    Executors are separate processes, so the transport logs each POST's
    size to a file."""
    fixture_dir, log = str(tmp_path), str(tmp_path / "posts.log")
    for n in range(25):
        (tmp_path / f"eth_getBlockByNumber_{hex(n)}.json").write_text(
            json.dumps({"timestamp": hex(1_500_000_000 + n)})
        )

    def factory():
        inner = rpc.FileJsonRpcTransport(fixture_dir)

        class Logged:
            def post(self, batch):
                with open(log, "a") as fh:
                    fh.write(f"{len(batch)}\n")
                return inner.post(batch)

        return Logged()

    blocks = spark.range(0, 25, numPartitions=1).withColumnRenamed("id", "number")
    assert rpc.fetch_block_timestamps(blocks, factory).count() == 25
    sizes = [int(x) for x in (tmp_path / "posts.log").read_text().split()]
    assert sum(sizes) == 25
    assert max(sizes) <= rpc.RPC_BATCH_SIZE == 10


def test_fetch_block_transactions(spark, tmp_path):
    """eth_getBlockByNumber(n, full=True) → one row per transaction, an
    empty (or missing) block adds none; 12 blocks in one partition cross
    a batch boundary."""
    txs_per_block = {1: 0, 10: 12}  # every other block has one
    for n in range(12):
        if n == 5:
            continue  # no response body for block 5
        txs = [
            {"blockHash": f"0xB{n}", "hash": f"0xT{n}.{i}", "gasPrice": hex(n * 100 + i)}
            for i in range(txs_per_block.get(n, 1))
        ]
        (tmp_path / f"eth_getBlockByNumber_{hex(n)}.json").write_text(
            json.dumps({"transactions": txs})
        )
    fixture_dir = str(tmp_path)
    blocks = spark.range(0, 12, numPartitions=1).withColumnRenamed("id", "number")
    rows = rpc.fetch_block_transactions(
        blocks, lambda: rpc.FileJsonRpcTransport(fixture_dir)
    ).collect()
    got = sorted((r["blockNumber"], r["hash"], r["blockHash"], r["gasPrice_hex"]) for r in rows)
    want = sorted(
        (n, f"0xT{n}.{i}", f"0xB{n}", hex(n * 100 + i))
        for n in range(12) if n != 5
        for i in range(txs_per_block.get(n, 1))
    )
    assert got == want
    counts = Counter(r["blockNumber"] for r in rows)
    assert 1 not in counts and 5 not in counts  # empty / missing block: no rows
    assert counts[10] == 12 and len(rows) == 9 + 12


def test_host_routing():
    hosts = [(0, 100, "http://archive"), (100, None, "http://head")]
    assert rpc.pick_host(hosts, 5) == "http://archive"
    assert rpc.pick_host(hosts, 100) == "http://head"
    with pytest.raises(ValueError):
        rpc.pick_host([(10, 20, "x")], 5)


def test_contract_constants_fallback(spark):
    calls = []

    def call(addr, method, rtype):
        calls.append((addr, method, rtype))
        if method == "name" and rtype == "string":
            return None  # force bytes32 fallback
        if method == "name" and rtype == "bytes32":
            return "Token32"
        if method == "decimals":
            return None  # force placeholder default 18
        if method == "symbol":
            return "TKN"
        if method == "totalSupply":
            return 1000.0
        return None

    out = enrich.read_contract_constants(spark, ["0xA"], call).collect()[0]
    assert out["name"] == "Token32"
    assert out["decimals"] == 18  # DECIMALS_DEFAULT
    assert out["symbol"] == "TKN"
    assert ("0xA", "name", "string") in calls and ("0xA", "name", "bytes32") in calls


def test_abi_fetch_records_attempt(spark):
    out = {
        r["id"]: r
        for r in enrich.fetch_contract_abis(
            spark, ["0xA", "0xB"], lambda a: '[{"name":"transfer"}]' if a == "0xA" else None
        ).collect()
    }
    assert json.loads(out["0xA"]["abi"])[0]["name"] == "transfer"
    assert out["0xB"]["abi"] is None
    assert out["0xB"]["abi_extracted"] is True  # attempted → never retried


def test_daily_prices_ids(spark):
    hist = [{"time": 1438300800, "close": 1.5}, {"time": 1438387200, "close": 2.5}]
    out = enrich.fetch_daily_prices(
        spark, [("0xA", "ETH")], lambda sym: hist
    ).collect()
    ids = sorted(r["id"] for r in out)
    assert ids == ["0xA_2015-07-31", "0xA_2015-08-01"]


def test_genesis_and_csv_roundtrip(spark, tmp_path):
    gen = [
        {
            "hash": "GENESIS_0",
            "to": "0xAA",
            "from": None,
            "blockHash": "0xG",
            "blockNumber": 0,
            "value": str(5 * 10**18),
        }
    ]
    p = tmp_path / "genesis.json"
    p.write_text(json.dumps(gen))
    df = files.load_genesis(spark, str(p))
    row = df.collect()[0]
    assert row["value"] == 5.0 and row["blockNumber"] == 0

    out_csv = str(tmp_path / "balances.csv")
    files.export_csv(df.select("id", "to", "value"), out_csv)
    with open(out_csv) as f:
        lines = f.read().strip().splitlines()
    assert lines[0] == "id,to,value"
    assert lines[1].startswith("GENESIS_0,0xAA,5.0")


def test_retry_transport_bounded_backoff():
    """T6 (reference utils.py:22-30 repeat_on_exception, bounded here):
    transient failures retry with exponential backoff; a persistent
    failure surfaces the last error after `attempts` tries."""
    class Flaky:
        def __init__(self, fail_times):
            self.fail_times = fail_times
            self.calls = 0

        def post(self, batch):
            self.calls += 1
            if self.calls <= self.fail_times:
                raise ConnectionError(f"boom {self.calls}")
            return [{"id": r["id"], "result": "ok"} for r in batch]

    sleeps = []
    t = rpc.RetryTransport(Flaky(2), attempts=5, base_sleep_s=1.0,
                           sleep=sleeps.append)
    out = t.post([{"id": 0}])
    assert out == [{"id": 0, "result": "ok"}]
    assert sleeps == [1.0, 2.0]  # exponential

    sleeps2 = []
    t2 = rpc.RetryTransport(Flaky(99), attempts=3, base_sleep_s=1.0,
                            sleep=sleeps2.append)
    import pytest
    with pytest.raises(ConnectionError, match="boom 3"):
        t2.post([{"id": 0}])
    assert sleeps2 == [1.0, 2.0]  # no sleep after the final attempt


def test_export_jsonl_shards_roundtrip(spark, tmp_path):
    """JSONL shard export: row-budget sharding produces the expected
    file count, content round-trips, gzip parts read back, and
    order_by yields contiguous key ranges per shard."""
    import glob
    import json
    import os

    from ethereum_analytical_db_spark.sources.files import export_jsonl

    df = spark.range(100).selectExpr("id AS doc_id", "concat('text-', id) AS text")
    out = str(tmp_path / "corpus_jsonl")
    shards = export_jsonl(df, out, shard_max_rows=30)
    assert shards == 4  # ceil(100/30)
    back = spark.read.json(out)
    assert back.count() == 100
    assert {r["doc_id"] for r in back.collect()} == set(range(100))

    gz = str(tmp_path / "corpus_gz")
    export_jsonl(df, gz, shard_max_rows=50, compress=True)
    assert glob.glob(os.path.join(gz, "part-*.gz"))
    assert spark.read.json(gz).count() == 100

    ordered = str(tmp_path / "corpus_ordered")
    export_jsonl(df, ordered, shard_max_rows=25, order_by="doc_id")
    ranges = []
    for part in sorted(glob.glob(os.path.join(ordered, "part-*"))):
        ids = [json.loads(line)["doc_id"] for line in open(part)]
        assert ids == sorted(ids)  # sorted within shard
        if ids:
            ranges.append((min(ids), max(ids)))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # contiguous, non-overlapping key ranges


def test_decode_traces_large_values_and_reward_ids(spark):
    """Two silent-corruption regressions: (1) values above 2^64-1 wei
    (~18.45 ETH) must decode exactly — conv() is unsigned-64-bit and
    wraps; (2) reward traces (null transactionHash) key their ids off
    blockHash like the reference, so two blocks' rewards can never
    collide on id and last-write-wins can never cross-replace them."""
    from ethereum_analytical_db_spark.sources.rpc import (
        TRACE_DDL,
        _flatten_trace,
        decode_traces,
    )

    def t(block, bh, tx, value, trace_addr=(), ttype="call", **kw):
        raw = {
            "blockHash": bh,
            "traceAddress": list(trace_addr),
            "type": ttype,
            "action": {"value": value, **kw},
            "result": {"gasUsed": "0x5208"},
        }
        return _flatten_trace(block, tx, raw)

    hundred_eth = hex(100 * 10**18)  # > 2^64-1 wei
    rows = [
        t(1, "0xb1", "0xtxA", hundred_eth),
        t(1, "0xb1", None, "0x0", ttype="reward", rewardType="block", author="0xm1"),
        t(2, "0xb2", None, "0x0", ttype="reward", rewardType="block", author="0xm2"),
    ]
    df = spark.createDataFrame(
        [tuple(r[f] for f in __import__("ethereum_analytical_db_spark.sources.rpc", fromlist=["TRACE_FIELDS"]).TRACE_FIELDS) for r in rows],
        TRACE_DDL,
    )
    out = {r["id"]: r for r in decode_traces(df).collect()}
    assert out["0xtxA.0"]["value"] == 100.0  # exact, not ~18.45 wrapped
    # reward ids are blockHash-scoped: distinct across blocks, stable
    assert "0xb1.0" in out and "0xb2.0" in out
    assert out["0xb1.0"]["author"] == "0xm1"
    assert out["0xb2.0"]["author"] == "0xm2"


def test_merge_transaction_gas_top_level_only(spark):
    """Reference _merge_block parity: gasPrice lands on each tx's
    top-level trace row only (ether-scaled), sub-calls and rewards stay
    NULL, unmatched hashes stay NULL."""
    from ethereum_analytical_db_spark.sources.rpc import (
        TRACE_DDL,
        TRACE_FIELDS,
        TX_GAS_DDL,
        _flatten_trace,
        decode_traces,
        merge_transaction_gas,
    )

    def t(block, bh, tx, addr):
        raw = {"blockHash": bh, "traceAddress": addr, "type": "call",
               "action": {"value": "0x0"}, "result": {"gasUsed": "0x5208"}}
        return _flatten_trace(block, tx, raw)

    traces = spark.createDataFrame(
        [tuple(r[f] for f in TRACE_FIELDS)
         for r in (t(1, "0xb1", "0xtxA", []), t(1, "0xb1", "0xtxA", [0]),
                   t(1, "0xb1", "0xtxB", []))],
        TRACE_DDL,
    )
    txs = spark.createDataFrame(
        [(1, "0xb1", "0xtxA", hex(20 * 10**9))],  # 20 gwei
        TX_GAS_DDL,
    )
    out = {(r["transactionHash"], tuple(r["traceAddress"])): r["gasPrice"]
           for r in merge_transaction_gas(decode_traces(traces), txs).collect()}
    assert out[("0xtxA", ())] == 20e9 / 1e18  # ether-scaled, reference units
    assert out[("0xtxA", (0,))] is None  # sub-call: no gasPrice
    assert out[("0xtxB", ())] is None  # no chain tx row fetched


def test_export_jsonl_deterministic_shuffle(spark, tmp_path):
    """shuffle_by: the exported stream is the corpus ordered by
    md5(id || salt) — same permutation on re-export (restart-stable),
    different permutation under a different salt (next epoch), no key
    column leaked into the JSON, and order_by+shuffle_by rejected."""
    import glob
    import hashlib
    import json
    import os

    import pytest

    from ethereum_analytical_db_spark.sources.files import export_jsonl

    df = spark.range(100).selectExpr("id AS doc_id", "concat('text-', id) AS text")

    def read_stream(path):
        rows = []
        for part in sorted(glob.glob(os.path.join(path, "part-*"))):
            rows += [json.loads(line) for line in open(part)]
        return rows

    out = str(tmp_path / "shuf")
    export_jsonl(df, out, shard_max_rows=25, shuffle_by="doc_id")
    rows = read_stream(out)
    assert sorted(r["doc_id"] for r in rows) == list(range(100))
    assert all(set(r) == {"doc_id", "text"} for r in rows)  # no _shuffle_key
    want = sorted(range(100), key=lambda i: hashlib.md5(f"{i}shuffle".encode()).hexdigest())
    # shard files sort lexicographically in range order, so the
    # concatenated stream IS the global md5 order
    assert [r["doc_id"] for r in rows] == want

    out2 = str(tmp_path / "shuf2")
    export_jsonl(df, out2, shard_max_rows=25, shuffle_by="doc_id")
    assert [r["doc_id"] for r in read_stream(out2)] == want  # restart-stable

    epoch2 = str(tmp_path / "epoch2")
    export_jsonl(df, epoch2, shard_max_rows=25, shuffle_by="doc_id", shuffle_salt="epoch2")
    perm2 = [r["doc_id"] for r in read_stream(epoch2)]
    assert sorted(perm2) == list(range(100)) and perm2 != want

    with pytest.raises(ValueError, match="mutually exclusive"):
        export_jsonl(df, str(tmp_path / "x"), order_by="doc_id", shuffle_by="doc_id")


def test_export_jsonl_shuffle_keeps_units_whole_and_ordered(spark, tmp_path):
    """shuffle_within_order: shuffling packed sequences by seq_id keeps
    each sequence's rows adjacent (equal keys range-partition together)
    and in seq_pos order, while the sequence-level stream follows the
    salted-md5 permutation."""
    import glob
    import hashlib
    import itertools
    import json
    import os

    from ethereum_analytical_db_spark.sources.files import export_jsonl

    rows = [
        {"seq_id": s, "seq_pos": p, "tok": f"{s}:{p}"}
        for s in range(30)
        for p in range(4)
    ]
    df = spark.createDataFrame(rows, "seq_id long, seq_pos long, tok string")
    out = str(tmp_path / "packed_shuf")
    export_jsonl(
        df, out, shard_max_rows=40, shuffle_by="seq_id",
        shuffle_salt="e1", within_order="seq_pos",
    )
    stream = []
    for part in sorted(glob.glob(os.path.join(out, "part-*"))):
        stream += [json.loads(line) for line in open(part)]
    units = [(sid, [r["seq_pos"] for r in grp]) for sid, grp in
             itertools.groupby(stream, key=lambda r: r["seq_id"])]
    assert len(units) == 30  # each sequence appears exactly once, whole
    assert all(pos == [0, 1, 2, 3] for _, pos in units)  # reading order
    want = sorted(range(30), key=lambda s: hashlib.md5(f"{s}e1".encode()).hexdigest())
    assert [sid for sid, _ in units] == want


def test_export_jsonl_within_order_and_collision_guard(spark, tmp_path):
    """within_order also applies under plain order_by (tie order under
    the primary sort alone is undefined — review find), and a real
    input column named _shuffle_key is refused rather than silently
    overwritten and dropped."""
    import glob
    import itertools
    import json
    import os

    import pytest

    from ethereum_analytical_db_spark.sources.files import export_jsonl

    rows = [
        {"seq_id": s, "seq_pos": p, "tok": f"{s}:{p}"}
        for s in range(20)
        for p in range(4)
    ]
    df = spark.createDataFrame(rows, "seq_id long, seq_pos long, tok string")
    # adversarial upstream order so a missing secondary sort shows
    df = df.orderBy("tok")
    out = str(tmp_path / "ordered_within")
    export_jsonl(df, out, shard_max_rows=30, order_by="seq_id", within_order="seq_pos")
    stream = []
    for part in sorted(glob.glob(os.path.join(out, "part-*"))):
        stream += [json.loads(line) for line in open(part)]
    units = [(sid, [r["seq_pos"] for r in grp]) for sid, grp in
             itertools.groupby(stream, key=lambda r: r["seq_id"])]
    assert [sid for sid, _ in units] == list(range(20))  # contiguous ranges
    assert all(pos == [0, 1, 2, 3] for _, pos in units)  # reading order

    clash = df.withColumnRenamed("tok", "_shuffle_key")
    with pytest.raises(ValueError, match="_shuffle_key"):
        export_jsonl(clash, str(tmp_path / "x"), shuffle_by="seq_id")
