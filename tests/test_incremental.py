"""Incremental sync protocol T1-T5/T8 (SURVEY §2.9) — flag-driven
resumable batches over the warehouse, mirroring the reference's
block_flag/contract_block semantics."""

import re
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import ethereum_analytical_db_spark
from ethereum_analytical_db_spark.catalog import Warehouse
from ethereum_analytical_db_spark.streaming import incremental as inc

PKG = Path(ethereum_analytical_db_spark.__file__).parent


@pytest.fixture()
def wh(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "wh"))
    w.create("block")
    w.create("block_flag")
    w.create("contract_block")
    return w


def _ids(wh, ids):
    return wh.spark.createDataFrame([(str(b),) for b in ids], "id string")


def _write_blocks(wh, numbers):
    rows = [Row(id=str(n), number=n, timestamp=None) for n in numbers]
    wh.write(
        "block",
        wh.spark.createDataFrame(rows, "id string, number long, timestamp timestamp"),
    )


def test_unprocessed_blocks_anti_join(wh):
    _write_blocks(wh, range(10))
    inc.write_block_flags(wh, _ids(wh, [0, 1, 2]), "traces_extracted")
    left = inc.unprocessed_blocks(
        wh.read("block"), wh.read("block_flag"), "traces_extracted"
    )
    assert sorted(int(r["id"]) for r in left.select("id").collect()) == list(range(3, 10))
    # a different flag name does not interfere (composite (id, name) key)
    left_ev = inc.unprocessed_blocks(
        wh.read("block"), wh.read("block_flag"), "events_extracted"
    )
    assert left_ev.count() == 10


def test_flag_replay_is_idempotent(wh):
    _write_blocks(wh, range(5))
    inc.write_block_flags(wh, _ids(wh, [1, 2]), "traces_extracted")
    inc.write_block_flags(wh, _ids(wh, [1, 2]), "traces_extracted")  # crash-replay
    flags = wh.read("block_flag")  # FINAL dedup by (id, name)
    assert flags.filter(F.col("name") == "traces_extracted").count() == 2
    assert inc.max_flagged_block(flags, "traces_extracted") == 2


def test_block_ranges_bucketing(wh):
    _write_blocks(wh, [0, 1, 4, 5, 9, 23])
    ranges = sorted(
        (r["lo"], r["hi"])
        for r in inc.block_ranges_frame(wh.read("block"), 5).collect()
    )
    assert ranges == [(0, 5), (5, 10), (20, 25)]


def test_block_ranges_driver_memory_bounded(spark, monkeypatch):
    """Full-chain-backfill shape: the range micro-batches over a
    2M-block frame are a distributed frame that the backfill path
    (extract_events) fans out directly — building it never collect()s
    the range set to the driver."""
    from pyspark.sql import DataFrame

    blocks = spark.range(0, 2_000_000).withColumnRenamed("id", "number")
    monkeypatch.setattr(
        DataFrame,
        "collect",
        lambda self: (_ for _ in ()).throw(
            AssertionError("block_ranges_frame must not collect() the range set")
        ),
    )
    frame = inc.block_ranges_frame(blocks, 5)
    monkeypatch.undo()
    assert frame.count() == 400_000


def test_sync_loop_converges(wh):
    """Two passes: first processes everything and flags it; the second
    finds nothing left (the reference's steady-state synchronize loop)."""
    _write_blocks(wh, range(6))
    processed_per_pass = []

    def stage(w):
        todo = inc.unprocessed_blocks(
            w.read("block"), w.read("block_flag"), "traces_extracted"
        )
        ids = [r["id"] for r in todo.select("id").collect()]
        processed_per_pass.append(len(ids))
        if ids:  # data write would happen here, THEN the flag write
            inc.write_block_flags(w, _ids(w, ids), "traces_extracted")

    pipe = inc.SyncPipeline(wh, [("traces", stage)])
    pipe.run_once()
    pipe.run_once()
    assert processed_per_pass == [6, 0]
    assert pipe.passes == 2


def test_contract_watermark_slicing(wh):
    txs = wh.spark.createDataFrame(
        [
            Row(to="0xA", blockNumber=5),
            Row(to="0xA", blockNumber=11),
            Row(to="0xB", blockNumber=3),
            Row(to="0xC", blockNumber=4),  # unwatched contract
            Row(to="0xA", blockNumber=99),  # beyond global high-water
        ]
    )
    inc.advance_watermarks(wh, _ids(wh, ["0xA"]), "tx_input_block", 10)
    inc.advance_watermarks(wh, _ids(wh, ["0xB"]), "tx_input_block", 0)
    todo = inc.parse_inputs_todo(wh, _ids(wh, ["0xA", "0xB"]), "tx_input_block", 50)
    out = inc.watermark_slice(txs, todo, max_block=50, addr_col="to")
    got = sorted((r["to"], r["blockNumber"]) for r in out.collect())
    assert got == [("0xA", 11), ("0xB", 3)]


def test_watermark_advance_last_write_wins(wh):
    inc.advance_watermarks(wh, _ids(wh, ["0xA"]), "op_block", 10)
    inc.advance_watermarks(wh, _ids(wh, ["0xA"]), "op_block", 20)
    wm = inc.parse_inputs_todo(wh, _ids(wh, ["0xA"]), "op_block", 30).collect()
    assert len(wm) == 1 and wm[0]["last_block"] == 20


def test_watermark_slice_plan_broadcasts_dim(spark, tmp_path):
    """The parse-inputs incremental slice must broadcast the tiny
    watermark dim against the fact table — a shuffled or nested-loop
    join here would be the 100 TB bottleneck."""
    from ethereum_analytical_db_spark import __main__ as cli
    from ethereum_analytical_db_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write("contract_block", spark.createDataFrame(
        [("0xtok", cli.TX_INPUT_FLAG, 5)], "id string, name string, value long"
    ))
    txs = spark.createDataFrame(
        [("0xT.0", 6, "0xtok")], "id string, blockNumber long, `to` string"
    )
    abi_ids = spark.createDataFrame([("0xtok",)], "id string")
    todo = inc.parse_inputs_todo(wh, abi_ids, cli.TX_INPUT_FLAG, 10)
    got = [(r["id"], r["last_block"]) for r in todo.collect()]
    assert got == [("0xtok", 5)]  # behind max_block → in the to-do set
    sliced = inc.watermark_slice(txs, todo, 10, "to")
    assert sliced.count() == 1  # block 6 is above the watermark (5)
    plan = sliced._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_sync_steps_have_one_implementation():
    """One implementation per sync step: one JSON-RPC fetch loop in
    rpc.py, no test-only twins of the watermark slice, the range
    micro-batcher, the ABI decode or the enrichment pager, and the
    per-contract watermark table is read and written by the watermark
    protocol alone. A second copy has to change this test."""
    sources = {p.relative_to(PKG).as_posix(): p.read_text() for p in PKG.rglob("*.py")}
    assert sources["sources/rpc.py"].count("mapInPandas(") == 1
    twins = re.compile(
        r"def (transactions_after_watermark|block_ranges|decode_inputs|_pages)\("
    )
    assert [m for m, src in sorted(sources.items()) if twins.search(src)] == []
    touch = re.compile(r"\.(read|write|exists)\(\s*\"contract_block\"")
    assert [m for m, src in sorted(sources.items()) if touch.search(src)] == [
        "streaming/incremental.py"
    ]
