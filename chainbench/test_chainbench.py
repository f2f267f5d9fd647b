"""Checks of the benchmark's own input generators and span arithmetic.

Run with ``python3 -m pytest chainbench -q`` from the repository root
(no Spark session needed).
"""

from __future__ import annotations

import filecmp
import json
import math
import os
from collections import defaultdict

import pytest

from chainbench.chainsim import TRANSFER_TOPIC, WEI, ChainSim
from chainbench.measure import Op, op_layers, percentile
from chainbench.tables import write_tables
from chainbench.tracing import Job, union_ms


def _same_tree(a, b) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_same_seed_gives_identical_fixtures(tmp_path):
    dirs = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        sim = ChainSim(seed, str(tmp_path / name), txs_per_block=3)
        sim.mine(12)
        sim.mine(30)
        dirs.append(str(tmp_path / name))
    assert _same_tree(dirs[0], dirs[1])
    assert not _same_tree(dirs[0], dirs[2])


def test_same_seed_gives_identical_tables(tmp_path):
    write_tables(str(tmp_path / "a"), 3, 0.001)
    write_tables(str(tmp_path / "b"), 3, 0.001)
    write_tables(str(tmp_path / "c"), 4, 0.001)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def _load(d, name):
    with open(os.path.join(d, name)) as fh:
        return json.load(fh)


def _hand_balances(d: str, head: int) -> tuple[dict, set]:
    """BALANCES_SQL recomputed straight from the fixture files: income
    and outcome of calls neither failed nor under a failed ancestor,
    rewards, fees of each transaction's top-level trace (gasUsed times
    the transaction's gasPrice), and each block's fees to its miner."""
    total: dict[str, int] = defaultdict(int)
    universe: set[str] = set()
    for n in range(1, head + 1):
        traces = _load(d, f"trace_block_{hex(n)}.json")
        block = _load(d, f"eth_getBlockByNumber_{hex(n)}.json")
        price = {tx["hash"]: int(tx["gasPrice"], 16) for tx in block["transactions"]}
        failed = [(t["transactionHash"], t["traceAddress"]) for t in traces if t.get("error")]
        block_fee = 0
        for t in traces:
            a = t["action"]
            frm, to = a.get("from"), a.get("to")
            universe |= {x for x in (frm, to, a.get("author")) if x}
            value = int(a.get("value", "0x0"), 16)
            if t["type"] == "reward":
                total[a["author"]] += value
                continue
            under_failed = any(
                h == t["transactionHash"] and len(p) < len(t["traceAddress"])
                and t["traceAddress"][: len(p)] == p
                for h, p in failed
            )
            if not t.get("error") and not under_failed:
                total[frm] -= value
                if to:
                    total[to] += value
            if t["traceAddress"] == [] and t.get("result"):
                fee = int(t["result"]["gasUsed"], 16) * price[t["transactionHash"]]
                total[frm] -= fee
                block_fee += fee
        for t in traces:
            if t["type"] == "reward" and t["action"]["rewardType"] == "block":
                total[t["action"]["author"]] += block_fee
    return {a: max(total[a], 0) / WEI for a in universe}, universe


def test_ledger_matches_balances_recomputed_from_fixtures(tmp_path):
    d = str(tmp_path / "rpc")
    sim = ChainSim(11, d, txs_per_block=8, range_size=10)
    sim.mine(4)
    sim.mine(23)
    want, universe = _hand_balances(d, 23)
    assert universe == sim.universe
    assert {a: sim.balance(a) for a in universe} == want
    assert sim.balance("0x" + "ab" * 20) is None
    # the chain exercises every branch the SQL distinguishes
    kinds = set()
    for n in range(1, 24):
        for t in _load(d, f"trace_block_{hex(n)}.json"):
            kinds.add((t["type"], bool(t.get("error")), len(t["traceAddress"])))
    assert {("create", False, 0), ("reward", False, 0), ("call", False, 0),
            ("call", True, 0), ("call", True, 1), ("call", False, 2)} <= kinds


def test_token_ledger_matches_transfer_logs(tmp_path):
    d = str(tmp_path / "rpc")
    sim = ChainSim(5, d, txs_per_block=8, range_size=10)
    sim.mine(25)
    flows = {t: defaultdict(int) for t in sim.tokens}
    for lo in (0, 10, 20):
        for log in _load(d, f"eth_getLogs_{lo}-{lo + 10}.json"):
            assert lo <= int(log["blockNumber"], 16) < lo + 10
            if log["topics"][0] != TRANSFER_TOPIC:
                continue
            amount = int(log["data"], 16)
            flows[log["address"]]["0x" + log["topics"][1][26:]] -= amount
            flows[log["address"]]["0x" + log["topics"][2][26:]] += amount
    for t in sim.tokens:
        scale = 10.0 ** sim.decimals[t]
        assert sim.token_balances(t) == {a: v / scale for a, v in flows[t].items()}
        assert sum(flows[t].values()) == 0


def test_log_windows_never_hold_unmined_blocks(tmp_path):
    d = str(tmp_path / "rpc")
    sim = ChainSim(2, d, txs_per_block=6, range_size=1000)
    sim.mine(5)
    first = _load(d, "eth_getLogs_0-1000.json")
    assert first and max(int(x["blockNumber"], 16) for x in first) <= 5
    assert _load(d, "eth_blockNumber_.json") == hex(5)
    sim.mine(9)
    second = _load(d, "eth_getLogs_0-1000.json")
    assert second[: len(first)] == first
    assert max(int(x["blockNumber"], 16) for x in second) <= 9


def test_union_and_self_time_cover_the_op_exactly():
    assert union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    op = Op("q0", "demo", True, start=0.0, end=100.0, spans=[
        ("plans.build", 0.0, 40.0),
        ("collect", 40.0, 95.0),
        ("catalyst.analysis", 5.0, 10.0),
        ("catalyst.optimization", 40.0, 50.0),
    ])
    jobs = {
        "q0/build": [Job("q0/build", 20.0, 30.0)],
        "q0/collect": [Job("q0/collect", 55.0, 90.0)],
    }
    out = op_layers(op, jobs, {})
    assert out["self.exec_ms"] == 45
    assert out["self.catalyst_ms"] == 15
    assert out["self.plans_ms"] == 25
    assert out["self.collect_ms"] == 10
    assert out["trace.residual_ms"] == 5
    assert out["plans.build_self_ms"] == 30
    assert out["plans.build_jobs"] == 1
    assert out["exec.driver_gap_ms"] == 20
    assert out["collect.tail_ms"] == 5


def test_percentile_weights_every_order_statistic():
    assert percentile([1.0, 3.0], 50) == pytest.approx(2.0)
    assert percentile([5.0] * 7, 90) == pytest.approx(5.0)
    assert percentile(list(range(1, 12)), 50) == pytest.approx(6.0)
    # n = 3: Beta(2, 2) weights the order statistics 7/27, 13/27, 7/27
    assert percentile([27.0, 0.0, 0.0], 50) == pytest.approx(7.0, rel=1e-4)
    assert percentile([4.0], 90) == 4.0
    assert math.isnan(percentile([], 50))
