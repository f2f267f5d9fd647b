"""Seeded synthetic chain for the ``chain_sync`` workload.

:class:`ChainSim` plays an Ethereum node behind the engine's fixture
transport (``sources.rpc.FileJsonRpcTransport``): :meth:`ChainSim.mine`
appends blocks and writes their ``eth_getBlockByNumber`` (timestamp and
transaction gas prices), ``trace_block`` (call, create and reward traces,
with failed calls and their failed-parent descendants) and
``eth_getLogs`` (ERC-20 ``Transfer`` plus unrelated ``Approval`` logs)
files, then moves ``eth_blockNumber`` to the new head. ``eth_getLogs``
files are keyed by aligned ``[lo, hi)`` windows, so each mining step
rewrites only the windows it touched and never exposes logs of blocks
not mined yet.

Alongside the fixtures it keeps a ground-truth ledger with the semantics
of ``serving.api.BALANCES_SQL`` (income − outcome + reward − fee +
fee_reward, floored at 0, failed calls and their descendants excluded,
fees on each transaction's top-level trace) and ``TOKEN_BALANCES_SQL``
(received − sent per token, scaled by the token's decimals), so every
read the benchmark makes can be checked.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

import numpy as np

TRANSFER_TOPIC = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
APPROVAL_TOPIC = "0x8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925"
ZERO_ADDRESS = "0x" + "0" * 40
# runtime bytecode containing every ERC-20 selector, so the contracts view
# flags it ``standard_erc20`` (totalSupply, balanceOf, allowance, transfer,
# transferFrom, approve)
ERC20_CODE = "0x6060" + "18160ddd70a08231dd62ed3ea9059cbb23b872dd095ea7b3"
PLAIN_CODE = "0x60606040"
WEI = 10**18
BLOCK_REWARD = 2 * WEI
UNCLE_REWARD = 3 * WEI // 2
GENESIS_TS = 1_600_000_000


def _pad_topic(address: str) -> str:
    return "0x" + "0" * 24 + address[2:]


def _word(value: int) -> str:
    return "0x" + format(value, "x").rjust(64, "0")


class ChainSim:
    """A chain whose blocks are decided by ``seed`` alone.

    ``txs_per_block`` transactions per block over ``n_accounts`` accounts,
    ``n_tokens`` ERC-20 contracts deployed in block 1. ``range_size`` must
    match the sync pipeline's ``--range-size``.
    """

    def __init__(
        self,
        seed: int,
        fixture_dir: str,
        txs_per_block: int = 6,
        n_accounts: int = 48,
        n_tokens: int = 3,
        range_size: int = 1000,
    ):
        self.rng = np.random.default_rng(seed)
        self.dir = fixture_dir
        self.txs_per_block = txs_per_block
        self.range_size = range_size
        os.makedirs(fixture_dir, exist_ok=True)
        self.accounts = [self._address() for _ in range(n_accounts)]
        self.miners = [self._address() for _ in range(3)]
        self.deployer = self.accounts[0]
        self.tokens = [self._address() for _ in range(n_tokens)]
        self.decimals = {t: int(d) for t, d in zip(self.tokens, [18, 6, 9, 0, 12])}
        self.relay = self._address()  # plain contract forwarding ether
        self.head = -1
        self.last_touched: list[str] = []
        # ledger, wei-exact integers per BALANCES_SQL component
        self.income: dict[str, int] = defaultdict(int)
        self.outcome: dict[str, int] = defaultdict(int)
        self.reward: dict[str, int] = defaultdict(int)
        self.fee: dict[str, int] = defaultdict(int)  # gasUsed * gasPrice wei
        self.fee_reward: dict[str, int] = defaultdict(int)
        self.universe: set[str] = set()
        self.token_flow: dict[str, dict[str, int]] = {
            t: defaultdict(int) for t in self.tokens
        }
        self._logs: dict[int, list[dict]] = defaultdict(list)

    # ---- identifiers -------------------------------------------------
    def _hex(self, nbytes: int) -> str:
        return "0x" + self.rng.bytes(nbytes).hex()

    def _address(self) -> str:
        return self._hex(20)

    def _pick(self, seq):
        return seq[int(self.rng.integers(0, len(seq)))]

    # ---- fixtures ----------------------------------------------------
    def _dump(self, name: str, obj) -> None:
        tmp = os.path.join(self.dir, f".{name}.tmp")
        with open(tmp, "w") as fh:
            json.dump(obj, fh, separators=(",", ":"))
        os.replace(tmp, os.path.join(self.dir, name))

    def token_constants(self) -> dict:
        """``--constants-json`` payload: eth_call results per token."""
        return {
            t: {
                "name": f"Token{i}",
                "symbol": f"TK{i}",
                "decimals": self.decimals[t],
                "totalSupply": float(10**6 * 10 ** self.decimals[t]),
                "owner": self.deployer,
            }
            for i, t in enumerate(self.tokens)
        }

    def mine(self, new_head: int) -> list[int]:
        """Mine blocks ``head+1 .. new_head``; return the touched windows."""
        windows = set()
        touched: set[str] = set()
        for n in range(self.head + 1, new_head + 1):
            self._mine_block(n, touched)
            windows.add(n // self.range_size)
        for w in sorted(windows):
            lo = w * self.range_size
            self._dump(f"eth_getLogs_{lo}-{lo + self.range_size}.json", self._logs[w])
        self.head = new_head
        self._dump("eth_blockNumber_.json", hex(new_head))
        self.last_touched = sorted(touched)
        return sorted(windows)

    def _mine_block(self, n: int, touched: set[str]) -> None:
        if n == 0:
            self._dump("eth_getBlockByNumber_0x0.json", {"timestamp": None, "transactions": []})
            self._dump("trace_block_0x0.json", [])
            return
        bh = self._hex(32)
        traces: list[dict] = []
        txs: list[dict] = []
        block_fee = 0
        plans = self._deploy_plan() if n == 1 else [None] * self.txs_per_block
        for log_pos, plan in enumerate(plans):
            th = self._hex(32)
            gas_price = int(self.rng.integers(1, 101)) * 10**9
            gas_used = int(self.rng.integers(21_000, 90_000))
            txs.append({"hash": th, "blockHash": bh, "gasPrice": hex(gas_price)})
            sender, tx_traces, logs = self._transaction(plan, th, bh, gas_used)
            traces.extend(tx_traces)
            touched.update(a for t in tx_traces for a in (t["action"].get("from"), t["action"].get("to")) if a)
            # fee: gasUsed * gasPrice on the top-level trace, failed or not
            if tx_traces[0].get("result") is not None:
                self.fee[sender] += gas_used * gas_price
                block_fee += gas_used * gas_price
            for k, log in enumerate(logs):
                log.update({
                    "blockNumber": hex(n), "transactionHash": th, "blockHash": bh,
                    "transactionLogIndex": hex(k), "logIndex": hex(log_pos * 8 + k),
                    "type": "mined",
                })
                self._logs[n // self.range_size].append(log)
        miner = self.miners[n % len(self.miners)]
        traces.append(self._reward(bh, miner, "block", BLOCK_REWARD))
        self.fee_reward[miner] += block_fee
        touched.add(miner)
        if self.rng.random() < 0.1:
            uncle = self.miners[(n + 1) % len(self.miners)]
            traces.append(self._reward(bh, uncle, "uncle", UNCLE_REWARD))
        self._dump(
            f"eth_getBlockByNumber_{hex(n)}.json",
            {"timestamp": hex(GENESIS_TS + 13 * n), "transactions": txs},
        )
        self._dump(f"trace_block_{hex(n)}.json", traces)

    def _deploy_plan(self) -> list:
        return [("create", t) for t in self.tokens] + [("create", self.relay)]

    def _reward(self, bh: str, author: str, kind: str, value: int) -> dict:
        self.reward[author] += value
        self.universe.add(author)
        return {
            "blockHash": bh, "transactionHash": None, "traceAddress": [],
            "type": "reward", "result": None,
            "action": {"author": author, "rewardType": kind, "value": hex(value)},
        }

    def _call(self, th, bh, addr, frm, to, value, gas_used, error=None, booked=True) -> dict:
        """A call trace; ``booked=False`` for calls under a failed parent,
        which BALANCES_SQL excludes through ``parent_error``."""
        self.universe.update((frm, to))
        t = {
            "transactionHash": th, "blockHash": bh, "traceAddress": addr,
            "type": "call",
            "action": {"callType": "call", "from": frm, "to": to,
                       "value": hex(value), "gas": hex(gas_used + 10_000), "input": "0x"},
            "result": None if error else {"gasUsed": hex(gas_used), "output": "0x"},
        }
        if error:
            t["error"] = error
        elif booked:
            self.outcome[frm] += value
            self.income[to] += value
        return t

    def _transaction(self, plan, th, bh, gas_used):
        """One transaction's traces and logs; returns (sender, traces, logs)."""
        if plan is not None:  # contract deployment
            _, address = plan
            self.universe.add(self.deployer)
            code = ERC20_CODE if address in self.token_flow else PLAIN_CODE
            trace = {
                "transactionHash": th, "blockHash": bh, "traceAddress": [],
                "type": "create",
                "action": {"from": self.deployer, "value": "0x0", "init": "0x6080"},
                "result": {"gasUsed": hex(gas_used), "address": address, "code": code},
            }
            logs = []
            if address in self.token_flow:
                for holder in self.accounts[:8]:
                    amount = int(self.rng.integers(10**4, 10**6)) * 10 ** self.decimals[address]
                    logs.append(self._transfer_log(address, ZERO_ADDRESS, holder, amount))
            return self.deployer, [trace], logs
        sender, receiver = self._pick(self.accounts), self._pick(self.accounts)
        value = int(self.rng.integers(1, 5000)) * 10**14
        kind = self.rng.random()
        if kind < 0.05:  # reverted top-level call: no fee (no gasUsed), nothing moves
            return sender, [self._call(th, bh, [], sender, receiver, value, gas_used, "Reverted")], []
        if kind < 0.55:  # plain ether transfer
            return sender, [self._call(th, bh, [], sender, receiver, value, gas_used)], []
        if kind < 0.80:  # ERC-20 transfer through the token contract
            token = self._pick(self.tokens)
            top = self._call(th, bh, [], sender, token, 0, gas_used)
            amount = int(self.rng.integers(1, 10**5)) * 10 ** max(0, self.decimals[token] - 2)
            logs = [self._transfer_log(token, sender, receiver, amount)]
            if self.rng.random() < 0.2:
                logs.append(self._approval_log(token, sender, receiver))
            return sender, [top], logs
        # relayed transfer: the relay forwards half the value; in 40 % of
        # cases the forward fails and the refund nested under it is
        # excluded through parent_error
        top = self._call(th, bh, [], sender, self.relay, value, gas_used)
        if self.rng.random() < 0.4:
            fwd = self._call(th, bh, [0], self.relay, receiver, value // 2, 0, "Out of gas")
            refund = self._call(th, bh, [0, 0], receiver, sender, value // 4, 0, booked=False)
            return sender, [top, fwd, refund], []
        fwd = self._call(th, bh, [0], self.relay, receiver, value // 2, 5_000)
        return sender, [top, fwd], []

    def _transfer_log(self, token, frm, to, amount) -> dict:
        self.token_flow[token][to] += amount
        self.token_flow[token][frm] -= amount
        return {"address": token, "topics": [TRANSFER_TOPIC, _pad_topic(frm), _pad_topic(to)],
                "data": _word(amount)}

    def _approval_log(self, token, owner, spender) -> dict:
        return {"address": token, "topics": [APPROVAL_TOPIC, _pad_topic(owner), _pad_topic(spender)],
                "data": _word(1)}

    # ---- ground truth ------------------------------------------------
    def balance(self, address: str) -> float | None:
        """Ether balance under BALANCES_SQL, or None if never seen."""
        if address not in self.universe:
            return None
        wei = (self.income[address] - self.outcome[address] + self.reward[address]
               - self.fee[address] + self.fee_reward[address])
        return max(wei, 0) / WEI

    def token_balances(self, token: str) -> dict[str, float]:
        scale = 10.0 ** self.decimals[token]
        return {a: v / scale for a, v in self.token_flow[token].items()}
