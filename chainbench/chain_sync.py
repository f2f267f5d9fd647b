"""The ``chain_sync`` workload: incremental ETL beside balance reads.

A :class:`ChainSim` chain advances its head by ``STEP`` blocks per pass.
Each pass runs the CLI's sync pipeline (``__main__.build_pipeline`` with
``--max-block`` at the new head and token enrichment from the generated
constants), timing every stage callable and the derived refresh, and
re-registers the serving views. One client then reads through
``serving.api``: ether balances of addresses the new blocks touched, of
cold addresses, and token balances. Those reads go through the FINAL
dedup window, since the pass appended new upsert batches; then the fact
tables are compacted and the same mix is read again through the
dedup-free fast path. Every answer is checked against the simulator's
ledger. Mining the next blocks' fixtures happens between passes and is
not timed.

Set-up syncs a ``HISTORY``-block chain in one pass, so every measured pass
pays the history-dependent work (the ``range(0, head)`` anti-join of
``extract_blocks``, the full recompute of the derived tables, the
re-fetch of the current ``eth_getLogs`` window, compaction of the whole
fact tables).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import time

import numpy as np

from .chainsim import ChainSim
from .measure import Op, OpLog
from .tracing import catalyst_phases, now_ms

HISTORY = 400  # blocks synced by the set-up pass
STEP = 20  # blocks per measured pass
TXS_PER_BLOCK = 6
FACT_TABLES = ("internal_transaction", "event", "token_transaction")
# the views the serving queries read
VIEWS = ("internal_transaction", "token_transaction")
# Reads after the sync go through the FINAL window (the first one is the
# freshness probe); reads after compaction take the fast path. The four
# FINAL balance reads are the slow fifth of the mix, so the p90 falls
# inside them and the median among the compacted balance reads, not on
# the step between two kinds of read, where a small shift in speed moves
# it a lot. Set-up reads each kind once.
READS_FINAL = ["touched", "cold", "token", "touched", "cold"]
READS_COMPACTED = ["touched", "token", "cold"] * 5 + ["touched"]
WARMUP_READS = ["touched", "token"]
ADDRESSES_PER_READ = 4
REL_TOL = 1e-9
ABS_TOL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def traced_warehouse_class(current):
    """A Warehouse whose reads, view registrations and compactions add
    ``catalog.*`` spans to the operation in ``current[0]``."""
    from ethereum_analytical_db_spark.catalog import Warehouse

    class TracedWarehouse(Warehouse):
        _depth = 0

        def _timed(self, name, fn, *a, **k):
            op = current[0]
            if op is None or self._depth:
                return fn(*a, **k)
            self._depth += 1
            t0 = now_ms()
            try:
                return fn(*a, **k)
            finally:
                self._depth -= 1
                op.spans.append((name, t0, now_ms()))

        def read(self, table, final=True):
            return self._timed("catalog.read", super().read, table, final)

        def register_views(self, *tables, final=True):
            return self._timed("catalog.read", super().register_views, *tables, final=final)

        def compact(self, table, *a, **k):
            return self._timed("catalog.compact", super().compact, table, *a, **k)

    return TracedWarehouse


class ChainSyncWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)
        self.current = [None]  # the op catalog spans attach to
        self.passes = 0
        self.blocks = 0
        self.sync_ms = 0.0
        self.freshness: list[float] = []

    @property
    def blocks_per_s(self) -> float:
        """Blocks per second of measured sync and compaction wall time."""
        return self.blocks / (self.sync_ms / 1000.0) if self.sync_ms else 0.0

    # ---- set-up ---------------------------------------------------------
    def setup(self, log: OpLog) -> None:
        from ethereum_analytical_db_spark import __main__ as cli
        from ethereum_analytical_db_spark.catalog import Warehouse

        ctx = self.ctx
        fixtures = os.path.join(ctx.work, "rpc")
        self.sim = ChainSim(ctx.seed, fixtures, txs_per_block=TXS_PER_BLOCK)
        constants = os.path.join(ctx.work, "constants.json")
        with open(constants, "w") as fh:
            json.dump(self.sim.token_constants(), fh)
        cls = traced_warehouse_class(self.current) if ctx.trace else Warehouse
        self.wh = cls(ctx.spark, os.path.join(ctx.work, "warehouse"))
        self.args = argparse.Namespace(
            fixtures=fixtures, rpc_url=None, max_block=None, range_size=1000,
            constants_json=constants, tokens_json=None, abi_dir=None,
            etherscan_url=None, prices_json=None,
        )
        self.pipeline = cli.build_pipeline(self.wh, self.args)
        t0 = time.perf_counter()
        self._pass(log, traced=False, measured=False)
        ctx.note(f"set-up pass of {HISTORY} blocks with its reads {time.perf_counter() - t0:.2f} s")

    def check(self, log: OpLog) -> None:
        """Nothing to do once: every read is checked against the ledger."""

    # ---- measured loop --------------------------------------------------
    def run(self, log: OpLog, seconds: float, trace: bool) -> None:
        start = time.perf_counter()
        while True:
            self._pass(log, traced=trace, measured=True)
            if time.perf_counter() - start >= seconds:
                break
        self.ctx.note(
            f"{self.passes} passes to head {self.sim.head}; "
            f"{sum(1 for o in log.ops if o.kind == 'read')} reads"
        )

    def _steps(self, log, op, steps) -> float | None:
        """Run ``(name, layer, fn)`` steps as one operation, then refresh
        the serving views. Returns the steps' wall time in ms, or None
        (and a counted failure) if one raised."""
        sc = self.ctx.spark.sparkContext
        self.current[0] = op if op.traced else None
        op.start = now_ms()
        try:
            for name, layer, fn in steps:
                if op.traced:
                    sc.setJobGroup(f"{op.id}/{name}", name)
                t0 = now_ms()
                fn(self.wh)
                if op.traced:
                    op.spans.append((f"{layer}.{name}", t0, now_ms()))
            work_ms = now_ms() - op.start
            if op.traced:
                sc.setJobGroup(f"{op.id}/views", "views")
            self.wh.register_views(*VIEWS)
        except Exception as exc:  # noqa: BLE001 - counted, run continues
            log.checked(False, f"{op.name} at head {self.sim.head}: {type(exc).__name__}: {exc}")
            return None
        finally:
            self.current[0] = None
            if op.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        op.end = now_ms()
        log.done(op, True, "")
        return work_ms

    def _pass(self, log: OpLog, traced: bool, measured: bool) -> None:
        old_head = self.sim.head
        self.sim.mine(old_head + (STEP if measured else HISTORY))  # the node, untimed
        self.args.max_block = self.sim.head
        sync = Op(log.new_id("p"), "sync", traced, kind="pass" if measured else "warmup")
        steps = [(n, "sync", fn) for n, fn in self.pipeline.stages]
        steps.append(("derived", "sync", self.pipeline.derived_refresh))
        sync_ms = self._steps(log, sync, steps)
        if sync_ms is None:
            return
        if traced:
            sync.counts["catalog.uncompacted_batches"] = self._uncompacted()
        fresh = None
        for i, read in enumerate(READS_FINAL if measured else WARMUP_READS):
            ok, end = self._read(log, read, traced, measured, final=True)
            if i == 0 and ok:
                fresh = end - sync.start
        compact = Op(log.new_id("c"), "compact", traced, kind="compact" if measured else "warmup")
        compact_ms = self._steps(log, compact, [("compact", "catalog", self._compact)])
        if compact_ms is None:
            return
        # a traced pass traces every other read after compaction, so the
        # untraced ones beside them give the tracing overhead
        for i, read in enumerate(READS_COMPACTED if measured else WARMUP_READS):
            self._read(log, read, traced and i % 2 == 1, measured)
        if measured:
            self.passes += 1
            self.blocks += self.sim.head - old_head
            self.sync_ms += sync_ms + compact_ms
            if fresh is not None:
                self.freshness.append(fresh)

    def _compact(self, wh) -> None:
        for t in FACT_TABLES:
            wh.compact(t)

    def _uncompacted(self) -> int:
        """Upsert batches appended since each fact table's last compaction
        (its ``_SEQ`` sidecar minus ``_COMPACTED_AT``)."""
        total = 0
        for t in FACT_TABLES:
            seq = _sidecar(self.wh.root, t, "_SEQ") or 0
            total += seq - (_sidecar(self.wh.root, t, "_COMPACTED_AT") or 0)
        return total

    # ---- reads ----------------------------------------------------------
    def _addresses(self, kind: str) -> list[str]:
        touched = self.sim.last_touched
        pool = touched if kind == "touched" else sorted(self.sim.universe - set(touched)) or touched
        idx = self.rng.choice(len(pool), min(ADDRESSES_PER_READ, len(pool)), replace=False)
        return [pool[i] for i in sorted(idx)]

    def _read(self, log: OpLog, kind: str, traced: bool, measured: bool, final=False):
        from ethereum_analytical_db_spark.serving import api

        ctx = self.ctx
        sc = ctx.spark.sparkContext
        name = f"{kind}.final" if final else kind
        op = Op(log.new_id("r"), name, traced, kind="read" if measured else "warmup")
        if kind == "token":
            token = self.sim.tokens[int(self.rng.integers(0, len(self.sim.tokens)))]
            call = lambda: api.compute_token_balances(ctx.spark, token)  # noqa: E731
        else:
            addresses = self._addresses(kind)
            call = lambda: api.compute_balances(ctx.spark, addresses)  # noqa: E731
        try:
            if traced:
                sc.setJobGroup(f"{op.id}/sql", kind)
            t0 = now_ms()
            df = call()
            t1 = now_ms()
            if traced:
                sc.setJobGroup(f"{op.id}/collect", kind)
            pdf = df.toPandas()
            t2 = now_ms()
        except Exception as exc:  # noqa: BLE001 - counted, run continues
            log.checked(False, f"{kind} read: {type(exc).__name__}: {exc}")
            return False, None
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        op.start, op.end = t0, t2
        if traced:
            op.spans += [("serving.sql", t0, t1), ("collect", t1, t2)]
            for phase, (s, e) in catalyst_phases(df).items():
                op.spans.append((f"catalyst.{phase}", s, e))
            op.counts["collect.rows"] = len(pdf)
            op.counts["collect.result_bytes"] = int(pdf.memory_usage(deep=True).sum())
        got = dict(zip(pdf["address"], pdf["balance"]))
        if kind == "token":
            want = self.sim.token_balances(token)
        else:
            want = {a: b for a in addresses if (b := self.sim.balance(a)) is not None}
        ok = got.keys() == want.keys() and all(_close(got[a], want[a]) for a in want)
        log.done(op, ok, f"{kind} read at head {self.sim.head}: {len(got)} rows differ from the ledger")
        return ok, t2


def _sidecar(root: str, table: str, name: str) -> int | None:
    try:
        with open(os.path.join(root, table, name)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None
