"""Incremental, idempotent, resumable batch protocol (SURVEY §2.9).

The reference has no streaming engine — it has flag/watermark tables
driving an at-least-once batch loop:

- T1 per-block flags: after processing, write {id: block, name: flag,
  value: true} to ``block_flag``; the next pass scans blocks left-anti
  the flags (reference operations/internal_transactions.py:401-431,
  operations/events.py:90-115, J1).
- T2 per-contract watermarks: ``contract_block`` rows
  {id: contract, name: '<doc>_<op>_block', value: max_block}
  (reference utils.py:186-199; read side utils.py:96-117).
- T3 global high-water: MAX(toInt32(id)) over flagged blocks
  (reference utils.py:201-209).
- T4 range micro-batching: distinct floor(number / range_size) of
  unflagged blocks (reference operations/events.py:12-35).
- T5 continuous loop: synchronize → sleep → repeat
  (reference docker-compose.yml:13-15, operations/clickhouse.py:151-172).
- T8 MV refresh: derived tables recomputed in the same batch that wrote
  their sources (reference MATERIALIZED ... POPULATE triggers).

Everything is DataFrame-native: the flag join is a left-anti join that
shuffles on the block id once; watermark reads are broadcast joins
(watermark tables are tiny); at 100 TB the fact side never re-scans
processed partitions because the anti-join prunes on the flag set
before any heavy work. Crash-safe resume falls out of idempotent
upsert ids + writing flags only AFTER the batch lands (at-least-once).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import Warehouse


def unprocessed_blocks(
    blocks: DataFrame, flags: DataFrame, flag_name: str
) -> DataFrame:
    """J1/T1 read side: blocks without a true ``flag_name`` flag.

    Reference: ANY LEFT JOIN block_flag FINAL WHERE name=... and
    value IS NULL (operations/internal_transactions.py:410-419) —
    expressed directly as a left-anti join.
    """
    done = flags.filter(
        (F.col("name") == flag_name) & (F.col("value") == 1)
    ).select("id")
    return blocks.join(done, "id", "left_anti")


def write_block_flags(wh: Warehouse, block_ids: DataFrame, flag_name: str) -> None:
    """T1 write side: mark the ``id`` column's blocks processed (only
    call AFTER the batch's data landed — that ordering is the
    crash-safety contract)."""
    flags = block_ids.select(
        F.col("id").cast("string").alias("id"),
        F.lit(flag_name).alias("name"),
        F.lit(1).cast("tinyint").alias("value"),
    )
    wh.write("block_flag", flags)


def max_flagged_block(flags: DataFrame, flag_name: str) -> int | None:
    """T3: global high-water mark = MAX(int(id)) of true flags
    (reference utils.py:201-209)."""
    row = (
        flags.filter((F.col("name") == flag_name) & (F.col("value") == 1))
        .agg(F.max(F.col("id").cast("long")).alias("m"))
        .first()
    )
    return None if row is None or row["m"] is None else int(row["m"])


def block_ranges_frame(
    blocks: DataFrame, range_size: int, number_col: str = "number"
) -> DataFrame:
    """T4: [start, end) micro-batch ranges covering the given blocks —
    distinct floor(number/size) buckets (reference
    operations/events.py:12-35) as a ``(lo, hi)`` DataFrame. This is
    the scale path: the ranges never land on the driver at all
    (``rpc.fetch_events`` fans the frame out directly), so a full-chain
    backfill at range_size=5 over 20M blocks is a 4M-row distributed
    frame, not a 4M-entry driver list."""
    return (
        blocks.select(
            F.floor(F.col(number_col) / range_size).cast("long").alias("b")
        )
        .distinct()
        .select(
            (F.col("b") * range_size).alias("lo"),
            ((F.col("b") + 1) * range_size).alias("hi"),
        )
    )


def parse_inputs_todo(wh: Warehouse, contract_ids: DataFrame, flag: str,
                      max_block: int) -> DataFrame:
    """T2 read side (J2/P5): (id, last_block) for the contracts whose
    ``flag`` watermark is behind ``max_block`` (last_block NULL = never
    processed), as a DataFrame — a left join of the lowered distinct
    ``contract_ids`` against ``contract_block`` (reference
    utils.py:96-117), nothing driver-side.

    Ids are lowercased: the ingest path normalizes addresses (F8), but
    an external writer may land checksummed ids, and every comparison
    of the protocol is on the lowered form so a mixed-case id can never
    be silently skipped while its watermark still advances. An empty
    frame = the pass is a no-op: nothing is decoded, nothing is
    appended, no watermark rows are rewritten (a looping sync would
    otherwise grow contract_block by |contracts| physical rows per
    pass)."""
    todo = contract_ids.select(F.lower(F.col("id")).alias("id")).distinct()
    if wh.exists("contract_block"):
        wm = wh.read("contract_block").filter(F.col("name") == flag).select(
            F.lower(F.col("id")).alias("id"), F.col("value").alias("last_block")
        )
        todo = todo.join(wm, "id", "left")
    else:
        todo = todo.withColumn("last_block", F.lit(None).cast("long"))
    return todo.filter(
        F.col("last_block").isNull() | (F.col("last_block") < F.lit(max_block))
    )


def watermark_slice(rows: DataFrame, todo: DataFrame, max_block: int,
                    addr_col: str) -> DataFrame:
    """P4/J2/T2: rows targeting a to-do contract, above that contract's
    watermark, at or below the global high-water mark. The reference
    compiles OR-chains grouped by equal watermark (utils.py:119-161);
    here ``todo`` — the (address → watermark) dim from
    :func:`parse_inputs_todo` — rides as ONE equi-join on the lowered
    address: AQE broadcasts it while it is dim-sized and falls back to a
    shuffled join if it ever isn't, and no address list is inlined into
    the plan or materialized on the driver."""
    wm = todo.select(F.col("id").alias("wm_id"), "last_block")
    return (
        rows.join(wm, F.lower(rows[addr_col]) == F.col("wm_id"), "inner")
        .filter(
            (F.col("last_block").isNull() | (F.col("blockNumber") > F.col("last_block")))
            & (F.col("blockNumber") <= F.lit(max_block))
        )
        .drop("wm_id")
        .drop("last_block")
    )


def advance_watermarks(wh: Warehouse, todo: DataFrame, flag: str,
                       max_block: int) -> None:
    """T2 write side, AFTER the data write (crash-safe resume: a crash
    between data and watermark re-decodes, never skips — reference
    decode_inputs, operations/inputs.py:196-207): upsert {id: contract,
    name: flag, value: max_block} (reference utils.py:186-199) for the
    contracts that actually moved (the ``todo`` frame) only."""
    wh.write(
        "contract_block",
        todo.select(
            F.col("id").cast("string").alias("id"),
            F.lit(flag).alias("name"),
            F.lit(max_block).cast("long").alias("value"),
        ),
    )


class SyncPipeline:
    """T5/T8: the reference's ``synchronize`` loop — run each stage once
    per pass, refresh derived tables at the end of the pass, optionally
    loop forever with a sleep (reference operations/clickhouse.py:151-172).

    Stages are callables (warehouse) -> None, already idempotent because
    every write is an upsert by id and flags land after data.

    ``compact_every`` / ``compact_tables``: every N passes, ``compact()``
    the named fact tables after the derived refresh — the loop's
    background-merge analogue. Without it, continuous ingest accumulates
    ``_seq`` versions (and small files) until an out-of-band compact;
    with it, FINAL readers between passes hit the warehouse's dedup-free
    fast path (no row_number window) most of the time. The cadence
    counts in-process passes (unlike the streaming twin's ``batch_id``
    key there is no durable pass id here); a restart merely delays the
    next compaction by at most N passes — compaction is a pure
    optimization, never a correctness event, and the swap itself is
    crash-safe (``fsutil.swap_dir``, rolled back on the next read).
    """

    def __init__(
        self,
        wh: Warehouse,
        stages: Iterable[tuple[str, Callable[[Warehouse], None]]],
        derived_refresh: Callable[[Warehouse], None] | None = None,
        compact_every: int | None = None,
        compact_tables: Iterable[str] | None = None,
    ):
        self.wh = wh
        self.stages = list(stages)
        self.derived_refresh = derived_refresh
        self.passes = 0
        self.compact_every = compact_every
        self.compact_tables = list(compact_tables or [])
        if compact_every and not self.compact_tables:
            raise ValueError(
                "compact_every set but compact_tables is empty — name the "
                "fact tables the cadence should compact"
            )
        if self.compact_tables and not compact_every:
            # the mirror misconfiguration: naming tables without a
            # cadence silently disabled compaction (r11 advice)
            raise ValueError(
                "compact_tables given but compact_every is unset/0 — "
                "set the pass cadence, or drop compact_tables"
            )

    def run_once(self) -> None:
        for _name, stage in self.stages:
            stage(self.wh)
        if self.derived_refresh is not None:
            self.derived_refresh(self.wh)
        self.passes += 1
        if self.compact_every and self.passes % self.compact_every == 0:
            for t in self.compact_tables:
                if self.wh.exists(t):
                    self.wh.compact(t)

    def run_forever(
        self, sleep_s: float = 10.0, max_passes: int | None = None
    ) -> None:  # pragma: no cover - loop shell; run_once is the tested unit
        while max_passes is None or self.passes < max_passes:
            self.run_once()
            # sleep only between passes — a bounded run exits immediately
            # after its final pass instead of blocking sleep_s for nothing
            if max_passes is None or self.passes < max_passes:
                time.sleep(sleep_s)
