"""Structured Streaming surfaces (SURVEY §2.9 mapped Spark-native).

The reference's incremental loop (flags + re-scan) is what Structured
Streaming's file source + checkpoint does natively: the checkpoint
directory plays the ``block_flag`` table (exactly-once file tracking),
``foreachBatch`` plays the per-pass write + MV refresh (T8), and
``Trigger.AvailableNow`` plays one ``synchronize`` pass (T5) — process
everything pending, then stop, resumable from the checkpoint.

Late/duplicate handling: the reference has none beyond idempotent ids
(T7); here the foreachBatch sink writes through the Warehouse upsert, so
replayed batches (possible after a crash between sink write and
checkpoint commit) dedup on read. Watermarked windows additionally bound
state for late events — something the reference cannot express at all.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..catalog import Warehouse


def stream_from_files(
    spark: SparkSession,
    src_dir: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream: each new file in ``src_dir`` becomes part of a
    micro-batch (the Spark-native version of the reference's per-range
    JSON-RPC pulls, S6/S10 — an ingestion adapter drops files here)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(src_dir)


def ingest_to_warehouse(
    stream: DataFrame,
    wh: Warehouse,
    table: str,
    checkpoint_dir: str,
    id_expr=None,
    derived_refresh: Callable[[Warehouse, int], None] | None = None,
    available_now: bool = True,
    compact_every: int | None = None,
) -> StreamingQuery:
    """writeStream → Warehouse upsert, one pass per trigger.

    ``derived_refresh(wh, batch_id)`` runs INSIDE each batch after the
    base write — the reference's insert-trigger MV semantics (T8):
    derived tables are consistent with their source at every batch
    boundary, which is when correctness is checked (SURVEY §7.3 (e)).

    ``compact_every``: every N batches (keyed on ``batch_id % N`` so the
    cadence survives checkpoint restarts, same discipline as
    ``dedupe_stream.near_dedup_stream``), ``compact()`` the fact table
    inside the batch — the streaming analogue of ClickHouse's background
    merge. This keeps two things bounded under continuous ingest: the
    per-batch small-file count (each micro-batch appends ≥1 file per
    partition), and the FINAL window's input (version rows accumulate
    one per re-written key per batch). It also re-arms the warehouse's
    dedup-free FINAL fast path each cycle: a read landing between a
    compaction and the next batch's write skips the window entirely.
    compact() publishes through the crash-safe ``fsutil.swap_dir``, and
    foreachBatch commits serially, so a replayed batch re-compacts
    idempotently.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        wh.write(table, batch_df, id_expr=id_expr)
        if derived_refresh is not None:
            derived_refresh(wh, batch_id)
        if compact_every and batch_id % compact_every == compact_every - 1:
            wh.compact(table)

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window counts — the streaming analogue of the
    reference's time-bucketed Grafana counts (A9), with bounded state:
    events later than ``watermark`` behind the max seen ts are dropped
    and their window finalized."""
    g = [F.window(F.col(ts_col), window).alias("win")] + [
        F.col(c) for c in (group_cols or [])
    ]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*g)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            *[F.col(c) for c in (group_cols or [])],
            "n",
        )
    )


def run_available_now(query: StreamingQuery, timeout_s: float = 120.0) -> None:
    """Drain one AvailableNow pass and surface any streaming exception."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError("streaming query did not drain in time")
    if query.exception() is not None:  # pragma: no cover
        raise query.exception()


def poll_until(
    query: StreamingQuery,
    predicate,
    timeout_s: float = 90.0,
    interval_s: float = 1.0,
) -> bool:
    """Poll ``predicate()`` while the query runs, then stop the query.

    The drain barrier for STATEFUL queries: with processing-time
    timeouts Spark schedules state-cleanup batches on every trigger
    forever, so neither AvailableNow termination nor
    processAllAvailable() ever quiesces — observing the sink until the
    expected condition holds is the reliable pattern.
    Returns whether the predicate became true before the deadline.
    """
    import time

    deadline = time.time() + timeout_s
    ok = False
    try:
        while time.time() < deadline:
            if query.exception() is not None:  # pragma: no cover
                raise query.exception()
            if predicate():
                ok = True
                break
            time.sleep(interval_s)
    finally:
        query.stop()
    return ok
