"""Parquet warehouse with ReplacingMergeTree/FINAL semantics.

The reference lands every table in ClickHouse ReplacingMergeTree and
appends ``FINAL`` to reads by default (clients/custom_clickhouse.py:31-38),
giving last-write-wins dedup by primary key (SURVEY §1.3). Here:

- writes are append-only Parquet with a monotonic ``_seq`` stamped per
  batch (idempotent replays are safe);
- reads apply a dedup-on-read view:
  ``row_number() OVER (PARTITION BY pk ORDER BY _seq DESC) = 1``;
- ``final=False`` skips the dedup, matching the reference's
  ``final=False`` fast path (clients/custom_clickhouse.py:94,117).

Scale notes (100 TB): the dedup window shuffles by primary key once; at
scale the fact tables would be written bucketed/partitioned by the same
key (``partition_hint``) so the window becomes a within-partition sort.
Readers that don't need FINAL (append-only facts with unique ids per
batch, e.g. analytic scans after compaction) use final=False and pay
nothing. A periodic ``compact()`` rewrites a table to 1 row/key so the
read-side window goes away — the Spark analogue of a background merge.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from . import fsutil, schemas


class ConcurrentWriterError(RuntimeError):
    """Two writers tried to claim the same ``_seq`` for one table.

    Raised instead of silently interleaving sequence numbers (which
    would break last-write-wins replay safety). The message names the
    claim file; if no second writer is actually alive, the claim is a
    crash leftover from the instant between claim-create and the
    ``_SEQ`` sidecar update — delete the named file to recover."""


class Warehouse:
    """A directory of Parquet tables keyed by logical name.

    All driver-side filesystem metadata (sidecars, compaction swaps,
    existence probes) goes through the Hadoop FileSystem API resolved
    from the root itself (:mod:`fsutil`), so a ``file:``, ``hdfs:`` or
    ``s3a:`` warehouse root behaves identically — the dedup-free FINAL
    fast path and ``compact()`` work wherever the 100 TB fact tables
    actually live, not only on driver-local disk. Each op is a handful
    of py4j round-trips (~ms), driver-side only, never per-row."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        fsutil.mkdirs(spark, root)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _next_seq(self, table: str) -> int:
        """Monotonic per-table batch sequence for last-write-wins dedup.

        Wall-clock milliseconds can collide (two batches in the same ms
        would tie and final_dedup's hash tie-break could keep the older
        row), so the counter is persisted in a ``_SEQ`` sidecar file
        (underscore-prefixed → invisible to the Parquet reader, like
        ``_SUCCESS``). If the sidecar is missing (fresh checkout,
        post-compact), it reseeds from ``max(_seq)`` in the table.

        Concurrent writers are DETECTED, not silently merged: each
        allocation first create-exclusively claims ``_SEQ.claim.<n>``
        (atomic on HDFS; see :func:`fsutil.create_exclusive` for the
        local/S3A caveats). Losing the claim means another writer is
        allocating the same seq right now → :class:`ConcurrentWriterError`
        rather than two batches sharing a seq. A claim whose value the
        ``_SEQ`` sidecar has already reached is provably finished (the
        claim protects only the claim→sidecar-update window), so it is
        swept and allocation retries with the next value — two live
        writers therefore either get DISTINCT seqs or one gets a loud
        error; a seq is never issued twice. ``compact()`` remains a
        single-operator action (the claim protocol covers seq
        allocation, not the table swap)."""
        p = self._path(table)
        fsutil.mkdirs(self.spark, p)
        for _ in range(5):
            last = self._read_sidecar(table, "_SEQ")
            if last is None:
                if self.exists(table):
                    df = self.spark.read.parquet(p)
                    last = (
                        df.agg(F.max("_seq")).first()[0]
                        if "_seq" in df.columns
                        else 0
                    ) or 0
                else:
                    last = 0
            nxt = last + 1
            claim = os.path.join(p, f"_SEQ.claim.{nxt}")
            if fsutil.create_exclusive(self.spark, claim):
                self._write_seq_sidecar(table, nxt)
                fsutil.delete(self.spark, claim)
                return nxt
            cur = self._read_sidecar(table, "_SEQ")
            if cur is not None and cur >= nxt:
                # the claimant already advanced _SEQ durably but crashed
                # (or hasn't yet gotten) to remove its claim — the claim
                # no longer guards anything; sweep it and re-allocate
                fsutil.delete(self.spark, claim)
                continue
            raise ConcurrentWriterError(
                f"another writer holds {claim} while _SEQ is at {cur}: "
                f"a concurrent write to table {table!r} is in flight "
                "(tables are single-writer). If no other writer is "
                "alive, this is a crash leftover from the instant "
                "between claim and sidecar update — delete that file "
                "to recover."
            )
        raise ConcurrentWriterError(
            f"could not allocate a _seq for table {table!r} after 5 "
            "attempts — persistent claim contention implies multiple "
            "live writers."
        )

    def _write_seq_sidecar(
        self, table: str, value: int, name: str = "_SEQ"
    ) -> None:
        """Atomic sidecar update (temp file + rename via the Hadoop FS
        API) — a crash mid-write can never leave a truncated-but-parsable
        value (e.g. '1' from '12') that would re-issue a used seq and
        break last-write-wins replay safety. The rename's brief
        delete-then-rename absence window degrades safe: a missing
        ``_SEQ`` reseeds from max(_seq); a missing ``_COMPACTED_AT``
        just runs the window."""
        fsutil.mkdirs(self.spark, self._path(table))
        fsutil.write_text_atomic(
            self.spark, os.path.join(self._path(table), name), str(value)
        )

    def _read_sidecar(self, table: str, name: str) -> int | None:
        """None when the sidecar is missing, unparsable, or unreadable
        (e.g. a Hadoop ChecksumException from out-of-band tampering) —
        every failure degrades in the safe direction: is_dedup_free
        stays False (window runs) and _next_seq reseeds from max(_seq)."""
        try:
            text = fsutil.read_text(
                self.spark, os.path.join(self._path(table), name)
            )
            return int(text.strip())
        except FileNotFoundError:
            return None
        except Exception:
            return None

    def is_dedup_free(self, table: str) -> bool:
        """True when the table PROVABLY holds one live row per key: the
        last ``compact()`` recorded the seq it compacted at
        (``_COMPACTED_AT``) and no ``write()`` has bumped ``_SEQ`` past
        it since. Both proofs are driver-side sidecar reads — no Spark
        job. Any write() invalidates the fast path automatically (it
        bumps ``_SEQ`` *before* appending data, so a crashed append
        degrades to the safe direction: window runs on a dup-free
        table). A missing/corrupt sidecar also degrades safe (window
        runs)."""
        compacted_at = self._read_sidecar(table, "_COMPACTED_AT")
        if compacted_at is None:
            return False
        seq = self._read_sidecar(table, "_SEQ")
        return seq is not None and seq == compacted_at

    def exists(self, table: str) -> bool:
        fsutil.recover_swap(self.spark, self._path(table))
        return fsutil.has_file_with_suffix(
            self.spark, self._path(table), ".parquet"
        )

    def drop(self, table: str) -> None:
        """Remove a table directory entirely (the reference's DROP TABLE,
        tests/test_utils.py prepare_indices drop/recreate cycle),
        compaction leftovers first so a crash mid-drop cannot resurrect
        the table (:func:`fsutil.delete_swapped`)."""
        fsutil.delete_swapped(self.spark, self._path(table))

    def create(self, table: str, schema: StructType | None = None) -> None:
        """Create an empty table (the reference's prepare_indices,
        operations/indices.py:18-37)."""
        if self.exists(table):
            return
        schema = schemas.with_engine_columns(schema or schemas.TABLES[table])
        empty = self.spark.createDataFrame([], schema)
        empty.write.mode("overwrite").parquet(self._path(table))

    def write(
        self,
        table: str,
        df: DataFrame,
        id_expr=None,
        block_partition: str | None = None,
    ) -> None:
        """Bulk upsert (reference bulk_index, clients/custom_clickhouse.py:130-189):
        set id, align to schema (drop unknown columns, null-fill missing),
        stamp _seq, append. Dedup happens on read.

        ``block_partition``: name of a numeric column (e.g. blockNumber)
        to derive a ``_block_range`` hive partition from — block/time
        predicates then prune whole directories at the scan (the Spark
        form of the reference's per-host block-range routing,
        utils.py:32-66). Essential at 100 TB: incremental sync touches
        only the tail partition, FINAL dedup never shuffles across
        ranges (an id never spans two blocks)."""
        target_schema = schemas.with_engine_columns(schemas.TABLES[table])
        if id_expr is not None:
            df = df.withColumn("id", id_expr)
        cols = []
        df_cols = set(df.columns)
        for field in target_schema.fields:
            if field.name == "_seq":
                continue
            if field.name in df_cols:
                cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
            else:
                cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        seq = self._next_seq(table)
        out = df.select(*cols).withColumn("_seq", F.lit(seq).cast("long"))
        if block_partition is not None:
            out = out.withColumn("_block_range", block_range(block_partition))
        writer = out.write.mode("append")
        if block_partition is not None:
            writer = writer.partitionBy("_block_range")
        writer.parquet(self._path(table))

    def has_block_partitions(self, table: str) -> bool:
        """True when the table directory uses the ``_block_range`` hive
        layout (cheap driver-side listing)."""
        return any(
            e.startswith("_block_range=")
            for e in fsutil.list_names(self.spark, self._path(table))
        )

    def _read_schema(self, table: str) -> StructType | None:
        """The deterministic scan schema: the registered table schema +
        engine columns (+ the hive partition column when present). An
        EXPLICIT schema matters beyond skipping the inference job: a
        directory mixing part files written before and after a column
        existed (e.g. ``_tombstone`` on a pre-reorg warehouse) infers
        its schema from ONE arbitrary part file — whether the column
        survives then depends on file naming, and a dropped
        ``_tombstone`` silently resurrects orphaned fork rows. With the
        explicit schema, files lacking a column read it as NULL,
        deterministically."""
        base = schemas.TABLES.get(table)
        if base is None:  # not a registered table: fall back to inference
            return None
        fields = list(schemas.with_engine_columns(base).fields)
        if self.has_block_partitions(table):
            fields.append(StructField("_block_range", LongType(), True))
        return StructType(fields)

    def read(self, table: str, final: bool = True) -> DataFrame:
        """Table scan; ``final=True`` applies last-write-wins dedup by
        primary key (SURVEY §1.3 / W2), then drops keys whose winning
        version is a reorg tombstone (operators/reorg.py) — the FINAL
        analogue of a DELETE, resolved per-key AFTER dedup so a later
        re-insert of the same key revives it.

        Dedup-free fast path: when :meth:`is_dedup_free` proves no
        write has landed since the last ``compact()`` (sidecar
        comparison, no Spark job), FINAL returns the raw scan — the
        window is a no-op then, but not a free one (FINAL_READ_CURVE
        measured 2.75–3.5× raw even duplicate-free, the pk Exchange
        dominating). This matches the reference's economics: ClickHouse
        FINAL over fully-merged ReplacingMergeTree parts is near-raw
        cost (reference operations/indices.py:34 picks that engine for
        exactly this trade). compact() materializes read(final=True),
        which drops tombstone-winning keys, so the raw scan of a
        freshly compacted table IS the FINAL view — no residual filter
        needed.

        STALENESS: a returned DataFrame (and any temp view built from
        it) freezes BOTH the file listing and this fast-path decision at
        build time. A handle created while the table was dedup-free
        keeps raw-scan semantics across later writes — it would then
        show duplicate rows, not just miss new ones. Re-create FINAL
        handles after any write(), same as the file-listing caveat."""
        fsutil.recover_swap(self.spark, self._path(table))
        reader = self.spark.read
        expected = self._read_schema(table)
        if expected is not None:
            reader = reader.schema(expected)
        df = reader.parquet(self._path(table))
        if final and not self.is_dedup_free(table):
            df = final_dedup(df, schemas.primary_key(table))
            if "_tombstone" in df.columns:
                df = df.filter(
                    F.coalesce(F.col("_tombstone"), F.lit(0)) != F.lit(1)
                )
        return df

    def iterate(self, table: str, per: int = 1000, fields: list[str] | None = None,
                query: str | None = None, final: bool = True):
        """S2: paginated cursor scan (reference ``iterate()``,
        clients/custom_clickhouse.py:94-128 — ``execute_iter`` with
        ``max_block_size``): yield lists of Rows of at most ``per``.
        ``query``: optional SQL filter condition (the reference's
        ``query="WHERE …"`` string, minus the WHERE keyword).

        DRIVER-SIDE CONVENIENCE, deliberately not the engine's hot path:
        every row funnels through the driver one partition at a time
        (``toLocalIterator``), which is exactly the anti-pattern the
        native design replaces with partitioned execution — use the
        DataFrame API (or ``foreachBatch`` for sinks) for anything that
        should scale. It exists because the reference exposes a cursor
        and some consumers (small exports, admin scripts) genuinely want
        one; prefetchPartitions keeps at most one extra partition in
        flight, so driver memory is bounded by the partition size, not
        the table."""
        df = self.read(table, final=final)
        if query:
            df = df.filter(query)
        if fields:
            df = df.select(*fields)
        yield from paginate(df, per)

    def export_jdbc(
        self,
        table: str,
        url: str,
        dbtable: str | None = None,
        mode: str = "append",
        options: dict[str, str] | None = None,
        final: bool = True,
        writer=None,
    ):
        """Optional JDBC sink seam — BASELINE's stated architecture is
        "Parquet + ClickHouse connector for analytics"; in production the
        url points at a ClickHouse JDBC endpoint (or any JDBC target) and
        this ships the FINAL-deduped table there. ``writer`` is the
        injectable boundary for tests/alternate drivers: a callable
        ``(df, url, dbtable, mode, options)``; the default drives Spark's
        built-in JDBC writer (per-partition batched INSERTs — the write
        itself is distributed, nothing funnels through the driver).
        Engine-internal columns (``_seq``, the ``_block_range`` hive
        partition) never leave the warehouse — a JDBC target has the
        reference schema, not ours."""
        df = self.read(table, final=final)
        internal = [c for c in df.columns if c.startswith("_")]
        if internal:
            df = df.drop(*internal)
        dbtable = dbtable or table
        options = options or {}
        if writer is not None:
            return writer(df, url, dbtable, mode, options)
        w = df.write.format("jdbc").option("url", url).option("dbtable", dbtable)
        for k, v in options.items():
            w = w.option(k, v)
        return w.mode(mode).save()

    def compact(
        self,
        table: str,
        layout: str = "flat",
        buckets: int = 32,
        by: list[str] | None = None,
    ) -> str | None:
        """Rewrite a table to one row per key (background-merge analogue).

        The final overwrite deletes the ``_SEQ`` sidecar with the rest of
        the directory, so it is rewritten from the compacted frame's own
        max(_seq) — otherwise the next write() would reseed via a
        full-table scan (a full scan per post-compact write at 100 TB).

        A ``_block_range`` hive partition layout survives compaction:
        dropping it would silently trade the FINAL-window saving for
        every future scan's partition pruning — strictly worse at scale,
        where the block predicate is what keeps incremental readers off
        the 100 TB history.

        ``layout="bucketed"``: after the canonical rewrite, also refresh
        the table's co-located HASH-BUCKETED materialization
        (``<table>_bucketed``, see :meth:`materialize_bucketed`) from
        the just-compacted data, hash-bucketed ``by`` (default: the
        table's primary key) into ``buckets``. This is the maintenance
        hook that makes the bucketed layout a LIVE derived layout
        instead of a one-shot export: each compaction cycle pays the
        bucketing shuffle once, and every subsequent fact-to-fact join
        or groupBy on the bucket key reads it exchange-free. Returns
        the bucketed catalog name (``None`` for the flat layout).

        The rewrite lands in a scratch directory and is published with
        :func:`fsutil.swap_dir`, so the table exists in full at all
        times, a failed publish restores the old copy at once, and a
        crash mid-swap is rolled back by the next ``exists()``/``read()``.
        """
        if layout not in ("flat", "bucketed"):
            raise ValueError(
                f"compact layout {layout!r}: expected 'flat' or 'bucketed'"
            )
        deduped = self.read(table, final=True)
        final_path = self._path(table)
        tmp = fsutil.swap_tmp(self.spark, final_path)
        partition_by = ["_block_range"] if "_block_range" in deduped.columns else []
        w = deduped.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        # explicit schema: a fully-tombstoned table compacts to ZERO
        # data files under partitionBy (only _SUCCESS), and a schemaless
        # read of that directory cannot infer anything
        compacted = self.spark.read.schema(deduped.schema).parquet(tmp)
        max_seq = 0
        if "_seq" in compacted.columns:
            max_seq = compacted.agg(F.max("_seq")).first()[0] or 0
        if partition_by and compacted.isEmpty():
            # an empty partitioned directory has no data files and is
            # unreadable; a flat empty file keeps the table readable
            self.spark.createDataFrame([], deduped.schema).write.mode(
                "overwrite"
            ).parquet(tmp)
        # a crash before the sidecar writes just makes the next write()
        # reseed _seq via the documented full-scan fallback
        fsutil.swap_dir(self.spark, tmp, final_path)
        self._write_seq_sidecar(table, int(max_seq))
        # _COMPACTED_AT last: the swap replaced the old sidecars with the
        # old directory, so a crash anywhere before this line leaves no
        # _COMPACTED_AT at all and read(final=True) degrades to the
        # window — the safe direction. Only the complete pair
        # (_SEQ == _COMPACTED_AT) unlocks the dedup-free fast path.
        self._write_seq_sidecar(table, int(max_seq), name="_COMPACTED_AT")
        if layout == "bucketed":
            # final=False: the rewrite above just materialized FINAL, so
            # the raw scan IS the deduped table — no second window pass
            return self.materialize_bucketed(
                table,
                buckets,
                by or schemas.primary_key(table),
                final=False,
            )
        return None

    def register_views(self, *tables: str, final: bool = True) -> None:
        """Expose tables as temp views for spark.sql() text queries —
        the analytics read path (SURVEY §3.3). Views snapshot the file
        listing AND the dedup-free fast-path decision at registration:
        re-register after writes, or a view built on a then-compacted
        table serves raw-scan (possibly duplicate) rows later."""
        for t in tables or schemas.TABLES.keys():
            if self.exists(t):
                self.read(t, final=final).createOrReplaceTempView(t)

    def materialize_bucketed(
        self,
        table: str,
        buckets: int,
        by: list[str],
        name: str | None = None,
        final: bool = True,
        source: DataFrame | None = None,
    ) -> str:
        """Freeze a (FINAL) view of ``table`` into a HASH-BUCKETED,
        bucket-sorted catalog table for repeated join-heavy analytics —
        the co-located-join layout this module's header promises at
        scale.

        Two tables bucketed by the same columns into the same bucket
        count join with ZERO Exchange on either side: each bucket file
        pair sort-merges locally (asserted on the physical plan in
        ``test_catalog.py``). At 100 TB this is the difference between
        re-shuffling the fact table on every analytical join and paying
        the shuffle once at materialization; the same layout makes the
        FINAL window and groupBys on the bucket key exchange-free too.

        Bucket metadata lives in the session catalog (``spark.table``),
        which is how Spark's scan planner learns the layout — reading
        the files path-wise would silently lose it, so the return value
        is the CATALOG name to query. Overwrites any previous
        materialization of the same name. The catalog namespace is
        SESSION-GLOBAL: two Warehouse instances sharing one
        SparkSession must use distinct ``name``s or the later
        materialization repoints the shared name.

        Files land under ``<root>/_bucketed/<name>`` — an
        underscore-prefixed directory OUTSIDE the logical-table path
        namespace, so ``exists()/write()/read()`` can never alias a
        plain warehouse table into the bucketed layout (a path-wise
        append would violate the bucket invariant while the catalog
        still advertises it, silently corrupting exchange-free joins —
        review find).

        ``source``: materialize this frame instead of reading ``table``
        from the warehouse (``table`` then only names the default
        catalog entry). This is how non-warehouse inputs — the bench
        corpus, an external parquet dataset — adopt the co-located
        layout through the same writer/catalog path; ``final`` is
        ignored for a ``source`` frame (dedup semantics belong to the
        warehouse read).
        """
        name = name or f"{table}_bucketed"
        # The name is interpolated into SQL text and becomes a catalog
        # identifier; a dash/dot/space would parse-error (or worse,
        # target another namespace) deep inside Spark, so reject it
        # here with a message that names the actual problem.
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(
                f"bucketed table name {name!r} is not a plain SQL "
                "identifier ([A-Za-z_][A-Za-z0-9_]*)"
            )
        df = source if source is not None else self.read(table, final=final)
        internal = [c for c in df.columns if c.startswith("_")]
        if internal:
            df = df.drop(*internal)
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.format("parquet")
            .bucketBy(buckets, *by)
            .sortBy(*by)
            .option("path", os.path.join(self.root, "_bucketed", name))
            .mode("overwrite")
            .saveAsTable(name)
        )
        return name


def paginate(df: DataFrame, per: int = 1000):
    """Stream a (small-schema) frame to the driver in bounded pages —
    the one cursor primitive behind ``Warehouse.iterate`` and the CLI's
    HTTP enrichment loops. ``prefetchPartitions=True`` overlaps the next
    partition's fetch with the current page's driver-side work; peak
    driver residency is max(page, one partition), never the frame."""
    chunk: list = []
    for row in df.toLocalIterator(prefetchPartitions=True):
        chunk.append(row)
        if len(chunk) >= per:
            yield chunk
            chunk = []
    if chunk:
        yield chunk


def block_range(col: str, size: int = 100_000):
    """Partition bucket for a block-number-like column:
    floor(col / size) * size, as a long."""
    return (F.floor(F.col(col) / size) * size).cast("long")


def final_dedup(df: DataFrame, keys: list[str]) -> DataFrame:
    """ReplacingMergeTree FINAL: keep the latest row per key.

    Deterministic tie-break on _seq then a stable digest of the row, so
    replayed identical batches never flap (SURVEY §7.3 risk (b)).
    """
    order = [F.col("_seq").desc_nulls_last()] if "_seq" in df.columns else []
    other = [c for c in df.columns if c not in keys and c != "_seq"]
    if other:
        order.append(F.xxhash64(*[F.col(c).cast("string") for c in other]).asc())
    if not order:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
