"""Online deduplication for document streams — the streaming twin of
``operators/dedup.exact_duplicates`` (same md5-content digest), for
continuous training-data ingestion where the corpus arrives as
micro-batches rather than a static table.

Two state regimes, matching how Structured Streaming bounds dedup state:

- **global** (``within_watermark=None``): ``dropDuplicates`` on the
  digest. State holds one digest per distinct document ever seen —
  exact forever, right for bounded backfills replayed as a stream.
- **watermarked** (``within_watermark='1 hour'`` + an event-time
  column): ``dropDuplicatesWithinWatermark``. State is bounded by the
  watermark horizon — the 100-TB continuous path, where "duplicate"
  means "same content within the late-data window" (re-crawls of the
  same page cluster in time, so a horizon ≥ the crawl revisit interval
  catches them without unbounded state).

For exact-forever dedup over an unbounded corpus, prefer
``near_dedup_stream(family="exact")`` below (r10): it keeps the digest
set in an on-disk index instead of executor state stores, so state is
corpus-sized without growing executors, and emits (canonical,
duplicate) pairs instead of silently dropping rows.

State is hash-partitioned by digest across executors; a micro-batch
shuffles only its own rows. No reference analogue (the reference's
batch loop has no streaming dedup) — capability from the prompt's
training-data-pipeline north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fsutil


def dedup_exact_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    within_watermark: str | None = None,
) -> DataFrame:
    """Keep the first arrival of each distinct document content.

    Works on both streaming and batch DataFrames (the batch plan is the
    degenerate one-batch case — used by the equivalence test). The
    digest column is dropped on output; rows pass through otherwise
    unchanged.
    """
    # null text must NOT dedupe: md5(NULL) is NULL and dropDuplicates
    # treats null keys as equal, so every null-text row after the first
    # (image-only records, failed extraction) would silently vanish;
    # null rows fall back to a per-row unique digest and pass through
    digested = docs.withColumn(
        "_digest",
        F.coalesce(
            F.md5(F.col(text_col)),
            # uuid(): per-row unique and streaming-legal
            # (monotonically_increasing_id is rejected in streams)
            F.concat(F.lit("null:"), F.expr("uuid()")),
        ),
    )
    if within_watermark is None:
        return digested.dropDuplicates(["_digest"]).drop("_digest")
    return (
        digested.withWatermark(ts_col, within_watermark)
        .dropDuplicatesWithinWatermark(["_digest"])
        .drop("_digest")
    )


def near_dedup_stream(
    stream_docs: DataFrame,
    index_path: str,
    pairs_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    family: str = "minhash",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_hamming: int = 3,
    blocks: int = 4,
    partial_recall: bool = False,
    max_bucket_df: int | None = None,
    max_chunk_df: int | None = None,
    compact_every: int | None = None,
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    semantic_threshold: float = 0.95,
    max_cluster_rows: int = 200_000,
):
    """Streaming NEAR-dup detection — the streaming twin of the
    incremental-ingest loop (``operators/dedup.minhash_probe_candidates``
    + ``minhash_index_append``): each micro-batch probes the corpus band
    index for near-dup candidate pairs (new-vs-corpus and within-batch),
    lands them under ``pairs_path``, then folds its own band rows into
    the index so later batches see it as corpus.

    ``family`` selects the signature scheme: ``"minhash"`` (Jaccard-ish
    candidates via LSH bands; ``n``/``num_hashes``/``bands``),
    ``"simhash"`` (Hamming near-dups via block-permutation chunks;
    ``max_hamming``/``blocks``/``partial_recall``), ``"exact"``
    (identical content by md5 digest — the index-backed alternative to
    ``dedup_exact_stream``, whose dropDuplicates state grows one digest
    per distinct doc in EXECUTOR state stores forever; here the state is
    the on-disk index like the near-dup families, and pairs carry
    (canonical-so-far, duplicate, digest)), or ``"semantic"`` (SemDeDup
    embedding near-duplicates — see below). All four run the identical
    loop below — only the per-doc row computation and the probe
    operator differ.

    ``family="semantic"`` streams the SemDeDup online contract
    (``operators/semdedup.semdedup_probe``): rows carry an embedding in
    ``vec_col`` keyed by ``id_col`` (``text_col`` is unused), and
    REQUIRE pre-trained ``centroids`` (training inside a micro-batch
    would make verdicts depend on batch boundaries; train once per
    corpus snapshot with ``ivf_train_centroids``). The per-batch output
    landed under ``pairs_path`` is the VERDICT log (id, cluster,
    centroid_sim, kept) rather than candidate pairs — semantic dedup
    makes keep/drop decisions, not pair reports — and the index rows
    are the verdicts with their vectors, partitioned (batch, cluster),
    so each batch probes only the kept residents of earlier batches
    with cluster+batch partition pruning. ``semantic_threshold`` is
    pinned in the index sidecar at wiring time (drift raises);
    ``max_cluster_rows`` bounds the probe's per-task input on runaway
    clusters. Verdicts across any batch sequence equal the sequential
    greedy replay in (batch, centroid_sim, id) order — same contract,
    same caveats (arrival order matters; online vs one-shot chains
    differ) as the batch probe, pinned by the replay-parity tests.

    ``max_bucket_df`` (minhash) / ``max_chunk_df`` (simhash): the
    hot-bucket caps, forwarded to the probe and bootstrap operators. In
    a stream this is the knob that keeps a boilerplate-dominated corpus
    from making each micro-batch slower than the last: a degenerate
    bucket otherwise grows the probe join linearly with corpus size.
    NOTE the cap's frame of reference is per-batch here — each batch's
    probe computes document frequency over (index so far ∪ batch), so a
    bucket can be cold in early batches and hot later; pairs already
    emitted are never retracted. Default None keeps exact LSH/pigeonhole
    candidate semantics.

    ``compact_every``: fold the index every N batches
    (``operators/dedup.fold_stream_index``) — merges all committed
    earlier batches into one ``batch=<id-1>`` directory and rewrites one
    file per partition dir, so the file count stays bounded no matter
    how long the stream runs (otherwise each micro-batch appends a
    file-set forever — the small-files death at a batch per minute).
    Keyed on ``batch_id % N`` so the cadence is restart-stable; the fold
    runs AFTER the batch's own index write and is crash-safe (the
    ``fsutil.swap_dir`` swap, with recovery wired into every index
    entry point), and probe results are byte-identical before and after
    (pinned in tests). The pairs output folds on the same cadence into
    GENERATIONS (``operators/dedup.fold_pairs_gens``): pairs land under
    engine-owned ``gen=b<id>`` partition dirs with ``batch`` preserved
    as a DATA column (user-facing provenance — "which shard found this
    pair" — never relabeled), and each fold merges the live gens into
    one single-file ``gen=f<id-1>`` dir, so the pairs DIRECTORY count
    is bounded by folds + cadence instead of growing one dir per
    micro-batch forever (~0.5 M dirs/year at a batch a minute), while
    each pairs row is rewritten at most once ever. Default None never
    compacts (run ``compact_index``/``fold_pairs_gens`` out-of-band
    instead). A pairs root holding ``batch=<k>`` partition dirs from
    an older layout is not converted: Spark's partition discovery
    rejects it loudly ("Conflicting partition column names").

    State design: unlike ``dedup_exact_stream``, the dedup state lives
    in the INDEX (Parquet on the warehouse filesystem), not in Spark
    streaming state — so it is unbounded-corpus-sized without growing
    executor state stores, survives query restarts for free, and is the
    same index the batch probe reads. foreachBatch gives at-least-once
    batch execution, so the whole loop is made replay-deterministic:
    each batch writes its index rows under a ``batch=<id>`` partition
    and its pairs under a ``gen=b<id>`` partition with dynamic
    partition overwrite (a retry REPLACES its own directories, never
    duplicates them), and the probe reads only STRICTLY EARLIER batches
    (``batch < id``, a directory-pruning partition predicate). Probing earlier-only is
    what makes every candidate pair land in exactly one batch partition
    — the batch containing its later doc — under retries AND under a
    full from-scratch replay over a surviving index (probing "all other
    batches" would double-report cross-batch pairs in that replay).

    The index path must be stream-owned (this writer's layout): to seed
    from an existing corpus, feed the corpus through as the first
    file(s) of the stream rather than pre-building with
    ``minhash_index_write``, whose un-partitioned layout cannot mix
    with the ``batch=`` directories.

    CHECKPOINT LOSS IS DESTRUCTIVE over existing index/pairs paths:
    starting with a fresh checkpoint restarts batch_id at 0, and the
    batch-start hygiene (``drop_stale_batch_dirs`` /
    ``drop_stale_pair_gens``) then deletes ALL prior batch dirs and
    pair generations — correct when the full original source replays
    (everything is rebuilt deterministically, pinned in tests), but a
    new checkpoint over a DIFFERENT or PARTIAL source permanently
    loses the prior index and pairs provenance. Both helpers log the
    dropped ids (non-empty drops are always exceptional), so the wipe
    is visible; point a genuinely new stream at fresh paths.

    Returns the ``DataStreamWriter`` — caller adds checkpoint/trigger
    and ``.start()``.
    """
    from ..operators import dedup as d

    # family-specific hook: build this batch's index rows FROM the
    # already-computed probe output (families whose index rows depend on
    # the verdicts, not just the input rows). None = stateless
    # index_rows(batch_df) as before.
    index_rows_from_pairs = None

    if family == "minhash":
        def probe(spark, batch_df, flt):
            return d.minhash_probe_candidates(
                spark, index_path, batch_df, text_col, id_col,
                n, num_hashes, bands, index_filter=flt,
                max_bucket_df=max_bucket_df,
            )

        def bootstrap(batch_df):
            return d.minhash_lsh_candidates(
                batch_df, text_col, id_col, n, num_hashes, bands,
                max_bucket_df=max_bucket_df,
            )

        def index_rows(batch_df):
            return d.minhash_band_rows(
                batch_df, text_col, id_col, n, num_hashes, bands
            )

        sidecar = (d._BAND_INDEX_META, d._band_meta(n, num_hashes, bands), d._BAND_WRITER)

        index_partition = "band"
    elif family == "simhash":
        def probe(spark, batch_df, flt):
            return d.simhash_probe_candidates(
                spark, index_path, batch_df, text_col, id_col,
                max_hamming, blocks,
                partial_recall=partial_recall, index_filter=flt,
                max_chunk_df=max_chunk_df,
            )

        def bootstrap(batch_df):
            return d.simhash_near_duplicates(
                batch_df, text_col, id_col, max_hamming, blocks,
                partial_recall=partial_recall,
                max_chunk_df=max_chunk_df,
            )

        def index_rows(batch_df):
            return d._chunked_signatures(
                d.simhash_signatures(batch_df, text_col, id_col), blocks
            )

        sidecar = (d._SIMHASH_INDEX_META, d._simhash_meta(blocks), d._SIMHASH_WRITER)

        index_partition = "blk"
    elif family == "exact":
        # the EXACT member of the trio: duplicate = identical content
        # (md5), pairs carry (canonical-so-far, duplicate, digest). The
        # state-store alternative (dedup_exact_stream) holds one digest
        # per distinct doc in executor state forever; here the state is
        # the on-disk index, same as the near-dup families.
        def probe(spark, batch_df, flt):
            return d.exact_probe_duplicates(
                spark, index_path, batch_df, text_col, id_col,
                index_filter=flt,
            )

        def bootstrap(batch_df):
            return d.exact_within_pairs(batch_df, text_col, id_col)

        def index_rows(batch_df):
            return d.exact_digest_rows(batch_df, text_col, id_col)

        sidecar = (d._EXACT_INDEX_META, d._EXACT_META, d._EXACT_WRITER)

        index_partition = "pfx"
    elif family == "semantic":
        from ..operators import semdedup as sd

        if not centroids:
            raise ValueError(
                "family='semantic' needs pre-trained centroids — training "
                "inside a micro-batch would make verdicts depend on batch "
                "boundaries (train once with ivf_train_centroids and pass "
                "the result)"
            )

        def probe(spark, batch_df, flt):
            return sd.semdedup_probe(
                batch_df, index_path, centroids, id_col, vec_col,
                index_filter=flt, max_cluster_rows=max_cluster_rows,
            )

        def bootstrap(batch_df):
            return sd.semdedup_bootstrap_verdicts(
                batch_df, centroids, semantic_threshold, id_col, vec_col
            )

        index_rows = None  # derived from the probe output instead

        def _semantic_index_rows(batch_df, verdict):
            return verdict.join(
                batch_df.select(F.col(id_col), F.col(vec_col)), id_col
            ).select(id_col, vec_col, "cluster", "centroid_sim", "kept")

        index_rows_from_pairs = _semantic_index_rows

        sidecar = (
            sd._INDEX_META,
            sd._semdedup_meta(centroids, float(semantic_threshold)),
            sd._INDEX_WRITER, sd._SEMDEDUP_WHY,
        )

        index_partition = "cluster"
    else:
        raise ValueError(
            f"family {family!r}: expected 'minhash', 'simhash', 'exact' "
            "or 'semantic'"
        )

    # parameter sidecar written at WIRING time, before any batch runs:
    # writing it inside the batch (after the index parquet) left a crash
    # window — index present, sidecar absent — in which every future
    # probe's parameter check failed and the stream was permanently
    # stuck (review find). Write-iff-absent, VALIDATE if present: a
    # restart with drifted parameters must raise here, not stamp the new
    # parameters over the index it would corrupt (second review find).
    fsutil.ensure_sidecar(stream_docs.sparkSession, index_path, *sidecar)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        batch_df.persist()
        try:
            # finish any crashed swap or fold FIRST: a pairs (or index)
            # dir parked by a crashed swap would otherwise be shadowed
            # by this batch's write recreating the canonical path, and
            # the next swap would delete the only full copy as stale
            # (the index meta entry points guard the same window; the
            # pairs path has no meta check, so its recovery lives here)
            fsutil.recover_swap(spark, pairs_path)
            fsutil.recover_swap(spark, index_path)
            d._recover_pair_fold(spark, pairs_path)

            # replay/retry hygiene: drop batch dirs / pair generations
            # at/after this batch's id. A from-scratch replay (checkpoint
            # lost) over a surviving FOLDED index otherwise duplicates
            # rows permanently — the replay's dynamic overwrite replaces
            # only the partition values its own data produces, so
            # folded-union rows under other values survive (r10 advice).
            # Steady state lists the directory and deletes nothing.
            d.drop_stale_batch_dirs(spark, index_path, batch_id)
            d.drop_stale_pair_gens(spark, pairs_path, batch_id)

            # probe iff the layout holds DATA partitions — the sidecar
            # alone (wiring creates it) isn't a readable parquet source,
            # and a crashed bootstrap retry with batch=0 data present
            # probes `batch < 0` = empty, degenerating correctly to
            # within-batch pairs
            if fsutil.glob_exists(spark, f"{index_path}/batch=*"):
                pairs = probe(spark, batch_df, F.col("batch") < batch_id)
            else:
                # bootstrap: no corpus yet — within-batch pairs only
                # (the probe's `within` branch, via the batch op)
                pairs = bootstrap(batch_df)
            if index_rows_from_pairs is not None:
                # verdict-derived index rows: materialize the probe
                # output ONCE so the verdicts are computed a single time
                # and the index-row plan cannot re-read the index after
                # this batch's own write (the probe's batch<id filter
                # already excludes it, but a checkpoint also halves the
                # probe compute)
                pairs = pairs.localCheckpoint(eager=True)
            (
                # batch = user-facing provenance, kept as a DATA column;
                # gen = the engine-owned partition (live "b<id>" dirs,
                # folded into "f<id>" generations on the cadence below)
                pairs.withColumn("batch", F.lit(batch_id))
                .withColumn("gen", F.lit(f"b{batch_id}"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("gen")
                .parquet(pairs_path)
            )
            idx = (
                index_rows(batch_df)
                if index_rows_from_pairs is None
                else index_rows_from_pairs(batch_df, pairs)
            )
            (
                idx.withColumn("batch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch", index_partition)
                .parquet(index_path)
            )
            if compact_every and batch_id % compact_every == compact_every - 1:
                d.fold_stream_index(spark, index_path, index_partition, batch_id)
                # pairs fold generationally: live gens < batch_id merge
                # into one single-file gen=f<batch_id-1> dir; folded
                # gens are terminal, so each row is rewritten at most
                # once ever and the directory count stays bounded by
                # folds + cadence (r11 VERDICT task 2)
                d.fold_pairs_gens(spark, pairs_path, batch_id)
        finally:
            batch_df.unpersist()

    return stream_docs.writeStream.foreachBatch(_process)
