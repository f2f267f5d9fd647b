"""Deduplication operators for training-data pipelines (SURVEY north-star
additions): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:
- exact dedup: one hash-groupBy on a 128-bit content digest — the only
  full shuffle, keyed uniformly (md5), so no skew;
- n-gram Jaccard: explode distinct shingles → self-join on shingle →
  pair-count aggregation. The shingle join is the classic inverted-index
  approach: cost ~ sum over shingles of df(s)^2, NOT n^2 over documents.
  Hot shingles are capped (``max_shingle_df``) exactly like real systems
  drop stop-shingles, bounding worst-case skew;
- MinHash+LSH: per-doc signature of K minima (xxhash64 with K seeds,
  all JVM-side), banded into B buckets; candidate pairs only join within
  a (band, bucket-hash) key → shuffle is O(docs×B), never O(n²);
- SimHash: 64-bit signature via per-bit majority of token hashes,
  computed with explode + bit-arithmetic aggregation (no UDF).

MinHash and SimHash take ``hash_family="md5"``, which swaps only their
lane and bucket/bit expressions for md5, a hash DuckDB ships: the
registry's md5 faces run the production pipelines under an oracle.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import fsutil
from ..session import app_cache
from .materialize import materialize as _materialize
from .text import ngrams_from_words

_LOG = logging.getLogger(__name__)


@app_cache
def _ngrams_ws_expr(n: int):
    """``ngrams_from_words`` over the fixed ``_ws`` projection name,
    built once per SparkContext. Column objects are immutable unresolved
    expression trees keyed by column NAME, so the same tree resolves
    against every ``_shingled`` projection — and building the n=8 tree
    costs ~56 ms of py4j round trips (measured r17), paid per BUILD by
    every shingle pipeline (jaccard, minhash x2, simhash x2, decontam
    x2 per call) without this memo. Guide §7.3 driver-side work."""
    return ngrams_from_words(F.col("_ws"), n)


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc, ngrams) with the text split ONCE into a projected array
    column before n-gram assembly — element accesses inside the n-gram
    transform then hit the bound array instead of re-tokenizing the
    document per element (which is O(words²) and dominated runtime)."""
    return df.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("_ws")
    ).select("doc", _ngrams_ws_expr(n).alias("ngrams"))


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by exact content digest; emit one canonical id + dup count
    per distinct content."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def window_fingerprints(
    df: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, pos, fp): md5 fingerprint of every k-word window, pos the
    0-based word offset. The fingerprint is md5 of the space-joined
    window, so any engine (the DuckDB/pure-Python parity tests) can
    reproduce it byte-for-byte — no engine-private hash. Docs shorter
    than k words emit nothing. One projection + posexplode: the split
    happens once per doc, window assembly is a JVM higher-order
    transform over the bound array."""
    src = df.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("_ws")
    ).filter(F.size("_ws") >= k)
    fps = F.transform(
        F.sequence(F.lit(0), F.size("_ws") - F.lit(k)),
        lambda i: F.md5(F.concat_ws(" ", F.slice("_ws", i + 1, k))),
    )
    return src.select("doc", F.posexplode(fps).alias("pos", "fp"))


def duplicate_spans(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication (Lee et al. 2022 semantics, re-expressed
    relationally): every k-word window whose fingerprint occurs more than
    once corpus-wide is a duplicated span; the globally FIRST occurrence
    (ordered by doc id, then position) is kept, every other occurrence
    becomes a removal span. Overlapping/adjacent spans within a doc are
    merged. Output: (doc, start, end) word intervals, end exclusive.

    SELF-OVERLAP APPROXIMATION (deliberate, mirrored by every oracle):
    when a duplicated window overlaps the kept first occurrence *within
    the same doc* (a run of >= k+1 identical words makes windows at pos
    0 and 1 share a fingerprint), the removal span cuts into the kept
    copy too — a run of n repeated words collapses to fewer than k
    surviving words rather than exactly one full window. This matches
    how suffix-array span removal behaves on self-overlapping repeats
    (all duplicated byte ranges but one are cut, and with overlap the
    survivor shrinks); exact keep-one-window semantics would require
    subtracting each fingerprint's kept interval from same-doc spans
    before the merge. The pure-Python and DuckDB replicas
    (tests/test_dedup.py) and the SQL oracle implement the SAME
    approximation, so cross-engine parity is exact.

    Scale: the only corpus-sized shuffle keys on the md5 fingerprint —
    uniform, no skew. Both window functions (occurrence count + first-
    occurrence rank) share the one (fp) partitioning. A boilerplate
    window repeated 10^6 times is 10^6 rows in one fp partition — a
    linear sort, not a quadratic join (contrast the Jaccard inverted
    index, which must pair-join its postings). Span merging partitions
    by doc — high-cardinality, bounded per-doc state."""
    wins = window_fingerprints(df, k, text_col, id_col)
    by_fp = Window.partitionBy("fp")
    order = Window.partitionBy("fp").orderBy("doc", "pos")
    dups = (
        wins.withColumn("occ", F.count(F.lit(1)).over(by_fp))
        .withColumn("rn", F.row_number().over(order))
        .filter((F.col("occ") > 1) & (F.col("rn") > 1))
        .select("doc", F.col("pos").alias("start"), (F.col("pos") + k).alias("end"))
    )
    # interval merge: new group whenever a span starts past the running
    # max end of everything before it
    by_doc = Window.partitionBy("doc").orderBy("start", "end")
    prev_max_end = F.max("end").over(by_doc.rowsBetween(Window.unboundedPreceding, -1))
    new_grp = F.when(
        F.col("start") > F.coalesce(prev_max_end, F.lit(-1)), 1
    ).otherwise(0)
    return (
        dups.withColumn(
            "grp",
            F.sum(new_grp).over(by_doc.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc", "grp")
        .agg(F.min("start").alias("start"), F.max("end").alias("end"))
        .select("doc", "start", "end")
    )


def exact_substring_dedup(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove duplicated k-word spans from the corpus (keep-first).

    Returns the input plus ``text_clean`` (the doc with removal-span
    words dropped) and ``tokens_removed``. Reconstruction is JVM-side:
    the merged spans arrive as one array column per affected doc
    (bounded: spans never overlap post-merge, so ≤ words/k per doc) and
    a filter-with-index higher-order function drops covered words — no
    Python boundary, no per-token shuffle. Docs without duplicated
    spans pass through the left join untouched."""
    spans = duplicate_spans(df, k, text_col, id_col)
    per_doc = spans.groupBy("doc").agg(
        F.collect_list(F.struct("start", "end")).alias("_cut")
    )
    joined = df.join(per_doc, F.col(id_col) == F.col("doc"), "left").drop("doc")
    words = F.split(F.col(text_col), " ")
    cut = F.coalesce(
        F.col("_cut"), F.array().cast("array<struct<start:int,end:int>>")
    )
    kept = F.filter(
        words, lambda w, i: ~F.exists(cut, lambda s: (i >= s["start"]) & (i < s["end"]))
    )
    return (
        joined.withColumn("text_clean", F.concat_ws(" ", kept))
        .withColumn("tokens_removed", (F.size(words) - F.size(kept)).cast("long"))
        .drop("_cut")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.4,
    max_shingle_df: int | None = None,
    materialize: str = "local",
) -> DataFrame:
    """All pairs with word-n-gram Jaccard >= threshold, via a shingle
    inverted index (exact, no approximation).

    jaccard = |A∩B| / (|A| + |B| - |A∩B|), computed on DISTINCT shingle
    sets. Output: (doc_a, doc_b, jaccard), doc_a < doc_b.

    Three prunes (r8) shrink the self-join below the naive
    Σ df(shingle)² string-keyed posting join:

    1. HASHED join keys: the shingle string never enters the index —
       each posting carries a 128-bit shingle identity (two independent
       ``xxhash64`` lanes), so the shuffle/sort payload per posting is
       16 fixed-width bytes instead of a ~n·word-length string, and the
       sort-merge comparisons are long compares. The two lanes use
       DIFFERENT seeds (a literal is prepended, not appended — Spark's
       multi-arg xxhash64 chains the running hash as the next seed, so
       an appended literal would leave lane 2 a pure function of lane
       1). Exact up to a simultaneous two-seed collision between two
       DISTINCT shingles (≈2⁻¹²⁸-scale for truly independent lanes;
       conservatively bounded far below any hardware error rate even if
       the seeded variants correlate); the output and the SQL oracle
       still see true string semantics.
    2. WITNESS filter: a shingle with document frequency 1 cannot be
       shared by any pair — it contributes nothing to any intersection
       count — so only postings with df ∈ [2, max_shingle_df] enter the
       self-join at all. On a deduplicated web-scale corpus singleton
       shingles are the overwhelming majority of the index; on the
       vocab-limited synthetic bench corpus (avg df ≈ 10) this prunes
       ~nothing — both measured, see SCALE.md.
    3. LENGTH filter, applied inside the join condition (Bayardo et al.
       2007): jaccard ≥ t forces t·|A| ≤ |B| ≤ |A|/t — provable from
       i ≥ t·(|A|+|B|)/(1+t) and i ≤ min — so size-incompatible pairs
       never reach the aggregation. Exact: any pruned pair would have
       been filtered by the threshold anyway (t = 0 prunes nothing).

    Set sizes stay the FULL distinct-shingle counts (denominator
    semantics unchanged, mirrored by the SQL oracle); with
    ``max_shingle_df`` only the intersection is computed over capped
    shingles.
    """
    shingled = _shingled(df, text_col, id_col, n).withColumn(
        "set_size", F.size("ngrams")
    )
    exploded = shingled.select(
        "doc",
        "set_size",
        F.explode("ngrams").alias("ngram"),
    ).select(
        "doc",
        "set_size",
        # two DIFFERENT-SEEDED lanes: Spark's multi-arg xxhash64 CHAINS
        # the running hash as the next seed, so xxhash64(ngram, lit(1))
        # would be a pure function of xxhash64(ngram) — a 64-bit
        # identity dressed as 128 (review find). Prepending the literal
        # instead makes h2 = XXH64(ngram, seed'=XXH64(1, 42)) ≠ h1's
        # seed 42, so a collision must hold under two unrelated seeds.
        F.xxhash64("ngram").alias("h1"),
        F.xxhash64(F.lit(1), F.col("ngram")).alias("h2"),
    )
    # witness + df-cap as ONE window over ONE (h1, h2) shuffle (r16):
    # the former groupBy-aggregate + merge-join-back shape computed the
    # witness table and its join ONCE PER SELF-JOIN BRANCH (the plan
    # showed the exploded×witness SortMergeJoin twice — no exchange
    # reuse across the renamed branches, guide §2.4/§7.2); the window
    # form counts each shingle's postings in the same sort the join
    # would have needed, and the filtered result is materialized so
    # both self-join branches read it. Same kept set: count over the
    # (h1, h2) frame == the old witness df, bounds unchanged.
    # (the old standalone checkpoint of `exploded` is gone too: `kept`
    # is now its only consumer, so the shingle pipeline still runs
    # exactly once — inside kept's own materialization job — without a
    # second checkpoint write of the pre-filter postings)
    df_w = F.count(F.lit(1)).over(Window.partitionBy("h1", "h2"))
    kept = exploded.withColumn("_df", df_w).filter(F.col("_df") >= 2)
    if max_shingle_df is not None:
        kept = kept.filter(F.col("_df") <= max_shingle_df)
    kept = _materialize(kept.drop("_df"), materialize, eager=False)
    # rename AFTER the join, not before (r16): identical un-renamed
    # branches canonicalize equal, so AQE's stage cache executes ONE
    # (h1, h2) shuffle and the second branch is a ReusedExchange —
    # renaming first made the branch plans differ and both branches
    # re-shuffled the checkpoint (plan-verified: ShuffleQueryStage 2 is
    # now `ReusedExchange` in the executed plan)
    a = kept.alias("A")
    b = kept.alias("B")
    t = F.lit(float(threshold))
    # sort-merge, not broadcast and not shuffle-hash: the witness index
    # is still O(shared postings) so broadcast is out, and the
    # shuffle-hash build side must FIT IN TASK MEMORY — at a 100x
    # corpus (measured: the 10x/sf10 probe) the per-partition index
    # exceeds the hash-map budget and the join dies with
    # SparkOutOfMemoryError. SMJ sorts spill to disk on both sides, so
    # the same plan degrades to I/O instead of failing (AQE still
    # splits skewed shingle buckets).
    pairs = (
        a.hint("merge")
        .join(
            b,
            (F.col("A.h1") == F.col("B.h1"))
            & (F.col("A.h2") == F.col("B.h2"))
            & (F.col("A.doc") < F.col("B.doc"))
            & (F.col("B.set_size").cast("double") >= t * F.col("A.set_size"))
            & (F.col("A.set_size").cast("double") >= t * F.col("B.set_size")),
        )
        .groupBy(
            F.col("A.doc").alias("doc_a"),
            F.col("B.doc").alias("doc_b"),
            F.col("A.set_size").alias("size_a"),
            F.col("B.set_size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jacc = F.col("inter").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("inter")
    ).cast("double")
    return (
        pairs.select("doc_a", "doc_b", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# MinHash per hash family: the aggregate lane for seed k over the
# doc's shingles ``s``, and the bucket of the band holding lanes
# [lo, lo + r). xxhash64 lanes are longs, md5 lanes are hex strings,
# which compare bytewise the same in every SQL engine (the md5 family is
# the one a DuckDB oracle replays). The xxhash64 bucket text is frozen:
# band indexes on disk were written with it.
_MINHASH_FAMILY = {
    "xxhash64": (
        "min(xxhash64(s, {k}))",
        lambda lo, r: f"xxhash64(array_join(transform(slice(signature, {lo + 1}, "
        f"{r}), x -> CAST(x AS STRING)), ','))",
    ),
    "md5": (
        "min(md5('{k}:' || s))",
        lambda lo, r: "md5(concat_ws('|', "
        + ", ".join(f"signature[{k}]" for k in range(lo, lo + r)) + "))",
    ),
}


def _family(families, hash_family: str):
    if hash_family not in families:
        raise ValueError(
            f"hash_family={hash_family!r}: expected one of {sorted(families)}"
        )
    return families[hash_family]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    *,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """K-minima MinHash signature over word n-grams: for each seed k,
    sig[k] = min over shingles of ``xxhash64(s, k)`` (or, for
    ``hash_family="md5"``, of ``md5('k:' || s)``).

    Shape: explode shingles, then K min-aggregation lanes —
    whole-stage-codegen hash functions with map-side partial combine
    (each partition collapses to one row per doc before the shuffle),
    instead of K interpreted array-transform lambdas per row."""
    lane = _family(_MINHASH_FAMILY, hash_family)[0]
    shingled = _shingled(df, text_col, id_col, n)
    ex = shingled.select("doc", F.explode("ngrams").alias("s"))
    # ALL lanes in one SQL string parsed JVM-side in a single expr call:
    # num_hashes separate F.expr(...).alias(...) pairs were still
    # 2·num_hashes py4j round trips per build (r16 driver-gap find —
    # one-shot construction halves warm build time on lane-heavy aggs);
    # the aggregate functions and the array reassembly are unchanged
    lanes = ", ".join(lane.format(k=k) for k in range(num_hashes))
    return ex.groupBy("doc").agg(F.expr(f"array({lanes})").alias("signature"))


def minhash_band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    *,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """``(doc, band, bucket)`` LSH band rows: split each doc's MinHash
    signature into ``bands`` groups of ``num_hashes/bands`` lanes and
    hash each group into a bucket (``_MINHASH_FAMILY``). One row per
    (doc, band); purely per-doc, so a doc's rows are identical whether
    it is hashed alone or with the whole corpus — which is what makes
    the frozen corpus index (:func:`minhash_index_write`) exact w.r.t.
    a full recompute. This is also the candidate-join key layout
    :func:`minhash_lsh_candidates` self-joins on."""
    if num_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}: the "
            f"trailing {num_hashes % bands} hash lanes would be paid for "
            "but never influence any bucket, silently changing the LSH "
            "S-curve"
        )
    r = num_hashes // bands
    sigs = minhash_signatures(
        df, text_col, id_col, n, num_hashes, hash_family=hash_family
    )
    bucket = _MINHASH_FAMILY[hash_family][1]
    band_structs = ", ".join(
        f"struct({b} AS band, {bucket(b * r, r)} AS bucket)" for b in range(bands)
    )
    return sigs.selectExpr(
        "doc", f"explode(array({band_structs})) AS bb"
    ).select("doc", "bb.band", "bb.bucket")


def _hot_keys(frames: list[DataFrame], keys: list[str], max_df: int) -> DataFrame:
    """The hot-key cap of every bucketed candidate join: the ``keys``
    values held by more than ``max_df`` rows of the union of ``frames``
    (probes pass ``[index, new_rows]``). A degenerate bucket
    (boilerplate-dominated corpus, near-constant field) makes the join
    O(bucket²), and at 100 TB that single bucket is the job. A MinHash
    or SimHash pair is lost only if EVERY band or chunk it agrees on is
    hot — both docs inside degenerate clusters (subset property, pinned
    in tests)."""
    rows = frames[0].select(*keys)
    for more in frames[1:]:
        rows = rows.unionByName(more.select(*keys))
    return (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .drop("df")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    materialize: str = "local",
    *,
    max_bucket_df: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` rows-per-band
    groups, bucket by the band's hash, emit candidate pairs sharing any
    bucket. Output: (doc_a, doc_b, bands_in_common).

    ``max_bucket_df``: optional hot-bucket cap (see :func:`_hot_keys`);
    the default (None) keeps exact LSH candidate semantics.
    ``hash_family``: ``"xxhash64"`` (production: integer lanes beat hex
    strings across the shuffle) or ``"md5"`` (the oracle face)."""
    band_rows = minhash_band_rows(
        df, text_col, id_col, n, num_hashes, bands, hash_family=hash_family
    )
    # materialize before the self-join so the shingle+minhash pipeline
    # runs once, not once per join branch
    band_rows = _materialize(band_rows, materialize)
    if max_bucket_df is not None:
        band_rows = band_rows.join(
            _hot_keys([band_rows], ["band", "bucket"], max_bucket_df),
            ["band", "bucket"],
            "left_anti",
        )
    # merge not shuffle-hash: same OOM hazard as the n-gram index join
    # (the band table is O(docs x bands)); SMJ spills, SHJ's build side
    # must fit in task memory. Branches renamed AFTER the join so they
    # canonicalize equal and AQE reuses ONE (band, bucket) shuffle
    # (r16, see ngram_jaccard_pairs)
    a = band_rows.alias("A")
    b = band_rows.alias("B")
    return (
        a.hint("merge")
        .join(
            b,
            (F.col("A.band") == F.col("B.band"))
            & (F.col("A.bucket") == F.col("B.bucket"))
            & (F.col("A.doc") < F.col("B.doc")),
        )
        .groupBy(
            F.col("A.doc").alias("doc_a"), F.col("B.doc").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("bands_in_common"))
    )


# parameter sidecar of the band index (fsutil's sidecar protocol):
# probes and appends with another shingle width, hash count or band
# count silently yield wrong buckets, so each entry point validates it
_BAND_INDEX_META = "_band_index_meta.json"
_BAND_WRITER = "minhash_index_write/near_dedup_stream"


def _band_meta(n: int, num_hashes: int, bands: int) -> dict:
    return {"kind": "minhash_bands", "n": n, "num_hashes": num_hashes, "bands": bands}


def minhash_index_write(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> None:
    """Materialize the corpus's LSH band index (``(doc, band, bucket)``)
    as Parquet at ``path``, partitioned by ``band``. This is the
    pay-the-hashing-once half of incremental dedup: the corpus's
    shingle→minhash→band pipeline runs exactly once here, and every
    future :func:`minhash_probe_candidates` call only *scans* the
    result. Band partitioning keeps per-directory files bounded and lets
    a probe configured with fewer bands prune whole directories."""
    minhash_band_rows(df, text_col, id_col, n, num_hashes, bands).write.mode(
        "overwrite"
    ).partitionBy("band").parquet(path)
    meta = _band_meta(n, num_hashes, bands)
    fsutil.write_sidecar(df.sparkSession, path, _BAND_INDEX_META, meta)


def minhash_index_append(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> None:
    """Fold a probed shard into the frozen index: append its band rows
    (validated against the parameter sidecar the index was written with
    — a mismatched shingle/hash/band count raises instead of corrupting
    every future probe) so the next shard's probe sees it as corpus.
    ``probe → append`` per shard is the complete incremental-ingest
    loop: no corpus row is ever re-hashed, and after K shards the index
    equals :func:`minhash_index_write` over the union (parity pinned in
    tests). Parquet append only adds files — existing data files are
    never rewritten, so at 100 TB this is an O(shard) metadata+write
    operation (run :func:`compact_index` over the small files on
    whatever cadence the scan profile needs, exactly like any
    log-structured table)."""
    fsutil.check_sidecar(
        df.sparkSession, path, _BAND_INDEX_META, _band_meta(n, num_hashes, bands), _BAND_WRITER
    )
    minhash_band_rows(df, text_col, id_col, n, num_hashes, bands).write.mode(
        "append"
    ).partitionBy("band").parquet(path)


def compact_index(spark, path: str, partition_cols: list[str]) -> None:
    """Rewrite a frozen-index directory to ONE file per partition
    directory — the compaction the append operators delegate to
    ("run a compaction over small files on whatever cadence the store
    needs"): K appends leave K small files per partition, and at some K
    the scan's file-open overhead beats the rewrite cost. Works for any
    of the append-able layouts (band index ``["band"]``, SimHash chunk
    index ``["blk"]``, a streaming index ``["batch", "band"]`` — batch
    dirs survive, as the earlier-only probe requires; IVF/LSH via their
    partition column).

    Crash-safe the same way ``Warehouse.compact`` is: the rewrite and
    every ``_*.json`` sidecar land in a scratch directory published by
    :func:`fsutil.swap_dir`, and every index entry point (ensure/check
    meta) runs :func:`fsutil.recover_swap` first, so a crash mid-swap
    never loses the index. All FS ops go through the Hadoop API
    (fsutil), so HDFS/S3 index paths work."""
    _rewrite_index(spark, path, partition_cols)


def _dir_id(name: str, prefix: str) -> int | None:
    """Parse a dir name ``<prefix><k>`` → k; any other name → None."""
    try:
        return int(name[len(prefix):]) if name.startswith(prefix) else None
    except ValueError:
        return None


def _gen_dir_id(name: str) -> tuple[int, str] | None:
    """Parse a pairs GENERATION dir name: ``gen=b<k>`` (live, one
    micro-batch) → (k, 'b'); ``gen=f<k>`` (folded, the union of live
    gens merged at batch k+1) → (k, 'f'); anything else → None."""
    for kind in "bf":
        if (k := _dir_id(name, f"gen={kind}")) is not None:
            return k, kind
    return None


def _drop_stale(spark, path: str, batch_id: int, parse) -> dict[str, int]:
    """The one replay-hygiene loop: delete every child of ``path`` whose
    ``parse``d batch id is ``>= batch_id``; returns {dropped name: id}
    in name order. Non-empty drops are exceptional and logged with the
    names, so an unintended wipe is visible, not silent."""
    dropped = {
        name: k for name in sorted(fsutil.list_names(spark, path))
        if (k := parse(name)) is not None and k >= batch_id
    }
    for name in dropped:
        fsutil.delete(spark, f"{path}/{name}")
    if dropped:
        _LOG.warning(
            "replay hygiene at %s (batch_id=%d): dropped %s — a retry/replay "
            "is rebuilding them (a fresh checkpoint over an existing "
            "index/pairs path wipes prior state unless the full original "
            "source replays)",
            path, batch_id, list(dropped),
        )
    return dropped


def drop_stale_pair_gens(spark, path: str, batch_id: int) -> list[str]:
    """Replay hygiene for the generational pairs layout: delete every
    ``gen=b<k>``/``gen=f<k>`` dir with ``k >= batch_id`` at batch start.
    Same contract as :func:`drop_stale_batch_dirs` (see its docstring
    for why dynamic overwrite alone cannot clean a from-scratch replay):
    a replay's batch 0 wipes both live and folded generations from the
    previous life and rebuilds deterministically; a mid-stream retry of
    batch b drops only its own crashed ``gen=b<b>`` (a fold created
    during the crashed attempt is ``f<b-1>``, strictly earlier, and
    survives correctly). Returns the dropped dir names."""
    gen_of = lambda name: (p := _gen_dir_id(name)) and p[0]  # noqa: E731
    return list(_drop_stale(spark, path, batch_id, gen_of))


def _recover_pair_fold(spark, path: str) -> None:
    """Finish a :func:`fold_pairs_gens` that crashed mid-protocol:
    leftover ``.compact.gen=f<k>`` tmp dirs are always incomplete
    merges — delete them; a folded ``gen=f<k>`` dir proves every live
    ``gen=b<id>`` with ``id <= k`` was merged into the fold chain (the
    fold reads ALL live gens strictly earlier than its batch), so any
    such survivor is a crashed source-delete — remove it, or its rows
    would be permanently duplicated beside their folded copy."""
    names = fsutil.list_names(spark, path)
    for name in names:
        if name.startswith(".compact.gen="):
            fsutil.delete(spark, f"{path}/{name}")
    gens = {name: parsed for name in names if (parsed := _gen_dir_id(name))}
    max_f = max((k for k, kind in gens.values() if kind == "f"), default=None)
    if max_f is None:
        return
    for name, (k, kind) in gens.items():
        if kind == "b" and k <= max_f:
            _LOG.warning(
                "pairs fold recovery: deleting %s/%s (already merged "
                "into gen=f%d by a fold whose source-delete crashed)",
                path, name, max_f,
            )
            fsutil.delete(spark, f"{path}/{name}")


def fold_pairs_gens(spark, path: str, current_batch: int) -> list[int]:
    """Bound the pairs log's DIRECTORY count with a generational fold —
    the pairs twin of :func:`fold_stream_index` (VERDICT r11 task 2).

    The generational layout keeps ``batch`` as a DATA column inside the
    files (user-facing provenance — "which shard found this pair" —
    preserved verbatim, never relabeled) while the partition dir is the
    engine-owned ``gen`` column: each micro-batch lands in ``gen=b<id>``
    and every fold merges all live gens STRICTLY EARLIER than
    ``current_batch`` into one single-file ``gen=f<current_batch - 1>``
    dir, then removes the sources. Folded gens are terminal — never
    re-read by later folds — so each pairs row is rewritten exactly
    once ever (per-fold cost is O(batches since the last fold), unlike
    a whole-history rewrite) and after B batches at cadence N the
    layout holds ≤ B/N folded dirs + N live dirs: directory count is
    bounded by a constant × generation count no matter the stream age.

    Why strictly-earlier is replay-safe (same argument as
    :func:`fold_stream_index`): foreachBatch commits serially, so gens
    < b can never retry; a retry of b itself rewrites only its own
    ``gen=b<b>`` (dynamic overwrite + :func:`drop_stale_pair_gens`),
    which no fold has touched. Crash protocol: merge into a
    dot-prefixed tmp (invisible to partition discovery), one rename,
    then source deletes; :func:`_recover_pair_fold` finishes the
    source-delete window (a folded gen proves its sources stale) and
    clears tmps. The single fold rename makes the new generation
    appear atomically; an out-of-band reader scanning during the
    source-delete window may transiently see a merged row twice —
    same transient-duplication semantics as any eventually-consistent
    log compaction, resolved by the next listing. Returns the live
    batch ids merged ([] when none, e.g. a retry after the fold
    completed)."""
    _recover_pair_fold(spark, path)
    gens = filter(None, map(_gen_dir_id, fsutil.list_names(spark, path)))
    live = [k for k, kind in gens if kind == "b" and k < current_batch]
    if not live:
        return []
    fold_id = current_batch - 1
    dst = f"{path}/gen=f{fold_id}"
    tmp = f"{path}/.compact.gen=f{fold_id}"
    fsutil.delete(spark, tmp)
    src_dirs = [f"{path}/gen=b{k}" for k in sorted(live)]
    # reading the bare partition dirs yields exactly the file content
    # (batch is a data column; gen lives only in the dir name);
    # coalesce(1): no shuffle, one file per generation — the fold is
    # also the file compaction for the merged window
    spark.read.parquet(*src_dirs).coalesce(1).write.parquet(tmp)
    if not fsutil.rename(spark, tmp, dst):
        raise IOError(
            f"pairs fold: rename {tmp} -> {dst} failed; live gens left "
            "untouched"
        )
    for sdir in src_dirs:
        fsutil.delete(spark, sdir)
    return sorted(live)


def drop_stale_batch_dirs(spark, path: str, batch_id: int) -> list[int]:
    """Delete ``batch=<id>`` directories with ``id >= batch_id`` from a
    stream-owned layout. Normal serial streaming never has one (batches
    commit monotonically, so batch b only ever sees dirs < b); they
    exist only after (a) a mid-batch crash — the retry's own partial
    ``batch=<b>`` write — or (b) a from-scratch replay over a surviving
    index (checkpoint lost), where the previous life's dirs — including
    :func:`fold_stream_index`'s relabeled union dir — would otherwise
    duplicate the rows the replay re-writes. Dynamic partition
    overwrite alone cannot clean (b): it replaces only the partition
    values the replayed batch itself produces, so folded-union rows
    under OTHER partition values (a sparse digest-prefix batch, a
    coarser replay chunking) survived as permanent duplicate index rows
    and duplicate emitted pairs (r10 advice). Returns the dropped ids
    (driver-side directory listing; empty in steady state).

    DESTRUCTIVE ON CHECKPOINT LOSS, by design: starting a stream with a
    fresh checkpoint (batch_id restarts at 0) over an EXISTING layout
    deletes every prior batch dir — correct when the same source
    replays in full (the replay rebuilds everything), but a replay over
    a different or partial source permanently loses the difference.
    Non-empty drops are always exceptional and are logged (see
    :func:`_drop_stale`)."""
    batch_of = lambda name: _dir_id(name, "batch=")  # noqa: E731
    return sorted(_drop_stale(spark, path, batch_id, batch_of).values())


def fold_stream_index(
    spark, path: str, index_partition: str, current_batch: int
) -> None:
    """Compact a STREAMING index (``batch=<id>/<band|blk>=...`` layout,
    the one :func:`~..streaming.dedupe_stream.near_dedup_stream`
    writes): merge every batch STRICTLY EARLIER than ``current_batch``
    into the single directory ``batch=<current_batch - 1>`` and rewrite
    one file per partition dir. Without this the loop appends one
    file-set per micro-batch forever — at a batch per minute the index
    is a small-files problem in days; with a fold every N batches the
    layout holds at most N+1 batch directories regardless of stream
    age.

    Why relabeling is safe: foreachBatch batches commit serially, so
    when batch b runs, every batch < b is committed and can never
    retry; a RETRY of b itself probes ``batch < b``, which still
    matches the folded ``b-1`` directory (content unchanged — exactly
    the union of batches 0..b-1), and its dynamic overwrite touches
    only ``batch=b``, which the fold never rewrites. A from-scratch
    replay (checkpoint lost) over the surviving folded index is NOT
    safe by overwrite alone — the replay's ``batch=b-1`` dynamic
    overwrite replaces only the partition values its own data
    produces, so folded-union rows under other values (a sparse
    digest-prefix batch, a coarser replay chunking) would survive as
    permanent duplicates (r10 advice). ``near_dedup_stream`` therefore
    drops every ``batch >= id`` dir at each batch start
    (:func:`drop_stale_batch_dirs`): replay batch 0 clears the
    surviving dirs and the replay rebuilds the index from scratch,
    deterministically. Crash-safety is the same swap as
    :func:`compact_index` (:func:`fsutil.swap_dir`, recovery wired into
    every index entry point)."""
    fold_to = current_batch - 1
    _rewrite_index(
        spark,
        path,
        ["batch", index_partition],
        transform=lambda df: df.withColumn(
            "batch",
            F.when(F.col("batch") < current_batch, F.lit(fold_to)).otherwise(
                F.col("batch")
            ),
        ),
    )


def _rewrite_index(spark, path: str, partition_cols: list[str], transform=None) -> None:
    """The full-rewrite body shared by :func:`compact_index` and
    :func:`fold_stream_index`: write the index to a scratch directory
    with its ``_*.json`` sidecars, then publish it with
    :func:`fsutil.swap_dir`. ``transform`` optionally rewrites the
    DataFrame between read and write (the fold's batch relabeling)."""
    fsutil.recover_swap(spark, path)  # finish a crashed prior rewrite
    if not fsutil.exists(spark, path):
        raise ValueError(f"no index directory at {path}")
    tmp = fsutil.swap_tmp(spark, path)
    df = spark.read.parquet(path)
    if transform is not None:
        df = transform(df)
    # repartition BY the partition values: each value's rows land whole
    # in one task → exactly one file per partition directory
    df.repartition(*[F.col(c) for c in partition_cols]).write.partitionBy(
        *partition_cols
    ).parquet(tmp)
    for name in fsutil.list_names(spark, path):
        if name.startswith("_") and name.endswith(".json"):  # sidecars
            text = fsutil.read_text(spark, f"{path}/{name}")
            fsutil.write_text(spark, f"{tmp}/{name}", text)
    fsutil.swap_dir(spark, tmp, path)


def minhash_probe_candidates(
    spark,
    index_path: str,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    broadcast_new: bool = True,
    index_filter=None,
    materialize: str = "local",
    *,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """Incremental dedup: candidate pairs between a NEW document batch
    and a frozen corpus index (:func:`minhash_index_write`), plus pairs
    within the new batch itself. Output matches
    :func:`minhash_lsh_candidates` — (doc_a, doc_b, bands_in_common),
    doc_a < doc_b — restricted to pairs touching the new batch: because
    band rows are purely per-doc, the result is EXACTLY the full
    recompute over (corpus ∪ batch) filtered to pairs with a new-batch
    side (pinned by tests/test_dedup.py). Doc ids must be disjoint from
    the indexed corpus — re-submitting an indexed doc would pair it with
    itself under two row identities.

    100 TB story: the corpus never re-hashes and never shuffles — the
    incoming shard's band rows broadcast to the index scan
    (BroadcastHashJoin, zero Exchange above the corpus-side Parquet
    scan; plan-asserted in tests), so per-shard cost is O(shard hashing
    + corpus scan + matches), not O(corpus hashing). For a shard too
    large to broadcast, ``broadcast_new=False`` falls back to a
    sort-merge join that shuffles both sides (still O(docs×bands) keys,
    the same bound as the batch form); the within-batch self-join then
    inherits the same merge hint (shard-sized band table, same SHJ task
    -memory hazard the batch form documents). ``materialize`` is the
    standard local|reliable lineage-cut knob (operators/materialize.py).

    ``max_bucket_df``: the hot-bucket cap, computed over (index ∪
    batch) so the result stays EXACTLY the capped batch recompute
    filtered to batch-touching pairs. Costs one extra map-side-combined
    aggregation pass over the index per probe (the price of an exact
    corpus-wide document frequency); the hot set broadcasts into
    anti-joins on both sides, so the index branch stays Exchange-free
    below the probe join. Default None keeps single-scan probes."""
    fsutil.check_sidecar(
        spark, index_path, _BAND_INDEX_META, _band_meta(n, num_hashes, bands), _BAND_WRITER
    )
    new_rows = minhash_band_rows(new_df, text_col, id_col, n, num_hashes, bands)
    # computed once, consumed by two join branches (index probe + batch
    # self-join): cut lineage so the shingle+minhash pipeline runs once
    new_rows = _materialize(new_rows, materialize)
    idx = spark.read.parquet(index_path)
    if index_filter is not None:
        # e.g. exclude a retried micro-batch's own rows (a partition
        # predicate on the streaming index's `batch` column — prunes
        # directories, see streaming/dedupe_stream.near_dedup_stream)
        idx = idx.filter(index_filter)
    if max_bucket_df is not None:
        hot = F.broadcast(_hot_keys([idx, new_rows], ["band", "bucket"], max_bucket_df))
        idx = idx.join(hot, ["band", "bucket"], "left_anti")
        new_rows = new_rows.join(hot, ["band", "bucket"], "left_anti")
    probe = F.broadcast(new_rows) if broadcast_new else new_rows.hint("merge")
    cross = (
        idx.join(probe.withColumnRenamed("doc", "doc_new"), ["band", "bucket"])
        .filter(F.col("doc") != F.col("doc_new"))
        .select(
            F.least("doc", "doc_new").alias("doc_a"),
            F.greatest("doc", "doc_new").alias("doc_b"),
        )
    )
    a = new_rows.select(F.col("doc").alias("doc_a"), "band", "bucket")
    b = new_rows.select(F.col("doc").alias("doc_b"), "band", "bucket")
    if not broadcast_new:
        a = a.hint("merge")
    within = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    return (
        cross.unionByName(within)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("bands_in_common"))
    )


# SimHash per hash family: the signature width, the per-token
# projections over ``(doc, w)`` (each list one selectExpr stage) and
# bit b of a token. xxhash64 gives 64 bits from one hash. md5 gives 32:
# bit b is the top bit of hex char b+1 of md5(w) (32 fair, independent
# coins from ONE md5 per token, a measured 32x hash-cost cut over one
# md5 per (token, lane)); each 8-char block is parsed ONCE with conv()
# into an integer that every lane reads with shiftright/& (r16: 32
# interpreted substring+string-compare evaluations per token became 4
# convs + 32 codegen'd shift-ands, identical bits by construction).
_SIMHASH_FAMILY = {
    "xxhash64": (64, [["xxhash64(w) AS h"]], lambda b: f"shiftright(h, {b}) & 1"),
    "md5": (
        32,
        [
            ["md5(w) AS h"],
            [
                f"cast(conv(substring(h, {s * 8 + 1}, 8), 16, 10) as bigint) AS m{s}"
                for s in range(4)
            ],
        ],
        lambda b: f"shiftright(m{b // 8}, {31 - 4 * (b % 8)}) & 1",
    ),
}


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash: per-bit majority vote over token hashes (64 bits of
    xxhash64, or 32 of md5 — see ``_SIMHASH_FAMILY``). explode(words) →
    for each bit, count set tokens → reassemble the signature. One
    shuffle (groupBy id), bit lanes are column expressions."""
    bits, stages, bit = _family(_SIMHASH_FAMILY, hash_family)
    tokens = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    )
    for cols in stages:
        tokens = tokens.selectExpr("doc", *cols)
    # per-bit set count n_b = sum(bit_b) — branch-free lanes; majority
    # vote is 2·n_b > n_tokens (≡ the classic ±1 sum > 0).
    # The WHOLE signature — all `bits` sum-lanes and the reassembly —
    # is ONE SQL string parsed JVM-side in a single expr call: the
    # Column-API form was ~600 py4j round trips (~1 s of driver time)
    # per build at 64 bits (r14), and even one-expr-per-lane still paid
    # 2·bits round trips (r16 driver-gap find). Catalyst dedupes the
    # repeated count(1) aggregate; the per-lane sums and the final
    # integer arithmetic are unchanged, so signatures are identical.
    sig_sql = " | ".join(
        f"shiftleft(CASE WHEN 2 * sum({bit(b)}) > count(1) "
        f"THEN 1L ELSE 0L END, {b})"
        for b in range(bits)
    )
    return tokens.groupBy("doc").agg(F.expr(sig_sql).alias("simhash"))


def _check_simhash_params(
    bits: int, blocks: int, max_hamming: int, partial_recall: bool
) -> None:
    """The two SimHash configuration guards: ``blocks`` must divide the
    signature width, and ``max_hamming < blocks`` for the pigeonhole
    recall guarantee unless the caller opts out."""
    if bits % blocks:
        raise ValueError(
            f"blocks={blocks} must divide bits={bits}: the trailing "
            f"{bits % blocks} bits would never enter any chunk"
        )
    if max_hamming >= blocks and not partial_recall:
        raise ValueError(
            f"max_hamming={max_hamming} >= blocks={blocks} voids the "
            "block-permutation recall guarantee (a pair can differ in "
            "every chunk); raise blocks past max_hamming or pass "
            "partial_recall=True to accept the heuristic"
        )


def _chunked_signatures(sigs: DataFrame, blocks: int, bits: int = 64) -> DataFrame:
    """``(doc, simhash, blk, chunk)`` rows: the ``bits``-wide signature
    split into ``blocks`` bit chunks (the block-permutation candidate
    key). Purely per-doc — a doc's rows are identical alone or with the
    whole corpus, which is what makes the frozen SimHash index
    (:func:`simhash_index_write`) exact w.r.t. a full recompute."""
    chunk_bits = bits // blocks
    mask = (1 << chunk_bits) - 1
    chunk_structs = ", ".join(
        f"struct({i} AS blk, "
        f"shiftright(simhash, {i * chunk_bits}) & {mask}L AS chunk)"
        for i in range(blocks)
    )
    return sigs.selectExpr(
        "doc", "simhash", f"explode(array({chunk_structs})) AS c"
    ).select("doc", "simhash", "c.blk", "c.chunk")


_SIMHASH_INDEX_META = "_simhash_index_meta.json"
_SIMHASH_WRITER = "simhash_index_write/near_dedup_stream"


def _simhash_meta(blocks: int) -> dict:
    return {"kind": "simhash_blocks", "bits": 64, "blocks": blocks}


def simhash_index_write(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    blocks: int = 4,
) -> None:
    """Materialize the corpus's SimHash chunk index (``(doc, simhash,
    blk, chunk)``) as Parquet at ``path``, partitioned by ``blk`` —
    the SimHash twin of :func:`minhash_index_write`: the corpus's
    tokenize→64-lane-vote pipeline runs exactly once here."""
    chunked = _chunked_signatures(
        simhash_signatures(df, text_col, id_col), blocks
    )
    chunked.write.mode("overwrite").partitionBy("blk").parquet(path)
    fsutil.write_sidecar(df.sparkSession, path, _SIMHASH_INDEX_META, _simhash_meta(blocks))


def simhash_index_append(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    blocks: int = 4,
) -> None:
    """Fold a probed shard into the frozen SimHash index (validated
    against the parameter sidecar); ``probe → append`` per shard is the
    same incremental-ingest loop :func:`minhash_index_append` documents
    — O(shard) writes, resident files untouched."""
    fsutil.check_sidecar(
        df.sparkSession, path, _SIMHASH_INDEX_META, _simhash_meta(blocks), _SIMHASH_WRITER
    )
    _chunked_signatures(simhash_signatures(df, text_col, id_col), blocks).write.mode(
        "append"
    ).partitionBy("blk").parquet(path)


def simhash_probe_candidates(
    spark,
    index_path: str,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    partial_recall: bool = False,
    broadcast_new: bool = True,
    index_filter=None,
    materialize: str = "local",
    *,
    max_chunk_df: int | None = None,
) -> DataFrame:
    """Incremental SimHash near-dup: pairs (Hamming <= max_hamming)
    between a NEW batch and a frozen chunk index, plus pairs within the
    batch — EXACTLY :func:`simhash_near_duplicates` over (corpus ∪
    batch) filtered to pairs touching the batch (chunk rows are purely
    per-doc; parity pinned in tests/test_dedup.py). Same pigeonhole
    guarantee/opt-out and the same broadcast-probe plan shape as
    :func:`minhash_probe_candidates`: the corpus side never re-hashes
    and never shuffles. ``max_chunk_df`` is the hot-chunk cap computed
    over (index ∪ batch), exactly the batch op's semantics — one extra
    aggregation pass over the index per probe when set. Doc ids must be
    disjoint from the index."""
    _check_simhash_params(64, blocks, max_hamming, partial_recall)
    fsutil.check_sidecar(
        spark, index_path, _SIMHASH_INDEX_META, _simhash_meta(blocks), _SIMHASH_WRITER
    )
    new_rows = _materialize(
        _chunked_signatures(simhash_signatures(new_df, text_col, id_col), blocks),
        materialize,
    )
    idx = spark.read.parquet(index_path)
    if index_filter is not None:
        # e.g. the streaming twin's strictly-earlier-batches predicate
        # (a directory-pruning partition filter) — see
        # streaming/dedupe_stream.near_dedup_stream
        idx = idx.filter(index_filter)
    if max_chunk_df is not None:
        hot = F.broadcast(_hot_keys([idx, new_rows], ["blk", "chunk"], max_chunk_df))
        idx = idx.join(hot, ["blk", "chunk"], "left_anti")
        new_rows = new_rows.join(hot, ["blk", "chunk"], "left_anti")
    probe = F.broadcast(new_rows) if broadcast_new else new_rows.hint("merge")
    hamming_x = F.bit_count(F.col("simhash").bitwiseXOR(F.col("sig_new")))
    cross = (
        idx.join(
            probe.withColumnsRenamed({"doc": "doc_new", "simhash": "sig_new"}),
            ["blk", "chunk"],
        )
        .filter(F.col("doc") != F.col("doc_new"))
        .select(
            F.least("doc", "doc_new").alias("doc_a"),
            F.greatest("doc", "doc_new").alias("doc_b"),
            hamming_x.alias("hamming"),
        )
    )
    a = new_rows.select(
        F.col("doc").alias("doc_a"), F.col("simhash").alias("sig_a"), "blk", "chunk"
    )
    b = new_rows.select(
        F.col("doc").alias("doc_b"), F.col("simhash").alias("sig_b"), "blk", "chunk"
    )
    if not broadcast_new:
        a = a.hint("merge")
    within = (
        a.join(b, ["blk", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
    )
    return (
        cross.unionByName(within)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    max_chunk_df: int | None = None,
    partial_recall: bool = False,
    materialize: str = "local",
    *,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming, using
    the standard block-permutation trick: split the signature into
    ``blocks`` chunks; any pair within distance d < blocks must share at
    least one exact chunk → join per chunk, verify Hamming on the full
    signature. Output: (doc_a, doc_b, hamming), distinct.

    ``hash_family``: ``"xxhash64"`` (production: 64-bit signatures
    discriminate better) or ``"md5"`` (32 bits, the oracle face).
    ``blocks`` must divide the width.

    The pigeonhole guarantee needs ``max_hamming < blocks``; configs
    outside it silently MISS pairs whose differing bits spread across
    every chunk, so they are rejected loudly unless the caller opts in
    with ``partial_recall=True`` (a legitimate cheap heuristic — more
    blocks means a quadratic candidate-join cost on small chunks).

    Signatures are materialized before the self-join (``materialize=``:
    ``local`` | ``reliable`` — see operators/materialize.py for the
    executor-loss trade-off): otherwise both join branches recompute
    the explode + per-bit vote aggregation. At warehouse scale this step
    is "write the signature table, then join it to itself".

    ``max_chunk_df``: optional hot-bucket cap (see :func:`_hot_keys`),
    the SimHash analogue of the shingle-df cap
    (``ngram_jaccard_pairs``): chunk values shared by more than this
    many docs are dropped from the candidate join. On a skewed corpus
    (boilerplate-dominated, a stopword that swamps the per-bit vote)
    one chunk value can collect a large fraction of all docs; the
    default (None) keeps exact candidate semantics."""
    bits = _family(_SIMHASH_FAMILY, hash_family)[0]
    _check_simhash_params(bits, blocks, max_hamming, partial_recall)
    sigs = _materialize(
        simhash_signatures(df, text_col, id_col, hash_family=hash_family),
        materialize,
    )
    chunked = _chunked_signatures(sigs, blocks, bits)
    if max_chunk_df is not None:
        chunked = chunked.join(
            _hot_keys([chunked], ["blk", "chunk"], max_chunk_df),
            ["blk", "chunk"],
            "left_anti",
        )
    # rename after the join for AQE exchange reuse (r16, see
    # ngram_jaccard_pairs); merge not shuffle-hash: spills under a hot
    # chunk instead of OOMing the build-side hash map (sf10 lesson from
    # the n-gram join). Pairs sharing several chunks dedupe in distinct.
    a = chunked.alias("A")
    b = chunked.alias("B")
    hamming = F.bit_count(
        F.col("A.simhash").bitwiseXOR(F.col("B.simhash"))
    )
    return (
        a.hint("merge")
        .join(
            b,
            (F.col("A.blk") == F.col("B.blk"))
            & (F.col("A.chunk") == F.col("B.chunk"))
            & (F.col("A.doc") < F.col("B.doc")),
        )
        .select(
            F.col("A.doc").alias("doc_a"),
            F.col("B.doc").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components_twophase(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iterations: int = 50,
    stats: dict | None = None,
    materialize: str = "local",
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) → (doc, component), component = MIN reachable id.

    Converges in O(log n) rounds on ANY graph shape — the alternative to
    ``connected_components`` (min-label propagation, O(diameter) rounds)
    for adversarial long-chain graphs. Per round: two groupBy-min +
    two joins, all shuffling on node id; edge set never grows beyond the
    input (stars only shrink it).

    - large-star: every node's neighbors LARGER than it re-attach to the
      minimum of its neighborhood (incl. itself);
    - small-star: edges are directed larger→smaller; each node and its
      smaller neighbors re-attach to the neighborhood minimum.

    ``stats``: optional dict; receives {"rounds": n} for observability
    (the chain-graph test asserts the O(log n) bound through it).
    ``materialize``: ``local`` | ``reliable`` — per-round lineage cut
    mode (operators/materialize.py); the truncation itself is mandatory
    here, only its fault-tolerance is a knob.
    """
    edges = pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    cur = _materialize(
        edges.filter(F.col("u") != F.col("v")).distinct(), materialize
    )
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        # large-star
        sym = cur.unionAll(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over larger→smaller directed edges
        dirred = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins2 = (
            dirred.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        )
        small = (
            dirred.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(mins2.select(F.col("u"), F.col("m").alias("v")))
        )
        new = _materialize(
            small.filter(F.col("u") != F.col("v")).distinct(),
            materialize,
            eager=False,
        )
        # converged when the (distinct) edge set is unchanged: same size
        # and nothing in new that wasn't in cur
        n_new = new.count()
        if n_new == cur.count() and new.exceptAll(cur).isEmpty():
            cur = new
            break
        cur = new
    else:
        # O(log n) convergence means this never fires legitimately —
        # returning the unconverged labeling would be silently wrong
        raise RuntimeError(
            f"connected_components_twophase did not converge in "
            f"{max_iterations} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    roots = cur.select(F.col("v").alias("u"), F.col("v")).distinct()
    return (
        cur.unionAll(roots)
        .distinct()
        .select(F.col("u").alias("doc"), F.col("v").alias("component"))
    )


def _components_driver_local(
    rows, spark, doc_type: str
) -> DataFrame:
    """Union-find over a COLLECTED pair list → (doc, component) with
    component = MIN reachable id — exactly the fixpoint the distributed
    min-label loop converges to, computed in one pass. Union is
    symmetric and idempotent, so the raw pair rows work directly: no
    symmetrization, dedup or distinct of the edge set is needed first
    (r16: the fast path reads the materialized pair projection and
    skips the symmetrize+distinct shuffle and the loop entirely). Only
    called for pair sets under ``driver_max_edges`` (the caller bounds
    the collect), the same small-side-collapses-to-one-node reasoning
    as a broadcast join."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        u, v = r[0], r[1]
        for n in (u, v):
            if n not in parent:
                parent[n] = n
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN root so every root IS its component's min id
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    out = [(n, find(n)) for n in parent]
    out.sort()
    # slice at parallelize time: createDataFrame(list) would split the
    # local rows into defaultParallelism near-empty Python slices (one
    # worker round-trip each per action). NOT .coalesce(n) — a coalesced
    # task re-reads every parent python-RDD slice at ~150 ms each
    # (measured: coalesce(1) 4.7 s vs 0.3 s for a 1-slice parallelize).
    return spark.createDataFrame(
        spark.sparkContext.parallelize(out, max(1, len(out) // 200_000)),
        f"doc {doc_type}, component {doc_type}",
    )


# Edge-count bound for the driver-local components fast path: 2M edges
# ≈ 32 MB of ids on an 8 GB driver — comfortably collectable, far past
# any candidate-pair graph the test corpora produce, far below what a
# 100 TB near-dup graph can reach (which takes the distributed loop).
COMPONENTS_DRIVER_MAX_EDGES = 2_000_000


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iterations: int = 20,
    materialize: str = "local",
    driver_max_edges: int | None = COMPONENTS_DRIVER_MAX_EDGES,
) -> DataFrame:
    """Connected components over a candidate-pair graph → (doc,
    component), component = MIN doc id reachable. The step real dedup
    pipelines run after pair generation: a near-dup CLUSTER keeps one
    canonical doc.

    Algorithm: iterative min-label propagation. Each round every node
    takes min(own label, neighbors' labels); converges in O(graph
    diameter) rounds (near-dup clusters are small and dense, so 2-4
    rounds in practice — the loop exits early on a converged round via
    one cheap count per iteration). Each round is one join + one
    aggregate, both shuffling on node id; labels are materialized each
    round (``materialize=``: ``local`` | ``reliable``, see operators/
    materialize.py) so the lineage (and its re-execution) doesn't grow
    per round.

    Deterministic: min() over ids, no ordering sensitivity.

    ``driver_max_edges`` (r16): when the pair set is at or under this
    row count, the components are computed with one driver-local
    union-find over the collected pairs instead of the iterative join
    loop — identical output (component = MIN reachable id; union is
    symmetric and idempotent, so the raw pairs need no symmetrization
    or distinct first). The 2-column pair projection is materialized
    ONCE and both regimes read it: the gate is a bounded
    ``limit(n+1).collect()`` against the pinned blocks, the fast path
    union-finds those collected rows, and the big-graph path derives
    the symmetric edge set from the same checkpoint — so the upstream
    pair pipeline is computed exactly once either way (never re-run
    for the gate), while the small graph skips the symmetrize+distinct
    shuffle, the gate count and the O(diameter) join+count rounds —
    all pure scheduling overhead there (measured: the registry's
    256-pair graph spent ~1.6 s in loop rounds and another ~0.4 s in
    edge-set materialization + gate jobs). The cost above the bound is
    the pair-projection checkpoint itself (~16 bytes/row before the
    ~2x-larger symmetric edge set replaces it) plus one cheap bounded
    read. Pass ``None`` to force the loop with no extra
    materialization (the executor-loss harness does: its scenarios
    test the loop's fault behavior).
    """
    proj = pairs.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
    if driver_max_edges is not None:
        proj = _materialize(proj, materialize)
        rows = proj.limit(driver_max_edges + 1).collect()
        if len(rows) <= driver_max_edges:
            # id type = the WIDENED type of src ∪ dst — exactly what the
            # distributed loop's symmetrize union produces, so the two
            # regimes return identical schemas even for mixed-width id
            # columns (int src vs bigint dst; r16 advice). Driver-only
            # schema analysis, no job.
            widened = (
                proj.select(F.col("s").alias("x"))
                .unionAll(proj.select(F.col("d").alias("x")))
                .schema["x"]
                .dataType.simpleString()
            )
            return _components_driver_local(
                rows, pairs.sparkSession, widened
            )
    edges = _materialize(
        proj.unionAll(
            proj.select(F.col("d").alias("s"), F.col("s").alias("d"))
        ).distinct(),
        materialize,
    )
    labels = _materialize(
        edges.select(F.col("s").alias("doc"))
        .distinct()
        .withColumn("label", F.col("doc")),
        materialize,
        # lazy: the first round's join realizes it — one fewer eager
        # job per build (r16); edges above stays eager because BOTH the
        # label init and every round's join read it
        eager=False,
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.s == labels.doc)
            .groupBy(F.col("d").alias("doc2"))
            .agg(F.min("label").alias("nmin"))
        )
        # carry the previous label through the merge: one join computes
        # the new label AND the convergence delta (no second join, no
        # separate materialization job — the count() realizes the lazy
        # checkpoint)
        merged = _materialize(
            labels.join(neighbor_min, labels.doc == F.col("doc2"), "left")
            .select(
                "doc",
                F.col("label").alias("__old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            ),
            materialize,
            eager=False,
        )
        changed = merged.filter(F.col("label") != F.col("__old")).count()
        labels = merged.select("doc", "label")
        if changed == 0:
            break
    else:
        # O(diameter) didn't fit the budget (adversarial long-path
        # component). Returning the partial labeling would silently split
        # one real component into many — fail loudly and point at the
        # O(log n) variant, same contract as connected_components_twophase.
        raise RuntimeError(
            f"connected_components (min-label) did not converge in "
            f"{max_iterations} rounds — graph diameter exceeds the budget; "
            "use connected_components_twophase for long-chain graphs"
        )
    return labels.select(F.col("doc"), F.col("label").alias("component"))


# ---- incremental EXACT dedup (digest index + probe) ----
# The exact member of the frozen-index serve-path trio (MinHash and
# SimHash above): continuous ingest should not re-digest or shuffle the
# corpus per shard, and the streaming alternative
# (dropDuplicates[WithinWatermark]) keeps one digest per distinct doc in
# EXECUTOR state stores — unbounded at 100 TB. Here the state is the
# on-disk index: probe classifies a shard's rows against it with one
# broadcast join (zero Exchange above the index scan), append folds the
# survivors in, compact_index/fold_stream_index bound the file counts.

# no parameter of the digest index can drift (md5 is md5), but its
# sidecar's kind still refuses an exact probe pointed at a band or
# chunk index, whose join key would silently be garbage
_EXACT_INDEX_META = "_exact_index_meta.json"
_EXACT_META = {"kind": "exact_md5"}
_EXACT_WRITER = "exact_index_write/near_dedup_stream"


def exact_digest_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(doc, digest, pfx)`` — the exact-dedup analogue of band rows:
    purely per-doc (a doc's row is identical alone or with the corpus,
    which is what makes the frozen index append-able). ``digest`` is
    md5 of the content (cross-engine reproducible, same choice as
    :func:`exact_duplicates`); ``pfx`` = its first hex char, the index
    partition key — 16 uniformly-filled directories give compaction and
    the streaming layout their partition unit WITHOUT multiplying file
    counts (a 256-way first-byte split was measured to cost the probe
    5× in file-open overhead at sf1; pruning never applies here — a
    probe touches all digests — so more dirs buy nothing)."""
    return df.select(
        F.col(id_col).alias("doc"), F.md5(F.col(text_col)).alias("digest")
    ).withColumn("pfx", F.substring("digest", 1, 1))


def exact_index_write(
    df: DataFrame, path: str, text_col: str = "text", id_col: str = "doc_id"
) -> None:
    """Materialize the corpus's digest index at ``path`` (pay the
    corpus's hashing — and more importantly its TEXT scan — exactly
    once; every future probe only scans 32-byte digests). Repartitioned
    BY the partition value so each dir gets one file per write, not one
    per upstream input split."""
    exact_digest_rows(df, text_col, id_col).repartition(F.col("pfx")).write.mode(
        "overwrite"
    ).partitionBy("pfx").parquet(path)
    fsutil.write_sidecar(df.sparkSession, path, _EXACT_INDEX_META, _EXACT_META)


def exact_index_append(
    df: DataFrame, path: str, text_col: str = "text", id_col: str = "doc_id"
) -> None:
    """Fold a probed shard into the index (typically after filtering to
    the probe's survivors — appending known duplicates is allowed but
    makes them extra canonical-candidates forever). Parquet append only
    adds files; run :func:`compact_index` (``["pfx"]``) on cadence."""
    fsutil.check_sidecar(df.sparkSession, path, _EXACT_INDEX_META, _EXACT_META, _EXACT_WRITER)
    exact_digest_rows(df, text_col, id_col).repartition(F.col("pfx")).write.mode(
        "append"
    ).partitionBy("pfx").parquet(path)


def _exact_pairs_from_groups(bagg: DataFrame) -> DataFrame:
    """(digest, bmin, bdocs) → (doc_a=bmin, doc_b, digest) pairs — the
    within-batch (bootstrap) expansion; bdocs is batch-sized."""
    return bagg.select(
        F.col("bmin").alias("doc_a"),
        F.explode(F.array_remove(F.col("bdocs"), F.col("bmin"))).alias("doc_b"),
        "digest",
    )


def exact_probe_duplicates(
    spark,
    index_path: str,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_new: bool = True,
    index_filter=None,
    materialize: str = "local",
) -> DataFrame:
    """Classify a new shard against the frozen digest index: one row
    ``(doc_a, doc_b, digest)`` per duplicate relation touching the
    shard, ``doc_a`` the content's canonical (the global MIN doc id
    over index ∪ shard holders). The result is EXACTLY the batch
    semantics — ``exact_duplicates`` over (corpus ∪ shard), expanded to
    (canonical, other) pairs — filtered to pairs with a shard side
    (pinned in tests): a shard doc duplicating the corpus pairs with
    the corpus canonical; a shard doc that UNDERCUTS the corpus ids
    (out-of-order ingest) becomes the new canonical and pairs with the
    indexed holders it displaces. Doc ids must be disjoint from the
    indexed corpus, same contract as the MinHash probe.

    Shard rows to KEEP (then :func:`exact_index_append`) are the ones
    absent from ``doc_b``: ``shard.join(pairs, shard.doc_id == doc_b,
    "left_anti")``.

    100 TB story: the shard's digests broadcast to the index scan
    (BroadcastHashJoin — zero Exchange above the corpus-side Parquet
    scan, plan-asserted in tests), so per-shard cost is O(shard hashing
    + corpus scan + matches); the corpus never re-digests.
    ``broadcast_new=False`` falls back to a merge join for a shard too
    large to broadcast. No per-key array is ever built over INDEX rows:
    a degenerate corpus (the same content appended blindly across a
    million shards) pairs through a distributed join in the rare
    undercut case, not a collect_list that concentrates one content's
    million holders into a single aggregation buffer; the only arrays
    are batch-sized (per-shard, caller-bounded)."""
    fsutil.check_sidecar(spark, index_path, _EXACT_INDEX_META, _EXACT_META, _EXACT_WRITER)
    new_rows = _materialize(exact_digest_rows(new_df, text_col, id_col), materialize)
    idx = spark.read.parquet(index_path)
    if index_filter is not None:
        idx = idx.filter(index_filter)
    probe = F.broadcast(new_rows) if broadcast_new else new_rows.hint("merge")
    matched = idx.join(probe.select("digest").distinct(), "digest")
    # SCALAR per digest — never a holder list over index rows
    iagg = matched.groupBy("digest").agg(F.min("doc").alias("imin"))
    bagg = new_rows.groupBy("digest").agg(
        F.min("doc").alias("bmin"), F.collect_list("doc").alias("bdocs")
    )
    # iagg is match-sized (≤ shard digests): broadcast it so the outer
    # join costs no second shuffle of the shard aggregates
    if broadcast_new:
        iagg = F.broadcast(iagg)
    joined = _materialize(bagg.join(iagg, "digest", "left"), materialize)
    # batch-side pairs: canonical vs the batch docs (the index side of
    # the canon=bmin case is handled by the undercut join below)
    canon = F.when(
        F.col("imin").isNull() | (F.col("bmin") < F.col("imin")), F.col("bmin")
    ).otherwise(F.col("imin"))
    partners = F.when(
        F.col("imin").isNull() | (F.col("bmin") < F.col("imin")),
        F.array_remove(F.col("bdocs"), F.col("bmin")),
    ).otherwise(F.col("bdocs"))
    batch_pairs = joined.select(
        canon.alias("doc_a"), F.explode(partners).alias("doc_b"), "digest"
    ).filter(F.col("doc_a") != F.col("doc_b"))
    # undercut case (rare: a shard id below every indexed holder): the
    # new canonical pairs with each displaced index holder — a JOIN
    # against the matched index rows, distributed over however many
    # holders a hot content has
    undercut = joined.filter(
        F.col("imin").isNotNull() & (F.col("bmin") < F.col("imin"))
    ).select("digest", "bmin")
    # ``joined`` is already materialized, so probing it for undercuts is
    # a cheap local job — and when there are none (the overwhelmingly
    # common in-order-ingest case) the undercut branch is dropped
    # ENTIRELY, halving the probe's index-scan cost: ``matched`` feeds
    # both iagg (realized into the checkpoint above) and this branch,
    # so keeping an always-empty union arm re-scanned the whole index a
    # second time at action time for zero rows (r11 self-review; the
    # sf100 warm A/B showed the probe at 1.33x the recompute with the
    # double scan).
    if undercut.isEmpty():
        return batch_pairs
    if broadcast_new:
        undercut = F.broadcast(undercut)
    undercut_pairs = matched.join(undercut, "digest").select(
        F.col("bmin").alias("doc_a"), F.col("doc").alias("doc_b"), "digest"
    )
    return batch_pairs.unionByName(undercut_pairs)


def exact_within_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-batch exact-duplicate pairs ``(doc_a, doc_b, digest)`` —
    the bootstrap (no corpus yet) branch of the probe; equals
    :func:`exact_duplicates` expanded to (canonical, other) pairs."""
    bagg = exact_digest_rows(df, text_col, id_col).groupBy("digest").agg(
        F.min("doc").alias("bmin"), F.collect_list("doc").alias("bdocs")
    )
    return _exact_pairs_from_groups(bagg)
