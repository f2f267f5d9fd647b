"""Semantic deduplication (SemDeDup, Abbas et al. 2023): k-means
cluster the corpus embeddings, then prune near-duplicate neighborhoods
WITHIN each cluster — the scale path for "these two documents say the
same thing" dedup, where pairwise-over-everything (even LSH-bucketed)
is too loose or too expensive at billions of vectors.

Beyond the reference's scope (training-data pack, like
``operators/dedup.py`` / ``operators/similarity.py``), and a different
contract from both: ``embedding_near_dup_*`` REPORT pairs above a
threshold; ``semantic_dedup`` makes the KEEP/DROP decision the paper
specifies — within each cluster, order points by similarity to the
centroid ascending (the paper's finding: keep the examples FAR from
the centroid), and drop a point iff some earlier point in that order
is closer than ``threshold`` cosine. Not a transitive closure: the
drop test is against all predecessors, dropped or kept, exactly the
paper's upper-triangular formulation — so the operator is a single
deterministic pass, not an iterative clustering.

Scale shape:
- clustering reuses the deterministic distributed k-means from
  ``operators/similarity.py`` (broadcast k×dim centroids, Arrow gemm
  assignment, k·dim-sized update shuffles);
- the within-cluster pairwise work is Σ nᵢ² — bounded by choosing
  ``n_centroids ∝ N / target_cluster_size`` (the paper runs 50 k
  clusters over 5 B embeddings for the same reason);
- a runaway cluster (skewed corpora produce them) is split
  deterministically by a VECTOR-hash salt before the pairwise pass —
  identical vectors always share a salt, so exact duplicates can never
  escape through the split; near-duplicates across salts are the
  documented recall loss, same trade as the LSH hot-bucket cap;
- inside each task the n×n similarity matrix is never materialized:
  blocked GEMM rows (``_BLOCK`` × n float32) keep peak memory
  O(block · cluster), not O(cluster²).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import fsutil
from .similarity import (
    _INDEX_META,
    _INDEX_WRITER,
    _assign_clusters,
    _centroid_digest,
    _unit_rows,
    ivf_train_centroids,
)

# rows per GEMM slab inside a cluster task: peak extra memory is
# _BLOCK × cluster_rows float32 scores (2048 × 200k ≈ 1.6 GB worst case
# at the default max_cluster_rows — sized to executor memory, not data)
_BLOCK = 2048

# threshold slack for the float32 GEMM scores, read by one kernel per
# comparison (the one-shot loop, _resident_hits, _greedy_kept): the
# chunked-equals-single-pass parity depends on them comparing
# identically (r13 review find: four hand-synchronized copies)
_EPS = 1e-6


def _verdict_ddl(id_col: str, id_type: str) -> str:
    """The schema of every verdict frame: (id, cluster, centroid_sim, kept)."""
    return f"`{id_col}` {id_type}, cluster int, centroid_sim double, kept boolean"


def _verdict_frame(id_col, ids, cluster, csim, order, kept_in_order):
    """One group's verdict rows in input row order; ``kept_in_order``
    holds the keep bits in the group's sort ``order``."""
    import numpy as np
    import pandas as pd

    kept = np.empty(len(order), dtype=bool)
    kept[order] = kept_in_order
    return pd.DataFrame(
        {id_col: ids, "cluster": np.int32(cluster), "centroid_sim": csim, "kept": kept}
    )


def _centroid_order(values, ids, centroid):
    """One group's SemDeDup order: (float32 unit rows sorted by
    centroid_sim ASC then id ASC, centroid_sims in input order, the
    sort permutation). Zero vectors get centroid_sim 0.0."""
    import numpy as np

    unit, norms = _unit_rows(values)
    cn = np.linalg.norm(centroid)
    csim = (unit @ centroid) / cn if cn > 0 else np.zeros(len(unit))
    csim = np.where(norms == 0.0, 0.0, csim)
    order = np.lexsort((np.asarray(ids), csim))
    return unit[order].astype(np.float32), csim, order


def _resident_hits(u, residents, thr: float, block: int):
    """Per float32 unit row of ``u``: does some ``residents`` vector
    score >= ``thr``? Slabbed BOTH ways: kept residents per cluster are
    unbounded (salt subclusters of the one-shot write share one cluster
    partition), so a single rows × residents matrix could be tens of GB
    on exactly the skewed corpora the salt guard exists for — peak here
    is ``block`` × ``block`` float32. ``block`` is an argument, not
    ``_BLOCK``: this function ships to workers by reference, so it would
    read each worker's own module value."""
    import numpy as np

    hit = np.zeros(len(u), dtype=bool)
    if len(residents):
        ur = _unit_rows(residents)[0].astype(np.float32)
        for lo in range(0, len(u), block):
            for rlo in range(0, len(ur), block):
                s = u[lo : lo + block] @ ur[rlo : rlo + block].T
                hit[lo : lo + block] |= (s >= thr - _EPS).any(axis=1)
    return hit


def _greedy_kept(u, hit, thr: float):
    """The online retained-set pass over float32 unit rows ``u`` in
    their (centroid_sim, id) order: a row is kept iff it has no
    resident ``hit`` and scores below ``thr`` against every row kept
    before it. Sims are taken only against the KEPT prefix,
    accumulated into a preallocated matrix — no rows² similarity
    matrix is ever materialized."""
    import numpy as np

    kept_mat = np.empty_like(u)
    n_kept = 0
    kept = np.zeros(len(u), dtype=bool)
    for i in range(len(u)):
        if hit[i] or (n_kept and (kept_mat[:n_kept] @ u[i] >= thr - _EPS).any()):
            continue
        kept_mat[n_kept] = u[i]
        n_kept += 1
        kept[i] = True
    return kept


def _cluster_counts(df: DataFrame) -> dict:
    """Rows of ``df`` per cluster (k driver-sized rows)."""
    return {
        r["cluster"]: r["n"]
        for r in df.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def _per_cluster(counts: dict) -> Column:
    """A per-cluster count as a Column: a when-chain over the entries
    above 1 (k branches, driver-sized by construction), else 1."""
    col = F.lit(1)
    for c, s in counts.items():
        if s > 1:
            col = F.when(F.col("cluster") == c, F.lit(s)).otherwise(col)
    return col


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    max_cluster_rows: int = 200_000,
    train_fraction: float | None = None,
) -> DataFrame:
    """Per-vector keep/drop verdict → (id, cluster, centroid_sim,
    kept). ``centroid_sim`` is cosine(vector, its cluster centroid);
    ``kept=False`` iff an earlier point in the (centroid_sim ASC, id
    ASC) order of the same cluster (and salt split) has cosine >=
    ``threshold`` with it. Zero-norm vectors get centroid_sim 0.0 and
    are always kept (cosine with anything is 0). Pass pre-trained
    ``centroids`` to skip training (the production path — train once
    per corpus snapshot, reuse across reruns).

    ``train_fraction``: train the k-means quantizer on a deterministic
    xxhash subsample (the SemDeDup paper trains its quantizer on a
    subset too). Each Lloyd iteration costs a full n·k·d assignment
    pass; with k ∝ N (the paper's cluster-size discipline) that term
    dominates the decades, and sampling cuts every TRAINING pass to
    n·s·k·d while the one final assignment stays exact. Different
    samples give (slightly) different centroids — verdicts shift at
    cluster boundaries, quality does not (k-means is fit on the same
    distribution); determinism for a given fraction is preserved."""
    import numpy as np

    if centroids is None:
        train_src = embeddings
        if train_fraction is not None and train_fraction < 1.0:
            mod = max(2, int(round(1.0 / train_fraction)))
            train_src = embeddings.filter(
                F.pmod(
                    F.xxhash64(F.col(id_col).cast("string")), F.lit(mod)
                )
                == 0
            )
        centroids = ivf_train_centroids(
            train_src, n_centroids, iterations, id_col, vec_col
        )
    if not centroids:
        # empty corpus (or empty training sample): no clusters exist —
        # return an empty verdict with the contract schema instead of
        # letting numpy raise an opaque AxisError on a 0×0 matrix
        id_type = embeddings.schema[id_col].dataType.simpleString()
        return embeddings.sparkSession.createDataFrame([], _verdict_ddl(id_col, id_type))
    # persist: the size census below and the prune pass both need the
    # full n·k·d assignment — uncached, the most expensive scan of the
    # operator would run twice. Handed back to Spark's LRU (same policy
    # as the lm_perplexity model tables).
    assigned = _assign_clusters(embeddings, centroids, id_col, vec_col).persist()

    # deterministic split of runaway clusters: salt by the VECTOR hash
    # (not the id) so exact duplicates always share a subcluster; the
    # size census is k rows — driver-sized by construction
    splits = {
        c: -(-n // max_cluster_rows) for c, n in _cluster_counts(assigned).items()
    }  # ceil division
    if any(s > 1 for s in splits.values()):
        salt_col = F.pmod(F.xxhash64(F.col(vec_col)), _per_cluster(splits)).cast("int")
    else:
        # no cluster exceeds max_cluster_rows: pmod(anything, 1) is 0
        # for every row, so skip hashing the full vector per row (the
        # salt hash reads every element of every embedding — pure
        # per-task work, guide §8.3) and the WHEN chain outright.
        # Identical grouping: salt was constant 0 anyway.
        salt_col = F.lit(0).cast("int")
    salted = assigned.withColumn("salt", salt_col)

    sc = embeddings.sparkSession.sparkContext
    cmat_bc = sc.broadcast(np.asarray(centroids, dtype=np.float64))

    def prune(key, pdf):
        cluster = int(key[0])
        u, csim, order = _centroid_order(
            pdf[vec_col], pdf[id_col], cmat_bc.value[cluster - 1]
        )
        n = len(u)
        dropped = np.zeros(n, dtype=bool)
        for lo in range(0, n, _BLOCK):
            hi = min(lo + _BLOCK, n)
            if lo == 0 and hi == n:
                s = u @ u.T
            else:
                s = u[lo:hi] @ u[:hi].T
            # a row i (absolute index lo+r) drops iff any j < i scores
            # above threshold — mask the diagonal and upper triangle
            for r in range(hi - lo):
                i = lo + r
                if i == 0:
                    continue
                if (s[r, :i] >= threshold - _EPS).any():
                    dropped[i] = True
        return _verdict_frame(id_col, pdf[id_col], cluster, csim, order, ~dropped)

    id_type = assigned.schema[id_col].dataType.simpleString()
    return salted.groupBy("cluster", "salt").applyInPandas(
        prune, schema=_verdict_ddl(id_col, id_type)
    )


def _semdedup_meta(centroids: list[list[float]], threshold: float | None) -> dict:
    """The verdict index's build parameters: its quantizer and the
    THRESHOLD (verdicts are not comparable across thresholds). A
    ``None`` threshold leaves the key out, so a probe that takes the
    index's own threshold does not compare it."""
    meta = {
        "kind": "semdedup",
        "dim": len(centroids[0]),
        "n_centroids": len(centroids),
        "threshold": threshold,
        "centroid_digest": _centroid_digest(centroids),
    }
    if threshold is None:
        del meta["threshold"]
    return meta


_SEMDEDUP_WHY = "centroids do not match or the threshold differs: verdicts would not compare"


def semdedup_index_write(
    embeddings: DataFrame,
    path: str,
    threshold: float = 0.95,
    n_centroids: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    max_cluster_rows: int = 200_000,
) -> list[list[float]]:
    """Materialize the curated-corpus verdict index: every vector with
    its cluster, centroid_sim, and one-shot ``semantic_dedup`` verdict,
    written as Parquet PARTITIONED BY cluster (the IVF layout — a probe
    is a partition-pruned scan). The meta sidecar pins the centroid
    digest and the THRESHOLD: verdicts are only meaningful at the
    threshold they were made at, so probes refuse a different one.
    Returns the (possibly trained) centroids — persist them next to the
    index; probes need them to assign new batches."""
    if centroids is None:
        centroids = ivf_train_centroids(
            embeddings, n_centroids, iterations, id_col, vec_col
        )
    verdict = semantic_dedup(
        embeddings,
        threshold,
        id_col=id_col,
        vec_col=vec_col,
        centroids=centroids,
        max_cluster_rows=max_cluster_rows,
    )
    rows = verdict.join(
        embeddings.select(F.col(id_col), F.col(vec_col)), id_col
    ).select(id_col, vec_col, "cluster", "centroid_sim", "kept")
    rows.write.mode("overwrite").partitionBy("cluster").parquet(path)
    spark = embeddings.sparkSession
    # kept-count census per cluster, cached in the sidecar: probes use
    # it to size their runaway-cluster guard WITHOUT a per-probe scan
    # of the kept column (r13 — the census cost showed up at sf100).
    # One column-pruned scan here, at build time, k driver-sized rows.
    kept_counts = {
        str(c): n
        for c, n in _cluster_counts(spark.read.parquet(path).filter(F.col("kept"))).items()
    }
    fsutil.write_sidecar(
        spark, path, _INDEX_META,
        {**_semdedup_meta(centroids, threshold), "kept_per_cluster": kept_counts},
    )
    return centroids


def semdedup_bootstrap_verdicts(
    batch: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Online-contract verdicts for a batch with NO residents (a
    stream's first micro-batch): the greedy (centroid_sim ASC, id ASC)
    retained-set pass with an empty seed — exactly
    :func:`semdedup_probe` against an empty index."""
    assigned = _assign_clusters(batch, centroids, id_col, vec_col)
    return _greedy_pass(
        assigned.withColumn("_hit_res", F.lit(False)),
        centroids,
        float(threshold),
        id_col,
        vec_col,
    )


def semdedup_probe(
    batch: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float | None = None,
    max_cluster_rows: int = 200_000,
    index_filter=None,
    eager: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Online semantic dedup of a NEW batch against the curated corpus:
    (id, cluster, centroid_sim, kept) for the batch only — resident
    verdicts never change.

    CONTRACT (deliberately different from one-shot ``semantic_dedup``,
    whose suppressors include DROPPED predecessors per the paper's
    upper-triangular formulation): a new point is dropped iff it is
    within ``threshold`` cosine of a KEPT suppressor — a kept resident
    of its cluster, or an earlier new point of this batch (ordered
    (centroid_sim ASC, id ASC)) that itself survived. Verdicts are
    APPEND-ONLY (a resident's verdict never changes) and exactly
    reproducible: probe+append over any batch sequence equals the
    sequential greedy pass in (batch, centroid_sim, id) order — pinned
    by the sequential-replay parity test. Two caveats define the
    contract's edges: (a) verdicts depend on ARRIVAL order — merging
    two batches into one can differ from probing them sequentially,
    because the merged pass interleaves their (centroid_sim, id) order;
    (b) one-shot and online verdicts can differ on chains (a suppresses
    b, c is near b but not a: one-shot drops c, online keeps it).

    Scale shape: the batch assigns against broadcast centroids; the
    index scan reads ONLY the kept members of the clusters the batch
    touches (cluster partition pruning + a kept pushdown filter). The
    per-task GROUP INPUT is bounded too (r12 advisor find — the GEMM
    was slabbed but a runaway cluster's whole resident set still
    materialized as one pandas frame): a kept-count census per touched
    cluster (k rows) decides per probe; when every touched cluster fits
    ``max_cluster_rows`` the single-pass path runs unchanged, otherwise
    the probe arms a two-phase plan — phase 1 chunks residents by a
    VECTOR-hash (exact duplicates share a chunk), replicates the new
    points across their cluster's chunks, and computes the
    resident-hit bit per (cluster, chunk) task whose input is ≤
    ``max_cluster_rows`` residents + the batch's cluster slice; phase 2
    runs the greedy new-vs-new pass per cluster over the BATCH rows
    only (micro-batch-sized by contract). Verdicts are identical on
    both paths — the hit bit is an OR over chunks — pinned by the
    chunked-equals-single-pass parity test."""
    import numpy as np

    spark = batch.sparkSession
    meta = fsutil.check_sidecar(
        spark, path, _INDEX_META, _semdedup_meta(centroids, threshold),
        _INDEX_WRITER, _SEMDEDUP_WHY,
    )
    thr = float(meta["threshold"])

    # persist: the touched-cluster census and the union below both need
    # the batch assignment — uncached, the gemm would run twice
    assigned = _assign_clusters(batch, centroids, id_col, vec_col).persist()
    touched = sorted(
        r["cluster"] for r in assigned.select("cluster").distinct().collect()
    )
    src = spark.read.parquet(path)
    if index_filter is not None:
        # the streaming twin probes only STRICTLY EARLIER batches
        # (a directory-pruning partition predicate on the batch column)
        src = src.filter(index_filter)
    residents = (
        src.filter(F.col("cluster").isin(touched) & F.col("kept"))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("cluster"),
            F.lit(True).alias("_resident"),
        )
    )
    # kept-resident counts per touched cluster: from the sidecar when
    # the index maintains them (semdedup_index_write/append do — zero
    # per-probe scan), else a census over the kept column (k driver-
    # sized rows, vector column pruned away). The streaming twin's
    # earlier-batches-only frame (index_filter) never matches the
    # whole-index sidecar counts, so it always takes the census. The
    # counts gate only WHICH plan runs — both plans produce identical
    # verdicts — so a stale sidecar (out-of-band writes, which the
    # append contract already forbids) degrades the guard, not the
    # result.
    meta_counts = meta.get("kept_per_cluster")
    if index_filter is None and meta_counts is not None:
        tset = set(touched)
        res_counts = {
            int(k): v for k, v in meta_counts.items() if int(k) in tset
        }
        # belt for the sidecar's one honesty gap (r13 advisor): a crash
        # between an append's parquet write and its sidecar write leaves
        # the count UNDER truth, and a deep undercount could pick the
        # single-pass plan on a runaway cluster — the exact OOM the
        # counts exist to prevent. When any touched count is already in
        # the limit's neighborhood (>= half), pay the cheap census and
        # take max(sidecar, census): the census is partition-pruned to
        # the touched clusters with the vector column pruned away, and
        # the half band plus the self-healing append recount
        # (semdedup_index_append rebuilds touched counts from the index
        # after every successful append) make a silent under-chunk
        # require a pile of crashed appends with no healthy append
        # after them.
        if any(v * 2 >= max_cluster_rows for v in res_counts.values()):
            census = _cluster_counts(residents)
            res_counts = {
                c: max(res_counts.get(c, 0), census.get(c, 0))
                for c in touched
            }
    else:
        res_counts = _cluster_counts(residents)
    chunks = {
        c: max(1, -(-res_counts.get(c, 0) // max_cluster_rows))
        for c in touched
    }
    if stats is not None:
        stats["res_counts"] = dict(res_counts)
        stats["plan"] = (
            "chunked" if any(s > 1 for s in chunks.values()) else "single"
        )
    if any(s > 1 for s in chunks.values()):
        out = _probe_chunked(
            spark, assigned, residents, centroids, chunks, thr,
            id_col, vec_col,
        )
        return _finish_probe(out, assigned, eager)

    both = assigned.select(
        F.col(id_col), F.col(vec_col), F.col("cluster"),
        F.lit(False).alias("_resident"),
    ).unionByName(residents)

    cmat_bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    block = _BLOCK  # read at plan build, so the closure carries it

    def prune(key, pdf):
        cluster = int(key[0])
        new = pdf[~pdf["_resident"]]
        if len(new) == 0:
            return _verdict_frame(id_col, new[id_col], cluster, np.zeros(0), [], [])
        u, csim, order = _centroid_order(
            new[vec_col], new[id_col], cmat_bc.value[cluster - 1]
        )
        hit = _resident_hits(u, pdf[pdf["_resident"]][vec_col], thr, block)
        return _verdict_frame(
            id_col, new[id_col], cluster, csim, order, _greedy_kept(u, hit, thr)
        )

    id_type = batch.schema[id_col].dataType.simpleString()
    out = both.groupBy("cluster").applyInPandas(prune, schema=_verdict_ddl(id_col, id_type))
    return _finish_probe(out, assigned, eager)


def _finish_probe(out: DataFrame, assigned: DataFrame, eager: bool) -> DataFrame:
    """Probe exit: by default (``eager=True``) materialize the verdicts
    — they are micro-batch-sized — via an eager localCheckpoint and
    RELEASE the assignment cache, so a long-lived caller (the
    ``family='semantic'`` stream probes once per micro-batch) does not
    leak one plan-level cached DataFrame per call (r13 advisor; plan-
    cache entries are never GC-cleaned, unlike the checkpoint's RDD
    blocks, which the ContextCleaner reclaims once the returned frame
    is dropped). ``eager=False`` keeps the verdict frame lazy — the
    plan stays inspectable (the partition-pruning test reads it) — and
    leaves the assignment cached; the caller owns its release."""
    if not eager:
        return out
    out = out.localCheckpoint(eager=True)
    assigned.unpersist()
    return out


def _probe_chunked(
    spark, assigned, residents, centroids, chunks, thr, id_col, vec_col
) -> DataFrame:
    """The bounded two-phase probe plan for runaway clusters (see
    :func:`semdedup_probe`). Same verdicts as the single-pass plan:
    phase 1 computes the resident-hit bit with every task input capped,
    phase 2 replays the greedy new-vs-new pass with that bit joined in.
    """
    import numpy as np
    import pandas as pd

    n_chunks = _per_cluster(chunks)
    # replicate each new point across its cluster's resident chunks;
    # chunk residents by the VECTOR hash (exact duplicates co-chunk,
    # matching the one-shot salt's guarantee)
    new_rep = assigned.select(
        F.col(id_col), F.col(vec_col), F.col("cluster"),
        F.lit(False).alias("_resident"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk"),
    )
    res_chunked = residents.select(
        F.col(id_col), F.col(vec_col), F.col("cluster"),
        F.col("_resident"),
        F.pmod(F.xxhash64(F.col(vec_col)), n_chunks).cast("int").alias(
            "chunk"
        ),
    )
    id_type = assigned.schema[id_col].dataType.simpleString()
    block = _BLOCK  # read at plan build, so the closure carries it

    def hit_pass(key, pdf):
        new = pdf[~pdf["_resident"]]
        hit = np.zeros(0, dtype=bool)
        if len(new):
            u = _unit_rows(new[vec_col])[0].astype(np.float32)
            hit = _resident_hits(u, pdf[pdf["_resident"]][vec_col], thr, block)
        return pd.DataFrame({id_col: new[id_col], "hit": hit})

    hit_agg = (
        new_rep.unionByName(res_chunked)
        .groupBy("cluster", "chunk")
        .applyInPandas(hit_pass, schema=f"`{id_col}` {id_type}, hit boolean")
        .groupBy(id_col)
        .agg(F.max("hit").alias("_hit_res"))
    )

    return _greedy_pass(
        assigned.join(hit_agg, id_col, "left").withColumn(
            "_hit_res", F.coalesce(F.col("_hit_res"), F.lit(False))
        ),
        centroids,
        thr,
        id_col,
        vec_col,
    )


def _greedy_pass(
    with_hit: DataFrame, centroids, thr: float, id_col: str, vec_col: str
) -> DataFrame:
    """The greedy new-vs-new retained-set pass per cluster, over a
    frame carrying a precomputed ``_hit_res`` column (was this point
    suppressed by a kept resident?). Group input is the batch's cluster
    slice — micro-batch-sized by contract. Shared by the chunked probe
    plan and the bootstrap (empty-index) path."""
    import numpy as np

    sc = with_hit.sparkSession.sparkContext
    cmat_bc = sc.broadcast(np.asarray(centroids, dtype=np.float64))
    id_type = with_hit.schema[id_col].dataType.simpleString()

    def greedy(key, pdf):
        cluster = int(key[0])
        u, csim, order = _centroid_order(
            pdf[vec_col], pdf[id_col], cmat_bc.value[cluster - 1]
        )
        hit = pdf["_hit_res"].to_numpy(dtype=bool)[order]
        return _verdict_frame(
            id_col, pdf[id_col], cluster, csim, order, _greedy_kept(u, hit, thr)
        )

    return with_hit.groupBy("cluster").applyInPandas(
        greedy, schema=_verdict_ddl(id_col, id_type)
    )


def semdedup_index_append(
    batch: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_rows: int = 200_000,
) -> DataFrame:
    """Probe a new batch, then append it (verdicts AND vectors, kept or
    not — dropped rows document provenance and keep the layout
    re-buildable) to the cluster-partitioned index. Contract: batch ids
    must be new to the index (append, not upsert — same rule as
    ``ivf_index_append``). Returns the batch verdicts. The verdict is
    materialized BEFORE the write so the returned frame cannot re-read
    the index mid-append.

    COMPACTION CADENCE: every append lands one parquet file per
    batch×cluster, so a long-running loop accumulates small files
    unboundedly (the r13 VERDICT's missing #3). Run
    ``dedup.compact_index(spark, path, ["cluster"])`` on whatever
    cadence the store needs — the same knob the streaming twin
    automates as ``compact_every``. The rewrite is crash-safe, copies
    every ``_*.json`` sidecar (the semdedup meta INCLUDING the
    kept-count census survives verbatim), and probes/appends recover a
    crashed compact on their next meta read — pinned by
    test_semdedup_index_compact_bounds_files_and_keeps_verdicts."""
    verdict = semdedup_probe(
        batch, path, centroids, id_col, vec_col,
        max_cluster_rows=max_cluster_rows,
    )
    rows = (
        verdict.join(batch.select(F.col(id_col), F.col(vec_col)), id_col)
        .select(id_col, vec_col, "cluster", "centroid_sim", "kept")
        .localCheckpoint(eager=True)
    )
    rows.write.mode("append").partitionBy("cluster").parquet(path)
    # maintain the sidecar's kept-count census so future probes keep
    # sizing their runaway-cluster guard without a corpus scan. The
    # TOUCHED clusters' counts are rebuilt FROM THE INDEX (partition-
    # pruned to those clusters, vector column pruned away) rather than
    # delta-added onto the stored base: the parquet append above and
    # this sidecar write are not atomic, and under delta arithmetic one
    # crash between them would leave that cluster permanently
    # undercounted — every later delta lands on the stale base, which
    # silently disarms the max_cluster_rows chunking guard (r13
    # advisor). Recounting makes the sidecar self-healing: any drift on
    # a cluster is erased by the next successful append that touches
    # it, and the probe-side near-limit census (semdedup_probe) covers
    # the window in between. Read-modify-write of the sidecar remains
    # safe under the append contract (single writer, new ids only).
    spark = batch.sparkSession
    meta = fsutil.read_sidecar(spark, path, _INDEX_META, _INDEX_WRITER)
    if meta.get("kept_per_cluster") is not None:
        # pre-sidecar-census indexes (r12-era) keep the key absent —
        # seeding it with only this batch's counts would undercount the
        # existing residents and silently disarm the chunking guard;
        # probes against such an index keep taking the census fallback
        counts = dict(meta["kept_per_cluster"])
        touched = [
            r["cluster"] for r in rows.select("cluster").distinct().collect()
        ]
        recount = _cluster_counts(
            spark.read.parquet(path).filter(F.col("cluster").isin(touched) & F.col("kept"))
        )
        for c in touched:
            counts[str(c)] = int(recount.get(c, 0))
        meta["kept_per_cluster"] = counts
        fsutil.write_sidecar(spark, path, _INDEX_META, meta)
    return rows.select(id_col, "cluster", "centroid_sim", "kept")


def semantic_dedup_filter(
    docs: DataFrame,
    verdict: DataFrame,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Keep-side application: rows of ``docs`` whose vector survived.
    A semi-join on the id — the verdict side is corpus-sized, so this
    is a plain shuffled semi-join, not a broadcast."""
    keep = verdict.filter(F.col("kept")).select(
        F.col(vec_id_col).alias(doc_id_col)
    )
    return docs.join(keep, doc_id_col, "left_semi")
