"""Similarity operators: exact near-dup correctness + LSH recall on
planted near-duplicates."""

import math
import random

from pyspark.sql import functions as F

from ethereum_analytical_db_spark.operators import similarity


def _mk_vectors():
    """20 random unit-ish vectors + 5 planted near-duplicate pairs
    (tiny perturbations → cosine > 0.999)."""
    rnd = random.Random(7)
    dim = 16
    rows = []
    for i in range(20):
        rows.append((i, [rnd.gauss(0, 1) for _ in range(dim)]))
    nid = 100
    planted = []
    for k in range(5):
        base = rows[k][1]
        dup = [x + rnd.gauss(0, 0.01) for x in base]
        rows.append((nid + k, dup))
        planted.append((rows[k][0], nid + k))
    return rows, planted


def test_exact_near_dup_finds_planted(spark):
    rows, planted = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.embedding_near_dup_exact(df, threshold=0.99)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    for a, b in planted:
        assert (min(a, b), max(a, b)) in pairs
    # and nothing between independent gaussians sneaks past 0.99
    assert len(pairs) == len(planted)


def test_exact_near_dup_keeps_pair_moved_over_threshold_by_quantization(spark):
    """The exact operator verifies on DECIMAL(12,6)-quantized vectors,
    so its candidate gemm must score the same quantized values: this
    pair's raw float cosine sits 3e-6 under the threshold (below the
    gemm's 1e-6 margin) while its exact decimal cosine reaches it."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    thr = 0.9
    rng = np.random.default_rng(24)
    a = rng.normal(0, 0.01, 64)
    d = rng.normal(0, 0.01, 64)
    d -= (d @ a) / (a @ a) * a  # orthogonal to a
    # b at raw cosine thr - 3e-6 from a: cos = |a| / sqrt(|a|² + t²|d|²)
    t = np.sqrt((a @ a) * (1 / (thr - 3e-6) ** 2 - 1) / (d @ d))
    va = [float(x) for x in a.astype(np.float32)]
    vb = [float(x) for x in (a + t * d).astype(np.float32)]

    def q6(vec):
        return [
            Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
            for x in vec
        ]

    qa, qb = q6(va), q6(vb)
    exact = float(sum(x * y for x, y in zip(qa, qb))) / math.sqrt(
        float(sum(x * x for x in qa)) * float(sum(x * x for x in qb))
    )
    fa, fb = np.asarray(va), np.asarray(vb)
    raw = float(fa @ fb / math.sqrt((fa @ fa) * (fb @ fb)))
    assert raw < thr - 1e-6 <= thr <= exact  # the case this test is about

    df = spark.createDataFrame([(1, va), (2, vb)], "vec_id long, embedding array<float>")
    out = [tuple(r) for r in similarity.embedding_near_dup_exact(df, threshold=thr).collect()]
    assert len(out) == 1 and out[0][:2] == (1, 2)
    assert out[0][2] >= thr and abs(out[0][2] - exact) < 1e-12


def test_exact_near_dup_block_count_invariant(spark):
    """The block-pair decomposition is partition math, not semantics:
    any ``blocks`` value yields the identical pair set (each unordered
    block pair lands in exactly one task)."""
    rows, _ = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    expect = {
        (r["id_a"], r["id_b"], round(r["cosine"], 12))
        for r in similarity.embedding_near_dup_exact(df, threshold=0.99, blocks=8).collect()
    }
    for blocks in (1, 3):
        got = {
            (r["id_a"], r["id_b"], round(r["cosine"], 12))
            for r in similarity.embedding_near_dup_exact(
                df, threshold=0.99, blocks=blocks
            ).collect()
        }
        assert got == expect


def test_lsh_near_dup_recall(spark):
    rows, planted = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.embedding_near_dup_lsh(df, dim=16, threshold=0.99, planes=4)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    exact = {(min(a, b), max(a, b)) for a, b in planted}
    # near-identical vectors collide in every hyperplane bucket with
    # p ≈ (1 - θ/π)^planes ≈ 0.99^4; expect high recall on 5 pairs
    recall = len(pairs & exact) / len(exact)
    assert recall >= 0.8
    # no false positives: every emitted pair really passes the threshold
    assert pairs <= exact | pairs  # sanity
    for r in out.collect():
        assert r["cosine"] >= 0.99


def test_lsh_topk_subset_of_bruteforce_universe(spark):
    rows, _ = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[0][1]
    exact = {r["vec_id"]: r["cosine"] for r in
             similarity.cosine_topk_bruteforce(df, q, k=5).collect()}
    approx = similarity.cosine_topk_lsh(df, q, k=5, planes=4).collect()
    # every LSH hit's cosine matches the exact computation for that id
    for r in approx:
        if r["vec_id"] in exact:
            assert math.isclose(r["cosine"], exact[r["vec_id"]], rel_tol=1e-9)


def test_ivf_full_probe_equals_bruteforce(spark):
    rows, _ = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[0][1]
    exact = [r["vec_id"] for r in similarity.cosine_topk_bruteforce(df, q, k=5).collect()]
    # probing every cluster degrades IVF to exact search
    ivf = [r["vec_id"] for r in similarity.cosine_topk_ivf(
        df, q, k=5, n_centroids=4, nprobe=4, iterations=2).collect()]
    assert ivf == exact


def test_ivf_pruned_probe_recall(spark):
    rows, _ = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[0][1]
    exact = set(r["vec_id"] for r in similarity.cosine_topk_bruteforce(df, q, k=3).collect())
    got = set(r["vec_id"] for r in similarity.cosine_topk_ivf(
        df, q, k=3, n_centroids=4, nprobe=2, iterations=2).collect())
    # the query row itself (cosine 1.0) must survive pruning: its own
    # cluster is always the closest centroid probe
    assert rows[0][0] in got
    assert len(got & exact) >= 2  # high overlap with exact top-3


def test_ivf_centroids_deterministic(spark):
    rows, _ = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c1 = similarity.ivf_train_centroids(df, n_centroids=4, iterations=2)
    c2 = similarity.ivf_train_centroids(
        df.repartition(7), n_centroids=4, iterations=2)
    # same centroids regardless of partitioning (hash-sampled init,
    # order-independent mean updates)
    for a, b in zip(c1, c2):
        for x, y in zip(a, b):
            assert abs(x - y) < 1e-9


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The materialized index layout: probing reads ONLY the probed
    clusters' files (partition pruning), and returns the same rows as
    the in-session IVF with identical centroids."""
    rows, _ = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[0][1]
    cents = similarity.ivf_train_centroids(df, n_centroids=4, iterations=2)
    path = str(tmp_path / "ivf_index")
    similarity.ivf_index_write(df, path, cents)

    full = spark.read.parquet(path)
    assert set(full.select("cluster").distinct().toPandas()["cluster"]) > {1}

    probed = similarity.cosine_topk_ivf_index(
        spark, path, q, cents, k=3, nprobe=1
    )
    # pruning is physical: the cluster predicate lands in the scan's
    # PartitionFilters (directory-level pruning on the cluster=N layout),
    # not in a post-scan Filter
    pruned_scan = spark.read.parquet(path).filter(
        F.col("cluster").isin(similarity._probe_clusters(q, cents, 1))
    )
    plan = pruned_scan._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters", 1)
    assert len(pf) == 2, plan
    assert "cluster" in pf[1][:200], plan

    insession = similarity.cosine_topk_ivf(
        df, q, k=3, n_centroids=4, nprobe=1, centroids=cents
    )
    got = [(r["vec_id"], round(r["cosine"], 9)) for r in probed.collect()]
    want = [(r["vec_id"], round(r["cosine"], 9)) for r in insession.collect()]
    assert got == want


def test_lsh_index_partition_pruning(spark, tmp_path):
    """Bucket-partitioned LSH layout: probing is a partition-pruned scan
    and returns exactly what the in-session LSH top-k returns."""
    rows, _ = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[0][1]
    path = str(tmp_path / "lsh_index")
    similarity.lsh_index_write(df, path, dim=len(q), planes=4)

    probed = similarity.cosine_topk_lsh_index(spark, path, q, k=5, planes=4)
    insession = similarity.cosine_topk_lsh(df, q, k=5, planes=4)
    got = [(r["vec_id"], round(r["cosine"], 9)) for r in probed.collect()]
    want = [(r["vec_id"], round(r["cosine"], 9)) for r in insession.collect()]
    assert got == want
    assert rows[0][0] in {v for v, _ in got}  # the query row survives

    import numpy as np

    pm = similarity._plane_matrix(len(q), 4, 42)
    qb = int(
        ((np.asarray(q) @ pm.T >= 0).astype(np.int64)
         @ (1 << np.arange(4, dtype=np.int64)))
    )
    pruned = spark.read.parquet(path).filter(F.col("bucket") == qb)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters", 1)
    assert len(pf) == 2 and "bucket" in pf[1][:200], plan


def test_index_sidecar_validates_probe_parameters(spark, tmp_path):
    """A probe whose parameters differ from what the index was built with
    must fail loudly, not silently read the wrong partition."""
    import pytest

    rows, _ = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[0][1]

    lsh_path = str(tmp_path / "lsh")
    similarity.lsh_index_write(df, lsh_path, dim=len(q), planes=4, seed=42)
    with pytest.raises(ValueError, match="planes, seed"):
        similarity.cosine_topk_lsh_index(spark, lsh_path, q, planes=8)
    with pytest.raises(ValueError, match="planes, seed"):
        similarity.cosine_topk_lsh_index(spark, lsh_path, q, planes=4, seed=7)

    cents = similarity.ivf_train_centroids(df, n_centroids=4, iterations=1)
    ivf_path = str(tmp_path / "ivf")
    similarity.ivf_index_write(df, ivf_path, cents)
    other = [[c + 1.0 for c in cent] for cent in cents]
    with pytest.raises(ValueError, match="centroids"):
        similarity.cosine_topk_ivf_index(spark, ivf_path, q, other)
    # cross-kind probe: an LSH probe on an IVF index is a usage bug
    with pytest.raises(ValueError, match="not lsh"):
        similarity.cosine_topk_lsh_index(spark, ivf_path, q, planes=4)
    # unmanaged directory (no sidecar) is rejected too
    bare = str(tmp_path / "bare")
    df.write.parquet(bare)
    with pytest.raises(ValueError, match="sidecar"):
        similarity.cosine_topk_lsh_index(spark, bare, q, planes=4)


def test_assign_sign_buckets_preserves_double_vectors(spark):
    """array<double> embeddings must flow through bucket assignment
    without float32 truncation."""
    rows, _ = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pm = similarity._plane_matrix(len(rows[0][1]), 4, 42)
    out = similarity._assign_sign_buckets(df, pm, "vec_id", "embedding")
    assert dict(out.dtypes)["embedding"] == "array<double>"


def test_lsh_params_sizing():
    """planes tracks corpus size (buckets ~ n/target stays bounded);
    tables restores the baseline config's recall and respects the cap;
    small corpora reproduce the baseline config exactly."""
    # below target*2^baseline: baseline config, single table
    assert similarity.lsh_params(2_000, threshold=0.38) == (4, 1)
    # growing n: planes grows ~log2(n), bucket size stays ~target
    for n in (20_000, 200_000, 2_000_000):
        planes, tables = similarity.lsh_params(n, threshold=0.38)
        assert n / 2**planes <= 500, (n, planes)
        assert 1 <= tables <= 4
    # monotone: more data never means fewer planes
    ps = [similarity.lsh_params(n, 0.9)[0] for n in (10**3, 10**5, 10**7)]
    assert ps == sorted(ps)
    # high-threshold near-dup stays well inside the table cap
    planes, tables = similarity.lsh_params(1_000_000, threshold=0.95)
    p = 1 - math.acos(0.95) / math.pi
    baseline_recall = p**4
    multi_recall = 1 - (1 - p**planes) ** tables
    assert tables < 4
    assert multi_recall >= baseline_recall * 0.95


def test_lsh_near_dup_multi_table(spark):
    """Multi-table LSH: more planes (smaller buckets, the scale knob)
    with a second table buying the recall back. Output must stay a
    deduped pair set — each planted pair found by both tables appears
    once — and every emitted pair is threshold-verified."""
    rows, planted = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    single = similarity.embedding_near_dup_lsh(
        df, dim=16, threshold=0.99, planes=8, tables=1
    ).collect()
    multi = similarity.embedding_near_dup_lsh(
        df, dim=16, threshold=0.99, planes=8, tables=3
    ).collect()
    single_pairs = {(r["id_a"], r["id_b"]) for r in single}
    multi_pairs = {(r["id_a"], r["id_b"]) for r in multi}
    # dedup across tables: no pair twice
    assert len(multi) == len(multi_pairs)
    # a union of independent tables can only ADD candidates
    assert single_pairs <= multi_pairs
    exact = {(min(a, b), max(a, b)) for a, b in planted}
    # near-identical pairs (cosine>0.999): p/plane ≈ 0.995, so 3 tables
    # at 8 planes recall ≈ 1-(1-0.96)^3 — effectively all 5 pairs
    assert len(multi_pairs & exact) / len(exact) >= 0.8
    for r in multi:
        assert r["cosine"] >= 0.99
    # sub_blocks decomposition commutes with multi-table
    blocked = {
        (r["id_a"], r["id_b"], round(r["cosine"], 12))
        for r in similarity.embedding_near_dup_lsh(
            df, dim=16, threshold=0.99, planes=8, tables=3, sub_blocks=3
        ).collect()
    }
    assert blocked == {
        (r["id_a"], r["id_b"], round(r["cosine"], 12)) for r in multi
    }


def test_lsh_near_dup_sub_block_invariant(spark):
    """Hot-bucket decomposition is partition math, not semantics: any
    sub_blocks value yields the identical (pair, cosine) set."""
    rows, _ = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    expect = {
        (r["id_a"], r["id_b"], round(r["cosine"], 12))
        for r in similarity.embedding_near_dup_lsh(
            df, dim=16, threshold=0.99, planes=4
        ).collect()
    }
    assert expect  # fixture plants near-dups; empty would vacuously pass
    for s in (2, 5):
        got = {
            (r["id_a"], r["id_b"], round(r["cosine"], 12))
            for r in similarity.embedding_near_dup_lsh(
                df, dim=16, threshold=0.99, planes=4, sub_blocks=s
            ).collect()
        }
        assert got == expect, f"sub_blocks={s}"


def test_int8_quantization_roundtrip(spark):
    """4x-storage int8 quantization: qvec is tinyint, round-trip error
    is bounded by scale/2 per element, and brute-force top-k on the
    dequantized vectors agrees with the float originals on this corpus."""
    rows, _ = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = similarity.quantize_embeddings(df)
    assert dict(q.dtypes)["qvec"] == "array<tinyint>"

    deq = similarity.dequantize_embeddings(q)
    joined = (
        df.alias("o").join(deq.alias("d"), "vec_id")
        .join(q.select("vec_id", "scale"), "vec_id")
        .collect()
    )
    for r in joined:
        bound = r["scale"] / 2 + 1e-6
        for a, b in zip(r["o.embedding"] if "o.embedding" in r else r[1], r[2]):
            assert abs(a - b) <= bound

    # ~1/127-per-axis error can reorder near-ties (the planted dups sit
    # at cosine ≈ 0.9998), so assert rank stability, not exact order:
    # the query row stays top-1 and the top-5 sets overlap heavily
    qv = rows[0][1]
    want = [r["vec_id"] for r in similarity.cosine_topk_bruteforce(df, qv, k=5).collect()]
    got = [r["vec_id"] for r in similarity.cosine_topk_bruteforce(deq, qv, k=5).collect()]
    assert got[0] == want[0] == rows[0][0]
    assert len(set(got) & set(want)) >= 4


def test_ivf_index_append_incremental(spark, tmp_path):
    """Index maintenance: write a base batch, append a second batch
    under the same centroids — probing the maintained index equals
    probing an index built from the union in one shot, and appending
    under different centroids is refused."""
    import pytest

    rows, _ = _mk_vectors()
    base, extra = rows[:15], rows[15:]
    df_base = spark.createDataFrame(base, "vec_id long, embedding array<float>")
    df_extra = spark.createDataFrame(extra, "vec_id long, embedding array<float>")
    df_all = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_train_centroids(df_base, n_centroids=4, iterations=2)
    q = rows[0][1]

    inc_path = str(tmp_path / "ivf_inc")
    similarity.ivf_index_write(df_base, inc_path, cents)
    similarity.ivf_index_append(df_extra, inc_path, cents)

    one_path = str(tmp_path / "ivf_one")
    similarity.ivf_index_write(df_all, one_path, cents)

    for nprobe in (1, 4):
        inc = similarity.cosine_topk_ivf_index(
            spark, inc_path, q, cents, k=5, nprobe=nprobe
        )
        one = similarity.cosine_topk_ivf_index(
            spark, one_path, q, cents, k=5, nprobe=nprobe
        )
        got = [(r["vec_id"], round(r["cosine"], 9)) for r in inc.collect()]
        want = [(r["vec_id"], round(r["cosine"], 9)) for r in one.collect()]
        assert got == want and len(got) == 5

    other = similarity.ivf_train_centroids(df_all, n_centroids=3, iterations=1)
    with pytest.raises(ValueError, match="different quantizer"):
        similarity.ivf_index_append(df_extra, inc_path, other)


def test_ivf_index_compact_bounds_files_and_keeps_results(spark, tmp_path):
    """r13 VERDICT task 5: the batch ivf_index_append loop lands one
    small file per batch×cluster; dedup.compact_index over the IVF root
    must bound the layout at one file per cluster directory, carry the
    centroid sidecar verbatim, answer probes identically, and keep the
    append loop working afterwards."""
    import glob

    from ethereum_analytical_db_spark.operators import dedup
    from ethereum_analytical_db_spark import fsutil
    from ethereum_analytical_db_spark.operators.similarity import (
        _INDEX_META,
        _INDEX_WRITER,
    )

    rows, _ = _mk_vectors()
    df_base = spark.createDataFrame(rows[:10], "vec_id long, embedding array<float>")
    cents = similarity.ivf_train_centroids(df_base, n_centroids=4, iterations=2)
    path = str(tmp_path / "ivf_compact")
    similarity.ivf_index_write(df_base, path, cents)
    for lo, hi in ((10, 15), (15, 20), (20, 25)):
        batch = spark.createDataFrame(
            rows[lo:hi], "vec_id long, embedding array<float>"
        )
        similarity.ivf_index_append(batch, path, cents)

    q = rows[0][1]
    want = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in similarity.cosine_topk_ivf_index(
            spark, path, q, cents, k=5, nprobe=4
        ).collect()
    ]
    meta_before = fsutil.read_sidecar(spark, path, _INDEX_META, _INDEX_WRITER)
    n_clusters = len(glob.glob(f"{path}/cluster=*"))
    assert len(glob.glob(f"{path}/cluster=*/*.parquet")) > n_clusters

    dedup.compact_index(spark, path, ["cluster"])

    assert len(glob.glob(f"{path}/cluster=*/*.parquet")) == n_clusters
    assert fsutil.read_sidecar(spark, path, _INDEX_META, _INDEX_WRITER) == meta_before
    got = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in similarity.cosine_topk_ivf_index(
            spark, path, q, cents, k=5, nprobe=4
        ).collect()
    ]
    assert got == want
    # the loop keeps going post-compact (fresh ids per the contract)
    more = spark.createDataFrame(
        [(1000 + i, v) for i, v in [(j, rows[j][1]) for j in range(5)]],
        "vec_id long, embedding array<float>",
    )
    similarity.ivf_index_append(more, path, cents)
    assert spark.read.parquet(path).count() == len(rows) + 5


def test_lsh_index_compact_bounds_files_and_keeps_results(spark, tmp_path):
    """The bucket-partitioned LSH layout gets the same compaction story
    as the IVF root (its append docstring points at
    compact_index(path, ["bucket"])): files bounded at one per bucket
    dir, plane-parameter sidecar verbatim, probe identical."""
    import glob

    from ethereum_analytical_db_spark.operators import dedup
    from ethereum_analytical_db_spark import fsutil
    from ethereum_analytical_db_spark.operators.similarity import (
        _INDEX_META,
        _INDEX_WRITER,
    )

    rows, _ = _mk_vectors()
    dim = len(rows[0][1])
    path = str(tmp_path / "lsh_compact")
    df_base = spark.createDataFrame(rows[:10], "vec_id long, embedding array<float>")
    similarity.lsh_index_write(df_base, path, dim)  # default planes/seed
    for lo in (10, 15, 20):
        similarity.lsh_index_append(
            spark.createDataFrame(
                rows[lo : lo + 5], "vec_id long, embedding array<float>"
            ),
            path,
        )
    q = rows[0][1]
    want = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in similarity.cosine_topk_lsh_index(
            spark, path, q, k=5, nprobe=4
        ).collect()
    ]
    meta_before = fsutil.read_sidecar(spark, path, _INDEX_META, _INDEX_WRITER)
    n_buckets = len(glob.glob(f"{path}/bucket=*"))
    assert len(glob.glob(f"{path}/bucket=*/*.parquet")) > n_buckets

    dedup.compact_index(spark, path, ["bucket"])

    assert len(glob.glob(f"{path}/bucket=*/*.parquet")) == n_buckets
    assert fsutil.read_sidecar(spark, path, _INDEX_META, _INDEX_WRITER) == meta_before
    got = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in similarity.cosine_topk_lsh_index(
            spark, path, q, k=5, nprobe=4
        ).collect()
    ]
    assert got == want


def test_lsh_index_append_incremental(spark, tmp_path):
    """Same maintenance contract for the LSH layout: the appended batch
    is bucketed with the sidecar's plane parameters, so an incremental
    index probes identically to a one-shot build."""
    import pytest

    rows, _ = _mk_vectors()
    base, extra = rows[:15], rows[15:]
    dim = len(rows[0][1])
    df_base = spark.createDataFrame(base, "vec_id long, embedding array<float>")
    df_extra = spark.createDataFrame(extra, "vec_id long, embedding array<float>")
    df_all = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[0][1]

    inc_path = str(tmp_path / "lsh_inc")
    similarity.lsh_index_write(df_base, inc_path, dim, planes=4, seed=11)
    similarity.lsh_index_append(df_extra, inc_path)

    one_path = str(tmp_path / "lsh_one")
    similarity.lsh_index_write(df_all, one_path, dim, planes=4, seed=11)

    inc = similarity.cosine_topk_lsh_index(
        spark, inc_path, q, k=5, planes=4, seed=11
    )
    one = similarity.cosine_topk_lsh_index(
        spark, one_path, q, k=5, planes=4, seed=11
    )
    got = [(r["vec_id"], round(r["cosine"], 9)) for r in inc.collect()]
    want = [(r["vec_id"], round(r["cosine"], 9)) for r in one.collect()]
    assert got == want and len(got) > 0

    # an IVF index path is refused by the LSH appender
    cents = similarity.ivf_train_centroids(df_base, n_centroids=3, iterations=1)
    ivf_path = str(tmp_path / "ivf_x")
    similarity.ivf_index_write(df_base, ivf_path, cents)
    with pytest.raises(ValueError, match="not lsh"):
        similarity.lsh_index_append(df_extra, ivf_path)


def test_lsh_multiprobe_recall_monotone(spark):
    """Multi-probe: candidate set grows with nprobe, top-k recall vs
    brute force never falls, full probing recovers enough buckets that
    the exact bucket alone cannot have MORE true hits."""
    import numpy as np

    rows, _ = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[3][1]
    exact = [r["vec_id"] for r in similarity.cosine_topk_bruteforce(df, q, k=5).collect()]

    def recall(nprobe):
        got = {r["vec_id"] for r in similarity.cosine_topk_lsh(
            df, q, k=5, planes=4, nprobe=nprobe).collect()}
        return len(got & set(exact)) / len(exact)

    r1, r4, r16 = recall(1), recall(4), recall(16)
    assert r1 <= r4 <= r16
    # planes=4 -> 16 buckets; probing all reachable buckets (Hamming<=3
    # of 4 bits covers 15 of 16) must get essentially everything
    assert r16 >= 0.8

    # bucket list: exact bucket first, distinct, bounded by nprobe
    pm = similarity._plane_matrix(len(q), 4, 42)
    b1 = similarity._multiprobe_buckets(q, pm, 1)
    b8 = similarity._multiprobe_buckets(q, pm, 8)
    assert len(b1) == 1 and b8[0] == b1[0]
    assert len(b8) == len(set(b8)) == 8
    proj = pm @ np.asarray(q, dtype=np.float64)
    base = b1[0]
    # the first perturbation flips exactly the single lowest-margin bit
    lowest = int(np.argmin(np.abs(proj)))
    assert b8[1] == base ^ (1 << lowest)


def test_lsh_index_multiprobe_prunes_and_matches_insession(spark, tmp_path):
    rows, _ = _mk_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[3][1]
    path = str(tmp_path / "lsh_mp_index")
    similarity.lsh_index_write(df, path, dim=len(q), planes=4)
    probed = similarity.cosine_topk_lsh_index(spark, path, q, k=5, planes=4, nprobe=4)
    insession = similarity.cosine_topk_lsh(df, q, k=5, planes=4, nprobe=4)
    got = [(r["vec_id"], round(r["cosine"], 9)) for r in probed.collect()]
    want = [(r["vec_id"], round(r["cosine"], 9)) for r in insession.collect()]
    assert got == want
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "bucket" in plan.split("PartitionFilters")[1][:200]


def test_topk_zero_norm_rows_drop_not_crash(spark):
    """A single all-zero embedding (failed encoder output) must neither
    abort the query (ANSI DIVIDE_BY_ZERO) nor rank first as NaN — it
    scores NULL and drops out of every top-k path."""
    rows, _ = _mk_vectors()
    rows = rows + [(999, [0.0] * 16)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[0][1]
    got = similarity.cosine_topk_bruteforce(df, q, k=30).collect()
    ids = [r["vec_id"] for r in got]
    assert 999 not in ids
    assert ids[0] == rows[0][0]  # the query row itself still tops
    # decimal oracle path: same guard
    qdf = spark.createDataFrame([rows[0]], "vec_id long, embedding array<float>")
    got2 = similarity.cosine_topk_exact_decimal(df, qdf, k=30).collect()
    assert 999 not in [r["vec_id"] for r in got2]
    # zero-vector QUERY degenerates to an empty result, not a crash
    assert similarity.cosine_topk_bruteforce(df, [0.0] * 16, k=5).count() == 0


def test_registered_ivf_probe_query_matches_build_and_prunes(spark):
    """The registered serve-path query (`ann_cosine_ivf_probe`) must
    return exactly what the build+probe query returns at the same
    parameters, and its OWN physical plan must carry the cluster
    predicate as a PartitionFilter (directory pruning on the frozen
    index) — pinning that the bench row labelled 'probe-only' really is
    a partition-pruned read, not a rebuild."""
    from ethereum_analytical_db_spark.plans.registry import all_queries

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    probe_df = qs["ann_cosine_ivf_probe"].build(spark, sf)
    build_df = qs["ann_cosine_ivf"].build(spark, sf)
    got = [(r["vec_id"], round(r["cosine"], 9)) for r in probe_df.collect()]
    want = [(r["vec_id"], round(r["cosine"], 9)) for r in build_df.collect()]
    assert got == want and len(got) == 10
    plan = probe_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cluster" in plan.split("PartitionFilters")[1][:200]

def test_ivf_frozen_index_lifecycle(spark):
    """The per-process frozen index must not accumulate across runs
    (review find: bench/pytest sessions left orphaned Parquet trees in
    $TMPDIR/spark_graft_ivf_index). Two mechanisms, both pinned here:
    atexit removes THIS process's indexes, and index creation sweeps
    siblings whose owning pid is dead — simulating the
    two-sessions-in-a-row scenario without paying a second JVM."""
    import os
    import subprocess
    import tempfile

    from ethereum_analytical_db_spark import session
    from ethereum_analytical_db_spark.plans import frozen
    from ethereum_analytical_db_spark.plans import pipeline as pl

    base = os.path.join(tempfile.gettempdir(), "spark_graft_ivf_index")
    # ensure this process has materialized an index
    path, _, _ = pl._ivf_frozen_index(spark, "/root/testdata/sf0.001")
    assert os.path.isdir(path) and path.startswith(base)
    # a dir left by a DEAD process (a reaped child's pid) is swept on
    # the next process's first index creation
    child = subprocess.Popen(["true"])  # noqa: S603,S607 - pid donor
    child.wait()  # reaped: os.kill(pid, 0) now raises ProcessLookupError
    orphan = os.path.join(base, f"deadbeefdeadbeef_{child.pid}")
    os.makedirs(orphan, exist_ok=True)
    frozen.sweep_orphans(base)
    assert not os.path.exists(orphan)
    # a dir owned by a LIVE pid (ours) survives the sweep
    frozen.sweep_orphans(base)
    assert os.path.isdir(path)
    # atexit hook removes our own index and empties the cache
    frozen.release_all()
    assert not os.path.exists(path)
    assert session._APP_MEMO == {}


def test_embedding_near_dup_lsh_md5_face(spark):
    """Fold #6 (r15): the LSH family's hash-checked face. Pins: (a)
    md5_plane_ints is deterministic and engine-portable by construction
    (hashlib vs the registry oracle's SQL byte decode — same md5); (b)
    every emitted pair shares the full sign-bit bucket; (c) the face's
    pairs are a SUBSET of the exact operator's at the same threshold,
    with bit-identical cosines (both pipelines are exact decimal — LSH
    only prunes candidates, never changes a surviving pair's score)."""
    import hashlib

    mat = similarity.md5_plane_ints(4, 8, salt="lshp")
    assert mat == similarity.md5_plane_ints(4, 8, salt="lshp")
    assert mat[2][5] == int(
        hashlib.md5(b"lshp:2:5").hexdigest()[:2], 16
    ) - 128
    assert all(-128 <= c <= 127 for row in mat for c in row)

    rng = random.Random(5)
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(6)]
    rows = []
    vid = 0
    for b in base:
        for _ in range(4):  # near-dup cluster around each base vector
            rows.append((vid, [v + rng.uniform(-0.05, 0.05) for v in b]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.embedding_near_dup_lsh_md5(
            df, dim=8, threshold=0.8, planes=4
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.embedding_near_dup_exact(
            df, threshold=0.8
        ).collect()
    }
    assert got, "clustered fixture must produce same-bucket pairs"
    assert set(got) <= set(exact)
    for k, v in got.items():
        assert v == exact[k], (k, v, exact[k])  # bit-identical cosines


def test_embedding_near_dup_lsh_md5_hot_bucket_cap(spark):
    """r17: ``max_bucket_size`` bounds the O(bucket²) pair generation on
    a degenerate corpus where every vector lands in ONE bucket (all
    positive components → all sign bits 1). Pins: (a) default None keeps
    exact semantics (the hot bucket's pairs all emitted); (b) a cap
    below the hot bucket's size drops that bucket's pairs entirely while
    buckets at/under the cap are untouched, and every surviving pair's
    cosine is bit-identical to the uncapped run (the cap prunes
    candidates, never rescores)."""
    rng = random.Random(11)
    rows = []
    # 30 vectors in the all-ones orthant: one bucket of 30 → 435 pairs
    for vid in range(30):
        rows.append((vid, [rng.uniform(0.5, 1.0) for _ in range(8)]))
    # a small cluster in the all-negative orthant: bucket of 3
    for vid in range(100, 103):
        rows.append((vid, [rng.uniform(-1.0, -0.5) for _ in range(8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    uncapped = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.embedding_near_dup_lsh_md5(
            df, dim=8, threshold=0.8, planes=4
        ).collect()
    }
    hot_pairs = {k for k in uncapped if k[0] < 100}
    small_pairs = {k for k in uncapped if k[0] >= 100}
    assert len(hot_pairs) > 100 and small_pairs  # both buckets produced pairs
    capped = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.embedding_near_dup_lsh_md5(
            df, dim=8, threshold=0.8, planes=4, max_bucket_size=10
        ).collect()
    }
    assert set(capped) == small_pairs  # hot bucket dropped, small kept
    for k, v in capped.items():
        assert v == uncapped[k]  # surviving cosines bit-identical


def test_embedding_near_dup_lsh_md5_duckdb_parity(spark):
    """Cross-engine check for the hash-checked registry entry (fold #6):
    the registry's own oracle SQL, run in DuckDB on the sf0.001
    embeddings table, returns the exact same (id_a, id_b, cosine) rows
    as the Spark pipeline — bit-identical cosines included (both sides
    are exact decimal) — the same comparison the driver's correctness
    harness performs at sf0.01."""
    import duckdb

    from ethereum_analytical_db_spark.plans.registry import all_queries

    sf = "/root/testdata/sf0.001"
    qdef = all_queries()["embedding_near_dup_lsh_md5"]
    assert qdef.oracle is not None and "strpos" in qdef.oracle
    got = sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in qdef.build(spark, sf).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(qdef.oracle).fetchall())
    assert got == want and len(got) > 0
