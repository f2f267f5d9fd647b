"""Streaming exact dedup: duplicates dropped across micro-batches, state
bounded by watermark in the continuous regime, streaming result equals
the batch operator on the same data."""

import datetime as dt

from pyspark.sql import Row

from ethereum_analytical_db_spark.streaming import dedupe_stream as ds
from ethereum_analytical_db_spark.streaming import stream as st

DOC_COLS = "doc_id long, text string, ts timestamp"


def _doc(i: int, text: str, minute: int) -> Row:
    return Row(
        doc_id=i, text=text, ts=dt.datetime(2024, 1, 1, 10, minute, 0)
    )


def _run_stream(spark, src_dir, name: str, **kwargs):
    schema = spark.createDataFrame([], DOC_COLS).schema
    out = ds.dedup_exact_stream(
        st.stream_from_files(spark, str(src_dir), schema), **kwargs
    )
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    st.run_available_now(q)
    return spark.table(name)


def test_stream_dedup_across_batches(spark, tmp_path):
    src = tmp_path / "docs"
    src.mkdir()
    # batch 1: two distinct docs; batch 2 (separate file): one repeat of
    # doc "aaa" plus one new doc — the repeat must not survive
    spark.createDataFrame(
        [_doc(1, "aaa", 0), _doc(2, "bbb", 1)], DOC_COLS
    ).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [_doc(3, "aaa", 2), _doc(4, "ccc", 3)], DOC_COLS
    ).coalesce(1).write.mode("append").parquet(str(src))

    got = _run_stream(spark, src, "dedup_global")
    texts = sorted(r["text"] for r in got.collect())
    assert texts == ["aaa", "bbb", "ccc"]
    # the survivor of "aaa" is its first arrival
    assert got.filter("text = 'aaa'").first()["doc_id"] in (1, 3)


def test_stream_dedup_watermarked(spark, tmp_path):
    src = tmp_path / "docs_wm"
    src.mkdir()
    spark.createDataFrame(
        [_doc(1, "aaa", 0), _doc(2, "aaa", 1), _doc(3, "bbb", 5)], DOC_COLS
    ).coalesce(1).write.mode("append").parquet(str(src))

    got = _run_stream(
        spark, src, "dedup_wm", within_watermark="10 minutes"
    )
    # in-horizon duplicate dropped
    assert sorted(r["text"] for r in got.collect()) == ["aaa", "bbb"]


def test_stream_matches_batch_operator(spark, tmp_path):
    src = tmp_path / "docs_eq"
    src.mkdir()
    rows = [
        _doc(1, "xx", 0),
        _doc(2, "yy", 1),
        _doc(3, "xx", 2),
        _doc(4, "zz", 3),
        _doc(5, "yy", 4),
    ]
    spark.createDataFrame(rows, DOC_COLS).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    streamed = _run_stream(spark, src, "dedup_eq")
    batch = ds.dedup_exact_stream(spark.createDataFrame(rows, DOC_COLS))
    assert sorted(r["text"] for r in streamed.collect()) == sorted(
        r["text"] for r in batch.collect()
    )


def test_near_dedup_stream_matches_batch_and_replays_identically(spark, tmp_path):
    """Streaming near-dup twin: the union of per-batch candidate pairs
    must equal the batch operator over the whole corpus (each pair found
    exactly once, in the batch of its LATER doc), the index must equal a
    fresh batch build, and a from-scratch replay (fresh checkpoint,
    surviving index + pairs dirs — the at-least-once worst case) must
    leave both outputs unchanged."""
    import random

    from pyspark.sql import functions as F

    from ethereum_analytical_db_spark.operators import dedup

    rnd = random.Random(5)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for i in range(30):
        rows.append((i, " ".join(rnd.choice(vocab) for _ in range(50))))
    for k in range(5):  # near-dups of docs 0..4, landing in later files
        words = rows[k][1].split()
        words[7] = "edited"
        rows.append((100 + k, " ".join(words)))
    df_all = spark.createDataFrame(rows, "doc_id long, text string")
    want_pairs = {
        (r["doc_a"], r["doc_b"]): r["bands_in_common"]
        for r in dedup.minhash_lsh_candidates(df_all, n=3, num_hashes=32, bands=8).collect()
    }
    assert want_pairs  # planted near-dups guarantee candidates

    src = tmp_path / "docs"
    src.mkdir()
    for j in range(3):  # three files → three single-file micro-batches
        part = df_all.filter(F.col("doc_id") % 3 == j)
        part.coalesce(1).write.mode("append").parquet(str(src))
    index_path = str(tmp_path / "band_index")
    pairs_path = str(tmp_path / "pairs")
    schema = df_all.schema

    def run(checkpoint: str) -> None:
        stream = st.stream_from_files(
            spark, str(src), schema, max_files_per_trigger=1
        )
        q = (
            ds.near_dedup_stream(stream, index_path, pairs_path)
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        st.run_available_now(q)

    def got_pairs() -> dict:
        return {
            (r["doc_a"], r["doc_b"]): r["bands_in_common"]
            for r in spark.read.parquet(pairs_path).collect()
        }

    run("ckpt1")
    assert got_pairs() == want_pairs
    # each pair appears in exactly ONE batch partition (no double count)
    assert spark.read.parquet(pairs_path).count() == len(want_pairs)
    idx_rows = lambda: {  # noqa: E731
        (r["doc"], r["band"], r["bucket"])
        for r in spark.read.parquet(index_path).collect()
    }
    fresh = str(tmp_path / "fresh_index")
    dedup.minhash_index_write(df_all, fresh, n=3, num_hashes=32, bands=8)
    want_idx = {
        (r["doc"], r["band"], r["bucket"])
        for r in spark.read.parquet(fresh).collect()
    }
    assert idx_rows() == want_idx

    # from-scratch replay over the surviving index + pairs dirs
    run("ckpt2")
    assert got_pairs() == want_pairs
    assert spark.read.parquet(pairs_path).count() == len(want_pairs)
    assert idx_rows() == want_idx


def test_near_dedup_stream_simhash_family(spark, tmp_path):
    """The simhash family runs the identical streaming loop: union of
    per-batch pairs equals the batch operator over the whole corpus
    (each pair exactly once), and a from-scratch replay over the
    surviving dirs is byte-stable."""
    import random

    from pyspark.sql import functions as F

    from ethereum_analytical_db_spark.operators import dedup

    rnd = random.Random(9)
    vocab = [f"w{i}" for i in range(400)]
    rows = [(i, " ".join(rnd.choice(vocab) for _ in range(50))) for i in range(24)]
    for k in range(4):
        words = rows[k][1].split()
        words[3] = "edited"
        rows.append((100 + k, " ".join(words)))
    df_all = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(max_hamming=12, blocks=4)
    want = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_duplicates(
            df_all, partial_recall=True, **kw
        ).collect()
    }
    assert want

    src = tmp_path / "docs"
    src.mkdir()
    for j in range(3):
        df_all.filter(F.col("doc_id") % 3 == j).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    index_path = str(tmp_path / "chunk_index")
    pairs_path = str(tmp_path / "pairs")

    def run(checkpoint: str) -> None:
        stream = st.stream_from_files(
            spark, str(src), df_all.schema, max_files_per_trigger=1
        )
        q = (
            ds.near_dedup_stream(
                stream, index_path, pairs_path,
                family="simhash", partial_recall=True, **kw,
            )
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        st.run_available_now(q)

    def got() -> dict:
        return {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in spark.read.parquet(pairs_path).collect()
        }

    run("ckpt1")
    assert got() == want
    assert spark.read.parquet(pairs_path).count() == len(want)
    run("ckpt2")  # from-scratch replay over surviving index + pairs
    assert got() == want
    assert spark.read.parquet(pairs_path).count() == len(want)
    # unknown family rejected loudly
    import pytest

    with pytest.raises(ValueError, match="family"):
        ds.near_dedup_stream(
            st.stream_from_files(spark, str(src), df_all.schema),
            index_path, pairs_path, family="md5",
        )


def test_near_dedup_stream_survives_bootstrap_crash_window(spark, tmp_path):
    """Crash-recovery (review find): if a run dies after the bootstrap
    batch's index write, the retry sees index data WITHOUT having seen
    the batch as 'done'. The sidecar is written at wiring time (not
    after the index write, where a crash stranded an index that failed
    every future parameter check), and batch 0 probes `batch < 0` =
    empty — degenerating to within-batch pairs instead of pairing the
    batch against its own crashed first attempt. Simulated by
    pre-seeding the index with batch 0's rows and replaying from a
    fresh checkpoint: the result must be exactly the normal outcome,
    no duplicates, no failure."""
    import random

    from pyspark.sql import functions as F

    from ethereum_analytical_db_spark.operators import dedup

    rnd = random.Random(3)
    vocab = [f"w{i}" for i in range(300)]
    rows = [(i, " ".join(rnd.choice(vocab) for _ in range(40))) for i in range(18)]
    for k in range(3):
        words = rows[k][1].split()
        words[2] = "edited"
        rows.append((100 + k, " ".join(words)))
    df_all = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        (r["doc_a"], r["doc_b"]): r["bands_in_common"]
        for r in dedup.minhash_lsh_candidates(df_all, n=3, num_hashes=32, bands=8).collect()
    }
    assert want

    src = tmp_path / "docs"
    src.mkdir()
    parts = [df_all.filter(F.col("doc_id") % 3 == j) for j in range(3)]
    for part in parts:
        part.coalesce(1).write.mode("append").parquet(str(src))
    index_path = str(tmp_path / "band_index")
    pairs_path = str(tmp_path / "pairs")

    # simulate the crashed first attempt: batch 0's index rows landed
    # (note: which file becomes batch 0 is the file source's choice; we
    # seed with the first-written file, the common case), nothing else
    (
        dedup.minhash_band_rows(parts[0], "text", "doc_id", 3, 32, 8)
        .withColumn("batch", F.lit(0))
        .write.partitionBy("batch", "band")
        .parquet(index_path)
    )

    stream = st.stream_from_files(
        spark, str(src), df_all.schema, max_files_per_trigger=1
    )
    q = (
        ds.near_dedup_stream(stream, index_path, pairs_path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    st.run_available_now(q)
    got = {
        (r["doc_a"], r["doc_b"]): r["bands_in_common"]
        for r in spark.read.parquet(pairs_path).collect()
    }
    assert got == want
    assert spark.read.parquet(pairs_path).count() == len(want)


import pytest as _pytest


@_pytest.mark.parametrize("family", ["minhash", "simhash"])
def test_near_dedup_stream_hot_bucket_cap(spark, tmp_path, family):
    """The hot-bucket caps ride through the streaming loop: with a
    degenerate cluster (identical boilerplate docs) spread across
    micro-batches, a capped stream emits a strict subset of the
    uncapped stream's pairs, still finds the planted genuine near-dups,
    and drops (at least) the boilerplate pile-up."""
    import random

    from pyspark.sql import functions as F

    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(300)]
    rows = [(i, " ".join(rnd.choice(vocab) for _ in range(40))) for i in range(16)]
    planted = []
    for k in range(3):  # genuine near-dups: one edit
        words = rows[k][1].split()
        words[2] = "edited"
        rows.append((100 + k, " ".join(words)))
        planted.append((k, 100 + k))
    boiler = "the same boilerplate footer " * 10
    boiler_ids = list(range(200, 210))
    rows += [(i, boiler) for i in boiler_ids]  # degenerate cluster
    df_all = spark.createDataFrame(rows, "doc_id long, text string")

    src = tmp_path / "docs"
    src.mkdir()
    for j in range(3):
        df_all.filter(F.col("doc_id") % 3 == j).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    if family == "minhash":
        kw: dict = {"n": 3, "num_hashes": 32, "bands": 8}
        cap = {"max_bucket_df": 4}
    else:
        kw = {"max_hamming": 12, "blocks": 4, "partial_recall": True}
        cap = {"max_chunk_df": 4}

    def run(tag: str, **extra) -> set:
        pairs_path = str(tmp_path / f"pairs_{tag}")
        stream = st.stream_from_files(
            spark, str(src), df_all.schema, max_files_per_trigger=1
        )
        q = (
            ds.near_dedup_stream(
                stream, str(tmp_path / f"index_{tag}"), pairs_path,
                family=family, **kw, **extra,
            )
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        st.run_available_now(q)
        return {
            (r["doc_a"], r["doc_b"])
            for r in spark.read.parquet(pairs_path).collect()
        }

    full = run("full")
    capped = run("capped", **cap)
    norm = lambda s: {tuple(sorted(p)) for p in s}  # noqa: E731
    assert norm(capped) <= norm(full)
    assert all(p in norm(capped) for p in planted)
    # the cap's frame is per-batch (index-so-far + batch): the first
    # micro-batch holds only 3 boilerplate docs (df=3 <= cap), so its
    # within-batch pairs legitimately emit; every LATER batch sees the
    # bucket hot and adds nothing — so all surviving boilerplate pairs
    # are same-batch (doc_id % 3 equal), and the cross-batch pile-up
    # (the part that grows with corpus size) is gone
    boiler_pairs = lambda s: {  # noqa: E731
        p for p in s if p[0] in boiler_ids and p[1] in boiler_ids
    }
    assert len(boiler_pairs(capped)) < len(boiler_pairs(full))
    assert all(a % 3 == b % 3 for a, b in boiler_pairs(capped))
    assert any(a % 3 != b % 3 for a, b in boiler_pairs(full))


def test_near_dedup_stream_rejects_parameter_drift(spark, tmp_path):
    """Restart-drift guard (review find): wiring a stream over an index
    whose sidecar records different parameters must raise at wiring
    time, not stamp the new parameters over the index it would corrupt."""
    import pytest

    schema = spark.createDataFrame([], "doc_id long, text string").schema
    src = tmp_path / "docs"
    src.mkdir()
    for family, kw, drift in (
        ("minhash", {"bands": 8}, {"bands": 4}),
        ("simhash", {"blocks": 4}, {"blocks": 8, "max_hamming": 3}),
    ):
        index_path = str(tmp_path / f"idx_{family}")
        pairs_path = str(tmp_path / f"pairs_{family}")
        stream = st.stream_from_files(spark, str(src), schema)
        ds.near_dedup_stream(stream, index_path, pairs_path, family=family, **kw)
        with pytest.raises(ValueError, match="built with"):
            ds.near_dedup_stream(
                stream, index_path, pairs_path, family=family, **drift
            )


def test_near_dedup_stream_compaction_cadence_bounds_files(spark, tmp_path):
    """compact_every (r9 VERDICT task 3): streaming 6 micro-batches with
    compact_every=2 must (a) emit exactly the pairs the uncompacted
    stream emits, (b) keep the index's batch-directory count bounded at
    ≤ compact_every + 1 and its file count at one per partition dir
    (instead of one file-set per batch forever), (c) hold index content
    identical to the uncompacted run on (doc, band, bucket), and (d)
    answer a post-stream probe identically."""
    import glob
    import random

    from pyspark.sql import functions as F

    from ethereum_analytical_db_spark.operators import dedup

    rnd = random.Random(17)
    vocab = [f"w{i}" for i in range(500)]
    rows = [(i, " ".join(rnd.choice(vocab) for _ in range(50))) for i in range(36)]
    for k in range(6):  # near-dups of docs 0..5 landing in later batches
        words = rows[k][1].split()
        words[5] = "edited"
        rows.append((100 + k, " ".join(words)))
    df_all = spark.createDataFrame(rows, "doc_id long, text string")

    src = tmp_path / "docs"
    src.mkdir()
    n_batches = 6
    for j in range(n_batches):  # one file per shard → one micro-batch each
        df_all.filter(F.col("doc_id") % n_batches == j).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    def run(tag: str, **extra):
        index_path = str(tmp_path / f"index_{tag}")
        pairs_path = str(tmp_path / f"pairs_{tag}")
        stream = st.stream_from_files(
            spark, str(src), df_all.schema, max_files_per_trigger=1
        )
        q = (
            ds.near_dedup_stream(stream, index_path, pairs_path, **extra)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        st.run_available_now(q)
        return index_path, pairs_path

    plain_idx, plain_pairs = run("plain")
    comp_idx, comp_pairs = run("compacted", compact_every=2)

    pairs = lambda p: {  # noqa: E731
        (r["doc_a"], r["doc_b"]): r["bands_in_common"]
        for r in spark.read.parquet(p).collect()
    }
    assert pairs(comp_pairs) == pairs(plain_pairs) and pairs(plain_pairs)

    # index content identical (batch labels legitimately differ: folded)
    content = lambda p: sorted(  # noqa: E731
        (r["doc"], r["band"], r["bucket"])
        for r in spark.read.parquet(p).collect()
    )
    assert content(comp_idx) == content(plain_idx)

    # bounded layout: the last fold ran at batch 5 (5 % 2 == 1), merging
    # batches 0..4 into batch=4 — so ≤ 2 batch dirs survive plus at most
    # compact_every - 1 unfolded ones, and exactly one file per dir
    batch_dirs = glob.glob(f"{comp_idx}/batch=*")
    assert len(batch_dirs) <= 3, batch_dirs
    assert len(glob.glob(f"{plain_idx}/batch=*")) == n_batches
    part_dirs = glob.glob(f"{comp_idx}/batch=*/band=*")
    files = glob.glob(f"{comp_idx}/batch=*/band=*/*.parquet")
    assert len(files) == len(part_dirs), (len(files), len(part_dirs))

    # pairs folded generationally, WITHOUT relabeling the batch DATA
    # column: provenance ("which shard found this pair") survives the
    # fold — per-batch counts match the uncompacted stream exactly
    per_batch = lambda p: {  # noqa: E731
        r["batch"]: r["count"]
        for r in spark.read.parquet(p).groupBy("batch").count().collect()
    }
    assert per_batch(comp_pairs) == per_batch(plain_pairs)
    # three fold cadences ran (batches 1, 3, 5): the layout holds
    # EXACTLY one folded gen per fold window that emitted pairs plus
    # the last batch's live gen — directory count bounded by a constant
    # × generation count, never one dir per batch; folded gens are a
    # single file each
    pair_gens = sorted(
        g.rsplit("/", 1)[1] for g in glob.glob(f"{comp_pairs}/gen=*")
    )
    pb = per_batch(plain_pairs)
    expected = set()
    for fold_b, window in [(1, [0]), (3, [1, 2]), (5, [3, 4])]:
        if any(b in pb for b in window):
            expected.add(f"gen=f{fold_b - 1}")
    if 5 in pb:
        expected.add("gen=b5")
    assert set(pair_gens) == expected, (pair_gens, expected)
    assert len(pair_gens) <= 4, pair_gens
    for g in pair_gens:
        if g.startswith("gen=f"):
            assert len(glob.glob(f"{comp_pairs}/{g}/*.parquet")) == 1
    # folded and live gens carry batch with one physical type: the
    # mixed root reads back whole with batch as int
    batch_type = spark.read.parquet(comp_pairs).schema["batch"].dataType
    assert batch_type.simpleString() == "int"
    # the plain (never-folded) run grows one live gen dir per batch
    assert all(
        g.rsplit("/", 1)[1].startswith("gen=b")
        for g in glob.glob(f"{plain_pairs}/gen=*")
    )

    # post-compaction probes answer identically (sidecar survived swaps)
    probe_docs = spark.createDataFrame(
        [(900, rows[0][1]), (901, " ".join(rnd.choice(vocab) for _ in range(50)))],
        "doc_id long, text string",
    )
    probe = lambda idx: {  # noqa: E731
        (r["doc_a"], r["doc_b"]): r["bands_in_common"]
        for r in dedup.minhash_probe_candidates(spark, idx, probe_docs).collect()
    }
    assert probe(comp_idx) == probe(plain_idx) and probe(plain_idx)

    # from-scratch replay over the surviving FOLDED index (fresh
    # checkpoint, at-least-once worst case): outputs byte-stable — the
    # folded dir stays invisible to earlier-batch probes and is
    # overwritten exactly at the replay's own batch 4
    stream = st.stream_from_files(
        spark, str(src), df_all.schema, max_files_per_trigger=1
    )
    q = (
        ds.near_dedup_stream(stream, comp_idx, comp_pairs, compact_every=2)
        .option("checkpointLocation", str(tmp_path / "ckpt_replay"))
        .trigger(availableNow=True)
        .start()
    )
    st.run_available_now(q)
    assert pairs(comp_pairs) == pairs(plain_pairs)
    assert content(comp_idx) == content(plain_idx)


def test_near_dedup_stream_exact_family(spark, tmp_path):
    """family='exact': the index-backed streaming exact dedup (state on
    disk, not in executor state stores). Union of per-batch pairs equals
    the batch recompute expanded to (canonical, other) pairs — each pair
    exactly once, in the batch of its later doc — and a from-scratch
    replay over the surviving dirs is byte-stable."""
    import hashlib
    from collections import defaultdict

    from pyspark.sql import functions as F

    rows = [(i, f"text number {i % 7}") for i in range(21)]  # 7 contents x 3
    rows += [(100, "text number 0"), (101, "one of a kind")]
    df_all = spark.createDataFrame(rows, "doc_id long, text string")

    # the model, batch by batch (files arrive in write order): each
    # batch emits the recompute-over-seen-so-far pairs touching it —
    # canonical-SO-FAR semantics, so a late id-undercutting doc re-pairs
    # with the holders it displaces rather than rewriting history
    want = set()
    seen: list = []
    for j in range(3):
        batch = [r for r in rows if r[0] % 3 == j]
        batch_ids = {d for d, _ in batch}
        groups = defaultdict(list)
        for i, t in seen + batch:
            groups[hashlib.md5(t.encode()).hexdigest()].append(i)
        for g in groups.values():
            canon = min(g)
            want |= {
                (canon, d)
                for d in g
                if d != canon and (canon in batch_ids or d in batch_ids)
            }
        seen += batch

    src = tmp_path / "docs"
    src.mkdir()
    for j in range(3):
        df_all.filter(F.col("doc_id") % 3 == j).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    index_path = str(tmp_path / "digest_index")
    pairs_path = str(tmp_path / "pairs")

    def run(checkpoint: str) -> None:
        stream = st.stream_from_files(
            spark, str(src), df_all.schema, max_files_per_trigger=1
        )
        q = (
            ds.near_dedup_stream(
                stream, index_path, pairs_path, family="exact",
                compact_every=2,
            )
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        st.run_available_now(q)

    def got() -> set:
        return {
            (r["doc_a"], r["doc_b"])
            for r in spark.read.parquet(pairs_path).collect()
        }

    run("ckpt1")
    assert got() == want
    assert spark.read.parquet(pairs_path).count() == len(want)
    # and the pairs connect exactly the true content groups (what a
    # consumer actually extracts), undercuts and all — tiny union-find
    comp: dict = {}

    def find(x):
        while comp.get(x, x) != x:
            comp[x] = comp.get(comp[x], comp[x])
            x = comp[x]
        return x

    for a, b in got():
        comp.setdefault(a, a)
        comp.setdefault(b, b)
        comp[find(b)] = find(a)
    got_groups = defaultdict(set)
    for d in comp:
        got_groups[find(d)].add(d)
    true_groups = defaultdict(set)
    for i, t in rows:
        true_groups[hashlib.md5(t.encode()).hexdigest()].add(i)
    assert {frozenset(g) for g in got_groups.values()} == {
        frozenset(g) for g in true_groups.values() if len(g) > 1
    }
    run("ckpt2")  # from-scratch replay over surviving folded index
    assert got() == want
    assert spark.read.parquet(pairs_path).count() == len(want)


def test_near_dedup_stream_semantic_family(spark, tmp_path):
    """family='semantic' (r12 VERDICT task 3): the SemDeDup online
    contract as the fourth member of the stream loop. The verdict log
    across micro-batches must equal the pure-Python sequential greedy
    replay in (batch, centroid_sim, id) order with an empty seed, the
    index rows must mirror the verdicts with their vectors, planted
    cross-batch duplicates of kept residents must drop, and a
    from-scratch replay (fresh checkpoint, surviving index + pairs —
    the at-least-once worst case) must leave both outputs unchanged."""
    import numpy as np
    from pyspark.sql import functions as F

    from ethereum_analytical_db_spark.operators.similarity import (
        ivf_train_centroids,
    )
    from test_semdedup import py_online_semdedup

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(6)]) for i in range(60)]
    # cross-batch duplicates: ids 40 (batch 1) and 41 (batch 2) copy
    # vectors from batch-0 rows 0 and 3
    rows[40] = (40, rows[0][1])
    rows[41] = (41, rows[3][1])
    df_all = spark.createDataFrame(rows, "doc_id long, embedding array<float>")
    centroids = ivf_train_centroids(df_all, 3, 2, "doc_id", "embedding")

    src = tmp_path / "vecs"
    src.mkdir()
    batches = []
    for j in range(3):
        part = [r for r in rows if r[0] % 3 == j]
        batches.append(part)
        spark.createDataFrame(
            part, "doc_id long, embedding array<float>"
        ).coalesce(1).write.mode("append").parquet(str(src))
    index_path = str(tmp_path / "sem_index")
    pairs_path = str(tmp_path / "verdicts")
    schema = df_all.schema

    def run(checkpoint: str) -> None:
        stream = st.stream_from_files(
            spark, str(src), schema, max_files_per_trigger=1
        )
        q = (
            ds.near_dedup_stream(
                stream, index_path, pairs_path, family="semantic",
                id_col="doc_id", centroids=centroids,
                semantic_threshold=0.9, compact_every=2,
            )
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        st.run_available_now(q)

    def got_verdicts() -> dict:
        return {
            r["doc_id"]: r["kept"]
            for r in spark.read.parquet(pairs_path).collect()
        }

    run("ckpt1")
    got = got_verdicts()
    ref = py_online_semdedup(
        [[(i, v) for i, v in part] for part in batches], centroids, 0.9
    )
    assert got == ref
    assert len(got) == 60
    # planted duplicates of KEPT residents drop
    checked = 0
    for dup, srcid in ((40, 0), (41, 3)):
        if ref[srcid]:
            assert not got[dup]
            checked += 1
    assert checked >= 1
    # index mirrors the verdict log, vectors intact
    idx = spark.read.parquet(index_path)
    assert {
        r["doc_id"]: r["kept"] for r in idx.collect()
    } == got
    vecs = dict(rows)
    for r in idx.collect():
        # array<float> storage is float32: compare at that precision
        assert [float(x) for x in r["embedding"]] == [
            float(np.float32(x)) for x in vecs[r["doc_id"]]
        ]
    # each verdict lands in exactly one batch partition
    assert spark.read.parquet(pairs_path).count() == 60

    # from-scratch replay over the surviving (folded) index + verdicts
    run("ckpt2")
    assert got_verdicts() == got
    assert spark.read.parquet(pairs_path).count() == 60
    assert {r["doc_id"]: r["kept"] for r in spark.read.parquet(index_path).collect()} == got


def test_near_dedup_stream_semantic_rejects_drift_and_missing_centroids(
    spark, tmp_path
):
    """Wiring guards for the semantic family: no centroids raises; a
    restart with a different threshold or different centroids over the
    same index raises at wiring time (sidecar validation), matching the
    other families' drift protocol."""
    import numpy as np
    import pytest

    schema = spark.createDataFrame(
        [], "doc_id long, embedding array<float>"
    ).schema
    src = tmp_path / "vecs"
    src.mkdir()
    stream = st.stream_from_files(spark, str(src), schema)
    index_path = str(tmp_path / "sem_idx")
    pairs_path = str(tmp_path / "sem_pairs")

    with pytest.raises(ValueError, match="centroids"):
        ds.near_dedup_stream(
            stream, index_path, pairs_path, family="semantic",
            id_col="doc_id",
        )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    ds.near_dedup_stream(
        stream, index_path, pairs_path, family="semantic", id_col="doc_id",
        centroids=cents, semantic_threshold=0.9,
    )
    with pytest.raises(ValueError, match="threshold"):
        ds.near_dedup_stream(
            stream, index_path, pairs_path, family="semantic",
            id_col="doc_id", centroids=cents, semantic_threshold=0.95,
        )
    with pytest.raises(ValueError, match="centroids do not match"):
        ds.near_dedup_stream(
            stream, index_path, pairs_path, family="semantic",
            id_col="doc_id", centroids=[[0.5, 0.5], [0.0, 1.0]],
            semantic_threshold=0.9,
        )


def test_replay_with_coarser_chunking_over_folded_index(spark, tmp_path):
    """r10 ADVICE (A2): a from-scratch replay over a surviving FOLDED
    index, with a DIFFERENT chunking (maxFilesPerTrigger=2 → half the
    batches), previously left the folded-union dir's uncovered
    partition values in place as permanent duplicate index rows (and
    duplicate pairs on later probes). The stale-batch cleanup at each
    batch start must clear them: after the replay, index content and
    pairs equal a fresh single-pass run exactly (no duplicates)."""
    import glob
    import random

    from pyspark.sql import functions as F

    from ethereum_analytical_db_spark.operators import dedup

    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(300)]
    rows = [(i, " ".join(rnd.choice(vocab) for _ in range(40))) for i in range(24)]
    for k in range(4):
        words = rows[k][1].split()
        words[5] = "edited"
        rows.append((100 + k, " ".join(words)))
    df_all = spark.createDataFrame(rows, "doc_id long, text string")

    src = tmp_path / "docs"
    src.mkdir()
    for j in range(4):  # 4 files
        df_all.filter(F.col("doc_id") % 4 == j).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    index_path = str(tmp_path / "idx")
    pairs_path = str(tmp_path / "pairs")

    def run(ckpt: str, per_trigger: int) -> None:
        stream = st.stream_from_files(
            spark, str(src), df_all.schema, max_files_per_trigger=per_trigger
        )
        q = (
            ds.near_dedup_stream(
                stream, index_path, pairs_path, compact_every=2
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        st.run_available_now(q)

    run("ckpt1", 1)  # 4 batches; folds at batch 1 and 3 → folded batch=3
    assert glob.glob(f"{index_path}/batch=3")  # the folded union dir

    want_idx = sorted(
        (r["doc"], r["band"], r["bucket"])
        for r in spark.read.parquet(index_path).collect()
    )
    want_pairs = sorted(
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_path).collect()
    )
    n_idx, n_pairs = len(want_idx), len(want_pairs)
    assert n_pairs  # planted near-dups guarantee candidates

    # from-scratch replay, 2 files per trigger → replay batches 0..1
    # never overwrite the surviving folded batch=3 dir by themselves
    run("ckpt_replay", 2)
    got_idx = sorted(
        (r["doc"], r["band"], r["bucket"])
        for r in spark.read.parquet(index_path).collect()
    )
    got_pairs = sorted(
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_path).collect()
    )
    # identical CONTENT and identical COUNTS (duplicates would inflate
    # the row count even where the distinct content matches)
    assert got_idx == want_idx and len(got_idx) == n_idx
    assert got_pairs == want_pairs and len(got_pairs) == n_pairs
    # the pre-replay folded dir (batch=3) is gone: the replay's last
    # batch id is 1, so only batch dirs < 2 may remain
    stale = [d for d in glob.glob(f"{index_path}/batch=*")
             if int(d.rsplit("=", 1)[1]) >= 2]
    assert stale == [], stale


def test_fold_pairs_gens_bounds_dirs_and_recovers(spark, tmp_path):
    """r11 VERDICT task 2: the generational pairs fold merges live
    gens strictly earlier than the current batch into ONE single-file
    folded generation, never re-reads folded generations (each row
    rewritten at most once ever), preserves the batch DATA column
    verbatim, and recovers every crash window (leftover tmp; completed
    rename with surviving sources)."""
    import glob
    import os

    from ethereum_analytical_db_spark.operators import dedup

    pairs = str(tmp_path / "pairs")

    def land(b):  # one live gen dir per batch, 2 files, batch as DATA col
        spark.createDataFrame(
            [(1, 100 + b, "x", b), (2, 200 + b, "y", b)],
            "doc_a long, doc_b long, digest string, batch int",
        ).repartition(2).write.parquet(f"{pairs}/gen=b{b}")

    for b in range(3):
        land(b)
    assert dedup.fold_pairs_gens(spark, pairs, 3) == [0, 1, 2]
    gens = sorted(os.path.basename(g) for g in glob.glob(f"{pairs}/gen=*"))
    assert gens == ["gen=f2"]
    assert len(glob.glob(f"{pairs}/gen=f2/*.parquet")) == 1
    # provenance intact: every batch id present with its own rows
    got = spark.read.parquet(pairs)
    assert sorted(
        (r["batch"], r["doc_a"], r["doc_b"]) for r in got.collect()
    ) == [(b, a, d) for b in range(3) for a, d in [(1, 100 + b), (2, 200 + b)]]

    # second window: folded gens are terminal — only the new lives merge
    land(3)
    land(4)
    f2_file = glob.glob(f"{pairs}/gen=f2/*.parquet")[0]
    f2_mtime = os.path.getmtime(f2_file)
    assert dedup.fold_pairs_gens(spark, pairs, 5) == [3, 4]
    gens = sorted(os.path.basename(g) for g in glob.glob(f"{pairs}/gen=*"))
    assert gens == ["gen=f2", "gen=f4"]  # dirs ~ generation count, not batches
    assert os.path.getmtime(f2_file) == f2_mtime  # f2 untouched by fold 2
    assert spark.read.parquet(pairs).count() == 10

    # retry after a completed fold: nothing live → no-op, layout stable
    assert dedup.fold_pairs_gens(spark, pairs, 5) == []

    # third fold cadence: dirs stay ~ generation count (3 folds → 3
    # dirs), total rows keep accumulating — nothing re-read or lost
    land(5)
    land(6)
    assert dedup.fold_pairs_gens(spark, pairs, 7) == [5, 6]
    gens = sorted(os.path.basename(g) for g in glob.glob(f"{pairs}/gen=*"))
    assert gens == ["gen=f2", "gen=f4", "gen=f6"]
    assert spark.read.parquet(pairs).count() == 14

    # crash window A: tmp written, rename never ran → tmp swept
    os.makedirs(f"{pairs}/.compact.gen=f9")
    dedup._recover_pair_fold(spark, pairs)
    assert not os.path.isdir(f"{pairs}/.compact.gen=f9")

    # crash window B: rename done, a source delete crashed → the folded
    # gen proves sources ≤ its id stale; the survivor is removed, rows
    # are NOT duplicated
    land(1)  # stale survivor: 1 <= max folded id 6
    dedup._recover_pair_fold(spark, pairs)
    assert not os.path.isdir(f"{pairs}/gen=b1")
    assert spark.read.parquet(pairs).count() == 14

    # replay hygiene: a from-scratch replay (batch 0) wipes every
    # generation, live and folded
    land(8)
    assert dedup.drop_stale_pair_gens(spark, pairs, 0) == [
        "gen=b8", "gen=f2", "gen=f4", "gen=f6",
    ]
    assert not glob.glob(f"{pairs}/gen=*")
