"""Dedup operators: exact Jaccard correctness on hand-computed sets,
MinHash-LSH recall against the exact operator, SimHash behavior on
near-identical documents."""

import random

import pytest
from pyspark.sql import functions as F

from ethereum_analytical_db_spark.operators import dedup


def _corpus(spark):
    """40 random-word docs + 6 near-duplicate pairs (small edits)."""
    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    for i in range(40):
        rows.append((i, " ".join(rnd.choice(vocab) for _ in range(60))))
    planted = []
    for k in range(6):
        words = rows[k][1].split()
        words[5] = "edited"
        words[17] = "also"
        rows.append((100 + k, " ".join(words)))
        planted.append((k, 100 + k))
    return spark.createDataFrame(rows, "doc_id long, text string"), planted


def test_exact_duplicates_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
    )
    out = {r["canonical_id"]: r["dup_count"] for r in dedup.exact_duplicates(df).collect()}
    assert out == {1: 2, 3: 1}


def test_jaccard_hand_computed(spark):
    # doc1: shingles {a b c, b c d}; doc2: {a b c, b c x}
    # intersection 1, union 3 → jaccard 1/3
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x")], "doc_id long, text string"
    )
    out = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()
    assert len(out) == 1
    assert out[0]["jaccard"] == pytest.approx(1 / 3)


def test_jaccard_short_docs_no_crash(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a"), (3, "a b c")], "doc_id long, text string"
    )
    assert dedup.ngram_jaccard_pairs(df, n=3, threshold=0.0).count() == 0


def test_minhash_lsh_recall_vs_exact(spark):
    df, planted = _corpus(spark)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    }
    assert len(exact) >= len(planted)  # all planted pairs are >0.5 jaccard
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_candidates(df, n=3, num_hashes=32, bands=8).collect()
    }
    # banding theory: P(candidate) = 1-(1-s^4)^8 ≈ 0.97 at s=0.7
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.8


def test_minhash_md5_twin_recall_and_exact_dup_guarantee(spark):
    """The md5-keyed LSH twin (the oracle-portable face, r13 fold #4)
    behaves like the xxhash64 pipeline: identical docs share ALL bands
    (bands_in_common = bands — a probability-1 collision), planted
    near-dups recall like the banding theory predicts, and short docs
    (< n words) produce no rows."""
    df, planted = _corpus(spark)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"]): r["bands_in_common"]
        for r in dedup.minhash_lsh_candidates(
            df, n=3, num_hashes=16, bands=4, hash_family="md5"
        ).collect()
    }
    recall = len(exact & set(cand)) / len(exact)
    assert recall >= 0.8

    dup = spark.createDataFrame(
        [(1, "w x y z q r"), (2, "w x y z q r"), (3, "a b")],
        "doc_id long, text string",
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["bands_in_common"]
        for r in dedup.minhash_lsh_candidates(
            dup, num_hashes=16, bands=4, hash_family="md5"
        ).collect()
    }
    assert out == {(1, 2): 4}  # all 4 bands; the 2-word doc emits nothing

    import pytest as _pytest

    with _pytest.raises(ValueError, match="divide"):
        dedup.minhash_lsh_candidates(dup, num_hashes=16, bands=5, hash_family="md5")


def test_simhash_md5_twin_identical_docs_and_guards(spark):
    """The md5-keyed SimHash twin (the family's oracle-portable face,
    r14 fold #5) behaves like the xxhash64 pipeline: identical docs
    land at Hamming 0, a completely different doc does not pair with
    them at max_hamming=3, and the pigeonhole/divisibility guards
    reject bad configs."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [
            (1, "w x y z q r s t u v"),
            (2, "w x y z q r s t u v"),
            (3, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_duplicates(df, hash_family="md5").collect()
    }
    assert out.get((1, 2)) == 0
    assert (1, 3) not in out and (2, 3) not in out
    with _pytest.raises(ValueError, match="divide"):
        dedup.simhash_near_duplicates(df, hash_family="md5", blocks=5)
    with _pytest.raises(ValueError, match="pigeonhole|recall"):
        dedup.simhash_near_duplicates(df, max_hamming=4, blocks=4, hash_family="md5")


def test_simhash_md5_twin_duckdb_parity(spark):
    """Cross-engine check for the hash-checked registry entry: the
    registry's own oracle SQL, run in DuckDB on the sf0.001 documents
    table, returns the exact same (doc_a, doc_b, hamming) rows as the
    Spark pipeline — the same comparison the driver's correctness
    harness performs at sf0.01."""
    import duckdb

    from ethereum_analytical_db_spark.plans.registry import all_queries

    sf = "/root/testdata/sf0.001"
    qdef = all_queries()["simhash_near_duplicates_md5"]
    assert qdef.oracle is not None and "bit_count" in qdef.oracle
    got = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in qdef.build(spark, sf).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(qdef.oracle).fetchall())
    assert got == want and len(got) > 0


def test_simhash_near_identical_docs_close(spark):
    df, planted = _corpus(spark)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_duplicates(df, max_hamming=12, blocks=4, partial_recall=True).collect()
    }
    hits = sum(1 for p in planted if p in pairs)
    assert hits >= len(planted) - 1  # near-identical docs collide in simhash


def test_simhash_chunk_cap_subsets_and_bounds(spark):
    """The hot-chunk cap only ever REMOVES candidate pairs (subset
    property), and a cap of 0 removes them all; planted near-identical
    pairs survive a generous cap because their shared chunks are cold.
    Both hash families share the cap."""
    df, planted = _corpus(spark)
    for fam in ("xxhash64", "md5"):
        kw = dict(max_hamming=12, blocks=4, partial_recall=True, hash_family=fam)
        full = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.simhash_near_duplicates(df, **kw).collect()
        }
        capped = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.simhash_near_duplicates(df, max_chunk_df=10, **kw).collect()
        }
        assert capped <= full
        assert sum(1 for p in planted if p in capped) >= len(planted) - 1
        none_left = dedup.simhash_near_duplicates(df, max_chunk_df=0, **kw)
        assert none_left.count() == 0


def test_hot_shingle_cap_bounds_join(spark):
    """A stop-shingle present in EVERY doc would make the inverted-index
    self-join quadratic over the corpus; the df cap drops it while true
    near-dup pairs (sharing many low-df shingles) survive."""
    rnd = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    for i in range(30):
        # every doc starts with the same hot 3 words → one shared shingle
        body = " ".join(rnd.choice(vocab) for _ in range(40))
        rows.append((i, "hot stop shingle " + body))
    words = rows[0][1].split()
    words[10] = "edited"
    rows.append((100, " ".join(words)))  # near-dup of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5, max_shingle_df=5)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (0, 100) in got
    # and the capped inverted index contains NO row for the hot shingle:
    # every pair besides the planted one came only from low-df shingles
    uncapped = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.0)
    # without the cap, the universal shingle links every doc pair
    assert uncapped.count() >= 30 * 31 / 2
    low = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.0, max_shingle_df=5)
    assert low.count() < uncapped.count()


def test_connected_components_hand_graph(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 5)],
        "doc_a long, doc_b long",
    )
    expect = {
        (1, 1), (2, 1), (3, 1), (5, 1),         # chain 1-2-3-5
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }
    got = {
        (r["doc"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == expect
    # the two-phase implementation agrees on the same graph
    got2 = {
        (r["doc"], r["component"])
        for r in dedup.connected_components_twophase(pairs).collect()
    }
    assert got2 == expect


def test_twophase_chain_converges_in_log_rounds(spark):
    """A 64-node chain is the adversarial case for min-label propagation
    (O(diameter) = 63 rounds); large-star/small-star contracts it in
    O(log n) rounds."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    stats: dict = {}
    out = {
        (r["doc"], r["component"])
        for r in dedup.connected_components_twophase(pairs, stats=stats).collect()
    }
    assert out == {(i, 0) for i in range(n)}
    assert stats["rounds"] <= 12, stats


def test_twophase_raises_when_unconverged(spark):
    """Exhausting max_iterations without the fixed point must raise, not
    return a plausible-but-wrong labeling."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components_twophase(pairs, max_iterations=1)


def test_connected_components_random_graph_agreement(spark):
    """Both implementations label every node with the MIN reachable id,
    so on ANY graph their outputs must be identical — checked on seeded
    random graphs with mixed shapes (isolated pairs, chains, cliques,
    a high-degree star) and against a pure-Python union-find oracle."""
    import random

    for seed in (11, 23):
        rnd = random.Random(seed)
        nodes = list(range(60))
        edges = set()
        for _ in range(45):
            a, b = rnd.sample(nodes, 2)
            edges.add((min(a, b), max(a, b)))
        edges.add((0, 59))  # long-range edge

        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {n for e in edges for n in e}
        want = {(n, find(n)) for n in touched}

        pairs = spark.createDataFrame(
            sorted(edges), "doc_a long, doc_b long"
        )
        got_minlabel = {
            (r["doc"], r["component"])
            for r in dedup.connected_components(pairs).collect()
        }
        got_star = {
            (r["doc"], r["component"])
            for r in dedup.connected_components_twophase(pairs).collect()
        }
        assert got_minlabel == want, f"min-label differs (seed {seed})"
        assert got_star == want, f"two-phase differs (seed {seed})"


def test_connected_components_driver_fast_path_matches_loop(spark):
    """r16: small edge sets take a driver-local union-find instead of
    the iterative join loop. Same (doc, component) rows, same schema —
    pinned against the loop forced via driver_max_edges=None on a graph
    with chains, a clique, an isolated pair and duplicate input pairs."""
    raw = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22),
           (2, 1), (50, 51)]
    pairs = spark.createDataFrame(raw, "doc_a long, doc_b long")
    fast = dedup.connected_components(pairs)  # default: fast path
    loop = dedup.connected_components(pairs, driver_max_edges=None)
    assert fast.schema == loop.schema
    assert {tuple(r) for r in fast.collect()} == {
        tuple(r) for r in loop.collect()
    }
    # threshold boundary: a bound below the edge count takes the loop
    # (no collect), still identical rows
    loop2 = dedup.connected_components(pairs, driver_max_edges=1)
    assert {tuple(r) for r in loop2.collect()} == {
        tuple(r) for r in fast.collect()
    }


# ---- exact substring dedup (Lee et al. 2022 semantics) ----


def _py_substring_oracle(rows, k):
    """Independent pure-Python reimplementation: window fingerprints by
    (doc, pos), keep the globally first occurrence of each duplicated
    window, merge removal spans, drop covered words."""
    import hashlib

    occ = {}
    for doc_id, text in sorted(rows):
        ws = text.split(" ")
        for pos in range(len(ws) - k + 1):
            fp = hashlib.md5(" ".join(ws[pos : pos + k]).encode()).hexdigest()
            occ.setdefault(fp, []).append((doc_id, pos))
    spans = {}
    for fp, hits in occ.items():
        if len(hits) > 1:
            for doc_id, pos in sorted(hits)[1:]:
                spans.setdefault(doc_id, []).append((pos, pos + k))
    merged = {}
    for doc_id, sp in spans.items():
        sp.sort()
        out = [list(sp[0])]
        for s, e in sp[1:]:
            if s <= out[-1][1]:
                out[-1][1] = max(out[-1][1], e)
            else:
                out.append([s, e])
        merged[doc_id] = [tuple(x) for x in out]
    clean = {}
    removed = {}
    for doc_id, text in rows:
        ws = text.split(" ")
        cut = merged.get(doc_id, [])
        kept = [
            w for i, w in enumerate(ws)
            if not any(s <= i < e for s, e in cut)
        ]
        clean[doc_id] = " ".join(kept)
        removed[doc_id] = len(ws) - len(kept)
    return merged, clean, removed


def test_substring_dedup_hand_case(spark):
    # doc 2 repeats doc 1's opening 4 words; k=3 -> doc 2's windows at
    # pos 0 ([0,3)) and pos 1 ([1,4)) are duplicated -> merge to [0,4)
    rows = [(1, "a b c d x y z"), (2, "a b c d q r s")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        (r["doc"], r["start"], r["end"])
        for r in dedup.duplicate_spans(df, k=3).collect()
    }
    assert spans == {(2, 0, 4)}
    out = {r["doc_id"]: r for r in dedup.exact_substring_dedup(df, k=3).collect()}
    assert out[1]["text_clean"] == "a b c d x y z"
    assert out[2]["text_clean"] == "q r s"
    assert out[2]["tokens_removed"] == 4


def test_substring_dedup_matches_python_oracle(spark):
    """Full-semantics parity on a corpus with planted repeats, overlaps,
    and an intra-doc repetition, against an independent pure-Python
    implementation."""
    rnd = random.Random(23)
    vocab = [f"t{i}" for i in range(200)]
    rows = []
    for i in range(30):
        rows.append((i, " ".join(rnd.choice(vocab) for _ in range(50))))
    # cross-doc duplication: doc 100+j reuses a 12-word slice of doc j
    for j in range(5):
        base = rows[j][1].split(" ")
        fresh = [rnd.choice(vocab) for _ in range(30)]
        rows.append((100 + j, " ".join(fresh[:10] + base[8:20] + fresh[10:])))
    # intra-doc repetition: the same 10 words twice in one doc
    rep = [rnd.choice(vocab) for _ in range(10)]
    rows.append((200, " ".join(rep + ["gap1", "gap2"] + rep)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    k = 8
    exp_spans, exp_clean, exp_removed = _py_substring_oracle(rows, k)
    got_spans = {}
    for r in dedup.duplicate_spans(df, k=k).collect():
        got_spans.setdefault(r["doc"], []).append((r["start"], r["end"]))
    assert {d: sorted(v) for d, v in got_spans.items()} == exp_spans

    got = {r["doc_id"]: r for r in dedup.exact_substring_dedup(df, k=k).collect()}
    assert len(got) == len(rows)
    for doc_id, _ in rows:
        assert got[doc_id]["text_clean"] == exp_clean[doc_id], doc_id
        assert got[doc_id]["tokens_removed"] == exp_removed[doc_id], doc_id
    # the planted cross-doc slices actually got cut
    assert all(got[100 + j]["tokens_removed"] > 0 for j in range(5))
    assert got[200]["tokens_removed"] == 10


def test_substring_dedup_short_docs_pass_through(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dedup.exact_substring_dedup(df, k=8).collect()}
    assert out[1]["text_clean"] == "a b" and out[1]["tokens_removed"] == 0
    assert out[2]["text_clean"] == "a b"


def test_substring_dedup_stats_duckdb_parity(spark):
    """Cross-engine oracle for the rows-only registry entry: DuckDB
    re-derives the window fingerprints (same md5-of-joined-words), the
    keep-first removal spans, the per-doc interval merge, and the
    summary stats on the sf0.001 documents table — identical numbers."""
    import duckdb

    from ethereum_analytical_db_spark.plans.registry import all_queries

    sf = "/root/testdata/sf0.001"
    qdef = all_queries()["substring_dedup_stats"]
    # promoted into the hash-checked window in r8: the registry entry
    # carries this same SQL as its driver oracle — assert so they can't
    # silently drift apart (the literal below stays as an independent
    # second copy of the semantics)
    assert qdef.oracle is not None and "md5(array_to_string" in qdef.oracle
    got = qdef.build(spark, sf).first()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = con.execute("""
        WITH words AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), wins AS (
          SELECT doc_id AS doc, CAST(r AS INT) AS pos,
                 md5(array_to_string(ws[r+1 : r+8], ' ')) AS fp
          FROM words, LATERAL unnest(range(len(ws) - 8 + 1)) AS t(r)
          WHERE len(ws) >= 8
        ), ranked AS (
          SELECT doc, pos,
                 count(*) OVER (PARTITION BY fp) AS occ,
                 row_number() OVER (PARTITION BY fp ORDER BY doc, pos) AS rn
          FROM wins
        ), spans AS (
          SELECT doc, pos AS s, pos + 8 AS e FROM ranked
          WHERE occ > 1 AND rn > 1
        ), with_prev AS (
          SELECT doc, s, e,
                 CASE WHEN s > coalesce(max(e) OVER (
                       PARTITION BY doc ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                 THEN 1 ELSE 0 END AS new_grp
          FROM spans
        ), grouped AS (
          SELECT doc, s, e,
                 sum(new_grp) OVER (
                   PARTITION BY doc ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
          FROM with_prev
        ), merged AS (
          SELECT doc, min(s) AS s, max(e) AS e
          FROM grouped GROUP BY doc, grp
        ), per_doc AS (
          SELECT doc, sum(e - s) AS removed FROM merged GROUP BY doc
        )
        SELECT (SELECT count(*) FROM documents) AS docs,
               count(*) AS docs_affected,
               sum(removed) AS tokens_removed
        FROM per_doc
    """).fetchone()
    assert (got["docs"], got["docs_affected"], got["tokens_removed"]) == want


def test_reliable_materialize_uses_checkpoint_dir_and_matches_local(spark, tmp_path):
    """materialize="reliable" (r8 VERDICT task 3) must (a) cut lineage
    through SparkContext checkpoint files — the mode that SURVIVES
    executor loss on a real cluster, unlike localCheckpoint's pinned
    blocks — and (b) be semantically invisible: byte-identical results
    to the default local mode across the dedup family."""
    import os

    from ethereum_analytical_db_spark.operators.materialize import materialize

    sc = spark.sparkContext
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    df, _ = _corpus(spark)

    def pairs(mode):
        return {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in dedup.ngram_jaccard_pairs(
                df, n=3, threshold=0.5, materialize=mode
            ).collect()
        }

    local, reliable = pairs("local"), pairs("reliable")
    assert reliable == local and local  # same answer, non-empty
    # the reliable run really wrote RDD checkpoint files
    files = [
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(ckpt)
        for f in fn
    ]
    assert files, "reliable mode produced no checkpoint files"
    # components in reliable mode: the iterative path (per-round cuts)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc"], r["component"])
        for r in dedup.connected_components(
            edges, materialize="reliable"
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    got2 = {
        (r["doc"], r["component"])
        for r in dedup.connected_components_twophase(
            edges, materialize="reliable"
        ).collect()
    }
    assert got2 == got
    # unknown mode fails loudly at the knob, not deep in Spark
    with pytest.raises(ValueError, match="materialize mode"):
        materialize(df, "fast-and-loose")


def test_reliable_materialize_defaults_checkpoint_dir_under_warehouse(spark):
    """With no checkpoint dir configured, reliable mode derives one
    under spark.sql.warehouse.dir instead of failing — callers without
    SparkContext plumbing still get fault-tolerant materialization."""
    import os

    from ethereum_analytical_db_spark.operators.materialize import materialize

    sc = spark.sparkContext
    # simulate a fresh session: clear any dir a previous test set (the
    # scala var's setter is `checkpointDir_$eq`, reachable via getattr)
    none = getattr(getattr(sc._jvm, "scala.None$"), "MODULE$")
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(none)
    assert sc.getCheckpointDir() is None
    df = spark.range(10).toDF("id")
    out = materialize(df, "reliable")
    assert out.count() == 10
    got_dir = sc.getCheckpointDir()
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    assert got_dir is not None
    assert "_checkpoints" in got_dir
    assert os.path.basename(warehouse.rstrip("/")) in got_dir


def test_minhash_probe_matches_full_recompute(spark, tmp_path):
    """Incremental dedup exactness: probing a frozen corpus band index
    with a new shard must return EXACTLY the full batch recompute over
    (corpus ∪ shard), filtered to pairs touching the shard — same pairs,
    same bands_in_common. Holds because band rows are purely per-doc
    (minhash_band_rows docstring), so freezing changes nothing."""
    df, _ = _corpus(spark)
    full = {
        (r["doc_a"], r["doc_b"]): r["bands_in_common"]
        for r in dedup.minhash_lsh_candidates(df, n=3, num_hashes=32, bands=8).collect()
    }
    corpus = df.filter(F.col("doc_id") % 10 != 0)
    new = df.filter(F.col("doc_id") % 10 == 0)
    assert new.count() > 0 and corpus.count() > 0
    path = str(tmp_path / "band_index")
    dedup.minhash_index_write(corpus, path, n=3, num_hashes=32, bands=8)
    got = {
        (r["doc_a"], r["doc_b"]): r["bands_in_common"]
        for r in dedup.minhash_probe_candidates(
            spark, path, new, n=3, num_hashes=32, bands=8
        ).collect()
    }
    want = {p: c for p, c in full.items() if p[0] % 10 == 0 or p[1] % 10 == 0}
    assert got == want
    assert want  # the planted near-dup pairs guarantee shard-touching hits
    # non-broadcast fallback (shard too big to broadcast): same result
    got_merge = {
        (r["doc_a"], r["doc_b"]): r["bands_in_common"]
        for r in dedup.minhash_probe_candidates(
            spark, path, new, n=3, num_hashes=32, bands=8, broadcast_new=False
        ).collect()
    }
    assert got_merge == want


def test_minhash_probe_corpus_scan_is_exchange_free(spark, tmp_path):
    """The 100 TB claim in minhash_probe_candidates' docstring: the
    corpus-index side of the probe join must be a BroadcastHashJoin
    streamed side with NO Exchange between the Parquet scan and the
    join — the corpus never shuffles. The index scan is the left child,
    so in the printed plan no Exchange may appear between the BHJ line
    and the index FileScan line."""
    df, _ = _corpus(spark)
    path = str(tmp_path / "band_index")
    dedup.minhash_index_write(df.filter(F.col("doc_id") % 10 != 0), path)
    probe = dedup.minhash_probe_candidates(
        spark, path, df.filter(F.col("doc_id") % 10 == 0)
    )
    lines = probe._jdf.queryExecution().executedPlan().toString().splitlines()
    bhj = next(i for i, l in enumerate(lines) if "BroadcastHashJoin" in l)
    # the index is the ONLY Parquet scan in this plan (the shard's band
    # rows are lineage-cut RDD scans); the plan string may truncate the
    # file path, so match on the scan node alone
    scan = next(i for i, l in enumerate(lines[bhj:], bhj) if "Scan parquet" in l)
    between = [l for l in lines[bhj + 1 : scan] if "Exchange" in l]
    assert not between, f"corpus side shuffles: {between}"


def test_registered_minhash_probe_query_matches_batch_form(spark):
    """The registered serve-path query (`minhash_dedup_probe`) must
    equal the registered full-recompute query (`minhash_lsh_candidates`)
    filtered to shard-touching pairs, on the real documents table — and
    the frozen index must be cached (second build reuses the path) with
    the same lifecycle hooks as the IVF index."""
    import os

    from ethereum_analytical_db_spark import session
    from ethereum_analytical_db_spark.plans import frozen
    from ethereum_analytical_db_spark.plans.registry import all_queries

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    got = {
        (r["doc_a"], r["doc_b"]): r["bands_in_common"]
        for r in qs["minhash_dedup_probe"].build(spark, sf).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"]): r["bands_in_common"]
        for r in qs["minhash_lsh_candidates"].build(spark, sf).collect()
    }
    assert got == {
        p: c for p, c in full.items() if p[0] % 10 == 0 or p[1] % 10 == 0
    }
    key = ("frozen", "minhash_index", os.path.abspath(sf))
    path = session.app_memo(key, lambda: pytest.fail("fixture not memoised"))
    assert os.path.isdir(path)
    qs["minhash_dedup_probe"].build(spark, sf)
    assert session.app_memo(key, lambda: pytest.fail("rebuilt")) == path  # cached
    frozen.release_all()
    assert not os.path.exists(path)
    assert session._APP_MEMO == {}


def test_minhash_probe_append_sequential_shards(spark, tmp_path):
    """The full incremental-ingest loop: start from an indexed corpus,
    then per shard (probe, append). Union of per-shard probe results
    must equal the full batch recompute minus the corpus-internal pairs
    (every pair is found exactly once, by the FIRST shard that completes
    it), and after all appends the index equals a fresh build over
    everything."""
    df, _ = _corpus(spark)
    full = {
        (r["doc_a"], r["doc_b"]): r["bands_in_common"]
        for r in dedup.minhash_lsh_candidates(df, n=3, num_hashes=32, bands=8).collect()
    }
    base = df.filter(F.col("doc_id") % 3 == 0)
    shard1 = df.filter(F.col("doc_id") % 3 == 1)
    shard2 = df.filter(F.col("doc_id") % 3 == 2)
    path = str(tmp_path / "band_index")
    dedup.minhash_index_write(base, path, n=3, num_hashes=32, bands=8)
    found = {}
    for shard in (shard1, shard2):
        for r in dedup.minhash_probe_candidates(
            spark, path, shard, n=3, num_hashes=32, bands=8
        ).collect():
            pair = (r["doc_a"], r["doc_b"])
            assert pair not in found  # each pair found exactly once
            found[pair] = r["bands_in_common"]
        dedup.minhash_index_append(shard, path, n=3, num_hashes=32, bands=8)
    want = {
        p: c
        for p, c in full.items()
        if not (p[0] % 3 == 0 and p[1] % 3 == 0)  # corpus-internal: pre-existed
    }
    assert found == want and found
    # the appended index now equals a fresh build over the whole corpus
    fresh = str(tmp_path / "fresh_index")
    dedup.minhash_index_write(df, fresh, n=3, num_hashes=32, bands=8)
    rows = lambda p: {  # noqa: E731
        (r["doc"], r["band"], r["bucket"])
        for r in spark.read.parquet(p).collect()
    }
    assert rows(path) == rows(fresh)


def test_band_index_parameter_sidecar_guards_mismatch(spark, tmp_path):
    """Probing or appending with parameters other than the ones the
    index was written with must raise (mismatched shingle/hash/band
    configs silently yield wrong buckets otherwise — the same footgun
    ivf_index_append's centroid digest guards); an index dir without the
    sidecar is rejected as not-ours."""
    df, _ = _corpus(spark)
    path = str(tmp_path / "band_index")
    dedup.minhash_index_write(df, path, n=3, num_hashes=32, bands=8)
    probe_df = df.limit(3)
    for bad in (dict(bands=4), dict(num_hashes=16), dict(n=2)):
        kw = {"n": 3, "num_hashes": 32, "bands": 8, **bad}
        with pytest.raises(ValueError, match="mismatched parameters"):
            dedup.minhash_probe_candidates(spark, path, probe_df, **kw)
        with pytest.raises(ValueError, match="mismatched parameters"):
            dedup.minhash_index_append(probe_df, path, **kw)
    # matching parameters still pass
    assert dedup.minhash_probe_candidates(spark, path, probe_df).count() >= 0
    # a foreign parquet dir (no sidecar) is rejected loudly
    bare = str(tmp_path / "bare")
    df.limit(1).write.parquet(bare)
    with pytest.raises(ValueError, match="sidecar"):
        dedup.minhash_probe_candidates(spark, bare, probe_df)


def test_simhash_probe_matches_full_recompute_and_appends(spark, tmp_path):
    """SimHash incremental twin: probing the frozen chunk index with a
    new shard equals the full batch recompute filtered to shard-touching
    pairs (same pairs, same hamming); after appending shard 1, shard 2's
    probe sees it as corpus — the full sequence reproduces the batch
    result minus corpus-internal pairs. Parameter-sidecar mismatches and
    pigeonhole-voiding configs raise."""
    df, _ = _corpus(spark)
    kw = dict(max_hamming=12, blocks=4, partial_recall=True)
    full = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_duplicates(df, **kw).collect()
    }
    assert full
    base = df.filter(F.col("doc_id") % 3 == 0)
    s1 = df.filter(F.col("doc_id") % 3 == 1)
    s2 = df.filter(F.col("doc_id") % 3 == 2)
    path = str(tmp_path / "simhash_index")
    dedup.simhash_index_write(base, path, blocks=4)
    found = {}
    for shard in (s1, s2):
        for r in dedup.simhash_probe_candidates(spark, path, shard, **kw).collect():
            pair = (r["doc_a"], r["doc_b"])
            assert pair not in found
            found[pair] = r["hamming"]
        dedup.simhash_index_append(shard, path, blocks=4)
    want = {
        p: h
        for p, h in full.items()
        if not (p[0] % 3 == 0 and p[1] % 3 == 0)
    }
    assert found == want
    # appended index equals a fresh build over everything
    fresh = str(tmp_path / "fresh")
    dedup.simhash_index_write(df, fresh, blocks=4)
    rows = lambda p: {  # noqa: E731
        (r["doc"], r["simhash"], r["blk"], r["chunk"])
        for r in spark.read.parquet(p).collect()
    }
    assert rows(path) == rows(fresh)
    # guards: mismatched blocks, missing sidecar, voided pigeonhole
    with pytest.raises(ValueError, match="mismatched parameters"):
        dedup.simhash_probe_candidates(
            spark, path, s1, max_hamming=3, blocks=8
        )
    with pytest.raises(ValueError, match="recall guarantee"):
        dedup.simhash_probe_candidates(spark, path, s1, max_hamming=4, blocks=4)
    bare = str(tmp_path / "bare")
    df.limit(1).write.parquet(bare)
    with pytest.raises(ValueError, match="sidecar"):
        dedup.simhash_probe_candidates(spark, bare, s1, max_hamming=3, blocks=4)


def test_compact_index_one_file_per_partition_and_recovery(spark, tmp_path):
    """compact_index: after K appends (K files per band dir) the rewrite
    leaves exactly one file per partition dir with identical rows, the
    parameter sidecar survives (probes still validate), and the
    crash-recovery branches work (canonical missing -> .precompact is
    restored; canonical present -> stale backup cleaned)."""
    import os

    df, _ = _corpus(spark)
    path = str(tmp_path / "band_index")
    dedup.minhash_index_write(df.filter(F.col("doc_id") % 3 == 0), path)
    dedup.minhash_index_append(df.filter(F.col("doc_id") % 3 == 1), path)
    dedup.minhash_index_append(df.filter(F.col("doc_id") % 3 == 2), path)
    rows = lambda: sorted(  # noqa: E731
        (r["doc"], r["band"], r["bucket"])
        for r in spark.read.parquet(path).collect()
    )
    before = rows()

    def files_per_band():
        counts = []
        for d in os.listdir(path):
            if d.startswith("band="):
                counts.append(
                    len([f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")])
                )
        return counts

    assert max(files_per_band()) >= 3  # the appends left small files
    dedup.compact_index(spark, path, ["band"])
    assert files_per_band() and set(files_per_band()) == {1}
    assert rows() == before
    # sidecar survived: a probe still validates and returns pairs
    probe = dedup.minhash_probe_candidates(spark, path, df.limit(5))
    assert probe.count() >= 0
    # recovery: canonical missing, .precompact present -> restored
    os.rename(path, path + ".precompact")
    dedup.compact_index(spark, path, ["band"])
    assert rows() == before
    # stale backup with canonical present -> cleaned, compact proceeds
    os.makedirs(path + ".precompact")
    dedup.compact_index(spark, path, ["band"])
    assert not os.path.exists(path + ".precompact")
    assert rows() == before
    # no index at all -> loud
    with pytest.raises(ValueError, match="no index directory"):
        dedup.compact_index(spark, str(tmp_path / "nope"), ["band"])


def test_frozen_index_rows_golden_digests(spark):
    """Indexes written by earlier code must stay probe-able, so the rows
    each frozen index stores are pinned byte for byte: sha256 of the
    sorted rows on a fixed corpus, digests taken before MinHash and
    SimHash gained ``hash_family``. Parity tests cannot catch a changed
    bucket formula, because both of their sides would change
    together."""
    import hashlib

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumped over the lazy dog"),
            (3, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
            (4, "a b"),
            (5, "to be or not to be that is the question"),
        ],
        "doc_id long, text string",
    )

    def digest(rows):
        text = "\n".join(repr(tuple(r)) for r in sorted(tuple(r) for r in rows))
        return hashlib.sha256(text.encode()).hexdigest()

    assert digest(dedup.minhash_band_rows(df).collect()) == (
        "31b27c47aaa1789d4fc4ed464fdb70f0e55ffcbedb3ddcd7ad58f28893a5fa1c"
    )
    assert digest(
        dedup._chunked_signatures(dedup.simhash_signatures(df), 4).collect()
    ) == "fa8a111e7a10f7d185e643522cf56817c841a544c0e432e9fc528f39c28634d2"
    assert digest(dedup.exact_digest_rows(df).collect()) == (
        "43de497e929efbe8df37447e5c6b2a9f27850f1b74c3735727364e5873856708"
    )


def test_one_pipeline_per_dedup_family():
    """Structure pin: the md5 faces are ``hash_family`` values of the
    production operators, the hot-key count is written once under
    operators/ (``_hot_keys``), and index sidecars are read, written,
    validated and ensured only by fsutil's sidecar protocol."""
    import re
    from pathlib import Path

    assert not hasattr(dedup, "minhash_lsh_candidates_md5")
    assert not hasattr(dedup, "simhash_near_duplicates_md5")
    ops = Path(dedup.__file__).parent
    src = "".join(p.read_text() for p in sorted(ops.glob("*.py")))
    hot_count = r"count\(F\.lit\(1\)\)\.alias\(\"\w+\"\)\)\s*\.filter\(F\.col\(\"\w+\"\) >"
    assert len(re.findall(hot_count, src)) == 1
    assert "is corrupt" not in src and "read_sidecar" in src
    # sidecars are written, validated and ensured only by fsutil's
    # protocol: no family keeps its own writer, check or ensure
    pkg = ops.parent
    for path in sorted([*ops.glob("*.py"), *(pkg / "streaming").glob("*.py")]):
        body = path.read_text()
        assert "write_text_atomic" not in body, path
        assert not re.findall(
            r"def (_check_\w*_index_meta|_ensure_\w*|_validate_semdedup_meta"
            r"|ensure_semdedup_meta)\(",
            body,
        ), path


def test_minhash_hot_bucket_cap_subsets_and_bounds(spark):
    """The MinHash hot-bucket cap mirrors SimHash's max_chunk_df: it
    only ever REMOVES candidate pairs (subset property), cap=0 removes
    everything, and planted near-dup pairs survive a generous cap (their
    shared buckets are cold). Both hash families share the cap."""
    df, planted = _corpus(spark)
    for fam in ("xxhash64", "md5"):
        kw = dict(n=3, num_hashes=32, bands=8, hash_family=fam)
        full = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_lsh_candidates(df, **kw).collect()
        }
        capped = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_lsh_candidates(df, max_bucket_df=10, **kw).collect()
        }
        assert capped <= full
        assert sum(1 for p in planted if p in capped) >= len(planted) - 1
        assert dedup.minhash_lsh_candidates(df, max_bucket_df=0, **kw).count() == 0


def test_probe_caps_match_capped_batch_recompute(spark, tmp_path):
    """Capped probes stay exact: with the df cap computed over
    (index ∪ shard), both families' probes equal the capped batch
    recompute filtered to shard-touching pairs. Exercised on a corpus
    with a planted hot bucket (several identical docs) so the cap
    actually fires."""
    df, _ = _corpus(spark)
    # plant a degenerate cluster: 8 identical docs -> identical
    # signatures -> one hot bucket per band/chunk
    clones = [(200 + i, df.filter(F.col("doc_id") == 0).first()["text"]) for i in range(8)]
    df = df.unionByName(spark.createDataFrame(clones, "doc_id long, text string"))
    corpus = df.filter(F.col("doc_id") % 2 == 0)
    shard = df.filter(F.col("doc_id") % 2 == 1)

    mh_full = {
        (r["doc_a"], r["doc_b"]): r["bands_in_common"]
        for r in dedup.minhash_lsh_candidates(
            df, n=3, num_hashes=32, bands=8, max_bucket_df=5
        ).collect()
    }
    mh_path = str(tmp_path / "band_index")
    dedup.minhash_index_write(corpus, mh_path, n=3, num_hashes=32, bands=8)
    mh_probe = {
        (r["doc_a"], r["doc_b"]): r["bands_in_common"]
        for r in dedup.minhash_probe_candidates(
            spark, mh_path, shard, n=3, num_hashes=32, bands=8, max_bucket_df=5
        ).collect()
    }
    assert mh_probe == {
        p: c for p, c in mh_full.items() if p[0] % 2 == 1 or p[1] % 2 == 1
    }

    kw = dict(max_hamming=12, blocks=4)
    sh_full = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_duplicates(
            df, max_chunk_df=5, partial_recall=True, **kw
        ).collect()
    }
    sh_path = str(tmp_path / "chunk_index")
    dedup.simhash_index_write(corpus, sh_path, blocks=4)
    sh_probe = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_probe_candidates(
            spark, sh_path, shard, max_chunk_df=5, partial_recall=True, **kw
        ).collect()
    }
    assert sh_probe == {
        p: h for p, h in sh_full.items() if p[0] % 2 == 1 or p[1] % 2 == 1
    }
    # the caps actually fired on the planted cluster: its pair count
    # shrank vs the uncapped runs
    assert len(mh_full) < dedup.minhash_lsh_candidates(
        df, n=3, num_hashes=32, bands=8
    ).count()


def test_compact_index_aborts_when_swap_rename_fails(spark, tmp_path, monkeypatch):
    """Hadoop FileSystem.rename reports failure by returning false —
    unchecked, a failed swap followed by delete(old) destroys the only
    full copy of the index (review find). Either failing rename must
    raise and leave the index fully readable at the canonical path."""
    from ethereum_analytical_db_spark import fsutil

    df, _ = _corpus(spark)
    path = str(tmp_path / "band_index")
    dedup.minhash_index_write(df, path)
    want = {(r["doc"], r["band"], r["bucket"]) for r in spark.read.parquet(path).collect()}
    real = fsutil.rename

    # first swap rename (path -> .precompact) fails: nothing moved yet
    monkeypatch.setattr(fsutil, "rename", lambda s, src, dst: False)
    with pytest.raises(IOError, match="left untouched"):
        dedup.compact_index(spark, path, ["band"])
    got = {(r["doc"], r["band"], r["bucket"]) for r in spark.read.parquet(path).collect()}
    assert got == want

    # second swap rename (.compact -> path) fails: backup restored
    monkeypatch.setattr(
        fsutil,
        "rename",
        lambda s, src, dst: False if src.endswith(".compact") else real(s, src, dst),
    )
    with pytest.raises(IOError, match="restored"):
        dedup.compact_index(spark, path, ["band"])
    got = {(r["doc"], r["band"], r["bucket"]) for r in spark.read.parquet(path).collect()}
    assert got == want

    # and with renames healthy again the same dirs compact fine
    monkeypatch.setattr(fsutil, "rename", real)
    dedup.compact_index(spark, path, ["band"])
    got = {(r["doc"], r["band"], r["bucket"]) for r in spark.read.parquet(path).collect()}
    assert got == want


def test_precompact_recovery_at_every_index_entry_point(spark, tmp_path):
    """The crashed-compact destruction window (r9 ADVICE, medium): if
    compact_index dies between its two renames, the index exists ONLY at
    <path>.precompact. Every entry point — ensure/check meta (the stream
    wiring + probe/append paths) — must finish the recovery rename FIRST;
    previously the wiring-time sidecar write recreated the canonical dir
    sidecar-only, the probe bootstrapped empty, and the next compact
    deleted the backup as 'provably stale', destroying the only copy."""
    import os

    from ethereum_analytical_db_spark import fsutil

    from ethereum_analytical_db_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha w{i} beta gamma delta {'x' * (i % 3)}") for i in range(12)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "band_index")
    dedup.minhash_index_write(docs, idx)
    want = {
        (r["doc"], r["band"], r["bucket"])
        for r in spark.read.parquet(idx).collect()
    }

    def crash(entry):
        os.rename(idx, idx + ".precompact")  # the mid-compact crash state
        assert not os.path.isdir(idx)
        entry()
        assert os.path.isdir(idx) and not os.path.isdir(idx + ".precompact")
        got = {
            (r["doc"], r["band"], r["bucket"])
            for r in spark.read.parquet(idx).collect()
        }
        assert got == want  # full content recovered, nothing bootstrapped

    # the stream-wiring path (write-iff-absent would have recreated it)
    crash(lambda: fsutil.ensure_sidecar(
        spark, idx, dedup._BAND_INDEX_META, dedup._band_meta(3, 32, 8),
        dedup._BAND_WRITER,
    ))
    # the probe/append validation path
    crash(lambda: dedup.minhash_probe_candidates(spark, idx, docs))
    # compact_index itself still recovers-and-compacts in one call
    crash(lambda: dedup.compact_index(spark, idx, ["band"]))

    # and a probe over the recovered index answers as if nothing happened
    probe = spark.createDataFrame(
        [(900, "alpha w3 beta gamma delta")], "doc_id long, text string"
    )
    assert dedup.minhash_probe_candidates(spark, idx, probe).count() >= 0


def test_corrupt_sidecar_raises_actionable_error(spark, tmp_path):
    """A crash mid-sidecar-write used to leave truncated JSON that
    surfaced as an opaque JSONDecodeError blocking every probe forever
    (r9 ADVICE): writes now go through temp+rename, and a corrupt
    sidecar (however it got there) raises 'rebuild the index'."""
    import pytest

    from ethereum_analytical_db_spark import fsutil
    from ethereum_analytical_db_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    idx = str(tmp_path / "band_index")
    dedup.minhash_index_write(docs, idx)
    # no tmp leftovers from the atomic write
    import glob

    assert not glob.glob(f"{idx}/*_meta.json.tmp.*")
    # truncate the sidecar the way a crash mid-write would have
    fsutil.write_text(spark, f"{idx}/{dedup._BAND_INDEX_META}", '{"kind": "minh')
    with pytest.raises(ValueError, match="corrupt"):
        dedup.minhash_probe_candidates(spark, idx, docs)


def _exact_recompute_pairs(rows):
    """Independent model: exact_duplicates over the union, expanded to
    (canonical=min id, other) pairs — the contract the incremental probe
    is filtered from."""
    import hashlib
    from collections import defaultdict

    groups = defaultdict(list)
    for doc_id, text in rows:
        groups[hashlib.md5(text.encode()).hexdigest()].append(doc_id)
    pairs = set()
    for docs in groups.values():
        canon = min(docs)
        pairs |= {(canon, d) for d in docs if d != canon}
    return pairs


def test_exact_probe_matches_batch_recompute_filtered_to_shard(spark, tmp_path):
    """The exact member of the incremental trio: probe(shard) over a
    frozen digest index == the full batch recompute over (corpus ∪
    shard) expanded to (canonical, other) pairs, filtered to pairs with
    a shard side — including the out-of-order case where a shard doc
    UNDERCUTS the corpus ids and becomes the new canonical."""
    from ethereum_analytical_db_spark.operators import dedup

    corpus = [(10, "alpha beta"), (11, "gamma delta"), (12, "alpha beta"),
              (13, "unique one"), (14, "epsilon zeta")]
    shard = [(20, "alpha beta"),     # dup of corpus canonical 10
             (21, "brand new"),      # unseen
             (22, "brand new"),      # within-shard dup of 21
             (5, "gamma delta"),     # UNDERCUTS corpus 11 -> new canonical
             (23, "unique one")]     # dup of 13
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    sdf = spark.createDataFrame(shard, "doc_id long, text string")
    idx = str(tmp_path / "digest_index")
    dedup.exact_index_write(cdf, idx)

    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.exact_probe_duplicates(spark, idx, sdf).collect()
    }
    want_all = _exact_recompute_pairs(corpus + shard)
    shard_ids = {d for d, _ in shard}
    want = {p for p in want_all if p[0] in shard_ids or p[1] in shard_ids}
    assert got == want
    # spot the undercut: 5 displaced 11 as gamma-delta's canonical
    assert (5, 11) in got
    # corpus-internal pairs (10,12) are settled history, not re-emitted
    assert (10, 12) not in got
    # the too-big-to-broadcast fallback (merge join) answers identically
    # (must run BEFORE the append below: ids must stay disjoint from the index)
    got4 = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.exact_probe_duplicates(
            spark, idx, sdf, broadcast_new=False
        ).collect()
    }
    assert got4 == want

    # the keep-filter contract: survivors = shard minus doc_b, appended
    pairs = dedup.exact_probe_duplicates(spark, idx, sdf)
    keep = sdf.join(pairs, sdf.doc_id == pairs.doc_b, "left_anti")
    assert {r["doc_id"] for r in keep.collect()} == {21, 5}
    dedup.exact_index_append(keep, idx)
    # a later shard sees the appended docs as corpus
    later = spark.createDataFrame([(30, "brand new")], "doc_id long, text string")
    got2 = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.exact_probe_duplicates(spark, idx, later).collect()
    }
    assert got2 == {(21, 30)}

    # zero Exchange above the corpus-index scan (the 100 TB claim):
    # the shard broadcasts, the index is the streamed side. Probe with a
    # genuine undercut (id 2 < every indexed holder) so the undercut
    # branch — the part of the plan that joins the index — is present
    ucut = spark.createDataFrame([(2, "alpha beta")], "doc_id long, text string")
    probed = dedup.exact_probe_duplicates(spark, idx, ucut)
    plan = probed._sc._jvm.PythonSQLUtils.explainString(
        probed._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    # ... and an UNDERCUT-FREE probe (the common in-order-ingest case)
    # drops that branch entirely (r11): its returned plan reads only the
    # materialized checkpoint — the index path appears zero times, so
    # the index is scanned ONCE (inside the checkpoint build), not twice
    later2 = dedup.exact_probe_duplicates(spark, idx, later)
    plan2 = later2._sc._jvm.PythonSQLUtils.explainString(
        later2._jdf.queryExecution(), "formatted"
    )
    assert "digest_index" not in plan2
    # within-batch + probe parity for the bootstrap branch
    got3 = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.exact_within_pairs(sdf).collect()
    }
    assert got3 == _exact_recompute_pairs(shard)


def test_exact_index_rejects_wrong_kind_and_validates(spark, tmp_path):
    import pytest

    from ethereum_analytical_db_spark.operators import dedup

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    band_idx = str(tmp_path / "band_idx")
    dedup.minhash_index_write(docs, band_idx)
    with pytest.raises(ValueError, match="sidecar"):
        dedup.exact_probe_duplicates(spark, band_idx, docs)
    exact_idx = str(tmp_path / "exact_idx")
    dedup.exact_index_write(docs, exact_idx)
    # a band probe against an exact index: the band sidecar is absent
    # (the exact one is there), so the check fails loudly either way
    with pytest.raises(ValueError, match="sidecar"):
        dedup.minhash_probe_candidates(spark, exact_idx, docs)
    # and the kind field catches a hand-mislabeled sidecar
    import json

    from ethereum_analytical_db_spark import fsutil

    fsutil.write_text_atomic(
        spark,
        f"{exact_idx}/{dedup._EXACT_INDEX_META}",
        json.dumps({"kind": "minhash_bands"}),
    )
    with pytest.raises(ValueError, match="not exact_md5"):
        dedup.exact_probe_duplicates(spark, exact_idx, docs)


def test_exact_dedup_probe_registry_query(spark):
    """The registered serve-path query: frozen digest index (built once
    per process, cached, cleaned), probe result equals the batch
    recompute expanded to (canonical, other) pairs filtered to
    shard-touching ones."""
    import os

    from ethereum_analytical_db_spark import session
    from ethereum_analytical_db_spark.plans import frozen
    from ethereum_analytical_db_spark.plans.registry import all_queries

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    got = {
        (r["doc_a"], r["doc_b"])
        for r in qs["exact_dedup_probe"].build(spark, sf).collect()
    }
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    rows = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    want = {
        p
        for p in _exact_recompute_pairs(rows)
        if p[0] % 10 == 0 or p[1] % 10 == 0
    }
    assert got == want
    key = ("frozen", "exact_index", os.path.abspath(sf))
    path = session.app_memo(key, lambda: pytest.fail("fixture not memoised"))
    assert os.path.isdir(path)
    qs["exact_dedup_probe"].build(spark, sf)
    assert session.app_memo(key, lambda: pytest.fail("rebuilt")) == path  # cached
    frozen.release_all()
    assert not os.path.exists(path)
    assert session._APP_MEMO == {}


def test_self_join_branches_reuse_one_exchange(spark):
    """r16: the banded/chunked self-joins rename their branches AFTER
    the join so both branch plans canonicalize equal and AQE executes
    ONE shuffle (the second branch is a ReusedExchange in the executed
    plan). Renaming before the join silently re-shuffles the
    materialized input once per branch — this pins the shape."""
    df, _ = _corpus(spark)
    for out in (
        dedup.ngram_jaccard_pairs(df, n=3, threshold=0.2, max_shingle_df=64),
        dedup.minhash_lsh_candidates(df, n=3),
        dedup.simhash_near_duplicates(df),
    ):
        out.collect()
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "simple"
        )
        assert "ReusedExchange" in plan, plan[:2000]


def test_memoized_ngram_expr_matches_fresh_tree(spark):
    """r17: _shingled builds its n-gram HOF tree once per
    (SparkContext, n) (app_cache) — the memoized tree must produce the
    same shingles as a freshly constructed ngrams_from_words on every
    frame it resolves against, including the short-doc empty-array
    guard."""
    from pyspark.sql import functions as F

    from ethereum_analytical_db_spark.operators.dedup import (
        _ngrams_ws_expr,
        _shingled,
    )
    from ethereum_analytical_db_spark.operators.text import ngrams_from_words

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i"), (2, "short doc"), (3, "x y z " * 5)],
        "doc_id long, text string",
    )
    assert _ngrams_ws_expr(8) is _ngrams_ws_expr(8)
    got = {
        r["doc"]: sorted(r["ngrams"])
        for r in _shingled(df, "text", "doc_id", 8).collect()
    }
    fresh = df.select(
        F.col("doc_id").alias("doc"), F.split(F.col("text"), " ").alias("_ws")
    ).select("doc", ngrams_from_words(F.col("_ws"), 8).alias("ngrams"))
    want = {r["doc"]: sorted(r["ngrams"]) for r in fresh.collect()}
    assert got == want
    assert got[2] == []  # short-doc guard intact through the memo
