"""Distributed BPE trainer/encoder (operators/tokenizer.py) against a
pure-Python reference implementation: the Spark trainer must reproduce
the classic sequential algorithm EXACTLY — same word-frequency
reduction, same (freq DESC, left ASC, right ASC) tie-break, same
left-to-right non-overlapping merge pass — or a learned tokenizer
trained distributed would silently diverge from one trained
single-process on the same corpus."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from ethereum_analytical_db_spark.operators import tokenizer


# ------------------------------------------------------ python reference


def py_word_freq(texts: list[str]) -> Counter:
    c: Counter = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                c[w] += 1
    return c


def py_pair_counts(sym_freq: dict[tuple[str, ...], int]) -> Counter:
    pc: Counter = Counter()
    for syms, f in sym_freq.items():
        for a, b in zip(syms, syms[1:]):
            pc[(a, b)] += f
    return pc


def py_apply_merge(syms: tuple[str, ...], left: str, right: str) -> tuple[str, ...]:
    out, i = [], 0
    while i < len(syms):
        if i < len(syms) - 1 and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def py_train_bpe(texts: list[str], num_merges: int, min_freq: int = 2):
    wf = py_word_freq(texts)
    sym_freq = {tuple(w): f for w, f in wf.items()}
    merges = []
    for _ in range(num_merges):
        pc = py_pair_counts(sym_freq)
        if not pc:
            break
        (left, right), freq = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if freq < min_freq:
            break
        merges.append((left, right, freq))
        sym_freq = {
            py_apply_merge(s, left, right): f for s, f in sym_freq.items()
        }
    return merges


CORPUS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox",
    "lower lowest low slower slowest slow",
    "new newer newest news knew",
    "the the the a a banana bandana",
    "aaa aaaa aaaaa",  # overlapping-pair stress: (a,a) merges
    "",  # empty doc
    "  doubled  spaces  ",  # empty tokens from split
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    ).repartition(3)


def test_word_frequencies_match(spark, docs):
    got = {
        r["word"]: r["freq"]
        for r in tokenizer.word_frequencies(docs).collect()
    }
    assert got == dict(py_word_freq(CORPUS))


def test_pair_counts_match(spark, docs):
    wf = tokenizer.word_frequencies(docs).withColumn(
        "symbols", tokenizer.char_symbols("word")
    )
    got = {
        (r["left_sym"], r["right_sym"]): r["pair_freq"]
        for r in tokenizer.symbol_pair_counts(wf).collect()
    }
    ref = py_pair_counts(
        {tuple(w): f for w, f in py_word_freq(CORPUS).items()}
    )
    assert got == dict(ref)


def test_apply_merge_fold_semantics(spark):
    """The JVM aggregate fold is left-to-right non-overlapping —
    including the (a, a) self-merge case where a naive regex would
    over- or under-merge."""
    rows = [
        (["a", "a", "a"], "a", "a", ["aa", "a"]),
        (["a", "a", "a", "a"], "a", "a", ["aa", "aa"]),
        (["a", "b", "a", "b"], "a", "b", ["ab", "ab"]),
        (["x"], "a", "b", ["x"]),
        ([], "a", "b", []),
        (["a", "b", "b"], "a", "b", ["ab", "b"]),
    ]
    df = spark.createDataFrame(
        [(i, syms) for i, (syms, *_ ) in enumerate(rows)],
        "i int, symbols array<string>",
    )
    for i, (syms, left, right, want) in enumerate(rows):
        got = (
            df.filter(F.col("i") == i)
            .select(tokenizer.apply_merge("symbols", left, right).alias("m"))
            .first()["m"]
        )
        assert got == want, (syms, left, right, got, want)
        assert py_apply_merge(tuple(syms), left, right) == tuple(want)


def test_train_bpe_exact_python_parity(spark, docs):
    """Merge table identical, rank for rank, to the sequential
    reference — frequencies included. Both execution paths: the
    driver-local loop (auto picks it — the table fits) and the
    distributed per-round loop must agree with the reference AND each
    other."""
    ref = py_train_bpe(CORPUS, num_merges=20)
    got_auto = tokenizer.train_bpe(docs, num_merges=20)
    got_driver = tokenizer.train_bpe(docs, num_merges=20, mode="driver")
    got_dist = tokenizer.train_bpe(docs, num_merges=20, mode="distributed")
    assert got_auto == ref
    assert got_driver == ref
    assert got_dist == ref
    assert len(ref) >= 5  # the corpus supports a real merge sequence


def _merge_rich_corpus() -> list[str]:
    """~500 distinct pseudo-random words over a 4-letter alphabet with
    Zipf-ish repetition — deep shared substructure, so the greedy
    trainer can run 1000+ merges before pairs dry up. Deterministic
    (seeded) so the parity assertion is stable."""
    import random

    rng = random.Random(1337)
    alphabet = "abcd"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(8, 14)))
        for _ in range(500)
    ]
    texts = []
    for i, w in enumerate(words):
        # Zipf-ish: early words repeat more
        texts.extend([w] * (1 + 500 // (i + 1)))
    rng.shuffle(texts)
    # pack into documents of ~20 words
    return [
        " ".join(texts[i : i + 20]) for i in range(0, len(texts), 20)
    ]


def test_train_bpe_local_1k_merge_parity():
    """The incremental-heap local trainer is rank-for-rank identical to
    the naive full-rescan reference over 1000+ merges (min_freq=1 so
    the sequence runs deep) — the r12 VERDICT's bar for closing the
    trainer's round-count scale hole. Pure-Python on both sides: no
    Spark in this test."""
    texts = _merge_rich_corpus()
    wf = list(py_word_freq(texts).items())
    ref = py_train_bpe(texts, num_merges=1500, min_freq=1)
    got = tokenizer.train_bpe_local(wf, num_merges=1500, min_freq=1)
    assert len(ref) >= 1000, len(ref)
    assert got == ref


def test_train_bpe_driver_mode_runs_zero_loop_jobs(spark):
    """mode='driver' touches Spark exactly twice (the word-frequency
    aggregate realizing the reduction + its collect) no matter how many
    merges run — Spark-round count ≪ merge count, the scale fix for
    production vocabularies. Counted via a job group."""
    texts = _merge_rich_corpus()
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sc = spark.sparkContext
    sc.setJobGroup("bpe-driver-train", "count Spark jobs in train_bpe")
    try:
        merges = tokenizer.train_bpe(
            docs, num_merges=1200, min_freq=1, mode="driver"
        )
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("bpe-driver-train")
    assert len(merges) >= 1000
    # stats aggregate + collect (± an adaptive-execution sub-job); the
    # bound that matters is O(1), independent of merge count
    assert len(jobs) <= 4, jobs
    assert merges == py_train_bpe(texts, num_merges=1200, min_freq=1)


def test_train_bpe_auto_falls_back_to_distributed(spark, docs):
    """auto with a tiny driver_max_cells budget must take the
    distributed path and still produce the exact reference table."""
    stats: dict = {}
    got = tokenizer.train_bpe(
        docs, num_merges=8, driver_max_cells=1, stats=stats
    )
    assert got == py_train_bpe(CORPUS, num_merges=8)
    assert stats["path"] == "distributed"


def test_select_merge_batch_rules():
    """Driver-side batch selection: every exactness rule from the
    docstring, as concrete cases."""
    sel = tokenizer.select_merge_batch
    # disjoint prefix batches; interference stops the scan (prefix only)
    cands = [("a", "b", 10), ("c", "d", 8), ("b", "x", 7), ("e", "f", 6)]
    assert sel(cands, set(), 1, 8) == [("a", "b", 10), ("c", "d", 8)]
    # strict margin: a pick tying the stop candidate is dropped back
    cands = [("a", "b", 10), ("c", "d", 7), ("b", "x", 7)]
    assert sel(cands, set(), 1, 8) == [("a", "b", 10)]
    # ...and if the trim empties the batch, the top-1 is emitted alone
    # (the argmax is unconditionally exact)
    cands = [("a", "b", 7), ("b", "x", 7)]
    assert sel(cands, set(), 1, 8) == [("a", "b", 7)]
    # merged-token collision with an existing symbol stops the scan
    cands = [("a", "b", 10), ("c", "d", 8)]
    assert sel(cands, {"cd"}, 1, 8) == [("a", "b", 10)]
    # ...even for the top pick, which then rides the top-1 fallback
    assert sel(cands, {"ab"}, 1, 8) == [("a", "b", 10)]
    # min_freq ends the scan and the strict margin still applies
    cands = [("a", "b", 10), ("c", "d", 2), ("e", "f", 1)]
    assert sel(cands, set(), 2, 8) == [("a", "b", 10), ("c", "d", 2)]
    assert sel([("a", "b", 1)], set(), 2, 8) == []
    # max_batch bounds the prefix; the next candidate seeds the margin
    cands = [("a", "b", 10), ("c", "d", 9), ("e", "f", 8)]
    assert sel(cands, set(), 1, 2) == [("a", "b", 10), ("c", "d", 9)]
    # a self-pair (a, a) ENDS the batch: its merge creates (aa, a) /
    # (aa, aa) pairs bounded by its OWN count, so no later pick's rank
    # is provable (r14 hypothesis counterexample)
    cands = [("a", "a", 10), ("c", "d", 8), ("x", "y", 6)]
    assert sel(cands, set(), 1, 8) == [("a", "a", 10)]
    # ...but a self-pair can close a batch that started with others
    cands = [("c", "d", 10), ("a", "a", 8), ("x", "y", 6)]
    assert sel(cands, set(), 1, 8) == [("c", "d", 10), ("a", "a", 8)]
    # exhausted table (fewer candidates than the window): no margin
    # needed — nothing below the last pick exists to create new pairs
    cands = [("a", "b", 3), ("c", "d", 3)]
    assert sel(cands, set(), 1, 8) == cands
    # same-batch merged-token collision (r14 review find): (x,yz) and
    # (xy,z) both yield "xyz", so one new pair ("xyz", q) could
    # accumulate counts from BOTH picks — up to 2x the bound, past the
    # frequency margin. The second pick must stop the scan.
    cands = [("x", "yz", 100), ("xy", "z", 95), ("p", "q", 90)]
    assert sel(cands, set(), 1, 8) == [("x", "yz", 100)]
    # tie analysis: a pick AT the bound survives when every possible
    # tying new-pair name sorts after it — ("z","a") can only spawn
    # ("z","ab"), which loses to ("c","d"), so both picks batch
    cands = [("a", "b", 5), ("c", "d", 5), ("z", "a", 5)]
    assert sel(cands, set(), 1, 8, table_exhausted=True) == [
        ("a", "b", 5), ("c", "d", 5)
    ]
    # ...but ("d","x") can spawn ("cd","x"), which BEATS ("e","f") in
    # the tie-break, so the scan is cut there (p1 itself is always
    # safe: no earlier pick can spawn anything before its turn)
    cands = [("c", "d", 5), ("e", "f", 5), ("d", "x", 5)]
    assert sel(cands, set(), 1, 8, table_exhausted=True) == [("c", "d", 5)]
    # without proof of window coverage (tail at the bound frequency,
    # not exhausted), tied picks after p1 are conservatively dropped
    cands = [("a", "b", 5), ("c", "d", 5), ("z", "a", 5)]
    assert sel(cands, set(), 1, 8) == [("a", "b", 5)]


def test_train_bpe_distributed_batched_parity_random_corpora(spark):
    """Property: the batched distributed trainer is rank-for-rank (and
    frequency-for-frequency) identical to the sequential reference on
    adversarially tie-dense corpora — tiny alphabets force frequency
    ties and string collisions ('ab'+'c' vs 'a'+'bc'), the exact cases
    select_merge_batch's margin and no-collision rules exist for."""
    import random

    for seed, alpha, n_words, n_merges in [
        (7, "ab", 60, 40),
        (11, "abc", 120, 50),
        (23, "abcd", 150, 40),
        (31, "abc", 120, 60),
    ]:
        rng = random.Random(seed)
        words = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(2, 9)))
            for _ in range(n_words)
        ]
        texts = [
            " ".join(rng.choice(words) for _ in range(15)) for _ in range(40)
        ]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        ref = py_train_bpe(texts, num_merges=n_merges, min_freq=1)
        stats: dict = {}
        got = tokenizer.train_bpe(
            docs,
            num_merges=n_merges,
            min_freq=1,
            mode="distributed",
            batch_merges=16,
            stats=stats,
        )
        assert got == ref, (seed, stats)


def test_train_bpe_distributed_batches_rounds_below_merges(spark):
    """The r13 scale residual: the over-budget fallback must pay the
    per-round scheduling floor per BATCH, not per merge. On a merge-rich
    corpus, 150 merges must complete in far fewer Spark rounds — and
    still match the sequential reference exactly."""
    texts = _merge_rich_corpus()
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    stats: dict = {}
    got = tokenizer.train_bpe(
        docs,
        num_merges=150,
        min_freq=1,
        mode="distributed",
        batch_merges=64,
        stats=stats,
    )
    assert got == py_train_bpe(texts, num_merges=150, min_freq=1)
    assert len(got) == 150
    # exact batching is bounded by merge-chain interference (the next
    # merge usually involves the previous merge's token — inherently
    # serial); measured ~74 rounds on this corpus, ~2-4x reduction
    assert stats["rounds"] <= 100, stats
    assert set(stats) == {"rounds", "path"}, stats


def test_train_bpe_relaxed_order_batches_aggressively(spark):
    """exact_order=False trades rank fidelity for throughput: on the
    same corpus it must (a) run in FAR fewer rounds than merges, (b)
    learn a same-size table whose TOKENIZATION QUALITY (total encoded
    token count over the training corpus) stays close to the
    sequential reference's — set overlap is the wrong metric (the
    greedy path diverges structurally on a 4-letter alphabet: measured
    0.37 here). Since r15 the default relaxed_min_pick_ratio=0.5 floor
    keeps batches from spending slots far below an interference-
    skipped merge chain: the equal-merge-budget toll on this corpus
    drops from +13% (r14 pure scan, 13 rounds) to ~+1% at ~20 rounds
    (SCALE.md §"r15: relaxed-mode quality floor"). Pinned at +5% / 30
    rounds so both a quality regression and a round-count blowup trip;
    the 0.0 knob is pinned separately to preserve the r14 behavior
    contract."""
    texts = _merge_rich_corpus()
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    stats: dict = {}
    got = tokenizer.train_bpe(
        docs,
        num_merges=150,
        min_freq=1,
        mode="distributed",
        batch_merges=64,
        exact_order=False,
        stats=stats,
    )
    assert len(got) == 150
    assert stats["rounds"] <= 30, stats  # observed ~20; exact needs ~74
    ref = py_train_bpe(texts, num_merges=150, min_freq=1)

    def total_tokens(merges):
        return (
            tokenizer.encode_bpe(docs, merges)
            .agg(F.sum("n_tokens").alias("t"))
            .first()["t"]
        )

    t_relaxed, t_exact = total_tokens(got), total_tokens(ref)
    assert t_relaxed <= t_exact * 1.05, (t_relaxed, t_exact)

    # the r14 pure skip-and-continue scan stays available at ratio 0.0:
    # fewer rounds, bounded (pinned +15%) quality cost
    stats0: dict = {}
    got0 = tokenizer.train_bpe(
        docs,
        num_merges=150,
        min_freq=1,
        mode="distributed",
        batch_merges=64,
        exact_order=False,
        relaxed_min_pick_ratio=0.0,
        stats=stats0,
    )
    assert len(got0) == 150
    assert stats0["rounds"] <= 20, stats0  # observed ~13
    assert stats0["rounds"] < stats["rounds"]
    t0 = total_tokens(got0)
    assert t0 <= t_exact * 1.15, (t0, t_exact)


def _py_batched_train(texts, num_merges, min_freq, batch, relaxed=False):
    """Pure-Python replica of train_bpe's distributed batched loop —
    same select_merge_batch / select_merge_batch_relaxed driver logic,
    same combined-rewrite semantics (picks applied one by one equals
    the apply_merges pass under the selector's rules). Exists so the
    hypothesis property below can hammer the selector's exactness
    rules across far more corpora than the fixed-seed Spark tests."""
    from collections import Counter

    wf = py_word_freq(texts)
    sym_freq = {tuple(w): f for w, f in wf.items()}
    superset = {c for w in wf for c in w}
    merges = []
    while len(merges) < num_merges:
        fetch = min(batch, num_merges - len(merges))
        window = fetch * (8 if relaxed else 2) + 1
        pc = py_pair_counts(sym_freq)
        allc = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        cands = [(l, r, f) for (l, r), f in allc[:window]]
        if not cands or cands[0][2] < min_freq:
            break
        if relaxed:
            picks = tokenizer.select_merge_batch_relaxed(
                cands, superset, min_freq, fetch
            )
        else:
            picks = tokenizer.select_merge_batch(
                cands, superset, min_freq, fetch,
                table_exhausted=len(allc) <= window,
            )
        if not picks:
            break
        merges.extend(picks)
        superset.update(l + r for l, r, _ in picks)
        new: Counter = Counter()
        for syms, f in sym_freq.items():
            for l, r, _ in picks:
                syms = py_apply_merge(syms, l, r)
            new[syms] += f
        sym_freq = dict(new)
    return merges


def test_batched_selector_exactness_property():
    """Hypothesis-grade sweep of select_merge_batch's exactness rules:
    the batched loop must be rank-for-rank identical to sequential
    greedy on ANY corpus — tiny alphabets maximize frequency ties,
    symbol interference, and merged-token string collisions (the r14
    review find: (x,yz)+(xy,z) both yielding 'xyz' could double-count
    a new pair until the same-batch collision stop landed). Pure
    Python, hundreds of corpora in seconds."""
    try:
        from hypothesis import given, settings, strategies as st
    except ImportError:  # pragma: no cover
        import pytest

        pytest.skip("hypothesis not installed")

    @settings(max_examples=200, deadline=None, derandomize=True)
    @given(
        data=st.data(),
        alpha=st.sampled_from(["ab", "abc", "abcd"]),
        batch=st.sampled_from([4, 16, 64]),
    )
    def check(data, alpha, batch):
        words = data.draw(
            st.lists(
                st.text(alphabet=alpha, min_size=1, max_size=7),
                min_size=3,
                max_size=25,
            )
        )
        reps = data.draw(
            st.lists(
                st.integers(min_value=1, max_value=9),
                min_size=len(words),
                max_size=len(words),
            )
        )
        texts = [" ".join([w] * n) for w, n in zip(words, reps)]
        ref = py_train_bpe(texts, num_merges=30, min_freq=1)
        got = _py_batched_train(texts, num_merges=30, min_freq=1, batch=batch)
        assert got == ref[: len(got)] and len(got) == min(30, len(ref))

    check()


def test_train_bpe_rejects_unknown_mode(spark, docs):
    with pytest.raises(ValueError, match="mode"):
        tokenizer.train_bpe(docs, num_merges=2, mode="cluster")
    # a non-positive batch used to fetch no candidates and return []
    for bad in (0, -1):
        with pytest.raises(ValueError, match="batch_merges"):
            tokenizer.train_bpe(
                docs, num_merges=2, mode="distributed", batch_merges=bad
            )


def test_split_regex_engine_divergent_patterns_rejected(spark, docs):
    """r13 advisor: training splits via Java regex, encoding via Python
    re — patterns outside the common subset used to diverge silently
    (only a docstring warned). Both sides now reject them at call time;
    the documented plain-separator forms still pass."""
    for bad in (
        r"\p{L}+", r"a++", r"\Qx\E", r"(?P<s> )", r"[unclosed",
        r"[a&&[b]]",  # Java-only class intersection
    ):
        with pytest.raises(ValueError, match="split regex"):
            tokenizer.train_bpe(docs, num_merges=2, split=bad)
        with pytest.raises(ValueError, match="split regex"):
            tokenizer.encode_bpe(docs, [("a", "b", 2)], split=bad)
    for ok in (" ", r"\s+", r"\n", "[ ,;]", "[ \\t]+", ","):
        tokenizer._validate_split(ok)  # must not raise


def test_split_whitespace_class_ascii_agreement_on_nbsp(spark):
    """r14 review find: Java \\s is ASCII-only while Python \\s matches
    Unicode — an NBSP in scraped text would stay inside a token at
    training time (F.split) but split it at encode time (re). The
    encode side now compiles with re.ASCII; the NBSP-joined token must
    survive BOTH sides whole."""
    docs = spark.createDataFrame(
        [(1, "aa bb cc aa bb")], "doc_id long, text string"
    )
    words = {
        r["word"] for r in tokenizer.word_frequencies(docs, split=r"\s+").collect()
    }
    assert "aa bb" in words  # Java side keeps NBSP inside the token
    merges = tokenizer.train_bpe(docs, num_merges=3, min_freq=1, split=r"\s+")
    enc = tokenizer.encode_bpe(docs, merges, split=r"\s+").first()
    assert "".join(enc["bpe_tokens"]) == "aa bbccaa bb"


def test_split_regex_threads_through_train_and_encode(spark):
    """Training and encoding with the same non-default separator regex
    agree (r12 advisor find: word_frequencies treated `split` as a
    regex while encode_bpe hardcoded the literal space — any custom
    separator silently diverged)."""
    texts = ["ab,ab;ab ab", "ab,cd;ab"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sep = "[ ,;]"
    merges = tokenizer.train_bpe(docs, num_merges=3, min_freq=1, split=sep)
    # the reference on the pre-split word stream
    import re

    py_texts = [" ".join(w for w in re.split(sep, t) if w) for t in texts]
    assert merges == py_train_bpe(py_texts, num_merges=3, min_freq=1)
    enc = {
        r["doc_id"]: r["bpe_tokens"]
        for r in tokenizer.encode_bpe(docs, merges, split=sep).collect()
    }
    # 'ab' merges to one token; every word reassembles byte-for-byte
    assert enc[0] == ["ab", "ab", "ab", "ab"]
    for i, t in enumerate(texts):
        assert "".join(enc[i]) == "".join(re.split(sep, t))


def test_train_bpe_min_freq_stops(spark, docs):
    merges = tokenizer.train_bpe(docs, num_merges=1000, min_freq=2)
    assert all(f >= 2 for _, _, f in merges)
    # hapax-only pairs are never merged, so training terminated early
    assert len(merges) < 1000


def test_encode_roundtrip_and_training_replay(spark, docs):
    """Encoding with the learned table (a) reassembles every word
    byte-for-byte and (b) reproduces the trainer's own final
    segmentation for every corpus word — the lowest-rank-first encode
    loop is equivalent to replaying merges in rank order."""
    merges = tokenizer.train_bpe(docs, num_merges=20)
    enc = tokenizer.encode_bpe(docs, merges).collect()
    by_id = {r["doc_id"]: r for r in enc}

    # python-side replay: apply merges in rank order per word
    def replay(word: str) -> list[str]:
        syms = tuple(word)
        for left, right, _ in merges:
            syms = py_apply_merge(syms, left, right)
        return list(syms)

    for i, text in enumerate(CORPUS):
        toks = by_id[i]["bpe_tokens"]
        want = [t for w in text.split(" ") if w for t in replay(w)]
        assert toks == want, (text, toks, want)
        assert "".join(toks) == text.replace(" ", "")
        assert by_id[i]["n_tokens"] == len(toks)


def test_merge_table_dataframe(spark, docs):
    merges = tokenizer.train_bpe(docs, num_merges=5)
    mt = tokenizer.merge_table(spark, merges).collect()
    assert [(r["rank"], r["left_sym"], r["right_sym"], r["pair_freq"]) for r in mt] == [
        (i, l, r_, f) for i, (l, r_, f) in enumerate(merges)
    ]


def test_bpe_pair_counts_partitioning_invariant(spark, docs):
    """Same counts regardless of input partitioning (the aggregation is
    the determinism boundary)."""
    a = sorted(
        map(tuple, tokenizer.bpe_pair_counts(docs, top_k=None).collect())
    )
    b = sorted(
        map(
            tuple,
            tokenizer.bpe_pair_counts(docs.repartition(7), top_k=None).collect(),
        )
    )
    assert a == b


def test_char_symbols_empty_string_guard(spark):
    """sequence(1, 0) counts DOWN in Spark — the empty-word guard must
    yield an empty array, not ['', '']."""
    df = spark.createDataFrame([("",), ("ab",)], "w string")
    got = [
        r["s"]
        for r in df.select(tokenizer.char_symbols("w").alias("s"))
        .orderBy(F.size("s"))
        .collect()
    ]
    assert got == [[], ["a", "b"]]


def test_bpe_vocabulary_covers_encoded_tokens(spark, docs):
    """Every token the encoder can emit is in the vocabulary, and the
    vocabulary is exactly chars + one token per merge."""
    merges = tokenizer.train_bpe(docs, num_merges=12)
    vocab = {r["token"] for r in tokenizer.bpe_vocabulary(docs, merges).collect()}
    chars = {c for t in CORPUS for c in t.replace(" ", "")}
    assert vocab == chars | {l + r for l, r, _ in merges}
    emitted = {
        t
        for r in tokenizer.encode_bpe(docs, merges).collect()
        for t in r["bpe_tokens"]
    }
    assert emitted <= vocab


def test_encode_tolerates_null_text(spark):
    """NULL text encodes as an empty token list — consistent with the
    training side, which silently drops it (split(NULL) -> NULL)."""
    df = spark.createDataFrame(
        [(0, "ab ab"), (1, None)], "doc_id long, text string"
    )
    merges = tokenizer.train_bpe(df, num_merges=2, min_freq=1)
    out = {r["doc_id"]: r for r in tokenizer.encode_bpe(df, merges).collect()}
    assert out[1]["bpe_tokens"] == [] and out[1]["n_tokens"] == 0
    assert out[0]["n_tokens"] >= 1


def test_relaxed_selector_ratio_floor_properties():
    """Hypothesis sweep of select_merge_batch_relaxed's invariants under
    the r15 min_pick_ratio floor, on arbitrary candidate tables: picks
    are rank-ordered candidates with unchanged frequencies; symbol sets
    are pairwise disjoint and merged tokens collide with neither
    existing symbols nor each other (the apply_merges safety
    contract); no pick (after the first) falls below ratio x the best
    candidate skipped for interference/collision before it; ratio=0
    reproduces the r14 pure scan; and the top-1 fallback still fires
    when the floor or interference empties the batch."""
    try:
        from hypothesis import given, settings, strategies as st
    except ImportError:  # pragma: no cover
        import pytest

        pytest.skip("hypothesis not installed")

    sym = st.text(alphabet="abc", min_size=1, max_size=3)

    @settings(max_examples=300, deadline=None, derandomize=True)
    @given(
        cands=st.lists(
            st.tuples(sym, sym, st.integers(min_value=1, max_value=50)),
            min_size=1,
            max_size=40,
        ),
        ratio=st.sampled_from([0.0, 0.25, 0.5, 0.75, 1.0]),
        max_batch=st.sampled_from([1, 4, 16]),
        min_freq=st.sampled_from([1, 3]),
    )
    def check(cands, ratio, max_batch, min_freq):
        cands = sorted(
            {(l, r): f for l, r, f in cands}.items(),
            key=lambda kv: (-kv[1], kv[0][0], kv[0][1]),
        )
        cands = [(l, r, f) for (l, r), f in cands]
        existing = {c for l, r, _ in cands for c in (l, r)}
        picks = tokenizer.select_merge_batch_relaxed(
            cands, existing, min_freq, max_batch, min_pick_ratio=ratio
        )
        as_set = {(l, r, f) for l, r, f in cands}
        assert all(p in as_set for p in picks)
        assert len(picks) <= max(max_batch, 1)
        if len(picks) > 1:  # fallback emits exactly one, possibly unsafe
            used: set = set()
            merged: set = set()
            best_skipped = 0
            it = iter(cands)
            for p in picks:
                for left, right, freq in it:
                    if (left, right, freq) == p:
                        assert left not in used and right not in used
                        assert left + right not in existing
                        assert left + right not in merged
                        if ratio > 0:
                            assert freq >= ratio * best_skipped
                        used.update((left, right))
                        merged.add(left + right)
                        break
                    best_skipped = max(best_skipped, freq)
                else:  # pragma: no cover
                    raise AssertionError("picks out of rank order")
        if picks:
            assert picks[0][2] >= min_freq
        # ratio=0 is byte-identical to the r14 scan (no floor argument)
        if ratio == 0.0:
            assert picks == tokenizer.select_merge_batch_relaxed(
                cands, existing, min_freq, max_batch
            )

    check()
