"""End-to-end clean_corpus chain: stage ordering, monotonicity where
the chain only filters, determinism, and each optional stage's effect."""

import pytest
from pyspark.sql import functions as F

from ethereum_analytical_db_spark.operators.corpus import clean_corpus
from ethereum_analytical_db_spark.plans.registry import table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return table(spark, SF, "documents").select("doc_id", "text")


def test_stage_chain_and_monotonicity(spark, docs):
    bench = docs.orderBy("doc_id").limit(2).select("text")
    report = clean_corpus(
        docs,
        benchmark=bench,
        langs=["en", "de", "fr", "es", "zh"],
        max_perplexity=1e9,
        strata_fractions={"en": 1.0},
    )
    names = [n for n, _ in report.stages]
    assert names == [
        "input", "exact_dedup", "line_dedup", "quality_filter",
        "lang_filter", "perplexity_filter", "decontaminate", "pii_scrub",
        "balance", "split",
    ]
    counts = [c for _, c in report.stages]
    # every stage filters or transforms — surviving rows never grow
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert counts[0] == docs.count()
    # stats mode attributes wall time per stage, aligned with stages
    # (the breakdown behind SCALE.md's "r12 stage-level attribution")
    assert [n for n, _ in report.stage_secs] == names
    assert all(s >= 0 for _, s in report.stage_secs)
    # the planted benchmark docs are gone
    bench_ids = {r["doc_id"] for r in docs.orderBy("doc_id").limit(2).collect()}
    out_ids = {r["doc_id"] for r in report.df.collect()}
    assert not (bench_ids & out_ids)
    # final frame carries lang + split columns
    assert {"lang", "split"} <= set(report.df.columns)
    assert {r["split"] for r in report.df.collect()} <= {"train", "valid", "test"}


def test_minimal_chain_and_determinism(spark, docs):
    r1 = clean_corpus(docs, collect_stats=True)
    names = [n for n, _ in r1.stages]
    # optional stages absent when not configured
    assert "lang_filter" not in names
    assert "perplexity_filter" not in names
    assert "decontaminate" not in names
    assert "balance" not in names
    r2 = clean_corpus(docs, collect_stats=True)
    assert r1.stages == r2.stages
    a = sorted((r["doc_id"], r["split"]) for r in r1.df.collect())
    b = sorted((r["doc_id"], r["split"]) for r in r2.df.collect())
    assert a == b


def test_lazy_mode_no_counts(spark, docs):
    report = clean_corpus(docs, collect_stats=False)
    assert report.stages == []
    assert report.df.count() > 0


def test_perplexity_stage_drops_high_ppl(spark):
    # distinct texts so exact-dedup keeps them all and the LM the chain
    # trains (post-dedup) sees the same corpus the cap was computed on
    rows = [
        (i, f"the quick brown fox jumps over the lazy dog v{i}")
        for i in range(30)
    ]
    rows.append((99, "zzq qqz jxq wvv xqj zzv qvx jjz"))  # OOV gibberish
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # cap between the common docs' ppl and the gibberish doc's ppl
    from ethereum_analytical_db_spark.operators.lm import (
        score_perplexity, train_unigram_lm,
    )
    lm = train_unigram_lm(df, vocab_size=50)
    ppls = {r["doc_id"]: r["perplexity"] for r in score_perplexity(df, lm).collect()}
    cap = (ppls[0] + ppls[99]) / 2
    report = clean_corpus(df, max_perplexity=cap, min_tokens=1)
    kept = {r["doc_id"] for r in report.df.collect()}
    assert 99 not in kept and 0 in kept


def test_duplicate_ids_rejected_in_stats_mode(spark):
    from ethereum_analytical_db_spark.operators.corpus import clean_corpus

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (1, "g h i j k l"), (2, "a b c d e f")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="must be unique"):
        clean_corpus(df)


def test_lazy_mode_with_perplexity_and_release(spark, docs):
    report = clean_corpus(
        docs, max_perplexity=1e9, collect_stats=False
    )
    assert report.stages == []
    # the LM prefix the returned plan references is cached and handed
    # back for explicit release
    assert len(report.cached_intermediates) == 1
    assert report.cached_intermediates[0].storageLevel.useMemory
    n = report.df.count()
    assert n > 0
    report.release()
    assert not report.cached_intermediates[0].storageLevel.useMemory


def test_balance_default_fraction_knob(spark, docs):
    # 0.0 restores stratified_sample's drop-unknown behavior
    report = clean_corpus(
        docs,
        strata_fractions={"en": 1.0},
        balance_default_fraction=0.0,
        min_tokens=1,
        max_repetition=1.0,
    )
    langs = {r["lang"] for r in report.df.select("lang").distinct().collect()}
    assert langs <= {"en"}


def test_ground_truth_lang_preserved(spark, docs):
    """Round-5 advice: an input that already carries a lang column is
    trusted — the heuristic must not overwrite real labels (the filter
    and the balance strata run on the provided column)."""
    labeled = docs.withColumn("lang", F.lit("xx"))  # no heuristic emits 'xx'
    report = clean_corpus(labeled, langs=["xx"], collect_stats=True)
    try:
        # nothing dropped by the language filter: the provided label won
        stages = dict(report.stages)
        assert stages["lang_filter"] == stages["quality_filter"]
        assert report.df.select("lang").distinct().collect()[0]["lang"] == "xx"
    finally:
        report.release()


def test_substring_dedup_stage(spark):
    """Optional exact-substring stage: duplicated k-word spans are cut
    from later docs (keep-first), row count unchanged, stage appears in
    order right after exact_dedup."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta unique tail one"),
        (2, "alpha beta gamma delta epsilon zeta eta theta other suffix two"),
        (3, "completely different words with no overlap at all here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    report = clean_corpus(docs, substring_dedup_k=8, min_tokens=1)
    names = [n for n, _ in report.stages]
    assert names[:3] == ["input", "exact_dedup", "substring_dedup"]
    out = {r["doc_id"]: r["text"] for r in report.df.collect()}
    assert len(out) == 3  # spans removed, docs kept
    assert out[1] == rows[0][1]  # first occurrence intact
    assert out[2] == "other suffix two"  # the repeated 8-word span cut
    assert out[3] == rows[2][1]
    report.release()


def test_clean_corpus_duckdb_full_chain_parity(spark):
    """Cross-engine replica of the ENTIRE 9-stage chain at sf0.01 (r8
    VERDICT task 5): DuckDB re-derives exact dedup, line dedup, the
    quality filter, the lang-ID argmax, the unigram-LM perplexity
    filter, 8-gram decontamination, PII scrub, stratified balance and
    the hash split — with the SAME parameters as the registered
    `clean_corpus_e2e` query — and must agree with Spark on every
    stage's surviving-row count AND on the exact final row set
    (doc_id, scrubbed text, lang, split). This is where composite
    drift would hide: each member stage has its own oracle, but only
    this test checks their INTERACTIONS (e.g. dedup feeding the LM's
    training corpus, decontamination seeing line-deduped text)."""
    import duckdb

    from ethereum_analytical_db_spark.operators.sampling import _hex4
    from ethereum_analytical_db_spark.plans import pipeline as pl

    sf = "/root/testdata/sf0.01"
    docs = table(spark, sf, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    report = clean_corpus(
        docs,
        benchmark=bench,
        langs=["en", "de", "fr", "es", "zh"],
        max_perplexity=1e9,
        lm_vocab_size=20_000,
        strata_fractions={"en": 1.0, "de": 0.5},
        balance_default_fraction=0.9,
        collect_stats=True,
    )
    got_rows = {
        (r["doc_id"], r["text"], r["lang"], r["split"])
        for r in report.df.collect()
    }
    got_stages = dict(report.stages)
    report.release()

    con = duckdb.connect()
    grams = (
        "list_transform(range(1, greatest(len(ws) - 6, 1)), "
        "i -> list_aggregate(ws[i:i+7], 'string_agg', ' '))"
    )
    sample_pref = "substr(md5(CAST(doc_id AS VARCHAR) || 'sample'), 1, 4)"
    split_pref = "substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 4)"
    con.execute(f"""
    CREATE VIEW docs0 AS
      SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet');
    -- exact dedup: keep the min doc_id of every identical-text group
    CREATE VIEW s1 AS SELECT d.doc_id, d.text FROM docs0 d
      JOIN (SELECT min(doc_id) AS doc_id FROM docs0 GROUP BY md5(text))
      USING (doc_id);
    -- C4-style line dedup: keep each line's first occurrence, in order
    CREATE VIEW s2 AS SELECT doc_id,
      array_to_string(
        list_transform(
          list_filter(range(1, len(ls) + 1),
                      i -> list_position(ls, ls[i]) = i),
          i -> ls[i]),
        chr(10)) AS text
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM s1);
    -- heuristic quality: >=5 whitespace tokens, repetition <= 0.6
    CREATE VIEW s3 AS SELECT * FROM s2
      WHERE len(string_split(text, ' ')) >= 5
        AND 1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')) <= 0.6;
    -- lang-ID argmax (the member oracle's own CASE chain, composed)
    CREATE VIEW s4 AS SELECT doc_id, text, ({pl._expr}) AS lang FROM s3;
    CREATE VIEW s5 AS SELECT * FROM s4
      WHERE lang IN ('en', 'de', 'fr', 'es', 'zh');
    -- unigram LM (vocab 20k, add-k 0.5) trained on the SURVIVORS,
    -- perplexity cap 1e9 (drops only token-less docs at this scale)
    CREATE VIEW tok AS SELECT doc_id, w AS word
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM s5)
      WHERE w <> '';
    CREATE VIEW counts AS SELECT word, count(*) AS c FROM tok GROUP BY word;
    CREATE VIEW topv AS SELECT word, c FROM counts
      ORDER BY c DESC, word ASC LIMIT 20000;
    CREATE VIEW consts AS SELECT
      (SELECT sum(c) FROM counts)
        + 0.5 * ((SELECT count(*) FROM topv) + 1) AS denom;
    CREATE VIEW perdoc AS
      SELECT t.doc_id, count(*) AS n_tokens,
             -avg(ln(coalesce(tv.c + 0.5, 0.5) / (SELECT denom FROM consts)))
               AS anl
      FROM tok t LEFT JOIN topv tv ON t.word = tv.word
      GROUP BY t.doc_id;
    CREATE VIEW s6 AS SELECT s5.* FROM s5
      JOIN perdoc USING (doc_id) WHERE exp(anl) <= 1e9;
    -- 8-gram decontamination vs the ORIGINAL text of doc_id % 97 == 0
    CREATE VIEW bsh AS SELECT DISTINCT unnest({grams}) AS ngram
      FROM (SELECT string_split(text, ' ') AS ws
            FROM docs0 WHERE doc_id % 97 = 0)
      WHERE len(ws) >= 8;
    CREATE VIEW dsh AS SELECT doc_id, unnest(list_distinct({grams})) AS ngram
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM s6)
      WHERE len(ws) >= 8;
    CREATE VIEW contaminated AS SELECT doc_id FROM (
        SELECT d.doc_id,
               CAST(sum(CASE WHEN b.ngram IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*) AS frac
        FROM dsh d LEFT JOIN bsh b USING (ngram) GROUP BY d.doc_id)
      WHERE frac > 0.1;
    CREATE VIEW s7 AS SELECT * FROM s6
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated);
    -- PII scrub (the member oracle's exact regex chain)
    CREATE VIEW s8 AS SELECT doc_id, {pl._PII_SCRUB_SQL} AS text, lang
      FROM s7;
    -- stratified balance: en 1.0, de 0.5, default 0.9, salt 'sample'
    CREATE VIEW s9 AS SELECT * FROM s8
      WHERE doc_id IS NOT NULL AND (
        CASE lang WHEN 'en' THEN TRUE
                  WHEN 'de' THEN {sample_pref} < '{_hex4(0.5)}'
                  ELSE {sample_pref} < '{_hex4(0.9)}' END);
    -- 90/5/5 hash split, salt 'split'
    CREATE VIEW s10 AS SELECT doc_id, text, lang,
      CASE WHEN {split_pref} < '{_hex4(0.90)}' THEN 'train'
           WHEN {split_pref} < '{_hex4(0.95)}' THEN 'valid'
           ELSE 'test' END AS split
      FROM s9;
    """)
    stage_views = {
        "input": "docs0", "exact_dedup": "s1", "line_dedup": "s2",
        "quality_filter": "s3", "lang_filter": "s5",
        "perplexity_filter": "s6", "decontaminate": "s7",
        "pii_scrub": "s8", "balance": "s9", "split": "s10",
    }
    want_stages = {
        name: con.execute(f"SELECT count(*) FROM {view}").fetchone()[0]
        for name, view in stage_views.items()
    }
    assert got_stages == want_stages
    want_rows = set(
        map(tuple, con.execute("SELECT doc_id, text, lang, split FROM s10").fetchall())
    )
    assert got_rows == want_rows and got_rows
    # the registered clean_corpus_e2e ORACLE (promoted r9) is the same
    # chain in CTE form — tie it to this replica so the two can't drift:
    # run it on the same corpus and require its (split, lang, docs)
    # counts to equal both this replica's counts and Spark's
    from ethereum_analytical_db_spark.plans.registry import all_queries

    qdef = all_queries()["clean_corpus_e2e"]
    assert qdef.oracle is not None and "list_position(ls, ls[i])" in qdef.oracle
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    oracle_counts = set(map(tuple, con.execute(qdef.oracle).fetchall()))
    replica_counts = set(map(tuple, con.execute(
        "SELECT split, lang, count(*) AS docs FROM s10 GROUP BY 1, 2"
    ).fetchall()))
    assert oracle_counts == replica_counts
    # the chain actually filtered something at every major gate — if a
    # stage were vacuous here the parity above wouldn't be evidence
    assert want_stages["decontaminate"] < want_stages["perplexity_filter"]
    assert want_stages["balance"] < want_stages["decontaminate"]
    assert want_stages["exact_dedup"] <= want_stages["input"]


def test_semantic_dedup_stage(spark):
    """Optional SemDeDup stage: docs whose embeddings are exact
    duplicates reduce to one; docs WITHOUT an embedding row pass
    through unjudged; the stage is absent when the knobs are not
    given."""
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = {i: [float(x) for x in rng.randn(6)] for i in range(8)}
    vecs[6] = vecs[0]  # doc 6 is a semantic clone of doc 0
    vecs[7] = vecs[1]  # doc 7 of doc 1
    docs = spark.createDataFrame(
        [(i, f"unique text body number {i} with enough tokens here")
         for i in range(10)],  # docs 8/9 have NO embedding
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>"
    )
    report = clean_corpus(
        docs,
        embeddings=emb,
        semantic_threshold=0.999,
        semantic_centroids=2,
        min_tokens=1,
    )
    names = [n for n, _ in report.stages]
    assert "semantic_dedup" in names
    kept_ids = {r["doc_id"] for r in report.df.select("doc_id").collect()}
    # exactly one of each clone pair survives
    assert len({0, 6} & kept_ids) == 1
    assert len({1, 7} & kept_ids) == 1
    # unembedded docs pass through
    assert {8, 9} <= kept_ids
    report.release()

    # knobs absent -> stage absent, nothing dropped semantically
    report2 = clean_corpus(docs, min_tokens=1)
    assert "semantic_dedup" not in [n for n, _ in report2.stages]
    assert report2.df.count() == 10
    report2.release()


def test_semantic_knob_mirror_misconfiguration_raises(spark):
    docs = spark.createDataFrame(
        [(0, "some text with tokens")], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    # embeddings now serve two stages (r15): passing them with NEITHER
    # threshold is the silent-no-op misconfiguration
    with pytest.raises(ValueError, match="neither semantic_threshold"):
        clean_corpus(docs, embeddings=emb, min_tokens=1)
    with pytest.raises(ValueError, match="BOTH embeddings and"):
        clean_corpus(docs, semantic_threshold=0.9, min_tokens=1)
    # the r15 semantic-decontamination pair has the same mirror checks
    with pytest.raises(ValueError, match="BOTH benchmark_embeddings and"):
        clean_corpus(
            docs, embeddings=emb, semantic_threshold=0.9,
            benchmark_embeddings=emb, min_tokens=1,
        )
    with pytest.raises(ValueError, match="BOTH benchmark_embeddings and"):
        clean_corpus(
            docs, embeddings=emb, semantic_threshold=0.9,
            semantic_decontam_threshold=0.95, min_tokens=1,
        )
    with pytest.raises(ValueError, match="corpus's OWN embeddings"):
        clean_corpus(
            docs, benchmark_embeddings=emb,
            semantic_decontam_threshold=0.95, min_tokens=1,
        )

    # the check fires BEFORE any stage executes (r12 advisor find: it
    # used to run after two corpus-sized counts): a poison frame that
    # raises on any action must still produce the config ValueError,
    # not the runtime error
    poison = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.expr("raise_error('must not execute')").cast("string").alias("text"),
    )
    with pytest.raises(ValueError, match="BOTH embeddings and"):
        clean_corpus(poison, semantic_threshold=0.9, min_tokens=1)


def test_semantic_stage_with_disjoint_embeddings_passes_all(spark):
    """Embeddings whose ids don't overlap the docs: the semi-join is
    empty, the verdict is empty, every doc passes — a clear no-op, not
    a numpy crash."""
    docs = spark.createDataFrame(
        [(i, f"text number {i} ok") for i in range(4)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(100 + i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    report = clean_corpus(
        docs, embeddings=emb, semantic_threshold=0.9, min_tokens=1
    )
    assert dict(report.stages)["semantic_dedup"] == 4
    report.release()


def test_semantic_decontamination_stage_in_chain(spark):
    """r15: the optional embedding-space decontamination stage drops a
    doc planted near a benchmark embedding, keeps docs with distant or
    ABSENT embeddings (unjudged pass-through — the textual pass covers
    them), runs alongside SemDeDup off the same embeddings input, and
    reports its own audit line."""
    docs = spark.createDataFrame(
        [(i, f"document number {i} with enough tokens") for i in range(5)],
        "doc_id long, text string",
    )
    # doc 1 ~ benchmark vector; doc 4 has NO embedding row
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.01, 0.999, 0.0]),
            (2, [0.0, 0.0, 1.0]),
            (3, [0.7, 0.0, -0.7]),
        ],
        "vec_id long, embedding array<float>",
    )
    bench_emb = spark.createDataFrame(
        [(900, [0.0, 1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    report = clean_corpus(
        docs,
        embeddings=emb,
        semantic_threshold=0.99999,  # SemDeDup effectively off
        benchmark_embeddings=bench_emb,
        semantic_decontam_threshold=0.95,
        min_tokens=1,
    )
    stages = dict(report.stages)
    assert stages["decontaminate_semantic"] == 4  # doc 1 dropped
    kept = {r["doc_id"] for r in report.df.collect()}
    assert kept == {0, 2, 3, 4}  # 4 unjudged (no embedding), kept
    report.release()
