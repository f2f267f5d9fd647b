"""Training-data pipeline queries over documents/embeddings (SURVEY
north-star additions): dedup, text analysis, similarity search.

Oracle notes: everything SQL-expressible gets a DuckDB oracle built on
the same deterministic primitives (md5, single-space split, DECIMAL
sums). MinHash-LSH and SimHash use xxhash64 (Spark-internal) — no
portable SQL equivalent, so they are rows-only checks; their recall is
unit-tested against the exact Jaccard operator instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, packing, sampling, similarity, text
from ..session import app_memo
from . import frozen
from .registry import register, table

STOPWORDS = ["the", "a", "value", "row", "data"]
_SW = ", ".join(f"'{w}'" for w in STOPWORDS)

# BPE-ish lexer classes (letters / digits / punctuation) — shared by the
# text_quality fold (n_bpe_tokens) and defined up here so the oracle
# f-string below can embed it
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"

# the PII patterns are RE2-compatible by design (no lookaround /
# backreferences), so the DuckDB oracle runs the IDENTICAL pattern text —
# any Java-vs-RE2 semantic drift in them fails the driver's hash check.
# Defined up here: since the r12 fold the PII columns live inside
# text_quality (same per-doc JVM-regexp projection, same scan).
_PII_SCRUB_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(text, "
    f"'{text.PII_PATTERNS['email']}', '[EMAIL]', 'g'), "
    f"'{text.PII_PATTERNS['ipv4']}', '[IPV4]', 'g'), "
    f"'{text.PII_PATTERNS['phone']}', '[PHONE]', 'g')"
)


def _scan_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``table(spark, sf_dir, name)`` with parallelism restored IF the
    scan lacks it: a single small parquet file (the test corpus) is one
    input split, which would run per-row pipelines single-threaded, so a
    round-robin repartition spreads rows across all cores. At production
    scale the scan has natural file parallelism (>= defaultParallelism
    splits) and the repartition is skipped entirely — no Exchange before
    the first projection, the scan's own partitioning flows through."""
    df = table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    # The ``df.rdd.getNumPartitions()`` probe forces plan analysis + an
    # RDD conversion on the DRIVER — ~40-80 ms of pure build latency —
    # and the answer is a static property of the on-disk file layout
    # and the context's parallelism, so paying it once per (SparkContext,
    # path) instead of once per query build removes it from ~25 registry
    # builds (r16; the build_sec tracking made the cost visible, guide
    # §7.3 driver-side work).
    path = os.path.abspath(f"{sf_dir}/{name}")
    if app_memo(("scan", path), lambda: df.rdd.getNumPartitions() < target):
        df = df.repartition(target)
    return df


def docs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scan_table(spark, sf_dir, "documents")


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS fingerprint,
           min(doc_id) AS canonical_id,
           count(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
    note="exact dedup via content-digest hash-groupBy; one uniform shuffle",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_table(spark, sf_dir)
    return dedup.exact_duplicates(docs)


@register(
    "substring_dedup_stats",
    # full-pipeline DuckDB replica: window fingerprints (same
    # md5-of-joined-words), keep-first removal spans, per-doc interval
    # merge, summary stats. Promoted into the hash-checked window in r8
    # (the `range_predicate` micro-query folded into `scan_projection`
    # freed the 50th slot); the same SQL also runs as
    # test_dedup.py::test_substring_dedup_stats_duckdb_parity, and the
    # semantics are independently pinned by a pure-Python full-parity
    # test (::test_substring_dedup_matches_python_oracle).
    """
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
    SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS docs,
           CAST(count(*) AS BIGINT) AS docs_affected,
           CAST(coalesce(sum(removed), 0) AS BIGINT) AS tokens_removed
    FROM per_doc
    """,
    note="exact-substring dedup (Lee et al. 2022 keep-first semantics): "
    "duplicated k-word spans removed corpus-wide; md5 window "
    "fingerprints shuffle uniformly, reconstruction is JVM higher-order "
    "functions — no Python boundary",
)
def substring_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_table(spark, sf_dir)
    # r16: the summary needs only the REMOVAL SPANS, not the cleaned
    # text — merged spans are disjoint with end ≤ word count, so a
    # doc's tokens_removed is exactly Σ(end − start) (the identity the
    # SQL oracle's per_doc CTE already states), and docs_affected is
    # the count of span-bearing docs (every merged span is non-empty).
    # This drops exact_substring_dedup's spans→documents join and the
    # per-word filter-with-index reconstruction (an interpreted
    # O(words × spans) higher-order function over every doc) from the
    # plan; full-text reconstruction parity stays pinned by
    # tests/test_dedup.py on the operator itself (guide §1.2: don't
    # compute what the query throws away).
    per_doc = (
        dedup.duplicate_spans(docs, k=8)
        .groupBy("doc")
        .agg(F.sum(F.col("end") - F.col("start")).alias("removed"))
    )
    # one left join of the small span table onto the pruned doc-id
    # column, then a single global aggregate (no cartesian/nested-loop
    # shape — the plan auditor's rules stay clean; the planner picks
    # broadcast here and degrades to SMJ if per_doc ever outgrows the
    # threshold at scale)
    return (
        docs.select(F.col("doc_id").alias("doc"))
        .join(per_doc, "doc", "left")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.count("removed").alias("docs_affected"),
            F.coalesce(F.sum("removed"), F.lit(0))
            .cast("long")
            .alias("tokens_removed"),
        )
    )


@register(
    "sequence_packing_stats",
    None,  # the BFD packing LAYOUT has no SQL oracle; the single-group
    # case is pinned exactly against an independent pure-Python best-fit
    # model (test_packing.py::test_matches_python_bfd_single_group), and
    # the SQL-expressible half — group sizes and token budgets — is
    # hash-checked by the packing_group_budget sibling below (r11)
    note="sample packing for LM training: deterministic hash groups + "
    "best-fit-decreasing per group inside one applyInPandas task each; "
    "summary = sequences, truncated count, fill ratio",
)
def sequence_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_table(spark, sf_dir)
    assignments = packing.pack_sequences(docs, seq_len=512)
    return packing.packing_stats(assignments, 512)


_PACK_SEQ_LEN, _PACK_GROUPS = 512, 16
_PACK_GRP_SQL = (
    "CAST(CAST('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15) "
    f"AS BIGINT) % {_PACK_GROUPS} AS INT)"
)


@register(
    "packing_group_budget",
    f"""
    WITH sized AS (
      SELECT doc_id,
             COALESCE(len(string_split(text, ' ')), 0) AS n_tokens,
             {_PACK_GRP_SQL} AS grp
      FROM documents
    )
    SELECT grp,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN n_tokens > {_PACK_SEQ_LEN} THEN 1 ELSE 0 END) AS BIGINT) AS oversize_docs,
           CAST(sum(CASE WHEN n_tokens > {_PACK_SEQ_LEN} THEN 1 ELSE 0 END)
                + (sum(CASE WHEN n_tokens <= {_PACK_SEQ_LEN} THEN n_tokens ELSE 0 END)
                   + {_PACK_SEQ_LEN - 1}) // {_PACK_SEQ_LEN} AS BIGINT) AS lb_sequences
    FROM sized GROUP BY grp ORDER BY grp
    """,
    note="the SQL-expressible half of sequence packing, hash-checked "
    "(r10 VERDICT task 7): per-pack-group doc counts, token budgets, "
    "oversize docs, and the integer-arithmetic bin-packing lower bound "
    "on sequence count — exactly the md5 groups pack_sequences packs "
    "(shared _sized_grouped expression, 60-bit salted-md5 mod groups); "
    "BFD's actual per-group sequence count >= lb_sequences is pinned "
    "in test_packing.py. One uniform hash-keyed shuffle",
)
def packing_group_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_table(spark, sf_dir)
    return packing.pack_group_stats(
        docs, seq_len=_PACK_SEQ_LEN, n_groups=_PACK_GROUPS
    )


# stop-shingle cap for the flagship dedup queries: shingles appearing in
# more than this many documents are dropped from the inverted index before
# the self-join (they carry no near-dup signal and make the join quadratic
# on the hot key — the cap is what bounds worst-case skew at 100 TB)
MAX_SHINGLE_DF = 64

# the capped inverted index, shared by the pair query and the components
# oracle: set sizes stay the FULL distinct-shingle counts (denominator
# semantics unchanged); only the intersection is computed over capped
# shingles — mirroring operators.dedup.ngram_jaccard_pairs(max_shingle_df)
_JACCARD_PAIRS_CTE = f"""
    shingled AS (
      SELECT doc_id AS doc, list_distinct(ngrams) AS ngrams
      FROM (
        SELECT doc_id,
               list_transform(range(1, greatest(len(words) - 1, 1)),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS ngrams
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
      )
    ),
    exploded AS (
      SELECT doc, len(ngrams) AS set_size, unnest(ngrams) AS ngram FROM shingled
    ),
    shingle_df AS (
      SELECT ngram FROM exploded GROUP BY ngram HAVING count(*) <= {MAX_SHINGLE_DF}
    ),
    kept AS (
      SELECT e.doc, e.set_size, e.ngram FROM exploded e
      JOIN shingle_df USING (ngram)
    ),
    pairs AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b,
             CAST(count(*) AS DOUBLE) /
             (any_value(a.set_size) + any_value(b.set_size) - count(*)) AS jaccard
      FROM kept a JOIN kept b ON a.ngram = b.ngram AND a.doc < b.doc
      GROUP BY a.doc, b.doc
      HAVING CAST(count(*) AS DOUBLE) /
             (any_value(a.set_size) + any_value(b.set_size) - count(*)) >= 0.2
    )
"""


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH {_JACCARD_PAIRS_CTE}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
    note="exact n-gram Jaccard near-dup pairs via shingle inverted "
    "index (r8 re-engineering, profiled at sf10 in SCALE.md): 128-bit "
    "two-seed-hashed join keys replace shingle strings across the "
    "shuffle/sort path, df=1 shingles are witness-filtered out of the "
    "self-join (they can never be shared), and the Bayardo length "
    "filter rides the join condition; stop-shingles with "
    f"df > {MAX_SHINGLE_DF} are dropped from the index entirely "
    "(skew cap, mirrored in the oracle)",
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_table(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.2, max_shingle_df=MAX_SHINGLE_DF
    )


@register(
    "minhash_lsh_candidates",
    None,  # xxhash64-based — no portable oracle; recall unit-tested vs exact
    # Jaccard, and the md5 face below runs this same operator, hash-checked
    note="MinHash(32 hashes)+LSH(8 bands) candidate pairs; shuffle O(docs×bands)",
)
def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_table(spark, sf_dir)
    return dedup.minhash_lsh_candidates(docs, n=3, num_hashes=32, bands=8)


@register(
    "minhash_lsh_candidates_md5",
    """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, greatest(len(words) - 1, 1)),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
             )) AS s
      FROM words
    ), mh AS (
      SELECT doc_id, h, min(md5(CAST(h AS VARCHAR) || ':' || s)) AS mv
      FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS h) hs
      GROUP BY doc_id, h
    ), bands AS (
      SELECT doc_id, CAST(h // 4 AS INT) AS band,
             md5(string_agg(mv, '|' ORDER BY h)) AS bucket
      FROM mh GROUP BY doc_id, h // 4
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS bands_in_common
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
    note="the first hash-checked face of the approximate-dedup tier "
    "(r12 VERDICT task 7, enabled by fold #4): minhash_lsh_candidates "
    "itself with hash_family='md5' — a hash family DuckDB ships — so "
    "the oracle replays shingle -> 16 K-min lanes -> 4 band buckets -> "
    "bucket self-join verbatim through the shipped code; only the lane "
    "and bucket expressions differ from the xxhash64 production query "
    "(integer lanes beat hex strings across the shuffle)",
)
def minhash_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_table(spark, sf_dir)
    return dedup.minhash_lsh_candidates(
        docs, n=3, num_hashes=16, bands=4, hash_family="md5"
    )


@register(
    "simhash_near_duplicates",
    None,  # xxhash64-based — no portable oracle; the md5 face below
    # runs this same operator, hash-checked (r13 VERDICT task 4)
    note="SimHash 64-bit signatures + block-permutation Hamming join; "
    "max_hamming=3 < blocks=4 so the pigeonhole recall guarantee holds "
    "(at distance d, at least one of blocks > d chunks is untouched)",
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_table(spark, sf_dir)
    return dedup.simhash_near_duplicates(docs, max_hamming=3, blocks=4)


@register(
    "simhash_near_duplicates_md5",
    """
    WITH toks AS (
      SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h
      FROM documents WHERE doc_id % 4 = 0
    ), lanes AS (
      SELECT doc_id, b,
             sum(CASE WHEN substr(h, CAST(b + 1 AS INT), 1) >= '8'
                      THEN 1 ELSE 0 END) AS n_set,
             count(*) AS n
      FROM toks CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bs
      GROUP BY doc_id, b
    ), sigs AS (
      SELECT doc_id,
             sum(CASE WHEN 2 * n_set > n THEN (CAST(1 AS BIGINT) << b)
                      ELSE 0 END) AS simhash
      FROM lanes GROUP BY doc_id
    ), chunks AS (
      SELECT doc_id, simhash, blk, (simhash >> (blk * 8)) & 255 AS chunk
      FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS blk) bl
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM chunks a JOIN chunks b
      ON a.blk = b.blk AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    note="the SimHash family's hash-checked face (r13 VERDICT task 4, "
    "fold #5 freed the slot): simhash_near_duplicates itself with "
    "hash_family='md5' — the shipped tokenize -> per-bit majority vote "
    "-> block-permutation join -> Hamming verify code, with token bit "
    "b = top bit of md5(w)'s hex char b+1 (one md5 per token, 32 "
    "independent bits) so the oracle replays it verbatim; only the bit "
    "expression and width differ from the 64-bit xxhash64 production "
    "query. 32-bit signature / 8-bit "
    "chunks: 4-bit chunks would give every block only 16 bucket "
    "values, collapsing the candidate join into O(n^2/16) buckets at "
    "scale. Runs on a deterministic quarter of the corpus (doc_id%4=0, "
    "mirrored in the oracle): the face exists for hash-checked replay; "
    "the family's full-corpus workload evidence stays with the "
    "production xxhash64 query above",
)
def simhash_near_dups_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_table(spark, sf_dir).filter(F.col("doc_id") % 4 == 0)
    return dedup.simhash_near_duplicates(
        docs, max_hamming=3, blocks=4, hash_family="md5"
    )


def _lang_score_sql(markers: tuple[str, ...]) -> str:
    ms = ", ".join(f"'{w}'" for w in markers)
    return f"len(list_filter(string_split(text, ' '), w -> w IN ({ms})))"


# build the nested-CASE argmax mirroring operators.text.predicted_lang
# (strictly-greater comparisons → earlier language wins ties)
_scores = {lang: _lang_score_sql(ms) for lang, ms in text.LANG_MARKERS.items()}
_langs = list(text.LANG_MARKERS.keys())
_expr = f"'{_langs[0]}'"
_best = _scores[_langs[0]]
for _lang in _langs[1:]:
    _expr = f"CASE WHEN {_scores[_lang]} > ({_best}) THEN '{_lang}' ELSE ({_expr}) END"
    _best = f"CASE WHEN {_scores[_lang]} > ({_best}) THEN {_scores[_lang]} ELSE ({_best}) END"

# fold #6 (r15): the former `dataset_split` slot — per-doc salted-md5
# split assignment + stratified keep flag, both pure md5-prefix CASE
# projections over the same documents scan text_quality already makes
# (rule 1: same table, same per-row-projection shape, no shuffle
# gained, same grain). The freed slot promotes
# `embedding_near_dup_lsh_md5` below.
_SPLIT_PREF = "substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 4)"
_KEEP_PREF = "substr(md5(CAST(doc_id AS VARCHAR) || 'sample'), 1, 4)"
_SPLIT_SQL = (
    f"CASE WHEN {_SPLIT_PREF} < 'e666' THEN 'train' "
    f"WHEN {_SPLIT_PREF} < 'f333' THEN 'valid' ELSE 'test' END"
)
_KEPT_SQL = (
    "(doc_id IS NOT NULL AND CASE lang WHEN 'en' THEN TRUE "
    f"WHEN 'de' THEN {_KEEP_PREF} < '{sampling._hex4(0.3)}' "
    f"WHEN 'fr' THEN {_KEEP_PREF} < '{sampling._hex4(0.1)}' "
    f"ELSE {_KEEP_PREF} < '{sampling._hex4(0.05)}' END)"
)


@register(
    "text_quality",
    f"""
    SELECT doc_id,
           lang,
           {_SPLIT_SQL} AS split,
           {_KEPT_SQL} AS kept,
           ({_expr}) AS predicted_lang,
           len(string_split(text, ' ')) AS n_words,
           len(list_filter(string_split(text, ' '), w -> w IN ({_SW}))) AS n_stopwords,
           CAST(len(list_filter(string_split(text, ' '), w -> w IN ({_SW}))) AS DOUBLE)
             / len(string_split(text, ' ')) AS stopword_ratio,
           CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
             / len(string_split(text, ' ')) AS mean_word_len,
           length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS non_alpha,
           1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')) AS repetition_ratio,
           md5(lower(text)) AS content_fp,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_fp,
           len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text, '{text.PII_PATTERNS["email"]}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '{text.PII_PATTERNS["ipv4"]}')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(text, '{text.PII_PATTERNS["phone"]}')) AS BIGINT) AS n_phone,
           CAST(length({_PII_SCRUB_SQL}) AS BIGINT) AS scrubbed_len
    FROM documents
    """,
    note="per-doc text profile: quality signals (token count, stopword "
    "ratio, mean word length, punctuation count, duplicated-word "
    "repetition ratio), the document fingerprints (exact-content md5 + "
    "order-insensitive bag-of-words md5 — former doc_fingerprints slot), "
    "the BPE-ish lexer token count (former token_count_bpe slot; "
    "its n_ws_tokens column was already this query's n_words), "
    "since r11 the language-ID marker-word argmax with deterministic "
    "tie-break as the `predicted_lang` column next to the labeled "
    "`lang` (former lang_id_heuristic slot, COVERAGE.md fold #1), and "
    "since r12 the PII scrubbing pass (per-class regexp counts "
    "email/ipv4/phone + typed-placeholder redaction length — former "
    "pii_scrub_stats slot, fold #2: same shuffle-free per-doc JVM-"
    "regexp projection over the same scan, no operator loses oracle "
    "coverage; the freed slot promotes reorg_canonical), and since r15 "
    "the deterministic train/valid/test split (90/5/5, salt 'split') "
    "plus the stratified corpus-balancing keep flag (en 100% / de 30% "
    "/ fr 10% / default 5%, salt 'sample') as the `split`/`kept` "
    "columns — former dataset_split slot, fold #6: the same salted-"
    "md5-prefix CASE projection over the same scan (dataset_split had "
    "itself absorbed stratified_sample_counts in r9; both lineages "
    "stay per-doc hash-checked here); the freed slot promotes "
    "embedding_near_dup_lsh_md5. All folds JVM-side Column exprs",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_table(spark, sf_dir)
    _pii = text.pii_counts("text")
    return docs.select(
        "doc_id",
        "lang",
        sampling.split_column(
            "doc_id", {"train": 0.90, "valid": 0.05, "test": 0.05}
        ),
        sampling.keep_column(
            "lang",
            {"en": 1.0, "de": 0.3, "fr": 0.1},
            "doc_id",
            default_fraction=0.05,
        ).alias("kept"),
        # regexp_count marker scoring on raw text: whole-stage codegen,
        # vs the interpreted array-HOF form (F.filter lambdas) it
        # replaced; by NAME so the expression tree memoizes (r17 §7.3)
        text.predicted_lang("text").alias("predicted_lang"),
        text.token_count("text").alias("n_words"),
        text.stopword_count("text", STOPWORDS).alias("n_stopwords"),
        text.stopword_ratio("text", STOPWORDS).alias("stopword_ratio"),
        text.mean_word_length("text").alias("mean_word_len"),
        text.non_alpha_chars("text").alias("non_alpha"),
        text.repetition_ratio("text").alias("repetition_ratio"),
        text.content_fingerprint("text").alias("content_fp"),
        text.bag_of_words_fingerprint("text").alias("bow_fp"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        _pii["email"].cast("long").alias("n_email"),
        _pii["ipv4"].cast("long").alias("n_ipv4"),
        _pii["phone"].cast("long").alias("n_phone"),
        F.length(text.pii_scrub("text")).cast("long").alias("scrubbed_len"),
    )


_MIX_WEIGHTS = {"en": 1.0, "de": 2.5, "fr": 0.4}
_MIX_DEFAULT = 0.25


def _mixture_oracle() -> str:
    """DuckDB replica of the deterministic mixture resample: per-stratum
    copies = floor(w) + (salted-md5 prefix < frac(w)), replicated via a
    small numbers table (copies never exceeds ceil(max weight))."""
    import math

    from ..operators.sampling import _hex4

    # the numbers table below enumerates copy indexes 0..3, i.e. up to
    # 4 copies = weight <= 4 exactly — a larger weight would silently
    # truncate the replica. Explicit raise, not assert: python -O would
    # strip an assert and the truncation would resurface as an opaque
    # hash mismatch (review find).
    bad = [w for w in [*_MIX_WEIGHTS.values(), _MIX_DEFAULT] if w > 4]
    if bad:
        raise ValueError(
            f"mixture oracle numbers table covers copies <= 4; weights {bad} "
            "need a wider VALUES list"
        )
    pref = "substr(md5(CAST(doc_id AS VARCHAR) || 'mixture'), 1, 4)"

    def copies(w: float) -> str:
        base = int(math.floor(w))
        frac = w - base
        if frac <= 0:
            return str(base)
        return f"{base} + CASE WHEN {pref} < '{_hex4(frac)}' THEN 1 ELSE 0 END"

    case = (
        "CASE lang "
        + " ".join(f"WHEN '{k}' THEN {copies(w)}" for k, w in _MIX_WEIGHTS.items())
        + f" ELSE {copies(_MIX_DEFAULT)} END"
    )
    return f"""
    WITH n(i) AS (SELECT * FROM (VALUES (0),(1),(2),(3)) AS t(i)),
    d AS (SELECT doc_id, lang, {case} AS copies
          FROM documents WHERE doc_id IS NOT NULL)
    SELECT d.doc_id, d.lang, n.i AS copy
    FROM d JOIN n ON n.i < d.copies
    """


@register(
    "mixture_resample",
    _mixture_oracle(),
    note="deterministic data-mixture resampling (domain weighting for "
    "pretraining: en 1.0x / de 2.5x / fr 0.4x / default 0.25x, salt "
    "'mixture'): copies = floor(w) + salted-md5 Bernoulli(frac(w)), "
    "emitted as replica rows with a copy index — shuffle-free "
    "projection + explode, pure function of (id, salt) so any engine "
    "reproduces it exactly",
)
def mixture_resample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import mixture_resample

    docs = docs_table(spark, sf_dir)
    return mixture_resample(
        docs.select("doc_id", "lang"),
        "lang",
        _MIX_WEIGHTS,
        "doc_id",
        default_weight=_MIX_DEFAULT,
    )


ANN_ORACLE = """
WITH e AS (
  SELECT vec_id, unnest(embedding) AS val, generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
q AS (
  SELECT unnest(embedding) AS qval, generate_subscripts(embedding, 1) AS pos
  FROM embeddings WHERE vec_id = 0
),
per_vec AS (
  SELECT e.vec_id,
         CAST(SUM(CAST(CAST(e.val AS DOUBLE) AS DECIMAL(12,6))
                * CAST(CAST(q.qval AS DOUBLE) AS DECIMAL(12,6))) AS DOUBLE) AS dot,
         CAST(SUM(CAST(CAST(e.val AS DOUBLE) AS DECIMAL(12,6))
                * CAST(CAST(e.val AS DOUBLE) AS DECIMAL(12,6))) AS DOUBLE) AS norm2,
         CAST(SUM(CAST(CAST(q.qval AS DOUBLE) AS DECIMAL(12,6))
                * CAST(CAST(q.qval AS DOUBLE) AS DECIMAL(12,6))) AS DOUBLE) AS qnorm2
  FROM e JOIN q USING (pos)
  GROUP BY e.vec_id
)
SELECT vec_id, dot / (sqrt(norm2) * sqrt(qnorm2)) AS cosine
FROM per_vec WHERE vec_id != 0
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


@register(
    "ann_cosine_topk",
    ANN_ORACLE,
    note="exact cosine top-k vs query vector (vec_id=0), DECIMAL dot "
    "products for order-independent cross-engine parity; the fast "
    "double-precision zip_with path is benched separately",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16: the exact-decimal scorer is now a per-row fold (no shuffle),
    # so the interpreted decimal work runs wherever the SCAN's
    # partitioning puts it — on the single-file test corpus that is one
    # partition, i.e. single-threaded. Restore core-count parallelism
    # the same way the other per-row pipelines do (no-op when the scan
    # already has enough splits).
    emb = _scan_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return similarity.cosine_topk_exact_decimal(emb, query, k=10)


NEAR_DUP_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(12,6)) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings WHERE vec_id % 4 = 0
),
n AS (SELECT vec_id, CAST(SUM(v*v) AS DOUBLE) AS n2 FROM e GROUP BY vec_id),
d AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(SUM(a.v*b.v) AS DOUBLE) AS dot
  FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT id_a, id_b, dot / sqrt(na.n2 * nb.n2) AS cosine
FROM d JOIN n na ON d.id_a = na.vec_id JOIN n nb ON d.id_b = nb.vec_id
WHERE dot / sqrt(na.n2 * nb.n2) >= 0.38
"""


@register(
    "embedding_near_dup",
    NEAR_DUP_ORACLE,
    note="embedding-cosine near-duplicate pairs, exact baseline: DECIMAL "
    "position-join dot products (order-independent cross-engine parity); "
    "the LSH-bucketed variant is the scale path",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 4 == 0)
    return similarity.embedding_near_dup_exact(emb, threshold=0.38)


@register(
    "embedding_near_dup_lsh",
    None,  # approximate path — recall unit-tested against the exact operator
    note="embedding near-dup via hyperplane LSH buckets + exact verify; "
    "shuffle O(n) + sum(bucket^2), the plan that survives 100x scale",
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _scan_table(spark, sf_dir, "embeddings")
    # planes must TRACK corpus size: at fixed planes the bucket count is
    # fixed, buckets grow ~n/2^planes, and the per-bucket gemm
    # (sum bucket^2 ~ n^2/2^planes flops) is super-linear — measured
    # 15.4x runtime on 10x data at planes=4 before this sizing.
    # lsh_params targets ~500 vectors/bucket and buys the recall lost
    # to extra planes back with additional hash tables (capped — see
    # its docstring for the low-threshold honesty limit). The count()
    # is one column-pruned scan, trivial next to the gemm it
    # right-sizes.
    planes, tables = similarity.lsh_params(emb.count(), threshold=0.38)
    return similarity.embedding_near_dup_lsh(
        emb, dim=64, threshold=0.38, planes=planes, tables=tables
    )


@register(
    "decontaminate_benchmark",
    """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    bshingle AS (
      SELECT DISTINCT unnest(list_transform(
               range(1, greatest(len(words) - 6, 1)),
               i -> list_aggregate(words[i:i+7], 'string_agg', ' ')
             )) AS ngram
      FROM words WHERE doc_id % 97 = 0 AND len(words) >= 8
    ),
    shingle AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(words) - 6, 1)),
               i -> list_aggregate(words[i:i+7], 'string_agg', ' ')
             ))) AS ngram
      FROM words WHERE doc_id % 97 <> 0 AND len(words) >= 8
    )
    SELECT s.doc_id, COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN b.ngram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           SUM(CASE WHEN b.ngram IS NOT NULL THEN 1 ELSE 0 END) <= 0.1 * COUNT(*) AS kept
    FROM shingle s LEFT JOIN bshingle b USING (ngram)
    GROUP BY s.doc_id
    """,
    note="benchmark decontamination: per-doc 8-gram overlap against a "
    "held-out eval slice (doc_id % 97 == 0); kept = overlap <= 10% (the "
    "drop criterion of operators/decontam.decontaminate). Broadcast "
    "benchmark shingle set, one semi-join + one per-doc agg; integer "
    "hit/shingle counts so the cross-engine hash is float-free",
)
def decontaminate_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import decontam

    docs = docs_table(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    scores = decontam.benchmark_ngram_overlap(train, bench, n=8)
    return scores.select(
        F.col("doc").alias("doc_id"),
        "n_shingles",
        F.col("n_hit").cast("long").alias("n_hit"),
        # same integer-vs-integer form as the oracle (not frac <= 0.1):
        # identical IEEE ops on both engines, no division rounding in play
        (F.col("n_hit") <= F.lit(0.1) * F.col("n_shingles")).alias("kept"),
    )


@register(
    "dsir_selection",
    None,  # rows-only: the scoring math, the deterministic md5-Gumbel
    # keys and both selection shapes have exact pure-Python parity in
    # tests/test_dsir.py (xxhash64 feature hashing has no portable SQL
    # oracle, same as the production LSH family)
    note="DSIR importance resampling (r15; Xie et al. 2023): score raw "
    "docs by hashed-ngram likelihood under a target-domain sample "
    "(doc_id % 53 == 0) vs the raw corpus, then deterministic Gumbel "
    "top-k — proportional without-replacement selection, reproducible "
    "(noise = salted md5 of the id, never an RNG). Bounded 10k-bucket "
    "models broadcast; explode + broadcast join + doc agg; "
    "TakeOrderedAndProject top-k (no driver sort)",
)
def dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dsir

    docs = docs_table(spark, sf_dir)
    # fused single-source form (r16): the target slice is a predicate
    # over the same corpus scan, so BOTH hashed-ngram models come from
    # one tokenize pass + one aggregation — identical weights/rows to
    # the two-frame dsir_select(docs%53!=0, docs%53==0) this query
    # shipped with (pinned by tests/test_dsir.py parity of the forms)
    return dsir.dsir_select(
        docs, None, k=200, target_pred=F.col("doc_id") % 53 == 0
    )


@register(
    "decontaminate_semantic",
    None,  # rows-only: exact numpy parity (cosine + argmax, row-for-row)
    # is pinned in tests/test_decontam.py; the exact-cosine CORE is
    # hash-checked twice already (embedding_near_dup + the md5 LSH face)
    note="semantic decontamination (r15): per training vector, max "
    "cosine against a held-out benchmark slice (vec_id % 7 == 0) + the "
    "nearest benchmark id + the keep flag. The embedding-space "
    "complement of the 8-gram pass (paraphrased eval leakage has no "
    "shingle overlap). Scale shape: benchmark is SMALL by nature -> "
    "collected once (bounded, raises past 250k vectors), L2-normalized "
    "matrix shipped in the Arrow UDF closure, ONE mapInPandas BLAS "
    "gemm over the corpus, no shuffle, no corpus-side collection",
)
def decontaminate_semantic_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators import decontam

    emb = table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 7 == 0)
    train = emb.filter(F.col("vec_id") % 7 != 0)
    scores = decontam.benchmark_embedding_similarity(train, bench)
    return scores.select(
        F.col("id").alias("vec_id"),
        "max_benchmark_cosine",
        "nearest_benchmark_id",
        (F.col("max_benchmark_cosine") < 0.95).alias("kept"),
    )


_CHUNK_MAX_TOKENS = 64
_CHUNK_OVERLAP = 16


@register(
    "chunk_documents",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ), e AS (
      SELECT doc_id, toks, n,
             unnest(generate_series(0,
               CASE WHEN n > {_CHUNK_OVERLAP}
                    THEN CAST(FLOOR(CAST(n - {_CHUNK_OVERLAP} - 1 AS DOUBLE)
                              / {_CHUNK_MAX_TOKENS - _CHUNK_OVERLAP}) AS BIGINT)
                    ELSE 0 END)) AS chunk_idx
      FROM t
    )
    SELECT doc_id, chunk_idx,
           array_to_string(list_slice(toks,
             chunk_idx * {_CHUNK_MAX_TOKENS - _CHUNK_OVERLAP} + 1,
             chunk_idx * {_CHUNK_MAX_TOKENS - _CHUNK_OVERLAP} + {_CHUNK_MAX_TOKENS}), ' ')
             AS chunk_text,
           least(COALESCE(n, 0) - chunk_idx * {_CHUNK_MAX_TOKENS - _CHUNK_OVERLAP},
                 {_CHUNK_MAX_TOKENS}) AS chunk_tokens
    FROM e
    """,
    note="long-document chunking: split into 64-token windows with "
    "16-token overlap (chunk k = tokens [k*48, k*48+64); final chunk = "
    "first to reach the document end) — the long-doc half of context-"
    "window fitting, pack_sequences being the short-doc half; pure "
    "projection + explode, no shuffle",
)
def chunk_documents_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import chunk_documents

    docs = docs_table(spark, sf_dir)
    return chunk_documents(
        docs, max_tokens=_CHUNK_MAX_TOKENS, overlap=_CHUNK_OVERLAP
    )


@register(
    "media_decode_features",
    """
    SELECT doc_id,
           CAST(doc_id % 640 AS INT) AS dec_width,
           CAST(length(text) AS BIGINT) AS payload_bytes
    FROM documents WHERE doc_id < 200
    """,
    note="multimodal plumbing: documents packed into the synthetic media "
    "container (binary content + typed metadata), decoded via the "
    "mapInPandas codec stub; oracle checks header metadata + payload "
    "size round-trip through Arrow binary batches",
)
def media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..operators import multimodal as mm

    # 200 rows: a handful of partitions, or Python-worker startup costs
    # dominate (32 partitions x 2 chained mapInPandas stages = 64 spins)
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .repartition(4)
    )

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                mm.encode_fake_media(
                    int(i), "image", width=int(i) % 640, height=480,
                    payload=t.encode(),
                )[:4]
                for i, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "fmt", "content"]
            )

    media = docs.mapInPandas(
        pack, schema="media_id long, kind string, fmt string, content binary"
    )
    out = mm.decode_media(media)
    return out.select(
        F.col("media_id").alias("doc_id"), "dec_width", "payload_bytes"
    )


@register(
    "ann_cosine_lsh",
    None,  # approximate path — recall unit-tested against brute force
    note="LSH-bucketed ANN (8 random hyperplanes): prunes to the query's "
    "bucket before scoring; bucketed layout partition-prunes at scale",
)
def ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    # exclude the query row BEFORE top-k — filtering after limit(k)
    # would spend rank 1 on the query itself (cosine 1.0) and return
    # only k-1 true neighbours
    return similarity.cosine_topk_lsh(
        emb.filter(F.col("vec_id") != 0), qvec, k=10, planes=6
    )


@register(
    "ann_cosine_ivf",
    None,  # approximate path — recall unit-tested against brute force
    note="IVF ANN: deterministic distributed k-means centroids (JVM-side "
    "argmax assignment, k·dim-sized updates), nprobe cluster pruning — "
    "scan fraction ≈ nprobe/n_centroids; at scale the assignment table "
    "is written partitioned by cluster so probes prune files",
)
def ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    # query row excluded before top-k (see ann_cosine_lsh); the
    # centroids still train on the full corpus — dropping one vector
    # from k-means would change every centroid for no reason
    return similarity.cosine_topk_ivf(
        emb.filter(F.col("vec_id") != 0),
        qvec, k=10, n_centroids=8, nprobe=3, iterations=2,
        centroids=similarity.ivf_train_centroids(
            emb, n_centroids=8, iterations=2
        ),
    )


# frozen index of the probe-only serve query: (index path, centroids,
# query vector), built once per session (plans/frozen.memo). This is what
# separates the two registered IVF timings: `ann_cosine_ivf` measures
# BUILD+probe (k-means + full assignment each run — the cost a user pays
# to stand the index up), `ann_cosine_ivf_probe` measures the production
# READ path (partition-pruned scan of ~nprobe/n_centroids of the files).
def _ivf_frozen_index(spark: SparkSession, sf_dir: str):
    def build(path: str):
        emb = table(spark, sf_dir, "embeddings")
        qvec = [
            float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
        ]
        centroids = similarity.ivf_train_centroids(emb, n_centroids=8, iterations=2)
        # the index holds the candidate set (query row excluded, same as
        # ann_cosine_ivf); centroids still train on the full corpus
        similarity.ivf_index_write(emb.filter(F.col("vec_id") != 0), path, centroids)
        return path, centroids, qvec

    return frozen.memo("ivf_index", sf_dir, build)


@register(
    "ann_cosine_ivf_probe",
    None,  # approximate path — probe-vs-build parity pinned by
    # test_similarity.py (same top-k as cosine_topk_ivf; PartitionFilters
    # asserted on the registered query's own plan)
    note="IVF ANN serve path: probe-only query against a materialized "
    "cluster-partitioned Parquet index (built once per process, cached) "
    "— `cluster IN (probe ids)` is a PartitionFilter, so each query "
    "reads ~nprobe/n_centroids of the files; this is the latency a "
    "deployed index serves at, vs ann_cosine_ivf's build+probe",
    prewarm=_ivf_frozen_index,  # index build out of the timed band
)
def ann_cosine_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    path, centroids, qvec = _ivf_frozen_index(spark, sf_dir)
    return similarity.cosine_topk_ivf_index(
        spark, path, qvec, centroids, k=10, nprobe=3
    )


# frozen band index of the incremental-dedup serve query. Same split as
# the IVF pair: `minhash_lsh_candidates` measures the full batch
# recompute (every doc re-hashed every run); `minhash_dedup_probe`
# measures what a production ingest pays PER SHARD once the corpus index
# exists — only the shard hashes, the corpus is a scan-only
# broadcast-join side.
def _minhash_frozen_index(spark: SparkSession, sf_dir: str) -> str:
    def build(path: str) -> str:
        corpus = docs_table(spark, sf_dir).filter(F.col("doc_id") % 10 != 0)
        dedup.minhash_index_write(corpus, path, n=3, num_hashes=32, bands=8)
        return path

    return frozen.memo("minhash_index", sf_dir, build)


@register(
    "minhash_dedup_probe",
    None,  # xxhash64-based — no portable oracle; exact parity with the
    # full-recompute batch form pinned by test_dedup.py, which also
    # asserts zero Exchange above the corpus-index scan
    note="incremental dedup serve path: a new shard (doc_id % 10 == 0) "
    "probes a frozen LSH band index of the corpus (built once per "
    "process, cached) — the shard's band rows broadcast to the index "
    "scan, so the corpus never re-hashes and never shuffles; per-shard "
    "cost is O(shard hashing + corpus scan), vs minhash_lsh_candidates' "
    "full recompute",
    prewarm=_minhash_frozen_index,  # index build out of the timed band
)
def minhash_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _minhash_frozen_index(spark, sf_dir)
    new = docs_table(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    return dedup.minhash_probe_candidates(
        spark, path, new, n=3, num_hashes=32, bands=8
    )


# `exact_dedup_probe` completes the incremental serve-path trio
# (MinHash r9, SimHash r9, exact r10): per-shard cost is O(shard
# digests + corpus scan) with the shard broadcast to the index side.
def _exact_frozen_index(spark: SparkSession, sf_dir: str) -> str:
    def build(path: str) -> str:
        corpus = docs_table(spark, sf_dir).filter(F.col("doc_id") % 10 != 0)
        dedup.exact_index_write(corpus, path)
        return path

    return frozen.memo("exact_index", sf_dir, build)


@register(
    "exact_dedup_probe",
    None,  # rows-only by design: the probe reads a per-process frozen
    # on-disk index (driver-side DuckDB cannot see it); exact parity
    # with the batch recompute-filtered-to-shard model incl. the
    # id-undercut case is pinned by test_dedup.py, which also asserts
    # the BroadcastHashJoin plan (zero Exchange above the index scan)
    note="incremental EXACT dedup serve path: a new shard (doc_id % 10 "
    "== 0) probes a frozen md5-digest index of the corpus (built once "
    "per process, cached) for (canonical, duplicate, digest) relations "
    "- the exact member of the MinHash/SimHash probe trio; per-shard "
    "cost is O(shard digests + corpus scan), the corpus never re-hashes",
    prewarm=_exact_frozen_index,  # index build out of the timed band
)
def exact_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _exact_frozen_index(spark, sf_dir)
    new = docs_table(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    return dedup.exact_probe_duplicates(spark, path, new)


SESSIONIZE_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 28800
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM marked
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM sess
GROUP BY user_id, s
"""


@register(
    "sessionize_gap",
    SESSIONIZE_ORACLE,
    note="gap-based sessionization, batch window form (lag + running sum "
    "— beyond the reference, SURVEY §2.5 notes it has no lead/lag); the "
    "streaming twin is eads.streaming.stateful.sessionize "
    "(applyInPandasWithState), same semantics at batch boundaries",
)
def sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import sessionize_batch

    ev = table(spark, sf_dir, "events")
    return sessionize_batch(
        ev, gap_seconds=28800, ts_col="ts", key_col="user_id",
        value_col="value", id_col="event_id",
    )


COMPONENTS_ORACLE = f"""
WITH RECURSIVE {_JACCARD_PAIRS_CTE},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS doc FROM edges),
reach(doc, r) AS (
  SELECT doc, doc FROM nodes
  UNION
  SELECT e.d, r.r FROM edges e JOIN reach r ON e.s = r.doc
)
SELECT doc, MIN(r) AS component FROM reach GROUP BY doc
"""


@register(
    "dedup_components",
    COMPONENTS_ORACLE,
    note="near-dup clustering: connected components (iterative min-label "
    "propagation, converges in O(diameter) joins) over the exact Jaccard "
    "pair graph — the canonical-doc selection step real dedup pipelines "
    "run after pair generation; oracle is a recursive-CTE closure; the "
    f"pair graph uses the df <= {MAX_SHINGLE_DF} stop-shingle cap",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_table(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.2, max_shingle_df=MAX_SHINGLE_DF
    )
    return dedup.connected_components(pairs)


# (the former `dataset_split` query — the r9 host that had absorbed
# `stratified_sample_counts` — was folded into `text_quality` in r15 as
# the per-doc `split`/`kept` columns, COVERAGE fold #6; its operators
# `hash_split`/`split_column`/`keep_column` keep their unit coverage in
# tests/test_sampling.py, and the freed slot promotes the LSH family's
# hash-checked face below)

_LSH_MD5_PLANES = 6
_LSH_MD5_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(12,6)) AS v,
         generate_subscripts(embedding, 1) - 1 AS k
  FROM embeddings
),
pl AS (
  SELECT p.p, k.k,
         (strpos('0123456789abcdef', substr(md5('lshp:' || p.p || ':' || k.k), 1, 1)) - 1) * 16
       + (strpos('0123456789abcdef', substr(md5('lshp:' || p.p || ':' || k.k), 2, 1)) - 1)
       - 128 AS c
  FROM (SELECT unnest(range(0, {_LSH_MD5_PLANES})) AS p) p
  CROSS JOIN (SELECT unnest(range(0, 64)) AS k) k
),
dots AS (
  SELECT e.vec_id, pl.p, SUM(e.v * pl.c) AS dot
  FROM e JOIN pl USING (k) GROUP BY e.vec_id, pl.p
),
sig AS (
  SELECT vec_id,
         string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
  FROM dots GROUP BY vec_id
),
n AS (SELECT vec_id, CAST(SUM(v * v) AS DOUBLE) AS n2 FROM e GROUP BY vec_id),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
d AS (
  SELECT c.id_a, c.id_b, CAST(SUM(ea.v * eb.v) AS DOUBLE) AS dot
  FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb
    ON eb.vec_id = c.id_b AND eb.k = ea.k
  GROUP BY c.id_a, c.id_b
)
SELECT d.id_a, d.id_b, d.dot / sqrt(na.n2 * nb.n2) AS cosine
FROM d JOIN n na ON d.id_a = na.vec_id JOIN n nb ON d.id_b = nb.vec_id
WHERE d.dot / sqrt(na.n2 * nb.n2) >= 0.38
"""


@register(
    "embedding_near_dup_lsh_md5",
    _LSH_MD5_ORACLE,
    note="the hyperplane-LSH family's hash-checked face (fold #6 freed "
    "the slot): md5-derived INTEGER hyperplanes (byte of md5(salt:p:k) "
    "- 128) dotted against DECIMAL(12,6) vectors make every sign bit — "
    "and so every bucket string, candidate pair and exact cosine — "
    "bit-identical across engines; same sign-bit-bucket -> within-"
    "bucket exact-verify pipeline as the production numpy-gemm twin "
    "(embedding_near_dup_lsh, which keeps the workload/recall "
    "evidence: Gaussian planes, applyInPandas BLAS, multi-table "
    "sizing). Bucket expression built as ONE SQL string, not a "
    "512-literal py4j chain (r14 build-latency lesson)",
)
def embedding_near_dup_lsh_md5_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # r16: the plane-dot/bucket projection is per-row work computed
    # BEFORE the bucket shuffle — restore core-count parallelism on the
    # single-file test corpus (no-op when the scan has enough splits)
    emb = _scan_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_lsh_md5(
        emb, dim=64, threshold=0.38, planes=_LSH_MD5_PLANES
    )


VOCAB_ORACLE = """
SELECT word,
       COUNT(*) AS cf,
       COUNT(DISTINCT doc) AS df
FROM (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
ORDER BY cf DESC, word ASC
LIMIT 100
"""


@register(
    "vocabulary_topk",
    VOCAB_ORACLE,
    note="corpus vocabulary: collection frequency + document frequency "
    "per token, top-100 (A3/A4-style aggregates over the documents "
    "table; df uses the skew-proof two-phase distinct shape — hot "
    "stopwords spread across the cluster on the (word, doc) pair)",
)
def vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_table(spark, sf_dir)
    tokens = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.split(F.col("text"), " ")).alias("word"),
    )
    # ONE two-phase aggregation serves both statistics (r16, guide §2.4:
    # the old plan shuffled tokens three times — cf groupBy, the
    # (word, doc) distinct, df groupBy — then joined cf×df; fused:
    # per-(word, doc) counts first — the same skew-proof first phase the
    # distinct had, hot stopwords spread across the cluster on the pair
    # key — then per-word sum(c)=cf / count(*)=df in one pass, no join):
    # 2 Exchanges, 0 Joins, identical cf/df values.
    per_doc = tokens.groupBy("word", "doc").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_doc.groupBy("word")
        .agg(F.sum("c").alias("cf"), F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("cf").desc(), F.col("word").asc())
        .limit(100)
    )


# The interpolated bigram model, re-derived end-to-end in DuckDB SQL:
# token stream WITH POSITIONS (pairs must respect empty-token gaps the
# way the trainer's adjacent-array pairs do), word counts → top-V,
# pair counts → top-B (count desc, then (prev, word) lexical — the
# trainer's deterministic tie-break), per-history totals from the FULL
# pair counts, add-k smoothing, λ-interpolation with unigram fallback
# for out-of-table histories. Constants mirror the registry call:
# V=5000, B=20000, k=0.5, λ=0.7.
_LM_ORACLE = """
WITH raw AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
tok_all AS (
  SELECT doc_id, i AS pos, ws[i] AS word
  FROM raw, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
),
tok AS (SELECT * FROM tok_all WHERE word <> ''),
counts AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
top AS (SELECT word, c FROM counts ORDER BY c DESC, word ASC LIMIT 5000),
consts AS (
  SELECT (SELECT sum(c) FROM counts)
         + 0.5 * ((SELECT count(*) FROM top) + 1) AS denom,
         (SELECT count(*) FROM top) AS v
),
pairs AS (
  SELECT a.word AS prev, b.word AS word
  FROM tok_all a JOIN tok_all b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.word <> '' AND b.word <> ''
),
bi_counts AS (SELECT prev, word, count(*) AS c FROM pairs GROUP BY prev, word),
top_bi AS (
  SELECT prev, word, c FROM bi_counts
  ORDER BY c DESC, prev ASC, word ASC LIMIT 20000
),
hist AS (SELECT prev, sum(c) AS h FROM bi_counts GROUP BY prev),
bi_table AS (
  SELECT t.prev, t.word,
         (t.c + 0.5) / (hi.h + 0.5 * ((SELECT v FROM consts) + 1)) AS p_bi
  FROM top_bi t JOIN hist hi USING (prev)
),
scored AS (
  SELECT t.doc_id,
         ln(CASE WHEN bt.p_bi IS NOT NULL
                 -- (1.0 - 0.7), NOT the literal 0.3: Spark computes the
                 -- unigram weight as 1.0-lam, and 0.30000000000000004
                 -- differs from the 0.3 literal by one ulp — enough to
                 -- flip the DECIMAL(38,8)-quantized hash on a
                 -- boundary-straddling token at large corpus sizes
                 THEN 0.7 * bt.p_bi
                      + (1.0 - 0.7) * (coalesce(top.c + 0.5, 0.5)
                               / (SELECT denom FROM consts))
                 ELSE coalesce(top.c + 0.5, 0.5)
                      / (SELECT denom FROM consts) END) AS logp
  FROM tok t
  LEFT JOIN tok_all pv ON pv.doc_id = t.doc_id AND pv.pos = t.pos - 1
  LEFT JOIN top ON t.word = top.word
  LEFT JOIN bi_table bt ON bt.prev = pv.word AND bt.word = t.word
),
per_doc AS (
  -- DECIMAL(38,8) sum: exact and order-independent, so avg_neg_logp is
  -- bitwise reproducible (plain double SUM varies with summation order;
  -- exp/ln are not correctly-rounded across engines, so the hashed
  -- output carries the log-domain score, not exp(anl))
  SELECT doc_id, count(*) AS n_tokens,
         -(CAST(sum(CAST(logp AS DECIMAL(38,8))) AS DOUBLE) / count(*))
           AS avg_neg_logp
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_tokens, 0) AS n_tokens,
       p.avg_neg_logp
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


@register(
    "lm_perplexity_quality",
    _LM_ORACLE,
    note="CCNet-style LM quality scoring: interpolated unigram+bigram "
    "model trained distributed (both tables bounded — top-V words, "
    "top-B bigrams), broadcast to score every document; perplexity is "
    "the standard quality-filter axis. The full model — training "
    "truncations, smoothing, interpolation, backoff — is re-derived "
    "independently in the DuckDB oracle (promoted into the hash-checked "
    "window per the round-5 review; a pure-Python replica also verifies "
    "it in tests/test_lm.py).",
)
def lm_perplexity_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import score_perplexity_bigram, train_bigram_lm

    docs = docs_table(spark, sf_dir).select("doc_id", "text")
    # The registry caller can never call lm.release(), but the cached
    # model tables do NOT accumulate per build: Spark's cache manager
    # keys on the canonicalized plan, so repeated builds over the same
    # (corpus, params) dedupe to ONE entry pair (measured: 2 persistent
    # RDDs across 3 back-to-back trainings) — and the repeat builds get
    # the cached tables for free. Residency is bounded by distinct
    # corpora, not invocations; a caller cycling many corpora in one
    # session should use train_bigram_lm(...).detach() (zero cache
    # entries, ~1.7s of collect/reserialize per build) or release().
    lm = train_bigram_lm(docs, vocab_size=5000, bigram_size=20000)
    # hash-stable output: log-domain score via the exact decimal sum
    # (see score_perplexity_bigram docstring); perplexity = exp(anl) is
    # a monotone decoration the filter API still exposes
    return (
        score_perplexity_bigram(docs, lm, exact_decimal_sum=True)
        .select("doc_id", "n_tokens", "avg_neg_logp")
        .orderBy("doc_id")
    )


# (the former `stratified_sample_counts` query was folded into
# `dataset_split` in r9 as a per-doc `kept` column — strictly stronger
# than the per-stratum counts, freeing the 50-slot-window seat the
# promoted `clean_corpus_e2e` oracle below now occupies; `dataset_split`
# itself folded into `text_quality` in r15, fold #6)


def _clean_corpus_oracle() -> str:
    """The ENTIRE 9-stage chain as one DuckDB CTE pipeline — exact
    dedup, line dedup, quality filter, lang-ID argmax, unigram-LM
    perplexity (trained on the survivors, same V=20k/add-k=0.5), 8-gram
    decontamination against the original doc_id%97==0 slice, stratified
    balance and the hash split — mirroring clean_corpus_e2e's
    parameters stage for stage. The one elision: the PII scrub is a
    text-only transform that cannot change the (split, lang) counts this
    query outputs, so it is skipped here; its text-level parity is
    pinned cross-engine (incl. scrubbed text equality) in
    tests/test_corpus.py::test_clean_corpus_duckdb_full_chain_parity,
    which validated this exact SQL chain before promotion (r9; the
    window slot came from folding stratified_sample_counts into
    dataset_split)."""
    from ..operators.sampling import _hex4

    grams = (
        "list_transform(range(1, greatest(len(ws) - 6, 1)), "
        "i -> list_aggregate(ws[i:i+7], 'string_agg', ' '))"
    )
    sample_pref = "substr(md5(CAST(doc_id AS VARCHAR) || 'sample'), 1, 4)"
    split_pref = "substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 4)"
    return f"""
WITH docs0 AS (SELECT doc_id, text FROM documents),
s1 AS (
  SELECT d.doc_id, d.text FROM docs0 d
  JOIN (SELECT min(doc_id) AS doc_id FROM docs0 GROUP BY md5(text)) c USING (doc_id)
),
s2 AS (
  SELECT doc_id,
         array_to_string(
           list_transform(
             list_filter(range(1, len(ls) + 1),
                         i -> list_position(ls, ls[i]) = i),
             i -> ls[i]),
           chr(10)) AS text
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM s1)
),
s3 AS (
  SELECT * FROM s2
  WHERE len(string_split(text, ' ')) >= 5
    AND 1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')) <= 0.6
),
s4 AS (SELECT doc_id, text, ({_expr}) AS lang FROM s3),
s5 AS (SELECT * FROM s4 WHERE lang IN ('en', 'de', 'fr', 'es', 'zh')),
tok AS (
  SELECT doc_id, w AS word
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM s5)
  WHERE w <> ''
),
wcounts AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
topv AS (SELECT word, c FROM wcounts ORDER BY c DESC, word ASC LIMIT 20000),
consts AS (
  SELECT (SELECT sum(c) FROM wcounts)
           + 0.5 * ((SELECT count(*) FROM topv) + 1) AS denom
),
perdoc AS (
  SELECT t.doc_id, count(*) AS n_tokens,
         -avg(ln(coalesce(tv.c + 0.5, 0.5) / (SELECT denom FROM consts))) AS anl
  FROM tok t LEFT JOIN topv tv ON t.word = tv.word
  GROUP BY t.doc_id
),
s6 AS (SELECT s5.* FROM s5 JOIN perdoc USING (doc_id) WHERE exp(anl) <= 1e9),
bsh AS (
  SELECT DISTINCT unnest({grams}) AS ngram
  FROM (SELECT string_split(text, ' ') AS ws FROM docs0 WHERE doc_id % 97 = 0)
  WHERE len(ws) >= 8
),
dsh AS (
  SELECT doc_id, unnest(list_distinct({grams})) AS ngram
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM s6)
  WHERE len(ws) >= 8
),
contaminated AS (
  SELECT doc_id FROM (
    SELECT d.doc_id,
           CAST(sum(CASE WHEN b.ngram IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS frac
    FROM dsh d LEFT JOIN bsh b USING (ngram) GROUP BY d.doc_id)
  WHERE frac > 0.1
),
s7 AS (SELECT * FROM s6 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
s9 AS (
  SELECT * FROM s7
  WHERE doc_id IS NOT NULL AND (
    CASE lang WHEN 'en' THEN TRUE
              WHEN 'de' THEN {sample_pref} < '{_hex4(0.5)}'
              ELSE {sample_pref} < '{_hex4(0.9)}' END)
)
SELECT
  CASE WHEN {split_pref} < '{_hex4(0.90)}' THEN 'train'
       WHEN {split_pref} < '{_hex4(0.95)}' THEN 'valid'
       ELSE 'test' END AS split,
  lang, count(*) AS docs
FROM s9
GROUP BY 1, 2
ORDER BY split, lang
"""


@register(
    "clean_corpus_e2e",
    _clean_corpus_oracle(),  # promoted r9: hash-checked full-chain
    # replica (the stage interactions, not just the members); the
    # chain's determinism and per-stage counts are additionally pinned
    # by tests/test_corpus.py
    note="END-TO-END training-data pipeline: the clean_corpus composite "
    "(exact dedup -> line dedup -> quality -> language -> LM perplexity "
    "-> benchmark decontamination -> PII scrub -> stratified balance -> "
    "split) with every stage enabled, lazy mode (one materialization; "
    "the stats-audited form runs in tests), summarized per (split, "
    "lang); the bench row prices the whole chain, not just its parts",
)
def clean_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import corpus

    docs = docs_table(spark, sf_dir)
    # deterministic stand-in eval set: every 97th doc's text acts as the
    # benchmark to decontaminate against (guaranteed 8-gram overlap)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    report = corpus.clean_corpus(
        docs.select("doc_id", "text"),
        benchmark=benchmark,
        langs=["en", "de", "fr", "es", "zh"],
        max_perplexity=1e9,
        strata_fractions={"en": 1.0, "de": 0.5},
        balance_default_fraction=0.9,
        collect_stats=False,
    )
    out = (
        report.df.groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("docs"))
        .orderBy("split", "lang")
    )
    # NOTE: lazy mode leaves the LM-stage parents cached for the plan to
    # consume; the caller (bench loop / driver) fully materializes `out`
    # in one action, after which release() would normally run. The
    # registry contract returns a plan, so the cached parents are left
    # to Spark's LRU — bounded (one corpus-prefix frame + k*B model
    # rows), same policy as the lm_perplexity_quality query.
    return out


# --------------------------------------------------------------- tokenizer

# Validated against DuckDB's lateral-unnest semantics: string_split on the
# corpus's single-space convention, per-word character pairs weighted by
# word frequency, the trainer's deterministic (freq DESC, left, right)
# order. Mirrors tokenizer.bpe_pair_counts exactly.
BPE_PAIRS_ORACLE = """
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
wf AS (
  SELECT w, count(*) AS freq FROM words WHERE w <> '' GROUP BY w
),
pairs AS (
  SELECT substring(w, CAST(i AS INTEGER), 1) AS left_sym,
         substring(w, CAST(i AS INTEGER) + 1, 1) AS right_sym,
         freq
  FROM wf, LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i)
  WHERE length(w) >= 2
)
SELECT left_sym, right_sym, CAST(sum(freq) AS BIGINT) AS pair_freq
FROM pairs GROUP BY left_sym, right_sym
ORDER BY pair_freq DESC, left_sym ASC, right_sym ASC LIMIT 100
"""


@register(
    "bpe_pairs",
    BPE_PAIRS_ORACLE,
    note="distributed BPE tokenizer-trainer statistics (operators/"
    "tokenizer.py): first-iteration character-pair frequencies over the "
    "word-frequency reduction — the corpus is touched by exactly ONE "
    "shuffle (explode+groupBy into the vocabulary table); every "
    "training iteration after runs on that reduction. Promoted into "
    "the hash window in r12 by fold #3 (uint256_decode -> "
    "derived_token_transactions)",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import tokenizer

    return tokenizer.bpe_pair_counts(docs_table(spark, sf_dir), top_k=100)


@register(
    "bpe_train",
    None,  # rows-only: the greedy argmax LOOP has no single-SQL oracle;
    # exact pure-Python parity (same tie-break, same fold semantics) is
    # pinned in tests/test_tokenizer.py
    note="greedy BPE training end-to-end: ONE corpus-sized shuffle "
    "reduces to the (word, freq) vocabulary table, then mode='auto' "
    "runs the exact merge loop driver-locally (incremental pair counts "
    "+ lazy-deletion heap — zero Spark rounds in the loop, the r13 fix "
    "for the ~0.27 s/merge scheduling floor that made 32k-merge "
    "vocabularies hours of driver latency); the distributed per-round "
    "loop remains the over-budget fallback, rank-for-rank identical "
    "(1500-merge parity + cross-path tests in tests/test_tokenizer.py)",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import tokenizer

    merges = tokenizer.train_bpe(docs_table(spark, sf_dir), num_merges=10)
    return tokenizer.merge_table(spark, merges)


# ------------------------------------------------------- semantic dedup


@register(
    "semdedup",
    None,  # rows-only: k-means clustering has no SQL oracle; exact
    # pure-numpy parity of the whole keep/drop pass (same centroids,
    # same order, same threshold) is pinned in tests/test_semdedup.py
    note="SemDeDup (Abbas et al. 2023) cluster-then-prune over the "
    "embeddings table: deterministic distributed k-means (reused from "
    "the IVF index), then a per-cluster blocked-GEMM upper-triangular "
    "prune in (centroid_sim ASC, id ASC) order — the paper's "
    "keep-far-from-centroid rule; runaway clusters split by a "
    "vector-hash salt so exact duplicates can never escape the prune",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import semdedup

    emb = table(spark, sf_dir, "embeddings")
    return semdedup.semantic_dedup(
        emb, threshold=0.97, n_centroids=8, iterations=2
    )
