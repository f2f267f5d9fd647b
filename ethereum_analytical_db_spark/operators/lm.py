"""Language-model perplexity scoring (training-data pipeline pack).

The CCNet/Gopher-style quality signal: score each document by how
surprising its tokens are under a language model trained on a trusted
(or the whole) corpus, then filter/bucket on the score. Production
pipelines often use a 5-gram KenLM here; this module implements the
same shape with an interpolated unigram+bigram model trained
*distributed*, because that is the part Spark must own — the scoring
pattern (broadcast the model, one narrow join per token, one groupBy
doc) is identical whatever the model order.

Scale design:
- training is two word/bigram count aggregations (map-side combined,
  uniform high-cardinality keys → no skew) followed by a top-V
  truncation, so the model is **bounded at vocab_size rows** no matter
  the corpus size;
- scoring broadcasts the bounded model and runs one explode + broadcast
  join + per-doc aggregate — no shuffle of the corpus itself beyond the
  doc-keyed aggregate;
- everything is exact arithmetic on doubles, so a DuckDB oracle
  reproduces scores to float tolerance (tests/test_lm.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import app_cache
from .text import words


@app_cache
def _nulled_tokens_expr(text_col: str) -> Column:
    """The unigram scorer's token stream (words with empties NULLed, in
    the array) over a NAMED column, built once per (SparkContext, name):
    Columns are immutable unresolved trees, and the HOF construction is
    tens of ms of py4j round trips per build (r17, guide §7.3)."""
    return F.explode_outer(
        F.transform(words(F.col(text_col)), lambda w: F.when(w != "", w))
    )


@app_cache
def _pair_structs_expr() -> Column:
    """The bigram scorer's (word, prev) struct stream over the scorer's
    fixed ``ws`` array projection — same memo rationale as
    :func:`_nulled_tokens_expr`. Element accesses stay on the BOUND
    array column (never an inlined ``words(...)``, which an interpreted
    HOF lambda would re-evaluate per element)."""
    return F.explode_outer(
        F.transform(
            "ws",
            lambda w, i: F.struct(
                F.when(w != "", w).alias("word"),
                F.when(i > 0, F.get("ws", i - 1)).alias("prev"),
            ),
        )
    )

# detach(): model tables at or under this row count round-trip through
# the driver (createDataFrame(collect()) — microseconds for real
# vocabs); larger ones spill to parquet under the warehouse instead,
# so a 1M-row vocab with bigrams never ships tens of MB through the
# driver per detach (r9 review find)
DETACH_SPILL_ROWS = 100_000


def _detach_table(table: DataFrame, spill_rows: int) -> DataFrame:
    """Rebuild ``table`` with zero session-cache entries: driver-local
    for small tables (no behavior change), parquet round-trip under the
    warehouse for big ones — the scale-safe form, since executors write
    and read the files and only a count touches the driver. Spilled
    files live under ``<warehouse>/_detached_models/<digest>_<pid>``
    with the standard frozen-artifact lifecycle (atexit removal +
    dead-pid orphan sweep, ``plans/frozen.py``) on a local warehouse;
    on a remote warehouse (HDFS/S3) the deployment owns the dir."""
    import uuid

    sp = table.sparkSession
    # limit(n+1).count() instead of a full count: the decision only needs
    # "more than spill_rows or not", and the limit short-circuits the scan
    # once n+1 rows are seen — a wide model table no longer pays a full
    # aggregation job just to pick its detach path (r10 verdict note)
    if table.limit(spill_rows + 1).count() <= spill_rows:
        # 1 slice: ≤100k local rows in one task beats defaultParallelism
        # near-empty Python task launches per consumer action
        return sp.createDataFrame(
            sp.sparkContext.parallelize(table.collect(), 1), table.schema
        )
    from ..plans import frozen

    warehouse = sp.conf.get("spark.sql.warehouse.dir")
    base = os.path.join(_local_fs_path(warehouse), "_detached_models")
    path = frozen.acquire(base, uuid.uuid4().hex)
    table.write.mode("overwrite").parquet(path)
    return sp.read.parquet(path)


def _local_fs_path(uri: str) -> str:
    """file:-scheme warehouse URIs → plain paths (so the frozen-artifact
    sweep's os-level cleanup works); other schemes pass through.

    RFC 8089 via urlparse, not prefix-stripping: ``file://localhost/tmp/wh``
    carries an authority component, and naively stripping every leading
    slash after ``file:`` turned it into ``/localhost/tmp/wh`` — a
    nonexistent path the detach spill would write to while the orphan
    sweep missed the real directory (r10 advice)."""
    from urllib.parse import unquote, urlparse

    if not uri.startswith("file:"):
        return uri
    parsed = urlparse(uri)
    if parsed.netloc not in ("", "localhost"):
        # a genuinely remote file URI (rare, nonstandard): leave it for
        # the filesystem layer rather than silently mis-localizing it
        return uri
    return unquote(parsed.path)


@dataclass
class UnigramLM:
    """Bounded unigram model: ``table`` is (word, logp, p) for the top-V
    vocabulary; OOV words share one smoothed probability. ``p`` is the
    RAW ratio double next to its log: the interpolated bigram scorer
    needs the probability domain, and reconstructing it as exp(logp)
    adds a double round-trip of ulp error on top of the cross-engine
    log() variance — enough to flip a DECIMAL(38,8)-quantized oracle
    hash on a boundary-straddling token."""

    table: DataFrame  # (word string, logp double, p double)
    oov_logp: float
    vocab_size: int
    total_tokens: int
    oov_p: float = 0.0

    def release(self) -> None:
        """Drop the cached model table. A long-lived session training
        many models (repeated clean_corpus runs) otherwise accumulates
        cached tables indefinitely (round-5 advice)."""
        self.table.unpersist()

    def detach(self, spill_rows: int = DETACH_SPILL_ROWS) -> "UnigramLM":
        """Self-contained copy with ZERO session cache entries: the
        bounded table (≤ vocab_size rows — the same rows every scoring
        action broadcasts anyway) is rebuilt cache-free — driver-local
        below ``spill_rows`` rows, via a parquet round-trip under the
        warehouse above it (``_detach_table``: a wide vocab must not
        ship tens of MB through the driver per detach) — and the cached
        original is released. For callers cycling many corpora in one
        session who can never call release() on the models they hand
        out. Caveat: Spark caches by canonicalized plan, so if ANOTHER
        live model was trained on the identical (corpus, params), the
        released entry is shared and that model degrades to recompute —
        correctness unaffected."""
        local = _detach_table(self.table, spill_rows)
        self.table.unpersist()
        return UnigramLM(
            table=local,
            oov_logp=self.oov_logp,
            vocab_size=self.vocab_size,
            total_tokens=self.total_tokens,
            oov_p=self.oov_p,
        )


def train_unigram_lm(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 50_000,
    add_k: float = 0.5,
) -> UnigramLM:
    """Add-k-smoothed unigram LM over the corpus.

    p(w) = (count(w) + k) / (N + k·(V+1)) for the top-``vocab_size``
    words by count (ties broken by word for determinism); every other
    word is OOV with p = k / (N + k·(V+1)).

    Truncation keeps the broadcastable invariant: the model is V rows
    regardless of corpus size. N and V reach the driver as two scalars.
    """
    if add_k <= 0:
        raise ValueError(
            f"add_k={add_k} must be positive: with k=0 an OOV word has "
            "probability 0 and the 0.0 oov_logp fallback would score "
            "maximally-surprising text as perplexity 1.0, silently "
            "inverting any perplexity filter"
        )
    # counts is cached (spills to disk if large) so the corpus is
    # tokenized+shuffled ONCE; top-V and the N/V scalars both read it
    counts = (
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .cache()
    )
    top = counts.orderBy(F.desc("c"), F.asc("word")).limit(vocab_size)
    # ONE job for both scalars (r16: v was a separate top.count() —
    # |top| == min(vocab_size, |counts|), and n_total is the corpus
    # total incl. the truncated tail, so both come out of a single
    # aggregate over the cached counts; one fewer eager driver action
    # per training, guide §7.3)
    stat = counts.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("vocab")
    ).first()
    v = min(vocab_size, int(stat["vocab"] or 0))
    n_total = int(stat["n"] or 0)
    denom = float(n_total + add_k * (v + 1))
    # cache the FINAL bounded table (not the intermediate top-V) so the
    # model holds exactly one cached artifact, released by .release();
    # counts stays cached until the table materializes, then unpersists
    p = (F.col("c") + F.lit(add_k)) / F.lit(denom)
    table = top.select("word", F.log(p).alias("logp"), p.alias("p")).cache()
    table.count()
    counts.unpersist()
    import math

    oov_p = add_k / denom if denom > 0 else 0.0
    oov_logp = math.log(oov_p) if oov_p > 0 else 0.0
    return UnigramLM(
        table=table, oov_logp=oov_logp, vocab_size=v,
        total_tokens=n_total, oov_p=oov_p,
    )


def score_perplexity(
    df: DataFrame,
    lm: UnigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, avg_neg_logp, perplexity) per document.

    perplexity = exp(-mean log p(w)); empty documents score NULL.
    The model table is broadcast (bounded by vocab_size); the only
    shuffle is the doc-keyed aggregate.
    """
    # explode_outer with empty tokens nulled IN the array (r16): every
    # doc keeps at least one row, so token-less docs fall out of the
    # SAME aggregate with n_tokens=0 / NULL score — the old plan
    # re-scanned the corpus for ids.distinct() and joined it back
    # (guide §2.4: one less scan, one less shuffle/join; identical
    # rows — NULL words join nothing, count() skips them, sum() skips
    # their NULL logp)
    toks = df.select(
        F.col(id_col),
        _nulled_tokens_expr(text_col).alias("word"),
    )
    scored = toks.join(F.broadcast(lm.table), "word", "left").select(
        F.col(id_col),
        F.col("word"),
        F.when(
            F.col("word").isNotNull(),
            F.coalesce(F.col("logp"), F.lit(lm.oov_logp)),
        ).alias("logp"),
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.col("word")).alias("n_tokens"),
        (-F.sum("logp") / F.count(F.col("word"))).alias("avg_neg_logp"),
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        "avg_neg_logp",
        F.exp("avg_neg_logp").alias("perplexity"),
    )


def perplexity_filter(max_perplexity: float) -> Column:
    """Keep-predicate for the standard filter step: documents whose
    perplexity is defined and under the cap. Apply to a
    :func:`score_perplexity` output (or anything with a ``perplexity``
    column)."""
    return F.col("perplexity").isNotNull() & (
        F.col("perplexity") <= F.lit(max_perplexity)
    )


@dataclass
class BigramLM:
    """Interpolated bigram model: unigram backbone plus a bounded
    (prev, word, p_bi) conditional table — p_bi is a raw probability in
    [0, 1], NOT a log (the unigram table stores logs; the scorer mixes
    them accordingly).

    p(w | prev) = λ·p_bi(w|prev) + (1-λ)·p_uni(w), with p_bi add-k
    smoothed per-history; histories outside the table fall back to the
    unigram term alone (λ renormalized away, the standard interpolated
    backoff).
    """

    unigram: UnigramLM
    table: DataFrame  # (prev string, word string, p_bi double)
    lam: float

    def release(self) -> None:
        """Drop both cached model tables (see UnigramLM.release)."""
        self.table.unpersist()
        self.unigram.release()

    def detach(self, spill_rows: int = DETACH_SPILL_ROWS) -> "BigramLM":
        """Zero-cache copy of both bounded model tables (see
        UnigramLM.detach): each rebuilt driver-local under
        ``spill_rows`` rows, through a warehouse parquet round-trip
        above it; the cached originals are released."""
        local = _detach_table(self.table, spill_rows)
        self.table.unpersist()
        return BigramLM(
            unigram=self.unigram.detach(spill_rows), table=local, lam=self.lam
        )


def train_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 50_000,
    bigram_size: int = 200_000,
    add_k: float = 0.5,
    lam: float = 0.7,
) -> BigramLM:
    """Interpolated bigram LM; both tables bounded (top-V words, top-B
    bigrams by count, ties broken lexically).

    The per-history denominator (the history's total pair count) is
    derived from ``bi_counts`` itself — sum of counts per prev — so the
    pair stream is generated and shuffled exactly once, and only the
    bounded top-B side is ever broadcast.

    r17: back to TWO tokenize passes (unigram fit + pair fit). The r16
    one-pass form (every position re-emitted as a (NULL, word) struct
    row, concatenated with the pair structs, one combined aggregate)
    saved a corpus scan but was measured at 10x scale to cost ~2x the
    executor CPU of the two-pass form (SCALE.md §"r17: at-scale paired
    A/B evidence", sf1: 61.5 s vs 31.4 s executor-time median, wall
    5.7 vs 3.2 s; models verified identical) — the per-word
    interpreted struct HOF plus the wider (prev, word) shuffle key on
    the unigram slice dwarf one extra columnar scan at any scale (guide
    §1.2: the scan it removed was the cheap part). The pair stream
    itself is built with ``zip_with`` over two shifted slices instead of
    ``transform(sequence(...), element_at(...))`` — same values, ~10%
    less executor time (no index array, no per-element lookups).
    """
    uni = train_unigram_lm(df, text_col, vocab_size=vocab_size, add_k=add_k)
    ws = df.select(words(F.col(text_col)).alias("ws"))
    n1 = F.greatest(F.size("ws") - 1, F.lit(0))
    pairs = (
        ws.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.filter(
                    F.zip_with(
                        F.slice("ws", F.lit(1), n1),
                        F.slice("ws", F.lit(2), n1),
                        lambda a, b: F.struct(
                            a.alias("prev"), b.alias("word")
                        ),
                    ),
                    lambda s: (s["prev"] != "") & (s["word"] != ""),
                )
            ).alias("p")
        )
        .select("p.prev", "p.word")
    )
    bi_counts = (
        pairs.groupBy("prev", "word").agg(F.count(F.lit(1)).alias("c")).cache()
    )
    top_bi = (
        bi_counts.orderBy(F.desc("c"), F.asc("prev"), F.asc("word"))
        .limit(bigram_size)
    )
    # per-history totals: sum of bi_counts over word ≡ pairs.groupBy(prev)
    # — no second corpus pass. hist_totals is UNBOUNDED (one row per
    # distinct first word), so the bounded top-B side is what gets
    # broadcast into the join; the result is ≤ bigram_size rows.
    hist_totals = bi_counts.groupBy("prev").agg(F.sum("c").alias("h"))
    v = uni.vocab_size
    table = (
        hist_totals.join(F.broadcast(top_bi), "prev")
        .select(
            "prev",
            "word",
            (
                (F.col("c") + F.lit(add_k))
                / (F.col("h") + F.lit(add_k) * (v + 1))
            ).alias("p_bi"),
        )
        # materialize the bounded conditional table so every scoring
        # action broadcasts these ≤B rows instead of re-running the
        # unbounded hist join, then release the pair-count cache
        .cache()
    )
    table.count()
    bi_counts.unpersist()
    return BigramLM(unigram=uni, table=table, lam=lam)


def score_perplexity_bigram(
    df: DataFrame,
    lm: BigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
    exact_decimal_sum: bool = False,
) -> DataFrame:
    """(id, n_tokens, avg_neg_logp, perplexity) under the interpolated
    bigram model. The first token of each doc scores as unigram (no
    history); a (prev, word) pair outside the bigram table contributes
    only its unigram term.

    ``exact_decimal_sum``: aggregate per-token logs through
    DECIMAL(38,8) — exact and order-independent, so the avg_neg_logp
    doubles are BITWISE reproducible across engines/partitionings (the
    registry's oracle-hash determinism rule; plain double SUM is
    summation-order-dependent). The 8-dp quantization changes scores by
    <1e-8 — irrelevant for filtering, essential for hash parity.
    """
    # (word, prev) struct per position BEFORE exploding: carrying the
    # whole words array through posexplode would copy the full document
    # array into every token row — O(words²) bytes per doc; the struct
    # array is O(words) (same shape the bigram trainer uses)
    ws = df.select(F.col(id_col), words(F.col(text_col)).alias("ws"))
    # explode_outer with empty words nulled in the struct (r16): every
    # doc keeps >= 1 row, so the per-doc aggregate below covers
    # token-less docs directly and the old ids.distinct() corpus re-scan
    # + left join disappear (guide §2.4). A NULL word joins neither
    # model table, counts for nothing, and contributes NULL logp (sum
    # skips it) — identical scores.
    toks = ws.select(
        F.col(id_col),
        _pair_structs_expr().alias("t"),
    ).select(id_col, F.col("t.word").alias("word"), F.col("t.prev").alias("prev"))
    uni = lm.unigram
    j = (
        toks.join(
            F.broadcast(uni.table.select("word", F.col("p").alias("_p_uni"))),
            "word",
            "left",
        )
        .join(F.broadcast(lm.table), ["prev", "word"], "left")
    )
    # probability domain directly — exp(logp) here would add a double
    # round-trip of ulp error the cross-engine oracle hash can see
    p_uni = F.coalesce(F.col("_p_uni"), F.lit(uni.oov_p))
    p = F.when(
        F.col("p_bi").isNotNull(),
        F.lit(lm.lam) * F.col("p_bi") + F.lit(1.0 - lm.lam) * p_uni,
    ).otherwise(p_uni)
    # NULL (formerly filtered-empty) words score NULL — sum/avg skip
    # them, count("word") doesn't see them
    scored = j.select(
        F.col(id_col),
        F.col("word"),
        F.when(F.col("word").isNotNull(), F.log(p)).alias("logp"),
    )
    n_tok = F.count(F.col("word"))
    if exact_decimal_sum:
        per_doc = scored.groupBy(id_col).agg(
            n_tok.alias("n_tokens"),
            (
                -(
                    F.sum(F.col("logp").cast("decimal(38,8)")).cast("double")
                    / n_tok
                )
            ).alias("avg_neg_logp"),
        )
    else:
        per_doc = scored.groupBy(id_col).agg(
            n_tok.alias("n_tokens"),
            (-F.avg("logp")).alias("avg_neg_logp"),
        )
    return per_doc.select(
        id_col,
        "n_tokens",
        "avg_neg_logp",
        F.exp("avg_neg_logp").alias("perplexity"),
    )
