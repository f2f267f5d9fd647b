"""Benchmark decontamination: flag/drop training documents whose n-gram
overlap with a held-out evaluation corpus is too high — the standard
train/eval hygiene pass in large-scale training-data pipelines (beyond
the reference's scope; part of the training-data pack alongside
``operators/dedup.py``).

Scale shape: the benchmark corpus is small (eval sets are thousands of
documents, not billions), so its distinct shingle set is broadcast and
the whole pass is ONE map-side semi-join over the exploded training
shingles plus one groupBy(doc) — no shuffle of the corpus itself beyond
the per-doc aggregation, no driver-side collection. Shingling reuses the
split-once n-gram assembly from dedup (O(words), not O(words²)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _shingled
from .similarity import _unit_rows


def benchmark_ngram_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
) -> DataFrame:
    """Per-document contamination measurement → (doc, n_shingles,
    n_hit, overlap_frac).

    ``overlap_frac`` = |distinct doc n-grams ∩ benchmark n-grams| /
    |distinct doc n-grams|; docs shorter than ``n`` words produce no
    shingles, are absent from the result, and count as uncontaminated
    (``decontaminate`` keeps them). The benchmark side is reduced to its
    DISTINCT shingle set and broadcast: the join carries no benchmark
    doc identity on purpose (any hit is contamination, no matter which
    eval doc it came from).
    """
    bench_col = bench_text_col or text_col
    # synthetic per-row id: _shingled needs one, and the benchmark's own
    # ids (if any) are irrelevant — identity is dropped before the join
    # (the shingle set is DISTINCT across all benchmark rows). A literal
    # 0, not monotonically_increasing_id(): the value is never read, and
    # the non-deterministic expression costs ~70 ms of extra analyzer
    # work per build (measured r17) plus blocks optimizer moves for
    # nothing.
    bench = benchmark.select(F.col(bench_col).alias("_btext")).withColumn(
        "_bid", F.lit(0)
    )
    bench_shingles = (
        _shingled(bench, "_btext", "_bid", n)
        .select(F.explode("ngrams").alias("ngram"))
        .distinct()
    )
    doc_shingles = (
        _shingled(docs, text_col, id_col, n)
        .select("doc", F.explode(F.array_distinct("ngrams")).alias("ngram"))
    )
    hits = doc_shingles.join(
        F.broadcast(bench_shingles).withColumn("_hit", F.lit(1)),
        "ngram",
        "left",
    )
    return hits.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        (
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            / F.count(F.lit(1))
        ).alias("overlap_frac"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    max_overlap: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_docs: DataFrame | None = None,
) -> DataFrame:
    """Drop documents whose benchmark overlap exceeds ``max_overlap``
    (keep-side of the standard decontamination filter). Returns the
    surviving rows of ``docs`` unchanged.

    ``score_docs`` (r17): optionally compute the contamination scores
    over this frame instead of ``docs``. Intended for a SUPERSET of
    ``docs`` with identical (id, text) values for every shared id —
    e.g. an already-materialized upstream stage that ``docs`` was
    filtered from. ``overlap_frac`` is a per-doc function of (text,
    benchmark), so scoring extra rows only produces contaminated ids
    the anti-join's left side does not contain — the surviving rows are
    IDENTICAL (pinned by test_decontam's superset-parity test). Why it
    exists: ``docs.join(contaminated(docs), anti)`` references ``docs``
    TWICE, and in a lazy plan Spark executes the whole upstream once
    per reference (no common-subtree reuse) — clean_corpus's perplexity
    keep-join + scorer ran twice per build until the chain started
    passing its cached prefix here (guide §7.2 duplicated subtrees)."""
    scores = benchmark_ngram_overlap(
        score_docs if score_docs is not None else docs,
        benchmark, n, text_col, id_col,
    )
    contaminated = scores.filter(F.col("overlap_frac") > max_overlap).select(
        F.col("doc").alias(id_col)
    )
    return docs.join(contaminated, id_col, "left_anti")


# driver/executor safety bound for the broadcast benchmark matrix: eval
# sets are thousands of vectors; 250k × 64 float64 ≈ 128 MB is already
# far past any real benchmark and a clear sign the caller swapped the
# sides. Raise, don't truncate — silent truncation would under-report
# contamination.
MAX_BENCHMARK_VECTORS = 250_000


def benchmark_embedding_similarity(
    docs_emb: DataFrame,
    bench_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str | None = None,
    bench_vec_col: str | None = None,
    max_benchmark: int = MAX_BENCHMARK_VECTORS,
) -> DataFrame:
    """Semantic contamination measurement — the embedding-space
    complement of :func:`benchmark_ngram_overlap` (an 8-gram filter
    misses paraphrased or translated eval leakage; cosine against the
    benchmark's embeddings catches it). Per training vector →
    ``(id, max_benchmark_cosine, nearest_benchmark_id)``.

    Scale shape mirrors the n-gram pass: the benchmark side is SMALL by
    nature (eval sets are thousands of rows), so it is collected once
    (bounded by ``max_benchmark`` — exceeding it raises rather than
    truncating) and shipped to executors inside the Arrow UDF closure
    as one L2-normalized numpy matrix; the training corpus then flows
    through a single mapInPandas pass — one BLAS gemm per Arrow batch,
    max+argmax per row, NO shuffle and no corpus-side collection. Rows
    with NULL/empty embeddings get NULL scores (can't be scored, not
    silently clean). Ties on max cosine resolve to the lowest
    benchmark id (numpy argmax takes the first, rows are sorted by id
    at collect time) — deterministic across partitionings.
    """
    import numpy as np

    bid = bench_id_col or id_col
    bvec = bench_vec_col or vec_col
    rows = (
        bench_emb.select(F.col(bid).alias("i"), F.col(bvec).alias("v"))
        .filter(F.col("v").isNotNull() & (F.size("v") > 0))
        .orderBy("i")
        .limit(max_benchmark + 1)
        .collect()
    )
    if len(rows) > max_benchmark:
        raise ValueError(
            f"benchmark side exceeds max_benchmark={max_benchmark} vectors "
            "— eval sets are small by nature; did you swap docs/benchmark?"
        )
    if not rows:
        raise ValueError("benchmark side has no scorable embeddings")
    bench_ids = np.array([r["i"] for r in rows])
    bm = _unit_rows(r["v"] for r in rows)[0]  # (B, dim); zero rows score 0

    # bound the per-task gemm scratch: the (rows, B) similarity block is
    # rows×B float64, and an Arrow batch of 10k rows against a 20k-vector
    # benchmark would allocate 1.6 GB per concurrent task. Blocking the
    # corpus rows keeps the scratch ≈ 32 MB regardless of benchmark size
    # — same flops, bounded residency (the max/argmax reduce per block).
    row_block = max(1, (1 << 22) // max(len(rows), 1))

    def run(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col]
            out_cos = np.full(len(pdf), np.nan)
            out_near = np.full(len(pdf), -1, dtype=np.int64)
            vecs = pdf[vec_col]
            ok = vecs.map(lambda v: v is not None and len(v) > 0)
            if ok.any():
                m = _unit_rows(vecs[ok])[0]
                n_ok = len(m)
                blk_cos = np.empty(n_ok)
                blk_near = np.empty(n_ok, dtype=np.int64)
                for s in range(0, n_ok, row_block):
                    sims = m[s : s + row_block] @ bm.T  # BLAS gemm block
                    blk_cos[s : s + row_block] = sims.max(axis=1)
                    blk_near[s : s + row_block] = sims.argmax(axis=1)
                out_cos[ok.to_numpy()] = blk_cos
                out_near[ok.to_numpy()] = bench_ids[blk_near]
            yield pd.DataFrame(
                {
                    "id": ids,
                    "max_benchmark_cosine": out_cos,
                    "nearest_benchmark_id": pd.array(
                        [None if n < 0 else int(n) for n in out_near],
                        dtype="Int64",
                    ),
                }
            )

    # the output id keeps the INPUT id column's type (ADVICE r15: a
    # hard-coded `id long` made string-id callers fail with an opaque
    # Arrow cast error deep in the UDF). Benchmark ids DO stay integral
    # (they ride an int64 argmax scratch array) — validated up front
    # with a clear error instead of a runtime numpy failure.
    bench_kind = bench_emb.schema[bid].dataType.simpleString()
    if bench_kind not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"benchmark id column {bid!r} must be integral (got "
            f"{bench_kind}): nearest_benchmark_id is reported as long"
        )
    id_type = docs_emb.schema[id_col].dataType.simpleString()
    return docs_emb.mapInPandas(
        run,
        schema=f"id {id_type}, max_benchmark_cosine double, "
        "nearest_benchmark_id long",
    )


def decontaminate_semantic(
    docs_emb: DataFrame,
    bench_emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """Keep-side filter over :func:`benchmark_embedding_similarity`:
    training vectors whose max benchmark cosine reaches ``threshold``
    are dropped; unscorable rows (NULL/empty embeddings) are KEPT —
    embedding absence is a pipeline gap, not evidence of contamination
    (the n-gram pass still covers such rows textually)."""
    scores = benchmark_embedding_similarity(
        docs_emb, bench_emb, id_col, vec_col, **kwargs
    )
    contaminated = scores.filter(
        F.col("max_benchmark_cosine") >= threshold
    ).select(F.col("id").alias(id_col))
    return docs_emb.join(contaminated, id_col, "left_anti")
