"""Similarity search over embedding columns (array<float>).

Two paths, as a real 100-TB pipeline would have:
- brute-force cosine top-k: zip_with + aggregate fold, fully JVM-side —
  the exact baseline; scales as O(n·d) per query with no shuffle (the
  query vector is a literal broadcast into the expression);
- LSH-bucketed (random hyperplanes):
  bucket = sign-bit string of H hyperplane dot products; candidates
  share a bucket → shuffle O(n), probes only its bucket. Approximate,
  recall grows with fewer planes / multiple tables.

For oracle-exact comparisons use ``cosine_topk_exact_decimal`` whose
sums are DECIMAL (order-independent, bit-identical in any engine).
"""

from __future__ import annotations

import json
import math

from pyspark import AccumulatorParam
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from .dedup import _hot_keys
from .materialize import materialize as _materialize

DEC = "decimal(12,6)"


class _MaxAccumulatorParam(AccumulatorParam):
    """Accumulator merging by max — records the LARGEST per-task group a
    grouped-Pandas operator actually received, so skew bounds are
    asserted from real execution, not inferred from the plan."""

    def zero(self, value):
        return value

    def addInPlace(self, a, b):
        return max(a, b)


def max_group_accumulator(sc, initial: int = 0):
    """Build a max-merging accumulator for ``group_size_acc`` hooks
    (skew observability: tests and monitoring read ``acc.value`` after an
    action to get the hottest task's input row count)."""
    return sc.accumulator(initial, _MaxAccumulatorParam())


def _dot(a, b):
    """Double-precision fold — fast path (deterministic order, single fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    query_vector: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity against a literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vector])
    dot = _dot(F.col(vec_col), q)
    norm = F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
    qnorm = float(sum(x * x for x in query_vector)) ** 0.5
    # zero-norm guard: a single all-zero embedding (failed encoder row)
    # would otherwise abort the whole query under ANSI's DIVIDE_BY_ZERO;
    # cosine is undefined there, so the row scores NULL and drops out
    if qnorm == 0.0:
        cos = F.lit(None).cast("double")
    else:
        cos = F.when(norm > F.lit(0.0), dot / (norm * F.lit(qnorm)))
    return (
        embeddings.select(F.col(id_col), cos.alias("cosine"))
        .filter(F.col("cosine").isNotNull())
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk_exact_decimal(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Oracle-grade exact cosine top-k: per-position explode, DECIMAL
    product sums (order-independent → reproducible across engines).

    ``query`` is a 1-row DataFrame with the same (id_col, vec_col).
    Output: (vec_id, cosine) top-k excluding the query row itself.
    """
    # One collected query row serves qid/qdim/qnorm2 below: `query` may
    # be a filter over the full embeddings table (plans/pipeline.py), so
    # every .first() on it is a separate Spark job with its own scan —
    # three were launched here before this consolidation.
    qrow = query.select(F.col(id_col), F.col(vec_col)).first()
    qid, qvec = qrow[id_col], list(qrow[vec_col])
    # cosine between different-dimension vectors is undefined; dropping
    # mismatched candidates also makes the global-qnorm2 optimization
    # below EXACTLY equal to the per-group form the DuckDB oracle keeps
    # — but ONLY when every surviving candidate has the query's
    # dimension (the oracle joins on pos and keeps mismatched-dim
    # candidates with a partial-overlap cosine; this filter drops them,
    # so parity is exact only on uniform-dimension data, which the
    # registered pipeline query guarantees).
    qdim = len(qvec)
    # float → double FIRST (exact widening), then → decimal: Spark's direct
    # float→decimal cast goes through the float's 7-digit string repr and
    # would diverge from engines that round the exact binary value
    # float → double (exact widening) → DECIMAL(12,6): a *defined*
    # fixed-point dot product. Products are scale-12; sums stay scale-12
    # with integer part < 2^53, so the final decimal→double cast is a
    # single correct rounding on every engine. (Scale-18 sums would need a
    # downscale cast, which Spark rounds but DuckDB truncates.)
    #
    # The query norm is a per-query constant: computed ONCE from the
    # already-collected query row instead of re-summing qval*qval inside
    # every per-id group (≈⅓ of the decimal work) or via another Spark
    # job. Replicates the engine arithmetic exactly: double → DECIMAL
    # scale-6 HALF_UP, exact scale-12 products and sum, one
    # ties-to-even rounding to double at the end — so the DuckDB
    # oracle, which keeps the per-group decimal form, still hashes
    # identically (given the uniform-dimension filter above).
    # Decimal(repr(x)), NOT Decimal(x): Spark's double→decimal Cast
    # quantizes the SHORTEST ROUND-TRIP STRING of the double (Scala
    # BigDecimal(Double) routes through Double.toString), and Python's
    # repr produces the same shortest string — Decimal(x) would
    # HALF_UP-round the exact binary expansion instead, which can land
    # on the other side of a decimal tie (review find).
    from decimal import ROUND_HALF_UP, Decimal

    _q6 = Decimal("0.000001")
    q6 = [
        Decimal(repr(float(x))).quantize(_q6, rounding=ROUND_HALF_UP) for x in qvec
    ]
    qnorm2 = float(sum((v * v for v in q6), Decimal(0)))
    # r16: the per-position explode + broadcast join + hash aggregate
    # became a per-row zip_with DECIMAL fold against a literal decimal
    # query array — decimal addition is exact, so any grouping/order of
    # the same 64 products yields the SAME sum and the (dot, norm2)
    # doubles are bit-identical to the aggregate form (and to the
    # oracle's per-position SQL); the plan drops its Generate, its
    # BroadcastHashJoin and its Exchange (guide §2.4 — same numbers,
    # zero shuffle). Query literals ride ONE parsed SQL string, not a
    # 64-literal py4j Column chain (r14 build-latency lesson).
    qarr_sql = "array(" + ",".join(
        f"cast('{v}' as {DEC})" for v in q6
    ) + ")"
    per_vec = (
        embeddings.filter(F.size(F.col(vec_col)) == F.lit(qdim))
        .select(F.col(id_col), _as_dec_vec(F.col(vec_col)).alias("dv"))
        .select(
            F.col(id_col),
            _dec_dot(F.col("dv"), F.expr(qarr_sql)).cast("double").alias("dot"),
            _dec_dot(F.col("dv"), F.col("dv")).cast("double").alias("norm2"),
        )
    )
    # same zero-norm guard as the float path (ANSI DIVIDE_BY_ZERO)
    if qnorm2 == 0.0:
        cos = F.lit(None).cast("double")
    else:
        cos = F.when(
            F.col("norm2") > 0,
            F.col("dot") / (F.sqrt(F.col("norm2")) * F.lit(qnorm2**0.5)),
        )
    return (
        per_vec.filter(F.col(id_col) != qid)
        .select(F.col(id_col), cos.alias("cosine"))
        .filter(F.col("cosine").isNotNull())
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _plane_matrix(dim: int, planes: int, seed: int):
    """planes × dim Gaussian hyperplane matrix, deterministic in seed
    (row-major: plane p's components drawn before plane p+1's)."""
    import random

    import numpy as np

    rnd = random.Random(seed)
    return np.asarray([[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(planes)])


def _assign_sign_buckets(
    embeddings: DataFrame, plane_mat, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, bucket long): integer sign-bit bucket per vector — one
    Arrow-batched numpy gemm per batch against the broadcast plane
    matrix (shared by the LSH near-dup and LSH top-k paths)."""
    import numpy as np

    bc = embeddings.sparkSession.sparkContext.broadcast(plane_mat)
    src = embeddings.select(F.col(id_col), F.col(vec_col))
    id_type = src.schema[id_col].dataType.simpleString()
    # carry the input vector element type through: pinning array<float>
    # would silently truncate array<double> embeddings to float32, and
    # cosines near the threshold could diverge past the documented LSH
    # recall approximation
    vec_type = src.schema[vec_col].dataType.simpleString()

    def run(batches):
        pm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            bits = (v @ pm.T >= 0).astype(np.int64)
            pdf = pdf.copy()
            pdf["bucket"] = bits @ (1 << np.arange(pm.shape[0], dtype=np.int64))
            yield pdf

    return src.mapInPandas(
        run,
        schema=f"`{id_col}` {id_type}, `{vec_col}` {vec_type}, bucket long",
    )


_DEC_ZERO = "0"


def _dec_dot(a, b):
    """Exact fixed-point dot product: DECIMAL(12,6) elementwise products
    accumulated in DECIMAL(38,12). Decimal arithmetic is exact, so the
    result is identical in ANY summation order — a SQL oracle's SUM over
    an unnested position join reproduces it bit-for-bit, while we stay on
    the cheap no-shuffle zip_with path."""
    prods = F.zip_with(a, b, lambda x, y: x * y)
    # accumulator DECIMAL(30,12): products are DECIMAL(25,12) with tiny
    # integer parts (unit-ish vectors), so acc+v (→ DECIMAL(32,12)) and
    # the cast back are both exact — scale never reduced, no rounding
    zero = F.lit(_DEC_ZERO).cast("decimal(30,12)")
    return F.aggregate(prods, zero, lambda acc, v: (acc + v).cast("decimal(30,12)"))


def _as_dec_vec(vec_col) -> Column:
    # float → double FIRST (exact widening), then → decimal; the direct
    # float→decimal cast goes through the float's 7-digit string repr
    return F.transform(vec_col, lambda x: x.cast("double").cast(DEC))


def _decimal_cosine_pairs(
    cands: DataFrame, vecs: DataFrame, threshold: float
) -> DataFrame:
    """Exact verify shared by the exact and md5-LSH near-dup operators:
    join candidate ``(id_a, id_b)`` pairs to ``(vid, dv, n2)`` rows
    (DECIMAL vector, its squared norm as double) and keep pairs whose
    fixed-point cosine reaches ``threshold``. The dot is an exact
    decimal fold, so the reported cosine is bit-identical in a SQL
    oracle."""
    a = vecs.select(F.col("vid").alias("id_a"), F.col("dv").alias("dva"), F.col("n2").alias("n2_a"))
    b = vecs.select(F.col("vid").alias("id_b"), F.col("dv").alias("dvb"), F.col("n2").alias("n2_b"))
    dot = _dec_dot(F.col("dva"), F.col("dvb")).cast("double")
    cos = dot / F.sqrt(F.col("n2_a") * F.col("n2_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _block_pairs(df: DataFrame, n_blocks: int) -> DataFrame:
    """The block decomposition shared by the exact and LSH near-dup
    operators: ``df`` plus ``blk``, the row's block (a hash of ``vid``
    mod ``n_blocks``), replicated once per unordered block pair
    ``(i, j)`` the row participates in — (min(blk,o), max(blk,o)) for o
    in 0..n_blocks-1. Each unordered pair lands in exactly one (i, j)
    group, so candidates never duplicate across tasks."""
    cols = df.columns
    pairs = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(o)).alias("i"),
                F.greatest(F.col("blk"), F.lit(o)).alias("j"),
            )
            for o in range(n_blocks)
        ]
    )
    return (
        df.withColumn(
            "blk",
            F.pmod(F.xxhash64(F.col("vid").cast("string")), F.lit(n_blocks)).cast("int"),
        )
        .select(*cols, "blk", F.explode(pairs).alias("p"))
        .select(*cols, "blk", F.col("p.i").alias("i"), F.col("p.j").alias("j"))
    )


def _unit_rows(values):
    """Vectors → (float64 unit rows, norms); zero vectors pass through
    as zero rows with norm 0 (cosine with anything is 0, so they never
    reach a threshold). One kernel: the near-dup GEMM, SemDeDup and
    decontamination all normalise through it. An input of zero rows
    raises, so callers guard empty groups."""
    import numpy as np

    v = np.asarray([np.asarray(x, dtype=np.float64) for x in values])
    norms = np.linalg.norm(v, axis=1)
    return v / np.where(norms == 0.0, 1.0, norms)[:, None], norms


def _gemm_pair_score(pdf, i: int, j: int, thr: float):
    """Score one unordered block-pair task: unit-normalize the task's
    vectors, gemm, keep pairs ≥ thr. Returns (id_a, id_b, cosine) numpy
    arrays with id_a < id_b — within-block (i == j) keeps the a < b
    order, cross-block normalizes to (min, max) instead of filtering
    (or pairs whose smaller id sits in the right block would be lost).
    The single kernel behind both the exact block-nested-loop and the
    LSH sub-block decomposition — one place to fix, both paths move."""
    import numpy as np

    unit = _unit_rows(pdf["v"])[0]
    ids = pdf["vid"].to_numpy()
    if i == j:
        sims = unit @ unit.T
        ai, bj = np.nonzero(sims >= thr)
        ia, ib, cs = ids[ai], ids[bj], sims[ai, bj]
        keep = ia < ib
        return ia[keep], ib[keep], cs[keep]
    left = pdf["blk"].to_numpy() == i
    right = ~left
    if not left.any() or not right.any():
        empty = np.empty(0, dtype=ids.dtype)
        return empty, empty, np.empty(0, dtype=np.float64)
    sims = unit[left] @ unit[right].T
    ai, bj = np.nonzero(sims >= thr)
    la, rb = ids[left][ai], ids[right][bj]
    return np.minimum(la, rb), np.maximum(la, rb), sims[ai, bj]


def embedding_near_dup_exact(
    embeddings: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int = 8,
    materialize: str = "local",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact: every (a, b) with
    cosine(a, b) >= threshold and a < b. Fully distributed — nothing is
    collected to or broadcast from the driver.

    Two phases:
    1. candidate generation — block nested-loop: each vector hashes into
       one of ``blocks`` buckets; every unordered bucket pair (i, j)
       forms one task that gemms bucket i against bucket j (numpy BLAS,
       not per-row), keeping pairs above ``threshold − 1e-6``. The gemm
       scores the DECIMAL(12,6)-quantized values the verify step
       scores, cast to double: quantization can move a cosine by far
       more than 1e-6 (a raw-float gemm missed pairs whose exact cosine
       reached the threshold), while the double round-off of a 64-term
       dot is ~1e-14, so no true pair can be missed. Shuffle is
       O(n·blocks) rows; peak task memory is two buckets (~2n/blocks
       vectors) — ``blocks`` scales it down;
    2. exact verification — candidates join back (shuffle joins keyed on
       the ids; the candidate set is tiny) to DECIMAL-cast vectors; the
       reported cosine is an exact fixed-point fold (order-independent →
       bit-identical in a SQL oracle).

    Still the O(n²·d / cluster) *exact baseline*: cost grows
    quadratically no matter the blocking. LSH below is the scale path —
    same verify phase, candidates from bucket collisions instead.
    """
    import pandas as pd

    thr = threshold - 1e-6
    repl = _block_pairs(
        embeddings.select(
            F.col(id_col).alias("vid"),
            F.transform(_as_dec_vec(F.col(vec_col)), lambda x: x.cast("double")).alias("v"),
        ),
        blocks,
    )

    def gemm_block_pair(key, pdf):
        ia, ib, _ = _gemm_pair_score(pdf, int(key[0]), int(key[1]), thr)
        return pd.DataFrame({"id_a": ia, "id_b": ib})

    cands = _materialize(
        repl.groupBy("i", "j").applyInPandas(
            gemm_block_pair, schema="id_a long, id_b long"
        ),
        materialize,
        eager=False,
    )

    # exact DECIMAL verification only for vectors that appear in a
    # candidate pair — the fixed-point fold is interpreted (not codegen),
    # so restricting it to the near-dup subset instead of the whole
    # corpus is the difference between O(candidates·d) and O(n·d)
    member_ids = (
        cands.select(F.col("id_a").alias("vid"))
        .unionAll(cands.select(F.col("id_b").alias("vid")))
        .distinct()
    )
    # materialized once (lazily): the a/b join branches below would
    # otherwise each re-run the scan + decimal cast + semi-join + n2
    # fold (r16; same pattern as the signature materializations)
    base = _materialize(
        embeddings.select(
            F.col(id_col).alias("vid"), _as_dec_vec(F.col(vec_col)).alias("dv")
        )
        .join(member_ids, "vid", "left_semi")
        .withColumn("n2", _dec_dot(F.col("dv"), F.col("dv")).cast("double")),
        materialize,
        eager=False,
    )
    return _decimal_cosine_pairs(cands, base, threshold)


def lsh_params(
    n: int,
    threshold: float,
    target_bucket: int = 500,
    baseline_planes: int = 4,
    max_tables: int = 4,
) -> tuple[int, int]:
    """Size (planes, tables) for ``embedding_near_dup_lsh`` at corpus
    size n.

    planes ≈ log2(n / target_bucket) keeps the expected bucket near
    target_bucket, so the per-bucket gemm (sum bucket² ≈ n²/2^planes
    flops) stays LINEAR in n instead of quadratic — at fixed planes a
    10× corpus measured 15.4× runtime. tables then restores the recall
    of the (baseline_planes, 1 table) reference: per-plane collision
    probability p = 1 - θ/π, single-table recall p^K, L tables give
    1-(1-p^K)^L; solve L for the baseline's p^baseline.

    The max_tables cap is the honest limit of sign-bit LSH: for
    BORDERLINE pairs at low thresholds (p → 0.6) and large n, matching
    baseline recall needs more tables than the flops saved — at that
    point the right tool is the IVF path or exact rescoring of a
    coarser candidate set, not more hyperplanes. High-threshold
    near-dup (0.9+, p ≥ 0.9) stays well inside the cap."""
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    planes = max(baseline_planes, math.ceil(math.log2(max(n, 1) / target_bucket)))
    r0 = p**baseline_planes
    pk = p**planes
    if pk >= 1.0 or pk <= 0.0 or r0 >= 1.0:
        return planes, 1
    tables = math.ceil(math.log(1.0 - r0) / math.log(1.0 - pk))
    return planes, min(max(tables, 1), max_tables)


def md5_plane_ints(planes: int, dim: int, salt: str = "lshp") -> list[list[int]]:
    """Deterministic integer hyperplanes: component [p][k] is the first
    byte of md5(f"{salt}:{p}:{k}") minus 128 (symmetric around zero).
    Engine-portable by construction — DuckDB's md5() is the same
    algorithm, so an oracle regenerates the identical matrix in SQL
    (strpos-on-hex-chars byte decode; see the registry oracle). Integer
    components keep every plane dot product inside exact decimal
    arithmetic: no float summation order to disagree on, so the SIGN —
    the bucket bit — matches bit-for-bit across engines."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{salt}:{p}:{k}".encode()).hexdigest()[:2], 16)
            - 128
            for k in range(dim)
        ]
        for p in range(planes)
    ]


def embedding_near_dup_lsh_md5(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.38,
    planes: int = 8,
    salt: str = "lshp",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    materialize: str = "local",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The LSH family's hash-checked face (COVERAGE fold #6): the exact
    hyperplane-bucket → within-bucket pair → exact-cosine pipeline of
    :func:`embedding_near_dup_lsh`, keyed by :func:`md5_plane_ints`
    planes and DECIMAL dot products so a DuckDB oracle replays it
    verbatim — sign bits, bucket strings, candidate set and cosines all
    bit-identical. Production stays on the numpy-gemm twin (random
    Gaussian planes, applyInPandas BLAS scoring, multi-table recall
    sizing); this face pins the family's CANDIDATE SEMANTICS — sign-bit
    bucketing and within-bucket exact verify. Unlike the MinHash and
    SimHash md5 faces, which are ``hash_family="md5"`` runs of their
    production operators, it keeps its own candidate stage: it buckets
    and pre-filters on DECIMAL-quantized values, which the float gemm
    cannot reproduce. The hot-bucket cap (``_hot_keys``) and the exact
    verify (:func:`_decimal_cosine_pairs`) are the shared ones.

    Plan shape mirrors production where it matters at scale: one
    projection computes the bucket (pure JVM expression — built as ONE
    SQL string, not a 512-literal py4j Column chain, the r14
    construction-latency lesson), one shuffle co-locates each bucket,
    pairs are scored within buckets only.

    r16 optimization — same OUTPUT bits, far less interpreted decimal
    arithmetic (guide §1.2 "per-task work" + the §8 verify-less rule):

    - the sign bits are computed in exact LONG arithmetic: a
      DECIMAL(12,6) component times 1e6 is an exact integer, so
      sign(Σ c·v) over integer plane components equals the decimal
      fold's sign bit-for-bit, with 64-bit multiplies instead of
      interpreted BigDecimal ops (bounded: |c| ≤ 128, |v·1e6| < 1e12,
      64 terms → |Σ| < 8.2e15 ≪ 2^63, no overflow);
    - same-bucket pairs are PRE-FILTERED with a double-precision
      cosine at ``threshold − 1e-6``: a 64-term double dot of
      decimal(12,6)-quantized values carries ≤ ~1e-13 relative
      round-off, so no pair whose exact decimal cosine reaches the
      threshold can be dropped (the same argument covers
      ``embedding_near_dup_exact``, whose candidate gemm also scores
      the quantized values, not the raw floats);
    - the exact DECIMAL fold — the face's reason to exist — runs only
      on the handful of surviving candidates (O(near-dups), not
      O(Σ bucket²)), so the reported cosines stay bit-identical to the
      all-decimal form and to the DuckDB oracle.

    The signature/bucket projection is materialized once
    (``materialize=``: local | reliable, operators/materialize.py) so
    the self-join branches don't recompute the plane dots — the same
    pattern the SimHash faces use.

    ``max_bucket_size`` (r17): optional hot-bucket cap — drop every row
    whose bucket holds more than this many vectors BEFORE the self-join.
    Pair generation is O(bucket²): with 2^planes buckets, one degenerate
    bucket (near-constant embedding field, skewed corpus) IS the job at
    scale, the same hazard MinHash bounds with ``max_bucket_df``
    (operators/dedup.py) and the production gemm twin with
    ``sub_blocks``. Dropping a hot bucket loses ALL its pairs — a
    single-table LSH has no second band to recover them through — so
    this is an explicit recall trade for boundedness; the default
    (None) keeps exact single-table LSH candidate semantics (and the
    registry face's oracle contract)."""
    mat = md5_plane_ints(planes, dim, salt)
    src = embeddings.select(
        F.col(id_col).alias("vid"), _as_dec_vec(F.col(vec_col)).alias("dv")
    )

    # exact integer mirror of the decimal vector: scale-6 decimals × 1e6
    # are exact integers, so every plane dot (and its sign — the bucket
    # bit) is exact 64-bit arithmetic
    iv_sql = "transform(dv, x -> cast(x * 1000000 as bigint))"

    def dot_sql(row: list[int]) -> str:
        arr = "array(" + ",".join(f"{c}L" for c in row) + ")"
        return (
            f"aggregate(zip_with(iv, {arr}, (x, y) -> x * y), "
            "0L, (acc, v) -> acc + v)"
        )

    bucket_sql = "concat(" + ",".join(
        f"case when {dot_sql(row)} >= 0 then '1' else '0' end" for row in mat
    ) + ")"
    base = _materialize(
        src.withColumn("iv", F.expr(iv_sql))
        .select(
            "vid",
            "dv",
            F.expr(bucket_sql).alias("bucket"),
            # double shadow vector + norm for the candidate pre-filter
            F.expr("transform(dv, x -> cast(x as double))").alias("fv"),
        )
        .withColumn("fn2", _dot(F.col("fv"), F.col("fv"))),
        materialize,
        eager=False,
    )
    if max_bucket_size is not None:
        base = base.join(
            _hot_keys([base], ["bucket"], max_bucket_size), "bucket", "left_anti"
        )
    a = base.select(
        F.col("vid").alias("id_a"),
        F.col("fv").alias("fva"),
        F.col("fn2").alias("fn2_a"),
        "bucket",
    )
    b = base.select(
        F.col("vid").alias("id_b"),
        F.col("fv").alias("fvb"),
        F.col("fn2").alias("fn2_b"),
        "bucket",
    )
    approx_cos = _dot(F.col("fva"), F.col("fvb")) / F.sqrt(
        F.col("fn2_a") * F.col("fn2_b")
    )
    cands = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(approx_cos >= F.lit(threshold - 1e-6))
        .select("id_a", "id_b")
    )
    # exact DECIMAL verify on the survivors only — identical values to
    # the previous all-decimal pipeline (the double pre-filter cannot
    # drop a true pair, and extra borderline candidates are re-filtered
    # by the exact cosine below)
    dec = base.select(
        "vid", "dv", _dec_dot(F.col("dv"), F.col("dv")).cast("double").alias("n2")
    )
    return _decimal_cosine_pairs(cands, dec, threshold)


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.99,
    planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_blocks: int = 1,
    tables: int = 1,
    group_size_acc=None,
) -> DataFrame:
    """Scale path: hyperplane-bucket the corpus, score pairs only WITHIN
    a bucket. High-cosine pairs share every sign bit with probability
    (1 - θ/π)^planes, so recall is tunable via ``planes`` (unit-tested
    against the exact operator).

    ``group_size_acc``: optional ``max_group_accumulator`` — every gemm
    task records its input row count, so the adversarial-skew tests (and
    production monitoring) can assert the hottest task stayed bounded.

    Shape: one Arrow pass assigns buckets (sign-bit pattern of the
    plane gemm), one shuffle
    groups each bucket onto a task, one numpy gemm per bucket scores its
    pairs (BLAS flops, not an interpreted per-pair fold — the previous
    zip_with verify was 10× slower and dominated the suite). Shuffle is
    O(n) rows; flops Σ bucket². At 100 TB: write the table partitioned
    by bucket and this becomes a per-partition local operation.

    ``sub_blocks``: a pathologically hot bucket (skewed corpus, few
    planes) is otherwise one big task — applyInPandas groups don't
    AQE-split. Setting ``sub_blocks=S`` decomposes every bucket into the
    S·(S+1)/2 unordered sub-block pairs of the exact operator's scheme,
    bounding task memory at ~2·bucket/S vectors for an S× replication of
    the shuffle. Identical output for any value (unit-tested).

    ``tables``: multi-table LSH — L independent hyperplane sets (seeds
    seed..seed+L-1), candidates unioned, pairs deduped. Recall becomes
    1-(1-p^planes)^L instead of p^planes, which is how planes can GROW
    with the corpus (keeping sum(bucket^2) bounded: buckets must track
    n or the per-bucket gemm is the quadratic term — measured 15x on
    10x data at fixed planes=4) without recall collapsing. Cost is a
    ~L× shuffle/flops multiplier; at 100 TB you size planes ≈
    log2(n/target_bucket) first, then buy recall with tables."""
    import pandas as pd

    thr = threshold - 1e-6
    src = embeddings.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    per_table = [
        _assign_sign_buckets(
            src, _plane_matrix(dim, planes, seed + t), "vid", "v"
        ).withColumn("tbl", F.lit(t))
        for t in range(max(tables, 1))
    ]
    withb = per_table[0]
    for more in per_table[1:]:
        withb = withb.unionByName(more)

    def _dedup_pairs(pairs_df: DataFrame) -> DataFrame:
        if tables <= 1:
            return pairs_df  # single table emits each pair once already
        # identical float64 pipeline per table → identical cosine bits;
        # max() is just the deterministic way to keep one
        return pairs_df.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))

    if sub_blocks <= 1:

        def gemm_bucket(key, pdf):
            if group_size_acc is not None:
                group_size_acc.add(len(pdf))
            ia, ib, cs = _gemm_pair_score(pdf, 0, 0, thr)
            return pd.DataFrame({"id_a": ia, "id_b": ib, "cosine": cs})

        return _dedup_pairs(
            withb.groupBy("tbl", "bucket")
            .applyInPandas(gemm_bucket, schema="id_a long, id_b long, cosine double")
            .filter(F.col("cosine") >= threshold)
        )

    # hot-bucket decomposition: replicate each row to every unordered
    # sub-block pair it participates in; each (bucket, i, j) is one task
    repl = _block_pairs(withb, sub_blocks)

    def gemm_bucket_pair(key, pdf):
        if group_size_acc is not None:
            group_size_acc.add(len(pdf))
        # key = (tbl, bucket, i, j); the scoring kernel is shared with
        # the exact operator's block decomposition
        ia, ib, cs = _gemm_pair_score(pdf, int(key[2]), int(key[3]), thr)
        return pd.DataFrame({"id_a": ia, "id_b": ib, "cosine": cs})

    return _dedup_pairs(
        repl.groupBy("tbl", "bucket", "i", "j")
        .applyInPandas(gemm_bucket_pair, schema="id_a long, id_b long, cosine double")
        .filter(F.col("cosine") >= threshold)
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: (id, scale float,
    qvec array<tinyint>) with element ≈ round(v/scale), scale =
    max|v|/127. Cuts embedding storage 4× (the dominant table at
    100 TB); cosine after dequantization is within ~1/127 per axis —
    fine for LSH/IVF candidate generation, with exact rescoring on the
    float originals for the final ranking. Pure Column expressions."""
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x))).cast("double")
    scale = F.when(absmax > 0, absmax / F.lit(127.0)).otherwise(F.lit(1.0))
    # materialize scale as a column BEFORE the per-element transform:
    # embedding the array_max expression inside the lambda would
    # re-evaluate the full-vector max once per element — O(d²) per row
    # on the operator whose whole point is cutting the dominant table's
    # cost
    return (
        embeddings.select(F.col(id_col), v.alias("_v"), scale.alias("_scale"))
        .select(
            F.col(id_col),
            F.col("_scale").cast("float").alias("scale"),
            F.transform(
                F.col("_v"),
                lambda x: F.round(x.cast("double") / F.col("_scale")).cast("tinyint"),
            ).alias("qvec"),
        )
    )


def dequantize_embeddings(
    quantized: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Inverse of ``quantize_embeddings``: (id, vec array<float>) with
    element = qvec[i] · scale."""
    s = F.col("scale").cast("double")
    return quantized.select(
        F.col(id_col),
        F.transform(F.col("qvec"), lambda q: (q.cast("double") * s).cast("float"))
        .alias(vec_col),
    )


def _assign_clusters(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, vec, cluster): nearest-centroid assignment, Arrow-batched
    numpy matmul (one BLAS gemm per batch against the broadcast k×dim
    centroid matrix — the k·dim·n flops run vectorized, not per-row).

    Score is v·c − |c|²/2 (argmax ≡ argmin squared euclidean distance,
    |v|² constant per row); ties pick the lowest cluster id (numpy
    argmax first-occurrence), deterministically. Cluster ids are
    1-based."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64)  # k × dim
    offsets = (cmat * cmat).sum(axis=1) / 2.0  # |c|²/2 per centroid
    sc = embeddings.sparkSession.sparkContext
    bc = sc.broadcast((cmat, offsets))

    src = embeddings.select(F.col(id_col), F.col(vec_col))

    def run(batches):
        mat, off = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            scores = v @ mat.T - off  # n × k
            pdf = pdf.copy()
            pdf["cluster"] = (scores.argmax(axis=1) + 1).astype("int32")
            yield pdf

    id_type = src.schema[id_col].dataType.simpleString()
    # carry the input element type through (same reasoning as
    # _assign_sign_buckets): pinning array<float> would silently
    # truncate array<double> embeddings — and ivf_index_write would
    # PERSIST the truncation into the index
    vec_type = src.schema[vec_col].dataType.simpleString()
    return src.mapInPandas(
        run,
        schema=f"`{id_col}` {id_type}, `{vec_col}` {vec_type}, cluster int",
    )


def ivf_train_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic distributed k-means (Lloyd) for an IVF index.

    - init: the ``n_centroids`` vectors with smallest ``xxhash64(id)``
      (a seeded, order-independent sample — stable across partitionings);
    - assign: Arrow-batched numpy gemm against the broadcast k×dim
      centroid matrix (``_assign_clusters``);
    - update: ``posexplode`` + ``groupBy(cluster, pos).avg`` — one shuffle
      of k·dim aggregates per iteration; only k·dim floats ever reach the
      driver. Empty clusters keep their previous centroid.

    At 100 TB: centroids are a broadcast k·dim matrix; each iteration is
    one scan + one k·dim-sized shuffle. The (id, vec) projection is
    persisted (MEMORY_AND_DISK — the MLlib convention for iterative
    fits) for the loop's lifetime and released before returning: init +
    every iteration read the same rows, so without it Lloyd re-scans and
    re-decodes the source ``iterations + 1`` times. Persisting changes
    neither values nor partitioning, so the trained centroids are
    bit-identical either way.
    """
    src = embeddings.select(F.col(id_col), F.col(vec_col)).persist()
    try:
        init_rows = (
            src.orderBy(F.xxhash64(F.col(id_col).cast("string")), F.col(id_col))
            .limit(n_centroids)
            .collect()
        )
        centroids = [[float(x) for x in r[vec_col]] for r in init_rows]
        if not centroids:
            # empty input: no Lloyd iteration is definable — return the
            # empty centroid set (callers decide whether that is an error;
            # semantic_dedup returns an empty verdict for it) instead of
            # letting numpy raise an opaque AxisError on a 0-d matrix
            return centroids
        for _ in range(iterations):
            assigned = _assign_clusters(src, centroids, id_col, vec_col).select(
                F.col("cluster").alias("__cluster"),
                F.posexplode(F.col(vec_col)).alias("pos", "v"),
            )
            means = (
                assigned.groupBy("__cluster", "pos")
                .agg(F.avg(F.col("v").cast("double")).alias("m"))
                .collect()
            )
            new = {}
            for r in means:
                new.setdefault(r["__cluster"], {})[r["pos"]] = r["m"]
            centroids = [
                [new[i + 1][p] for p in sorted(new[i + 1])] if (i + 1) in new else c
                for i, c in enumerate(centroids)
            ]
        return centroids
    finally:
        src.unpersist()


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cluster) assignment against a trained centroid set. At
    scale, write this partitioned by ``cluster`` so probes prune files."""
    return _assign_clusters(embeddings, centroids, id_col, vec_col)


def _probe_clusters(
    query_vector: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """Driver-side: 1-based ids of the ``nprobe`` centroids nearest the
    query (same v·c − |c|²/2 score as assignment; ties → lower id)."""

    def score(c: list[float]) -> float:
        return sum(a * b for a, b in zip(query_vector, c)) - sum(x * x for x in c) / 2.0

    probe = sorted(range(len(centroids)), key=lambda i: (-score(centroids[i]), i))[:nprobe]
    return [i + 1 for i in probe]


def cosine_topk_ivf(
    embeddings: DataFrame,
    query_vector: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe only the ``nprobe`` clusters whose
    centroids are nearest the query, brute-force cosine inside them.

    Scan fraction ≈ nprobe / n_centroids; recall grows with nprobe
    (nprobe = n_centroids degrades to exact — property used by the unit
    test). Pass a pre-trained ``centroids`` list to skip training (the
    production path: train once, reuse per query)."""
    if centroids is None:
        centroids = ivf_train_centroids(
            embeddings, n_centroids, iterations, id_col, vec_col
        )
    probe_ids = _probe_clusters(query_vector, centroids, nprobe)
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
    candidates = assigned.filter(F.col("cluster").isin(probe_ids)).select(
        id_col, vec_col
    )
    return cosine_topk_bruteforce(candidates, query_vector, k, id_col, vec_col)


# Index metadata sidecar: probes that recompute bucket/cluster routing
# from caller-supplied parameters would silently read the wrong partition
# if those parameters differ from what the index was built with. The
# writers record the build parameters in an underscore-prefixed JSON file
# INSIDE the index directory (parquet scans ignore `_*` files); the probe
# functions validate before pruning (fsutil's sidecar protocol). The
# same file rides on the object store next to _SUCCESS at cluster scale.
_INDEX_META = "_INDEX_META.json"
_INDEX_WRITER = "ivf_index_write/lsh_index_write/semdedup_index_write"


def _centroid_digest(centroids: list[list[float]]) -> str:
    import hashlib

    return hashlib.sha256(
        json.dumps([[float(x) for x in c] for c in centroids]).encode()
    ).hexdigest()


def _ivf_meta(centroids: list[list[float]]) -> dict:
    return {
        "kind": "ivf",
        "dim": len(centroids[0]),
        "n_centroids": len(centroids),
        "centroid_digest": _centroid_digest(centroids),
    }


def ivf_index_write(
    embeddings: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: the assignment table written as Parquet
    PARTITIONED BY cluster — one directory per inverted list. This is
    the 100 TB layout the in-session ``cosine_topk_ivf`` only simulates:
    a probe becomes a partition-pruned scan that never opens the other
    clusters' files (`test_similarity.py` asserts the cluster predicate
    lands in the scan's PartitionFilters)."""
    ivf_assign(embeddings, centroids, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("cluster").parquet(path)
    fsutil.write_sidecar(embeddings.sparkSession, path, _INDEX_META, _ivf_meta(centroids))


def ivf_index_append(
    embeddings: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: assign a NEW batch of vectors to
    the EXISTING centroids and append to the cluster-partitioned layout
    — no re-clustering, no rewrite of the resident lists. This is how a
    100 TB index absorbs a daily embedding batch: each append touches
    only the partitions its vectors land in.

    The centroid digest must match the sidecar — appending under a
    different centroid set would route probes to the wrong lists.
    Contract: ids in the new batch must not already be in the index
    (append is not upsert; a duplicated id would surface twice in a
    probe's candidate set). Re-train + rewrite when drift makes the
    frozen centroids a poor quantizer (the standard IVF trade-off).

    COMPACTION CADENCE: each append lands one small file per
    batch×cluster; a long-running loop should run
    ``dedup.compact_index(spark, path, ["cluster"])`` on a cadence
    (crash-safe rewrite, sidecar survives; same for the LSH layout
    with ``["bucket"]``) — pinned by
    test_ivf_index_compact_bounds_files_and_keeps_results.
    """
    fsutil.check_sidecar(
        embeddings.sparkSession, path, _INDEX_META, _ivf_meta(centroids),
        _INDEX_WRITER,
        "centroids do not match — refusing to append under a different quantizer",
    )
    ivf_assign(embeddings, centroids, id_col, vec_col).write.mode(
        "append"
    ).partitionBy("cluster").parquet(path)


def cosine_topk_ivf_index(
    spark: SparkSession,
    path: str,
    query_vector: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a materialized IVF index: `cluster IN (probe ids)` is a
    partition filter on the cluster-partitioned layout, so the scan reads
    ~nprobe/n_centroids of the files. Train once (``ivf_train_centroids``),
    write once (``ivf_index_write``), probe per query."""
    fsutil.check_sidecar(
        spark, path, _INDEX_META, _ivf_meta(centroids), _INDEX_WRITER,
        "centroids do not match — a probe would prune to the wrong clusters",
    )
    probe_ids = _probe_clusters(query_vector, centroids, nprobe)
    scan = spark.read.parquet(path).filter(F.col("cluster").isin(probe_ids))
    return cosine_topk_bruteforce(
        scan.select(id_col, vec_col), query_vector, k, id_col, vec_col
    )


def lsh_index_write(
    embeddings: DataFrame,
    path: str,
    dim: int,
    planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the LSH layout: vectors written as Parquet PARTITIONED
    BY their sign-bit bucket. A top-k probe (``cosine_topk_lsh_index``)
    or a near-dup pass then reads only the probed bucket's directory —
    the partition-pruned form of the in-session bucket shuffle. The
    plane matrix is fully determined by (dim, planes, seed); those three
    are recorded in the sidecar so a probe with mismatched parameters
    fails loudly instead of reading the wrong bucket."""
    _assign_sign_buckets(
        embeddings, _plane_matrix(dim, planes, seed), id_col, vec_col
    ).write.mode("overwrite").partitionBy("bucket").parquet(path)
    fsutil.write_sidecar(
        embeddings.sparkSession, path, _INDEX_META,
        {"kind": "lsh", "dim": dim, "planes": planes, "seed": seed},
    )


def lsh_index_append(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental LSH maintenance: bucket a NEW batch with the plane
    matrix recorded in the sidecar (so the append can never use planes
    the index wasn't built with) and append to the bucket-partitioned
    layout. Same contract as :func:`ivf_index_append`: batch ids must be
    new; each append touches only the partitions its vectors hash to."""
    meta = fsutil.check_sidecar(
        embeddings.sparkSession, path, _INDEX_META, {"kind": "lsh"}, _INDEX_WRITER
    )
    planes = _plane_matrix(meta["dim"], meta["planes"], meta["seed"])
    _assign_sign_buckets(embeddings, planes, id_col, vec_col).write.mode(
        "append"
    ).partitionBy("bucket").parquet(path)


def _multiprobe_buckets(query_vector, pm, nprobe: int) -> list[int]:
    """The query's own sign-bit bucket plus the next most-likely buckets
    (classic multi-probe LSH): a near neighbour lands across plane i
    with probability rising as the query's margin |q·pᵢ| falls, so
    perturbation sets are enumerated over the lowest-margin planes
    (subsets of size ≤ 3 over the 16 smallest margins — driver-side,
    ≤ 697 candidates) and ranked by total flipped margin. Returns at
    most nprobe distinct buckets, the exact bucket first."""
    import numpy as np

    proj = pm @ np.asarray(query_vector, dtype=np.float64)
    powers = 1 << np.arange(pm.shape[0], dtype=np.int64)
    base = int(((proj >= 0).astype(np.int64) * powers).sum())
    if nprobe <= 1:
        return [base]
    margins = np.abs(proj)
    order = np.argsort(margins)[:16]
    from itertools import combinations

    scored: list[tuple[float, int]] = []
    for r in (1, 2, 3):
        for comb in combinations(order, r):
            idx = list(comb)
            scored.append(
                (float(margins[idx].sum()), base ^ int(powers[idx].sum()))
            )
    scored.sort()
    out = [base]
    seen = {base}
    for _, b in scored:
        if b not in seen:
            seen.add(b)
            out.append(b)
        if len(out) >= nprobe:
            break
    return out


def cosine_topk_lsh_index(
    spark: SparkSession,
    path: str,
    query_vector: list[float],
    k: int = 10,
    planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Query a materialized LSH index: `bucket IN <probe buckets>` is a
    partition filter on the bucket-partitioned layout — the scan opens
    ``nprobe`` directories out of 2^planes (multi-probe: the extra
    buckets are the lowest-margin bit flips, the standard recall knob
    that costs probes, not index copies)."""
    fsutil.check_sidecar(
        spark, path, _INDEX_META,
        {"kind": "lsh", "dim": len(query_vector), "planes": planes, "seed": seed},
        _INDEX_WRITER,
        "(dim, planes, seed) fix the plane matrix — the query would hash "
        "into the wrong bucket",
    )
    pm = _plane_matrix(len(query_vector), planes, seed)
    buckets = _multiprobe_buckets(query_vector, pm, nprobe)
    scan = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
    return cosine_topk_bruteforce(
        scan.select(id_col, vec_col), query_vector, k, id_col, vec_col
    )


def cosine_topk_lsh(
    embeddings: DataFrame,
    query_vector: list[float],
    k: int = 10,
    planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: only score vectors in the query's hyperplane
    bucket(s). At 100 TB the bucketed table is written partitioned by
    bucket, so a query prunes to ``nprobe`` partitions — multi-probe
    (lowest-margin bit flips) trades probes for recall without extra
    index copies.

    Bucket assignment is the shared numpy sign-bit gemm — one Arrow
    pass instead of ``planes`` interpreted folds per row."""
    pm = _plane_matrix(len(query_vector), planes, seed)
    buckets = _multiprobe_buckets(query_vector, pm, nprobe)
    assigned = _assign_sign_buckets(embeddings, pm, id_col, vec_col)
    candidates = assigned.filter(F.col("bucket").isin(buckets)).select(id_col, vec_col)
    return cosine_topk_bruteforce(candidates, query_vector, k, id_col, vec_col)
