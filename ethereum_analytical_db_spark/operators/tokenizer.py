"""Distributed BPE tokenizer training + encoding over a document corpus.

Beyond the reference's scope (it stores and serves chain data; see
SURVEY north-star additions) — part of the training-data pack alongside
``operators/dedup.py``: a large-scale pipeline that cleans 100 TB of
text usually also TRAINS the tokenizer on it, and the classic
byte-pair-encoding trainer (Sennrich et al. 2016) is a sequence of
corpus-wide aggregations — exactly Spark's shape.

Scale design (the part that matters at 100 TB):

- ``word_frequencies`` is the ONLY corpus-sized operation: one
  explode + groupBy(word) shuffle reduces the corpus to its distinct
  -word frequency table (vocabulary-sized — millions of rows, not
  billions). Everything after runs on that reduction; this is the same
  trick Sennrich's reference trainer uses in one process, expressed as
  one Spark aggregation.
- the merge loop runs on the REDUCTION, and the reduction is
  vocabulary-sized by construction — which is why every production BPE
  trainer (Sennrich's reference, HF tokenizers, SentencePiece) runs it
  in one process. ``train_bpe`` therefore collects the (word, freq)
  table to the driver when it fits a cell budget (``mode="auto"``,
  the default) and runs the EXACT greedy loop locally with incremental
  pair-count maintenance — 32k+ merges cost seconds of driver CPU and
  ZERO additional Spark rounds, instead of one scheduled job per merge
  (~0.27 s/round of pure scheduling latency → hours at a production
  vocabulary; the r12 scale hole, closed in r13).
- when the vocabulary genuinely exceeds the driver budget
  (``mode="auto"`` over the threshold, or ``mode="distributed"``),
  each training iteration is a pair-count aggregation over the
  vocabulary table (k·|V| work, one |pairs|-sized shuffle) plus a
  driver-side argmax of ONE row; the per-iteration symbol-array
  rewrite is a pure JVM ``aggregate`` fold (no Python in the loop);
  lineage is cut every iteration via ``operators/materialize.py``
  (``local`` for speed, ``reliable`` for clusters where executor loss
  is routine — same knob as the connected-components loop in dedup).
  Both paths are rank-for-rank identical — pinned by the cross-path
  and pure-Python parity tests in tests/test_tokenizer.py.
- ``encode_bpe`` is embarrassingly parallel: Arrow-batched pandas with
  the rank table broadcast, memoized per distinct word within each
  batch (vocabulary ≪ corpus, so most words encode via a dict hit).

Semantics: merges never cross word boundaries (training operates on the
whitespace-split word-frequency table); no explicit end-of-word marker
is appended — the token stream is per-word, GPT-2-style rather than
original-paper ``</w>`` style. Deterministic tie-break everywhere:
(pair frequency DESC, left symbol ASC, right symbol ASC) — pinned by
the pure-Python parity test in tests/test_tokenizer.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import materialize as _materialize

import re as _re

# constructs whose semantics differ between Java regex (F.split on the
# training side) and Python re (encode_bpe's splitter) — or exist in
# only one engine: \p{...} property classes, \uXXXX escapes, \Q...\E
# quoting, \R/\X/\G, named-backref \k / Python \g, \z vs \Z anchor
# semantics, possessive quantifiers (X++), and the two engines'
# incompatible named-group syntaxes
_DIVERGENT_SPLIT = _re.compile(
    r"\\[pPuQERXGkgzZ]"
    r"|[+*?}]\+"
    r"|\(\?P"
    r"|\(\?<(?![=!])"
    r"|&&"  # Java-only character-class intersection [a&&[b]]
)


def _validate_split(split: str) -> None:
    """Reject separator regexes outside the Java/Python-common subset.

    Training applies ``split`` via Java regex (``F.split``) while
    :func:`encode_bpe` applies it via Python ``re`` — a pattern the two
    engines read differently makes train and encode tokenize
    DIFFERENTLY with no error anywhere (r13 advisor: the old docstring
    caveat was the only guard). Plain separators (the default space,
    ``\\s+``, ``\\n``, ``[ ,;]``) pass; engine-divergent constructs
    raise here, at call time, on BOTH sides.

    The ``\\s``/``\\w``/``\\d``/``\\b`` classes are allowed because the
    encode side compiles with ``re.ASCII`` (r14 review find): Java's
    classes are ASCII-only by default while Python's match Unicode, so
    an NBSP in scraped text would split under Python but not under
    Java — ``re.ASCII`` pins both engines to the identical ASCII sets
    ([ \\t\\n\\x0b\\f\\r], [a-zA-Z0-9_], [0-9])."""
    if split == " ":
        return
    m = _DIVERGENT_SPLIT.search(split)
    if m:
        raise ValueError(
            f"split regex {split!r} uses {m.group(0)!r}, which Java regex "
            "(training, F.split) and Python re (encode_bpe) do not read "
            "the same way — train and encode would silently tokenize "
            "differently. Stick to the common subset (literal "
            "separators, \\s/\\t/\\n classes, bracket classes, +/*) or "
            "pre-split the text into a words column"
        )
    try:
        _re.compile(split, _re.ASCII)
    except _re.error as e:
        raise ValueError(
            f"split regex {split!r} does not compile under Python re "
            f"({e}) — encode_bpe could never apply it"
        ) from None


def word_frequencies(
    docs: DataFrame, text_col: str = "text", split: str = " "
) -> DataFrame:
    """(word, freq): the corpus → vocabulary reduction — the one
    corpus-sized shuffle of the whole trainer. Empty tokens (leading /
    trailing / doubled separators) are dropped.

    ``split`` is a REGEX (it feeds ``F.split``); the same value must be
    passed to :func:`encode_bpe`, which applies it via Python ``re`` —
    identical for the plain separators this is meant for (the default
    single space, ``\\s+``, ``\\n``), though exotic patterns should
    stick to the Java/Python-common regex subset. Training with one
    separator and encoding with another silently diverges — the r12
    advisor find that motivated threading the knob through both sides;
    engine-divergent patterns are rejected by :func:`_validate_split`
    (r13 advisor).
    """
    _validate_split(split)
    return (
        docs.select(F.explode(F.split(F.col(text_col), split)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def char_symbols(word_col) -> F.Column:
    """Initial BPE state: the word as an array of single characters
    (pure Column — transform over 1..length, JVM-side). Empty strings
    yield an empty array — guarded explicitly because Spark's
    ``sequence(1, 0)`` counts DOWN to [1, 0] instead of being empty."""
    col = F.col(word_col) if isinstance(word_col, str) else word_col
    return F.when(
        F.length(col) == 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(col)),
            lambda i: col.substr(i, F.lit(1)),
        )
    )


def adjacent_pairs(sym_col) -> F.Column:
    """A word's adjacent symbol pairs as
    ``array<struct<left_sym,right_sym>>``: a zip of the array against
    itself shifted by one (two ``slice`` calls — no posexplode
    double-scan, and safe on single-symbol words where ``slice`` with
    length 0 yields an empty array, unlike ``sequence(1, 0)`` which
    would count DOWN). ``greatest(sz-1, 0)``: train_bpe's tables never
    hold empty arrays (words are non-empty and merges only shrink to
    ≥1 symbol), but as a public helper a zero-size array must yield no
    pairs, not a negative-length slice error."""
    sym = F.col(sym_col) if isinstance(sym_col, str) else sym_col
    ln = F.greatest(F.size(sym) - 1, F.lit(0))
    return F.zip_with(
        F.slice(sym, F.lit(1), ln),
        F.slice(sym, F.lit(2), ln),
        lambda a, b: F.struct(a.alias("left_sym"), b.alias("right_sym")),
    )


def symbol_pair_counts(sym_wf: DataFrame, sym_col: str = "symbols") -> DataFrame:
    """(left_sym, right_sym, pair_freq) over a (symbols, freq) table —
    explode :func:`adjacent_pairs` weighted by word frequency."""
    return (
        sym_wf.select(F.col("freq"), F.explode(adjacent_pairs(sym_col)).alias("p"))
        .groupBy(
            F.col("p.left_sym").alias("left_sym"),
            F.col("p.right_sym").alias("right_sym"),
        )
        .agg(F.sum("freq").alias("pair_freq"))
    )


def bpe_pair_counts(
    docs: DataFrame, text_col: str = "text", top_k: int | None = 100
) -> DataFrame:
    """First-iteration BPE statistics straight off a corpus: character
    -pair frequencies weighted by word frequency, deterministically
    ordered (freq DESC, left ASC, right ASC). This is the fully
    SQL-expressible face of the trainer — the registry's hash-checked
    entry point."""
    wf = word_frequencies(docs, text_col)
    counts = symbol_pair_counts(wf.withColumn("symbols", char_symbols("word")))
    out = counts.orderBy(
        F.col("pair_freq").desc(),
        F.col("left_sym").asc(),
        F.col("right_sym").asc(),
    )
    return out.limit(top_k) if top_k else out


def apply_merge(sym_col, left: str, right: str) -> F.Column:
    """One BPE merge pass over a symbol array, as a pure JVM
    ``aggregate`` fold: left-to-right, non-overlapping (after merging
    [.., left+right], the merged token is the new tail, so an
    overlapping occurrence — e.g. merge (a,a) on [a,a,a] — correctly
    yields [aa, a])."""
    sym = F.col(sym_col) if isinstance(sym_col, str) else sym_col
    merged = left + right

    def step(acc, s):
        hit = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right))
        )
        return F.when(
            hit,
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(sym, F.array().cast("array<string>"), step)


def apply_merges(sym_col, picks: list[tuple[str, str]]) -> F.Column:
    """One combined left-to-right merge pass applying a SET of
    symbol-disjoint merge rules simultaneously — the distributed batch
    path's rewrite. A single JVM ``aggregate`` fold whose step resolves
    the merged token through a CASE chain over the batch (one array
    pass per row regardless of batch size, vs one full
    :func:`apply_merge` pass per rule).

    Equivalence to applying each rule as its own full pass (what the
    sequential greedy loop does) REQUIRES the safety conditions
    :func:`select_merge_batch` enforces: the rules' symbol sets are
    pairwise disjoint (their occurrences can never overlap, so the
    rewrites commute) and no rule's merged token is an existing symbol
    (so a rewrite can never create a new match for another rule in the
    batch)."""
    sym = F.col(sym_col) if isinstance(sym_col, str) else sym_col

    def step(acc, s):
        last = F.element_at(acc, -1)
        merged = F.lit(None).cast("string")
        for left, right in reversed(picks):
            merged = F.when(
                (last == F.lit(left)) & (s == F.lit(right)),
                F.lit(left + right),
            ).otherwise(merged)
        hit = (F.size(acc) > 0) & merged.isNotNull()
        return F.when(
            hit,
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(sym, F.array().cast("array<string>"), step)


def select_merge_batch(
    candidates: list[tuple[str, str, int]],
    existing_symbols: set[str],
    min_freq: int,
    max_batch: int,
    table_exhausted: bool = False,
) -> list[tuple[str, str, int]]:
    """Pick the longest PREFIX of the rank-ordered pair table that can
    be merged in one distributed round while preserving the exact
    sequential greedy order (r13 VERDICT task 3). Pure driver-side
    function — the exactness argument, pinned by the batched-vs-local
    property tests in tests/test_tokenizer.py:

    - **prefix only**: a skipped candidate may still be the next true
      argmax, so picking anything ranked below it would reorder the
      merge list. The scan stops at the first unpickable candidate.
    - **symbol-disjoint**: merging (a,b) can only change counts of
      pairs that share a symbol with it, so a disjoint pair's count —
      and therefore its turn as argmax, and its recorded frequency —
      is untouched by the batch's earlier picks.
    - **self-pairs end the batch**: merging (a,a) over runs creates
      (aa, a)/(aa, aa) pairs whose counts are bounded by the pick's
      OWN frequency rather than the stop candidate's, so nothing
      ranked below a self-pair is provably next — it becomes the
      batch's last member (r14 hypothesis counterexample).
    - **no collision with an existing symbol OR an earlier pick's
      merged token**: if merged token l+r is already a symbol (string
      collision across merge history, e.g. "ab"+"c" vs "a"+"bc"),
      merging (l,r) can INCREASE the count of existing pairs
      containing "l+r" — the one way a non-picked pair's count can
      rise above a pick's. ``existing_symbols`` is a driver-kept
      SUPERSET (initial charset + every merged token), so the check is
      conservative: a false hit only costs batch size. The same-BATCH
      variant is just as dangerous (r14 review find): two picks whose
      merged tokens are the same string, e.g. (x,yz) and (xy,z) both
      yielding "xyz", let one new pair ("xyz", q) accumulate counts
      from BOTH picks' occurrences — up to 2×``bound``, past the
      frequency-margin guarantee — so a candidate whose merged token
      repeats an earlier pick's stops the scan.
    - **frequency margin with exact tie analysis**: every NEW pair
      created by a pick has count bounded by the count of some old
      pair sharing a symbol with that pick, and (prefix rule) every
      such old pair ranks after the last pick — so its frequency is at
      most the stop candidate's (``bound``). A pick strictly above
      ``bound`` can therefore never be beaten by a new pair. A pick AT
      ``bound`` can only be beaten by a new pair that reaches exactly
      ``bound`` and wins the (left, right) tie-break — and because a
      tying new pair's source must itself have frequency == ``bound``,
      every possible tying new pair's NAME is computable from the
      fetched window: (x, mᵢ) from source (x, leftᵢ), (mᵢ, y) from
      (rightᵢ, y), plus the (mᵢ, mⱼ) pick-pick combinations. The pick
      survives iff every such name sorts after it. This needs the
      window to provably contain ALL pairs at ``bound`` (its tail
      frequency is below ``bound``, or ``table_exhausted``); otherwise
      the tied pick is conservatively dropped back into the table.
    - **fallback**: when the rules leave nothing, the plain top-1 merge
      is emitted alone — the argmax is unconditionally exact.
    """
    picks: list[tuple[str, str, int]] = []
    used: set[str] = set()
    batch_merged: set[str] = set()
    bound = 0
    stop_at = len(candidates)
    for idx, (left, right, freq) in enumerate(candidates):
        merged = left + right
        if (
            freq < min_freq
            or len(picks) >= max_batch
            or left in used
            or right in used
            or merged in existing_symbols
            or merged in batch_merged
        ):
            bound = int(freq)
            stop_at = idx
            break
        picks.append((left, right, int(freq)))
        used.update((left, right))
        batch_merged.add(merged)
        if left == right:
            # self-pair picks END the batch (r14 hypothesis
            # counterexample): merging (a,a) over runs creates
            # (aa, a) / (aa, aa) pairs whose counts are bounded by THIS
            # pick's OWN frequency, not by the stop candidate's — e.g.
            # batching [(ba,ba,4),(a,a,1)] skips the (baba,ba,2) merge
            # sequential greedy takes between them. No later pick's
            # rank is provable past a self-pair, so it is the batch's
            # last member.
            stop_at = idx + 1
            bound = (
                int(candidates[idx + 1][2])
                if idx + 1 < len(candidates)
                else 0
            )
            break
    window_covers = table_exhausted or (
        bool(candidates) and candidates[-1][2] < bound
    )
    ties = {(x, y) for (x, y, f) in candidates[stop_at:] if f == bound}
    kept: list[tuple[str, str, int]] = []
    prior: list[tuple[str, str, str]] = []  # (left, right, merged) of kept
    for left, right, freq in picks:
        if freq > bound:
            safe = True
        elif freq == bound and window_covers:
            names: set[tuple[str, str]] = set()
            for li, ri, mi in prior:
                for x, y in ties:
                    if y == li:
                        names.add((x, mi))
                    if x == ri:
                        names.add((mi, y))
                for l2, _r2, m2 in prior:
                    # (mᵢ, mⱼ) needs an original (rightᵢ, leftⱼ)
                    # adjacency at the bound frequency to reach a tie
                    if (ri, l2) in ties:
                        names.add((mi, m2))
            safe = all(
                not (nl < left or (nl == left and nr < right))
                for nl, nr in names
            )
        else:
            safe = False
        if not safe:
            break  # prefix rule applies to the kept set too
        kept.append((left, right, freq))
        prior.append((left, right, left + right))
    picks = kept
    if not picks and candidates and candidates[0][2] >= min_freq:
        left, right, freq = candidates[0]
        picks = [(left, right, int(freq))]
    return picks


def select_merge_batch_relaxed(
    candidates: list[tuple[str, str, int]],
    existing_symbols: set[str],
    min_freq: int,
    max_batch: int,
    min_pick_ratio: float = 0.0,
) -> list[tuple[str, str, int]]:
    """Skip-and-continue batch selection for ``exact_order=False``
    training: take EVERY candidate in rank order whose symbols are
    disjoint from all already-taken picks and whose merged token is not
    an existing symbol, skipping (rather than stopping at) interfering
    candidates.

    Within one batch the picks are still mutually consistent (disjoint
    symbols + no collision → the combined :func:`apply_merges` pass
    equals applying them one by one), but the GLOBAL greedy order is
    not preserved: a skipped candidate may have deserved its turn
    before a later pick, so the learned table can differ from the
    sequential reference in order and, through count evolution, in
    membership. This is the standard trade every batched/parallel BPE
    trainer makes — measured ~14-20 merges per round where the exact
    selector gets 1.1-4, at ~12-13% more encoded tokens AT EQUAL MERGE
    BUDGET (adversarial and natural corpora alike); at equal ROUND
    budget relaxed wins decisively because it affords several times
    the merges (numbers in SCALE.md).

    ``min_pick_ratio`` is the interference-aware quality knob (r14
    VERDICT task 6): once a candidate has been SKIPPED for
    interference, later picks must keep ``freq >= min_pick_ratio ×
    (highest skipped frequency)`` or the batch ends. The skipped
    candidate is usually the next link of a high-value merge CHAIN
    (the mechanism behind the equal-merge-budget toll: breadth picks
    spend table slots the chain deserved); the floor stops the batch
    before it commits to picks far below that deferred value. 0.0
    (default) is the pure skip-and-continue scan; 1.0 never picks past
    the first interference (exact-prefix-like round counts). Measured
    curve: SCALE.md §"r15: relaxed-mode quality floor"."""
    picks: list[tuple[str, str, int]] = []
    used: set[str] = set()
    best_skipped = 0
    for left, right, freq in candidates:
        if freq < min_freq or len(picks) >= max_batch:
            break
        if min_pick_ratio > 0.0 and freq < min_pick_ratio * best_skipped:
            break
        if left in used or right in used or (left + right) in existing_symbols:
            best_skipped = max(best_skipped, int(freq))
            continue
        picks.append((left, right, int(freq)))
        used.update((left, right))
    if not picks and candidates and candidates[0][2] >= min_freq:
        left, right, freq = candidates[0]
        picks = [(left, right, int(freq))]
    return picks


def train_bpe_local(
    words: list[tuple[str, int]],
    num_merges: int,
    min_freq: int = 2,
) -> list[tuple[str, str, int]]:
    """Exact greedy BPE over an in-memory (word, freq) table — the
    driver-local engine behind ``train_bpe(mode="driver")``.

    Same semantics as the sequential reference, made viable at real
    vocabulary sizes by INCREMENTAL pair-count maintenance (Sennrich's
    own trick): a merge re-scans only the words that contain the merged
    pair (an inverted pair → word-ids index), and the argmax is a
    lazy-deletion heap keyed (-freq, left, right) — exactly the
    (freq DESC, left ASC, right ASC) tie-break the distributed path and
    the parity tests pin. Python string comparison is code-point order,
    which equals Spark's UTF8-binary string order for valid UTF-8, so
    the tie-break agrees across paths. Per merge the cost is
    O(occurrences touched · word length), not O(|vocab|): 1k+ merges
    run in well under a second on a test vocabulary and a 32k-merge
    production build is driver-seconds, with ZERO Spark rounds."""
    import heapq

    syms: list[list[str]] = []
    freqs: list[int] = []
    for w, f in words:
        if w:
            syms.append(list(w))
            freqs.append(int(f))
    pair_counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for idx in range(len(syms)):
        s, f = syms[idx], freqs[idx]
        for a, b in zip(s, s[1:]):
            p = (a, b)
            pair_counts[p] = pair_counts.get(p, 0) + f
            where.setdefault(p, set()).add(idx)
    heap = [(-c, p[0], p[1]) for p, c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str, int]] = []
    while len(merges) < num_merges and heap:
        negc, left, right = heapq.heappop(heap)
        cur = pair_counts.get((left, right), 0)
        if cur != -negc or cur <= 0:
            continue  # stale entry: count changed since it was pushed
        if cur < min_freq:
            break  # valid heap top IS the global argmax; all below ≤ it
        merges.append((left, right, cur))
        pair = (left, right)
        merged = left + right
        touched: set[tuple[str, str]] = set()
        # a left-to-right non-overlapping pass removes EVERY occurrence
        # of the merged pair (overlaps collapse into the merged token),
        # so its membership set is consumed whole
        for idx in where.pop(pair, ()):
            s, f = syms[idx], freqs[idx]
            old_pairs = list(zip(s, s[1:]))
            out: list[str] = []
            i, n = 0, len(s)
            while i < n:
                if i < n - 1 and s[i] == left and s[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[idx] = out
            new_pairs = list(zip(out, out[1:]))
            for p in old_pairs:
                pair_counts[p] -= f
            for p in new_pairs:
                pair_counts[p] = pair_counts.get(p, 0) + f
            old_set, new_set = set(old_pairs), set(new_pairs)
            for p in old_set - new_set:
                s_ids = where.get(p)
                if s_ids is not None:
                    s_ids.discard(idx)
            for p in new_set:
                where.setdefault(p, set()).add(idx)
            touched |= old_set | new_set
        touched.discard(pair)
        pair_counts.pop(pair, None)
        for p in touched:
            c = pair_counts.get(p, 0)
            if c > 0:
                heapq.heappush(heap, (-c, p[0], p[1]))
            else:
                pair_counts.pop(p, None)
                where.pop(p, None)
    return merges


def train_bpe(
    docs: DataFrame,
    num_merges: int = 32,
    text_col: str = "text",
    min_freq: int = 2,
    materialize: str = "local",
    mode: str = "auto",
    driver_max_cells: int = 20_000_000,
    split: str = " ",
    batch_merges: int = 64,
    exact_order: bool = True,
    relaxed_min_pick_ratio: float = 0.5,
    stats: dict | None = None,
) -> list[tuple[str, str, int]]:
    """Greedy BPE training: ``num_merges`` rounds of (count pairs →
    argmax → rewrite symbols). Returns the learned merge table as
    [(left, right, pair_freq)] in rank order — driver-sized by
    construction. Stops early when the best remaining pair's frequency
    drops below ``min_freq`` (merging hapax pairs memorizes the corpus).

    The corpus is touched exactly once (``word_frequencies``); the
    merge loop runs on the vocabulary-sized reduction. ``mode`` picks
    where that loop runs:

    - ``"driver"``: collect the (word, freq) table and run the exact
      local loop (:func:`train_bpe_local`) — zero Spark rounds in the
      loop, so a 32k-merge production vocabulary costs driver-seconds
      instead of hours of per-round job scheduling. This is what every
      single-process BPE trainer does; the reduction is the same one
      they hold in memory.
    - ``"distributed"``: the fallback for vocabularies too large to
      collect. Each round is one vocabulary-sized Spark job (pair
      counts → top ``batch_merges``+1 collect) followed by ONE combined
      rewrite applying every merge :func:`select_merge_batch` proves
      safe to take simultaneously — non-interfering merges batch into
      a single round, so the ~0.27 s/round scheduling floor is paid
      per BATCH, not per merge (r13 VERDICT task 3; rank-for-rank
      exactness argued in :func:`select_merge_batch` and pinned by the
      batched-vs-local property tests). Exact batching is bounded by
      symbol interference — merge chains and shared frequent symbols
      are inherently serial, measured 1.1-4 merges/round by corpus
      (SCALE.md); ``exact_order=False`` switches to skip-and-continue
      selection (:func:`select_merge_batch_relaxed`), the standard
      batched-trainer trade: many merges/round, same-quality but not
      rank-identical tables. ``relaxed_min_pick_ratio`` (default 0.5)
      is its quality floor — picks must stay within that ratio of the
      best interference-skipped candidate's frequency, ending the
      batch early rather than spending table slots far below a
      deferred merge chain. Measured (SCALE.md §"r15: relaxed-mode
      quality floor", natural Zipf + adversarial corpora): 0.5 cuts the
      equal-merge-budget token toll from +7-13% to ~+1% for ~25-50%
      more rounds; 0.0 restores the r14 pure scan. ``stats`` (optional
      dict) gets ``{"rounds": N, "path": ...}`` for observability.
    - ``"auto"`` (default): driver iff the symbol table fits
      ``driver_max_cells`` total characters (cells ≈ list slots; the
      default 20M is a few hundred MB of driver heap — raise it on a
      big driver before falling back to distributed rounds)."""
    if mode not in ("auto", "driver", "distributed"):
        raise ValueError(
            f"mode {mode!r}: expected 'auto', 'driver' or 'distributed'"
        )
    if batch_merges < 1:
        raise ValueError(f"batch_merges {batch_merges!r}: expected >= 1")
    wf = _materialize(
        word_frequencies(docs, text_col, split), materialize, eager=False
    )
    # one vocabulary-sized aggregate: realizes the lazy checkpoint and
    # yields both the row count (distributed loop's parallelism sizing)
    # and the cell count (the driver-fit decision)
    vocab_stats = wf.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length("word")), F.lit(0)).alias("cells"),
    ).first()
    n_vocab, cells = int(vocab_stats["n"]), int(vocab_stats["cells"])
    if mode == "driver" or (mode == "auto" and cells <= driver_max_cells):
        rows = wf.collect()  # vocabulary-sized by construction
        if stats is not None:
            stats["rounds"] = 0
            stats["path"] = "driver"
        return train_bpe_local(
            [(r["word"], r["freq"]) for r in rows], num_merges, min_freq
        )

    wf = wf.withColumn("symbols", char_symbols("word"))
    # driver-side SUPERSET of every symbol that has ever existed:
    # initial charset (one tiny distinct over the vocabulary table) +
    # every merged token as it is learned. select_merge_batch needs it
    # for the no-collision rule; a superset only costs batch size.
    symbol_superset: set[str] = {
        r["c"]
        for r in wf.select(F.explode("symbols").alias("c")).distinct().collect()
    }
    # right-size the loop's parallelism to the VOCABULARY (the corpus
    # shuffle above inherited spark.sql.shuffle.partitions — 31 distinct
    # words across 32 tasks would pay 16 rounds of empty-task scheduling;
    # a billion-word corpus with a 10M-word vocabulary gets ~150). The
    # aggregate above realized the lazy checkpoint, so the coalesce below
    # is a narrow op over pinned blocks.
    parts = max(
        1,
        min(
            docs.sparkSession.sparkContext.defaultParallelism,
            -(-n_vocab // 65536),
        ),
    )
    if wf.rdd.getNumPartitions() > parts:
        wf = wf.coalesce(parts)
    merges: list[tuple[str, str, int]] = []
    rounds = 0
    while len(merges) < num_merges:
        fetch = min(batch_merges, num_merges - len(merges))
        # extra window rows cost nothing beyond the collect (the pair
        # aggregation runs regardless): 2×batch lets the exact tie
        # analysis prove window coverage at plateau frequencies; the
        # relaxed scan skips past interference, so a deeper window
        # directly buys batch size (measured at sf10: 8× window fills
        # 64-pick batches where 2× found ~5)
        window = fetch * (2 if exact_order else 8) + 1
        top = (
            symbol_pair_counts(wf)
            .orderBy(
                F.col("pair_freq").desc(),
                F.col("left_sym").asc(),
                F.col("right_sym").asc(),
            )
            # window+1 so "the table had exactly `window` rows" is
            # distinguishable from "the window truncated it" — the
            # len(candidates) < window form misclassified the former as
            # non-exhausted, costing an extra round at plateau
            # frequencies (r14 advice)
            .limit(window + 1)
            .collect()
        )
        rounds += 1
        candidates = [
            (r["left_sym"], r["right_sym"], int(r["pair_freq"])) for r in top
        ]
        if not candidates or candidates[0][2] < min_freq:
            break
        if exact_order:
            picks = select_merge_batch(
                candidates,
                symbol_superset,
                min_freq,
                fetch,
                table_exhausted=len(candidates) <= window,
            )
        else:
            picks = select_merge_batch_relaxed(
                candidates,
                symbol_superset,
                min_freq,
                fetch,
                min_pick_ratio=relaxed_min_pick_ratio,
            )
        if not picks:  # every candidate < min_freq
            break
        merges.extend(picks)
        symbol_superset.update(l + r for l, r, _ in picks)
        if len(merges) >= num_merges:
            break  # no next round: building its state would be waste
        pick_pairs = [(l, r) for l, r, _ in picks]
        wf = _materialize(
            wf.withColumn("symbols", apply_merges("symbols", pick_pairs)),
            materialize,
            eager=False,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["path"] = "distributed"
    return merges


def bpe_vocabulary(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    split: str = " ",
) -> DataFrame:
    """The token vocabulary the learned tokenizer can emit: the corpus's
    distinct characters (every unmerged symbol is reachable) plus one
    token per merge. One small distinct over the vocabulary-sized word
    table; the merge side is driver-sized by construction."""
    spark = docs.sparkSession
    chars = (
        word_frequencies(docs, text_col, split)
        .select(F.explode(char_symbols("word")).alias("token"))
        .distinct()
        .withColumn("source", F.lit("char"))
    )
    # 1 slice: the merge list is driver-sized; a plain list would be
    # split into defaultParallelism near-empty task launches per action
    merged = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(l + r, "merge") for l, r, _ in merges], 1
        ),
        "token string, source string",
    )
    return chars.unionByName(merged)


def merge_table(spark, merges: list[tuple[str, str, int]]) -> DataFrame:
    """The learned merges as a DataFrame (rank, left_sym, right_sym,
    pair_freq) — the artifact a pipeline persists next to its corpus."""
    return spark.createDataFrame(
        # driver-sized table: 1 slice → 1 task, not defaultParallelism
        spark.sparkContext.parallelize(
            [(i, l, r, f) for i, (l, r, f) in enumerate(merges)], 1
        ),
        "rank int, left_sym string, right_sym string, pair_freq bigint",
    )


def encode_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bpe_tokens",
    split: str = " ",
) -> DataFrame:
    """Apply a learned merge table to a corpus → (id, tokens,
    n_tokens). Arrow-batched pandas with the rank dict broadcast;
    encoding is memoized per distinct word within each batch (the
    vocabulary is far smaller than the corpus, so almost every word is
    a dict hit). The per-word greedy loop (always merge the
    lowest-rank adjacent pair first) matches training replay exactly —
    pinned by the round-trip test.

    ``split`` must be the SAME regex training used (see
    :func:`word_frequencies`) — applied here via Python ``re``, with
    the plain single-space default taking a fast literal path. Training
    with one separator and encoding with another silently diverges (r12
    advisor find)."""
    import re

    import pandas as pd

    _validate_split(split)
    sc = docs.sparkSession.sparkContext
    ranks_bc = sc.broadcast({(l, r): i for i, (l, r, _) in enumerate(merges)})
    # re.ASCII pins \s/\w/\d/\b to Java regex's ASCII semantics — the
    # training side splits via F.split (see _validate_split)
    sep_re = None if split == " " else re.compile(split, re.ASCII)

    src = docs.select(F.col(id_col), F.col(text_col))
    id_type = src.schema[id_col].dataType.simpleString()

    def encode_word(word: str, ranks) -> list[str]:
        syms = list(word)
        while len(syms) > 1:
            best, best_rank = None, None
            for i in range(len(syms) - 1):
                rank = ranks.get((syms[i], syms[i + 1]))
                if rank is not None and (best_rank is None or rank < best_rank):
                    best, best_rank = i, rank
            if best is None:
                break
            # merge ALL occurrences of the winning pair, left-to-right
            pair = (syms[best], syms[best + 1])
            out, i = [], 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and (syms[i], syms[i + 1]) == pair
                ):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def run(batches):
        ranks = ranks_bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            memo: dict[str, list[str]] = {}

            def enc_text(text) -> list[str]:
                # NULL text tolerated as empty, matching the training
                # side (word_frequencies drops it via split(NULL)→NULL)
                if not isinstance(text, str):
                    return []
                toks: list[str] = []
                words = (
                    text.split(" ") if sep_re is None else sep_re.split(text)
                )
                for w in words:
                    if not w:
                        continue
                    got = memo.get(w)
                    if got is None:
                        got = memo[w] = encode_word(w, ranks)
                    toks.extend(got)
                return toks

            out = pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    out_col: [enc_text(t) for t in pdf[text_col]],
                }
            )
            out["n_tokens"] = [len(t) for t in out[out_col]]
            yield out

    return src.mapInPandas(
        run,
        schema=f"`{id_col}` {id_type}, `{out_col}` array<string>, n_tokens int",
    )
