"""The two registry workloads: ``chain_analytics`` and ``corpus_ops``.

One closed-loop client runs whole sweeps over a pinned list of registry
queries, each sweep in an order drawn from the seed. One operation is
``QueryDef.build`` followed by ``toPandas`` on the built DataFrame.

Set-up generates the tables, starts nothing new (the session is shared)
and runs one warm-up sweep, which fills the per-process fixtures
(``QueryDef.prewarm``), the table cache and the code-generation caches.
Its results are the reference for the run: each is compared once with
the DuckDB oracle where the registry has one, and every later sample of
the query must hash to the same canonical result.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pandas as pd

from .measure import Op, OpLog
from .tables import write_tables
from .tracing import catalyst_phases, now_ms

# Scale of the generated tables, in TPC-H scale-factor units. The suite
# is bound by driver work and job scheduling, not data volume (a warm
# sweep of the chain queries takes 11 s at sf0.001 and 16 s at sf0.01),
# so a small scale keeps set-up short without changing what is
# measured.
SCALE = 0.003

# Dashboard and read-path queries (plans/analytics, chainops,
# compat_queries, derived_queries, relational): Catalyst and execution
# dominate, builds are small.
CHAIN_ANALYTICS = [
    "balances_pyramid",
    "token_balances",
    "unique_token_holders",
    "avg_gas_by_type",
    "gas_price_percentiles",
    "top10_with_names",
    "wallet_to_wallet_daily",
    "fee_vs_miner_join",
    "abi_decode_transfer",
    "trace_parent_errors",
    "compat_balances_pyramid",
    "compat_grafana_topk",
    "compat_grafana_timeseries",
    "compat_insights_panels",
    "derived_token_transactions",
    "scan_projection",
    "unprocessed_anti_join",
    "pricing_summary",
]

# Training-data pipeline queries (plans/pipeline, plans/ml_queries): the
# driver-side build and the eager jobs it launches dominate. Chosen for
# the code later work is aimed at: eager multi-job builds
# (dedup_components, gas_price_model_eval), the nine-stage chain
# (clean_corpus_e2e), the memoised expression trees (text_quality,
# lm_perplexity_quality), the md5 dedup faces (minhash, simhash), exact
# dedup, and five quick operators (sessionising, vocabulary top-k,
# benchmark decontamination, embedding top-k, BPE pair counts), so two
# sweeps give enough samples for the percentiles.
CORPUS_OPS = [
    "dedup_exact",
    "dedup_components",
    "minhash_lsh_candidates_md5",
    "simhash_near_duplicates_md5",
    "text_quality",
    "lm_perplexity_quality",
    "clean_corpus_e2e",
    "gas_price_model_eval",
    "sessionize_gap",
    "vocabulary_topk",
    "decontaminate_benchmark",
    "ann_cosine_topk",
    "bpe_pairs",
]

# One sweep is too few samples for a steady median: the measured loop
# runs whole sweeps, at least two, until the run's seconds have passed.
MIN_SWEEPS = 2

PINNED = {"chain_analytics": CHAIN_ANALYTICS, "corpus_ops": CORPUS_OPS}


def result_digest(pdf: pd.DataFrame, canon) -> str:
    """Order-insensitive digest of a query result (oracle ``canon`` form)."""
    c = canon(pdf)
    h = hashlib.sha1("|".join(map(str, c.columns)).encode())
    if len(c):
        h.update(pd.util.hash_pandas_object(c, index=False).values.tobytes())
    return h.hexdigest()


class RegistryWorkload:
    def __init__(self, ctx, name: str):
        import oracle_check  # tools/, on sys.path from run.py

        self.checker = oracle_check
        self.ctx = ctx
        self.name = name
        self.names = PINNED[name]
        self.rng = np.random.default_rng(ctx.seed)

    # ---- set-up ---------------------------------------------------------
    def setup(self, log: OpLog) -> None:
        from ethereum_analytical_db_spark.plans.registry import all_queries

        ctx = self.ctx
        self.sf = os.path.join(ctx.work, "sf")
        counts = write_tables(self.sf, ctx.seed, SCALE)
        ctx.note(f"tables at sf{SCALE}: {counts}")
        registry = all_queries()
        self.queries = {}
        for n in self.names:
            if n in registry:
                self.queries[n] = registry[n]
            else:  # a pinned query the registry lost is a failed operation
                log.checked(False, f"pinned query {n!r} missing from the registry")
        self.reference: dict[str, str] = {}
        self.warm: dict[str, pd.DataFrame] = {}
        for n in self.rng.permutation(list(self.queries)):
            q = self.queries[n]
            try:
                if q.prewarm is not None:
                    q.prewarm(ctx.spark, self.sf)
                pdf = q.build(ctx.spark, self.sf).toPandas()
            except Exception as exc:  # noqa: BLE001 - counted, run continues
                log.checked(False, f"warm-up {n}: {type(exc).__name__}: {exc}")
                continue
            self.reference[n] = result_digest(pdf, self.checker.canon)
            self.warm[n] = pdf

    def check(self, log: OpLog) -> None:
        """Oracle comparison of the warm-up results, once per run."""
        ctx = self.ctx
        con = self.checker.duckdb.connect()
        try:
            from ethereum_analytical_db_spark.plans.registry import TABLE_NAMES

            for t in TABLE_NAMES:
                con.execute(
                    f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"'{self.sf}/{t}.parquet'"
                )
            checked = 0
            for n, pdf in self.warm.items():
                q = self.queries[n]
                if q.oracle is None:
                    continue
                problems = self.checker.compare(n, pdf, con.execute(q.oracle).fetchdf())
                checked += 1
                log.checked(not problems, f"oracle {n}: " + "; ".join(problems))
            ctx.note(f"oracle: {checked} of {len(self.queries)} pinned queries compared with DuckDB")
        finally:
            con.close()
            self.warm = {}

    # ---- measured loop --------------------------------------------------
    def run(self, log: OpLog, seconds: float, trace: bool) -> None:
        ctx = self.ctx
        names = [n for n in self.names if n in self.reference]
        start = time.perf_counter()
        sweep = 0
        while True:
            # a traced run traces every other query, the other half in the
            # next sweep, so each query has traced and untraced samples
            for i, n in enumerate(self.rng.permutation(names)):
                self._one(log, n, trace and (i + sweep) % 2 == 1)
            sweep += 1
            if sweep >= MIN_SWEEPS and time.perf_counter() - start >= seconds:
                break
        ctx.note(f"{sweep} sweeps of {len(names)} queries")

    def _one(self, log: OpLog, name: str, traced: bool) -> None:
        ctx = self.ctx
        q = self.queries[name]
        op = Op(log.new_id("q"), name, traced)
        sc = ctx.spark.sparkContext
        try:
            if traced:
                sc.setJobGroup(f"{op.id}/build", name)
            t0 = now_ms()
            df = q.build(ctx.spark, self.sf)
            t1 = now_ms()
            if traced:
                sc.setJobGroup(f"{op.id}/collect", name)
            pdf = df.toPandas()
            t2 = now_ms()
        except Exception as exc:  # noqa: BLE001 - counted, run continues
            log.checked(False, f"{name}: {type(exc).__name__}: {exc}")
            return
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        op.start, op.end = t0, t2
        if traced:
            op.spans.append(("plans.build", t0, t1))
            op.spans.append(("collect", t1, t2))
            for phase, (s, e) in catalyst_phases(df).items():
                op.spans.append((f"catalyst.{phase}", s, e))
            op.counts["collect.rows"] = len(pdf)
            op.counts["collect.result_bytes"] = int(pdf.memory_usage(deep=True).sum())
        ok = result_digest(pdf, self.checker.canon) == self.reference[name]
        log.done(op, ok, f"{name}: result differs from the warm-up result")
