"""Chain-shaped scalar-function queries over the synthetic tables:
hex words / calldata / trace trees are synthesized from integer keys,
decoded with the engine's expressions (F6 hex→ether, F9 ABI decode,
X4/X5 trace ops, the W2/T7 reorg serve path), and each oracle verifies
against direct arithmetic — proving the decode itself, not just string
plumbing. The F1/F10 uint256+clamp decodes moved to
derived_token_transactions in the r12 fold #3 (comment below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import traces
from . import frozen
from .registry import register, table

# The standalone uint256_decode micro-query (F1 high-limb/decimals
# decode + F10 supply clamp over orders) was RETIRED in r12 (COVERAGE.md
# fold #3): its F1 evidence is carried by derived_token_transactions'
# golden vectors (G1 has both 64-bit limbs nonzero, G3 is 2^124) and its
# F10 clamp columns were rebuilt verbatim as that query's hash-checked
# supply_dec2/supply_dec0; the freed oracle slot promoted
# bpe_pairs (plans/pipeline.py). The decode/clamp Column functions
# themselves live on in functions/ethereum.py with the hypothesis
# property suite (tests/test_properties.py).
#
# F2 topic→address, F6 hex→ether, F10 supply clamp, and the P6 LIKE
# AND-chain had standalone micro-queries through rounds 4-5; all are
# exercised (and driver-hash-checked) elsewhere — F2 by
# derived_token_transactions' from/to extraction (plans/derived.py:64-65),
# F6 by trace_id_assignment's ether_value column below, F10 by
# derived_token_transactions' supply columns (fold #3), P6 by derived_contracts' real
# selector sets — so their slots in the driver's 50-entry oracle window go
# to decontaminate_benchmark, pii_scrub_stats, lm_perplexity_quality and
# stratified_sample_counts (plans/pipeline.py), per the round-4/5 reviews.


@register(
    "abi_decode_transfer",
    """
    SELECT c_custkey,
           'transfer' AS fn_name,
           concat('0x', substring(lpad(lower(hex(c_custkey)), 64, '0'), 25, 40)) AS to_addr,
           CAST(c_custkey * 3 AS VARCHAR) AS amount
    FROM customer WHERE c_custkey <= 200
    """,
    note="F9/X2 ABI calldata decode (reference operations/inputs.py:15-53) "
    "through decode_inputs_joined, the decoder sync-once ships: every row "
    "calls one contract whose ABI rides as a one-row (id, abi) frame; "
    "calldata synthesized as transfer(address,uint256) words from the key",
)
def abi_decode_transfer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    from ..functions import abi as abi_mod

    token = "0x" + "ab" * 20
    cust = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    word = F.lpad(F.lower(F.hex(F.col("c_custkey"))), 64, "0")
    word3 = F.lpad(F.lower(F.hex(F.col("c_custkey") * 3)), 64, "0")
    calldata = F.concat(F.lit("0xa9059cbb"), word, word3)
    # ≤200 rows reach the pandas UDF — shuffle them into one Arrow batch
    # (repartition, NOT coalesce: coalesce would collapse the parquet scan
    # itself to one task; at real scale default partitioning is right)
    df = cust.select(
        "c_custkey", calldata.alias("input"), F.lit(token).alias("to")
    ).repartition(1)
    transfer = {
        "type": "function",
        "name": "transfer",
        "inputs": [{"type": "address"}, {"type": "uint256"}],
    }
    abi = spark.range(1).select(
        F.lit(token).alias("id"), F.lit(_json.dumps([transfer])).alias("abi")
    )
    out = abi_mod.decode_inputs_joined(df, abi)
    return out.select(
        "c_custkey",
        F.col("decoded.name").alias("fn_name"),
        F.element_at("decoded.params_value", 1).alias("to_addr"),
        F.element_at("decoded.params_value", 2).alias("amount"),
    )


def _synthetic_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events reshaped into a trace-tree fact: user_id plays the
    transaction hash, traceAddress depth cycles 0/1/2 off event_id, and
    'error'-typed events fail. Deterministic, so the DuckDB oracle can
    rebuild the identical tree in SQL."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    e = F.col("event_id")
    ta = (
        F.when(e % 3 == 0, F.array().cast("array<bigint>"))
        .when(e % 3 == 1, F.array(e % 5))
        .otherwise(F.array(e % 5, e % 7))
    )
    return ev.select(
        "event_id",
        F.col("user_id").alias("tx"),
        ta.alias("traceAddress"),
        F.when(F.col("event_type") == "error", F.lit("Reverted")).alias("error"),
    )


_TRACE_CTE = """
    WITH tr AS (
      SELECT event_id, user_id AS tx,
             CASE WHEN event_id % 3 = 0 THEN []::BIGINT[]
                  WHEN event_id % 3 = 1 THEN [event_id % 5]
                  ELSE [event_id % 5, event_id % 7] END AS ta,
             CASE WHEN event_type = 'error' THEN 'Reverted' END AS error
      FROM events WHERE event_id < 20000
    )
"""


@register(
    "trace_id_assignment",
    _TRACE_CTE
    + """
    SELECT event_id,
           tx || '.' || CAST(row_number() OVER (PARTITION BY tx ORDER BY ta, event_id) - 1 AS VARCHAR) AS id,
           CAST(event_id * 3 AS DOUBLE) / 1e18 AS ether_value
    FROM tr
    """,
    note="X5 positional trace-id assignment (reference "
    "operations/internal_transactions.py:235-251) as row_number over "
    "(tx, canonical trace order); event_id tie-break keeps it total. Also "
    "carries F6 ingest-side hex→float64 ether (reference "
    "operations/internal_transactions.py:296-303: int(value_hex, 0)/1e18) "
    "on the same trace fixture, folded in from the former hex_value_ingest "
    "micro-query",
)
def trace_id_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _synthetic_traces(spark, sf_dir)
    out = traces.assign_trace_ids(
        tr, tx_col="tx", order_col=F.struct("traceAddress", "event_id")
    )
    value_hex = F.concat(F.lit("0x"), F.lower(F.hex(F.col("event_id") * 3)))
    decoded = (
        F.conv(F.substring(value_hex, 3, 100), 16, 10).cast("double") / F.lit(1e18)
    )
    return out.select("event_id", "id", decoded.alias("ether_value"))


@register(
    "trace_parent_errors",
    _TRACE_CTE
    + """
    SELECT a.event_id,
           CASE WHEN EXISTS (
             SELECT 1 FROM tr f
             WHERE f.tx = a.tx AND f.error IS NOT NULL
               AND len(f.ta) < len(a.ta)
               AND a.ta[1:len(f.ta)] = f.ta
           ) THEN TRUE END AS parent_error
    FROM tr a
    """,
    note="X4 parent-error propagation (reference trie walk "
    "operations/internal_transactions.py:253-274) as a strict-prefix "
    "semi-join within the transaction; clean rows stay NULL "
    "(Nullable(UInt8) tri-state, schema/schema.py:28)",
)
def trace_parent_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _synthetic_traces(spark, sf_dir).withColumn(
        "id", F.col("event_id").cast("string")
    )
    out = traces.propagate_parent_errors(
        tr, tx_col="tx", trace_addr_col="traceAddress"
    )
    return out.select("event_id", "parent_error")


# reorg warehouse root, built ONCE per session (plans/frozen.memo:
# pid-suffixed dir, atexit removal, dead-pid orphan sweep), then every
# invocation measures the serve side: a FINAL read resolving the upsert
# stream + tombstones. The build is the reference-shaped ingest story:
# v1 = every block's facts from the then-canonical chain, v2 = a fork
# re-ingest of a subset, reconcile_chain tombstoning the orphans whose
# block is covered by the canonical dim (operators/reorg.py).
def _reorg_warehouse(spark: SparkSession, sf_dir: str) -> str:
    from ..catalog import Warehouse
    from ..operators.reorg import reconcile_chain
    from .registry import table as _table

    def build(root: str) -> str:
        wh = Warehouse(spark, root)
        ev = _table(spark, sf_dir, "events")
        v1 = ev.select(
            F.col("event_id").cast("string").alias("id"),
            F.col("user_id").cast("int").alias("blockNumber"),
            F.md5(F.col("user_id").cast("string")).alias("blockHash"),
            F.lit("v1").alias("data"),
        )
        wh.create("event")
        wh.write("event", v1)
        # fork re-ingest: a deterministic subset arrives again with a
        # non-canonical blockHash — last-write-wins makes the fork
        # version the live row until reconciliation
        v2 = v1.filter(F.expr("CAST(id AS BIGINT) % 7 = 3")).select(
            "id",
            "blockNumber",
            F.md5(F.concat(F.col("blockNumber").cast("string"), F.lit(":fork")))
            .alias("blockHash"),
            F.lit("v2").alias("data"),
        )
        wh.write("event", v2)
        # canonical dim covers only the even blocks (reconcile what the
        # node vouches for, touch nothing else — reorg.py contract)
        canon = (
            ev.select(F.col("user_id").alias("number"))
            .filter(F.col("number") % 2 == 0)
            .distinct()
            .withColumn("hash", F.md5(F.col("number").cast("string")))
        )
        reconcile_chain(wh, canon, tables=("event",))
        return root

    return frozen.memo("reorg_wh", sf_dir, build)


@register(
    "reorg_canonical",
    """
    WITH v1 AS (
      SELECT CAST(event_id AS VARCHAR) AS id, user_id AS bn,
             md5(CAST(user_id AS VARCHAR)) AS bh, 'v1' AS version, 1 AS seq
      FROM events
    ), v2 AS (
      SELECT CAST(event_id AS VARCHAR) AS id, user_id AS bn,
             md5(CAST(user_id AS VARCHAR) || ':fork') AS bh, 'v2' AS version,
             2 AS seq
      FROM events WHERE event_id % 7 = 3
    ), u AS (
      SELECT * FROM v1 UNION ALL SELECT * FROM v2
    ), live AS (
      SELECT id, bn, bh, version,
             row_number() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
      FROM u
    )
    SELECT CAST(id AS BIGINT) AS event_id,
           CAST(bn AS BIGINT) AS block_number,
           bh AS block_hash,
           version
    FROM live
    WHERE rn = 1
      AND NOT (bn % 2 = 0 AND bh <> md5(CAST(bn AS VARCHAR)))
    """,
    note="T7+/W2 canonical-chain reorg reconciliation end-to-end "
    "(operators/reorg.py + catalog tombstones): v1 ingest of every "
    "event-derived fact, fork re-ingest of ids %7==3 (last-write-wins "
    "makes the fork row live), reconcile_chain tombstones the live "
    "rows whose block is covered by the canonical dim (even blocks) "
    "but carries the fork hash; the query is the SERVE side — a FINAL "
    "read resolving upserts + tombstones (covered fork keys vanish, "
    "uncovered fork keys stay as v2, untouched keys stay v1). Oracle "
    "= the same upsert stream as a DuckDB window + the tombstone "
    "predicate. Exceeds the reference, which stores blockHash but "
    "never reconciles (schema/schema.py:7)",
    prewarm=_reorg_warehouse,  # one-time fork-warehouse build out of
    # the timed band (r12 VERDICT task 2: it widened the serve-side
    # variance band enough to trip the gate on a loaded box)
)
def reorg_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import Warehouse

    root = _reorg_warehouse(spark, sf_dir)
    wh = Warehouse(spark, root)
    return wh.read("event", final=True).select(
        F.col("id").cast("long").alias("event_id"),
        F.col("blockNumber").cast("long").alias("block_number"),
        F.col("blockHash").alias("block_hash"),
        F.col("data").alias("version"),
    )
