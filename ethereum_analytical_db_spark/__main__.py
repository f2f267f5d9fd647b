"""CLI entry point — the reference's ``extractor.py`` command surface
(reference extractor.py:6-43: a click group dispatching named operations
like prepare-database / start / extract-traces over one database),
re-expressed over the Spark warehouse:

    python -m ethereum_analytical_db_spark prepare    --warehouse DIR
    python -m ethereum_analytical_db_spark sync-once  --warehouse DIR --fixtures DIR
    python -m ethereum_analytical_db_spark sync       --warehouse DIR --fixtures DIR --max-passes N
    python -m ethereum_analytical_db_spark export-csv --warehouse DIR --table T --out PATH

``prepare`` materializes the warehouse layout (reference
prepare-database = prepare_indices_and_views); ``sync-once`` runs one
``SyncPipeline`` pass — blocks → traces → events → derived refresh —
exactly the reference's ``synchronize`` stage order
(operations/clickhouse.py:151-172); ``sync`` loops it; ``export-csv`` is
the S16 sink. The JSON-RPC side runs through the file-backed transport
(--fixtures) or a real node (--rpc-url); both are picklable factories,
so the per-partition fetches stay on executors.
"""

from __future__ import annotations

import argparse
import functools
import json
import sys

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import schemas
from .catalog import Warehouse, paginate
from .functions import abi as abi_fn
from .functions import ethereum as eth
from .plans import derived
from .session import get_spark
from .sources import enrich, files, rpc
from .streaming import incremental as inc


def _file_transport(fixture_dir: str) -> rpc.FileJsonRpcTransport:
    return rpc.FileJsonRpcTransport(fixture_dir)


def _http_transport(url: str) -> rpc.RetryTransport:
    # real-node path gets the bounded-backoff retry wrapper (T6); the
    # fixture transport is deterministic and needs none
    return rpc.RetryTransport(rpc.HttpJsonRpcTransport(url))


def make_transport_factory(args):
    if args.fixtures:
        return functools.partial(_file_transport, args.fixtures)
    if args.rpc_url:
        return functools.partial(_http_transport, args.rpc_url)
    raise SystemExit("need --fixtures DIR or --rpc-url URL for sync commands")


def _latest_block(args, factory) -> int:
    """Chain head: --max-block wins, else ask the node (eth_blockNumber,
    like the reference's utils.get_max_block)."""
    if args.max_block is not None:
        return int(args.max_block)
    resp = rpc._post_matched(
        factory(),
        [{"jsonrpc": "2.0", "id": 0, "method": "eth_blockNumber", "params": []}],
    )[0]
    result = resp.get("result")
    if result is None:
        raise SystemExit(
            "eth_blockNumber returned nothing — pass --max-block explicitly"
        )
    return int(str(result), 0)


# ---- stages (each: Warehouse -> None, idempotent by upsert + flags) ----


def extract_blocks(wh: Warehouse, factory, head: int) -> None:
    """Reference extract-blocks (operations/blocks.py): insert block rows
    [0, head] that the warehouse doesn't have yet, with timestamps."""
    want = wh.spark.range(0, head + 1).select(F.col("id").alias("number"))
    if wh.exists("block"):
        have = wh.read("block").select("number")
        want = want.join(have, "number", "left_anti")
    if want.isEmpty():
        return
    blocks = rpc.fetch_block_timestamps(want, factory)
    wh.write("block", blocks)


def _flags(wh: Warehouse):
    """block_flag table, or an empty frame on a fresh warehouse (sync
    before prepare) — nothing is flagged yet either way."""
    if wh.exists("block_flag"):
        return wh.read("block_flag")
    return wh.spark.createDataFrame([], schemas.TABLES["block_flag"])


def extract_traces(wh: Warehouse, factory) -> None:
    """Reference extract-traces: trace_block for every block not yet
    flagged, decode, upsert, then flag (flags after data, so a crash
    between the two re-extracts rather than skips)."""
    todo = inc.unprocessed_blocks(
        wh.read("block"), _flags(wh), "traces_extracted"
    )
    if todo.isEmpty():
        return
    raw = rpc.fetch_traces(todo, factory)
    # chain-transaction gasPrice merged onto each tx's top-level trace
    # row (reference _merge_block) — without it the balances API's fee
    # aggregates are silently zero
    txs = rpc.fetch_block_transactions(todo, factory)
    decoded = rpc.merge_transaction_gas(rpc.decode_traces(raw), txs)
    # block-range hive partitioning: incremental sync appends only tail
    # directories and block predicates prune at the scan (catalog.py
    # write() docstring — the 100 TB layout, on the production path)
    wh.write(
        "internal_transaction",
        decoded,
        block_partition="blockNumber",
    )
    inc.write_block_flags(wh, todo.select("id"), "traces_extracted")


def extract_events(wh: Warehouse, factory, range_size: int) -> None:
    """Reference extract-events: eth_getLogs over range windows of the
    not-yet-flagged blocks (operations/events.py EVENTS_RANGE_SIZE)."""
    todo = inc.unprocessed_blocks(
        wh.read("block"), _flags(wh), "events_extracted"
    )
    if todo.isEmpty():
        return
    # frame form: ranges go scan→task without a driver round-trip (a
    # full-chain backfill at range_size=5 is millions of ranges)
    ranges = inc.block_ranges_frame(todo, range_size)
    events = rpc.fetch_events(ranges, factory)
    wh.write("event", events, block_partition="blockNumber")
    inc.write_block_flags(wh, todo.select("id"), "events_extracted")


def refresh_contracts(wh: Warehouse) -> None:
    """Reference prepare-contracts-view: contract table from traces."""
    if wh.exists("internal_transaction"):
        wh.write("contract", derived.contracts(wh.read("internal_transaction")))


def refresh_token_transactions(wh: Warehouse) -> None:
    """Reference prepare-erc-transactions-view: decoded transfers joined
    to the token-decimals dim."""
    if wh.exists("event") and wh.exists("contract_description"):
        dim = wh.read("contract_description")
        if not dim.isEmpty():
            wh.write(
                "token_transaction",
                derived.token_transactions(wh.read("event"), dim),
            )


def derived_refresh(wh: Warehouse) -> None:
    """Reference prepare-contracts-view + prepare-erc-transactions-view:
    refresh the derived tables from the raw ones after each pass."""
    refresh_contracts(wh)
    refresh_token_transactions(wh)


# per-contract watermark flag names: reference utils._get_flag_name with
# ClickhouseInputs.block_prefix = "inputs_decoded" (operations/inputs.py)
TX_INPUT_FLAG = "itx_inputs_decoded_block"
EVENT_INPUT_FLAG = "event_inputs_decoded_block"

# reference operations/inputs.py:131-151 pages contracts through the
# sync; same bound here for the driver-side HTTP enrichment loops
ENRICH_PAGE_SIZE = 1000


def extract_tokens(wh: Warehouse, call, tokens_meta: dict | None = None) -> None:
    """Reference extract-tokens (operations/contract_methods.py:72-114):
    ERC-20-flagged contracts not yet described (anti-join on
    contract_description id) → eth_call constants with per-type fallback
    (S11) → supply scale/round/clamp (F10) → contract_description upsert,
    enriched with tokens.json cmc_id/website_slug links when provided
    (reference _set_external_links, contract_methods.py:60-70)."""
    if not wh.exists("contract"):
        return
    erc20 = (
        wh.read("contract").filter(F.col("standard_erc20") == 1).select("address")
    )
    if wh.exists("contract_description"):
        done = wh.read("contract_description").select(F.col("id").alias("address"))
        erc20 = erc20.join(done, "address", "left_anti")
    meta_rows = [
        (a, m.get("cmc_id"), m.get("website_slug"))
        for a, m in (tokens_meta or {}).items()
    ]
    mdf = (
        wh.spark.createDataFrame(
            meta_rows, "id string, cmc_id string, website_slug string"
        )
        if meta_rows
        else None
    )
    # HTTP enrichment pages through the to-do dim (reference
    # operations/inputs.py:131-151 page semantics): the driver holds one
    # page of addresses + fetched rows at a time, never the full dim —
    # each page upserts independently, so a crash resumes at the
    # anti-join above (already-described contracts drop out)
    for page in paginate(erc20, ENRICH_PAGE_SIZE):
        addresses = [r["address"] for r in page]
        desc = enrich.read_contract_constants(wh.spark, addresses, call)
        out = desc.select(
            F.col("address").alias("id"),
            F.col("name").alias("token_name"),
            F.col("symbol").alias("token_symbol"),
            F.col("decimals"),
            eth.supply_rounded(F.col("totalSupply"), F.col("decimals"))
            .cast("long")
            .alias("total_supply"),
            F.col("owner").alias("token_owner"),
        )
        if mdf is not None:
            out = out.join(F.broadcast(mdf), "id", "left")
        wh.write("contract_description", out)


def download_abis(wh: Warehouse, fetch_abi) -> None:
    """Reference download-contracts-abi (operations/contracts.py:55-72):
    contracts not yet ATTEMPTED (J4 left-anti on abi_extracted,
    contracts.py:97-101) → HTTP ABI fetch → contract_abi upsert;
    abi_extracted records the attempt even on failure so unverified
    contracts aren't refetched forever."""
    if not wh.exists("contract"):
        return
    todo = wh.read("contract").select("address")
    if wh.exists("contract_abi"):
        attempted = (
            wh.read("contract_abi")
            .filter(F.col("abi_extracted").isNotNull())
            .select(F.col("id").alias("address"))
        )
        todo = todo.join(attempted, "address", "left_anti")
    # paged like extract_tokens: one page of addresses on the driver at
    # a time; abi_extracted marks each attempt so a crash mid-pass
    # resumes at the anti-join without refetching finished pages
    for page in paginate(todo, ENRICH_PAGE_SIZE):
        addresses = [r["address"] for r in page]
        wh.write(
            "contract_abi",
            enrich.fetch_contract_abis(wh.spark, addresses, fetch_abi),
        )


def _parse_inputs(wh: Warehouse, source: str, stage: str, flag: str, keep,
                  addr_col: str, input_expr, include_events: bool,
                  out_table: str) -> None:
    """One parse-inputs stage: ``source`` rows passing ``keep`` that
    target an ABI'd contract, sliced to the per-contract watermark
    window (T2, ``inc.watermark_slice``) below the ``stage`` flag's
    high-water mark, decoded by the selector of ``input_expr`` against
    the target's ABI (F9/X2) → ``out_table``, then ``flag`` advances.

    The ABI dim stays a DATAFRAME, never a driver dict: at chain scale
    the verified-contract dim is ~10⁷ contracts × KBs of ABI JSON — GBs
    that must stay distributed (the reference pages it,
    operations/inputs.py:131-151)."""
    if not wh.exists("contract_abi") or not wh.exists(source):
        return
    max_block = inc.max_flagged_block(_flags(wh), stage)
    if max_block is None:
        return
    abis = wh.read("contract_abi")
    # cached: the todo dim feeds the emptiness check, the slice join,
    # and the watermark advance — one materialization, never collected
    todo = inc.parse_inputs_todo(
        wh, abis.filter(F.col("abi").isNotNull()), flag, max_block
    ).cache()
    try:
        if todo.isEmpty():
            return
        rows = inc.watermark_slice(
            wh.read(source).filter(keep), todo, max_block, addr_col
        ).select("id", addr_col, input_expr.alias("_input"))
        decoded = abi_fn.decode_inputs_joined(
            rows, abis, input_col="_input", address_col=addr_col,
            include_events=include_events,
        )
        out = decoded.filter(F.col("decoded").isNotNull()).select(
            "id",
            F.col("decoded.name").alias("name"),
            F.col("decoded.params_type").alias("params_type"),
            F.col("decoded.params_value").alias("params_value"),
        )
        if not out.isEmpty():
            wh.write(out_table, out)
        inc.advance_watermarks(wh, todo, flag, max_block)
    finally:
        todo.unpersist()


def parse_transactions_inputs(wh: Warehouse) -> None:
    """Reference parse-transactions-inputs (operations/inputs.py:196-224,
    SURVEY §3.2): calls targeting ABI'd contracts (filter
    callType='call' AND error IS NULL, inputs.py:217-220), per-contract
    incremental slice, Arrow-batched selector decode (F9/X2) →
    transaction_input."""
    keep = (F.col("callType") == "call") & F.col("error").isNull() & F.col("input").isNotNull()
    _parse_inputs(wh, "internal_transaction", "traces_extracted", TX_INPUT_FLAG,
                  keep, "to", F.col("input"), False, "transaction_input")


def parse_events_inputs(wh: Warehouse) -> None:
    """Reference parse-events-inputs (operations/inputs.py:222-241): the
    event variant — pseudo-calldata rebuilt from topics+data
    (topic0[0:10] ++ topics[1:] ++ data, F9 event pseudo-input) and
    decoded against the EMITTING contract's ABI, event entries included
    (inputs.py:38-39)."""
    pseudo = F.concat(
        F.substring(F.get(F.col("topics"), 0), 1, 10),
        F.array_join(
            F.transform(
                F.slice(F.col("topics"), 2, F.greatest(F.size("topics") - 1, F.lit(0))),
                lambda t: t.substr(F.lit(3), F.length(t)),  # strip '0x'
            ),
            "",
        ),
        F.coalesce(F.col("data").substr(F.lit(3), F.length("data")), F.lit("")),
    )
    _parse_inputs(wh, "event", "events_extracted", EVENT_INPUT_FLAG,
                  F.col("id").isNotNull(), "address", pseudo, True, "event_input")


def download_prices(wh: Warehouse, fetch_history) -> None:
    """Reference download-prices (operations/token_prices.py:60,79-130 +
    131-156): daily close-vs-BTC history per described token symbol,
    5-point trailing moving average with warm-up (W1 — raw close until
    the window fills) rounded to 10 decimals into the BTC column; row id
    '{address}_{YYYY-mm-dd}'."""
    if not wh.exists("contract_description"):
        return
    toks = (
        wh.read("contract_description")
        .filter(F.col("token_symbol").isNotNull())
        .select("id", "token_symbol")
    )
    tokens = [(r["id"], r["token_symbol"]) for r in toks.collect()]
    if not tokens:
        return
    raw = enrich.fetch_daily_prices(wh.spark, tokens, fetch_history)
    if raw.isEmpty():
        return
    w = Window.partitionBy("address").orderBy("timestamp")
    rn = F.row_number().over(w)
    ma = F.avg("close").over(w.rowsBetween(-4, 0))
    out = raw.select(
        "id",
        "address",
        F.round(F.when(rn >= 5, ma).otherwise(F.col("close")), 10).alias("BTC"),
        F.timestamp_seconds(F.col("timestamp")).alias("timestamp"),
    )
    wh.write("price", out)


def _constants_call_from_args(args):
    if not getattr(args, "constants_json", None):
        return None
    constants = _load_json(args.constants_json, "--constants-json FILE")

    def call(addr: str, method: str, _rettype: str):
        return constants.get(addr, {}).get(method)

    return call


def _tokens_meta_from_args(args):
    if not getattr(args, "tokens_json", None):
        return None
    return {t["address"]: t for t in _load_json(args.tokens_json, "--tokens-json")}


def _abi_fetcher_from_args(args):
    if getattr(args, "abi_dir", None):
        import os

        def fetch(addr: str) -> str | None:
            p = os.path.join(args.abi_dir, f"{addr}.json")
            if not os.path.isfile(p):
                return None
            with open(p) as fh:
                return fh.read()

        return fetch
    if getattr(args, "etherscan_url", None):
        import urllib.request

        def fetch(addr: str) -> str | None:  # pragma: no cover - live HTTP
            url = f"{args.etherscan_url}&address={addr}"
            with urllib.request.urlopen(url, timeout=30) as resp:
                body = json.loads(resp.read())
            abi = body.get("result")
            return abi if body.get("status") == "1" else None

        return fetch
    return None


def _prices_fetcher_from_args(args):
    if not getattr(args, "prices_json", None):
        return None
    histories = _load_json(args.prices_json, "--prices-json FILE")
    return lambda symbol: histories.get(symbol, [])


def build_pipeline(wh: Warehouse, args) -> inc.SyncPipeline:
    factory = make_transport_factory(args)
    # resolve the chain head lazily INSIDE the blocks stage so a looping
    # `sync` re-reads eth_blockNumber each pass and keeps ingesting blocks
    # mined after startup (reference synchronize re-reads the max block per
    # pass); an explicit --max-block still pins it
    stages = [
        ("blocks", lambda w: extract_blocks(w, factory, _latest_block(args, factory))),
        ("traces", lambda w: extract_traces(w, factory)),
        ("events", lambda w: extract_events(w, factory, args.range_size)),
    ]
    # enrichment stages join the pass when their sources are configured —
    # reference synchronize_full stage order (operations/clickhouse.py:
    # 162-172: … extract_tokens → extract_contracts_abi →
    # parse_transactions_inputs → parse_events_inputs → extract_prices).
    # The derived tables refresh FIRST so extract_tokens sees the
    # contract rows this pass's traces created (the reference gets that
    # ordering for free from ClickHouse MV insert-triggers).
    call = _constants_call_from_args(args)
    meta = _tokens_meta_from_args(args)
    if meta is not None and call is None:
        # the standalone extract-tokens command errors here too — a
        # silently dropped enrichment source is worse than a loud exit
        raise SystemExit("--tokens-json requires --constants-json FILE")
    abi_fetch = _abi_fetcher_from_args(args)
    prices_fetch = _prices_fetcher_from_args(args)
    enriched = bool(call or abi_fetch or prices_fetch)
    if enriched:
        # only the contract table is needed mid-pass (by extract_tokens /
        # download_abis); token_transaction refreshes once at pass end via
        # the pipeline's derived_refresh hook — refreshing both here would
        # recompute the token join twice per pass
        stages.append(("contracts", refresh_contracts))
    if call is not None:
        stages.append(("tokens", lambda w: extract_tokens(w, call, meta)))
    if abi_fetch is not None:
        stages.append(("abis", lambda w: download_abis(w, abi_fetch)))
        stages.append(("tx-inputs", parse_transactions_inputs))
        stages.append(("event-inputs", parse_events_inputs))
    if prices_fetch is not None:
        stages.append(("prices", lambda w: download_prices(w, prices_fetch)))
    # when the contracts stage ran mid-pass nothing after it touches
    # internal_transaction, so the end-of-pass refresh only needs the
    # token_transaction half; the plain sync path keeps the full refresh
    return inc.SyncPipeline(
        wh,
        stages,
        derived_refresh=refresh_token_transactions if enriched else derived_refresh,
    )


# ---- commands ----


def cmd_prepare(wh: Warehouse, args) -> int:
    for name, schema in schemas.TABLES.items():
        if not wh.exists(name):
            wh.write(name, wh.spark.createDataFrame([], schema))
    wh.register_views()
    print(f"prepared {len(schemas.TABLES)} tables at {wh.root}")
    return 0


def cmd_sync_once(wh: Warehouse, args) -> int:
    if getattr(args, "full", False):
        # reference start-full (synchronize_full): re-extract everything —
        # drop the processed-flags table so every block is unprocessed
        # again; data writes stay idempotent upserts by id
        wh.drop("block_flag")
    build_pipeline(wh, args).run_once()
    print("sync pass complete")
    return 0


def cmd_sync(wh: Warehouse, args) -> int:
    build_pipeline(wh, args).run_forever(
        sleep_s=args.sleep, max_passes=args.max_passes
    )
    print("sync loop done")
    return 0


def cmd_export_csv(wh: Warehouse, args) -> int:
    out = files.export_csv(wh.read(args.table), args.out)
    print(f"exported {args.table} -> {out}")
    return 0


def cmd_extract_blocks(wh: Warehouse, args) -> int:
    factory = make_transport_factory(args)
    extract_blocks(wh, factory, _latest_block(args, factory))
    return 0


def cmd_extract_traces(wh: Warehouse, args) -> int:
    extract_traces(wh, make_transport_factory(args))
    return 0


def cmd_extract_events(wh: Warehouse, args) -> int:
    extract_events(wh, make_transport_factory(args), args.range_size)
    return 0


def cmd_prepare_views(wh: Warehouse, args) -> int:
    """prepare-contracts-view + prepare-erc-transactions-view in one:
    refresh the derived tables from whatever raw tables exist."""
    derived_refresh(wh)
    return 0


def _load_json(path: str | None, what: str):
    if not path:
        raise SystemExit(f"need {what} (no live HTTP source configured)")
    with open(path) as fh:
        return json.load(fh)


def cmd_extract_tokens(wh: Warehouse, args) -> int:
    """S11 constants come from --constants-json (addr → {method: value})
    — the fixture form of the reference's eth_call reader; a live
    deployment injects a web3-backed callable at the same seam."""
    call = _constants_call_from_args(args)
    if call is None:
        raise SystemExit("need --constants-json FILE")
    extract_tokens(wh, call, _tokens_meta_from_args(args))
    print("tokens extracted")
    return 0


def cmd_download_abis(wh: Warehouse, args) -> int:
    """S12: ABIs from --abi-dir ({address}.json per contract, missing →
    unverified) or a live Etherscan-style endpoint via --etherscan-url."""
    fetch = _abi_fetcher_from_args(args)
    if fetch is None:
        raise SystemExit("need --abi-dir DIR or --etherscan-url URL")
    download_abis(wh, fetch)
    print("abis downloaded")
    return 0


def cmd_parse_transactions_inputs(wh: Warehouse, args) -> int:
    parse_transactions_inputs(wh)
    print("transaction inputs parsed")
    return 0


def cmd_parse_events_inputs(wh: Warehouse, args) -> int:
    parse_events_inputs(wh)
    print("event inputs parsed")
    return 0


def cmd_download_prices(wh: Warehouse, args) -> int:
    """S13: daily close series from --prices-json (symbol → [{time,
    close}]) — the fixture form of the CryptoCompare histoday source."""
    fetch = _prices_fetcher_from_args(args)
    if fetch is None:
        raise SystemExit("need --prices-json FILE")
    download_prices(wh, fetch)
    print("prices downloaded")
    return 0


def cmd_compact(wh: Warehouse, args) -> int:
    """ClickHouse OPTIMIZE TABLE analogue: materialize the FINAL-deduped
    state so the read-side window disappears (catalog.Warehouse.compact).
    ``--layout bucketed`` additionally refreshes each table's co-located
    hash-bucketed materialization (pay the join shuffle once per
    maintenance cycle instead of per query)."""
    tables = [args.table] if args.table else [
        t for t in schemas.TABLES if wh.exists(t)
    ]
    by = None
    if args.bucket_by:
        if not args.table:
            # one explicit key list cannot fit every table's schema; the
            # all-tables form buckets each by its own primary key
            raise SystemExit("--bucket-by requires --table (one table's key)")
        by = [c.strip() for c in args.bucket_by.split(",") if c.strip()]
    for t in tables:
        name = wh.compact(t, layout=args.layout, buckets=args.buckets, by=by)
        print(f"compacted {t}" + (f" (bucketed -> {name})" if name else ""))
    return 0


def cmd_test(wh: Warehouse, args) -> int:
    """Reference extractor.py `test` command (operations/clickhouse.py
    run_tests → nosetests): run the engine's pytest suite."""
    import subprocess

    here = __file__.rsplit("/", 2)[0]
    return subprocess.run(
        [sys.executable, "-m", "pytest", f"{here}/tests", "-q"]
    ).returncode


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="python -m ethereum_analytical_db_spark")
    p.add_argument("--warehouse", required=True, help="warehouse directory")
    p.add_argument("--cpus", type=int, default=None, help="local[N] cores")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("prepare", help="create the warehouse tables + views")
    sub.add_parser(
        "prepare-views", help="refresh derived tables (contracts, token txs)"
    )

    for name in ("sync-once", "sync", "extract-blocks", "extract-traces",
                 "extract-events"):
        sp = sub.add_parser(name, help=f"{name} over the JSON-RPC sources")
        sp.add_argument("--fixtures", help="FileJsonRpcTransport fixture dir")
        sp.add_argument("--rpc-url", help="HTTP JSON-RPC endpoint")
        sp.add_argument(
            "--max-block", type=int, default=None,
            help="chain head override (else eth_blockNumber)",
        )
        sp.add_argument("--range-size", type=int, default=1000)
        if name == "sync-once":
            sp.add_argument(
                "--full", action="store_true",
                help="re-extract everything (reference start-full): "
                "clears the block flags first",
            )
        if name == "sync":
            sp.add_argument("--sleep", type=float, default=10.0)
            sp.add_argument("--max-passes", type=int, default=None)
        if name in ("sync-once", "sync"):
            # enrichment sources: when configured, the pass grows the
            # reference synchronize_full stage tail (tokens → abis →
            # inputs → prices)
            sp.add_argument("--constants-json", default=None)
            sp.add_argument("--tokens-json", default=None)
            sp.add_argument("--abi-dir", default=None)
            sp.add_argument("--etherscan-url", default=None)
            sp.add_argument("--prices-json", default=None)

    ex = sub.add_parser("export-csv", help="export a table to CSV (S16)")
    ex.add_argument("--table", required=True)
    ex.add_argument("--out", required=True)

    tok = sub.add_parser(
        "extract-tokens",
        help="ERC-20 constants -> contract_description (reference extract-tokens)",
    )
    tok.add_argument("--constants-json", help="fixture: {address: {method: value}}")
    tok.add_argument("--tokens-json", help="reference tokens.json (cmc/website links)")

    ab = sub.add_parser(
        "download-contracts-abi",
        help="fetch ABIs for unattempted contracts (reference download-contracts-abi)",
    )
    ab.add_argument("--abi-dir", help="fixture dir with {address}.json files")
    ab.add_argument("--etherscan-url", help="live Etherscan-style getabi endpoint")

    sub.add_parser(
        "parse-transactions-inputs",
        help="decode calldata of calls to ABI'd contracts -> transaction_input",
    )
    sub.add_parser(
        "parse-events-inputs",
        help="decode event pseudo-calldata -> event_input",
    )

    pr = sub.add_parser(
        "download-prices",
        help="daily close series + W1 moving average -> price (reference download-prices)",
    )
    pr.add_argument("--prices-json", help="fixture: {symbol: [{time, close}]}")

    co = sub.add_parser(
        "compact", help="materialize FINAL dedup (ClickHouse OPTIMIZE analogue)"
    )
    co.add_argument("--table", default=None, help="one table (default: all)")
    co.add_argument(
        "--layout", default="flat", choices=["flat", "bucketed"],
        help="bucketed: also refresh the co-located hash-bucketed "
        "materialization (<table>_bucketed) for exchange-free joins",
    )
    co.add_argument("--buckets", type=int, default=32, help="bucket count")
    co.add_argument(
        "--bucket-by", default=None,
        help="comma-separated bucket key (default: the table's primary key)",
    )

    sub.add_parser("test", help="run the engine's test suite (reference `test`)")
    return p


COMMANDS = {
    "prepare": cmd_prepare,
    "prepare-views": cmd_prepare_views,
    "sync-once": cmd_sync_once,
    "sync": cmd_sync,
    "export-csv": cmd_export_csv,
    "extract-blocks": cmd_extract_blocks,
    "extract-traces": cmd_extract_traces,
    "extract-events": cmd_extract_events,
    "extract-tokens": cmd_extract_tokens,
    "download-contracts-abi": cmd_download_abis,
    "parse-transactions-inputs": cmd_parse_transactions_inputs,
    "parse-events-inputs": cmd_parse_events_inputs,
    "download-prices": cmd_download_prices,
    "compact": cmd_compact,
    "test": cmd_test,
}


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = get_spark(app_name="eads-cli", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    wh = Warehouse(spark, args.warehouse)
    return COMMANDS[args.cmd](wh, args)


if __name__ == "__main__":
    sys.exit(main())
