"""ABI input decoding (SURVEY §2.8 F9, §2.10 X2).

The reference decodes transaction inputs and event payloads with
eth_abi: match the 4-byte selector against the contract's ABI, decode
the argument words, emit {name, params: [{type, value}]}
(operations/inputs.py:15-53; the event variant reconstructs a
pseudo-input from topics + data, operations/inputs.py:236-242; fan-out
over a 10-process pool, operations/inputs.py:99-116).

Here the decoder is a small pure-Python implementation of the solidity
ABI head/tail encoding (no eth_abi dependency — the container doesn't
ship it), wrapped in an Arrow-batched pandas UDF: the Python work rides
one vectorized transfer per batch instead of per-row round trips, and
scales out with task parallelism (the Pool analogue). The ABI registry
(address, ABI JSON) is joined to the rows as a DataFrame and compiled to
selector tables per contract on the executors.

Supported types: uint<N>/int<N>, address, bool, bytes<N>, fixed-size
and dynamic arrays thereof, string, bytes — everything the reference's
test ABIs use. Unknown selectors / malformed data decode to NULL, the
reference's behavior on failed decode.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .keccak import selector as keccak_selector

DECODED_DDL = (
    "struct<name: string, params_type: array<string>, params_value: array<string>>"
)


def _signature(entry: dict) -> str:
    types = ",".join(i["type"] for i in entry.get("inputs", []))
    return f"{entry['name']}({types})"


def selector_table(
    abi_json: str, include_events: bool = False
) -> dict[str, tuple[str, list[str]]]:
    """{4-byte-selector-hex → (function name, [param types])} for every
    function entry in an ABI.

    ``include_events=True`` also indexes ``event`` entries — the
    reference's decoder matches BOTH types against the 4-byte head
    (operations/inputs.py:38-39), which is what makes the event
    pseudo-input trick work: topic0's first 4 bytes equal the event
    signature's keccak prefix, i.e. its "selector"."""
    kinds = (None, "function", "event") if include_events else (None, "function")
    out = {}
    for entry in json.loads(abi_json):
        if entry.get("type") not in kinds or "name" not in entry:
            continue
        types = [i["type"] for i in entry.get("inputs", [])]
        out[keccak_selector(_signature(entry))] = (entry["name"], types)
    return out


def _is_dynamic(t: str) -> bool:
    if t in ("string", "bytes"):
        return True
    if t.endswith("[]"):
        return True
    if "[" in t:  # fixed array of dynamic elems
        return _is_dynamic(t[: t.index("[")])
    return False


def _word(data: bytes, i: int) -> bytes:
    w = data[i * 32 : (i + 1) * 32]
    if len(w) < 32:
        raise ValueError("truncated word")
    return w


def _decode_static(t: str, w: bytes) -> object:
    if len(w) != 32:
        raise ValueError("truncated word")
    if t.startswith("uint"):
        return int.from_bytes(w, "big")
    if t.startswith("int"):
        v = int.from_bytes(w, "big")
        bits = int(t[3:] or 256)
        if v >= 1 << (bits - 1):
            v -= 1 << bits
        return v
    if t == "address":
        return "0x" + w[12:].hex()
    if t == "bool":
        return bool(int.from_bytes(w, "big"))
    if t.startswith("bytes"):  # bytesN static
        n = int(t[5:])
        return "0x" + w[:n].hex()
    raise ValueError(f"unsupported static type {t}")


def _decode_one(t: str, data: bytes, head_off: int) -> object:
    if not _is_dynamic(t):
        if "[" in t:  # static fixed array, e.g. uint256[3]
            base, rest = t[: t.index("[")], t[t.index("[") :]
            n = int(rest[1:-1])
            return [
                _decode_static(base, _word(data, head_off // 32 + k))
                for k in range(n)
            ]
        return _decode_static(t, data[head_off : head_off + 32])
    # dynamic: the head word is an offset to the tail
    tail = int.from_bytes(data[head_off : head_off + 32], "big")
    if t == "string":
        n = int.from_bytes(data[tail : tail + 32], "big")
        return data[tail + 32 : tail + 32 + n].decode("utf-8", "replace")
    if t == "bytes":
        n = int.from_bytes(data[tail : tail + 32], "big")
        return "0x" + data[tail + 32 : tail + 32 + n].hex()
    if t.endswith("[]"):
        base = t[:-2]
        n = int.from_bytes(data[tail : tail + 32], "big")
        body = data[tail + 32 :]
        if _is_dynamic(base):
            return [_decode_one(base, body, k * 32) for k in range(n)]
        return [_decode_static(base, _word(body, k)) for k in range(n)]
    raise ValueError(f"unsupported dynamic type {t}")


def _head_size(t: str) -> int:
    if _is_dynamic(t):
        return 32
    if "[" in t:
        n = int(t[t.index("[") + 1 : -1])
        return 32 * n
    return 32


def decode_abi_params(types: list[str], data: bytes) -> list[object]:
    """Decode argument words per the solidity head/tail ABI encoding."""
    out, off = [], 0
    for t in types:
        out.append(_decode_one(t, data, off))
        off += _head_size(t)
    return out


def _stringify(v: object) -> str:
    if isinstance(v, list):
        return json.dumps([_stringify(x) for x in v])
    return str(v)


def decode_input_py(input_hex: str | None, selectors: dict) -> dict | None:
    """Decode one 0x-prefixed calldata blob against a selector table."""
    if not input_hex or len(input_hex) < 10:
        return None
    sel = input_hex[2:10].lower()
    hit = selectors.get(sel)
    if hit is None:
        return None
    name, types = hit
    try:
        data = bytes.fromhex(input_hex[10:])
        values = decode_abi_params(types, data)
    except Exception:
        return None
    return {
        "name": name,
        "params_type": list(types),
        "params_value": [_stringify(v) for v in values],
    }


def event_pseudo_input(topics: list[str], data: str | None) -> str:
    """Reference operations/inputs.py:236-242: rebuild calldata-shaped
    hex from an event: topic0's first 4 bytes play the selector, indexed
    topics then data play the words."""
    head = (topics[0] if topics else "0x")[0:10]
    rest = "".join(t[2:] for t in topics[1:])
    return head + rest + (data or "0x")[2:]


def decode_inputs_joined(
    df: DataFrame,
    abi_df: DataFrame,
    input_col: str = "input",
    address_col: str = "to",
    out_col: str = "decoded",
    include_events: bool = False,
    abi_id_col: str = "id",
    abi_col: str = "abi",
) -> DataFrame:
    """F9/X2: decode calldata rows against each target contract's ABI.
    The ABI registry ``abi_df`` (id, abi) rides as a JOINED DataFrame,
    never a driver dict: the full verified-contract dim (~10⁷ contracts
    × KBs of ABI JSON at chain scale) must not be collected (the
    reference pages it instead, operations/inputs.py:131-151). Here:

    - rows inner-join the (id, abi) dim on the lowered address —
      Catalyst/AQE picks broadcast for a small dim and a shuffled hash /
      sort-merge join for a big one, so nothing is driver-resident;
    - after an equi-join, rows for the same contract arrive adjacent
      (SMJ output is key-sorted; hash joins cluster by key), so the
      selector table is compiled per-contract via a small per-partition
      memo instead of per-row keccak work;
    - the inner join drops rows without an ABI (no NULL-decoded row is
      emitted for them); unknown selectors decode to NULL.
    ``include_events``: index event entries too (the parse-events-inputs
    path over pseudo-calldata).
    """
    addr_lower = F.lower(F.col(address_col))
    # ANY-join-style dedup AFTER lowercasing: case-variant duplicate ids
    # ('0xAB…' from a checksummed external writer next to '0xab…')
    # collapse to the same key — FINAL dedup upstream keys on the raw id,
    # so both survive it — and an un-deduped dim would emit, decode and
    # write every matching fact row once per variant. The agg form
    # collapses duplicates map-side before the shuffle; max() is the
    # deterministic pick.
    dim = (
        abi_df.filter(F.col(abi_col).isNotNull())
        .select(
            F.lower(F.col(abi_id_col)).alias("_abi_addr"),
            F.col(abi_col).alias("_abi_json"),
        )
        .groupBy("_abi_addr")
        .agg(F.max("_abi_json").alias("_abi_json"))
    )
    joined = df.join(dim, addr_lower == F.col("_abi_addr"), "inner").drop(
        "_abi_addr"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, dict] = {}
        for pdf in batches:
            decoded = []
            for inp, addr, abi in zip(
                pdf[input_col], pdf[address_col], pdf["_abi_json"]
            ):
                key = (addr or "").lower()
                tbl = memo.get(key)
                if tbl is None:
                    if len(memo) >= 1024:  # bounded per-task memory
                        memo.clear()
                    tbl = memo[key] = selector_table(
                        abi, include_events=include_events
                    )
                decoded.append(decode_input_py(inp, tbl))
            pdf = pdf.drop(columns=["_abi_json"]).copy()
            pdf[out_col] = decoded
            yield pdf

    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    return joined.mapInPandas(run, schema=f"{out_schema}, {out_col} {DECODED_DDL}")
