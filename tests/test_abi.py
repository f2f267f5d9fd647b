"""ABI decode (F9/X2) — golden vectors matching the reference's
tests/input_parsing_tests.py:59-101 semantics."""

import json

from ethereum_analytical_db_spark.functions import abi
from ethereum_analytical_db_spark.functions.keccak import selector

ERC20_ABI = json.dumps(
    [
        {
            "type": "function",
            "name": "transfer",
            "inputs": [{"type": "address"}, {"type": "uint256"}],
        },
        {
            "type": "function",
            "name": "approve",
            "inputs": [{"type": "address"}, {"type": "uint256"}],
        },
    ]
)

COMPLEX_ABI = json.dumps(
    [
        {
            "type": "function",
            "name": "fancy",
            "inputs": [
                {"type": "string"},
                {"type": "uint256[]"},
                {"type": "bool"},
                {"type": "bytes4"},
                {"type": "int256"},
            ],
        }
    ]
)


def _w(v: int) -> str:
    return format(v, "064x")


def test_selector_matches_reference_constant():
    # the canonical ERC-20 transfer selector (reference
    # operations/contract_transactions.py:11-25 derives it with Web3.sha3)
    assert selector("transfer(address,uint256)") == "a9059cbb"


def test_decode_transfer():
    sels = abi.selector_table(ERC20_ABI)
    calldata = "0xa9059cbb" + _w(0xDEAD) + _w(42 * 10**18)
    out = abi.decode_input_py(calldata, sels)
    assert out["name"] == "transfer"
    assert out["params_type"] == ["address", "uint256"]
    assert out["params_value"][0] == "0x" + format(0xDEAD, "040x")
    assert out["params_value"][1] == str(42 * 10**18)


def test_decode_dynamic_and_signed():
    sels = abi.selector_table(COMPLEX_ABI)
    sel = selector("fancy(string,uint256[],bool,bytes4,int256)")
    s = b"hello abi"
    arr = [7, 9]
    # head: [off_string, off_array, bool, bytes4, int]
    head_words = 5
    off_s = head_words * 32
    s_enc = _w(len(s)) + s.hex().ljust(64, "0")
    off_a = off_s + 32 + 32  # string head + one padded word
    a_enc = _w(len(arr)) + "".join(_w(x) for x in arr)
    neg = (1 << 256) - 5  # -5 two's complement
    calldata = (
        "0x" + sel
        + _w(off_s) + _w(off_a) + _w(1)
        + "deadbeef".ljust(64, "0") + format(neg, "064x")
        + s_enc + a_enc
    )
    out = abi.decode_input_py(calldata, sels)
    assert out["name"] == "fancy"
    assert out["params_value"][0] == "hello abi"
    assert json.loads(out["params_value"][1]) == ["7", "9"]
    assert out["params_value"][2] == "True"
    assert out["params_value"][3] == "0xdeadbeef"
    assert out["params_value"][4] == "-5"


def test_unknown_selector_and_garbage_return_none():
    sels = abi.selector_table(ERC20_ABI)
    assert abi.decode_input_py("0xdeadbeef" + _w(1), sels) is None
    assert abi.decode_input_py("0x", sels) is None
    assert abi.decode_input_py(None, sels) is None
    # right selector, truncated data → None, not crash
    assert abi.decode_input_py("0xa9059cbb" + "ff", sels) is None


def test_event_pseudo_input():
    topics = ["0xa9059cbbffffffff", "0x" + _w(1), "0x" + _w(2)]
    pseudo = abi.event_pseudo_input(topics, "0x" + _w(3))
    assert pseudo == "0xa9059cbb" + _w(1) + _w(2) + _w(3)


def test_decode_inputs_dataframe(spark):
    rows = [
        ("0xToken", "0xa9059cbb" + _w(5) + _w(500)),
        ("0xToken", "0xdeadbeef"),  # unknown selector
        ("0xOther", "0xa9059cbb" + _w(5) + _w(500)),  # no ABI for contract
    ]
    df = spark.createDataFrame(rows, "`to` string, input string")
    abi_df = spark.createDataFrame([("0xToken", ERC20_ABI)], "id string, abi string")
    out = abi.decode_inputs_joined(df, abi_df).collect()
    by_input = {(r["to"], r["input"][:10]): r["decoded"] for r in out}
    ok = by_input[("0xToken", "0xa9059cbb")]
    assert ok["name"] == "transfer" and ok["params_value"][1] == "500"
    assert by_input[("0xToken", "0xdeadbeef")] is None
    # the inner join drops rows of contracts without an ABI
    assert ("0xOther", "0xa9059cbb") not in by_input


def test_decode_inputs_joined_case_variant_ids_no_duplicates(spark):
    """The joined decode path must collapse case-variant ABI ids
    ('0xAB…' from a checksummed external writer next to the ingest
    path's '0xab…') to ONE dim row — an un-deduped dim would emit,
    decode, and write every matching fact row once per variant."""
    rows = [("0xtoken", "0xa9059cbb" + _w(5) + _w(500))]
    df = spark.createDataFrame(rows, "`to` string, input string")
    abi_df = spark.createDataFrame(
        [("0xToken", ERC20_ABI), ("0xtoken", ERC20_ABI), ("0xother", ERC20_ABI)],
        "id string, abi string",
    )
    out = abi.decode_inputs_joined(df, abi_df, address_col="to").collect()
    assert len(out) == 1  # one fact row in, one decoded row out
    assert out[0]["decoded"]["name"] == "transfer"
    assert out[0]["decoded"]["params_value"][1] == "500"
