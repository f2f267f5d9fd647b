"""ClickHouse-dialect SQL translation layer (eads.compat).

Covers the dialect constructs the reference's analytics surface uses
(SURVEY §3.3, §4.2.3): ANY JOIN single-match semantics, FINAL, reserved
from/to columns, count(), quantile(q)(x), 1-based array indexing,
alias-in-WHERE, INTO OUTFILE, Grafana macros, toFloat64-family casts.
"""

import os

import pytest

from ethereum_analytical_db_spark.compat import ClickHouseCompat, translate


# ------------------------------------------------------------ pure translate


def test_translate_count_and_quantile():
    t = translate("SELECT count(), quantile(0.5)(gasPrice) AS med FROM t")
    assert "count ( * )" in t.sql
    assert "percentile_approx ( gasPrice , 0.5 )" in t.sql


def test_translate_quantile_exact():
    t = translate("SELECT quantileExact(0.2)(x) AS p FROM t")
    assert "percentile ( x , 0.2 )" in t.sql


def test_translate_array_index_is_one_based():
    t = translate("SELECT topics[1] FROM t WHERE topics[2] = '0xabc'")
    assert "try_element_at ( topics , 1 )" in t.sql
    assert "try_element_at ( topics , 2 )" in t.sql
    assert "[" not in t.sql


def test_translate_reserved_columns_quoted():
    t = translate("SELECT from AS a, to AS b FROM t WHERE to IN(SELECT x FROM u) GROUP BY from")
    assert "`from` AS a" in t.sql
    assert "`to` AS b" in t.sql
    assert "WHERE `to` IN" in t.sql
    assert "GROUP BY `from`" in t.sql
    # the FROM keywords survive unquoted
    assert "FROM t" in t.sql and "FROM u" in t.sql


def test_translate_final_stripped_and_outfile_captured():
    t = translate(
        "SELECT a FROM t FINAL INTO OUTFILE 'out.csv' FORMAT CSVWithNames"
    )
    assert "FINAL" not in t.sql.upper().replace("FINAL", "FINAL")  # no FINAL token
    assert "final" not in t.sql.lower().split()
    assert t.outfile == "out.csv"
    assert t.outformat == "CSVWithNames"


def test_translate_macros():
    t = translate("SELECT 1 FROM b WHERE $timeFilter", macros={"timeFilter": "n < 5"})
    assert "n < 5" in t.sql


def test_translate_alias_in_where_substituted_only_at_top_level():
    t = translate(
        "SELECT x - y AS bal FROM t WHERE bal > 1 AND z IN(SELECT bal FROM u)"
    )
    # top-level use substituted, subquery-scope use untouched
    assert "( x - y ) > 1" in t.sql
    assert "SELECT bal FROM u" in t.sql


# ------------------------------------------------------------ live execution


@pytest.fixture(scope="module")
def compat(spark):
    return ClickHouseCompat(spark)


def test_any_left_join_single_match(spark, compat):
    left = spark.createDataFrame([("k1",), ("k2",), ("k3",)], "id string")
    right = spark.createDataFrame(
        [("k1", 1), ("k1", 2), ("k2", 3)], "id string, v int"
    )
    compat.register_table("any_l", left)
    compat.register_table("any_r", right)
    rows = compat.sql("SELECT id, v FROM any_l ANY LEFT JOIN any_r USING id").collect()
    by_id = {r["id"]: r["v"] for r in rows}
    assert len(rows) == 3  # exactly one row per left key, duplicates collapsed
    assert by_id["k1"] in (1, 2)
    assert by_id["k2"] == 3
    assert by_id["k3"] is None


def test_any_inner_join_multikey_and_alias_where(spark, compat):
    ttx = spark.createDataFrame(
        [("tokA", "u1", "u2", 5.0), ("tokA", "u2", "u1", 3.0),
         ("tokA", "u1", "u3", 2.0), ("tokB", "u3", "u1", 7.0)],
        "token string, `to` string, `from` string, value double",
    )
    compat.register_table("ttx_fix", ttx)
    q = """
    SELECT token, address, income - outcome AS balance FROM (
        SELECT token, from AS address, sum(value) AS outcome
        FROM ttx_fix GROUP BY token, from
    )
    ANY INNER JOIN (
        SELECT token, to AS address, sum(value) AS income
        FROM ttx_fix GROUP BY token, to
    )
    USING token, address
    WHERE balance > 0.01
    """
    rows = compat.sql(q).collect()
    assert len(rows) == 1
    assert rows[0]["token"] == "tokA" and rows[0]["address"] == "u1"
    assert rows[0]["balance"] == pytest.approx(4.0)  # income 7 - outcome 3


def test_grafana_style_query_with_macros_and_casts(spark, compat):
    itx = spark.createDataFrame(
        [("u1", "c1", 10), ("u2", "c1", 11), ("u1", "c2", 12), ("u9", "w1", 13)],
        "`from` string, `to` string, blockNumber int",
    )
    compat.register_table("itx_fix", itx)
    compat.register_table(
        "contract_fix", spark.createDataFrame([("c1",), ("c2",)], "address string")
    )
    compat.register_table(
        "block_fix", spark.createDataFrame([(10,), (11,), (12,), (13,)], "number int")
    )
    q = """
    SELECT from AS address, toFloat64(count()) AS calls
    FROM itx_fix FINAL
    WHERE to IN(SELECT address FROM contract_fix)
    AND blockNumber IN(SELECT number FROM block_fix WHERE ($timeFilter))
    GROUP BY from
    ORDER BY calls DESC, address ASC
    LIMIT 10
    """
    rows = compat.sql(q, macros={"timeFilter": "number <= 12"}).collect()
    assert [(r["address"], r["calls"]) for r in rows] == [("u1", 2.0), ("u2", 1.0)]


def test_dialect_cast_functions(spark, compat):
    row = spark.sql(
        "SELECT toFloat64('1.5') AS a, toInt32('7') AS b, toInt64(9) AS c, "
        "toDate(TIMESTAMP '2020-05-01 13:00:00') AS d"
    ).first()
    assert row["a"] == 1.5 and row["b"] == 7 and row["c"] == 9
    assert str(row["d"]) == "2020-05-01"


def test_outfile_written(spark, compat, tmp_path):
    df = spark.createDataFrame([("a", 1)], "k string, v int")
    compat.register_table("out_fix", df)
    path = os.path.join(str(tmp_path), "o.csv")
    compat.sql(f"SELECT k, v FROM out_fix INTO OUTFILE '{path}' FORMAT CSVWithNames")
    with open(path) as fh:
        content = fh.read()
    assert content.splitlines()[0] == "k,v"
    assert "a,1" in content


def test_translate_is_neutral_on_ansi_sql():
    """Plain ANSI queries (no dialect constructs) pass through with only
    whitespace normalization — the translator never rewrites semantics
    it doesn't own."""
    for q in [
        "SELECT a, sum(b) AS s FROM t WHERE a > 1 GROUP BY a ORDER BY s DESC LIMIT 5",
        "SELECT x.k, y.v FROM x JOIN y ON x.k = y.k WHERE y.v IS NOT NULL",
        "SELECT count(*) FROM t HAVING count(*) > 0",
        "WITH c AS (SELECT 1 AS one) SELECT one FROM c",
    ]:
        t = translate(q)
        # token stream identical — only inter-token whitespace may change
        assert t.sql.replace(" ", "") == q.replace(" ", "")
        assert t.outfile is None


def test_unsupported_constructs_fail_loudly():
    """Outside-the-grammar ClickHouse constructs raise a NAMED error at
    translate time — never a pass-through mistranslation (round-4 review:
    'document the envelope, fail loudly outside it')."""
    from ethereum_analytical_db_spark.compat.clickhouse_sql import (
        UnsupportedClickHouseSQL,
    )

    bad = [
        "SELECT x FROM t PREWHERE x > 1",
        "SELECT x FROM t SAMPLE 0.1",
        "SELECT * FROM a GLOBAL ANY LEFT JOIN b USING k",
        "SELECT * FROM a ASOF JOIN b ON a.t >= b.t",
        "SELECT k, count() FROM t GROUP BY k WITH TOTALS",
        "SELECT x FROM t ORDER BY x LIMIT 2 BY k",
        "SELECT arrayJoin(topics) FROM eth_event",
        "SELECT * FROM t ARRAY JOIN arr",
        # non-literal subscript: 1-based vs 0-based silent off-by-one
        "SELECT topics[n] FROM eth_event",
    ]
    for q in bad:
        with pytest.raises(UnsupportedClickHouseSQL):
            translate(q)
    # the supported literal-subscript form still translates
    assert "try_element_at ( topics , 1 )" in translate(
        "SELECT topics[1] FROM eth_event"
    ).sql


def test_any_join_with_alias_keeps_single_match(spark, compat):
    """An aliased right side ('ANY LEFT JOIN t AS x USING k') previously
    slipped past the ANY detection and fanned out on duplicate keys."""
    compat.register_table(
        "anyal_l", spark.createDataFrame([(1, "a"), (2, "b")], "k long, l string")
    )
    compat.register_table(
        "anyal_r",
        spark.createDataFrame([(1, "r1"), (1, "r2"), (2, "r3")], "k long, r string"),
    )
    rows = compat.sql(
        "SELECT k, r FROM anyal_l ANY LEFT JOIN anyal_r AS x USING (k) ORDER BY k"
    ).collect()
    assert len(rows) == 2  # one match per left row, not a fan-out
    assert rows[0]["k"] == 1 and rows[1]["k"] == 2


def test_any_join_followed_by_left_join_keeps_join_type(spark, compat):
    """'ANY JOIN t2 LEFT JOIN t3 ON …' (no USING/ON on the ANY JOIN): the
    LEFT token must not be consumed as t2's alias — that would demote the
    LEFT JOIN to an inner join and silently drop unmatched left rows.

    The ANY JOIN here deliberately has NO USING/ON so the token after
    the table name is LEFT itself — the exact position the bare-alias
    scan (_rewrite_any_joins) would have consumed before the
    _JOIN_KEYWORDS exclusion. With the exclusion reverted this query
    rewrites to 'JOIN anyseq_b AS LEFT JOIN anyseq_c ON …' and k=2
    disappears (inner-join semantics), so the assertion below pins the
    regression (verified red-on-revert)."""
    compat.register_table(
        "anyseq_a", spark.createDataFrame([(1, "a1"), (2, "a2")], "k long, a string")
    )
    compat.register_table(
        "anyseq_b", spark.createDataFrame([(10, "b1")], "j long, b string")
    )
    compat.register_table(
        "anyseq_c", spark.createDataFrame([(1, "c1")], "k long, c string")
    )
    # rewrite-level check first: LEFT survives as a join type, not an alias
    rewritten = translate(
        "SELECT anyseq_a.k AS k, c FROM anyseq_a "
        "ANY JOIN anyseq_b "
        "LEFT JOIN anyseq_c ON anyseq_a.k = anyseq_c.k ORDER BY k"
    ).sql
    assert "AS LEFT" not in rewritten.upper()
    assert "LEFT JOIN" in rewritten.upper()
    out = compat.sql(
        "SELECT anyseq_a.k AS k, c FROM anyseq_a "
        "ANY JOIN anyseq_b "
        "LEFT JOIN anyseq_c ON anyseq_a.k = anyseq_c.k ORDER BY k"
    ).collect()
    # anyseq_b is 1 row, so the condition-less ANY JOIN (cross with a
    # single row) keeps cardinality at 2; k=2 has no match in anyseq_c:
    # a LEFT JOIN keeps it with NULL c; the mis-aliasing bug turned this
    # into an inner join (1 row)
    assert [(r["k"], r["c"]) for r in out] == [(1, "c1"), (2, None)]


def test_toint64_precise_above_2_53(spark, compat):
    """toInt64 must not round-trip through DOUBLE: 10^18+1 is exact in
    Int64 but rounds to 10^18 as a double."""
    big = str(10**18 + 1)
    row = compat.sql(f"SELECT toInt64('{big}') AS v").first()
    assert row["v"] == 10**18 + 1


# ---- translator fuzzing (r8): translate-correctly-or-raise ------------
#
# Round 7's ANY-JOIN alias bug was a silent mistranslation — the class
# of defect these properties target. Two layers:
#   1. mutation fuzz over corpus-shaped seeds: any token-level damage
#      must either translate or raise UnsupportedClickHouseSQL — never
#      escape as IndexError/KeyError/etc. (crash-class) — and the
#      rewrite must never invent an `AS <join-keyword>` alias;
#   2. generated ANY/LEFT/INNER join chains: every JOIN in the input
#      survives with its type intact (LEFT never demoted, none dropped).

_FUZZ_SEEDS = [
    "SELECT address, sum(value) AS v FROM eth_token_transaction "
    "WHERE token = '0xab' GROUP BY address ORDER BY v DESC LIMIT 10",
    "SELECT toDateTime(intDiv(toUInt32(ts), 3600) * 3600) AS t, count() "
    "FROM eth_event WHERE topics[1] = '0x1' GROUP BY t",
    "SELECT quantile(0.95)(gasPrice) FROM eth_transaction FINAL",
    "SELECT a.k, b.v FROM ta AS a ANY LEFT JOIN tb AS b USING (k)",
    "SELECT k FROM ta ANY JOIN tb LEFT JOIN tc ON ta.k = tc.k",
    "SELECT from, to, value FROM eth_internal_transaction "
    "WHERE from != to AND value > 0",
    "SELECT quantileExact(0.2)(x) AS p, count() FROM t GROUP BY k "
    "INTO OUTFILE 'o.csv' FORMAT CSVWithNames",
    "SELECT token, address, income - outcome AS balance FROM "
    "(SELECT token, from AS address, sum(value) AS outcome FROM ttx GROUP BY token, from) "
    "ANY INNER JOIN "
    "(SELECT token, to AS address, sum(value) AS income FROM ttx GROUP BY token, to) "
    "USING token, address WHERE balance > 0",
    "SELECT toFloat64(count()) AS calls FROM itx FINAL "
    "WHERE to IN(SELECT address FROM c) GROUP BY from ORDER BY calls DESC LIMIT 10",
]

_FUZZ_EXTRA_TOKENS = [
    "ANY", "LEFT", "JOIN", "USING", "ON", "FINAL", "(", ")", ",",
    "SELECT", "FROM", "WHERE", "`q`", "'x'", "topics", "[", "]", "1",
    # documented-unsupported constructs: inserting one must RAISE the
    # named error, never crash or silently mistranslate
    "PREWHERE", "SAMPLE", "GLOBAL", "ASOF", "TOTALS", "arrayJoin", "AS",
]


def _join_shape(sql: str) -> list[str]:
    """('left'|'inner') per JOIN token, ANY modifiers ignored — the
    invariant the rewriter must preserve."""
    toks = [t.lower() for t in sql.replace("(", " ( ").split()]
    shape = []
    for i, t in enumerate(toks):
        if t != "join":
            continue
        j = i - 1
        if j >= 0 and toks[j] in ("left", "inner"):
            shape.append(toks[j])
        else:
            shape.append("inner")
    return shape


def test_fuzz_token_mutations_translate_or_raise():
    import random

    from ethereum_analytical_db_spark.compat.clickhouse_sql import (
        UnsupportedClickHouseSQL,
    )

    rnd = random.Random(8)
    for trial in range(2000):
        seed = rnd.choice(_FUZZ_SEEDS)
        toks = seed.split()
        op = rnd.randrange(4)
        if op == 0 and len(toks) > 1:  # drop a token
            del toks[rnd.randrange(len(toks))]
        elif op == 1:  # duplicate a token
            i = rnd.randrange(len(toks))
            toks.insert(i, toks[i])
        elif op == 2 and len(toks) > 2:  # swap adjacent tokens
            i = rnd.randrange(len(toks) - 1)
            toks[i], toks[i + 1] = toks[i + 1], toks[i]
        else:  # insert a grammar-relevant token
            toks.insert(rnd.randrange(len(toks) + 1), rnd.choice(_FUZZ_EXTRA_TOKENS))
        mutated = " ".join(toks)
        try:
            out = translate(mutated).sql
        except UnsupportedClickHouseSQL:
            continue  # the documented loud-failure contract
        # the rewriter must never INTRODUCE an 'AS <join-keyword>' alias
        # (the r7 demotion bug); a mutation that inserts one into the
        # input itself may pass through verbatim
        src_norm = " ".join(mutated.upper().split())
        out_norm = " ".join(out.upper().split())
        for phantom in ("AS LEFT", "AS INNER"):
            if phantom not in src_norm:
                assert phantom not in out_norm, (mutated, out)


def test_fuzz_generated_join_chains_preserve_types():
    import random

    from ethereum_analytical_db_spark.compat.clickhouse_sql import (
        UnsupportedClickHouseSQL,
    )

    rnd = random.Random(88)
    for trial in range(1000):
        n_joins = rnd.randrange(1, 4)
        sql = "SELECT t0.k FROM t0"
        for j in range(1, n_joins + 1):
            any_mod = rnd.random() < 0.5
            jtype = rnd.choice(["", "LEFT ", "INNER "])
            alias = rnd.choice(["", f" AS x{j}", f" x{j}"])
            cond = rnd.choice(
                [f" USING (k)", f" ON t0.k = t{j}.k", ""]
            )
            # a bare-alias right side followed by a join keyword is the
            # r7 bug shape; quoted identifiers exercise the tokenizer
            tbl = rnd.choice([f"t{j}", f"`t{j}`"])
            sql += (
                (" ANY " if any_mod else " ")
                + jtype + "JOIN " + tbl + alias + cond
            )
        try:
            out = translate(sql).sql
        except UnsupportedClickHouseSQL:
            continue
        got, want = _join_shape(out), _join_shape(sql)
        assert got == want, f"join shape {want} -> {got}\n in: {sql}\nout: {out}"


def test_fuzz_generated_join_chains_roundtrip_duckdb(spark):
    """translate-EQUIVALENTLY-or-raise (r8 VERDICT item 8): for
    generated join chains the translator accepts, run the ClickHouse
    input on DuckDB (its ANSI subset — backticks adapted to double
    quotes) and the TRANSLATED SQL on Spark over identical fixture
    tables, and require the same result multiset. The shape tests above
    pin join types syntactically; this pins the semantics end-to-end.
    ANY-modifier chains are excluded (DuckDB has no ANY JOIN; those
    semantics are oracle-checked by `any_left_join_first_lineitem`).
    A DuckDB-side error skips the trial (the dialect's validity
    boundary, not the translator's); a Spark-side error on input DuckDB
    executed is a translator bug and fails loudly."""
    import random

    import duckdb

    from ethereum_analytical_db_spark.compat.clickhouse_sql import (
        UnsupportedClickHouseSQL,
    )

    data = {
        "t0": [0, 1, 1, 2, 3, 5],
        "t1": [1, 1, 2, 4],
        "t2": [0, 2, 2, 5],
        "t3": [1, 3, 5, 5],
    }
    for t, ks in data.items():
        spark.createDataFrame([(k,) for k in ks], "k int").createOrReplaceTempView(t)
    con = duckdb.connect()
    for t, ks in data.items():
        vals = ", ".join(f"({k})" for k in ks)
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM (VALUES {vals}) v(k)")

    rnd = random.Random(77)
    compared = translated = 0
    for trial in range(400):
        n_joins = rnd.randrange(1, 4)
        sql = "SELECT t0.k FROM t0"
        for j in range(1, n_joins + 1):
            jtype = rnd.choice(["", "LEFT ", "INNER "])
            alias = rnd.choice(["", f" AS x{j}", f" x{j}"])
            tbl = rnd.choice([f"t{j}", f"`t{j}`"])
            ref = f"x{j}" if alias else f"t{j}"
            cond = rnd.choice([" USING (k)", f" ON t0.k = {ref}.k"])
            sql += " " + jtype + "JOIN " + tbl + alias + cond
        try:
            out = translate(sql).sql
        except UnsupportedClickHouseSQL:
            continue
        translated += 1
        try:
            want = sorted(r[0] for r in con.execute(sql.replace("`", '"')).fetchall())
        except duckdb.Error:
            continue  # not valid ANSI: outside the equivalence contract
        try:
            got = sorted(r["k"] for r in spark.sql(out).collect())
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(
                f"DuckDB executed the input but Spark rejected the "
                f"translation\n in: {sql}\nout: {out}\nerr: {exc}"
            ) from exc
        assert got == want, f"rows diverge\n in: {sql}\nout: {out}"
        compared += 1
        if compared >= 60 and translated >= 100:
            break  # evidence bar met; don't pay Spark latency for more
    # the round-trip must not pass vacuously
    assert translated >= 100 and compared >= 60, (translated, compared)


# ------------------------------------------------------------ view memo


def test_registry_views_follow_data_dir_and_session(spark, tmp_path):
    """The registry's compat queries memoise one ClickHouseCompat per
    session: switching data directories A → B → A in one session
    re-registers the eth_* views each time, so every result matches the
    first build for that directory, and a sibling ``spark.newSession()``
    registers views in its own catalog without replacing the first
    session's."""
    import pandas as pd

    from ethereum_analytical_db_spark.plans.registry import all_queries

    for name, n in (("a", 40), ("b", 90)):
        (tmp_path / name).mkdir()
        pd.DataFrame(
            {
                "event_id": range(n),
                "ts": pd.date_range("2024-01-01", periods=n, freq="5h"),
                "user_id": [i * 7 % (n // 4) for i in range(n)],
                "event_type": ["purchase", "view", "error"] * (n // 3) + ["view"] * (n % 3),
                "value": [float(i % 11) + 0.5 for i in range(n)],
            }
        ).to_parquet(tmp_path / name / "events.parquet")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    qs = {k: q for k, q in all_queries().items() if k.startswith("compat_")}
    assert len(qs) == 6

    def run(session, sf):
        return {k: sorted(q.build(session, sf).collect(), key=repr) for k, q in qs.items()}

    first_a = run(spark, a)
    first_b = run(spark, b)
    assert first_a != first_b
    assert run(spark, a) == first_a
    sibling = spark.newSession()
    assert run(sibling, b) == first_b
    assert qs["compat_token_balances"].build(sibling, b).sparkSession is sibling
    assert run(spark, a) == first_a
