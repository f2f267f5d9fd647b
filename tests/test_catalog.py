"""Warehouse semantics: FINAL dedup, upsert alignment, composite keys.

Ports the reference's live-ClickHouse client tests
(tests/clickhouse_tests.py:26-136) to Parquet + dedup-on-read.
"""

import pytest
from pyspark.sql import Row

from ethereum_analytical_db_spark.catalog import Warehouse, final_dedup


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


@pytest.fixture(params=["plain", "file_uri"])
def wh_any(request, spark, tmp_path):
    """Warehouse over a plain local path AND a ``file:`` URI root. The
    URI form forces every sidecar/compaction/existence op through the
    Hadoop FileSystem code path — the same one an ``hdfs:``/``s3a:``
    warehouse root takes — so the FINAL fast path and compact() are
    proven scheme-portable, not local-disk-only (VERDICT r11 task 1)."""
    root = str(tmp_path / "warehouse")
    if request.param == "file_uri":
        root = "file:" + root
    w = Warehouse(spark, root)
    # the local directory behind the root, for direct-FS assertions
    w._local_root = str(tmp_path / "warehouse")
    return w


def _local(wh_obj, table):
    """Driver-local path of a table under wh_any (strips file: scheme)."""
    import os

    return os.path.join(getattr(wh_obj, "_local_root", wh_obj.root), table)


def test_final_dedup_last_write_wins(spark, wh):
    """Double insert returns one row under FINAL, two without —
    reference tests/clickhouse_tests.py:65-70."""
    wh.create("block_flag")
    df1 = spark.createDataFrame([Row(id="1", name="traces_extracted", value=0)])
    df2 = spark.createDataFrame([Row(id="1", name="traces_extracted", value=1)])
    wh.write("block_flag", df1)
    wh.write("block_flag", df2)
    assert wh.read("block_flag", final=False).count() == 2
    final = wh.read("block_flag", final=True).collect()
    assert len(final) == 1
    assert final[0]["value"] == 1  # later _seq wins


def test_composite_key_tables(spark, wh):
    """block_flag dedups on (id, name) — reference operations/indices.py:7-10."""
    wh.create("block_flag")
    rows = [
        Row(id="1", name="traces_extracted", value=1),
        Row(id="1", name="events_extracted", value=1),
    ]
    wh.write("block_flag", spark.createDataFrame(rows))
    assert wh.read("block_flag").count() == 2


def test_write_schema_alignment(spark, wh):
    """Unknown columns dropped, missing columns null-filled —
    reference bulk_index (clients/custom_clickhouse.py:130-150)."""
    wh.create("block")
    df = spark.createDataFrame([Row(id="5", number=5, bogus="drop-me")])
    wh.write("block", df)
    got = wh.read("block").collect()
    assert len(got) == 1
    assert "bogus" not in got[0].asDict()
    assert got[0]["timestamp"] is None


def test_write_id_expr(spark, wh):
    from pyspark.sql import functions as F

    wh.create("block")
    df = spark.createDataFrame([Row(number=7)])
    wh.write("block", df, id_expr=F.col("number").cast("string"))
    assert wh.read("block").first()["id"] == "7"


def test_final_dedup_identical_payload_stable(spark):
    """Replays with identical payloads keep exactly one deterministic row
    (SURVEY §1.3: 'plain dropDuplicates suffices when replays write
    identical payloads')."""
    df = spark.createDataFrame(
        [Row(id="a", v=1, _seq=10), Row(id="a", v=1, _seq=10), Row(id="b", v=2, _seq=10)]
    )
    out = final_dedup(df, ["id"]).collect()
    assert sorted((r["id"], r["v"]) for r in out) == [("a", 1), ("b", 2)]


def test_compact_reduces_files_and_preserves_final(spark, wh):
    wh.create("block")
    for i in range(3):
        wh.write("block", spark.createDataFrame([Row(id="1", number=i)]))
    wh.compact("block")
    rows = wh.read("block", final=False).collect()
    assert len(rows) == 1
    assert rows[0]["number"] == 2


def _final_plan(wh, table):
    return (
        wh.read(table, final=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_compact_enables_dedup_free_final_fast_path(spark, wh_any):
    """After compact(), read(final=True) must skip the row_number window
    entirely (the table provably holds one live row per key) and any
    subsequent write() must bring the window back — with value parity on
    both sides of each transition. This is the ClickHouse economics:
    FINAL over fully-merged ReplacingMergeTree parts is near-raw cost
    (reference operations/indices.py:34)."""
    wh_any.create("block")
    for i in range(3):
        wh_any.write("block", spark.createDataFrame([Row(id="1", number=i)]))
        wh_any.write("block", spark.createDataFrame([Row(id="2", number=10 + i)]))
    assert not wh_any.is_dedup_free("block")
    assert "Window" in _final_plan(wh_any, "block")
    before = sorted(
        (r["id"], r["number"]) for r in wh_any.read("block", final=True).collect()
    )

    wh_any.compact("block")
    assert wh_any.is_dedup_free("block")
    plan = _final_plan(wh_any, "block")
    assert "Window" not in plan and "window" not in plan
    after = sorted(
        (r["id"], r["number"]) for r in wh_any.read("block", final=True).collect()
    )
    assert after == before == [("1", 2), ("2", 12)]

    # any write invalidates the fast path automatically via _SEQ
    wh_any.write("block", spark.createDataFrame([Row(id="1", number=99)]))
    assert not wh_any.is_dedup_free("block")
    assert "Window" in _final_plan(wh_any, "block")
    got = sorted(
        (r["id"], r["number"]) for r in wh_any.read("block", final=True).collect()
    )
    assert got == [("1", 99), ("2", 12)]

    # re-compact re-arms the fast path and preserves the new winner
    wh_any.compact("block")
    assert wh_any.is_dedup_free("block")
    assert sorted(
        (r["id"], r["number"]) for r in wh_any.read("block", final=True).collect()
    ) == [("1", 99), ("2", 12)]


def test_dedup_free_fast_path_tombstone_roundtrip(spark, wh_any):
    """Tombstones interact safely with the fast path: compact()
    materializes the FINAL view (tombstoned keys dropped), so the raw
    fast-path scan agrees; a post-compact tombstone write re-enables
    the window and deletes the key; the next compact bakes that in."""
    from pyspark.sql import functions as F

    wh_any.create("block")
    wh_any.write("block", spark.createDataFrame([Row(id="1", number=1)]))
    wh_any.write("block", spark.createDataFrame([Row(id="2", number=2)]))
    wh_any.compact("block")
    assert wh_any.is_dedup_free("block")

    tomb = spark.createDataFrame([Row(id="2", number=2)]).withColumn(
        "_tombstone", F.lit(1).cast("byte")
    )
    wh_any.write("block", tomb)
    assert not wh_any.is_dedup_free("block")
    assert [r["id"] for r in wh_any.read("block", final=True).collect()] == ["1"]

    wh_any.compact("block")
    assert wh_any.is_dedup_free("block")
    assert [r["id"] for r in wh_any.read("block", final=True).collect()] == ["1"]


def test_dedup_free_fast_path_degrades_safe_on_missing_sidecar(spark, wh_any):
    """A missing/corrupt sidecar must disable the fast path (window
    runs on a dup-free table — the safe direction), never unlock it."""
    import os

    wh_any.create("block")
    wh_any.write("block", spark.createDataFrame([Row(id="1", number=1)]))
    wh_any.compact("block")
    p = _local(wh_any, "block")
    assert wh_any.is_dedup_free("block")

    os.remove(os.path.join(p, "_COMPACTED_AT"))
    assert not wh_any.is_dedup_free("block")
    assert "Window" in _final_plan(wh_any, "block")
    assert wh_any.read("block", final=True).count() == 1

    # corrupt _SEQ: fast path off, window still correct
    wh_any.compact("block")
    with open(os.path.join(p, "_SEQ"), "w") as f:
        f.write("not-a-number")
    assert not wh_any.is_dedup_free("block")
    assert wh_any.read("block", final=True).count() == 1


def test_compact_crash_between_renames_recovers(spark, tmp_path):
    """A crash in the instant between compact()'s two renames leaves the
    only full copy at '<table>.precompact'. Every entry point (exists,
    read, compact) must roll it back — and never rmtree it — or the next
    write() silently recreates an empty table and a later compact()
    destroys the sole survivor."""
    import os
    import shutil

    from ethereum_analytical_db_spark.catalog import Warehouse

    wh = Warehouse(spark, "file:" + str(tmp_path))  # FS-API code path
    wh.create("block")
    for i in range(2):
        wh.write("block", spark.createDataFrame([Row(id="1", number=i)]))
    # simulate the crash window: canonical renamed away, tmp never landed
    p = str(tmp_path / "block")
    os.rename(p, p + ".precompact")
    assert wh.exists("block")  # recovery, not False
    assert not os.path.isdir(p + ".precompact")
    assert wh.read("block").first()["number"] == 1
    # same crash, recovered via compact() itself — data must survive
    os.rename(p, p + ".precompact")
    wh.compact("block")
    rows = wh.read("block", final=False).collect()
    assert len(rows) == 1 and rows[0]["number"] == 1
    # drop() clears leftovers so a dropped table cannot resurrect
    shutil.copytree(p, p + ".precompact")
    wh.drop("block")
    assert not wh.exists("block")
    assert not os.path.isdir(p + ".precompact")


def test_drop_removes_leftovers_before_canonical(spark, tmp_path, monkeypatch):
    """drop() must delete '.precompact'/'.compact' BEFORE the canonical
    path: a crash between the two deletes in the other order leaves
    (.precompact alive, canonical gone) — exactly the state
    _recover_precompact treats as a mid-compact crash, resurrecting the
    dropped table on the next exists()/read()."""
    import shutil as _shutil

    from ethereum_analytical_db_spark import catalog as catalog_mod
    from ethereum_analytical_db_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    wh.create("block")
    wh.write("block", spark.createDataFrame([Row(id="1", number=0)]))
    p = str(tmp_path / "block")
    _shutil.copytree(p, p + ".precompact")

    order: list[str] = []
    real_delete = catalog_mod.fsutil.delete

    def recording_delete(sp, path, *a, **kw):
        order.append(str(path))
        return real_delete(sp, path, *a, **kw)

    monkeypatch.setattr(catalog_mod.fsutil, "delete", recording_delete)
    wh.drop("block")
    assert order.index(p + ".precompact") < order.index(p)
    # and the crash-window state itself can no longer revive the table:
    # simulate 'leftovers removed, canonical removal never ran'
    monkeypatch.setattr(catalog_mod.fsutil, "delete", real_delete)
    wh.write("block", spark.createDataFrame([Row(id="1", number=1)]))
    _shutil.copytree(p, p + ".precompact")
    real_delete(spark, p + ".precompact")  # step 1 of drop() completed
    real_delete(spark, p)  # step 3 (canonical) also completes; either way
    assert not wh.exists("block")  # no resurrection path remains


def test_compact_restores_table_when_publish_rename_fails(
    spark, tmp_path, monkeypatch
):
    """Hadoop rename reports failure by returning false. When compact()'s
    publish rename (scratch -> canonical) fails, the old copy must be
    back at the canonical path before compact() raises — not left parked
    until some later read() recovers it."""
    import os

    from ethereum_analytical_db_spark import fsutil
    from ethereum_analytical_db_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    wh.create("block")
    for i in range(2):
        wh.write("block", spark.createDataFrame([Row(id="1", number=i)]))
    p = str(tmp_path / "block")
    rows = lambda: sorted(  # noqa: E731
        (r["id"], r["number"], r["_seq"])
        for r in spark.read.parquet(p).collect()
    )
    want = rows()
    real = fsutil.rename
    monkeypatch.setattr(
        fsutil,
        "rename",
        lambda s, src, dst: False if src.endswith(".compact") else real(s, src, dst),
    )
    with pytest.raises(IOError):
        wh.compact("block")
    assert os.path.isdir(p)  # before any read() could recover it
    assert rows() == want
    monkeypatch.setattr(fsutil, "rename", real)
    assert wh.read("block").first()["number"] == 1


def test_concurrent_writer_detected_not_silent(spark, tmp_path):
    """Two Warehouse instances racing writes to one table: the writer
    whose claim lands first proceeds; the other gets a loud
    ConcurrentWriterError instead of silently reusing its _seq
    (VERDICT r11 task 6). A claim file with `_SEQ` not yet advanced is
    exactly the in-flight window of a concurrent writer."""
    from ethereum_analytical_db_spark import catalog as catalog_mod
    from ethereum_analytical_db_spark.catalog import (
        ConcurrentWriterError,
        Warehouse,
    )

    a = Warehouse(spark, str(tmp_path))
    b = Warehouse(spark, str(tmp_path))  # second writer, same table dir
    a.create("block")
    a.write("block", spark.createDataFrame([Row(id="1", number=0)]))

    # freeze writer A in the claim→sidecar-update window: its claim for
    # seq 2 exists, _SEQ still reads 1 — then writer B races in
    assert catalog_mod.fsutil.create_exclusive(
        spark, str(tmp_path / "block" / "_SEQ.claim.2")
    )
    with pytest.raises(ConcurrentWriterError, match="_SEQ.claim.2"):
        b.write("block", spark.createDataFrame([Row(id="1", number=1)]))
    # exactly one proceeded: no new data row landed, no seq reuse
    assert a.read("block", final=False).count() == 1

    # A "completes" (sidecar advanced) but crashed before removing its
    # claim: the claim is provably stale — B sweeps it and proceeds
    # with a DISTINCT seq (no reuse)
    a._write_seq_sidecar("block", 2)
    b.write("block", spark.createDataFrame([Row(id="1", number=2)]))
    rows = b.read("block", final=False).select("_seq").collect()
    seqs = sorted(r["_seq"] for r in rows)
    assert seqs == [1, 3]  # seq 2 was consumed by the claim, never reused
    assert b.read("block", final=True).first()["number"] == 2


def test_warehouse_uri_root_never_touches_python_fs(spark, tmp_path, monkeypatch):
    """On a URI root, the full write/read/compact/drop cycle must run
    entirely through the Hadoop FileSystem API — any driver-local
    os/shutil mutation of warehouse paths would target the wrong
    filesystem on hdfs:/s3a: (the non-local deployment this guards).
    Python-side FS mutators are trapped for the warehouse subtree."""
    import os as _os
    import shutil as _shutil

    from ethereum_analytical_db_spark.catalog import Warehouse

    root_local = str(tmp_path / "uri_wh")
    wh = Warehouse(spark, "file:" + root_local)

    def trap(fn_name, real):
        def guarded(*args, **kw):
            for a in args[:2]:
                if isinstance(a, (str, bytes)) and root_local in str(a):
                    raise AssertionError(
                        f"{fn_name} called on warehouse path {a!r} — "
                        "must go through fsutil/Hadoop FS"
                    )
            return real(*args, **kw)

        return guarded

    for mod, name in [
        (_os, "rename"),
        (_os, "replace"),
        (_os, "makedirs"),
        (_os, "remove"),
        (_shutil, "rmtree"),
    ]:
        monkeypatch.setattr(mod, name, trap(name, getattr(mod, name)))

    wh.create("block")
    wh.write("block", spark.createDataFrame([Row(id="1", number=1)]))
    wh.write("block", spark.createDataFrame([Row(id="1", number=2)]))
    wh.compact("block")
    assert wh.is_dedup_free("block")
    assert wh.read("block", final=True).first()["number"] == 2
    wh.drop("block")
    assert not wh.exists("block")


def test_compact_preserves_block_range_partitioning(spark, tmp_path):
    """compact() must not trade the FINAL-window saving for partition
    pruning: a _block_range layout survives the rewrite on disk."""
    import os

    from pyspark.sql import functions as F

    from ethereum_analytical_db_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    rows = spark.createDataFrame(
        [(i, "2020-01-01 00:00:00") for i in range(0, 250_000, 10_000)],
        "number long, ts string",
    ).selectExpr("number", "CAST(ts AS TIMESTAMP) AS timestamp")
    for _ in range(2):  # two versions per id -> compaction has work
        wh.write("block", rows, id_expr=rows.number.cast("string"),
                 block_partition="number")
    wh.compact("block")
    parts = sorted(p for p in os.listdir(tmp_path / "block") if p.startswith("_block_range="))
    assert parts == ["_block_range=0", "_block_range=100000", "_block_range=200000"]
    after = wh.read("block", final=False)
    assert after.count() == 25  # one version per id
    # block predicates still prune directories after compaction
    plan = after.filter(F.col("_block_range") == 0)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_block_range" in plan.split("PartitionFilters")[1][:120]


def test_block_range_partitioned_write_prunes(spark, tmp_path):
    """block_partition derives a hive partition; block predicates become
    partition pruning (PartitionFilters in the scan)."""
    from ethereum_analytical_db_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    rows = spark.createDataFrame(
        [(i, f"2020-01-01 00:00:{i % 60:02d}") for i in range(0, 250_000, 10_000)],
        "number long, ts string",
    ).selectExpr("number", "CAST(ts AS TIMESTAMP) AS timestamp")
    wh.write("block", rows, id_expr=rows.number.cast("string"),
             block_partition="number")
    import os
    parts = sorted(p for p in os.listdir(tmp_path / "block") if p.startswith("_block_range="))
    assert parts == ["_block_range=0", "_block_range=100000", "_block_range=200000"]

    got = wh.read("block").filter("number >= 200000")
    assert got.count() == 5  # 200k..240k
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "_block_range" in plan  # partition column participates in pruning


def test_count_distinct_skewproof_matches_exact(spark):
    from pyspark.sql import functions as F
    from ethereum_analytical_db_spark.operators.predicates import (
        count_distinct_skewproof,
    )

    df = spark.createDataFrame(
        [("hot", v % 7) for v in range(100)] + [("cold", 1), ("cold", 2)],
        "k string, v int",
    )
    got = {r["k"]: r["n"] for r in count_distinct_skewproof(df, "k", "v", "n").collect()}
    want = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()}
    assert got == want == {"hot": 7, "cold": 2}


def test_iterate_cursor_matches_full_read(spark, wh):
    """S2 cursor helper (reference iterate(),
    clients/custom_clickhouse.py:94-128): chunked iteration covers
    exactly the FINAL-deduped rows, chunks respect `per`."""
    wh.create("block_flag")
    rows = [Row(id=str(i), name="traces_extracted", value=i) for i in range(25)]
    wh.write("block_flag", spark.createDataFrame(rows))
    # one overwrite so FINAL semantics are in play during iteration
    wh.write(
        "block_flag",
        spark.createDataFrame([Row(id="0", name="traces_extracted", value=99)]),
    )
    chunks = list(wh.iterate("block_flag", per=10, fields=["id", "value"]))
    assert [len(c) for c in chunks[:-1]] == [10, 10]  # full chunks first
    assert sum(len(c) for c in chunks) == 25
    # reference-style query= filter condition
    filtered = [
        r["id"]
        for c in wh.iterate("block_flag", per=10, query="value >= 20")
        for r in c
    ]
    assert sorted(filtered) == ["0", "20", "21", "22", "23", "24"]  # "0" was upserted to 99
    got = {r["id"]: r["value"] for c in chunks for r in c}
    want = {
        r["id"]: r["value"]
        for r in wh.read("block_flag").select("id", "value").collect()
    }
    assert got == want and got["0"] == 99


def test_export_jdbc_writer_seam_records_statement(spark, wh):
    """The injectable writer boundary: no _seq leakage, FINAL dedup
    applied, url/dbtable/mode/options pass through."""
    wh.create("block_flag")
    wh.write("block_flag", spark.createDataFrame(
        [Row(id="1", name="n", value=0)]))
    wh.write("block_flag", spark.createDataFrame(
        [Row(id="1", name="n", value=7)]))
    recorded = {}

    def fake_writer(df, url, dbtable, mode, options):
        recorded.update(
            url=url, dbtable=dbtable, mode=mode, options=options,
            rows=[r.asDict() for r in df.collect()], cols=df.columns,
        )

    wh.export_jdbc(
        "block_flag", "jdbc:clickhouse://ch:8123/db", dbtable="eth_block_flag",
        mode="overwrite", options={"driver": "x.Driver"}, writer=fake_writer,
    )
    assert recorded["url"] == "jdbc:clickhouse://ch:8123/db"
    assert recorded["dbtable"] == "eth_block_flag"
    assert recorded["mode"] == "overwrite"
    assert recorded["options"] == {"driver": "x.Driver"}
    assert "_seq" not in recorded["cols"]
    assert recorded["rows"] == [{"id": "1", "name": "n", "value": 7}]


def test_export_jdbc_roundtrip_embedded_derby(spark, wh):
    """End-to-end through Spark's real JDBC writer against the embedded
    Derby that ships in Spark's jars — an actual in-memory JDBC target,
    no fake (the sandbox has no ClickHouse; the production url swap is
    config, not code)."""
    wh.create("block_flag")
    rows = [Row(id=str(i), name="traces_extracted", value=i) for i in range(8)]
    wh.write("block_flag", spark.createDataFrame(rows))
    url = "jdbc:derby:memory:whtest;create=true"
    opts = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    wh.export_jdbc("block_flag", url, dbtable="flags", mode="overwrite", options=opts)
    back = (
        spark.read.format("jdbc")
        .option("url", "jdbc:derby:memory:whtest")
        .option("dbtable", "flags")
        .options(**opts)
        .load()
    )
    got = {(r["id"], r["name"], r["value"]) for r in back.collect()}
    assert got == {(str(i), "traces_extracted", i) for i in range(8)}
    assert "_seq" not in back.columns


# ---- ClickHouse DDL generation (reference operations/indices.py:18-37) ----

_EXPECTED_DDL = {
    "block": (
        "CREATE TABLE IF NOT EXISTS block (`id` String, `number` Int64, "
        "`timestamp` DateTime) ENGINE = ReplacingMergeTree() ORDER BY (id)"
    ),
    "block_flag": (
        "CREATE TABLE IF NOT EXISTS block_flag (`id` String, `name` String, "
        "`value` Nullable(UInt8)) ENGINE = ReplacingMergeTree() "
        "ORDER BY (id, name)"
    ),
    "contract_block": (
        "CREATE TABLE IF NOT EXISTS contract_block (`id` String, "
        "`name` String, `value` Int64) ENGINE = ReplacingMergeTree() "
        "ORDER BY (id, name)"
    ),
    "contract_abi": (
        "CREATE TABLE IF NOT EXISTS contract_abi (`id` String, "
        "`abi_extracted` Nullable(UInt8), `abi` Nullable(String)) "
        "ENGINE = ReplacingMergeTree() ORDER BY (id)"
    ),
    "event": (
        "CREATE TABLE IF NOT EXISTS event (`id` String, `type` String, "
        "`logIndex` Int32, `transactionLogIndex` Int32, `data` String, "
        "`transactionIndex` Int32, `address` String, "
        "`transactionHash` String, `blockHash` String, `blockNumber` Int32, "
        "`topics` Array(String)) ENGINE = ReplacingMergeTree() ORDER BY (id)"
    ),
    "transaction_input": (
        "CREATE TABLE IF NOT EXISTS transaction_input (`id` String, "
        "`name` String, `params_type` Array(String), "
        "`params_value` Array(String)) ENGINE = ReplacingMergeTree() "
        "ORDER BY (id)"
    ),
    "price": (
        "CREATE TABLE IF NOT EXISTS price (`id` String, `address` String, "
        "`USD` Float64, `BTC` Float64, `ETH` Float64, `timestamp` DateTime) "
        "ENGINE = ReplacingMergeTree() ORDER BY (id)"
    ),
    "contract_description": (
        "CREATE TABLE IF NOT EXISTS contract_description (`id` String, "
        "`token_name` Nullable(String), `token_symbol` Nullable(String), "
        "`decimals` Nullable(UInt8), `total_supply` Nullable(Int64), "
        "`token_owner` Nullable(String), `cmc_id` Nullable(String), "
        "`website_slug` Nullable(String)) ENGINE = ReplacingMergeTree() "
        "ORDER BY (id)"
    ),
    "internal_transaction": (
        "CREATE TABLE IF NOT EXISTS internal_transaction (`id` String, "
        "`blockNumber` Int64, `from` Nullable(String), `to` Nullable(String), "
        "`value` Nullable(Float64), `input` Nullable(String), "
        "`output` Nullable(String), `gas` Nullable(String), "
        "`gasUsed` Nullable(Int32), `gasPrice` Nullable(Float64), "
        "`blockHash` String, `transactionHash` Nullable(String), "
        "`transactionPosition` Nullable(Int32), `subtraces` Int32, "
        "`traceAddress` Array(Int32), `type` String, "
        "`callType` Nullable(String), `address` Nullable(String), "
        "`code` Nullable(String), `init` Nullable(String), "
        "`refundAddress` Nullable(String), `error` Nullable(String), "
        "`parent_error` Nullable(UInt8), `balance` Nullable(String), "
        "`author` Nullable(String), `rewardType` Nullable(String), "
        "`result` Nullable(String)) ENGINE = ReplacingMergeTree() "
        "ORDER BY (id)"
    ),
}


def test_clickhouse_ddl_exact_statements():
    """Pinned byte-for-byte: types (Nullable/Array/DateTime/UInt8),
    ReplacingMergeTree engine, composite ORDER BY for the two (id, name)
    tables — the reference's prepare_indices statements regenerated from
    our StructTypes (reference schema/schema.py + operations/indices.py)."""
    from ethereum_analytical_db_spark.compat import clickhouse_ddl as ddl

    stmts = ddl.prepare_indices_sql()
    for table, expected in _EXPECTED_DDL.items():
        assert stmts[table] == expected, table
    # event_input shares transaction_input's shape (reference schema)
    assert stmts["event_input"] == _EXPECTED_DDL["transaction_input"].replace(
        "transaction_input", "event_input"
    )
    # every logical table (incl. the derived MVs) generates valid DDL
    assert set(stmts) == set(
        __import__(
            "ethereum_analytical_db_spark.schemas", fromlist=["TABLES"]
        ).TABLES
    )


def test_clickhouse_ddl_excludes_engine_columns_and_guards_pk():
    from ethereum_analytical_db_spark import schemas
    from ethereum_analytical_db_spark.compat import clickhouse_ddl as ddl

    # with_engine_columns adds _seq; the DDL must not leak it
    s = schemas.with_engine_columns(schemas.TABLES["block"])
    stmt = ddl.create_table_ddl("block", s)
    assert "_seq" not in stmt
    assert stmt == _EXPECTED_DDL["block"]
    # ORDER BY column absent from the schema fails loudly
    with pytest.raises(ValueError, match="primary key"):
        ddl.create_table_ddl("block", schemas.TABLES["block"], ["nope"])


def test_materialize_bucketed_join_is_exchange_free(spark, tmp_path):
    """Two tables bucketed by the same key into the same bucket count
    must JOIN WITH ZERO EXCHANGE — the co-located-join layout the
    catalog header promises for 100 TB fact tables. Also pins: FINAL
    applied at materialization (last write wins), engine columns
    stripped, result parity with the live join."""
    from ethereum_analytical_db_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    wh.create("block_flag")
    wh.write(
        "block_flag",
        spark.createDataFrame(
            [Row(id=str(i), name="traces_extracted", value=0) for i in range(20)]
        ),
    )
    wh.write(  # same keys again: FINAL must keep these
        "block_flag",
        spark.createDataFrame(
            [Row(id=str(i), name="traces_extracted", value=1) for i in range(20)]
        ),
    )
    wh.create("contract_block")
    wh.write(
        "contract_block",
        spark.createDataFrame(
            [Row(id=str(i), name="w", value=i * 10) for i in range(0, 40, 2)]
        ),
    )
    a = wh.materialize_bucketed("block_flag", buckets=4, by=["id"])
    b = wh.materialize_bucketed("contract_block", buckets=4, by=["id"])
    ta, tb = spark.table(a), spark.table(b)
    assert "_seq" not in ta.columns
    # hint("merge"): the fixture is broadcast-sized, but the layout
    # exists for the both-sides-big case — force the sort-merge path
    # the 100 TB join takes and assert it needs NO shuffle
    joined = ta.hint("merge").join(
        tb.withColumnRenamed("value", "wvalue").select("id", "wvalue"), "id"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan  # bucket-co-located: no shuffle
    got = {r["id"]: (r["value"], r["wvalue"]) for r in joined.collect()}
    want = {
        str(i): (1, i * 10) for i in range(0, 20) if i % 2 == 0
    }
    assert got == want  # FINAL kept value=1; inner join on even ids
    # re-materialization overwrites cleanly
    a2 = wh.materialize_bucketed("block_flag", buckets=4, by=["id"])
    assert a2 == a and spark.table(a2).count() == 20
    # namespace isolation (review find): bucketed files live OUTSIDE the
    # logical-table path namespace, so the warehouse can never alias a
    # plain table into the bucketed layout (a path-wise append would
    # break the bucket invariant the catalog still advertises)
    import os as _os

    assert _os.path.isdir(_os.path.join(wh.root, "_bucketed", a))
    assert not wh.exists(a)
    # the layout also makes aggregation AND the FINAL-style window on
    # the bucket key exchange-free (SCALE.md claim, pinned here)
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    agg_plan = (
        ta.groupBy("id").agg(_F.sum("value"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in agg_plan, agg_plan
    w = _W.partitionBy("id").orderBy("value")
    win_plan = (
        ta.withColumn("rn", _F.row_number().over(w)).filter("rn = 1")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in win_plan, win_plan
    spark.sql(f"DROP TABLE IF EXISTS {a}")
    spark.sql(f"DROP TABLE IF EXISTS {b}")


def test_materialize_bucketed_rejects_non_identifier_name(spark, tmp_path):
    """The name is interpolated into SQL and the session catalog; a
    dash/dot/quote must fail HERE with a clear message, not as a Spark
    parse error (or a write into another namespace) — review find."""
    from ethereum_analytical_db_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    wh.create("block_flag")
    wh.write(
        "block_flag",
        spark.createDataFrame([Row(id="1", name="n", value=0)]),
    )
    for bad in ("a-b", "a.b", "a b", "a`b", "1leading", "x;DROP TABLE y"):
        with pytest.raises(ValueError, match="identifier"):
            wh.materialize_bucketed("block_flag", buckets=2, by=["id"], name=bad)
