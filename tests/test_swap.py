"""The package's one crash-safe directory swap (``fsutil.swap_dir`` /
``fsutil.recover_swap``): a fault matrix over every caller that
replaces a directory in place, and a structure pin that keeps it the
only swap."""

from __future__ import annotations

import ast
import logging
import os
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import ethereum_analytical_db_spark
from ethereum_analytical_db_spark import fsutil
from ethereum_analytical_db_spark.catalog import Warehouse
from ethereum_analytical_db_spark.operators import dedup
from ethereum_analytical_db_spark.streaming import dedupe_stream, stream


class Crash(BaseException):
    """A process death mid-swap. A BaseException, so no ``except
    Exception`` in the code under test can catch it and no code after
    the crash point runs."""


STEPS = ("tmp_written", "old_parked", "published")


def _crash_at(monkeypatch, step: str) -> None:
    """Kill the next swap right after ``step``: the scratch copy is
    written but nothing renamed; the old copy is parked but the new one
    not published; the new one is published but the backup not yet
    deleted."""
    real_rename, real_delete = fsutil.rename, fsutil.delete
    published: list[str] = []

    def rename(spark, src, dst):
        if step == "tmp_written" and dst.endswith(".precompact"):
            raise Crash(step)
        if step == "old_parked" and src.endswith(".compact"):
            raise Crash(step)
        ok = real_rename(spark, src, dst)
        if src.endswith(".compact"):
            published.append(dst)
        return ok

    def delete(spark, path):
        if step == "published" and published and path.endswith(".precompact"):
            raise Crash(step)
        return real_delete(spark, path)

    monkeypatch.setattr(fsutil, "rename", rename)
    monkeypatch.setattr(fsutil, "delete", delete)


def _docs(spark, lo: int, hi: int):
    return spark.createDataFrame(
        [(i, f"alpha w{i} beta gamma delta {'x' * (i % 3)}") for i in range(lo, hi)],
        "doc_id long, text string",
    )


def _index_rows(spark, path):
    # batch is left out: a fold relabels it by design
    return lambda: sorted(
        (r["doc"], r["band"], r["bucket"])
        for r in spark.read.parquet(path).collect()
    )


def _warehouse(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create("block")
    wh.write(
        "block",
        spark.createDataFrame([Row(id="1", number=0), Row(id="2", number=5)]),
    )
    wh.write("block", spark.createDataFrame([Row(id="1", number=1)]))

    def entry():
        assert wh.exists("block")

    def rows():
        return sorted((r["id"], r["number"]) for r in wh.read("block").collect())

    return wh._path("block"), lambda: wh.compact("block"), entry, rows


def _band_sidecar(spark, path):
    return (
        spark, path, dedup._BAND_INDEX_META, dedup._band_meta(3, 32, 8),
        dedup._BAND_WRITER,
    )


def _band_index(spark, tmp_path):
    path = str(tmp_path / "band_index")
    dedup.minhash_index_write(_docs(spark, 0, 6), path)
    dedup.minhash_index_append(_docs(spark, 6, 12), path)

    def entry():
        fsutil.check_sidecar(*_band_sidecar(spark, path))

    return (
        path,
        lambda: dedup.compact_index(spark, path, ["band"]),
        entry,
        _index_rows(spark, path),
    )


def _stream_index(spark, tmp_path):
    path = str(tmp_path / "stream_index")
    for b in range(3):
        dedup.minhash_band_rows(_docs(spark, 4 * b, 4 * b + 4)).withColumn(
            "batch", F.lit(b)
        ).write.mode("append").partitionBy("batch", "band").parquet(path)
    fsutil.ensure_sidecar(*_band_sidecar(spark, path))

    def entry():
        fsutil.ensure_sidecar(*_band_sidecar(spark, path))

    return (
        path,
        lambda: dedup.fold_stream_index(spark, path, "band", 3),
        entry,
        _index_rows(spark, path),
    )


def _semantic_stream_index(spark, tmp_path):
    """A SemDeDup stream index: its entry point is the stream wiring's
    sidecar ensure, which a restart runs before any batch."""
    path = str(tmp_path / "semantic_index")
    spark.createDataFrame(
        [(i, [float(i % 2), float(1 - i % 2)], i % 2, 1.0, i % 3 > 0, i // 4)
         for i in range(12)],
        "doc_id long, embedding array<float>, cluster int, "
        "centroid_sim double, kept boolean, batch int",
    ).write.partitionBy("batch", "cluster").parquet(path)
    src = tmp_path / "semantic_src"
    src.mkdir()
    schema = spark.createDataFrame([], "doc_id long, embedding array<float>").schema

    def entry():
        dedupe_stream.near_dedup_stream(
            stream.stream_from_files(spark, str(src), schema),
            path, str(tmp_path / "semantic_pairs"), family="semantic",
            id_col="doc_id", centroids=[[1.0, 0.0], [0.0, 1.0]],
            semantic_threshold=0.9,
        )

    entry()

    def rows():
        return sorted(
            (r["doc_id"], r["cluster"], r["kept"])
            for r in spark.read.parquet(path).collect()
        )

    return (
        path,
        lambda: dedup.fold_stream_index(spark, path, "cluster", 3),
        entry,
        rows,
    )


CALLERS = {
    "warehouse_compact": _warehouse,
    "compact_index": _band_index,
    "fold_stream_index": _stream_index,
    "semantic_stream_index": _semantic_stream_index,
}


@pytest.mark.parametrize("step", STEPS)
@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_swap_fault_matrix(spark, tmp_path, monkeypatch, caplog, caller, step):
    """A crash at each step of every caller's swap, then the caller's
    normal entry point: the same rows come back, a crash between park
    and publish is rolled back with one WARNING naming the path, and the
    next compaction leaves no backup or scratch directory behind."""
    dst, compact, entry, rows = CALLERS[caller](spark, tmp_path)
    want = rows()
    with monkeypatch.context() as m:
        _crash_at(m, step)
        with pytest.raises(Crash):
            compact()
    assert os.path.isdir(dst) == (step != "old_parked")

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=fsutil.__name__):
        entry()
        assert rows() == want
        compact()
        assert rows() == want
    warnings = [r.getMessage() for r in caplog.records if r.name == fsutil.__name__]
    if step == "old_parked":
        assert len(warnings) == 1 and dst in warnings[0], warnings
    else:
        assert warnings == []
    assert not os.path.exists(dst + ".precompact")
    assert not os.path.exists(dst + ".compact")


def test_swap_over_stale_backup_recovers_the_latest_copy(spark, tmp_path, monkeypatch):
    """A crash after publishing leaves a stale backup beside the new
    copy. If the next swap then crashes between park and publish, the
    recovered directory must be that new copy, not the stale backup."""
    dst = tmp_path / "d"
    for suffix, name in [("", "v2"), (".precompact", "v1"), (".compact", "v3")]:
        Path(f"{dst}{suffix}").mkdir()
        Path(f"{dst}{suffix}", name).write_text(name)
    with monkeypatch.context() as m:
        _crash_at(m, "old_parked")
        with pytest.raises(Crash):
            fsutil.swap_dir(spark, f"{dst}.compact", str(dst))
    assert fsutil.recover_swap(spark, str(dst))
    assert sorted(p.name for p in dst.iterdir() if not p.name.startswith(".")) == ["v2"]


PKG = Path(ethereum_analytical_db_spark.__file__).parent


class _RenameCalls(ast.NodeVisitor):
    """Collect the outermost enclosing function of every ``rename``
    call, whether spelled ``fsutil.rename``, ``fs.rename`` or a bare
    imported ``rename``."""

    def __init__(self) -> None:
        self.stack: list[str] = []
        self.callers: list[str] = []

    def visit_FunctionDef(self, node) -> None:
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node) -> None:
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name == "rename":
            self.callers.append(self.stack[0] if self.stack else "<module>")
        self.generic_visit(node)


def test_fsutil_owns_the_only_directory_swap():
    """One swap implementation: the backup name is spelled only in
    fsutil, and outside fsutil only the pairs fold (whose source-delete
    step is not a swap) renames anything. A new hand-rolled swap has to
    change this test."""
    sources = {p.relative_to(PKG).as_posix(): p.read_text() for p in PKG.rglob("*.py")}
    assert [m for m, src in sorted(sources.items()) if ".precompact" in src] == [
        "fsutil.py"
    ]
    renames = set()
    for module, src in sources.items():
        if module == "fsutil.py":
            continue
        visitor = _RenameCalls()
        visitor.visit(ast.parse(src))
        renames.update((module, fn) for fn in visitor.callers)
    assert renames == {("operators/dedup.py", "fold_pairs_gens")}
