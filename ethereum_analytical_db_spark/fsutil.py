"""Small-file IO through the Hadoop FileSystem API.

The frozen-index sidecars (MinHash band / SimHash chunk parameters,
the exact-digest kind, IVF centroid digest, LSH plane meta, SemDeDup
threshold and census) are tiny JSON files living INSIDE a Parquet index
directory. Writing them with driver-local ``open()``
works in local mode but silently targets the wrong filesystem when the
index lives on HDFS/S3 — exactly the 100 TB deployment the indexes
exist for. These helpers route the same reads/writes through the
JVM-side Hadoop FileSystem resolved from the path itself, so
``file:/``, ``hdfs:/`` and ``s3a:/`` index paths all behave
identically. Driver-side only (sidecars are bounded metadata, never
data). Every index family writes, validates and ensures its sidecar
through the one protocol here (:func:`write_sidecar`,
:func:`check_sidecar`, :func:`ensure_sidecar`) and supplies only the
sidecar name and its meta dict.

It also holds the package's one directory swap (:func:`swap_dir`,
:func:`recover_swap`): every rewrite that replaces a directory in
place — warehouse compaction, index compaction and folds — publishes
through it, so the scratch and backup names below are spelled nowhere
else.
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)

# sibling names of a swapped directory: the replacement is written to
# <dst>.compact, the replaced copy is parked at <dst>.precompact
_TMP = ".compact"
_BACKUP = ".precompact"


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_and_path(spark, path)
    return fs.exists(jpath)


def glob_exists(spark: SparkSession, pattern: str) -> bool:
    """True when the glob ``pattern`` matches at least one path (e.g.
    ``<index>/batch=*`` — "does this layout hold any data partitions").
    globStatus returns null for a non-existent parent and an empty array
    for no matches; both mean False."""
    fs, jpath = _fs_and_path(spark, pattern)
    matches = fs.globStatus(jpath)
    return matches is not None and len(matches) > 0


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create/overwrite a small text file at ``path``."""
    fs, jpath = _fs_and_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Create/overwrite ``path`` via temp-file + rename, so a crash
    mid-write can never leave a truncated file at the canonical name.
    ``write_text`` is a plain create/truncate — a crash between truncate
    and flush leaves partial JSON that surfaces later as an opaque
    ``json.JSONDecodeError`` and permanently blocks every reader (review
    find). The worst a crash here leaves is an orphan ``.tmp`` beside an
    intact (old or absent) canonical file. Hadoop ``rename`` refuses an
    existing destination on most filesystems, so the old file is deleted
    first: the visible states are old-complete, absent (a loud, already
    handled ``FileNotFoundError``), or new-complete — never truncated."""
    import uuid

    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    write_text(spark, tmp, text)
    fs, jpath = _fs_and_path(spark, path)
    fs.delete(jpath, False)
    if not fs.rename(_fs_and_path(spark, tmp)[1], jpath):
        raise IOError(f"write_text_atomic: rename {tmp} -> {path} failed")


# what a sidecar mismatch breaks, unless the index family says more
_WHY = "a probe or append would route rows by parameters the index was not built with"


def write_sidecar(spark: SparkSession, path: str, name: str, meta: dict) -> None:
    """Write ``meta`` as the JSON sidecar ``name`` (leading underscore:
    Parquet readers skip it) of the index directory ``path``, atomically,
    keys sorted so that identical builds write identical bytes."""
    import json

    write_text_atomic(spark, f"{path}/{name}", json.dumps(meta, sort_keys=True))


def read_sidecar(spark: SparkSession, path: str, name: str, writer: str) -> dict:
    """Read the JSON sidecar ``name`` of the index directory ``path``
    (the reader half of :func:`write_sidecar`). Runs
    :func:`recover_swap` first, so a rewrite that crashed mid-swap is
    rolled back before the read. An absent or unparseable sidecar
    raises a ``ValueError`` naming ``writer``, the operator that
    builds the index, so the caller knows what to rerun."""
    import json

    recover_swap(spark, path)
    try:
        return json.loads(read_text(spark, f"{path}/{name}"))
    except FileNotFoundError:
        raise ValueError(
            f"no {name} sidecar at {path}: index was not written by "
            f"{writer}, cannot validate probe parameters"
        ) from None
    except ValueError as e:  # json.JSONDecodeError ⊂ ValueError
        raise ValueError(
            f"{name} sidecar at {path} is corrupt ({e}): likely a crash "
            f"mid-write by an older writer — rebuild the index ({writer}) "
            "or restore the sidecar by hand"
        ) from None


def check_sidecar(
    spark: SparkSession, path: str, name: str, want: dict, writer: str, why: str = _WHY
) -> dict:
    """Refuse an index whose sidecar ``name`` disagrees with the caller's
    build parameters ``want`` (``why`` says what the mismatch would
    break). Only the keys of ``want`` are compared, so a mutable census
    stays out of the check. Returns the sidecar."""
    meta = read_sidecar(spark, path, name, writer)
    if meta.get("kind") != want["kind"]:
        raise ValueError(f"index at {path} is {meta.get('kind')!r}, not {want['kind']}")
    built = {k: meta.get(k) for k in want}
    if built != want:
        bad = ", ".join(k for k in want if built[k] != want[k])
        raise ValueError(
            f"index at {path} was built with {built}, used with {want}: "
            f"mismatched parameters ({bad}) — {why}"
        )
    return meta


def ensure_sidecar(
    spark: SparkSession, path: str, name: str, meta: dict, writer: str, why: str = _WHY
) -> None:
    """Write the sidecar ``name`` iff absent, else validate ``meta``
    against it: a stream restarted with drifted parameters must raise,
    not stamp them over its index. :func:`recover_swap` runs first, or a
    fresh sidecar would recreate a parked ``path`` empty and the next
    swap would delete the only full copy as stale."""
    recover_swap(spark, path)
    if exists(spark, f"{path}/{name}"):
        check_sidecar(spark, path, name, meta, writer, why)
    else:
        write_sidecar(spark, path, name, meta)


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    fs, jsrc = _fs_and_path(spark, src)
    return fs.rename(jsrc, _fs_and_path(spark, dst)[1])


def swap_tmp(spark: SparkSession, dst: str) -> str:
    """The scratch directory to write ``dst``'s replacement into before
    :func:`swap_dir` publishes it, emptied of a crashed earlier
    attempt's leftover."""
    tmp = dst + _TMP
    delete(spark, tmp)
    return tmp


def swap_dir(spark: SparkSession, tmp: str, dst: str) -> None:
    """Publish the directory ``tmp`` at ``dst`` — the hand-built
    analogue of ReplacingMergeTree swapping merged parts in atomically.

    An existing ``dst`` is first parked at its backup path, then ``tmp``
    is renamed to ``dst``, and the backup is deleted last, so the data
    exists in full at one of the paths at every instant. A crash after
    parking leaves only the backup, which :func:`recover_swap` renames
    back; a crash after publishing leaves a stale backup beside the new
    ``dst``, which the next swap deletes. Hadoop ``rename`` reports most
    failures by returning false rather than raising, so both renames are
    checked: a failed park raises with nothing moved, and a failed
    publish restores the backup before raising, so ``dst`` is never left
    absent. Object stores make ``rename`` a copy, the standard caveat."""
    backup = dst + _BACKUP
    parked = exists(spark, dst)
    if parked:
        delete(spark, backup)  # dst is present, so any backup is stale
        if not rename(spark, dst, backup):
            raise IOError(
                f"swap: rename {dst} -> {backup} failed (Hadoop rename "
                f"returned false); {dst} left untouched"
            )
    if not rename(spark, tmp, dst):
        if not parked:
            raise IOError(f"swap: rename {tmp} -> {dst} failed")
        restored = rename(spark, backup, dst)
        raise IOError(
            f"swap: rename {tmp} -> {dst} failed; original "
            + ("restored" if restored else f"left at {backup}")
        )
    delete(spark, backup)


def recover_swap(spark: SparkSession, dst: str) -> bool:
    """Finish a :func:`swap_dir` that crashed between parking and
    publishing: with ``dst`` absent, its backup IS the directory and is
    renamed back, logged as one WARNING. A backup beside a present
    ``dst`` is stale and is left for the next swap to delete. Every
    reader of a swapped directory runs this first — otherwise a write
    recreates ``dst`` empty and the next swap deletes the only full copy
    as stale. The backup is probed first, so the steady state costs one
    ``exists`` call. Returns True iff it restored."""
    backup = dst + _BACKUP
    if not exists(spark, backup) or exists(spark, dst):
        return False
    if not rename(spark, backup, dst):
        raise IOError(
            f"swap recovery: rename {backup} -> {dst} failed (Hadoop "
            "rename returned false); data left at the backup path"
        )
    _LOG.warning(
        "recovered %s from its swap backup %s: a rewrite crashed between "
        "parking the old copy and publishing the new one", dst, backup,
    )
    return True


def delete_swapped(spark: SparkSession, dst: str) -> None:
    """Recursive delete of ``dst`` with its swap leftovers. The
    leftovers go first: deleting ``dst`` first and crashing before the
    backup delete would leave exactly the state :func:`recover_swap`
    restores, reviving the deleted directory."""
    delete(spark, dst + _BACKUP)
    delete(spark, dst + _TMP)
    delete(spark, dst)


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, jpath = _fs_and_path(spark, path)
    fs.mkdirs(jpath)


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Child entry basenames of a directory; ``[]`` when the directory
    does not exist (an index or table not written yet holds nothing)."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def has_file_with_suffix(spark: SparkSession, path: str, suffix: str) -> bool:
    """True when the directory at ``path`` contains (recursively) at
    least one file whose name ends with ``suffix`` — the "does this
    table hold any data files" probe. Iterates lazily and stops at the
    first hit, so the py4j cost is bounded by the position of the first
    data file, not the directory size."""
    fs, jpath = _fs_and_path(spark, path)
    if not (fs.exists(jpath) and fs.getFileStatus(jpath).isDirectory()):
        return False
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(suffix):
            return True
    return False


def create_exclusive(spark: SparkSession, path: str, text: str = "") -> bool:
    """Create ``path`` only if it does not already exist (Hadoop
    ``create(path, overwrite=false)``); returns False when something
    already holds the name. This is the mutual-exclusion primitive
    behind the Warehouse writer-claim protocol: on HDFS the
    create-exclusive is atomic in the NameNode; on the local filesystem
    Hadoop's exists-then-create leaves a hairline TOCTOU window (fine
    for the single-box dev/test model); on S3A object stores lack
    atomic create-exclusive entirely — a production multi-writer S3
    deployment needs an external coordinator, which is exactly the
    single-writer caveat ``Warehouse._next_seq`` documents."""
    fs, jpath = _fs_and_path(spark, path)
    try:
        out = fs.create(jpath, False)
    except Exception as exc:  # Py4JJavaError wrapping FileAlreadyExists
        if "FileAlreadyExists" in str(exc) or "already exists" in str(exc):
            return False
        raise
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    return True


def delete(spark: SparkSession, path: str) -> bool:
    """Recursive delete; False when the path didn't exist."""
    fs, jpath = _fs_and_path(spark, path)
    return fs.delete(jpath, True)


def read_text(spark: SparkSession, path: str) -> str:
    """Read a small text file at ``path``; raises FileNotFoundError when
    absent so callers can produce their own actionable message."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        raise FileNotFoundError(path)
    jvm = spark._jvm
    stream = fs.open(jpath)
    try:
        sink = jvm.java.io.ByteArrayOutputStream()
        # Hadoop's own IOUtils — always on the classpath with the FS API
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, sink, 4096, False)
        return bytes(sink.toByteArray()).decode("utf-8")
    finally:
        stream.close()
