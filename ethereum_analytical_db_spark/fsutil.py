"""Small-file IO through the Hadoop FileSystem API.

The frozen-index sidecars (IVF centroid digest, LSH plane meta, MinHash
band / SimHash chunk parameters) are tiny JSON files living INSIDE a
Parquet index directory. Writing them with driver-local ``open()``
works in local mode but silently targets the wrong filesystem when the
index lives on HDFS/S3 — exactly the 100 TB deployment the indexes
exist for. These helpers route the same reads/writes through the
JVM-side Hadoop FileSystem resolved from the path itself, so
``file:/``, ``hdfs:/`` and ``s3a:/`` index paths all behave
identically. Driver-side only (sidecars are bounded metadata, never
data). The crash-safe directory swap at the bottom (``replace_dir``)
is the one rewrite protocol for warehouse tables and frozen indexes.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


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


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    fs, jsrc = _fs_and_path(spark, src)
    return fs.rename(jsrc, _fs_and_path(spark, dst)[1])


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, jpath = _fs_and_path(spark, path)
    fs.mkdirs(jpath)


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Child entry basenames of a directory; raises FileNotFoundError
    when the directory doesn't exist (mirroring ``os.listdir``)."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        raise FileNotFoundError(path)
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


# ---- crash-safe directory swap ----
# A directory is rewritten in full at ``<path>.compact``, then swapped in
# by two metadata renames: canonical → ``<path>.precompact`` (the
# backup), tmp → canonical. The data always exists in full at one of
# the three paths. ``Warehouse.compact`` and the frozen-index
# rewrites (``dedup.compact_index`` / ``fold_stream_index``) share it.
# Hadoop FileSystem.rename reports most failures by returning false,
# not raising; every rename is checked, because a failed second rename
# followed by deleting the backup would destroy the only full copy.


def recover_swap(spark: SparkSession, path: str) -> None:
    """Finish a swap that crashed between its two renames: canonical
    path absent, the only full copy parked at ``<path>.precompact``.
    Every entry point that reads, writes or probes ``path`` runs this
    FIRST. Without it a write recreates the canonical dir (empty, or
    holding only a sidecar), and the next swap sees canonical-present
    and deletes the backup as stale, destroying the data. When the
    canonical path exists the backup is left alone; ``replace_dir``
    adjudicates its staleness."""
    old = path + ".precompact"
    if not exists(spark, path) and exists(spark, old):
        if not rename(spark, old, path):
            raise IOError(
                f"recovery rename {old} -> {path} failed (Hadoop rename "
                "returned false); data left at the backup path"
            )


def replace_dir(spark: SparkSession, path: str, fill):
    """Replace the directory at ``path`` with what ``fill(tmp)`` writes
    to the temp path ``tmp``, crash-safely (see the protocol above), and
    return what ``fill`` returned. A failed first rename leaves ``path``
    untouched; a failed second rename puts the backup back before
    raising, so the canonical path never stops existing."""
    tmp, old = path + ".compact", path + ".precompact"
    recover_swap(spark, path)
    delete(spark, tmp)
    if exists(spark, path):
        # only now is a leftover backup provably stale; with the
        # canonical path absent it would be the sole surviving copy
        delete(spark, old)
    result = fill(tmp)
    if not rename(spark, path, old):
        raise IOError(
            f"swap rename {path} -> {old} failed (Hadoop rename returned "
            "false); original left untouched"
        )
    if not rename(spark, tmp, path):
        restored = rename(spark, old, path)
        raise IOError(
            f"swap rename {tmp} -> {path} failed; original "
            + ("restored" if restored else f"left at {old} (restore rename ALSO failed)")
        )
    delete(spark, old)
    return result


def delete_dir(spark: SparkSession, path: str) -> None:
    """Remove ``path`` and its swap leftovers. Leftovers go FIRST: with
    the canonical dir removed first, a crash before the backup's delete
    would leave exactly the state ``recover_swap`` revives."""
    delete(spark, path + ".precompact")
    delete(spark, path + ".compact")
    delete(spark, path)
