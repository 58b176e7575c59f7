"""The engine's one storage-path helper: the snapshot store (plans/crawl.py)
and durable round state (operators/scratch.py) handle their paths through
Hadoop ``FileSystem``, as Spark writes their data, using the JVM and Hadoop
configuration of the active SparkContext. Any path Spark can write works."""

from __future__ import annotations

from pyspark import SparkContext


def _fs(path: str):
    """(SparkContext, Hadoop ``Path``, its ``FileSystem``) for ``path``."""
    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("storage paths need an active SparkContext")
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return sc, p, p.getFileSystem(sc._jsc.hadoopConfiguration())


def exists(path: str) -> bool:
    _, p, fs = _fs(path)
    return fs.exists(p)


def list_names(path: str) -> list[str]:
    """Names of the entries directly under ``path``; [] if it is absent."""
    _, p, fs = _fs(path)
    if not fs.exists(p):
        return []
    return [s.getPath().getName() for s in fs.listStatus(p)]


def mkdirs(path: str) -> None:
    _, p, fs = _fs(path)
    fs.mkdirs(p)


def delete(path: str) -> None:
    """Delete ``path`` recursively; raises if it is still there after."""
    _, p, fs = _fs(path)
    if not fs.delete(p, True) and fs.exists(p):
        raise OSError(f"could not delete {path}")


def qualify(path: str) -> str:
    """``path`` with its scheme, e.g. ``/a`` and ``file:///a`` → ``file:/a``."""
    _, p, fs = _fs(path)
    return fs.makeQualified(p).toString()


def read_text(path: str) -> str | None:
    """The UTF-8 text of the file at ``path``; None if it is absent."""
    _, p, fs = _fs(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode()
    finally:
        stream.close()


def write_text_atomic(path: str, text: str) -> None:
    """Replace the file at ``path`` with ``text``: write a temp file, then
    ``FileContext.rename(tmp, path, Options.Rename.OVERWRITE)``. Atomic on
    HDFS and the local FS; object stores have no atomic rename."""
    sc, p, fs = _fs(path)
    hfs, dst = sc._jvm.org.apache.hadoop.fs, fs.makeQualified(p)
    tmp = hfs.Path(dst.toString() + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()
    rename = getattr(hfs, "Options$Rename")
    opts = sc._gateway.new_array(rename, 1)
    opts[0] = rename.OVERWRITE
    hfs.FileContext.getFileContext(
        dst.toUri(), sc._jsc.hadoopConfiguration()).rename(tmp, dst, opts)
