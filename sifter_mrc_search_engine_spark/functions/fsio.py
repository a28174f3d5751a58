"""Small-sidecar file I/O on whatever filesystem a path lives on.

Index directories carry tiny driver-written sidecars next to their
parquet halves (stats.json, _manifest.jsonl, centroids.json). On a real
cluster those directories live on shared storage (HDFS / S3 / GCS), so
sidecar I/O must route through the JVM Hadoop FileSystem exactly like
the parquet halves do — a pathlib-only sidecar would strand the index
metadata on one machine's local disk. Scheme-less paths stay on fast
pathlib (the local tier and every test); any ``scheme://`` path uses
the Hadoop FS bound to the active session's configuration, so whatever
credentials/committers the job configured for parquet apply to the
sidecars too.

``file://`` URIs intentionally take the JVM branch — that is how the
remote code path is exercised in tests without a real object store.
"""

from __future__ import annotations

import os
import re
import threading
from pathlib import Path

from pyspark.sql import SparkSession

#: a URI scheme prefix — including the AUTHORITY-LESS form Hadoop's
#: Path.toString() produces (``file:/tmp/x``, not ``file:///tmp/x``):
#: fs.listStatus stringifies children without the ``//`` when the URI
#: authority is null, and classifying those as local would resolve them
#: as relative pathlib paths that never exist (live-repro'd via
#: list_segments on a file:// streaming index returning []).
_SCHEME = re.compile(r"[a-zA-Z][a-zA-Z0-9+.-]+:/")


def is_remote(path: str) -> bool:
    return bool(_SCHEME.match(str(path)))


def _session(spark: SparkSession | None) -> SparkSession:
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "remote sidecar I/O needs an active SparkSession (Hadoop FS "
            "access goes through the session's JVM)"
        )
    return spark


def _fs(path: str, spark: SparkSession | None):
    spark = _session(spark)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath, hpath.getFileSystem(spark._jsc.hadoopConfiguration())


def exists(path: str, spark: SparkSession | None = None) -> bool:
    if not is_remote(path):
        return Path(path).exists()
    hpath, fs = _fs(path, spark)
    return fs.exists(hpath)


def read_text(path: str, spark: SparkSession | None = None) -> str:
    """Read a small text sidecar. Remote paths stream through the Hadoop
    FileSystem directly — NOT ``spark.read.text``, whose file listing
    silently ignores underscore-prefixed names like ``_manifest.jsonl``
    (they classify as metadata files)."""
    if not is_remote(path):
        return Path(path).read_text()
    spark = _session(spark)
    hpath, fs = _fs(path, spark)
    jvm = spark._jvm
    stream = fs.open(hpath)
    baos = jvm.java.io.ByteArrayOutputStream()
    try:
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, False)
    finally:
        stream.close()
    return baos.toString("UTF-8")


def write_text(path: str, text: str, spark: SparkSession | None = None) -> None:
    """Replace a sidecar. A local path is written to a hidden temp
    sibling and renamed over the target, so a concurrent reader sees the
    old text or the new one, never a truncated file: stats.json is an
    index's commit point."""
    if not is_remote(path):
        p = Path(path)
        p.parent.mkdir(parents=True, exist_ok=True)
        tmp = p.with_name(f".{p.name}.{os.getpid()}.{threading.get_ident()}.tmp")
        try:
            tmp.write_text(text)
            os.replace(tmp, p)
        finally:
            tmp.unlink(missing_ok=True)
        return
    hpath, fs = _fs(path, spark)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()


def _is_no_append_error(e: Exception) -> bool:
    """True when the exception means "this store has no append" — the
    only case the manifest protocol may fall back to read+rewrite.
    Stores signal it differently (Hadoop 3 ChecksumFileSystem/S3A raise
    UnsupportedOperationException; Hadoop 2 and dfs.support.append=false
    raise IOException('Not supported'); connectors may wrap the real
    cause), so walk the JVM cause chain checking class names AND
    messages. Auth/network/lease errors match none of these and
    re-raise."""
    def _marked(name: str, msg: str) -> bool:
        # class names are the reliable signal; the message heuristic is
        # restricted to IOExceptions whose message STARTS with the known
        # no-append shapes ("Not supported", "Append is not supported
        # by <FS>"), so a transient error whose text merely CONTAINS
        # "not supported" mid-sentence still re-raises instead of
        # silently taking the read+rewrite fallback
        # "Unsupported" covers java.lang.UnsupportedOperationException
        # AND HDFS's UnsupportedActionException (dfs.support.append=
        # false) — class NAMES carry intent, unlike free-text messages
        return (
            "Unsupported" in name
            or "NotImplemented" in name
            or (
                name.rsplit(".", 1)[-1] == "IOException"
                and msg.strip().lower().startswith(
                    ("not supported", "append is not supported")
                )
            )
        )

    # PySpark CONVERTS known JVM exceptions into its own captured
    # classes (pyspark.errors....UnsupportedOperationException) that
    # carry no java_exception attribute — classify those by python
    # class name + message
    if _marked(type(e).__name__, str(e)):
        return True
    jexc = getattr(e, "java_exception", None)
    seen = 0
    while jexc is not None and seen < 8:
        if _marked(jexc.getClass().getName(), jexc.getMessage() or ""):
            return True
        jexc = jexc.getCause()
        seen += 1
    return False


def append_text(path: str, text: str, spark: SparkSession | None = None) -> None:
    """Append to a sidecar (the manifest protocol). Remote stores
    without native append (S3A raises UnsupportedOperationException)
    fall back to read-existing + rewrite — manifests are tens of lines,
    and the build protocol is single-writer by design (one driver owns
    an index dir), so the rewrite is safe where the append would be."""
    if not is_remote(path):
        p = Path(path)
        p.parent.mkdir(parents=True, exist_ok=True)
        with p.open("a") as f:
            f.write(text)
        return
    hpath, fs = _fs(path, spark)
    if not fs.exists(hpath):
        return write_text(path, text, spark)
    try:
        out = fs.append(hpath)
    except Exception as e:
        # fall back ONLY for stores that genuinely lack append (S3A
        # raises UnsupportedOperationException); auth/network/lease
        # errors must surface — a blind read+rewrite after a transient
        # failure risks truncating the manifest the append would have
        # left intact
        if not _is_no_append_error(e):
            raise
        prev = read_text(path, spark)
        if prev and not prev.endswith("\n"):
            prev += "\n"
        return write_text(path, prev + text, spark)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()


def delete(path: str, spark: SparkSession | None = None) -> None:
    """Remove a sidecar file or derived directory, missing-ok (the
    invalidate-first protocol calls this for paths that may not exist)."""
    if not is_remote(path):
        import shutil

        p = Path(path)
        if p.is_dir():
            shutil.rmtree(p, ignore_errors=True)
        else:
            p.unlink(missing_ok=True)
        return
    hpath, fs = _fs(path, spark)
    fs.delete(hpath, True)


def listdir(path: str, spark: SparkSession | None = None) -> list[str]:
    """Immediate children of a directory as full paths (empty when the
    directory does not exist) — segment discovery on any filesystem."""
    if not is_remote(path):
        p = Path(path)
        if not p.exists():
            return []
        return [str(c) for c in p.iterdir()]
    hpath, fs = _fs(path, spark)
    if not fs.exists(hpath):
        return []
    return [st.getPath().toString() for st in fs.listStatus(hpath)]


def mtime_ns(path: str, spark: SparkSession | None = None) -> int:
    """Modification time in nanoseconds. Hadoop reports milliseconds;
    the ns unit is kept so local pathlib (true ns) and remote stores
    share one shape."""
    if not is_remote(path):
        return Path(path).stat().st_mtime_ns
    hpath, fs = _fs(path, spark)
    return int(fs.getFileStatus(hpath).getModificationTime()) * 1_000_000


def freshness_token(path: str, spark: SparkSession | None = None) -> tuple:
    """(mtime_ns, size) — the cache-invalidation key for sidecar-derived
    driver state. mtime alone is NOT enough remotely: Hadoop mtime is
    millisecond-or-coarser, so a rebuild that rewrites the sidecar
    within the same tick would serve stale cached state; the size
    component catches any rewrite whose content length changed (and
    stats.json for a different corpus virtually always differs in
    length)."""
    if not is_remote(path):
        st = Path(path).stat()
        return (st.st_mtime_ns, st.st_size)
    hpath, fs = _fs(path, spark)
    st = fs.getFileStatus(hpath)
    return (int(st.getModificationTime()) * 1_000_000, int(st.getLen()))


def join(base: str, *parts: str) -> str:
    """Path join that preserves URI schemes (PurePath would collapse
    the double slash in ``s3a://``)."""
    out = str(base).rstrip("/")
    for p in parts:
        out += "/" + str(p).strip("/")
    return out
