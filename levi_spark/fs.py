"""Scheme-aware filesystem seam for the Delta metadata plane.

The transaction-log machinery (``levi_spark.delta``) lists, reads and
publishes log/checkpoint/sidecar files through THIS module instead of
raw ``os``/``open`` calls, so a table path can be a plain POSIX path
*or* a URI (``file://``, ``hdfs://``, ``s3a://``, ...):

* plain paths (no ``scheme://``) -> :class:`LocalFS`, thin wrappers
  over ``os`` — zero new overhead on the already-tested local path;
* URIs -> :class:`HadoopFS`, the JVM ``org.apache.hadoop.fs.
  FileSystem`` already living in the Spark driver process (reached
  over the py4j gateway, no new dependency). Whatever filesystems the
  cluster's Hadoop conf knows (HDFS, S3A, ABFS, GCS connectors) work
  unmodified, because resolution happens inside Hadoop.

Reference parity note: the reference engine (levi) is driver-local
POSIX end to end — ``deltalake.DeltaTable(path)`` over a local disk
path (``/root/reference/levi/__init__.py:50-63``). This seam is the
part of the 100-TB story the reference skips: a 100 TB table lives on
an object store, so the *metadata plane* must speak URIs. The DATA
plane already does — ``spark.read.parquet``/``df.write`` accept the
same URIs natively.

Atomicity contract (same as delta-rs / Delta Lake):
``create_exclusive`` (put-if-absent) is the commit primitive. It is
atomic on POSIX (``open(..., "x")`` — ``file://`` URIs are routed
there too, since Hadoop's LocalFileSystem lacks O_EXCL) and on HDFS
(``create`` with ``overwrite=false``). S3-class schemes report
``atomic_put_if_absent = False`` and Delta commits to them route
through the filesystem commit coordinator automatically (every
commit is published by ``delta/writer.py:commit``) — staged
``_commits/`` entries with existence-check arbitration instead of a
silent lost write.

Everything here is DRIVER-side. Executor-side file IO (the
self-hosted parquet staging, deletion-vector emission) keeps raw
``open`` on ``local_form()`` paths; for genuinely remote schemes it
stages through a driver-visible local scratch and the driver ships
the files through this seam (:func:`executor_dir`); deletion
vectors are decoded on the driver, which reads them here — shipping a
Hadoop client into Python workers stays out of scope, and the
standard executor path (``df.write``) already handles URIs in the JVM.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager
from dataclasses import dataclass


def _has_scheme(path: str) -> bool:
    # "scheme://..." with a plausible scheme token (letters+digits).
    # Windows drive letters ("C:\") don't hit this on the Linux-only
    # local backend; a bare "://"-free path is always local.
    i = path.find("://")
    return i > 0 and path[:i].replace("+", "").replace(".", "").isalnum()


def _strip_uri_slash(path: str) -> str:
    """Normalize a URI's trailing slashes WITHOUT mangling roots:
    strip them only from the path component after ``scheme://
    authority``, preserving ``scheme:///`` (authority-less root — a
    bare ``rstrip('/')`` would yield ``scheme:`` and break scheme
    detection) and collapsing ``scheme://bucket/`` to
    ``scheme://bucket``."""
    i = path.find("://")
    head, rest = path[: i + 3], path[i + 3:]
    if "/" not in rest:
        return path
    auth, p = rest.split("/", 1)
    p = ("/" + p).rstrip("/")
    if not p:
        p = "/" if not auth else ""
    return head + auth + p


# Object-store schemes whose Hadoop ``create(overwrite=false)`` is
# check-then-write rather than an atomic put-if-absent (no conditional
# PUT wired through the connector) — the delta-rs-without-a-lock
# degradation. Commits to these route through the filesystem commit
# coordinator (see ``delta/writer.py:commit``) instead of
# silently losing the concurrent-writer guarantee. hdfs (namenode-
# arbitrated), file (routed to POSIX O_EXCL below), abfs/gs
# (conditional-PUT connectors) stay on the direct path.
_NON_ATOMIC_SCHEMES = {"s3", "s3a", "s3n", "oss", "cos", "swift"}

# Test seam: schemes forced down the non-atomic branch so the
# coordinator fallback is exercisable on file:// fixtures
# (comma-separated env, e.g. LEVI_FORCE_NON_ATOMIC_SCHEMES=file).
def _forced_non_atomic() -> set[str]:
    v = os.environ.get("LEVI_FORCE_NON_ATOMIC_SCHEMES", "")
    return {s.strip() for s in v.split(",") if s.strip()}


def local_form(path: str) -> str | None:
    """The POSIX form of ``path`` if one exists (plain path, or a
    ``file://`` URI stripped), else None. Used by executor-side code
    that must ``open()`` locally."""
    if not _has_scheme(path):
        return path
    if path.startswith("file://"):
        rest = path[len("file://"):]
        # file:///x -> /x ; file://host/x strips the host (Hadoop's
        # LocalFileSystem ignores it too); a bare "file://host" has
        # no path component -> not a usable local form
        if rest.startswith("/"):
            return rest
        return "/" + rest.split("/", 1)[1] if "/" in rest else None
    return None


@dataclass(frozen=True)
class FileStat:
    size: int
    mtime_ms: int


class LocalFS:
    """Plain-``os`` backend — byte-for-byte the pre-seam behavior."""

    scheme = None
    # POSIX open(..., 'x') is a true O_EXCL put-if-absent
    atomic_put_if_absent = True

    def absolutize(self, path: str) -> str:
        return os.path.abspath(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def read_text(self, path: str) -> str:
        with open(path, "r") as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        with open(path, "wb") as f:
            f.write(data)

    def write_text(self, path: str, text: str) -> None:
        with open(path, "w") as f:
            f.write(text)

    def create_exclusive(self, path: str, text: str) -> None:
        with open(path, "x") as f:
            f.write(text)

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def stat(self, path: str) -> FileStat:
        st = os.stat(path)
        return FileStat(st.st_size, int(st.st_mtime * 1000))

    def getsize(self, path: str) -> int:
        return os.path.getsize(path)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def replace(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def walk(self, path: str):
        yield from os.walk(path)


class HadoopFS:
    """JVM ``org.apache.hadoop.fs.FileSystem`` backend for URI table
    paths — driver-side py4j calls against the FileSystem instance
    Hadoop resolves for the URI's scheme+authority (cached per
    instance; Hadoop caches per-(scheme, authority, ugi) underneath).
    """

    def __init__(self, spark, uri_sample: str):
        self._spark = spark
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        juri = self._jvm.java.net.URI(uri_sample)
        self.jfs = self._jvm.org.apache.hadoop.fs.FileSystem.get(
            juri, self._conf
        )
        self.scheme = juri.getScheme()

    # -- helpers -----------------------------------------------------
    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _read_stream(self, stream) -> bytes:
        try:
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(
                stream
            )
        finally:
            stream.close()
        return bytes(data)

    # -- API ----------------------------------------------------------
    @property
    def atomic_put_if_absent(self) -> bool:
        """Whether ``create_exclusive`` is a true put-if-absent on
        this backend. file:// is (routed to POSIX O_EXCL); hdfs is
        (namenode-arbitrated create); S3-class stores are not —
        commits there route through the coordinator fallback."""
        s = (self.scheme or "").lower()
        return s not in _NON_ATOMIC_SCHEMES and s not in _forced_non_atomic()

    def absolutize(self, path: str) -> str:
        # URIs are already absolute names; normalize trailing slash
        # on the path component only (scheme:/// must survive)
        return _strip_uri_slash(path)

    def listdir(self, path: str) -> list[str]:
        if not self.jfs.exists(self._p(path)):
            raise FileNotFoundError(path)
        return [
            st.getPath().getName()
            for st in self.jfs.listStatus(self._p(path))
        ]

    def exists(self, path: str) -> bool:
        return bool(self.jfs.exists(self._p(path)))

    def isdir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self.jfs.exists(p)) and bool(
            self.jfs.getFileStatus(p).isDirectory()
        )

    def read_bytes(self, path: str) -> bytes:
        from py4j.protocol import Py4JJavaError

        try:
            stream = self.jfs.open(self._p(path))
        except Py4JJavaError as e:
            if "FileNotFound" in str(e.java_exception.getClass()):
                raise FileNotFoundError(path) from None
            raise
        return self._read_stream(stream)

    def read_text(self, path: str) -> str:
        return self.read_bytes(path).decode("utf-8")

    def write_bytes(self, path: str, data: bytes) -> None:
        out = self.jfs.create(self._p(path), True)
        try:
            if data:
                out.write(data)
        finally:
            out.close()

    def write_text(self, path: str, text: str) -> None:
        self.write_bytes(path, text.encode("utf-8"))

    def create_exclusive(self, path: str, text: str) -> None:
        # atomic on HDFS (namenode-arbitrated create w/ overwrite=
        # false). Hadoop's LocalFileSystem create(overwrite=false) is
        # exists-check-then-create with no O_EXCL, so file:// paths
        # are routed to POSIX open(..., 'x') instead — true atomicity
        # is trivially available locally and two concurrent writers
        # to a file://-addressed table must not both publish the same
        # version. On S3-class stores the Hadoop call degrades to
        # check-then-write; those schemes report
        # ``atomic_put_if_absent=False`` and commits route through
        # the coordinator fallback rather than relying on this.
        lp = local_form(path)
        if lp is not None:
            _LOCAL.create_exclusive(lp, text)
            return
        from py4j.protocol import Py4JJavaError

        try:
            out = self.jfs.create(self._p(path), False)
        except Py4JJavaError as e:
            if "ExistsException" in str(e.java_exception.getClass()) or (
                "already exists" in str(e.java_exception.getMessage()
                                        or "")
            ):
                raise FileExistsError(path) from None
            raise
        try:
            out.write(text.encode("utf-8"))
        finally:
            out.close()

    def mkdirs(self, path: str) -> None:
        self.jfs.mkdirs(self._p(path))

    def stat(self, path: str) -> FileStat:
        from py4j.protocol import Py4JJavaError

        try:
            st = self.jfs.getFileStatus(self._p(path))
        except Py4JJavaError as e:
            if "FileNotFound" in str(e.java_exception.getClass()):
                raise FileNotFoundError(path) from None
            raise
        return FileStat(int(st.getLen()),
                        int(st.getModificationTime()))

    def getsize(self, path: str) -> int:
        return self.stat(path).size

    def remove(self, path: str) -> None:
        self.jfs.delete(self._p(path), False)

    def rmtree(self, path: str) -> None:
        self.jfs.delete(self._p(path), True)

    def rename(self, src: str, dst: str) -> None:
        if not self.jfs.rename(self._p(src), self._p(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def replace(self, src: str, dst: str) -> None:
        p = self._p(dst)
        if self.jfs.exists(p):
            self.jfs.delete(p, False)
        self.rename(src, dst)

    def walk(self, path: str):
        """os.walk-shaped (root, dirnames, filenames) over the remote
        tree — one listStatus per directory, top-down."""
        stack = [path.rstrip("/")]
        while stack:
            root = stack.pop(0)
            dirs, files = [], []
            for st in self.jfs.listStatus(self._p(root)):
                name = st.getPath().getName()
                (dirs if st.isDirectory() else files).append(name)
            yield root, dirs, files
            stack[:0] = [f"{root}/{d}" for d in dirs]


_LOCAL = LocalFS()
_HADOOP_CACHE: dict[tuple[str, str], HadoopFS] = {}


def fs_for(path: str):
    """The filesystem backend for ``path``: :data:`LocalFS` for plain
    paths, a (cached) :class:`HadoopFS` for ``scheme://`` URIs. URI
    dispatch needs an active SparkSession (the JVM gateway)."""
    if not _has_scheme(path):
        return _LOCAL
    from pyspark.sql import SparkSession

    # getActiveSession is THREAD-local; multi-writer code commits from
    # worker threads (a supported Spark pattern), so fall back to the
    # process-global default session before giving up.
    spark = (
        SparkSession.getActiveSession()
        or getattr(SparkSession, "_instantiatedSession", None)
    )
    if spark is None:
        raise RuntimeError(
            f"URI table path {path!r} needs an active SparkSession "
            "(the Hadoop FileSystem rides the driver JVM)"
        )
    i = path.find("://")
    scheme = path[:i]
    authority = path[i + 3:].split("/", 1)[0]
    key = (scheme, authority)
    hit = _HADOOP_CACHE.get(key)
    if hit is None or hit._spark is not spark:
        hit = _HADOOP_CACHE[key] = HadoopFS(spark, path)
    return hit


def absolutize(path: str) -> str:
    """Scheme-preserving ``os.path.abspath``: URIs pass through
    (they are absolute by construction — abspath would mangle the
    ``//``), plain paths are made absolute."""
    if _has_scheme(path):
        return _strip_uri_slash(path)
    return os.path.abspath(path)


def join_path(base: str, rel: str) -> str:
    """Join a table-relative entry onto a base path/URI. An absolute
    or schemed ``rel`` (external add from a shallow clone) passes
    through untouched — mirroring ``os.path.join``'s absolute-second-
    arg behavior, which the log replay's keep-set compare relies on."""
    if os.path.isabs(rel) or _has_scheme(rel):
        return rel
    return f"{base.rstrip('/')}/{rel}"


def copy_file(src: str, dst: str) -> None:
    """Copy one file across any scheme combination (clone's data-file
    copy). Local->local keeps ``shutil.copy2``; anything else routes
    through Hadoop ``FileUtil.copy`` (recursive for directories)."""
    sfs, dfs = fs_for(src), fs_for(dst)
    if sfs is _LOCAL and dfs is _LOCAL:
        shutil.copy2(src, dst)
        return
    hfs = sfs if isinstance(sfs, HadoopFS) else dfs
    jvm = hfs._jvm
    sj = sfs.jfs if isinstance(sfs, HadoopFS) else (
        jvm.org.apache.hadoop.fs.FileSystem.getLocal(hfs._conf)
    )
    dj = dfs.jfs if isinstance(dfs, HadoopFS) else (
        jvm.org.apache.hadoop.fs.FileSystem.getLocal(hfs._conf)
    )
    ok = jvm.org.apache.hadoop.fs.FileUtil.copy(
        sj, jvm.org.apache.hadoop.fs.Path(src),
        dj, jvm.org.apache.hadoop.fs.Path(dst),
        False, hfs._conf,
    )
    if not ok:
        raise OSError(f"copy failed: {src} -> {dst}")


def copy_tree(src: str, dst: str) -> None:
    """Recursive copy (the self-hosted writer's staged output)."""
    sfs, dfs = fs_for(src), fs_for(dst)
    if sfs is _LOCAL and dfs is _LOCAL:
        shutil.copytree(src, dst, dirs_exist_ok=True)
        return
    copy_file(src, dst)  # FileUtil.copy recurses into directories


@contextmanager
def executor_dir(target: str, local: str | None, prefix: str):
    """A directory executor-side Python can ``open()`` for files bound
    for ``target``, whose :func:`local_form` is ``local``. A target
    with a local form gets that form. A genuinely remote one gets a
    driver-visible local scratch under ``prefix`` (in
    ``LEVI_EXEC_SCRATCH`` or the system tempdir: on a real cluster a
    shared mount, in local/local-cluster mode the tempdir qualifies);
    on a clean exit every entry in it is copied to ``target`` through
    the scheme filesystem (one streaming driver-side pass, no file
    bytes held in memory), and the scratch is removed either way."""
    if local is not None:
        yield local
        return
    scratch = tempfile.mkdtemp(
        prefix=prefix, dir=os.environ.get("LEVI_EXEC_SCRATCH") or None
    )
    try:
        yield scratch
        fs_for(target).mkdirs(target)
        for name in os.listdir(scratch):
            copy_file(os.path.join(scratch, name), f"{target.rstrip('/')}/{name}")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
