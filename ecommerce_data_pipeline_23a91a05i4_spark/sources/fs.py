"""Minimal filesystem abstraction for the stage-then-swap publish paths.

The SCD2 partition swap (operators/scd2.py) and the atomic pointer swap
(sources/maintenance.py) need four verbs — exists / rename / recursive
delete / glob — and nothing else.  Two implementations:

- ``PosixFS``: pathlib + shutil, for plain local paths.  POSIX rename is
  atomic within a filesystem, which is what the crash-safety tests pin.
- ``HadoopFS``: the JVM ``org.apache.hadoop.fs.FileSystem`` resolved per
  path through the session's Hadoop configuration, so the SAME swap code
  runs against ``hdfs://``, ``s3a://``, ``abfs://`` … wherever a 100 TB
  deployment actually keeps its tables.  On HDFS, rename is atomic just
  like POSIX.  On object stores (S3A) rename is copy+delete — NOT atomic
  — but the swap protocol stays crash-CONVERGENT there: the old partition
  is first renamed to a dot-prefixed ``.…old`` marker (invisible to
  Spark's file listing at any intermediate state), and every merge run
  first rolls back or clears leftover markers, so a crashed swap is
  always retried from a consistent wholly-old/wholly-new state.  The
  transactional upgrade exists: sources/txtable.py replaces the swap
  with a manifest-log metadata commit (single create-if-absent file —
  no renames at all), which is the preferred path on object stores.

No reference-repo counterpart: the reference loads PostgreSQL tables and
gets atomicity from the database (scripts/transformation/
load_warehouse.py); an engine that owns its files must supply it.
"""

from __future__ import annotations

import fnmatch
import os
import posixpath
import shutil
from pathlib import Path


class PosixFS:
    """Local-filesystem verbs (atomic rename within one mount)."""

    def exists(self, path: str) -> bool:
        return Path(path).exists()

    def rename(self, src: str, dst: str) -> None:
        # shutil.move handles cross-device moves; same-device is rename(2)
        shutil.move(str(src), str(dst))

    def replace_file(self, src: str, dst: str) -> None:
        """Atomically rename ``src`` onto ``dst``, clobbering any existing
        file — the commit verb of the pointer-swap publish protocol."""
        Path(src).replace(dst)

    def delete(self, path: str) -> None:
        p = Path(path)
        if p.is_file() or p.is_symlink():
            p.unlink(missing_ok=True)
        else:
            shutil.rmtree(path, ignore_errors=True)

    def glob(self, directory: str, pattern: str) -> list[str]:
        d = Path(directory)
        if not d.exists():
            return []
        return sorted(str(p) for p in d.glob(pattern))

    def mkdirs(self, path: str) -> None:
        Path(path).mkdir(parents=True, exist_ok=True)

    def parquet_stats(self, path: str) -> tuple[int, int]:
        """(n_data_files, total_bytes) of the *.parquet payload under
        ``path``, skipping hidden/metadata files."""
        n = total = 0
        for p in Path(path).rglob("*.parquet"):
            if p.name.startswith((".", "_")):
                continue
            n += 1
            total += p.stat().st_size
        return n, total

    def write_text(self, path: str, text: str) -> None:
        Path(path).write_text(text)

    def read_text(self, path: str) -> str:
        return Path(path).read_text()

    def write_bytes(self, path: str, data: bytes) -> None:
        """Binary sibling of write_text — the manifest log's parquet
        checkpoint/sidecar files are written driver-side as bytes."""
        Path(path).write_bytes(data)

    def read_bytes(self, path: str) -> bytes:
        return Path(path).read_bytes()

    def commit_file(self, src: str, dst: str) -> None:
        """Atomically move ``src`` to ``dst`` ONLY if ``dst`` does not
        exist — the optimistic-concurrency commit verb of the manifest
        log (sources/txtable.py).  hard-link(2) is atomic and fails with
        EEXIST when another writer won the race."""
        os.link(str(src), str(dst))  # raises FileExistsError on conflict
        os.unlink(str(src))

    def list_data_files(self, path: str) -> list[str]:
        """Relative POSIX-style paths of every parquet data file under
        ``path`` (hidden/metadata files skipped)."""
        root = Path(path)
        return sorted(
            p.relative_to(root).as_posix()
            for p in root.rglob("*.parquet")
            if not p.name.startswith((".", "_"))
        )

    def mtime(self, path: str) -> float:
        """Last-modification time (epoch seconds) — the age signal the
        manifest log's vacuum retention guard uses."""
        return Path(path).stat().st_mtime

    def signature(self, path: str) -> tuple:
        """Sorted (relative name, size, mtime ns, inode) of every file
        under ``path`` (``path`` itself when it is a file; empty when it
        does not exist) — what catalog.py keys its schema cache on."""
        if os.path.isfile(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
        out = []
        for d, _, names in os.walk(path):
            for n in names:
                full = os.path.join(d, n)
                st = os.stat(full)
                rel = os.path.relpath(full, path)
                out.append((rel, st.st_size, st.st_mtime_ns, st.st_ino))
        return tuple(sorted(out))

    def size(self, path: str) -> int:
        """One file's byte length — the bin-packing signal
        TxTable.optimize_small selects rewrite candidates by."""
        return Path(path).stat().st_size


class HadoopFS:
    """The same verbs through ``org.apache.hadoop.fs.FileSystem`` so the
    swap runs on any scheme Spark itself can read (file/hdfs/s3a/…).

    Resolved lazily per path: each URI's scheme+authority picks its own
    FileSystem instance from the session's Hadoop configuration, exactly
    as Spark's own writers do.
    """

    def __init__(self, spark) -> None:
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()

    def _jpath(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(str(path))

    def _fs(self, path: str):
        return self._jpath(path).getFileSystem(self._conf)

    def exists(self, path: str) -> bool:
        return bool(self._fs(path).exists(self._jpath(path)))

    def rename(self, src: str, dst: str) -> None:
        ok = self._fs(src).rename(self._jpath(src), self._jpath(dst))
        if not ok:
            raise OSError(f"rename failed: {src} -> {dst}")

    def delete(self, path: str) -> None:
        fs = self._fs(path)
        p = self._jpath(path)
        if fs.exists(p):
            fs.delete(p, True)

    def replace_file(self, src: str, dst: str) -> None:
        """Rename ``src`` onto ``dst`` even if ``dst`` exists.  Plain
        ``FileSystem.rename`` refuses an existing destination, so this
        goes through ``FileContext.rename(…, Options.Rename.OVERWRITE)``
        — atomic on HDFS/POSIX, last-writer-wins on object stores."""
        fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            self._jpath(dst).toUri(), self._conf
        )
        rename_cls = self._jvm.org.apache.hadoop.fs.Options.Rename
        opts = self._gateway.new_array(rename_cls, 1)
        opts[0] = rename_cls.OVERWRITE
        fc.rename(self._jpath(src), self._jpath(dst), opts)

    def glob(self, directory: str, pattern: str) -> list[str]:
        fs = self._fs(directory)
        d = self._jpath(directory)
        if not fs.exists(d):
            return []
        out = []
        for status in fs.listStatus(d):
            name = status.getPath().getName()
            if fnmatch.fnmatch(name, pattern):
                out.append(posixpath.join(str(directory), name))
        return sorted(out)

    def mkdirs(self, path: str) -> None:
        self._fs(path).mkdirs(self._jpath(path))

    def parquet_stats(self, path: str) -> tuple[int, int]:
        fs = self._fs(path)
        it = fs.listFiles(self._jpath(path), True)
        n = total = 0
        while it.hasNext():
            status = it.next()
            name = status.getPath().getName()
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                n += 1
                total += status.getLen()
        return n, int(total)

    def write_text(self, path: str, text: str) -> None:
        out = self._fs(path).create(self._jpath(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, path: str) -> str:
        fs = self._fs(path)
        if not fs.exists(self._jpath(path)):
            raise FileNotFoundError(path)  # parity with the POSIX verb
        inp = fs.open(self._jpath(path))
        try:
            return str(
                self._jvm.org.apache.commons.io.IOUtils.toString(
                    inp, "UTF-8"
                )
            )
        finally:
            inp.close()

    def write_bytes(self, path: str, data: bytes) -> None:
        out = self._fs(path).create(self._jpath(path), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def read_bytes(self, path: str) -> bytes:
        fs = self._fs(path)
        if not fs.exists(self._jpath(path)):
            raise FileNotFoundError(path)
        inp = fs.open(self._jpath(path))
        try:
            return bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(inp)
            )
        finally:
            inp.close()

    def commit_file(self, src: str, dst: str) -> None:
        """Optimistic-concurrency commit: plain ``FileSystem.rename``
        refuses an existing destination, which is exactly the
        create-if-absent semantics the manifest log needs (atomic on
        HDFS; object stores honor it best-effort, same caveat as their
        own log-based committers)."""
        ok = self._fs(src).rename(self._jpath(src), self._jpath(dst))
        if not ok:
            raise FileExistsError(f"commit conflict or rename failure: {dst}")

    def mtime(self, path: str) -> float:
        status = self._fs(path).getFileStatus(self._jpath(path))
        return float(status.getModificationTime()) / 1000.0

    def size(self, path: str) -> int:
        return int(
            self._fs(path).getFileStatus(self._jpath(path)).getLen()
        )

    def signature(self, path: str) -> tuple:
        """PosixFS.signature through one recursive listing, with the
        mtime in ms; the Hadoop API has no portable inode, so that slot
        is None."""
        fs = self._fs(path)
        base = self._jpath(path)
        if not fs.exists(base):
            return ()
        base_str = str(fs.makeQualified(base).toUri().getPath()).rstrip("/")
        it = fs.listFiles(base, True)
        out = []
        while it.hasNext():
            status = it.next()
            full = str(status.getPath().toUri().getPath())
            out.append((
                full[len(base_str) + 1:],
                int(status.getLen()),
                int(status.getModificationTime()),
                None,
            ))
        return tuple(sorted(out))

    def list_data_files(self, path: str) -> list[str]:
        fs = self._fs(path)
        base = self._jpath(path)
        if not fs.exists(base):
            return []
        base_str = str(fs.makeQualified(base).toUri().getPath()).rstrip("/")
        it = fs.listFiles(base, True)
        out = []
        while it.hasNext():
            status = it.next()
            name = status.getPath().getName()
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                full = str(status.getPath().toUri().getPath())
                out.append(full[len(base_str) + 1 :])
        return sorted(out)


def filesystem_for(spark, path: str):
    """Pick the implementation by path shape: URIs with a scheme go
    through Hadoop; bare local paths stay on the cheaper POSIX calls.
    Callers may always pass an explicit fs instead (tests run the swap
    suite under both)."""
    if "://" in str(path):
        if spark is None:
            raise ValueError(
                f"path {path!r} has a filesystem scheme; pass an active "
                "SparkSession (for HadoopFS) or an explicit fs"
            )
        return HadoopFS(spark)
    return PosixFS()
