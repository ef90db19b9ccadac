"""Filesystem I/O for TableStore metadata & partition maintenance.

Routes every metadata/maintenance filesystem operation (meta-file
read/write, partition-directory listing, staged-directory swaps,
drop/rename) through the Hadoop FileSystem API of the active
SparkSession's JVM instead of Python ``os``/``shutil``. The same code
path therefore works wherever Spark itself can write — ``file://``,
``hdfs://``, ``s3a://``, ``abfss://`` — which is what makes TableStore
viable off a single node (reference keeps this state in ClickHouse
system tables; we keep it next to the data).

Semantics notes (stated limitations, not silent assumptions):

- ``rename`` is atomic on HDFS and local FS, copy+delete (non-atomic)
  on raw object stores without a committer; TableStore's two-phase swap
  keeps staged state outside ``data/`` so a mid-swap crash never leaves
  a half-renamed directory where readers scan.
- ``write_text`` (meta file) is create-overwrite: last writer wins.
  TableStore is SINGLE WRITER PER TABLE by design — same operating
  envelope as the reference's Airflow ``max_active_runs=1``
  (``v1/dag.py:32``, ``v2/dag.py:59``); ``try_lock`` gives a
  best-effort guard (atomic create-no-overwrite on HDFS/local).

The py4j 8 KiB rule: py4j's JVM side writes each response through a
``BufferedWriter`` with the default 8,192-char buffer and leaves Nagle's
algorithm on. A response longer than the buffer leaves in two socket
writes, and the second waits for the Python side's delayed ACK: every
py4j return over 8 KiB costs a flat ~42-44 ms. Measured on loopback
on 4 vCPU, median of 15: a 6,141-byte ``byte[]`` is 8,192 chars on the
wire and returns in 0.3 ms; a 6,142-byte one is 8,196 chars and takes
42 ms. ``read_text`` therefore pulls a file in ``CHUNK``-byte pieces,
each one response under the buffer.
"""

from __future__ import annotations

import posixpath
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession


# Bytes per ``read_text`` round-trip. py4j returns a ``byte[]`` as the
# line "!yj" + base64 + "\n": 4*ceil(n/3) + 4 chars, which must fit the
# JVM side's 8,192-char response buffer (module docstring), so n <= 6,141.
# 6,000 bytes make 8,004 chars. Over the line every chunk pays the stall:
# 6,200-byte chunks read a 200 KB file in 1.4 s, 6,000-byte ones in 13 ms.
PY4J_RESPONSE_CHARS = 8_192
CHUNK = 6_000


def join(*parts: str) -> str:
    """URI-safe path join (posix rules; schemes pass through)."""
    return posixpath.join(*parts)


class Fs:
    """Thin wrapper over ``org.apache.hadoop.fs.FileSystem`` for the
    filesystem that owns ``root`` (resolved once; all paths passed to
    methods must live on the same filesystem)."""

    def __init__(self, spark: "SparkSession", root: str):
        self._jvm = spark._jvm
        self._jpath = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._jpath(root).getFileSystem(spark._jsc.hadoopConfiguration())

    def _p(self, path: str):
        return self._jpath(path)

    # -- predicates ---------------------------------------------------------

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._p(path))

    def is_dir(self, path: str) -> bool:
        return self._fs.getFileStatus(self._p(path)).isDirectory()

    def mtime_ms(self, path: str) -> int:
        return self._fs.getFileStatus(self._p(path)).getModificationTime()

    # -- directory ops ------------------------------------------------------

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def listdir(self, path: str) -> list[str]:
        """Child names (not paths), sorted."""
        return sorted(
            st.getPath().getName() for st in self._fs.listStatus(self._p(path))
        )

    def list_dirs(self, path: str) -> list[str]:
        """Child DIRECTORY names, sorted."""
        return sorted(
            st.getPath().getName()
            for st in self._fs.listStatus(self._p(path))
            if st.isDirectory()
        )

    def file_sizes(self, path: str) -> list[tuple[str, int]]:
        """(name, bytes) of plain FILES directly under ``path``, sorted
        by name — the input to small-file compaction decisions."""
        return sorted(
            (st.getPath().getName(), st.getLen())
            for st in self._fs.listStatus(self._p(path))
            if st.isFile()
        )

    def delete(self, path: str, recursive: bool = True) -> bool:
        return self._fs.delete(self._p(path), recursive)

    def rename(self, src: str, dst: str) -> None:
        """Move src to dst (dst must not exist). Raises on failure —
        Hadoop signals most rename problems with a False return."""
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise IOError(f"rename failed: {src} -> {dst}")

    # -- small-file text I/O (meta json) ------------------------------------

    def read_text(self, path: str) -> str:
        """The whole file, decoded as UTF-8, read ``CHUNK`` bytes per
        round-trip. Decoded once after the join: a multibyte character
        may straddle two chunks."""
        stream = self._fs.open(self._p(path))
        try:
            chunks = []
            while True:
                chunk = stream.readNBytes(CHUNK)
                chunks.append(chunk)
                if len(chunk) < CHUNK:
                    return b"".join(chunks).decode("utf-8")
        finally:
            stream.close()

    def write_text(self, path: str, text: str) -> None:
        """Create-overwrite write; visible atomically on close for HDFS,
        last-writer-wins everywhere (single-writer contract above)."""
        out = self._fs.create(self._p(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    # -- advisory lock ------------------------------------------------------

    def try_lock(self, path: str) -> bool:
        """Best-effort create-no-overwrite lock file. Atomic on HDFS and
        local FS; object stores may race — see module docstring."""
        try:
            out = self._fs.create(self._p(path), False)
            out.close()
            return True
        except Exception:
            return False

    def unlock(self, path: str) -> None:
        self._fs.delete(self._p(path), False)
