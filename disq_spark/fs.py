"""Pluggable filesystem layer — the FileSystemWrapper of this build.

Mirrors the reference's FileSystemWrapper.java:42-199 contract
(normalize/open/create/exists/getFileLength/isDirectory/listDirectory/
concat) as a scheme-dispatched registry instead of a useNio flag:

- ``file`` / no scheme -> plain ``os``/``open`` (zero overhead on the
  hot local path — the builtin handles are returned untouched).
- ``memory`` -> in-process store for tests and small scratch artifacts.
- any other scheme (``s3``, ``gs``, ``hdfs``, ``abfs``, ...) -> fsspec,
  resolved lazily by import so executor Python workers dispatch the
  same way the driver does (no driver-side state to ship). fsspec is
  optional; without it unknown schemes raise with a clear message.

Executor-safety: dispatch is stateless (scheme string -> module-level
table plus fsspec's own registry), so any task that pickles a path
resolves it identically in the Python worker. Driver-only fast paths
(Hadoop FileSystem.concat via py4j, HadoopFileSystemWrapper.java:142-168)
live in try_hadoop_concat and degrade to the serial stream-copy the
reference itself falls back to.
"""

from __future__ import annotations

import io
import os
import posixpath
import shutil
from typing import BinaryIO


def split_scheme(path: str) -> tuple[str, str]:
    """('s3', 'bucket/key') for 's3://bucket/key'; ('', path) for local.

    Windows drive letters ('C:/x') are not schemes — require >=2 chars.
    """
    i = path.find("://")
    if i > 1:
        return path[:i], path[i + 3 :]
    return "", path


class LocalFileSystem:
    """The default: builtin open/os — identical performance to direct calls."""

    def open_input(self, path: str) -> BinaryIO:
        return open(path, "rb")

    def open_output(self, path: str) -> BinaryIO:
        return open(path, "wb")

    def open_append(self, path: str) -> BinaryIO:
        return open(path, "ab")

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def getsize(self, path: str) -> int:
        return os.path.getsize(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        """Full child paths, lexicographically sorted (the reference
        sorts listings for deterministic multi-file record order,
        HadoopFileSystemWrapper.java:122-139)."""
        return [os.path.join(path, n) for n in sorted(os.listdir(path))]

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rename(self, src: str, dst: str) -> None:
        os.replace(src, dst)


class _MemFile(io.BytesIO):
    def __init__(self, store: dict, key: str):
        super().__init__()
        self._store, self._key = store, key

    def close(self):
        self._store[self._key] = self.getvalue()
        super().close()


class MemoryFileSystem:
    """In-process blob store (per Python process — driver-side tests and
    scratch; executor tasks each see their own empty store)."""

    def __init__(self):
        self.store: dict[str, bytes] = {}

    def _key(self, path: str) -> str:
        return split_scheme(path)[1]

    def open_input(self, path: str) -> BinaryIO:
        k = self._key(path)
        if k not in self.store:
            raise FileNotFoundError(path)
        return io.BytesIO(self.store[k])

    def open_output(self, path: str) -> BinaryIO:
        return _MemFile(self.store, self._key(path))

    def open_append(self, path: str) -> BinaryIO:
        f = _MemFile(self.store, self._key(path))
        f.write(self.store.get(self._key(path), b""))
        return f

    def exists(self, path: str) -> bool:
        k = self._key(path)
        return k in self.store or self.isdir(path)

    def getsize(self, path: str) -> int:
        return len(self.store[self._key(path)])

    def isdir(self, path: str) -> bool:
        prefix = self._key(path).rstrip("/") + "/"
        return any(k.startswith(prefix) for k in self.store)

    def listdir(self, path: str) -> list[str]:
        scheme, key = split_scheme(path)
        prefix = key.rstrip("/") + "/"
        names = sorted(
            {k[len(prefix) :].split("/", 1)[0] for k in self.store if k.startswith(prefix)}
        )
        return [f"{scheme}://{posixpath.join(prefix, n)}" for n in names]

    def remove(self, path: str) -> None:
        del self.store[self._key(path)]

    def rmtree(self, path: str) -> None:
        prefix = self._key(path).rstrip("/") + "/"
        for k in [k for k in self.store if k.startswith(prefix)]:
            del self.store[k]

    def makedirs(self, path: str) -> None:
        pass  # directories are implicit

    def rename(self, src: str, dst: str) -> None:
        self.store[self._key(dst)] = self.store.pop(self._key(src))


class FsspecFileSystem:
    """Adapter for any fsspec-registered scheme (s3/gs/abfs/hdfs/...)."""

    def __init__(self, scheme: str):
        import fsspec  # optional dependency, resolved per-process

        self._fs = fsspec.filesystem(scheme)
        self._scheme = scheme

    def open_input(self, path: str) -> BinaryIO:
        return self._fs.open(path, "rb")

    def open_output(self, path: str) -> BinaryIO:
        return self._fs.open(path, "wb")

    def open_append(self, path: str) -> BinaryIO:
        return self._fs.open(path, "ab")

    def exists(self, path: str) -> bool:
        return self._fs.exists(path)

    def getsize(self, path: str) -> int:
        return self._fs.size(path)

    def isdir(self, path: str) -> bool:
        return self._fs.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return sorted(f"{self._scheme}://{p}" for p in self._fs.ls(path, detail=False))

    def remove(self, path: str) -> None:
        self._fs.rm(path)

    def rmtree(self, path: str) -> None:
        if self._fs.exists(path):
            self._fs.rm(path, recursive=True)

    def makedirs(self, path: str) -> None:
        self._fs.makedirs(path, exist_ok=True)

    def rename(self, src: str, dst: str) -> None:
        self._fs.mv(src, dst)


_LOCAL = LocalFileSystem()
_REGISTRY: dict[str, object] = {"": _LOCAL, "file": _LOCAL, "memory": MemoryFileSystem()}


def register(scheme: str, fs) -> None:
    _REGISTRY[scheme] = fs


def get_fs(path: str):
    scheme, _ = split_scheme(path)
    fs = _REGISTRY.get(scheme)
    if fs is None:
        try:
            fs = FsspecFileSystem(scheme)
        except ImportError as e:
            raise ValueError(
                f"no filesystem for scheme {scheme!r} (install fsspec + the "
                f"{scheme} backend, or register() one)"
            ) from e
        _REGISTRY[scheme] = fs
    return fs


def strip_file_scheme(path: str) -> str:
    """file:///x -> /x so builtin open works; other paths unchanged."""
    scheme, rest = split_scheme(path)
    return "/" + rest.lstrip("/") if scheme == "file" else path


# -- module-level conveniences: the call sites use these ------------------


def open_input(path: str) -> BinaryIO:
    return get_fs(path).open_input(strip_file_scheme(path))


def open_output(path: str) -> BinaryIO:
    return get_fs(path).open_output(strip_file_scheme(path))


def open_append(path: str) -> BinaryIO:
    return get_fs(path).open_append(strip_file_scheme(path))


def exists(path: str) -> bool:
    return get_fs(path).exists(strip_file_scheme(path))


def getsize(path: str) -> int:
    return get_fs(path).getsize(strip_file_scheme(path))


def isdir(path: str) -> bool:
    return get_fs(path).isdir(strip_file_scheme(path))


def listdir(path: str) -> list[str]:
    return get_fs(path).listdir(path if split_scheme(path)[0] else path)


def remove(path: str) -> None:
    get_fs(path).remove(strip_file_scheme(path))


def rmtree(path: str) -> None:
    get_fs(path).rmtree(strip_file_scheme(path))


def makedirs(path: str) -> None:
    get_fs(path).makedirs(strip_file_scheme(path))


def rename(src: str, dst: str) -> None:
    get_fs(src).rename(strip_file_scheme(src), strip_file_scheme(dst))


# -- concat ----------------------------------------------------------------


def try_hadoop_concat(dst: str, srcs: list[str]) -> bool | None:
    """O(#parts) metadata-only concat via Hadoop FileSystem.concat
    (HadoopFileSystemWrapper.java:142-168), driver-side through py4j:
    rename srcs[0] onto dst, then append the rest with one concat RPC.

    Returns True on success, None when unavailable (no active JVM
    session, or the FS does not implement concat) — caller falls back
    to the serial stream copy, which is the reference's own fallback.
    Caller must capture part lengths BEFORE calling: concat consumes
    the source files."""
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            return None
        jvm = spark._jvm
        gateway = spark.sparkContext._gateway
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        jdst = jvm.org.apache.hadoop.fs.Path(dst)
        hfs = jdst.getFileSystem(hconf)
        jsrc0 = jvm.org.apache.hadoop.fs.Path(srcs[0])
        if not hfs.rename(jsrc0, jdst):
            return None
        rest = srcs[1:]
        if rest:
            try:
                jsrcs = gateway.new_array(jvm.org.apache.hadoop.fs.Path, len(rest))
                for i, s in enumerate(rest):
                    jsrcs[i] = jvm.org.apache.hadoop.fs.Path(s)
                hfs.concat(jdst, jsrcs)
            except Exception:
                # concat unsupported after a successful rename: undo it so
                # the serial fallback still sees every part in place
                hfs.rename(jdst, jsrc0)
                return None
        return True
    except Exception:
        return None
