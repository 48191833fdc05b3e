"""Checkpoint filesystem layer: every byte of crawl state (cuckoo
blobs, manifests, compaction listings) goes
through pyarrow.fs instead of POSIX calls, so the checkpoint dir can
live on any scheme pyarrow resolves — local paths, ``file://``,
``s3://``, ``hdfs://`` (north_star: the 100-TB deployment checkpoints
to object storage; executors on different hosts share no local disk).

Paths stay plain strings end-to-end (executors re-resolve from the
string — no filesystem handles are pickled into tasks). Spark itself
reads/writes the same URIs through its Hadoop layer; this module covers
the driver/executor side channels Spark doesn't mediate.

Atomicity: ``write_bytes_atomic`` is write-temp + rename on local
filesystems (os-level atomic replace) and a direct single PUT on object
stores (atomic by the store's semantics — a rename there would be
copy+delete, which is weaker).
"""

from __future__ import annotations

import os
import posixpath
import uuid
from functools import lru_cache
from urllib.parse import urlsplit

from pyarrow import fs as pafs


@lru_cache(maxsize=32)
def _fs_base(base_uri: str):
    """One FileSystem client per scheme://authority — building a fresh
    client per call (S3/HDFS connection setup) would run ~3× per salt
    per generation inside the cuckoo-probe executors."""
    return pafs.FileSystem.from_uri(base_uri)


@lru_cache(maxsize=1)
def _local_fs():
    return pafs.LocalFileSystem()


def resolve(path: str):
    """(FileSystem, fs-local path) for a plain path or URI. Clients
    are cached per scheme://authority."""
    if "://" not in path:
        return _local_fs(), os.path.abspath(path)
    sp = urlsplit(path)
    fs, base_path = _fs_base(f"{sp.scheme}://{sp.netloc}/")
    root = base_path.rstrip("/")
    p = (root + sp.path) if root else sp.path
    return fs, p or "/"


def join(base: str, *parts: str) -> str:
    """Scheme-preserving path join (URI or plain)."""
    return posixpath.join(base, *parts)


def exists(path: str) -> bool:
    fs, p = resolve(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def isdir(path: str) -> bool:
    fs, p = resolve(path)
    return fs.get_file_info(p).type == pafs.FileType.Directory


def listdir(path: str) -> list:
    """Basenames of a directory's entries ([] when absent)."""
    fs, p = resolve(path)
    if fs.get_file_info(p).type != pafs.FileType.Directory:
        return []
    return [
        info.base_name for info in fs.get_file_info(pafs.FileSelector(p))
    ]


def makedirs(path: str) -> None:
    fs, p = resolve(path)
    fs.create_dir(p, recursive=True)


def rmtree(path: str) -> None:
    fs, p = resolve(path)
    if fs.get_file_info(p).type == pafs.FileType.Directory:
        fs.delete_dir(p)


def rmpath(path: str) -> None:
    """Delete a file OR a directory tree; missing paths are a no-op
    (corpus-migration cleanup deletes a mixed bag of part files,
    markers, and lang=*/ dirs)."""
    fs, p = resolve(path)
    t = fs.get_file_info(p).type
    if t == pafs.FileType.Directory:
        fs.delete_dir(p)
    elif t == pafs.FileType.File:
        fs.delete_file(p)


def move(src: str, dst: str) -> None:
    """Directory/file move. Atomic rename on local filesystems; on
    object stores pyarrow implements it as copy+delete (weaker — the
    corpus swap documents this)."""
    fs, p_src = resolve(src)
    _, p_dst = resolve(dst)
    fs.move(p_src, p_dst)


def read_bytes(path: str) -> bytes:
    fs, p = resolve(path)
    with fs.open_input_file(p) as f:
        return f.read()


def write_bytes_atomic(path: str, data: bytes) -> None:
    fs, p = resolve(path)
    parent = posixpath.dirname(p)
    if parent:
        fs.create_dir(parent, recursive=True)
    if isinstance(fs, pafs.LocalFileSystem):
        # per-writer tmp name: executor tasks (speculative / retried
        # zombies) may write the same target concurrently — a shared
        # tmp path would interleave their bytes and commit a corrupt
        # blob. Unique suffix ⇒ last rename wins with a complete file.
        tmp = f"{p}.{uuid.uuid4().hex}.tmp"
        with fs.open_output_stream(tmp) as f:
            f.write(data)
        fs.move(tmp, p)  # same-dir rename: atomic commit
    else:
        # object stores: one PUT is atomic; rename is copy+delete
        with fs.open_output_stream(p) as f:
            f.write(data)
