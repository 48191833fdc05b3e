"""Partitioned cuckoo-filter URL-seen set (north_rule; SURVEY.md §2.4 D6).

The reference has NO global URL-seen — only per-page HashSets plus
``curl --no-clobber`` at the filesystem (main.rs:16, 262). At 10^10-URL
scale the seen set must be sharded: URLs are hash-partitioned by
``pmod(xxhash64(url_canon), P)`` JVM-side, and each partition owns one
cuckoo filter blob, persisted to the checkpoint dir every generation
(per-partition lineage = blob version per salt).

Why cuckoo (vs Spark's built-in ``DataFrame.stat.bloomFilter``): the
filter must be incrementally updatable across micro-batches, partitioned,
and checkpoint-addressable per partition; ``stat.bloomFilter`` is a
one-shot aggregate. 16-bit fingerprints × 4 slots/bucket ≈ 0.05% false
positives at 95% load — a false positive only drops a would-be-new URL,
never double-crawls (tests assert exact-set equality at fixture scale
against the exact anti-join backstop).

Memory math at target scale: 10^10 URLs × 2 B / 0.95 load ≈ 21 GB total,
sharded over e.g. P=4096 partitions ≈ 5 MB per blob — trivially loadable
per task.
"""

from __future__ import annotations

import numpy as np

from img_spark import fsio

_MULT = np.uint64(0x5BD1E995)
_MAX_KICKS = 500
MAGIC = b"IMGCKF01"


class CuckooFilter:
    def __init__(self, capacity: int = 1 << 16, _table=None):
        if _table is not None:
            self.table = _table
        else:
            nb = 1
            need = max(16, int(capacity / 4 / 0.95))
            while nb < need:
                nb <<= 1
            self.table = np.zeros((nb, 4), dtype=np.uint16)
        self.nbuckets = self.table.shape[0]
        self._mask = np.uint64(self.nbuckets - 1)
        self.count = int(np.count_nonzero(self.table))

    # -- hashing ----------------------------------------------------
    def _derive(self, h: int):
        h = np.uint64(h & 0xFFFFFFFFFFFFFFFF)
        fp = np.uint16((h >> np.uint64(48)) & np.uint64(0xFFFF))
        if fp == 0:
            fp = np.uint16(1)
        i1 = int(h & self._mask)
        i2 = int((np.uint64(i1) ^ (np.uint64(fp) * _MULT)) & self._mask)
        return fp, i1, i2

    def _alt(self, i: int, fp: np.uint16) -> int:
        return int((np.uint64(i) ^ (np.uint64(fp) * _MULT)) & self._mask)

    # -- core ops ---------------------------------------------------
    def contains_hash(self, h: int) -> bool:
        fp, i1, i2 = self._derive(h)
        return bool((self.table[i1] == fp).any() or (self.table[i2] == fp).any())

    def insert_hash(self, h: int) -> None:
        fp, i1, i2 = self._derive(h)
        # set semantics: re-inserting a present fingerprint is a no-op
        # (a seen-set stores membership, not counts — repeated inserts
        # of one hot URL must not fill its buckets with duplicates)
        if (self.table[i1] == fp).any() or (self.table[i2] == fp).any():
            return
        # deterministic eviction chain (no RNG → resumable/replayable)
        self._place(fp, i1, i2)

    def probe_and_insert(self, hashes) -> np.ndarray:
        """For each 64-bit hash: True if NEW (inserted now), False if seen.
        Duplicate hashes within the batch: first occurrence wins.

        The (fp, i1, i2) derivation is vectorized over the batch; the
        insert walk stays sequential (intra-batch duplicates must observe
        earlier inserts). ``hashes``: an int64 (the crawl's signed
        xxhash64) or uint64 array, or Python ints in [-2^63, 2^64) —
        all read as the same 64 bits, as ``_derive`` does."""
        if isinstance(hashes, np.ndarray) and hashes.dtype.kind in "iu":
            wide = np.int64 if hashes.dtype.kind == "i" else np.uint64
            hs = hashes.astype(wide, copy=False).view(np.uint64)
        else:
            hs = np.array(
                [int(h) & 0xFFFFFFFFFFFFFFFF for h in hashes], dtype=np.uint64
            )
        out = np.zeros(len(hs), dtype=bool)
        if not len(hs):
            return out
        fps = ((hs >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        fps[fps == 0] = 1
        i1s = (hs & self._mask).astype(np.int64)
        i2s = ((i1s.astype(np.uint64)
                ^ (fps.astype(np.uint64) * _MULT)) & self._mask).astype(np.int64)
        table = self.table
        for k in range(len(hs)):
            fp, i1, i2 = fps[k], int(i1s[k]), int(i2s[k])
            if (table[i1] == fp).any() or (table[i2] == fp).any():
                continue
            self._place(fp, i1, i2)
            out[k] = True
        return out

    def _place(self, fp, i1: int, i2: int) -> None:
        for i in (i1, i2):
            row = self.table[i]
            empty = np.flatnonzero(row == 0)
            if empty.size:
                row[empty[0]] = fp
                self.count += 1
                return
        cur, i = fp, i1
        for kick in range(_MAX_KICKS):
            slot = kick & 3
            cur, self.table[i, slot] = self.table[i, slot], cur
            i = self._alt(i, cur)
            row = self.table[i]
            empty = np.flatnonzero(row == 0)
            if empty.size:
                row[empty[0]] = cur
                self.count += 1
                return
        raise RuntimeError(
            f"cuckoo filter full ({self.count}/{self.nbuckets * 4}); "
            "size the per-partition capacity for the expected frontier"
        )

    # -- persistence --------------------------------------------------
    def to_bytes(self) -> bytes:
        return MAGIC + np.uint64(self.nbuckets).tobytes() + self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CuckooFilter":
        assert data[:8] == MAGIC, "bad cuckoo blob"
        nb = int(np.frombuffer(data[8:16], dtype=np.uint64)[0])
        table = (
            np.frombuffer(data[16:], dtype=np.uint16).reshape(nb, 4).copy()
        )
        return cls(_table=table)

    def save(self, path: str) -> None:
        # atomic per-partition blob commit, on any pyarrow.fs scheme —
        # this runs INSIDE executor tasks, which share no local disk
        # with the driver on a real cluster
        fsio.write_bytes_atomic(path, self.to_bytes())

    @classmethod
    def load(cls, path: str, capacity: int = 1 << 16) -> "CuckooFilter":
        if not path or not fsio.exists(path):
            return cls(capacity=capacity)
        return cls.from_bytes(fsio.read_bytes(path))
