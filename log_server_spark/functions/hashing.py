"""Content-hash parity functions (murmur3_x86_32 + record hash).

The reference engine dedups records by a content hash
``murmur3_x86_32(data, seed=0) ^ int32((ts >> 32) ^ ts)``
(reference: log-server-db/.../storage/Storage.scala:48-49; murmur itself is
the public-domain MurmurHash3_x86_32, log-server-db/.../utils/MurmurHash3.java).
Spark's built-in ``F.hash`` is murmur3 with seed 42 and *typed* element
hashing, so it is NOT byte-compatible; we need our own.

Two implementations, one semantics:

- ``murmur3_32``: scalar pure-Python, the readable reference used by tests.
- ``murmur3_32_batch`` / ``murmur3_32_offsets``: vectorized across rows
  (the self-compiled C kernel, or a numpy scheme that processes word ``i``
  of every still-active row simultaneously, so total work is
  O(total_bytes / 4) vector ops regardless of row-length variance). This
  is the hot path inside the parse stage's ``mapInArrow`` body; there is no
  per-row Python in it.

``record_hash_batch`` / ``record_hash_offsets`` fold the timestamp in to
give the reference record hash.
"""

from __future__ import annotations

import numpy as np

_C1 = 0xCC9E2D51
_C2 = 0x1B873593
_M32 = 0xFFFFFFFF


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3_x86_32, signed int32 result (scalar reference impl)."""
    h = seed & _M32
    n = len(data)
    rounded = n & ~3
    for i in range(0, rounded, 4):
        k = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16) | (data[i + 3] << 24)
        k = (k * _C1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * _C2) & _M32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _M32
        h = (h * 5 + 0xE6546B64) & _M32
    k = 0
    tail = n & 3
    if tail == 3:
        k = data[rounded + 2] << 16
    if tail >= 2:
        k |= data[rounded + 1] << 8
    if tail >= 1:
        k |= data[rounded]
        k = (k * _C1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * _C2) & _M32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def murmur3_32_batch(values, seed: int = 0) -> np.ndarray:
    """Vectorized MurmurHash3_x86_32 over a sequence of bytes-like rows.

    None rows hash as empty payloads (callers route malformed rows before
    hashing, so this only affects diagnostics). Returns int32 array.
    """
    n_rows = len(values)
    lengths = np.fromiter(
        (0 if v is None else len(v) for v in values), dtype=np.int64, count=n_rows
    )
    total = int(lengths.sum())
    buf = np.empty(total, dtype=np.uint8)
    offsets = np.zeros(n_rows, dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:]) if n_rows > 1 else None
    pos = 0
    for v, ln in zip(values, lengths):
        if ln:
            buf[pos : pos + ln] = np.frombuffer(bytes(v), dtype=np.uint8)
            pos += ln
    return murmur3_32_offsets(buf, offsets, lengths, seed)


def murmur3_32_offsets(
    buf: np.ndarray, offsets: np.ndarray, lengths: np.ndarray, seed: int = 0
) -> np.ndarray:
    """Core of :func:`murmur3_32_batch` over an already-flattened byte buffer
    with per-row (offset, length) — rows hash independently; the buffer can
    be an Arrow string/binary data buffer viewed zero-copy as uint8.

    Dispatches to the self-compiled C kernel (functions/_native.py,
    ~1.5 GB/s/core) when a C compiler exists; otherwise runs the numpy
    block-parallel scheme below — word ``i`` of every still-active row
    processed simultaneously, O(total_bytes / 4) vector ops total."""
    from log_server_spark.functions._native import native_murmur3_rows

    n_rows = len(offsets)
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    native = native_murmur3_rows()
    if native is not None and n_rows:
        buf_c = np.ascontiguousarray(buf)
        out = np.empty(n_rows, dtype=np.int32)
        native(
            buf_c.ctypes.data, offsets.ctypes.data, lengths.ctypes.data,
            n_rows, seed & _M32, out.ctypes.data,
        )
        return out
    c1 = np.uint32(_C1)
    c2 = np.uint32(_C2)
    h = np.full(n_rows, np.uint32(seed & _M32), dtype=np.uint32)
    nblocks = (lengths // 4).astype(np.int64)
    max_blocks = int(nblocks.max()) if n_rows else 0

    order = np.argsort(-nblocks, kind="stable")  # longest first → prefix is active set
    sorted_blocks = nblocks[order]
    sorted_off = offsets[order]
    h_sorted = h[order]

    b32 = buf.astype(np.uint32)
    for i in range(max_blocks):
        n_active = int(np.searchsorted(-sorted_blocks, -i))
        if n_active == 0:
            break
        base = sorted_off[:n_active] + 4 * i
        k = (
            b32[base]
            | (b32[base + 1] << np.uint32(8))
            | (b32[base + 2] << np.uint32(16))
            | (b32[base + 3] << np.uint32(24))
        )
        k *= c1
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k *= c2
        ha = h_sorted[:n_active]
        ha ^= k
        ha = (ha << np.uint32(13)) | (ha >> np.uint32(19))
        ha *= np.uint32(5)
        ha += np.uint32(0xE6546B64)
        h_sorted[:n_active] = ha

    h[order] = h_sorted

    tail = (lengths & 3).astype(np.int64)
    tail_base = offsets + 4 * nblocks
    has_tail = tail > 0
    if has_tail.any():
        idx = np.nonzero(has_tail)[0]
        tb = tail_base[idx]
        tl = tail[idx]
        k = b32[tb].copy()
        two = tl >= 2
        k[two] |= b32[tb[two] + 1] << np.uint32(8)
        three = tl == 3
        k[three] |= b32[tb[three] + 2] << np.uint32(16)
        k *= c1
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k *= c2
        h[idx] ^= k

    h ^= lengths.astype(np.uint32)
    h ^= h >> np.uint32(16)
    h *= np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h *= np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h.view(np.int32)


def record_hash_batch(data_values, ts_millis: np.ndarray) -> np.ndarray:
    """Reference record hash: murmur3(data) ^ int32((ts>>32) ^ ts).

    The Scala ``ts & 0xffffffff`` literal is Int ``-1`` widened to Long, so
    the fold is int32-truncate of ``(ts >> 32) ^ ts`` (Storage.scala:48-49).
    """
    m = murmur3_32_batch(data_values)
    return m ^ _ts_fold32(ts_millis)


def _ts_fold32(ts_millis) -> np.ndarray:
    ts = np.asarray(ts_millis, dtype=np.int64)
    fold = ((ts >> np.int64(32)) ^ ts).astype(np.int64)
    return (fold & np.int64(_M32)).astype(np.uint32).view(np.int32)


def record_hash_offsets(
    buf: np.ndarray, offsets: np.ndarray, lengths: np.ndarray, ts_millis
) -> np.ndarray:
    """:func:`record_hash_batch` over a flattened buffer + per-row offsets
    (zero-copy from an Arrow string array's data buffer)."""
    return murmur3_32_offsets(buf, offsets, lengths) ^ _ts_fold32(ts_millis)
