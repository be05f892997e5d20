"""Optional self-compiled C kernel for the reference content hash.

MurmurHash3_x86_32 (public-domain algorithm; reference engine:
log-server-db/.../utils/MurmurHash3.java, used by Storage.scala:48-49) over
a flattened byte buffer with per-row (offset, length) — the layout of an
Arrow string/binary array, so the Python worker hashes a whole record batch
in one C call with zero copies.

This is the single hottest function of the ingest DAG: every parsed record's
full payload passes through it. The numpy block-parallel fallback
(hashing.murmur3_32_offsets) runs at ~60 MB/s/core — inherent gather cost;
the scalar C loop runs at ~1.5 GB/s/core. We compile it on first use with
the system C compiler (cc -O3 -shared; nothing is installed — the .so is
cached under a content-hashed name in a temp dir) and fall back to numpy
silently if no compiler is available. Parity between the two is enforced by
tests/test_hashing.py against known murmur3 vectors.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

_C_SRC = r"""
#include <stdint.h>
#include <stddef.h>

static inline uint32_t rotl32(uint32_t x, int8_t r) {
  return (x << r) | (x >> (32 - r));
}

static uint32_t murmur3_32(const uint8_t *data, int64_t len, uint32_t seed) {
  const int64_t nblocks = len / 4;
  uint32_t h1 = seed;
  const uint32_t c1 = 0xcc9e2d51u, c2 = 0x1b873593u;
  const uint8_t *p = data;
  for (int64_t i = 0; i < nblocks; i++, p += 4) {
    uint32_t k1 = (uint32_t)p[0] | ((uint32_t)p[1] << 8) |
                  ((uint32_t)p[2] << 16) | ((uint32_t)p[3] << 24);
    k1 *= c1; k1 = rotl32(k1, 15); k1 *= c2;
    h1 ^= k1; h1 = rotl32(h1, 13); h1 = h1 * 5 + 0xe6546b64u;
  }
  uint32_t k1 = 0;
  switch (len & 3) {
    case 3: k1 ^= (uint32_t)p[2] << 16; /* fall through */
    case 2: k1 ^= (uint32_t)p[1] << 8;  /* fall through */
    case 1: k1 ^= (uint32_t)p[0];
            k1 *= c1; k1 = rotl32(k1, 15); k1 *= c2; h1 ^= k1;
  }
  h1 ^= (uint32_t)len;
  h1 ^= h1 >> 16; h1 *= 0x85ebca6bu;
  h1 ^= h1 >> 13; h1 *= 0xc2b2ae35u;
  h1 ^= h1 >> 16;
  return h1;
}

void murmur3_32_rows(const uint8_t *buf, const int64_t *offsets,
                     const int64_t *lengths, int64_t n_rows, uint32_t seed,
                     int32_t *out) {
  for (int64_t i = 0; i < n_rows; i++) {
    out[i] = (int32_t)murmur3_32(buf + offsets[i], lengths[i], seed);
  }
}
"""


def _owned_by_me(path: str) -> bool:
    try:
        return os.stat(path).st_uid == os.getuid()
    except OSError:
        return False


def _build() -> ctypes.CDLL | None:
    tag = hashlib.sha256(_C_SRC.encode()).hexdigest()[:16]
    # per-user cache dir, mode 0700: a world-shared predictable path would
    # let another local user pre-plant a malicious .so under the expected
    # name and have every worker CDLL-load it. Ownership of both the dir
    # and the .so is verified before loading; any mismatch falls back to
    # the numpy path (the caller treats a raise as "no native kernel").
    cache_dir = os.environ.get("LSS_NATIVE_DIR") or os.path.join(
        tempfile.gettempdir(), f"lss_native_{os.getuid()}"
    )
    so_path = os.path.join(cache_dir, f"murmur_{tag}.so")
    os.makedirs(cache_dir, mode=0o700, exist_ok=True)
    if not _owned_by_me(cache_dir):
        raise PermissionError(f"native cache dir {cache_dir} not owned by uid {os.getuid()}")
    if not os.path.exists(so_path):
        src_path = os.path.join(cache_dir, f"murmur_{tag}.c")
        with open(src_path, "w") as f:
            f.write(_C_SRC)
        tmp_so = so_path + f".tmp{os.getpid()}"
        subprocess.run(
            ["cc", "-O3", "-shared", "-fPIC", "-o", tmp_so, src_path],
            check=True, capture_output=True, timeout=60,
        )
        os.replace(tmp_so, so_path)  # atomic: concurrent workers race safely
    if not _owned_by_me(so_path):
        raise PermissionError(f"{so_path} not owned by uid {os.getuid()}")
    lib = ctypes.CDLL(so_path)
    lib.murmur3_32_rows.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_int64, ctypes.c_uint32, ctypes.c_void_p,
    ]
    lib.murmur3_32_rows.restype = None
    return lib


_LIB: ctypes.CDLL | None = None
_TRIED = False


def native_murmur3_rows():
    """Return the C row-hash entry point, or None if unavailable.

    Callable as ``fn(buf_ptr, offsets_ptr, lengths_ptr, n_rows, seed,
    out_ptr)`` over contiguous int64 offset/length arrays.
    """
    global _LIB, _TRIED
    if not _TRIED:
        _TRIED = True
        try:
            _LIB = _build()
        except Exception:
            _LIB = None
    return _LIB.murmur3_32_rows if _LIB is not None else None
