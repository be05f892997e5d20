"""Hash-parity tests.

Known vectors for MurmurHash3_x86_32 are from the public smhasher /
Wikipedia test suite; the record-hash fold semantics mirror the reference
(Storage.scala:48-49) including the Scala ``0xffffffff``-is-Int(-1) quirk.
"""

import random

import numpy as np
import pytest

from log_server_spark.functions.hashing import (
    murmur3_32,
    murmur3_32_batch,
    record_hash_batch,
)


def _u32(x: int) -> int:
    return x & 0xFFFFFFFF


KNOWN = [
    (b"", 0, 0x00000000),
    (b"", 1, 0x514E28B7),
    (b"", 0xFFFFFFFF, 0x81F16F39),
    (b"test", 0, 0xBA6BD213),
    (b"test", 0x9747B28C, 0x704B81DC),
    (b"Hello, world!", 0, 0xC0363E43),
    (b"Hello, world!", 0x9747B28C, 0x24884CBA),
    (b"The quick brown fox jumps over the lazy dog", 0, 0x2E4FF723),
    (b"The quick brown fox jumps over the lazy dog", 0x9747B28C, 0x2FA826CD),
]


@pytest.mark.parametrize("data,seed,expect", KNOWN)
def test_murmur3_known_vectors(data, seed, expect):
    assert _u32(murmur3_32(data, seed)) == expect


@pytest.mark.parametrize("kernel", ["native", "numpy"])
def test_batch_matches_scalar_random(kernel, monkeypatch):
    """Both row-hash kernels agree with the scalar reference: the C kernel
    when a compiler built it, the numpy block scheme otherwise (forced here
    by hiding the C kernel)."""
    from log_server_spark.functions import _native

    if kernel == "numpy":
        monkeypatch.setattr(_native, "native_murmur3_rows", lambda: None)
    elif _native.native_murmur3_rows() is None:
        pytest.skip("no C compiler: the native kernel is unavailable")
    rng = random.Random(42)
    rows = [bytes(rng.randrange(256) for _ in range(rng.choice([0, 1, 2, 3, 4, 5, 7, 8, 13, 64, 1000, 4097]))) for _ in range(500)]
    rows.append(None)
    got = murmur3_32_batch(rows)
    want = np.array([murmur3_32(r if r is not None else b"") for r in rows], dtype=np.int32)
    assert (got == want).all()


def test_record_hash_fold_semantics():
    # fold = int32((ts>>32) ^ ts); verify against direct int arithmetic
    data = [b"payload-one", b"", b"x" * 100]
    ts = np.array([0, 1_400_000_000_000, -1], dtype=np.int64)
    got = record_hash_batch(data, ts)
    for i, (d, t) in enumerate(zip(data, ts)):
        fold = ((int(t) >> 32) ^ int(t)) & 0xFFFFFFFF
        want = _u32(murmur3_32(d)) ^ fold
        want = want - (1 << 32) if want >= (1 << 31) else want
        assert int(got[i]) == want
