"""Codec round-trip tests (delta+varbyte,
reference format semantics c/src/store.c:545-561, c/src/index.c:5414-5447)."""

import numpy as np
import pytest

from ferret_spark.codec import (
    BLOCK_SIZE,
    decode_posting_list,
    encode_posting_list,
    vbyte_decode,
    vbyte_encode,
)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_vbyte_roundtrip(seed):
    rng = np.random.default_rng(seed)
    vals = rng.integers(0, 2**40, size=5000, dtype=np.uint64)
    vals[:10] = [0, 1, 127, 128, 129, 16383, 16384, 2**32 - 1, 2**32, 2**40 - 1]
    out = vbyte_decode(vbyte_encode(vals))
    assert np.array_equal(out, vals)


def test_vbyte_small_values_one_byte():
    enc = vbyte_encode(np.array([0, 1, 127], dtype=np.uint64))
    assert len(enc) == 3  # 1 byte each
    assert list(enc) == [0, 1, 127]
    enc2 = vbyte_encode(np.array([128], dtype=np.uint64))
    # LSB-first: 0x80|0x00 then 0x01 (os_write_vint semantics)
    assert list(enc2) == [0x80, 0x01]


def test_vbyte_empty():
    assert len(vbyte_encode(np.empty(0, dtype=np.uint64))) == 0
    assert len(vbyte_decode(b"")) == 0


@pytest.mark.parametrize("n", [1, 5, BLOCK_SIZE, BLOCK_SIZE + 1, 1000])
def test_posting_roundtrip(n):
    rng = np.random.default_rng(n)
    doc_ids = np.sort(rng.choice(10 * n, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 20, size=n).astype(np.int64)
    positions = [
        np.sort(rng.choice(5000, size=int(t), replace=False)).astype(np.int64)
        for t in tfs
    ]
    row = encode_posting_list(doc_ids, tfs, positions)
    assert len(row["block_meta"]) == (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    d, t, p, _ = decode_posting_list(row)
    assert np.array_equal(d, doc_ids)
    assert np.array_equal(t, tfs)
    for a, b in zip(p, positions):
        assert np.array_equal(a, b)


def test_block_meta_max_tf():
    doc_ids = np.arange(300, dtype=np.int64)
    tfs = np.ones(300, dtype=np.int64)
    tfs[5] = 99  # block 0
    tfs[200] = 42  # block 1
    row = encode_posting_list(doc_ids, tfs, None)
    assert row["block_meta"][0]["max_tf"] == 99
    assert row["block_meta"][1]["max_tf"] == 42
    assert row["block_meta"][0]["first"] == 0
    assert row["block_meta"][1]["first"] == BLOCK_SIZE
    assert row["block_meta"][-1]["last"] == 299
