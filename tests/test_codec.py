"""Codec round-trip tests (delta+varbyte,
reference format semantics c/src/store.c:545-561, c/src/index.c:5414-5447)."""

import numpy as np
import pytest

from ferret_spark.codec import (
    BLOCK_SIZE,
    decode_posting_list,
    encode_posting_list,
    posting_row,
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
    row = encode_posting_list(doc_ids, tfs, np.concatenate(positions))
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


def _decode_per_block(row: dict, with_positions=True):
    """The per-block decoder the one-pass decode_posting_list replaced
    (4-5 vbyte_decode calls per 128-doc block, each block's byte range
    read from block_meta), kept as the reference it must match."""
    doc_arr = np.frombuffer(row["doc_bin"], dtype=np.uint8)
    tf_arr = np.frombuffer(row["tf_bin"], dtype=np.uint8)
    pos_arr = np.frombuffer(row["pos_bin"], dtype=np.uint8)
    dl_arr = np.frombuffer(row.get("dl_bin", b""), dtype=np.uint8)
    ids_out, tfs_out, pos_out, dl_out = [], [], [], []
    has_dl = False
    for bm in row["block_meta"]:
        deltas = vbyte_decode(doc_arr[bm["doc_off"] : bm["doc_off"] + bm["doc_len"]])
        ids = np.cumsum(deltas.astype(np.int64)) + bm["first"]
        tfs = vbyte_decode(tf_arr[bm["tf_off"] : bm["tf_off"] + bm["tf_len"]]).astype(
            np.int64
        )
        ids_out.append(ids)
        tfs_out.append(tfs)
        if bm.get("dl_len"):
            has_dl = True
            dl_out.append(
                vbyte_decode(
                    dl_arr[bm["dl_off"] : bm["dl_off"] + bm["dl_len"]]
                ).astype(np.int64)
            )
        if with_positions and bm["pos_len"]:
            flat = vbyte_decode(
                pos_arr[bm["pos_off"] : bm["pos_off"] + bm["pos_len"]]
            ).astype(np.int64)
            bounds = np.concatenate(([0], np.cumsum(tfs)))
            # per-doc cumsum of position deltas, vectorized: global
            # cumsum minus the total accumulated before each doc's start.
            # Encoder invariant: every doc in a positional block has
            # tf >= 1 — a zero tf would make bounds[i] - 1 wrap to the
            # previous (or last) doc and silently corrupt every following
            # position base, so fail loudly on malformed blocks instead.
            if tfs.size and int(tfs.min()) <= 0:
                raise ValueError(
                    "corrupt posting block: tf == 0 alongside a position "
                    "stream (position bases would be misaligned)"
                )
            fc = np.cumsum(flat)
            if len(tfs) > 1:
                base = np.concatenate(([0], fc[bounds[1:-1] - 1]))
            else:
                base = np.zeros(1, dtype=np.int64)
            pos_out.append(fc - np.repeat(base, tfs))
    doc_ids = np.concatenate(ids_out)
    tfs = np.concatenate(tfs_out)
    positions = None
    if with_positions:
        if not pos_out:
            # positions-less rows (keyword fields): empty list / empty
            # flat pair, NOT per-doc empties — re-encode paths rely on
            # falsy `pos` meaning "no position stream"
            positions = (
                (np.empty(0, dtype=np.int64), np.zeros(1, dtype=np.int64))
                if with_positions == "flat"
                else []
            )
        else:
            pos_flat = np.concatenate(pos_out)
            gbounds = np.concatenate(([0], np.cumsum(tfs)))
            if with_positions == "flat":
                positions = (pos_flat, gbounds)
            else:
                positions = [
                    pos_flat[gbounds[i] : gbounds[i + 1]]
                    for i in range(len(tfs))
                ]
    return (
        doc_ids,
        tfs,
        positions,
        (np.concatenate(dl_out) if has_dl else None),
    )


def _assert_decodes_alike(row):
    """decode_posting_list equals the per-block reference in every
    positions form: same values and dtypes, None where it gives None."""
    for form in (False, True, "flat"):
        got, want = decode_posting_list(row, form), _decode_per_block(row, form)
        for g, w in zip(got[:2] + got[3:], want[:2] + want[3:]):
            assert (g is None) == (w is None)
            if w is not None:
                assert g.dtype == w.dtype and np.array_equal(g, w)
        gp, wp = got[2], want[2]
        if form is False:
            assert gp is None and wp is None
        elif form == "flat":
            assert all(
                g.dtype == w.dtype and np.array_equal(g, w) for g, w in zip(gp, wp)
            )
        else:
            assert len(gp) == len(wp)
            assert all(np.array_equal(g, w) for g, w in zip(gp, wp))


_EDGE_SIZES = [1, 2, BLOCK_SIZE - 1, BLOCK_SIZE, BLOCK_SIZE + 1, 2 * BLOCK_SIZE + 1]


@pytest.mark.parametrize("seed", range(6))
def test_decoder_matches_per_block_reference(seed):
    """Random lists of 1-1,200 docs and the block edges, with positions
    (tf up to 300), keyword rows without positions, rows without a dl
    stream, and rows whose block firsts moved as shift_posting_rows
    moves them."""
    rng = np.random.default_rng(seed)
    sizes = _EDGE_SIZES + rng.integers(1, 1201, 10).tolist()
    for i, n in enumerate(sizes):
        doc_ids = np.sort(rng.choice(40 * n + 10, size=n, replace=False))
        tfs = rng.integers(1, [4, 20, 301][i % 3], size=n)
        pos = np.concatenate(
            [np.sort(rng.choice(2000, size=int(t), replace=False)) for t in tfs]
        )
        dls = rng.integers(1, 5000, size=n)
        shift = int(rng.integers(1, 10**9))
        for row in (
            encode_posting_list(doc_ids, tfs, pos, dls),
            encode_posting_list(doc_ids, np.ones(n, dtype=np.int64), None, dls),
            encode_posting_list(doc_ids, tfs, pos, None),
        ):
            _assert_decodes_alike(row)
            moved = [
                dict(bm, first=bm["first"] + shift, last=bm["last"] + shift)
                for bm in row["block_meta"]
            ]
            _assert_decodes_alike(dict(row, block_meta=moved))


@pytest.mark.parametrize("n", [1, BLOCK_SIZE, BLOCK_SIZE + 1, 4096])
def test_decoder_matches_reference_on_markers(n):
    """Doc-length marker rows: tf 1, no positions, zero lengths."""
    rng = np.random.default_rng(n)
    dls = rng.integers(0, 3, size=n)
    dls[::5] = 0
    row = encode_posting_list(
        np.arange(n) * 3, np.ones(n, dtype=np.int64), None, dls
    )
    _assert_decodes_alike(row)
    assert np.array_equal(decode_posting_list(row, False)[3], dls)


def test_decoder_rejects_zero_tf_with_positions():
    row = encode_posting_list(
        np.arange(3), np.array([1, 2, 1]), np.array([0, 1, 2, 3])
    )
    row["tf_bin"] = vbyte_encode(np.array([1, 0, 1], dtype=np.uint64)).tobytes()
    for form in (True, "flat"):
        with pytest.raises(ValueError, match="tf == 0"):
            decode_posting_list(row, form)


def test_shifted_rows_decode_like_reference(spark):
    """Rows shifted by shift_posting_rows in Spark decode, in every form,
    like the per-block reference, to the source ids plus the shift."""
    from ferret_spark.segments import SEGMENT_COLUMNS, SEGMENT_SCHEMA, shift_posting_rows

    rng = np.random.default_rng(7)
    src, rows = [], []
    for t, n in enumerate([1, BLOCK_SIZE, BLOCK_SIZE + 1, 700]):
        ids = np.sort(rng.choice(5000, size=n, replace=False))
        tfs = rng.integers(1, 6, size=n)
        pos = np.concatenate([np.arange(k) * 2 for k in tfs])
        enc = encode_posting_list(ids, tfs, pos, rng.integers(1, 99, size=n))
        src.append(ids)
        rows.append((0, "content", f"t{t}", *enc.values()))
    df = spark.createDataFrame(
        [dict(zip(SEGMENT_COLUMNS, r)) for r in rows], SEGMENT_SCHEMA
    )
    base = 3 * 4096
    got = shift_posting_rows(df, base, 3).orderBy("term").collect()
    assert [r["seg_id"] for r in got] == [3] * len(rows)
    for r, ids in zip(got, src):
        row = posting_row(r)
        _assert_decodes_alike(row)
        assert np.array_equal(decode_posting_list(row, False)[0], ids + base)
