"""Posting-list compression: delta + variable-byte, numpy-vectorized.

This module is the only one that knows the posting-row format: it holds
the one encoder (encode_segment_terms, with encode_posting_list as its
one-term form), the one decoder (decode_posting_list) and the one adapter
from a stored row to a codec row (posting_row).

Format semantics from the reference (WHAT):
- vbyte: LSB-first 7-bit groups, high bit = continuation
  (os_write_vint c/src/store.c:545-561, read c/src/store.c:348-360)
- doc ids delta-encoded; positions delta-encoded per doc
  (dw_flush c/src/index.c:5414-5447, .frq/.prx layout c/FileFormat.txt:68-110)
- the skip lists (c/src/index.c:2999-3065) are replaced by per-block
  metadata, one parquet struct per BLOCK_SIZE docs

Layout of one posting row (the postings of one term in one segment, or a
field's doc-length marker row), each stream one vbyte run over the row's
docs in id order:
  doc_bin:    doc id deltas, doc_i - doc_{i-1}, except that the first doc
              of every block stores 0: its id is block_meta.first. Blocks
              are self-contained, so shifting a row's doc ids (add_index)
              rewrites only block_meta.first/last, never the streams.
  tf_bin:     tf per doc
  pos_bin:    per doc, its tf position deltas, the first one absolute;
              empty for keyword fields and marker rows
  dl_bin:     BM25 doc length per doc
  block_meta: one struct per block (BLOCK_META_TYPE)

The decoder reads only block_meta.first and .count: it decodes each
stream in one pass and re-bases the doc ids per block. The other fields
are written for a later decoder that skips blocks: last, the block-max
bounds max_tf and min_dl, and each block's byte range (*_off, *_len,
offsets relative to the row's stream) in every stream.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

BLOCK_META_TYPE = (
    "array<struct<first:long,last:long,count:int,max_tf:int,"
    "min_dl:int,doc_off:long,doc_len:long,tf_off:long,tf_len:long,"
    "pos_off:long,pos_len:long,dl_off:long,dl_len:long>>"
)
# a codec row's keys, in the order of the segment schema's posting columns
POSTING_COLUMNS = ["df", "doc_bin", "tf_bin", "pos_bin", "dl_bin", "block_meta"]


# ---------------------------------------------------------------------------
# vectorized vbyte


def vbyte_lengths(vals: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (vectorized)."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    nbytes = np.ones(len(vals), dtype=np.int64)
    v = vals >> np.uint64(7)
    while v.any():
        nbytes += (v > 0).astype(np.int64)
        v >>= np.uint64(7)
    return nbytes


def vbyte_encode(vals: np.ndarray) -> np.ndarray:
    """uint64 array -> uint8 vbyte stream (LSB-first, 0x80 = more)."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    n = len(vals)
    if n == 0:
        return np.empty(0, dtype=np.uint8)
    nbytes = vbyte_lengths(vals)
    max_b = int(nbytes.max())
    if max_b == 1:
        # all values < 128 (the common case for doc/pos deltas and tfs):
        # the stream IS the byte cast — skip the offset machinery
        return vals.astype(np.uint8)
    ends = np.cumsum(nbytes)
    total = int(ends[-1])
    starts = ends - nbytes
    out = np.zeros(total, dtype=np.uint8)
    for j in range(max_b):
        mask = nbytes > j
        idx = starts[mask] + j
        byte = (vals[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        more = (nbytes[mask] - 1) > j
        out[idx] = byte.astype(np.uint8) | (more.astype(np.uint8) << 7)
    return out


def vbyte_decode(buf: np.ndarray) -> np.ndarray:
    """uint8 vbyte stream -> uint64 array."""
    arr = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray)) else buf
    ends = np.flatnonzero(arr < 0x80)
    if len(ends) == len(arr):
        # all values < 128 (the common case for doc deltas and tfs)
        return arr.astype(np.uint64)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    low = (arr & np.uint8(0x7F)).astype(np.uint64)
    vals = low[starts]
    for j in range(1, int(lengths.max())):
        more = np.flatnonzero(lengths > j)
        vals[more] |= low[starts[more] + j] << np.uint64(7 * j)
    return vals


# ---------------------------------------------------------------------------
# posting rows


def posting_row(r) -> dict:
    """The codec row of a stored posting row, given as a Spark Row, a
    pandas record or a pyarrow ``to_pylist()`` dict: the streams as bytes
    and block_meta as a list of dicts."""
    return {
        "df": int(r["df"]),
        "doc_bin": bytes(r["doc_bin"]),
        "tf_bin": bytes(r["tf_bin"]),
        "pos_bin": bytes(r["pos_bin"]),
        "dl_bin": bytes(r["dl_bin"]),
        "block_meta": [
            bm.asDict() if hasattr(bm, "asDict") else bm for bm in r["block_meta"]
        ],
    }


def _stream(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """-> (vbyte stream of ``vals``, byte offset of each value plus the
    total at the end)."""
    vals = vals.astype(np.uint64)
    return vbyte_encode(vals), np.concatenate(([0], np.cumsum(vbyte_lengths(vals))))


def encode_segment_terms(
    udocs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray | None,
    term_starts: np.ndarray,
    pos_flat: np.ndarray | None,
) -> list[tuple]:
    """Encode the posting rows of many terms in one vectorized pass per
    stream.

    Inputs are posting-major arrays sorted by (term, doc), with at least
    one posting: udocs/tfs/dls hold one entry per (term, doc) posting;
    ``term_starts`` are the posting indices where each term begins;
    ``pos_flat`` holds each posting's sorted positions back-to-back
    (posting i owns pos_flat[b[i]:b[i+1]], b = [0, *cumsum(tfs)]). With
    ``dls`` None the rows get no dl stream; with ``pos_flat`` None or
    empty, no position stream.

    Returns one tuple per term, its values in POSTING_COLUMNS order.
    """
    udocs = np.asarray(udocs, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    term_starts = np.asarray(term_starts, dtype=np.int64)
    P = len(udocs)
    term_ends = np.append(term_starts[1:], P)
    rank = np.arange(P, dtype=np.int64) - np.repeat(
        term_starts, term_ends - term_starts
    )
    bs = np.flatnonzero(rank % BLOCK_SIZE == 0)  # block starts
    be = np.append(bs[1:], P)  # block ends (exclusive)

    # byte offsets below are indexed by posting: cum[i] = bytes before
    # posting i in its stream
    dd = np.diff(udocs, prepend=0)
    dd[bs] = 0  # a block's first id is carried by block_meta.first
    doc_all, doc_cum = _stream(dd)
    tf_all, tf_cum = _stream(tfs)
    if dls is not None:
        dls = np.asarray(dls, dtype=np.int64)
        dl_all, dl_cum = _stream(dls)
        min_dl = np.minimum.reduceat(dls, bs)
    else:
        dl_all, dl_cum = np.empty(0, dtype=np.uint8), np.zeros(P + 1, np.int64)
        min_dl = np.zeros(len(bs), dtype=np.int64)
    if pos_flat is not None and len(pos_flat):
        pos_flat = np.asarray(pos_flat, dtype=np.int64)
        tok_starts = np.concatenate(([0], np.cumsum(tfs)))
        pos_deltas = np.diff(pos_flat, prepend=0)
        pos_deltas[tok_starts[:-1]] = pos_flat[tok_starts[:-1]]
        pos_all, pos_tok_cum = _stream(pos_deltas)
        pos_cum = pos_tok_cum[tok_starts]
    else:
        pos_all, pos_cum = np.empty(0, dtype=np.uint8), np.zeros(P + 1, np.int64)

    t0 = term_starts[np.searchsorted(term_starts, bs, side="right") - 1]
    meta_cols = {
        "first": udocs[bs],
        "last": udocs[be - 1],
        "count": be - bs,
        "max_tf": np.maximum.reduceat(tfs, bs),
        "min_dl": min_dl,
    }
    for name, cum in (("doc", doc_cum), ("tf", tf_cum), ("pos", pos_cum), ("dl", dl_cum)):
        meta_cols[f"{name}_off"] = cum[bs] - cum[t0]
        meta_cols[f"{name}_len"] = cum[be] - cum[bs]
    names = list(meta_cols)
    metas = [
        dict(zip(names, vals))
        for vals in zip(*(c.tolist() for c in meta_cols.values()))
    ]

    term_blocks = np.append(np.searchsorted(bs, term_starts), len(bs)).tolist()
    doc_cum, tf_cum, pos_cum, dl_cum = (
        c.tolist() for c in (doc_cum, tf_cum, pos_cum, dl_cum)
    )
    out = []
    for t, (s, e) in enumerate(zip(term_starts.tolist(), term_ends.tolist())):
        out.append(
            (
                e - s,
                doc_all[doc_cum[s] : doc_cum[e]].tobytes(),
                tf_all[tf_cum[s] : tf_cum[e]].tobytes(),
                pos_all[pos_cum[s] : pos_cum[e]].tobytes(),
                dl_all[dl_cum[s] : dl_cum[e]].tobytes(),
                metas[term_blocks[t] : term_blocks[t + 1]],
            )
        )
    return out


def encode_posting_list(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    pos_flat: np.ndarray | None = None,
    doc_lens: np.ndarray | None = None,
) -> dict:
    """The codec row of one term: encode_segment_terms over a single term.
    ``pos_flat`` holds each doc's sorted positions back-to-back."""
    enc = encode_segment_terms(doc_ids, tfs, doc_lens, [0], pos_flat)[0]
    return dict(zip(POSTING_COLUMNS, enc))


def decode_posting_list(row: dict, with_positions=True):
    """-> (doc_ids int64, tfs int64, positions, doc_lens int64 | None).

    One vbyte_decode per stream. ``with_positions``:
      - False: positions is None
      - True:  positions is list[np.ndarray], one sorted array per doc
      - "flat": positions is (pos_flat int64, bounds int64) — doc i's
        positions are pos_flat[bounds[i]:bounds[i+1]]
    A row without a position stream (keyword fields, markers) gives []
    or (empty, [0]), not per-doc empties: re-encode paths rely on falsy
    positions meaning "no position stream". doc_lens is None when the
    row has no dl stream."""
    bms = row["block_meta"]
    first = np.fromiter((bm["first"] for bm in bms), np.int64, len(bms))
    count = np.fromiter((bm["count"] for bm in bms), np.int64, len(bms))
    # a block's first delta is 0, so one cumsum over the row re-based at
    # each block start gives every id
    doc_ids = np.cumsum(vbyte_decode(row["doc_bin"]).astype(np.int64))
    block_starts = np.cumsum(count) - count
    doc_ids += np.repeat(first - doc_ids[block_starts], count)
    tfs = vbyte_decode(row["tf_bin"]).astype(np.int64)
    dl_bin = row["dl_bin"]
    doc_lens = vbyte_decode(dl_bin).astype(np.int64) if len(dl_bin) else None
    positions = None
    if with_positions:
        pos = vbyte_decode(row["pos_bin"]).astype(np.int64)
        if len(pos):
            # Encoder invariant: every doc of a positional row has tf >= 1
            # — a zero tf would make bounds[i] - 1 point into the previous
            # doc and silently corrupt every following position base, so
            # fail loudly on malformed rows instead.
            if int(tfs.min()) <= 0:
                raise ValueError(
                    "corrupt posting row: tf == 0 alongside a position "
                    "stream (position bases would be misaligned)"
                )
            bounds = np.concatenate(([0], np.cumsum(tfs)))
            # per-doc cumsum of the deltas: one cumsum over the row minus
            # the total before each doc's first position
            fc = np.cumsum(pos)
            pos = fc - np.repeat(np.concatenate(([0], fc[bounds[1:-1] - 1])), tfs)
        else:
            bounds = np.zeros(1, dtype=np.int64)
        if with_positions == "flat":
            positions = (pos, bounds)
        else:
            positions = [pos[bounds[i] : bounds[i + 1]] for i in range(len(bounds) - 1)]
    return doc_ids, tfs, positions, doc_lens
