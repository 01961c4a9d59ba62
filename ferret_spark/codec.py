"""Posting-list compression: delta + variable-byte, numpy-vectorized.

Format semantics from the reference (WHAT):
- vbyte: LSB-first 7-bit groups, high bit = continuation
  (os_write_vint c/src/store.c:545-561, read c/src/store.c:348-360)
- doc ids delta-encoded; positions delta-encoded per doc
  (dw_flush c/src/index.c:5414-5447, .frq/.prx layout c/FileFormat.txt:68-110)
- skip structure replaced by block-max metadata: per BLOCK_SIZE docs store
  (first_doc, last_doc, max_tf, min_dl, byte offsets) -> parquet-friendly
  block bounds (skip lists c/src/index.c:2999-3065); the segment scorer
  scores every hit and reads no bound today

Layout per (term) row:
  doc_bin: per block, vbyte stream of [first_doc_delta0=first_doc-block_first
           (always 0 by construction, stored as first_doc absolute? no --
           deltas are relative to block_meta.first_doc, first entry delta 0]
  Actually: block deltas are [doc_i - doc_{i-1}] with doc_{-1} =
  block_meta.first_doc and the first stored doc IS first_doc, so the first
  delta is 0 — blocks are self-contained, so shifting a row's doc ids
  (add_index) rewrites only block_meta, never the streams.
  tf_bin:  vbyte stream of tf per doc (block-aligned offsets)
  pos_bin: per doc, vbyte stream of position deltas (first absolute)
  block_meta: list of dicts/structs
    (first, last, count, max_tf, doc_off, tf_off, pos_off, pos_len)
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


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
    if len(arr) == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (arr & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    within = np.arange(len(arr), dtype=np.int64) - np.repeat(starts, lengths)
    contrib = (arr & np.uint8(0x7F)).astype(np.uint64) << (
        np.uint64(7) * within.astype(np.uint64)
    )
    return np.add.reduceat(contrib, starts)


# ---------------------------------------------------------------------------
# posting-list rows


def encode_posting_list_flat(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    pos_flat: np.ndarray | None,
    doc_lens: np.ndarray | None = None,
) -> dict:
    """Fully vectorized encoder. ``pos_flat`` is the concatenation of each
    doc's sorted positions (doc i owns pos_flat[bounds[i]:bounds[i+1]] with
    bounds = cumsum(tfs)). No per-doc Python in the hot path: the whole
    position stream is delta'd and vbyte'd in one shot; per-block byte
    offsets come from the per-value encoded lengths."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    if doc_lens is not None:
        doc_lens = np.asarray(doc_lens, dtype=np.int64)
    n = len(doc_ids)
    assert n > 0

    # --- position stream: delta within doc, absolute at each doc start
    if pos_flat is not None:
        pos_flat = np.asarray(pos_flat, dtype=np.int64)
        bounds = np.concatenate(([0], np.cumsum(tfs)))
        deltas = pos_flat.copy()
        deltas[1:] -= pos_flat[:-1]
        starts = bounds[:-1]
        deltas[starts] = pos_flat[starts]
        pos_stream = deltas.astype(np.uint64)
        pos_byte_bounds = np.concatenate(
            ([0], np.cumsum(vbyte_lengths(pos_stream)))
        )
        pos_bin_all = vbyte_encode(pos_stream)
    else:
        bounds = None
        pos_bin_all = np.empty(0, dtype=np.uint8)

    # --- doc id deltas: absolute->delta except block firsts (0)
    n_blocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    block_starts = np.arange(n_blocks) * BLOCK_SIZE
    dd = np.empty(n, dtype=np.int64)
    dd[0] = 0
    dd[1:] = np.diff(doc_ids)
    dd[block_starts] = 0  # first of each block is carried by block_meta.first
    doc_byte_bounds = np.concatenate(
        ([0], np.cumsum(vbyte_lengths(dd.astype(np.uint64))))
    )
    doc_bin_all = vbyte_encode(dd.astype(np.uint64))

    tf_byte_bounds = np.concatenate(
        ([0], np.cumsum(vbyte_lengths(tfs.astype(np.uint64))))
    )
    tf_bin_all = vbyte_encode(tfs.astype(np.uint64))

    if doc_lens is not None:
        dl_byte_bounds = np.concatenate(
            ([0], np.cumsum(vbyte_lengths(doc_lens.astype(np.uint64))))
        )
        dl_bin_all = vbyte_encode(doc_lens.astype(np.uint64))
    else:
        dl_bin_all = np.empty(0, dtype=np.uint8)

    block_meta = []
    for bi in range(n_blocks):
        b0 = bi * BLOCK_SIZE
        b1 = min(b0 + BLOCK_SIZE, n)
        if pos_flat is not None:
            p_off = int(pos_byte_bounds[bounds[b0]])
            p_len = int(pos_byte_bounds[bounds[b1]]) - p_off
        else:
            p_off = p_len = 0
        block_meta.append(
            {
                "first": int(doc_ids[b0]),
                "last": int(doc_ids[b1 - 1]),
                "count": int(b1 - b0),
                "max_tf": int(tfs[b0:b1].max()),
                "min_dl": int(doc_lens[b0:b1].min()) if doc_lens is not None else 0,
                "doc_off": int(doc_byte_bounds[b0]),
                "doc_len": int(doc_byte_bounds[b1] - doc_byte_bounds[b0]),
                "tf_off": int(tf_byte_bounds[b0]),
                "tf_len": int(tf_byte_bounds[b1] - tf_byte_bounds[b0]),
                "pos_off": p_off,
                "pos_len": p_len,
                "dl_off": int(dl_byte_bounds[b0]) if doc_lens is not None else 0,
                "dl_len": (
                    int(dl_byte_bounds[b1] - dl_byte_bounds[b0])
                    if doc_lens is not None
                    else 0
                ),
            }
        )
    return {
        "doc_bin": doc_bin_all.tobytes(),
        "tf_bin": tf_bin_all.tobytes(),
        "pos_bin": pos_bin_all.tobytes(),
        "dl_bin": dl_bin_all.tobytes(),
        "block_meta": block_meta,
        "df": n,
    }


def encode_posting_list(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    positions: list[np.ndarray] | None,
    doc_lens: np.ndarray | None = None,
) -> dict:
    """List-of-arrays convenience wrapper over encode_posting_list_flat."""
    pos_flat = (
        np.concatenate([np.asarray(p, dtype=np.int64) for p in positions])
        if positions is not None and len(positions)
        else (np.empty(0, dtype=np.int64) if positions is not None else None)
    )
    return encode_posting_list_flat(doc_ids, tfs, pos_flat, doc_lens)


def decode_posting_list(row: dict, with_positions=True):
    """-> (doc_ids int64, tfs int64, positions, doc_lens int64 | None).

    ``with_positions``:
      - False: positions is None
      - True:  positions is list[np.ndarray], one sorted array per doc
      - "flat": positions is (pos_flat int64, bounds int64) — doc i's
        positions are pos_flat[bounds[i]:bounds[i+1]].  The flat form is
        the hot-path shape: per-doc delta cumsums are vectorized as ONE
        global cumsum minus the running total before each doc (no Python
        loop over the posting list)."""
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


_BM_ORDER = [
    "first", "last", "count", "max_tf", "min_dl",
    "doc_off", "doc_len", "tf_off", "tf_len",
    "pos_off", "pos_len", "dl_off", "dl_len",
]


def encode_segment_terms(
    udocs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    term_starts: np.ndarray,
    pos_flat: np.ndarray | None,
):
    """Batch-encode EVERY term of a segment in four vectorized vbyte passes
    (one per stream) instead of per-term calls — byte-identical to running
    encode_posting_list_flat per term.

    Inputs are posting-major arrays sorted by (term, doc): udocs/tfs/dls
    have one entry per (term, doc) posting; ``term_starts`` are posting
    indices where each term begins; ``pos_flat`` holds each posting's
    sorted positions back-to-back (posting i owns
    pos_flat[tok_bounds[i]:tok_bounds[i+1]], tok_bounds = cumsum(tfs)).

    Returns (per-term list of (doc_bin, tf_bin, pos_bin, dl_bin,
    block_meta_tuples, df)).
    """
    P = len(udocs)
    T = len(term_starts)
    term_ends = np.concatenate((term_starts[1:], [P]))
    sizes = term_ends - term_starts
    rank = np.arange(P, dtype=np.int64) - np.repeat(term_starts, sizes)
    block_start_mask = (rank % BLOCK_SIZE) == 0
    bs = np.flatnonzero(block_start_mask)
    be = np.concatenate((bs[1:], [P])) - 1

    # doc deltas (reset at block starts)
    dd = np.empty(P, dtype=np.int64)
    if P:
        dd[0] = 0
        dd[1:] = np.diff(udocs)
        dd[bs] = 0
    doc_lens_b = vbyte_lengths(dd.astype(np.uint64))
    doc_cum = np.concatenate(([0], np.cumsum(doc_lens_b)))
    doc_all = vbyte_encode(dd.astype(np.uint64))

    tf_lens_b = vbyte_lengths(tfs.astype(np.uint64))
    tf_cum = np.concatenate(([0], np.cumsum(tf_lens_b)))
    tf_all = vbyte_encode(tfs.astype(np.uint64))

    dl_lens_b = vbyte_lengths(dls.astype(np.uint64))
    dl_cum = np.concatenate(([0], np.cumsum(dl_lens_b)))
    dl_all = vbyte_encode(dls.astype(np.uint64))

    tok_bounds = np.concatenate(([0], np.cumsum(tfs)))
    if pos_flat is not None and len(pos_flat):
        pd_ = pos_flat.astype(np.int64).copy()
        pd_[1:] -= pos_flat[:-1]
        starts_tok = tok_bounds[:-1]
        pd_[starts_tok] = pos_flat[starts_tok]
        pos_lens_b = vbyte_lengths(pd_.astype(np.uint64))
        pos_cum = np.concatenate(([0], np.cumsum(pos_lens_b)))
        pos_all = vbyte_encode(pd_.astype(np.uint64))
    else:
        pos_cum = None
        pos_all = np.empty(0, dtype=np.uint8)

    # per-block aggregates (global reduceat over block starts)
    blk_max_tf = np.maximum.reduceat(tfs, bs) if len(bs) else np.empty(0)
    blk_min_dl = np.minimum.reduceat(dls, bs) if len(bs) else np.empty(0)
    blk_term = np.searchsorted(term_starts, bs, side="right") - 1

    out = []
    bi = 0
    n_blocks = len(bs)
    for t in range(T):
        s_p, e_p = int(term_starts[t]), int(term_ends[t])
        d0, d1 = int(doc_cum[s_p]), int(doc_cum[e_p])
        t0, t1 = int(tf_cum[s_p]), int(tf_cum[e_p])
        l0, l1 = int(dl_cum[s_p]), int(dl_cum[e_p])
        if pos_cum is not None:
            p0 = int(pos_cum[tok_bounds[s_p]])
            p1 = int(pos_cum[tok_bounds[e_p]])
        else:
            p0 = p1 = 0
        metas = []
        while bi < n_blocks and blk_term[bi] == t:
            b_s, b_e = int(bs[bi]), int(be[bi])
            if pos_cum is not None:
                pb0 = int(pos_cum[tok_bounds[b_s]]) - p0
                pb1 = int(pos_cum[tok_bounds[b_e + 1]]) - p0
            else:
                pb0 = pb1 = 0
            metas.append(
                (
                    int(udocs[b_s]),            # first
                    int(udocs[b_e]),            # last
                    b_e - b_s + 1,              # count
                    int(blk_max_tf[bi]),        # max_tf
                    int(blk_min_dl[bi]),        # min_dl
                    int(doc_cum[b_s]) - d0,     # doc_off
                    int(doc_cum[b_e + 1] - doc_cum[b_s]),  # doc_len
                    int(tf_cum[b_s]) - t0,      # tf_off
                    int(tf_cum[b_e + 1] - tf_cum[b_s]),    # tf_len
                    pb0,                        # pos_off
                    pb1 - pb0,                  # pos_len
                    int(dl_cum[b_s]) - l0,      # dl_off
                    int(dl_cum[b_e + 1] - dl_cum[b_s]),    # dl_len
                )
            )
            bi += 1
        out.append(
            (
                doc_all[d0:d1].tobytes(),
                tf_all[t0:t1].tobytes(),
                pos_all[p0:p1].tobytes() if pos_cum is not None else b"",
                dl_all[l0:l1].tobytes(),
                metas,
                e_p - s_p,
            )
        )
    return out
