"""Posting-list block codec: delta-gap + LEB128 varint, block-max metadata.

Pure NumPy, vectorized in both directions (no per-int Python loops) — the
batch encoder (`encode_streams`) runs inside the mapInArrow encode tasks
over whole Arrow batches of (term, shard) groups, so it must be fast on
million-entry shards. `encode_shard` is the per-group reference it is
byte-identical to. Nothing like this exists in the reference (Lucene
owns the index format there); the format follows the public
block-max-index literature (VLDB'11 block-max WAND; FOR/varint postings).

Layout per (term, shard):
  doc_gaps : varint(delta(doc_idx sorted asc))     -- first value absolute
  tfs      : varint(tf)
  dls      : varint(dl)   -- per-posting doc length; lets the scorer
                             recompute exact float64 BM25 (rank identity
                             with the DataFrame path by construction)
  positions: optional varint(per-posting delta(positions)), tf values per
             posting, first position of each posting absolute
  blocks of BLOCK_SIZE entries, each with:
    block_last_doc  : last absolute doc_idx (skip test without decode)
    block_offsets   : byte offset of block start in doc_gaps
    block_tf_offsets: byte offset in tfs (dls shares tf offsets? no — own)
    block_pos_offsets: byte offset of the block's first position
    block_max_w     : max over block of tf_norm(tf, dl) — multiply by idf
                      at query time for the block-max WAND upper bound
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def varint_encode(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode uint64 values. Returns (buf, byte_offset_per_value)."""
    v = np.asarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # bytes needed per value: ceil(bit_length / 7), min 1
    nbytes = np.ones(n, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=offsets[1:])
    total = int(offsets[-1] + nbytes[-1])
    out = np.zeros(total, dtype=np.uint8)
    # fill byte position j of every value that has > j bytes
    maxb = int(nbytes.max())
    rem = v.copy()
    for j in range(maxb):
        mask = nbytes > j
        idx = offsets[mask] + j
        byte = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] > j + 1).astype(np.uint8) << 7
        out[idx] = byte | cont
        rem = rem >> np.uint64(7)
    return out.tobytes(), offsets


def varint_decode(buf: bytes, offset: int = 0, count: int | None = None) -> np.ndarray:
    """Decode LEB128 starting at byte `offset`; `count` values (or all)."""
    b = np.frombuffer(buf, dtype=np.uint8)[offset:]
    if len(b) == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = (b & 0x80) == 0
    if count is not None:
        # truncate to the bytes of the first `count` values
        end_positions = np.flatnonzero(ends)
        if count > len(end_positions):
            raise ValueError("buffer underrun")
        b = b[: end_positions[count - 1] + 1]
        ends = ends[: len(b)]
    vid = np.zeros(len(b), dtype=np.int64)
    vid[1:] = np.cumsum(ends[:-1])
    nvals = int(vid[-1]) + 1
    starts = np.zeros(nvals, dtype=np.int64)
    # first byte index of each value
    if nvals > 1:
        starts[1:] = np.flatnonzero(ends)[: nvals - 1] + 1
    pos = np.arange(len(b), dtype=np.int64) - starts[vid]
    vals = np.zeros(nvals, dtype=np.uint64)
    np.add.at(
        vals, vid, (b & np.uint64(0x7F)).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    )
    return vals


def encode_shard(doc_idx: np.ndarray, tf: np.ndarray, dl: np.ndarray,
                 tf_norm: np.ndarray, positions: list | None = None) -> dict:
    """Encode one sorted (term, shard) posting run; returns column dict.

    `positions`: optional list of per-posting position arrays (len == tf
    each). Stored as delta+varint per posting, concatenated in posting
    order, with per-BLOCK byte offsets — enough to decode any block's
    positions given its tfs (phrase/proximity queries)."""
    order = np.argsort(doc_idx, kind="stable")
    doc_idx = np.asarray(doc_idx, dtype=np.int64)[order]
    tf = np.asarray(tf, dtype=np.int64)[order]
    dl = np.asarray(dl, dtype=np.int64)[order]
    tf_norm = np.asarray(tf_norm, dtype=np.float64)[order]
    n = len(doc_idx)
    pos_buf, pos_block_offsets = None, None
    if positions is not None:
        # flatten with per-posting delta encoding: first pos absolute,
        # then gaps (positions are strictly increasing within a posting)
        flat = []
        for i in order:
            p = np.asarray(positions[i], dtype=np.uint64)
            d = p.copy()
            if len(d) > 1:
                d[1:] = np.diff(p)
            flat.append(d)
        allpos = np.concatenate(flat) if flat else np.zeros(0, np.uint64)
        pos_buf, val_off = varint_encode(allpos)
        # byte offset of each BLOCK's first posting's positions
        counts = tf  # positions per posting == tf
        cum = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(counts, out=cum[1:])
        starts_idx = np.arange(0, n, BLOCK_SIZE)
        pos_block_offsets = [
            int(val_off[cum[s]]) if cum[s] < len(allpos) else len(pos_buf)
            for s in starts_idx
        ]
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = doc_idx[0]
    gaps[1:] = np.diff(doc_idx).astype(np.uint64)
    gap_buf, gap_off = varint_encode(gaps)
    tf_buf, tf_off = varint_encode(tf.astype(np.uint64))
    dl_buf, dl_off = varint_encode(dl.astype(np.uint64))
    starts = np.arange(0, n, BLOCK_SIZE)
    lasts = np.minimum(starts + BLOCK_SIZE, n) - 1
    block_last_doc = doc_idx[lasts]
    block_offsets = gap_off[starts]
    block_tf_offsets = tf_off[starts]
    block_dl_offsets = dl_off[starts]
    block_max_w = np.maximum.reduceat(tf_norm, starts)
    return {
        "n_docs": n,
        "doc_gaps": gap_buf,
        "tfs": tf_buf,
        "dls": dl_buf,
        "positions": pos_buf,
        "block_last_doc": block_last_doc.tolist(),
        "block_offsets": block_offsets.tolist(),
        "block_tf_offsets": block_tf_offsets.tolist(),
        "block_dl_offsets": block_dl_offsets.tolist(),
        "block_pos_offsets": pos_block_offsets,
        "block_max_w": block_max_w.tolist(),
    }


def encode_streams(doc_idx: np.ndarray, tf: np.ndarray, dl: np.ndarray,
                   tf_norm: np.ndarray, gstarts: np.ndarray,
                   positions: np.ndarray | None = None) -> dict:
    """Vectorized many-group encoder: one varint pass per stream over a
    whole batch of (term, shard) groups. The Zipf tail makes most groups
    tiny, so per-group NumPy calls would make fixed cost dominate; this
    is the same math as `encode_shard` at ~15 NumPy calls per BATCH.

    Inputs are the concatenated posting columns of a batch sorted by
    (group, doc_idx asc); `gstarts` are the group start offsets
    (ascending, gstarts[0] == 0, every group non-empty). `positions` is
    the optional flat positions array, posting by posting, tf values per
    posting (each posting's positions ascending). Byte-identical to
    `encode_shard` per group. Returns the RAW buffers plus per-posting
    and per-block offset arrays so the caller can slice per-group values
    zero-copy (Arrow):

      glens, nblocks            — per group
      gap_buf/tf_buf/dl_buf     — whole-batch byte streams
      gap_off/tf_off/dl_off     — per-posting byte offsets into the streams
      pos_buf, pos_off          — positions stream and the byte offset of
                                  each posting's first position (None
                                  without positions)
      block_last_doc, block_offsets, block_tf_offsets, block_dl_offsets,
      block_pos_offsets, block_max_w
                                — per BLOCK, offsets group-relative
    """
    n = len(doc_idx)
    doc_idx = np.asarray(doc_idx, dtype=np.int64)
    tf = np.asarray(tf, dtype=np.int64)
    dl = np.asarray(dl, dtype=np.int64)
    w = np.asarray(tf_norm, dtype=np.float64)
    gstarts = np.asarray(gstarts, dtype=np.int64)
    n_groups = len(gstarts)
    gends = np.append(gstarts[1:], n)
    glens = gends - gstarts
    # group-local delta gaps (first value of each group absolute)
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = doc_idx[0]
    gaps[1:] = np.diff(doc_idx)
    gaps[gstarts] = doc_idx[gstarts]
    gap_buf, gap_off = varint_encode(gaps.astype(np.uint64))
    tf_buf, tf_off = varint_encode(tf.astype(np.uint64))
    dl_buf, dl_off = varint_encode(dl.astype(np.uint64))
    # global block index: a block starts every BLOCK_SIZE rows WITHIN a group
    nblocks = (glens + BLOCK_SIZE - 1) // BLOCK_SIZE
    tot_blocks = int(nblocks.sum())
    block_group = np.repeat(np.arange(n_groups), nblocks)
    local_ord = np.arange(tot_blocks) - np.repeat(
        np.cumsum(nblocks) - nblocks, nblocks
    )
    bstart = gstarts[block_group] + local_ord * BLOCK_SIZE
    bend = np.minimum(bstart + BLOCK_SIZE, gends[block_group])
    block_last_doc = doc_idx[bend - 1]
    # bstart is strictly increasing and block boundaries tile [0, n)
    # exactly (group ends coincide with next group's first block start),
    # so one reduceat gives every block's max
    block_max_w = (np.maximum.reduceat(w, bstart) if tot_blocks
                   else np.zeros(0, dtype=np.float64))
    base = gstarts[block_group]
    pos_buf = pos_off = block_pos_offsets = None
    if positions is not None:
        # per-posting delta: first position absolute, then gaps
        p = np.asarray(positions, dtype=np.int64)
        first = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(tf, out=first[1:])
        d = np.diff(p, prepend=0)
        heads = first[:-1][tf > 0]
        d[heads] = p[heads]
        pos_buf, val_off = varint_encode(d.astype(np.uint64))
        # a posting's byte offset is its first value's; one past the end
        # of the stream for postings past the last value (as encode_shard)
        pos_off = np.append(val_off, len(pos_buf))[first[:-1]]
        block_pos_offsets = pos_off[bstart] - pos_off[base]
    return {
        "glens": glens,
        "nblocks": nblocks,
        "gap_buf": gap_buf, "gap_off": gap_off,
        "tf_buf": tf_buf, "tf_off": tf_off,
        "dl_buf": dl_buf, "dl_off": dl_off,
        "pos_buf": pos_buf, "pos_off": pos_off,
        "block_last_doc": block_last_doc,
        "block_offsets": gap_off[bstart] - gap_off[base],
        "block_tf_offsets": tf_off[bstart] - tf_off[base],
        "block_dl_offsets": dl_off[bstart] - dl_off[base],
        "block_pos_offsets": block_pos_offsets,
        "block_max_w": block_max_w,
    }


def decode_shard(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_idx, tf, dl) for an encoded row (dict-like / pd.Series)."""
    n = int(row["n_docs"])
    gaps = varint_decode(row["doc_gaps"], 0, n).astype(np.int64)
    doc_idx = np.cumsum(gaps)
    tf = varint_decode(row["tfs"], 0, n).astype(np.int64)
    dl = varint_decode(row["dls"], 0, n).astype(np.int64)
    return doc_idx, tf, dl


def _binary_payload(col) -> np.ndarray:
    """The value bytes of a pyarrow binary column, rows back to back —
    a zero-copy view of the Arrow data buffer (respects slicing)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    off_t = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    _validity, offs, data = col.buffers()
    offs = np.frombuffer(offs, dtype=off_t)[col.offset:col.offset + len(col) + 1]
    if data is None or not len(offs):
        return np.zeros(0, dtype=np.uint8)
    return np.frombuffer(data, dtype=np.uint8)[int(offs[0]):int(offs[-1])]


def decode_shards_batch(n_docs, doc_gaps, tfs=None, dls=None, positions=None):
    """Batch twin of `decode_shard` over the Arrow columns of many encoded
    rows: (row_starts, doc_idx, tf, dl, pos), each posting array
    row-major with row i at [row_starts[i], row_starts[i] + n_docs[i]).
    Each stream is ONE varint_decode over the concatenated row bytes;
    doc_idx comes from a segmented cumsum of the gaps (each row's first
    gap is absolute). tf/dl are None when their column is not passed.
    `pos` (needs `tfs`) is the flat positions array, tf values per
    posting in posting order, from a per-posting segmented cumsum of the
    position gaps; None when `positions` is not passed."""
    n = np.asarray(n_docs, dtype=np.int64)
    total = int(n.sum())
    starts = np.zeros(len(n), dtype=np.int64)
    np.cumsum(n[:-1], out=starts[1:])

    def decode(col, count: int) -> np.ndarray:
        if count == 0:
            return np.zeros(0, dtype=np.int64)
        return varint_decode(_binary_payload(col), 0, count).astype(np.int64)

    def seg_cumsum(vals: np.ndarray, heads: np.ndarray,
                   lens: np.ndarray) -> np.ndarray:
        # uint64 cumsum wraps modulo 2^64, so per-segment differences
        # stay exact however large the batch's running total grows
        c = np.zeros(len(vals) + 1, dtype=np.uint64)
        np.cumsum(vals.astype(np.uint64), out=c[1:])
        return (c[1:] - np.repeat(c[heads], lens)).view(np.int64)

    doc_idx = seg_cumsum(decode(doc_gaps, total), starts, n)
    tf = decode(tfs, total) if tfs is not None else None
    dl = decode(dls, total) if dls is not None else None
    pos = None
    if positions is not None:
        heads = np.zeros(total, dtype=np.int64)
        np.cumsum(tf[:-1], out=heads[1:])
        pos = seg_cumsum(decode(positions, int(tf.sum())), heads, tf)
    return starts, doc_idx, tf, dl, pos


def decode_shard_positions(row, tf=None) -> list[np.ndarray] | None:
    """Per-posting position arrays for an encoded row, or None if the
    shard was built without positions.  Pass the already-decoded `tf`
    array to skip re-decoding the tf stream (phrase kernel hot path)."""
    buf = row["positions"] if "positions" in row else None
    if buf is None or len(buf) == 0:
        return None
    if tf is None:
        n = int(row["n_docs"])
        tf = varint_decode(row["tfs"], 0, n).astype(np.int64)
    total = int(tf.sum())
    deltas = varint_decode(buf, 0, total).astype(np.int64)
    out, off = [], 0
    for c in tf:
        out.append(np.cumsum(deltas[off:off + c]))
        off += int(c)
    return out


def decode_block(row, block_i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode only block `block_i` of an encoded row — the skip fast path."""
    n = int(row["n_docs"])
    starts = row["block_offsets"]
    count = min(BLOCK_SIZE, n - block_i * BLOCK_SIZE)
    gaps = varint_decode(row["doc_gaps"], int(starts[block_i]), count).astype(np.int64)
    # first gap of a block is relative to the previous block's last doc
    base = 0 if block_i == 0 else int(row["block_last_doc"][block_i - 1])
    doc_idx = base + np.cumsum(gaps)
    tf = varint_decode(row["tfs"], int(row["block_tf_offsets"][block_i]), count).astype(np.int64)
    dl = varint_decode(row["dls"], int(row["block_dl_offsets"][block_i]), count).astype(np.int64)
    return doc_idx, tf, dl
