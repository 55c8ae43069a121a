"""Posting-list blob codec: docID-delta varint + positions + packed
context, with per-block skip pointers and block-max metadata.

The reference compresses posting lists with 3-tier key truncation: 18
bytes for a new termId, 12 for a new docId under the same termId, 6 for
another position of the same (termId, docId) (``Posdb.h:44-48, 228-233``;
merge-time preservation ``RdbList.cpp:2154 posdbMerge_r``), and keeps a
sparse per-file key->offset map (``RdbMap.cpp``) so scans seek instead of
reading whole files. Our equivalent (SURVEY.md §1.2, §7) is one blob per
(term_id [, salt]) laid out in 128-doc blocks:

    header:   version u8 | varint n_docs
    block meta (10 varint arrays of nblocks entries each):
      block_base   first docId of each block (absolute)   } RdbMap analog
      bmax_tf      max tf in block                        } block-max
      bmin_dl      min doclen in block                    }   (WAND)
      doc_bytes    encoded size of the block's doc-delta span
      tfdl_bytes   encoded size of the block's tf + doclen + rank span
      pos_bytes    encoded size of the block's position-delta span
      npos         number of positions (sum tf) in block
      bctx         packed ctx-class summary: hashgroup-presence mask
                   (16b) | max density rank (5b) | max diversity rank
                   (4b) | max word-spam rank (4b) — a per-block upper
                   bound on the reference scorer's per-posting ctx
                   weight chain (getMaxPossibleScore analog,
                   PosdbTable.cpp:4052-4108: the reference reads rank
                   fields straight off the posdb key for its bound)
      bmin_pos     min position value in block } numeric sort-by lists
      bmax_pos     max position value in block } store the VALUE in the
                   position slot (Posdb.h:165-176), so these are value
                   ranges: gbmin/gbmax probes skip non-overlapping
                   blocks without stream decode
      bdl_tf2/4/8  (version flag 0x40, r5) min doclen among block docs
                   with tf >= 2/4/8 (0 = none) — the tf-band -> min-dl
                   Pareto frontier the BM25 block bound walks, so
                   flat-tf termlists still prune on doclen variance
                   (see bm25_block_ubs)
    streams (per block, concatenated in block order):
      docs:     delta varints, first delta of each block relative to
                block_base (so any block decodes standalone)
      tf/dl/rank: varints, grouped per block (tf*, dl*, rank*)
      pos:      delta varints, reset at each doc start
      ctx:      3 bytes per position (hg 4b | density 5b | diversity 4b |
                wordspam 4b | syn 2b; field widths Posdb.h:64-86)

The block meta decodes in O(nblocks) without touching the streams, so a
reader can (a) skip straight to blocks intersecting a candidate docId
set (skip pointers = RdbMap seek) and (b) skip blocks whose BM25 upper
bound (from bmax_tf/bmin_dl) can't reach the current top-k threshold
(block-max WAND, PosdbTable.cpp:4494 getMaxPossibleScore analog).

All encode/decode is numpy-vectorized; python loops only over blocks.

Merging (RdbList.cpp:2154 posdbMerge_r): ``merge_runs_many`` is the one
merge kernel — the build's C2 merge, ``compact_index`` and
``merge_indexes`` all call it; generations and doc events (tombstones,
re-crawls) are inputs, not separate code paths. ``merge_disjoint_blobs``
is the per-group reference the tests hold it to.
"""

from __future__ import annotations

import numpy as np

CODEC_VERSION = 3
PFOR_VERSION = 4  # opt-in: docs stream FOR-bitpacked instead of varint
PFOR_ALL_VERSION = 5  # opt-in: docs + tf/dl/rank + positions FOR-bitpacked
# version-byte flag (orthogonal to the stream codec): the block meta
# carries 3 extra arrays — the per-block (tf >= {2,4,8}) -> min-doclen
# Pareto frontier. The plain (bmax_tf, bmin_dl) bound pairs the max tf
# with the min dl of DIFFERENT docs, which barely prunes on flat-tf
# termlists (tf ≈ 1-2 everywhere: measured 541/546 blocks decoded on a
# 500k mid-df list); the frontier caps each tf band with the min dl a
# doc of that band actually has, so the block bound tracks real docs
# (PosdbTable.cpp:4494 getMaxPossibleScore reads per-doc rank fields
# for the same reason). Readers treat flag-less blobs as frontier-free.
FRONTIER_FLAG = 0x40
_FRONTIER_THRESHOLDS = (2, 4, 8)   # tf bands: [1,1] [2,3] [4,7] [8,inf)
_MIN_READ_VERSION = 3  # oldest readable layout; older: "bad codec version"
_MAX_READ_VERSION = PFOR_ALL_VERSION
BLOCK = 128  # docs per block


def _frontier_arrays(tfs: np.ndarray, doclens: np.ndarray,
                     bstarts: np.ndarray) -> list[np.ndarray]:
    """Per-block min doclen among docs with tf >= {2,4,8} (0 = no such
    doc in the block) — the Pareto frontier the BM25 block bound walks."""
    out = []
    sentinel = np.uint64(1) << np.uint64(62)
    dl = doclens.astype(np.uint64)
    for thr in _FRONTIER_THRESHOLDS:
        masked = np.where(tfs >= thr, dl, sentinel)
        m = np.minimum.reduceat(masked, bstarts)
        out.append(np.where(m == sentinel, 0, m).astype(np.uint64))
    return out


def _for_pack(vals: np.ndarray) -> np.ndarray:
    """FOR-bitpack one block of deltas: [width u8][ceil(n*w/8) bytes,
    little bit order]. Width = max bit length (min 1) — plain frame-of-
    reference packing; the per-block reset against block_base already
    bounds deltas, so the patched-exception machinery of full PFOR buys
    nothing at BLOCK=128 (one outlier only inflates its own block)."""
    v = vals.astype(np.uint64)
    mx = int(v.max()) if len(v) else 0
    width = max(1, mx.bit_length())
    bits = ((v[:, None] >> np.arange(width, dtype=np.uint64))
            & np.uint64(1)).astype(np.uint8)
    return np.concatenate([
        np.frombuffer(bytes([width]), dtype=np.uint8),
        np.packbits(bits.ravel(), bitorder="little")])


def _for_unpack(buf: np.ndarray, off: int, count: int) -> np.ndarray:
    """Inverse of _for_pack at a byte offset; returns uint64 deltas."""
    width = int(buf[off])
    nbytes = (count * width + 7) // 8
    bits = np.unpackbits(buf[off + 1: off + 1 + nbytes],
                         bitorder="little", count=count * width)
    weights = np.uint64(1) << np.arange(width, dtype=np.uint64)
    return (bits.reshape(count, width).astype(np.uint64) @ weights)         .astype(np.uint64)


def _for_packed_nbytes(width: int, count: int) -> int:
    return 1 + (count * width + 7) // 8


def _for_unpack_ragged(buf: np.ndarray, offs: np.ndarray,
                       counts: np.ndarray) -> np.ndarray:
    """Unpack MANY ``_for_pack`` spans at arbitrary byte offsets in one
    vectorized bit-gather — the ragged inverse of ``_for_pack_many``.
    ``offs`` are absolute offsets of each span's width byte; returns
    the concatenated uint64 values in span order. Unlike the
    width-grouped rectangular unpack in ``decode_blocks`` this makes
    no equal-count assumption, so it serves the v5 tf/dl/rank and
    position spans whose per-block counts vary."""
    counts = counts.astype(np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.uint64)
    w = buf[offs.astype(np.int64)].astype(np.int64)
    vw = np.repeat(w, counts)                       # width per value
    cstart = np.cumsum(counts) - counts
    within = np.arange(total, dtype=np.int64) - np.repeat(cstart, counts)
    vstart = (np.repeat((offs.astype(np.int64) + 1) * 8, counts)
              + within * vw)                        # first bit per value
    w_max = int(w.max())
    if w_max <= 57:
        # fast path: every value's bits fit a word-sized little-endian
        # window starting at its byte ((vstart & 7) + w <= 32/64), so
        # one fancy-gather of 4 or 8 bytes per value + an int view +
        # shift/mask decodes everything — no per-bit arrays. All
        # streams qualify (tf/rank <= 10, positions <= 18, ctx <= 23,
        # dl <= ~20 -> the half-traffic 4-byte window; docid deltas
        # <= 38 -> the 8-byte one).
        win = 4 if w_max <= 25 else 8
        byte0 = vstart >> 3
        end = int(byte0.max()) + win
        b = np.concatenate([buf, np.zeros(win, dtype=np.uint8)]) \
            if end > len(buf) else buf
        mat = b[byte0[:, None] + np.arange(win, dtype=np.int64)]
        if win == 4:
            u = np.ascontiguousarray(mat).view("<u4").ravel()
            mask = ((np.uint32(1) << vw.astype(np.uint32))
                    - np.uint32(1))
            return ((u >> (vstart & 7).astype(np.uint32)) & mask) \
                .astype(np.uint64)
        u = np.ascontiguousarray(mat).view("<u8").ravel()
        mask = (np.uint64(1) << vw.astype(np.uint64)) - np.uint64(1)
        return (u >> (vstart & 7).astype(np.uint64)) & mask
    # general path (w > 57 cannot occur for real posting streams):
    # per-bit gather + segmented sum
    vw_start = np.cumsum(vw) - vw
    tot_bits = int(vw.sum())
    intra = np.arange(tot_bits, dtype=np.int64) - np.repeat(vw_start, vw)
    bit_idx = np.repeat(vstart, vw) + intra
    bits = (buf[bit_idx >> 3] >> (bit_idx & 7).astype(np.uint8)) & 1
    contrib = bits.astype(np.uint64) << intra.astype(np.uint64)
    return np.add.reduceat(contrib, vw_start)


def _bitlen_u64(v: np.ndarray) -> np.ndarray:
    """Exact integer bit length per element (floor(log2)+1, 0 -> 0):
    six vectorized shift passes — float log2 is NOT safe here (it
    rounds to the exact integer at 2^k +/- 1 boundaries for large k,
    which would disagree with the single-blob encoder's
    int.bit_length and break byte parity)."""
    v = v.astype(np.uint64)
    w = np.zeros(len(v), dtype=np.int64)
    x = v.copy()
    for s in (32, 16, 8, 4, 2, 1):
        m = x >= (np.uint64(1) << np.uint64(s))
        w[m] += s
        x[m] >>= np.uint64(s)
    return w + (v > 0)


def _for_pack_many(deltas: np.ndarray, blk_start: np.ndarray,
                   blk_count: np.ndarray):
    """Vectorized ragged FOR pack of MANY blocks at once — the bulk
    analog of ``_for_pack``, byte-identical per block. Returns
    (region uint8 array holding every block's [width][packed] span
    back to back, per-block byte sizes uint64). One packbits over a
    global little-bit-order buffer; block regions are byte-aligned by
    construction so no bits cross block boundaries."""
    nd = len(deltas)
    nblk = len(blk_start)
    v64 = deltas.astype(np.uint64)
    mx = np.maximum.reduceat(v64, blk_start)
    w = np.maximum(_bitlen_u64(mx), 1)
    nbytes = 1 + (blk_count * w + 7) // 8
    boff = np.zeros(nblk + 1, dtype=np.int64)
    np.cumsum(nbytes, out=boff[1:])
    out = np.zeros(int(boff[-1]), dtype=np.uint8)
    out[boff[:-1]] = w.astype(np.uint8)
    wd = np.repeat(w, blk_count)                      # width per delta
    within = np.arange(nd, dtype=np.int64) - np.repeat(blk_start,
                                                       blk_count)
    base_bit = (np.repeat(boff[:-1], blk_count) + 1) * 8 + within * wd
    if int(w.max()) <= 57:
        # byte-contribution fast path (inverse of the windowed-gather
        # unpack): shift each value to its in-byte offset, split into
        # its <= ceil((7+w)/8) covered bytes, and OR the per-byte
        # contributions grouped by byte index — the (value, byte)
        # sequence is globally non-decreasing in byte index, so the
        # grouping is one reduceat at change points. ~8x less
        # intermediate traffic than the per-bit scatter it replaces.
        sval = v64 << (base_bit & 7).astype(np.uint64)
        nby = ((base_bit & 7) + wd + 7) // 8
        nbc = np.cumsum(nby)
        tot = int(nbc[-1])
        intra = np.arange(tot, dtype=np.int64) - np.repeat(nbc - nby,
                                                           nby)
        byte_idx = np.repeat(base_bit >> 3, nby) + intra
        vals8 = ((np.repeat(sval, nby)
                  >> (8 * intra).astype(np.uint64))
                 & np.uint64(0xFF)).astype(np.uint8)
        first = np.empty(tot, dtype=bool)
        first[0] = True
        first[1:] = byte_idx[1:] != byte_idx[:-1]
        starts = np.flatnonzero(first)
        out[byte_idx[starts]] |= np.bitwise_or.reduceat(vals8, starts)
        return out, nbytes.astype(np.uint64)
    tot_bits = int(wd.sum())
    intra = (np.arange(tot_bits, dtype=np.int64)
             - np.repeat(np.cumsum(wd) - wd, wd))
    bit_idx = np.repeat(base_bit, wd) + intra
    vals = ((np.repeat(v64, wd)
             >> intra.astype(np.uint64)) & np.uint64(1)).astype(np.uint8)
    bits = np.zeros(len(out) * 8, dtype=np.uint8)
    bits[bit_idx] = vals
    out |= np.packbits(bits, bitorder="little")
    return out, nbytes.astype(np.uint64)


def pack_block_ctx(ctx_slice: np.ndarray) -> int:
    """Pack a block's ctx-class summary (see module docstring)."""
    if len(ctx_slice) == 0:
        return 0
    c = ctx_slice.astype(np.uint32)
    hg = (c >> 15) & 0xF
    den = (c >> 10) & 0x1F
    div = (c >> 6) & 0xF
    spam = (c >> 2) & 0xF
    mask = int(np.bitwise_or.reduce(
        (np.uint32(1) << hg).astype(np.uint32)))
    return ((mask & 0xFFFF) << 13 | int(den.max()) << 8
            | int(div.max()) << 4 | int(spam.max()))


def unpack_block_ctx(bctx: np.ndarray):
    """-> (hg_mask u16, max_den, max_div, max_spam) arrays."""
    b = bctx.astype(np.uint64)
    return ((b >> np.uint64(13)) & np.uint64(0xFFFF),
            (b >> np.uint64(8)) & np.uint64(0x1F),
            (b >> np.uint64(4)) & np.uint64(0xF),
            b & np.uint64(0xF))


def _varint_encode(values: np.ndarray) -> np.ndarray:
    """Vectorized LEB128 encode of a uint64 array -> uint8 array."""
    return _varint_encode_len(values)[0]


def _varint_encode_len(
        values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 encode + per-value byte lengths in one pass (the bulk
    encoder needs both; computing lengths separately re-ran the
    shift-loop over the same array)."""
    v = np.asarray(values, dtype=np.uint64)
    if len(v) == 0:
        return (np.empty(0, dtype=np.uint8),
                np.empty(0, dtype=np.int64))
    nbytes = np.ones(len(v), dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes[tmp > 0] += 1
        np.right_shift(tmp, np.uint64(7), out=tmp)
    maxb = int(nbytes.max())
    if maxb == 1:
        # all values < 128: the encoding IS the byte values (common
        # case for delta/tf streams) — no scatter loop needed
        return v.astype(np.uint8), nbytes
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    idx = starts.copy()
    shifted = v.copy()
    for k in range(maxb):
        alive = nbytes > k
        b = (shifted[alive] & np.uint64(0x7F)).astype(np.uint8)
        more = (nbytes[alive] - 1) > k
        b[more] |= 0x80
        out[idx[alive]] = b
        idx[alive] += 1
        np.right_shift(shifted, np.uint64(7), out=shifted)
    return out, nbytes


def _varint_nbytes(values: np.ndarray) -> np.ndarray:
    """Per-value encoded length (bytes) without encoding."""
    v = values.astype(np.uint64, copy=True)
    nbytes = np.ones(len(v), dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nz = tmp > 0
        nbytes[nz] += 1
        tmp = tmp >> np.uint64(7)
    return nbytes


def _varint_decode(buf: np.ndarray, count: int, offset: int,
                   end: int | None = None) -> tuple[np.ndarray, int]:
    """Vectorized LEB128 decode of `count` values starting at `offset`.
    Returns (values uint64, new_offset). Pass `end` whenever the span's
    byte length is known: the continuation-bit scan is O(end - offset),
    and without a bound each call scans to the END of the blob — which
    made per-block decoding quadratic in blob size."""
    if count == 0:
        return np.empty(0, dtype=np.uint64), offset
    data = buf[offset:end]
    cont = (data & 0x80) != 0
    term_idx = np.flatnonzero(~cont)
    if len(term_idx) < count:
        raise ValueError("varint stream truncated")
    ends = term_idx[:count]
    used = int(ends[count - 1]) + 1
    starts = np.empty(count, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    vals = np.zeros(count, dtype=np.uint64)
    maxlen = int(lens.max())
    for k in range(maxlen):
        alive = lens > k
        b = data[starts[alive] + k].astype(np.uint64)
        vals[alive] |= (b & np.uint64(0x7F)) << np.uint64(7 * k)
    return vals, offset + used


def _block_slices(n: int) -> list[tuple[int, int]]:
    return [(s, min(s + BLOCK, n)) for s in range(0, n, BLOCK)]


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray,
    positions: np.ndarray,
    ctxs: np.ndarray,
    ranks: np.ndarray,
    docid_codec: str = "varint",
    frontier: bool = True,
) -> bytes:
    """Encode one term's postings (inputs as in the module docstring;
    doc_ids ascending, positions ascending within each doc).

    frontier=False emits a legacy flag-less blob (no per-block tf->dl
    Pareto arrays) — read-compat tests only; new builds always carry
    the frontier.

    docid_codec="pfor" writes a version-4 blob whose DOCS stream is
    FOR-bitpacked per block (the north-star's "varint/PFOR" option);
    meta layout and every other stream are identical to v3 and the
    decoders handle both transparently. Measured blob sizes: v4 is
    2.5-6% smaller across shapes (docid-dominated sparse: 0.94×;
    position-heavy: 0.97×), and with the windowed ragged batch unpack
    in decode_blocks the whole-blob decode beats varint (154.7 vs
    178.2 ms full on a 500k-doc tf≈1.5 termlist).

    docid_codec="pfor_all" writes a version-5 blob that ALSO
    FOR-bitpacks the tf/dl/rank spans (three packs per block,
    [w][tf*][w][dl*][w][rk*], each sub-stream with its own width —
    tf needs 1-2 bits, dl 10-12, rank 4, so one shared width would
    waste most of the saving), the position-delta span, and the ctx
    span (one pack each per block; blocks with no positions
    contribute NO bytes to either). v5 meta carries an 11th
    per-block array: the packed ctx span's byte size (pre-v5 ctx is
    fixed 3 bytes/posting and needs none). Measured on a 500k-doc
    tf≈1.5 termlist with realistic ctx values: v5 is 27.5% smaller
    than varint (4.74 vs 6.54 MB) at full-decode parity (170 vs
    175 ms) and ~1.5x bulk-encode cost. Function-level defaults stay
    varint so explicit callers are byte-stable; EngineConf defaults
    to "pfor" (strictly smaller AND faster), with "pfor_all" the
    pick where segment bytes dominate (they do at 100 TB: the blobs
    ARE the index)."""
    use_pfor_all = docid_codec == "pfor_all"
    use_pfor = docid_codec == "pfor" or use_pfor_all
    nd = len(doc_ids)
    doc_ids = doc_ids.astype(np.uint64)
    tfs = tfs.astype(np.uint64)
    doclens = doclens.astype(np.uint64)
    ranks = ranks.astype(np.uint64)
    version = (PFOR_ALL_VERSION if use_pfor_all
               else PFOR_VERSION if use_pfor else CODEC_VERSION)
    if frontier:
        version |= FRONTIER_FLAG
    parts = [np.frombuffer(bytes([version]), dtype=np.uint8),
             _varint_encode(np.array([nd], dtype=np.uint64))]
    if nd == 0:
        return b"".join(p.tobytes() for p in parts)

    # Fully vectorized across blocks, and ONE varint encode per region
    # (meta span, stream span) instead of one per array/block — the
    # per-call numpy fixed cost dominated the build's merge loop on
    # tiny blobs and the per-block python loop dominated big ones.
    # Byte output is identical to the per-array formulation (varints
    # are self-delimiting; concatenation order IS the format).
    nb = (nd + BLOCK - 1) // BLOCK
    bstarts = np.arange(0, nd, BLOCK, dtype=np.int64)
    counts = np.minimum(BLOCK, nd - bstarts)
    bends = bstarts + counts

    # doc deltas with per-block reset against block_base
    deltas = np.empty(nd, dtype=np.uint64)
    deltas[0] = 0
    deltas[1:] = doc_ids[1:] - doc_ids[:-1]
    deltas[bstarts] = 0  # block_base carries the absolute value
    block_base = doc_ids[bstarts]

    # position deltas, reset at each doc start
    pos = positions.astype(np.uint64)
    pos_cum = np.zeros(nd + 1, dtype=np.int64)
    pos_cum[1:] = np.cumsum(tfs).astype(np.int64)
    npos_total = int(pos_cum[-1])
    if npos_total:
        pdelta = np.empty(npos_total, dtype=np.uint64)
        pdelta[0] = pos[0]
        pdelta[1:] = pos[1:] - pos[:-1]
        doc_starts = pos_cum[:nd]
        pdelta[doc_starts] = pos[doc_starts]
    else:
        pdelta = np.empty(0, dtype=np.uint64)

    # stream values in final layout: docs | per-block (tf*, dl*, rank*)
    # | pos — built once so byte lengths come from one _varint_nbytes
    cc = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(counts, out=cc[1:])
    within = np.arange(nd, dtype=np.int64) - np.repeat(cc[:-1], counts)
    base3 = np.repeat(3 * cc[:-1], counts)
    c_rep = np.repeat(counts, counts)
    tfdl_vals = np.empty(3 * nd, dtype=np.uint64)
    tfdl_vals[base3 + within] = tfs
    tfdl_vals[base3 + c_rep + within] = doclens
    tfdl_vals[base3 + 2 * c_rep + within] = ranks
    if use_pfor_all:
        doc_parts = [_for_pack(deltas[s:e])
                     for s, e in zip(bstarts, bends)]
        tfdl_parts = [np.concatenate([
            _for_pack(tfs[s:e]), _for_pack(doclens[s:e]),
            _for_pack(ranks[s:e])]) for s, e in zip(bstarts, bends)]
        pos_parts, ctx_parts = [], []
        pos_bytes_v5 = np.zeros(nb, dtype=np.uint64)
        ctx_bytes_v5 = np.zeros(nb, dtype=np.uint64)
        ctx64 = ctxs.astype(np.uint64)
        for bi, (s, e) in enumerate(zip(bstarts, bends)):
            ps, pe = int(pos_cum[s]), int(pos_cum[e])
            if pe > ps:  # empty-position blocks contribute NO bytes
                p = _for_pack(pdelta[ps:pe])
                pos_parts.append(p)
                pos_bytes_v5[bi] = len(p)
                c5 = _for_pack(ctx64[ps:pe])
                ctx_parts.append(c5)
                ctx_bytes_v5[bi] = len(c5)
        stream_vals = pdelta[:0]  # nothing varint-coded but the meta
        s_len = None
        doc_bytes = np.array([len(p) for p in doc_parts],
                             dtype=np.uint64)
        tfdl_bytes = np.array([len(p) for p in tfdl_parts],
                              dtype=np.uint64)
    elif use_pfor:
        doc_parts = [_for_pack(deltas[s:e])
                     for s, e in zip(bstarts, bends)]
        stream_vals = np.concatenate([tfdl_vals, pdelta])
        s_len = _varint_nbytes(stream_vals)
        doc_bytes = np.array([len(p) for p in doc_parts],
                             dtype=np.uint64)
        tfdl_bytes = np.add.reduceat(s_len[:3 * nd],
                                     3 * cc[:-1]).astype(np.uint64)
        s_len = np.concatenate(  # keep the pos-length slice aligned
            [np.zeros(nd, dtype=s_len.dtype), s_len])
    else:
        doc_parts = None
        stream_vals = np.concatenate([deltas, tfdl_vals, pdelta])
        s_len = _varint_nbytes(stream_vals)
        doc_bytes = np.add.reduceat(s_len[:nd], bstarts).astype(np.uint64)
        tfdl_bytes = np.add.reduceat(s_len[nd:4 * nd],
                                     3 * cc[:-1]).astype(np.uint64)

    # per-block stats (reduceat over block starts)
    bmax_tf = np.maximum.reduceat(tfs, bstarts)
    bmin_dl = np.minimum.reduceat(doclens, bstarts)
    npos_blk = (pos_cum[bends] - pos_cum[bstarts]).astype(np.uint64)
    bctx = np.zeros(nb, dtype=np.uint64)
    bmin_pos = np.zeros(nb, dtype=np.uint64)
    bmax_pos = np.zeros(nb, dtype=np.uint64)
    pos_bytes = np.zeros(nb, dtype=np.uint64)
    if npos_total:
        # guard reduceat against empty blocks (npos == 0): clip the
        # start index and zero-mask the result afterwards
        pstarts = np.minimum(pos_cum[bstarts], npos_total - 1)
        nonempty = npos_blk > 0
        if use_pfor_all:
            pos_bytes = pos_bytes_v5
        else:
            p_len = s_len[4 * nd:]
            pos_bytes = np.where(
                nonempty, np.add.reduceat(p_len, pstarts),
                0).astype(np.uint64)
        c32 = ctxs.astype(np.uint32)
        hg_bit = (np.uint32(1) << ((c32 >> 15) & 0xF)).astype(np.uint32)
        mask = np.bitwise_or.reduceat(hg_bit, pstarts).astype(np.uint64)
        den = np.maximum.reduceat(
            ((c32 >> 10) & 0x1F).astype(np.uint64), pstarts)
        div = np.maximum.reduceat(
            ((c32 >> 6) & 0xF).astype(np.uint64), pstarts)
        spam = np.maximum.reduceat(
            ((c32 >> 2) & 0xF).astype(np.uint64), pstarts)
        bctx = np.where(
            nonempty,
            (mask & np.uint64(0xFFFF)) << np.uint64(13)
            | den << np.uint64(8) | div << np.uint64(4) | spam,
            0).astype(np.uint64)
        bmin_pos = np.where(nonempty,
                            np.minimum.reduceat(pos, pstarts),
                            0).astype(np.uint64)
        bmax_pos = np.where(nonempty,
                            np.maximum.reduceat(pos, pstarts),
                            0).astype(np.uint64)

    meta_arrays = [
        block_base.astype(np.uint64), bmax_tf.astype(np.uint64),
        bmin_dl.astype(np.uint64), doc_bytes, tfdl_bytes, pos_bytes,
        npos_blk, bctx, bmin_pos, bmax_pos]
    if use_pfor_all:
        meta_arrays.append(ctx_bytes_v5)  # 11th array: FOR-packed ctx
    if frontier:
        meta_arrays.extend(_frontier_arrays(tfs, doclens, bstarts))
    meta_vals = np.concatenate(meta_arrays)
    parts.append(_varint_encode(meta_vals))
    if use_pfor:
        parts.extend(doc_parts)
    if use_pfor_all:
        parts.extend(tfdl_parts)
        parts.extend(pos_parts)
        parts.extend(ctx_parts)
    else:
        parts.append(_varint_encode(stream_vals))
    if npos_total and not use_pfor_all:
        c = ctxs.astype(np.uint32)
        cb = np.empty((len(c), 3), dtype=np.uint8)
        cb[:, 0] = c & 0xFF
        cb[:, 1] = (c >> 8) & 0xFF
        cb[:, 2] = (c >> 16) & 0xFF
        parts.append(cb.ravel())
    return b"".join(p.tobytes() for p in parts)


def encode_postings_many(
    run_nd: np.ndarray,
    docs: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray,
    ranks: np.ndarray,
    positions: np.ndarray,
    ctxs: np.ndarray,
    docid_codec: str = "varint",
    frontier: bool = True,
) -> list[bytes]:
    """Bulk encoder for MANY runs of ANY length at once, byte-identical
    to calling ``encode_postings`` per run but fully vectorized across
    runs AND blocks — the per-run fixed cost of ~30 numpy calls
    (~0.5ms) made per-run encoding the build's hottest path (one web
    page contributes dozens of df=1 fielded terms, and every salted
    hot-term run is a separate multi-block encode; at 32 threads the
    segment stage was memory-bandwidth-bound on exactly these calls).

    Inputs are run-major concatenations: ``docs/tfs/doclens/ranks`` at
    doc level, ``positions/ctxs`` at posting level (aligned with tfs).
    Every ``run_nd[i]`` must be >= 1 (callers encode empty lists via
    ``encode_postings`` directly). Returns one bytes blob per run, in
    run order. docid_codec="pfor" emits version-4 blobs whose docs
    streams are FOR-bitpacked (``_for_pack_many``: one vectorized
    ragged pack for every block of every run — byte-identical to the
    per-blob encoder's v4 output).
    """
    use_pfor_all = docid_codec == "pfor_all"
    use_pfor = docid_codec == "pfor" or use_pfor_all
    nrun = len(run_nd)
    if nrun == 0:
        return []
    run_nd = run_nd.astype(np.int64)
    docs = docs.astype(np.uint64)
    tfs = tfs.astype(np.uint64)
    doclens = doclens.astype(np.uint64)
    ranks = ranks.astype(np.uint64)
    pos = positions.astype(np.uint64)
    ndocs = len(docs)
    npos_total = len(pos)

    doc_ends = np.cumsum(run_nd)
    doc_starts = doc_ends - run_nd

    # block structure: run i splits into ceil(nd_i / BLOCK) blocks of
    # consecutive docs; blocks are globally doc-order contiguous
    run_nb = (run_nd + BLOCK - 1) // BLOCK
    nblk = int(run_nb.sum())
    blk_before = np.cumsum(run_nb) - run_nb        # blocks before run i
    blk_run = np.repeat(np.arange(nrun, dtype=np.int64), run_nb)
    blk_within = np.arange(nblk, dtype=np.int64) - blk_before[blk_run]
    blk_start = doc_starts[blk_run] + blk_within * BLOCK   # doc index
    blk_count = np.minimum(BLOCK, doc_ends[blk_run] - blk_start)
    blk_end = blk_start + blk_count

    # doc deltas, reset at block starts (block_base holds the absolute)
    deltas = np.empty(ndocs, dtype=np.uint64)
    deltas[1:] = docs[1:] - docs[:-1]
    deltas[blk_start] = 0
    block_base = docs[blk_start]

    # position deltas, reset at each DOC start
    pc = np.zeros(ndocs + 1, dtype=np.int64)
    pc[1:] = np.cumsum(tfs).astype(np.int64)
    doc_pos_start = pc[:ndocs]
    pdelta = np.empty(npos_total, dtype=np.uint64)
    if npos_total:
        pdelta[1:] = pos[1:] - pos[:-1]
        pdelta[doc_pos_start] = pos[doc_pos_start]

    # tf/dl/rank stream: per block (tf*, dl*, rank*), block-major
    cc = np.zeros(nblk + 1, dtype=np.int64)
    np.cumsum(blk_count, out=cc[1:])
    within = np.arange(ndocs, dtype=np.int64) - np.repeat(cc[:-1],
                                                          blk_count)
    base3 = np.repeat(3 * cc[:-1], blk_count)
    c_rep = np.repeat(blk_count, blk_count)
    tfdl_vals = np.empty(3 * ndocs, dtype=np.uint64)
    tfdl_vals[base3 + within] = tfs
    tfdl_vals[base3 + c_rep + within] = doclens
    tfdl_vals[base3 + 2 * c_rep + within] = ranks

    # ONE varint encode per stream for the whole batch
    if use_pfor:
        enc_d, doc_bytes_pf = _for_pack_many(deltas, blk_start,
                                             blk_count)
        len_d = None
    else:
        enc_d, len_d = _varint_encode_len(deltas)
    if use_pfor_all:
        # v5 tf/dl/rank: one ragged FOR pack per sub-stream (tf/dl/rank
        # are block-contiguous in doc order already), then interleave
        # the three packs per block ([tf][dl][rk]) with a vectorized
        # scatter copy — byte-identical per block to encode_postings
        rt, st = _for_pack_many(tfs, blk_start, blk_count)
        rd2, sd = _for_pack_many(doclens, blk_start, blk_count)
        rr, sr = _for_pack_many(ranks, blk_start, blk_count)
        st, sd, sr = (s.astype(np.int64) for s in (st, sd, sr))
        sizes3 = st + sd + sr
        dst3 = np.cumsum(sizes3) - sizes3
        enc_t = np.empty(int(sizes3.sum()), dtype=np.uint8)

        def _scatter(region, s, blk_off):
            src_start = np.cumsum(s) - s
            tot = int(s.sum())
            intra = (np.arange(tot, dtype=np.int64)
                     - np.repeat(src_start, s))
            enc_t[np.repeat(dst3 + blk_off, s) + intra] = region

        _scatter(rt, st, 0)
        _scatter(rd2, sd, st)
        _scatter(rr, sr, st + sd)
        tfdl_bytes_blk_v5 = sizes3.astype(np.uint64)
        len_t = len_p = None
        enc_p = np.empty(0, dtype=np.uint8)  # packed once npos known
    else:
        enc_t, len_t = _varint_encode_len(tfdl_vals)
        enc_p, len_p = _varint_encode_len(pdelta)
    c = ctxs.astype(np.uint32)
    if use_pfor_all:
        enc_c = np.empty(0, dtype=np.uint8)  # packed once npos known
    else:
        cb = np.empty((len(c), 3), dtype=np.uint8)
        cb[:, 0] = c & 0xFF
        cb[:, 1] = (c >> 8) & 0xFF
        cb[:, 2] = (c >> 16) & 0xFF
        enc_c = cb.ravel()

    # per-block stats + byte spans
    bmax_tf = np.maximum.reduceat(tfs, blk_start)
    bmin_dl = np.minimum.reduceat(doclens, blk_start)
    doc_bytes_blk = (doc_bytes_pf if use_pfor else
                     np.add.reduceat(len_d, blk_start).astype(np.uint64))
    tfdl_bytes_blk = (tfdl_bytes_blk_v5 if use_pfor_all else
                      np.add.reduceat(len_t, 3 * cc[:-1]).astype(np.uint64))
    blk_pos_start = pc[blk_start]
    npos_blk = (pc[blk_end] - blk_pos_start).astype(np.uint64)
    bctx = np.zeros(nblk, dtype=np.uint64)
    bmin_pos = np.zeros(nblk, dtype=np.uint64)
    bmax_pos = np.zeros(nblk, dtype=np.uint64)
    pos_bytes_blk = np.zeros(nblk, dtype=np.uint64)
    ctx_bytes_blk = np.zeros(nblk, dtype=np.uint64)
    if npos_total:
        pstarts = np.minimum(blk_pos_start, npos_total - 1)
        nonempty = npos_blk > 0
        if use_pfor_all:
            # v5 positions + ctx: ragged FOR packs of the nonempty pos
            # blocks (empty blocks contribute NO bytes, like
            # encode_postings)
            ne_starts = blk_pos_start[nonempty].astype(np.int64)
            ne_counts = npos_blk[nonempty].astype(np.int64)
            enc_p, sp = _for_pack_many(pdelta, ne_starts, ne_counts)
            pos_bytes_blk[nonempty] = sp
            enc_c, sc = _for_pack_many(ctxs.astype(np.uint64),
                                       ne_starts, ne_counts)
            ctx_bytes_blk[nonempty] = sc
        else:
            pos_bytes_blk = np.where(
                nonempty, np.add.reduceat(len_p, pstarts),
                0).astype(np.uint64)
        hg_bit = (np.uint32(1) << ((c >> 15) & 0xF)).astype(np.uint32)
        mask = np.bitwise_or.reduceat(hg_bit, pstarts).astype(np.uint64)
        den = np.maximum.reduceat(
            ((c >> 10) & 0x1F).astype(np.uint64), pstarts)
        div = np.maximum.reduceat(
            ((c >> 6) & 0xF).astype(np.uint64), pstarts)
        spam = np.maximum.reduceat(
            ((c >> 2) & 0xF).astype(np.uint64), pstarts)
        bctx = np.where(
            nonempty,
            (mask & np.uint64(0xFFFF)) << np.uint64(13)
            | den << np.uint64(8) | div << np.uint64(4) | spam,
            0).astype(np.uint64)
        bmin_pos = np.where(nonempty,
                            np.minimum.reduceat(pos, pstarts),
                            0).astype(np.uint64)
        bmax_pos = np.where(nonempty,
                            np.maximum.reduceat(pos, pstarts),
                            0).astype(np.uint64)

    # meta values per run, array-major within the run (same layout as
    # encode_postings): varint(nd) | base*nb | bmax_tf*nb | ... — built
    # as ONE scatter-filled array so a single varint encode covers all
    # runs' headers
    meta_arrays = (
        block_base, bmax_tf.astype(np.uint64),
        bmin_dl.astype(np.uint64), doc_bytes_blk, tfdl_bytes_blk,
        pos_bytes_blk, npos_blk, bctx, bmin_pos, bmax_pos) \
        + ((ctx_bytes_blk,) if use_pfor_all else ()) \
        + (tuple(_frontier_arrays(tfs, doclens, blk_start))
           if frontier else ())
    n_meta = len(meta_arrays)
    meta_vals = np.empty(nrun + n_meta * nblk, dtype=np.uint64)
    run_base = blk_before * n_meta + np.arange(nrun, dtype=np.int64)
    meta_vals[run_base] = run_nd.astype(np.uint64)
    blk_base_ix = run_base[blk_run] + 1 + blk_within
    run_nb_blk = run_nb[blk_run]
    for j, arr in enumerate(meta_arrays):
        meta_vals[blk_base_ix + j * run_nb_blk] = arr
    enc_m, len_m = _varint_encode_len(meta_vals)
    m_bytes = np.add.reduceat(len_m, run_base)

    # per-run byte spans (streams are run-contiguous)
    doc_bytes_run = (np.add.reduceat(doc_bytes_blk, blk_before)
                     .astype(np.int64) if use_pfor else
                     np.add.reduceat(len_d, doc_starts))
    tfdl_bytes_run = (np.add.reduceat(tfdl_bytes_blk, blk_before)
                      .astype(np.int64) if use_pfor_all else
                      np.add.reduceat(len_t, 3 * cc[blk_before]))
    run_npos = (pc[doc_ends] - pc[doc_starts]).astype(np.int64)
    if use_pfor_all:
        pos_bytes_run = (np.add.reduceat(pos_bytes_blk, blk_before)
                         .astype(np.int64))
    elif npos_total:
        rp = np.minimum(pc[doc_starts], npos_total - 1)
        pos_bytes_run = np.where(run_npos > 0,
                                 np.add.reduceat(len_p, rp), 0)
    else:
        pos_bytes_run = np.zeros(nrun, dtype=np.int64)

    def offsets(per_run: np.ndarray) -> np.ndarray:
        out = np.zeros(nrun + 1, dtype=np.int64)
        np.cumsum(per_run, out=out[1:])
        return out

    mo = offsets(m_bytes)
    do = offsets(doc_bytes_run)
    to = offsets(tfdl_bytes_run)
    po = offsets(pos_bytes_run)
    co = offsets(np.add.reduceat(ctx_bytes_blk, blk_before)
                 .astype(np.int64) if use_pfor_all else run_npos * 3)

    ver_num = (PFOR_ALL_VERSION if use_pfor_all
               else PFOR_VERSION if use_pfor else CODEC_VERSION)
    if frontier:
        ver_num |= FRONTIER_FLAG
    ver = bytes([ver_num])
    bm = memoryview(enc_m.tobytes())
    bd = memoryview(enc_d.tobytes())
    bt = memoryview(enc_t.tobytes())
    bp = memoryview(enc_p.tobytes())
    bc = memoryview(enc_c.tobytes())
    out = []
    for i in range(nrun):
        out.append(b"".join((
            ver,
            bm[mo[i]:mo[i + 1]],
            bd[do[i]:do[i + 1]],
            bt[to[i]:to[i + 1]],
            bp[po[i]:po[i + 1]],
            bc[co[i]:co[i + 1]],
        )))
    return out


class BlockMeta:
    """Decoded block directory of a blob (O(nblocks), streams untouched)."""

    __slots__ = ("n_docs", "nblocks", "block_base", "bmax_tf", "bmin_dl",
                 "doc_bytes", "tfdl_bytes", "pos_bytes", "npos",
                 "bctx", "bmin_pos", "bmax_pos", "ctx_bytes", "version",
                 "frontier", "bdl_tf2", "bdl_tf4", "bdl_tf8",
                 "streams_off", "buf")

    def __init__(self, blob: bytes):
        buf = np.frombuffer(blob, dtype=np.uint8)
        raw = int(buf[0])
        self.frontier = bool(raw & FRONTIER_FLAG)
        v = raw & ~FRONTIER_FLAG
        if not (_MIN_READ_VERSION <= v <= _MAX_READ_VERSION):
            raise ValueError(f"bad codec version {raw}")
        self.version = v
        off = 1
        nd_arr, off = _varint_decode(buf, 1, off)
        self.n_docs = int(nd_arr[0])
        self.buf = buf
        if self.n_docs == 0:
            self.nblocks = 0
            z = np.empty(0, dtype=np.uint64)
            self.block_base = self.bmax_tf = self.bmin_dl = z
            self.doc_bytes = self.tfdl_bytes = self.pos_bytes = self.npos = z
            self.bctx = self.bmin_pos = self.bmax_pos = z
            self.ctx_bytes = z
            self.bdl_tf2 = self.bdl_tf4 = self.bdl_tf8 = z
            self.streams_off = off
            return
        nb = (self.n_docs + BLOCK - 1) // BLOCK
        self.nblocks = nb
        # all meta arrays sit back-to-back, so ONE varint decode of the
        # whole span (then split) replaces 7/10 separate calls — each
        # call re-scans continuation bits and pays numpy fixed costs,
        # which dominated the build's multi-blob merge loop (2.5M tiny
        # BlockMeta constructions at 200k docs)
        n_arrays = 11 if self.version >= PFOR_ALL_VERSION else 10
        base_arrays = n_arrays
        if self.frontier:
            n_arrays += 3
        flat, off = _varint_decode(buf, n_arrays * nb, off)
        (self.block_base, self.bmax_tf, self.bmin_dl, self.doc_bytes,
         self.tfdl_bytes, self.pos_bytes, self.npos, self.bctx,
         self.bmin_pos, self.bmax_pos) = (
            flat[i * nb:(i + 1) * nb] for i in range(10))
        # v5: per-block byte size of the FOR-packed ctx span (pre-v5
        # ctx is fixed 3 bytes/posting, derivable from npos)
        self.ctx_bytes = (flat[10 * nb:11 * nb]
                          if self.version >= PFOR_ALL_VERSION else None)
        if self.frontier:
            fb = base_arrays * nb
            self.bdl_tf2 = flat[fb:fb + nb]
            self.bdl_tf4 = flat[fb + nb:fb + 2 * nb]
            self.bdl_tf8 = flat[fb + 2 * nb:fb + 3 * nb]
        else:
            self.bdl_tf2 = self.bdl_tf4 = self.bdl_tf8 = None
        self.streams_off = off

    def block_doc_count(self, bi: int) -> int:
        s = bi * BLOCK
        return min(BLOCK, self.n_docs - s)


def decode_blocks(blob: bytes, block_idx=None, with_positions: bool = False,
                  meta: BlockMeta | None = None,
                  ctx_only: bool = False) -> dict:
    """Decode the selected blocks (all when block_idx is None) into flat
    arrays. Skipped blocks cost zero stream decoding (skip pointers).
    ctx_only=True (with with_positions) reads the fixed-width ctx bytes
    but SKIPS the position varint decode, returning zeros for positions
    — the reference-scorer candidate pass needs per-posting ctx weights
    but no positions, and the position stream is the most expensive
    varint span in the blob."""
    m = meta or BlockMeta(blob)
    buf = m.buf
    if m.n_docs == 0:
        z = np.empty(0, dtype=np.uint64)
        return {"doc_ids": z, "tfs": z, "doclens": z, "ranks": z,
                "positions": z, "ctxs": z,
                "block_max_tf": m.bmax_tf, "block_min_dl": m.bmin_dl,
                "blocks_decoded": 0}
    sel = (list(range(m.nblocks)) if block_idx is None
           else sorted(int(b) for b in block_idx))
    doc_off = np.zeros(m.nblocks + 1, dtype=np.int64)
    doc_off[1:] = np.cumsum(m.doc_bytes).astype(np.int64)
    tfdl_off = np.zeros(m.nblocks + 1, dtype=np.int64)
    tfdl_off[1:] = np.cumsum(m.tfdl_bytes).astype(np.int64)
    pos_off = np.zeros(m.nblocks + 1, dtype=np.int64)
    pos_off[1:] = np.cumsum(m.pos_bytes).astype(np.int64)
    npos_off = np.zeros(m.nblocks + 1, dtype=np.int64)
    npos_off[1:] = np.cumsum(m.npos).astype(np.int64)
    if m.version >= PFOR_ALL_VERSION:
        ctx_off = np.zeros(m.nblocks + 1, dtype=np.int64)
        ctx_off[1:] = np.cumsum(m.ctx_bytes).astype(np.int64)
    else:
        ctx_off = None

    docs_base = m.streams_off
    tfdl_base = docs_base + int(doc_off[-1])
    pos_base = tfdl_base + int(tfdl_off[-1])
    ctx_base = pos_base + int(pos_off[-1])

    if block_idx is None:
        # whole-blob fast path: ONE varint decode per stream region,
        # block/doc structure reconstructed with vectorized index math
        # (the per-block loop cost ~0.5ms/block in numpy call overhead)
        nd = m.n_docs
        counts = np.minimum(
            BLOCK, nd - BLOCK * np.arange(m.nblocks, dtype=np.int64))
        cc = np.zeros(m.nblocks + 1, dtype=np.int64)
        np.cumsum(counts, out=cc[1:])
        if m.version >= PFOR_VERSION:
            # windowed ragged batch unpack: every delta's bits fit an
            # 8-byte window (widths <= 38), so one fancy-gather +
            # shift/mask decodes all blocks at once — measured ~4x
            # faster than the width-grouped unpackbits/matmul it
            # replaces (22 vs ~90 ms on a 500k-doc termlist)
            d_all = _for_unpack_ragged(
                buf, (docs_base + doc_off[:-1]).astype(np.int64), counts)
        else:
            d_all, _ = _varint_decode(buf, nd, docs_base,
                                      tfdl_base)
        cum = np.cumsum(d_all, dtype=np.uint64)
        # delta at each block start is 0; docs = block_base + in-block
        # cumsum = global cumsum + (block_base - cumsum at block start)
        adj = np.repeat(m.block_base.astype(np.uint64) - cum[cc[:-1]],
                        counts)
        docs = cum + adj
        if m.version >= PFOR_ALL_VERSION:
            # v5: three FOR spans per block ([w][tf*][w][dl*][w][rk*]);
            # each ragged unpack returns values already in global doc
            # order (blocks are doc-contiguous), no interleave math
            tf_off = (tfdl_base + tfdl_off[:-1]).astype(np.int64)
            w_tf = buf[tf_off].astype(np.int64)
            tf = _for_unpack_ragged(buf, tf_off, counts)
            dl_off = tf_off + 1 + (counts * w_tf + 7) // 8
            w_dl = buf[dl_off].astype(np.int64)
            dl = _for_unpack_ragged(buf, dl_off, counts)
            rk_off = dl_off + 1 + (counts * w_dl + 7) // 8
            rk = _for_unpack_ragged(buf, rk_off, counts)
        else:
            tdr, _ = _varint_decode(buf, 3 * nd, tfdl_base, pos_base)
            within = (np.arange(nd, dtype=np.int64)
                      - np.repeat(cc[:-1], counts))
            base3 = np.repeat(3 * cc[:-1], counts)
            c_rep = np.repeat(counts, counts)
            tf = tdr[base3 + within]
            dl = tdr[base3 + c_rep + within]
            rk = tdr[base3 + 2 * c_rep + within]
        out = {
            "doc_ids": docs, "tfs": tf, "doclens": dl, "ranks": rk,
            "positions": np.empty(0, dtype=np.uint64),
            "ctxs": np.empty(0, dtype=np.uint64),
            "block_max_tf": m.bmax_tf, "block_min_dl": m.bmin_dl,
            "blocks_decoded": m.nblocks,
        }
        if with_positions:
            npos_total = int(npos_off[-1])
            if ctx_only:
                out["positions"] = np.zeros(npos_total, dtype=np.uint64)
            else:
                if m.version >= PFOR_ALL_VERSION:
                    ne = m.npos.astype(np.int64) > 0
                    pd_all = _for_unpack_ragged(
                        buf,
                        (pos_base + pos_off[:-1]).astype(np.int64)[ne],
                        m.npos.astype(np.int64)[ne])
                else:
                    pd_all, _ = _varint_decode(buf, npos_total, pos_base,
                                               ctx_base)
                dstarts = np.zeros(nd, dtype=np.int64)
                dstarts[1:] = np.cumsum(tf[:-1]).astype(np.int64)
                csum = np.cumsum(pd_all, dtype=np.uint64)
                base = np.repeat(np.arange(nd), tf.astype(np.int64))
                start_csum = csum[dstarts[base]] - pd_all[dstarts[base]]
                out["positions"] = csum - start_csum
            if m.version >= PFOR_ALL_VERSION:
                ne = m.npos.astype(np.int64) > 0
                out["ctxs"] = _for_unpack_ragged(
                    buf, (ctx_base + ctx_off[:-1]).astype(np.int64)[ne],
                    m.npos.astype(np.int64)[ne])
            else:
                cb = buf[ctx_base: ctx_base + 3 * npos_total] \
                    .reshape(npos_total, 3).astype(np.uint32)
                out["ctxs"] = (cb[:, 0] | (cb[:, 1] << 8)
                               | (cb[:, 2] << 16)).astype(np.uint64)
        return out

    out_docs, out_tfs, out_dls, out_rks = [], [], [], []
    out_pos, out_ctx = [], []
    for bi in sel:
        cnt = m.block_doc_count(bi)
        if m.version >= PFOR_VERSION:
            d = _for_unpack(buf, docs_base + int(doc_off[bi]), cnt)
        else:
            d, _ = _varint_decode(buf, cnt, docs_base + int(doc_off[bi]),
                                  docs_base + int(doc_off[bi + 1]))
        docs = np.cumsum(d, dtype=np.uint64) + m.block_base[bi]
        o = tfdl_base + int(tfdl_off[bi])
        o_end = tfdl_base + int(tfdl_off[bi + 1])
        if m.version >= PFOR_ALL_VERSION:
            tf = _for_unpack(buf, o, cnt)
            o2 = o + _for_packed_nbytes(int(buf[o]), cnt)
            dl = _for_unpack(buf, o2, cnt)
            o3 = o2 + _for_packed_nbytes(int(buf[o2]), cnt)
            rk = _for_unpack(buf, o3, cnt)
        else:
            tdr, _ = _varint_decode(buf, 3 * cnt, o, o_end)
            tf = tdr[:cnt]
            dl = tdr[cnt:2 * cnt]
            rk = tdr[2 * cnt:]
        out_docs.append(docs)
        out_tfs.append(tf)
        out_dls.append(dl)
        out_rks.append(rk)
        if with_positions:
            npos = int(m.npos[bi])
            if m.version >= PFOR_ALL_VERSION:
                pd = (_for_unpack(buf, pos_base + int(pos_off[bi]), npos)
                      if npos else np.empty(0, dtype=np.uint64))
            else:
                pd, _ = _varint_decode(buf, npos,
                                       pos_base + int(pos_off[bi]),
                                       pos_base + int(pos_off[bi + 1]))
            # reconstruct absolute positions: cumsum reset at doc starts
            starts = np.zeros(cnt, dtype=np.int64)
            starts[1:] = np.cumsum(tf[:-1]).astype(np.int64)
            csum = np.cumsum(pd, dtype=np.uint64)
            base = np.repeat(np.arange(cnt), tf.astype(np.int64))
            start_csum = csum[starts[base]] - pd[starts[base]]
            out_pos.append(csum - start_csum)
            if m.version >= PFOR_ALL_VERSION:
                out_ctx.append(
                    _for_unpack(buf, ctx_base + int(ctx_off[bi]), npos)
                    .astype(np.uint32)
                    if npos else np.empty(0, dtype=np.uint32))
            else:
                cs = ctx_base + 3 * int(npos_off[bi])
                cb = buf[cs: cs + 3 * npos].reshape(npos, 3) \
                    .astype(np.uint32)
                out_ctx.append(cb[:, 0] | (cb[:, 1] << 8)
                               | (cb[:, 2] << 16))
    cat = (lambda lst, dt=np.uint64: np.concatenate(lst)
           if lst else np.empty(0, dtype=dt))
    return {
        "doc_ids": cat(out_docs), "tfs": cat(out_tfs),
        "doclens": cat(out_dls), "ranks": cat(out_rks),
        "positions": cat(out_pos), "ctxs": cat([c.astype(np.uint64) for c in out_ctx]),
        "block_max_tf": m.bmax_tf, "block_min_dl": m.bmin_dl,
        "blocks_decoded": len(sel),
    }


def decode_postings(blob: bytes) -> dict:
    """Full decode -> dict of numpy arrays (inverse of encode_postings)."""
    return decode_blocks(blob, None, with_positions=True)


def decode_headers(blob: bytes) -> dict:
    """Decode doc_ids/tfs/doclens/ranks (+ block-max) for every block —
    the BM25 fast path; positions only for phrase/proximity."""
    return decode_blocks(blob, None, with_positions=False)


def blocks_for_candidates(meta: BlockMeta, candidates: np.ndarray) -> np.ndarray:
    """Indices of blocks whose docId range intersects the sorted
    candidate array (skip-pointer seek; RdbMap::getKey analog)."""
    if meta.nblocks == 0 or len(candidates) == 0:
        return np.empty(0, dtype=np.int64)
    base = meta.block_base.astype(np.uint64)
    # block bi covers [base[bi], base[bi+1]); last block open-ended
    lo = np.searchsorted(candidates, base, side="left")
    hi = np.empty(meta.nblocks, dtype=np.int64)
    hi[:-1] = np.searchsorted(candidates, base[1:], side="left")
    hi[-1] = len(candidates)
    return np.flatnonzero(hi > lo)


def bm25_block_ubs(meta: BlockMeta, idf: float, k1: float, b: float,
                   avgdl: float) -> np.ndarray:
    """Per-block BM25 upper bounds (PosdbTable.cpp:4494
    getMaxPossibleScore analog).

    Without the frontier: kernel(bmax_tf, bmin_dl) — sound (monotone up
    in tf, down in dl) but it pairs the max tf with the min dl of
    DIFFERENT docs, so on flat-tf termlists every block bounds the
    same and nothing prunes.

    With the frontier (r5): max over tf bands of kernel(band_tf_cap,
    band_min_dl), where band_min_dl is the min dl among docs whose tf
    reaches the band threshold — each band's entry dominates every doc
    in that band (its tf <= cap, its dl >= the band min), and every
    doc falls in some band, so the max is a sound per-doc bound that
    tracks (tf, dl) pairs real docs achieve."""

    def kern(tf, dl):
        return (idf * (tf * (k1 + 1.0))
                / (tf + k1 * (1.0 - b + b * dl / avgdl)))

    tf_max = meta.bmax_tf.astype(np.float64)
    dl_min = meta.bmin_dl.astype(np.float64)
    if not meta.frontier:
        return kern(tf_max, dl_min)
    # band [1,1]: tf-1 docs (dl >= block min); bands [2,3] [4,7]
    # [8,inf): capped tf with the band's own min dl (0 = band empty)
    ub = kern(np.minimum(tf_max, 1.0), dl_min)
    for cap, arr in ((3.0, meta.bdl_tf2), (7.0, meta.bdl_tf4),
                     (None, meta.bdl_tf8)):
        dl_b = arr.astype(np.float64)
        have = dl_b > 0
        if not have.any():
            continue
        tf_b = tf_max if cap is None else np.minimum(tf_max, cap)
        ub = np.where(have, np.maximum(ub, kern(tf_b, dl_b)), ub)
    return ub


def wand_prune_blocks(meta: BlockMeta, idf: float, k1: float, b: float,
                      avgdl: float, threshold: float) -> np.ndarray:
    """Block-max WAND pruning: indices of blocks whose BM25 upper bound
    reaches `threshold` (frontier-aware, see bm25_block_ubs)."""
    if meta.nblocks == 0:
        return np.empty(0, dtype=np.int64)
    return np.flatnonzero(
        bm25_block_ubs(meta, idf, k1, b, avgdl) >= threshold)


def merge_disjoint_blobs(blobs: list[bytes],
                         docid_codec: str = "varint") -> bytes:
    """Merge same-term mini-segment blobs of ONE build generation
    (RdbList.cpp:2154 posdbMerge_r fast path): no newest-wins
    resolution, fully numpy-vectorized span gather. A doc MAY appear in
    more than one source blob (its body postings come from its own
    partition, its incoming-link-text postings from the linkers'
    partitions): duplicate docs are combined — tf summed, positions
    re-sorted ascending within the doc (the reference's mini-merge keeps
    each docId's positions sorted, PosdbTable.cpp:2879).

    The per-group reference for ``merge_runs_many``, which production
    code calls; tests compare the two byte for byte."""
    decoded = [d for d in (decode_postings(b) for b in blobs)
               if len(d["doc_ids"])]
    if not decoded:
        # nothing to merge (no blobs, or every blob decoded empty):
        # a well-formed empty blob, not a concatenate ValueError
        z = np.empty(0, dtype=np.uint64)
        return encode_postings(z, z, z, z, z, z,
                               docid_codec=docid_codec)
    docs = np.concatenate([d["doc_ids"] for d in decoded])
    tfs = np.concatenate([d["tfs"] for d in decoded]).astype(np.int64)
    dls = np.concatenate([d["doclens"] for d in decoded])
    ranks = np.concatenate([d["ranks"] for d in decoded])
    pos = np.concatenate([d["positions"] for d in decoded])
    ctx = np.concatenate([d["ctxs"] for d in decoded])
    # absolute start of each doc's position span in the concatenated
    # pos/ctx streams
    starts = np.empty(len(docs), dtype=np.int64)
    off = 0
    i = 0
    for d in decoded:
        t = d["tfs"].astype(np.int64)
        n = len(t)
        if n:
            s = np.concatenate(([0], np.cumsum(t[:-1])))
            starts[i:i + n] = s + off
            off += int(t.sum())
            i += n
    order = np.argsort(docs, kind="stable")
    s_docs = docs[order]
    s_start = starts[order]
    s_tf = tfs[order]
    total = int(s_tf.sum())
    if total:
        ends = np.cumsum(s_tf)
        idx = (np.arange(total, dtype=np.int64)
               - np.repeat(ends - s_tf, s_tf)
               + np.repeat(s_start, s_tf))
        pos_out = pos[idx].astype(np.uint64)
        ctx_out = ctx[idx].astype(np.uint64)
    else:
        pos_out = np.empty(0, dtype=np.uint64)
        ctx_out = np.empty(0, dtype=np.uint64)

    dup = len(s_docs) > 1 and bool((s_docs[1:] == s_docs[:-1]).any())
    if not dup:
        return encode_postings(
            s_docs.astype(np.uint64), s_tf.astype(np.uint64),
            dls[order].astype(np.uint64), pos_out, ctx_out,
            ranks[order].astype(np.uint64), docid_codec=docid_codec)

    # combine duplicate docs: sum tf, keep first dl/rank (same doc ->
    # same attrs), re-sort the doc's positions ascending
    first = np.empty(len(s_docs), dtype=bool)
    first[0] = True
    first[1:] = s_docs[1:] != s_docs[:-1]
    dstarts = np.flatnonzero(first)
    u_docs = s_docs[dstarts]
    u_tf = np.add.reduceat(s_tf.astype(np.int64), dstarts)
    u_dl = dls[order][dstarts]
    u_rk = ranks[order][dstarts]
    doc_of_post = np.repeat(np.cumsum(first) - 1, s_tf.astype(np.int64))
    porder = np.lexsort((pos_out, doc_of_post))
    return encode_postings(
        u_docs.astype(np.uint64), u_tf.astype(np.uint64),
        u_dl.astype(np.uint64), pos_out[porder], ctx_out[porder],
        u_rk.astype(np.uint64), docid_codec=docid_codec)


def merge_runs_many(
    groups: list[list[bytes]],
    gens: list[list[int]] | None = None,
    edocs: np.ndarray | None = None,
    egens: np.ndarray | None = None,
    docid_codec: str = "varint",
) -> tuple[np.ndarray, list[bytes], np.ndarray, np.ndarray, np.ndarray]:
    """The one posting-merge kernel (RdbList.cpp:2154 posdbMerge_r with
    negative-key annihilation, RdbList.cpp:1945-2043): merges EVERY
    group of same-(term_id, salt) blobs with one shared sort and ONE
    bulk re-encode (``encode_postings_many``). The build's C2 merge,
    ``compact_index`` and ``merge_indexes`` all call it.

    ``gens[i][j]`` is the generation of ``groups[i][j]`` (None: one
    generation). ``edocs`` (sorted) / ``egens`` are the doc-event map
    (``build.compute_doc_events``): a posting of doc d at gen g is dead
    when d has an event whose keep_gen != g (-1 = tombstoned). Of each
    (group, doc) only the newest surviving gen is kept; rows of that gen
    combine — tf summed, first dl/rank kept, positions re-sorted
    ascending (a doc's body and incoming-link-text postings come from
    different map partitions; the reference keeps each docId's
    positions sorted, PosdbTable.cpp:2879). Per group the output is
    byte-identical to ``merge_disjoint_blobs`` of its live rows.

    Returns ``(kept, blobs, df, cf, max_tf)``: the indices of the groups
    with a surviving posting (all-dead or empty groups are dropped) and
    their merged blobs and stats, in group order."""
    e = np.empty(0, dtype=np.int64)
    cols = {k: [] for k in ("doc_ids", "tfs", "doclens", "ranks",
                            "positions", "ctxs")}
    grp_l, gen_l = [], []
    for gi, blobs in enumerate(groups):
        for j, b in enumerate(blobs):
            d = decode_postings(b)
            n = len(d["doc_ids"])
            if not n:
                continue
            for k, v in cols.items():
                v.append(d[k])
            grp_l.append(np.full(n, gi, dtype=np.int64))
            gen_l.append(np.full(n, 0 if gens is None else gens[gi][j],
                                 dtype=np.int64))
    if not grp_l:
        return e, [], e, e, e
    docs, tfs, dls, ranks, pos, ctx = (np.concatenate(v)
                                       for v in cols.values())
    tfs = tfs.astype(np.int64)
    grp = np.concatenate(grp_l)
    gen = np.concatenate(gen_l)
    starts = np.cumsum(tfs) - tfs   # each doc's span in pos/ctx
    rows = np.arange(len(docs), dtype=np.int64)
    if edocs is not None and len(edocs):
        ei = np.clip(np.searchsorted(edocs, docs), 0, len(edocs) - 1)
        rows = rows[(edocs[ei] != docs) | (egens[ei] == gen)]
        if not len(rows):
            return e, [], e, e, e
    # stable (group, doc[, gen]) order == per-group argsort(docs, stable)
    if gens is None:
        order = rows[np.lexsort((docs[rows], grp[rows]))]
    else:
        order = rows[np.lexsort((gen[rows], docs[rows], grp[rows]))]
        # newest surviving gen of each (group, doc): keep the rows whose
        # gen equals the gen of the (group, doc)'s last row
        s_grp, s_docs = grp[order], docs[order]
        last = np.ones(len(order), dtype=bool)
        last[:-1] = (s_docs[1:] != s_docs[:-1]) | (s_grp[1:] != s_grp[:-1])
        seg = np.cumsum(np.concatenate(([True], last[:-1]))) - 1
        order = order[gen[order] == gen[order[last]][seg]]
    s_grp = grp[order]
    s_docs = docs[order]
    s_tf = tfs[order]
    total = int(s_tf.sum())
    ends = np.cumsum(s_tf)
    idx = (np.arange(total, dtype=np.int64)
           - np.repeat(ends - s_tf, s_tf)
           + np.repeat(starts[order], s_tf))
    pos_out = pos[idx].astype(np.uint64)
    ctx_out = ctx[idx].astype(np.uint64)

    # combine a (group, doc)'s rows: sum tf, keep first dl/rank, re-sort
    # the merged doc's positions ascending (identity for single rows)
    first = np.empty(len(s_docs), dtype=bool)
    first[0] = True
    first[1:] = (s_docs[1:] != s_docs[:-1]) | (s_grp[1:] != s_grp[:-1])
    dstarts = np.flatnonzero(first)
    u_grp = s_grp[dstarts]
    u_tf = np.add.reduceat(s_tf, dstarts)
    if not first.all():
        doc_of_post = np.repeat(np.cumsum(first) - 1, s_tf)
        porder = np.lexsort((pos_out, doc_of_post))
        pos_out = pos_out[porder]
        ctx_out = ctx_out[porder]

    run_nd = np.bincount(u_grp, minlength=len(groups))
    kept = np.flatnonzero(run_nd)
    run_nd = run_nd[kept]
    gstarts = np.cumsum(run_nd) - run_nd
    blobs_out = encode_postings_many(
        run_nd, s_docs[dstarts].astype(np.uint64), u_tf.astype(np.uint64),
        dls[order][dstarts].astype(np.uint64),
        ranks[order][dstarts].astype(np.uint64),
        pos_out, ctx_out, docid_codec=docid_codec)
    return (kept, blobs_out, run_nd.astype(np.int64),
            np.add.reduceat(u_tf, gstarts).astype(np.int64),
            np.maximum.reduceat(u_tf, gstarts).astype(np.int64))
