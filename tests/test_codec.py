"""Posting-blob codec tests (reference analog: PosdbTest.cpp key packing,
RdbListTest.cpp merge/delete scenarios)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from open_source_search_engine_spark.functions.codec import (
    BLOCK,
    BlockMeta,
    decode_blocks,
    decode_headers,
    decode_postings,
    encode_postings,
    merge_runs_many,
)


def make_postings(rng, n_docs, max_tf=5):
    doc_ids = np.sort(rng.choice(1 << 38, size=n_docs, replace=False)).astype(np.uint64)
    tfs = rng.integers(1, max_tf + 1, size=n_docs).astype(np.uint64)
    doclens = rng.integers(1, 5000, size=n_docs).astype(np.uint64)
    ranks = rng.integers(0, 1024, size=n_docs).astype(np.uint64)
    pos = []
    for tf in tfs:
        p = np.sort(rng.choice(200_000, size=int(tf), replace=False))
        pos.append(p)
    positions = np.concatenate(pos).astype(np.uint64)
    ctxs = rng.integers(0, 1 << 19, size=int(tfs.sum())).astype(np.uint64)
    return doc_ids, tfs, doclens, positions, ctxs, ranks


@pytest.mark.parametrize("n_docs", [1, 7, BLOCK, BLOCK + 1, 1000])
def test_roundtrip(n_docs):
    rng = np.random.default_rng(42 + n_docs)
    arrs = make_postings(rng, n_docs)
    blob = encode_postings(*arrs)
    d = decode_postings(blob)
    np.testing.assert_array_equal(d["doc_ids"], arrs[0])
    np.testing.assert_array_equal(d["tfs"], arrs[1])
    np.testing.assert_array_equal(d["doclens"], arrs[2])
    np.testing.assert_array_equal(d["positions"], arrs[3])
    np.testing.assert_array_equal(d["ctxs"], arrs[4])
    np.testing.assert_array_equal(d["ranks"], arrs[5])


def test_headers_only_matches_full():
    rng = np.random.default_rng(7)
    arrs = make_postings(rng, 300)
    blob = encode_postings(*arrs)
    h = decode_headers(blob)
    f = decode_postings(blob)
    for k in ("doc_ids", "tfs", "doclens", "block_max_tf", "block_min_dl"):
        np.testing.assert_array_equal(h[k], f[k])


def test_block_max_metadata():
    rng = np.random.default_rng(3)
    arrs = make_postings(rng, 2 * BLOCK + 17)
    blob = encode_postings(*arrs)
    d = decode_headers(blob)
    tfs, dls = arrs[1], arrs[2]
    for bi in range(len(d["block_max_tf"])):
        lo, hi = bi * BLOCK, min((bi + 1) * BLOCK, len(tfs))
        assert d["block_max_tf"][bi] == tfs[lo:hi].max()
        assert d["block_min_dl"][bi] == dls[lo:hi].min()


def test_empty_blob():
    z = np.empty(0, dtype=np.uint64)
    blob = encode_postings(z, z, z, z, z, z)
    d = decode_postings(blob)
    assert len(d["doc_ids"]) == 0


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 50), st.integers(0, 2 ** 32))
def test_roundtrip_property(n_docs, seed):
    rng = np.random.default_rng(seed)
    arrs = make_postings(rng, n_docs)
    d = decode_postings(encode_postings(*arrs))
    np.testing.assert_array_equal(d["doc_ids"], arrs[0])
    np.testing.assert_array_equal(d["positions"], arrs[3])


def _blob(doc_ids, tf=1, dl=10, base_pos=5):
    doc_ids = np.array(sorted(doc_ids), dtype=np.uint64)
    n = len(doc_ids)
    tfs = np.full(n, tf, dtype=np.uint64)
    positions = np.concatenate(
        [np.arange(base_pos, base_pos + tf, dtype=np.uint64) for _ in range(n)])
    ctxs = np.zeros(n * tf, dtype=np.uint64)
    return encode_postings(doc_ids, tfs,
                           np.full(n, dl, dtype=np.uint64), positions,
                           ctxs, np.zeros(n, dtype=np.uint64))


def _merge_one(blobs, gens=None, events=None):
    """merge_runs_many over ONE group; ``events`` maps doc -> keep_gen.
    Returns the merged blob, or None when the group died."""
    edocs = egens = None
    if events:
        edocs = np.array(sorted(events), dtype=np.uint64)
        egens = np.array([events[d] for d in sorted(events)],
                         dtype=np.int64)
    kept, out, _, _, _ = merge_runs_many(
        [blobs], None if gens is None else [gens], edocs, egens)
    return out[0] if len(kept) else None


def test_merge_newest_wins():
    # RdbListTest MergeTestPosdbVerifyListOrder analog
    old = _blob([10, 20, 30], tf=1, dl=10)
    new = _blob([20], tf=3, dl=99)
    d = decode_postings(_merge_one([old, new], gens=[0, 1]))
    np.testing.assert_array_equal(d["doc_ids"], [10, 20, 30])
    assert d["tfs"][1] == 3  # doc 20 replaced by the newer version
    assert d["doclens"][1] == 99


def test_merge_delete_annihilates():
    # MergeTestPosdbVerifyRemoveNegRecords analog
    b = _blob([1, 2, 3, 4])
    d = decode_postings(_merge_one([b], gens=[0], events={2: -1, 4: -1}))
    np.testing.assert_array_equal(d["doc_ids"], [1, 3])


def test_merge_multiway_order():
    b1 = _blob([5, 50])
    b2 = _blob([10, 40])
    b3 = _blob([1, 100])
    d = decode_postings(_merge_one([b1, b2, b3]))
    np.testing.assert_array_equal(d["doc_ids"], [1, 5, 10, 40, 50, 100])


def test_merge_compaction_events():
    """Compaction cases of the doc-event map: a doc tombstoned and then
    re-indexed at a later gen survives (its newest version only); a run
    whose docs are all dead is dropped; a doc whose event names a gen
    absent from the run is dropped."""
    g0 = _blob([1, 2, 3], tf=1, dl=10)
    g2 = _blob([2], tf=2, dl=77)
    # doc 2: tombstoned at gen 1, re-added at gen 2 -> keep_gen 2
    d = decode_postings(_merge_one([g0, g2], gens=[0, 2],
                                   events={2: 2, 3: -1}))
    np.testing.assert_array_equal(d["doc_ids"], [1, 2])
    assert d["tfs"][1] == 2 and d["doclens"][1] == 77
    # every doc dead -> the run is dropped, not emitted empty
    assert _merge_one([g0], gens=[0],
                      events={1: -1, 2: -1, 3: -1}) is None
    # doc 3's newest version lives in a gen this run has no blob of
    d = decode_postings(_merge_one([g0, g2], gens=[0, 2], events={3: 5}))
    np.testing.assert_array_equal(d["doc_ids"], [1, 2])
    # only the dropped groups leave the output
    kept, blobs, df, _, _ = merge_runs_many(
        [[g0], [g2]], [[0], [2]], np.array([1, 2, 3], dtype=np.uint64),
        np.array([-1, 2, -1], dtype=np.int64))
    assert list(kept) == [1] and list(df) == [1] and blobs == [g2]


def test_compression_is_compact():
    # a full posting (docid+tf+dl+pos+ctx+rank) must beat the reference's
    # 12B same-term key (Posdb.h:44-48); dense docid deltas cost 1 byte
    doc_ids = np.arange(100_000, 101_000, dtype=np.uint64)
    n = len(doc_ids)
    blob = _blob_from(doc_ids)
    assert len(blob) < n * 12
    # sparse docids still bounded by ~full-width varints
    sparse = np.sort(np.random.default_rng(1).choice(
        1 << 38, size=n, replace=False)).astype(np.uint64)
    assert len(_blob_from(sparse)) < n * 18


def _blob_from(doc_ids):
    n = len(doc_ids)
    one = np.ones(n, dtype=np.uint64)
    return encode_postings(doc_ids, one, one * 10,
                           np.full(n, 7, dtype=np.uint64),
                           np.zeros(n, dtype=np.uint64),
                           np.zeros(n, dtype=np.uint64))


def test_block_meta_and_selective_decode():
    from open_source_search_engine_spark.functions.codec import (
        BlockMeta,
        decode_blocks,
    )

    rng = np.random.default_rng(9)
    arrs = make_postings(rng, 3 * BLOCK + 5)
    blob = encode_postings(*arrs)
    meta = BlockMeta(blob)
    assert meta.nblocks == 4
    np.testing.assert_array_equal(
        meta.block_base, arrs[0][::BLOCK])
    # decoding only block 2 yields exactly that slice
    d = decode_blocks(blob, [2], with_positions=True, meta=meta)
    lo, hi = 2 * BLOCK, 3 * BLOCK
    np.testing.assert_array_equal(d["doc_ids"], arrs[0][lo:hi])
    np.testing.assert_array_equal(d["tfs"], arrs[1][lo:hi])
    np.testing.assert_array_equal(d["doclens"], arrs[2][lo:hi])
    np.testing.assert_array_equal(d["ranks"], arrs[5][lo:hi])
    ps = int(arrs[1][:lo].sum())
    pe = ps + int(arrs[1][lo:hi].sum())
    np.testing.assert_array_equal(d["positions"], arrs[3][ps:pe])
    np.testing.assert_array_equal(d["ctxs"], arrs[4][ps:pe])
    assert d["blocks_decoded"] == 1


def test_blocks_for_candidates_seek():
    from open_source_search_engine_spark.functions.codec import (
        BlockMeta,
        blocks_for_candidates,
    )

    doc_ids = np.arange(0, 10 * BLOCK, dtype=np.uint64) * 10
    blob = _blob_from(doc_ids)
    meta = BlockMeta(blob)
    # candidates inside blocks 0 and 7 only
    cands = np.array([int(doc_ids[5]), int(doc_ids[7 * BLOCK + 3])],
                     dtype=np.uint64)
    sel = blocks_for_candidates(meta, cands)
    assert sel.tolist() == [0, 7]
    # candidates beyond every block base: only the open-ended last block
    # is selected (its end is unknown without decoding; the row-level
    # mask removes false positives afterwards)
    tail = blocks_for_candidates(
        meta, np.array([10 * BLOCK * 10 + 5], dtype=np.uint64))
    assert tail.tolist() == [meta.nblocks - 1]
    # candidates below every docId: nothing selected
    low = blocks_for_candidates(
        meta, np.array([], dtype=np.uint64))
    assert low.tolist() == []


def test_wand_prune_blocks_bound():
    from open_source_search_engine_spark.functions.codec import (
        BlockMeta,
        wand_prune_blocks,
    )

    # block 0: tf=1, dl=100 (weak); block 1: tf=50, dl=10 (strong)
    n = 2 * BLOCK
    doc_ids = np.arange(n, dtype=np.uint64)
    tfs = np.ones(n, dtype=np.uint64)
    tfs[BLOCK:] = 50
    dls = np.full(n, 100, dtype=np.uint64)
    dls[BLOCK:] = 10
    positions = np.repeat(np.uint64(7), int(tfs.sum()))
    # positions must ascend within doc: doc tf>1 -> make them increase
    pos = []
    for tf in tfs:
        pos.extend(range(5, 5 + int(tf)))
    positions = np.array(pos, dtype=np.uint64)
    ctxs = np.zeros(int(tfs.sum()), dtype=np.uint64)
    blob = encode_postings(doc_ids, tfs, dls, positions, ctxs,
                           np.zeros(n, dtype=np.uint64))
    meta = BlockMeta(blob)
    idf, k1, b, avgdl = 1.0, 1.2, 0.75, 50.0
    tfv, dlv = 50.0, 10.0
    strong_ub = idf * (tfv * 2.2) / (tfv + k1 * (1 - b + b * dlv / avgdl))
    sel = wand_prune_blocks(meta, idf, k1, b, avgdl,
                            threshold=strong_ub - 1e-9)
    assert sel.tolist() == [1]  # weak block pruned
    sel_all = wand_prune_blocks(meta, idf, k1, b, avgdl, threshold=0.0)
    assert sel_all.tolist() == [0, 1]


def test_encode_postings_many_byte_identical():
    """Bulk encoder must produce byte-identical blobs to the per-run
    reference encoder — including MULTI-BLOCK runs (> BLOCK docs),
    which since round 3 also route through the bulk path (the per-run
    encode_postings calls were the segment stage's hottest path)."""
    import numpy as np

    from open_source_search_engine_spark.functions.codec import (
        encode_postings,
        encode_postings_many,
    )

    rng = np.random.RandomState(7)
    runs = []
    # single-block shapes, exact block boundaries (128, 256), one-over
    # (129), and large multi-block (500)
    for nd in (1, 1, 2, 5, 128, 1, 37, 129, 256, 500, 128, 3):
        docs = np.sort(np.unique(
            rng.randint(0, 1 << 38, size=nd * 3).astype(np.uint64)))[:nd]
        nd = len(docs)
        tfs = rng.randint(1, 5, size=nd).astype(np.uint64)
        dls = rng.randint(1, 5000, size=nd).astype(np.uint64)
        rks = rng.randint(0, 1024, size=nd).astype(np.uint64)
        npos = int(tfs.sum())
        pos = np.concatenate([
            np.sort(rng.randint(0, 1 << 18, size=int(t))) for t in tfs
        ]).astype(np.uint64)
        ctx = rng.randint(0, 1 << 19, size=npos).astype(np.uint64)
        runs.append((docs, tfs, dls, rks, pos, ctx))

    want = [encode_postings(d, t, dl, p, c, r)
            for d, t, dl, r, p, c in runs]
    got = encode_postings_many(
        np.array([len(r[0]) for r in runs], dtype=np.int64),
        np.concatenate([r[0] for r in runs]),
        np.concatenate([r[1] for r in runs]),
        np.concatenate([r[2] for r in runs]),
        np.concatenate([r[3] for r in runs]),
        np.concatenate([r[4] for r in runs]),
        np.concatenate([r[5] for r in runs]),
    )
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w


@given(st.integers(1, 400), st.integers(0, 2 ** 32))
@settings(max_examples=30, deadline=None)
def test_v3_block_bounds_property(n_docs, seed):
    """codec v3 per-block summaries must match a brute-force recompute:
    bctx packs the block's hashgroup mask + max den/div/spam ranks,
    bmin_pos/bmax_pos the block's position-value range."""
    from open_source_search_engine_spark.functions.codec import (
        BLOCK,
        BlockMeta,
        pack_block_ctx,
        unpack_block_ctx,
    )

    rng = np.random.default_rng(seed)
    arrs = make_postings(rng, n_docs)
    doc_ids, tfs, dls, poss, ctxs, ranks = arrs
    meta = BlockMeta(encode_postings(*arrs))
    pos_cum = np.concatenate(([0], np.cumsum(tfs)))
    for bi in range(meta.nblocks):
        s, e = bi * BLOCK, min((bi + 1) * BLOCK, n_docs)
        ps, pe = int(pos_cum[s]), int(pos_cum[e])
        if pe == ps:
            continue
        assert int(meta.bctx[bi]) == pack_block_ctx(ctxs[ps:pe])
        assert int(meta.bmin_pos[bi]) == int(poss[ps:pe].min())
        assert int(meta.bmax_pos[bi]) == int(poss[ps:pe].max())
        mask, mden, mdiv, mspam = unpack_block_ctx(
            meta.bctx[bi:bi + 1])
        c = ctxs[ps:pe].astype(np.uint32)
        assert int(mden[0]) == int(((c >> 10) & 0x1F).max())
        assert int(mdiv[0]) == int(((c >> 6) & 0xF).max())
        assert int(mspam[0]) == int(((c >> 2) & 0xF).max())


@given(st.integers(1, 16), st.integers(1, 48), st.integers(0, 2 ** 32),
       st.booleans())
@settings(max_examples=40, deadline=None)
def test_png_codec_property(h, w, seed, gray):
    """Stdlib PNG codec round-trips arbitrary rasters bit-exactly
    through every filter the encoder emits (row % 5 covers all five)."""
    from open_source_search_engine_spark.ops.multimodal import (
        png_decode,
        png_encode,
    )

    rng = np.random.default_rng(seed)
    shape = (h, w) if gray else (h, w, 3)
    px = rng.integers(0, 256, size=shape, dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(px)), px)


def test_merge_disjoint_blobs_many_byte_identical():
    """The batched merge kernel must produce byte-identical blobs and
    identical stats to per-group merge_disjoint_blobs — including
    groups with duplicate docs across sources (body vs inlink-text
    partitions) and multi-block results — whether it is called as the
    build calls it (one generation) or as compaction does (gens and an
    event map that kills nothing)."""
    import numpy as np

    from open_source_search_engine_spark.functions.codec import (
        BlockMeta,
        encode_postings,
        merge_disjoint_blobs,
    )

    rng = np.random.RandomState(11)

    def mk(doc_lo, nd, dup_doc=None):
        docs = np.sort(rng.choice(
            np.arange(doc_lo, doc_lo + nd * 4), size=nd,
            replace=False).astype(np.uint64))
        if dup_doc is not None:
            docs[0] = dup_doc
            docs = np.sort(docs)
        tfs = rng.randint(1, 4, size=nd).astype(np.uint64)
        dls = rng.randint(10, 900, size=nd).astype(np.uint64)
        rks = rng.randint(0, 512, size=nd).astype(np.uint64)
        pos = np.concatenate([
            np.sort(rng.randint(0, 1 << 16, size=int(t)))
            for t in tfs]).astype(np.uint64)
        ctx = rng.randint(0, 1 << 19, size=int(tfs.sum())).astype(
            np.uint64)
        return encode_postings(docs, tfs, dls, pos, ctx, rks)

    groups = [
        [mk(0, 5), mk(1000, 7)],                       # disjoint, tiny
        [mk(0, 200), mk(2000, 180), mk(5000, 150)],    # multi-block out
        [mk(0, 3, dup_doc=77), mk(500, 4, dup_doc=77)],  # dup doc
        [mk(0, 1), mk(10, 1), mk(20, 1)],
    ]
    want = [merge_disjoint_blobs(g) for g in groups]
    no_event = (np.array([1 << 40], dtype=np.uint64),
                np.array([-1], dtype=np.int64))
    for got_all in (merge_runs_many(groups),
                    merge_runs_many(groups, [[3] * len(g) for g in groups],
                                    *no_event)):
        kept, got, df, cf, mx = got_all
        assert list(kept) == list(range(len(groups)))
        assert got == want
        for i, b in enumerate(want):
            m = BlockMeta(b)
            assert df[i] == m.n_docs
            assert cf[i] == int(m.npos.sum())
            assert mx[i] == int(m.bmax_tf.max())


def test_merge_disjoint_blobs_many_all_empty_groups():
    """Every blob in every group empty: the merge kernel drops every
    group instead of raising from an empty concatenate (ADVICE r3 —
    public codec API, even though mini rows never hit it)."""
    import numpy as np

    from open_source_search_engine_spark.functions.codec import (
        encode_postings,
    )

    e = np.empty(0, dtype=np.uint64)
    empty_blob = encode_postings(e, e, e, e, e, e)
    groups = [[empty_blob], [empty_blob, empty_blob]]
    kept, blobs, df, cf, mx = merge_runs_many(groups)
    assert len(kept) == 0 and blobs == []
    assert len(df) == len(cf) == len(mx) == 0


def test_merge_disjoint_blobs_many_one_empty_group():
    """A mixed batch where ONE group decodes empty: the kernel drops
    it, and the non-empty group matches merge_disjoint_blobs."""
    import numpy as np

    from open_source_search_engine_spark.functions.codec import (
        encode_postings,
        merge_disjoint_blobs,
    )

    e = np.empty(0, dtype=np.uint64)
    empty_blob = encode_postings(e, e, e, e, e, e)
    docs = np.array([3, 9], dtype=np.uint64)
    tfs = np.array([1, 2], dtype=np.uint64)
    dls = np.array([10, 20], dtype=np.uint64)
    pos = np.array([4, 1, 7], dtype=np.uint64)
    ctx = np.array([0, 0, 0], dtype=np.uint64)
    rks = np.array([5, 6], dtype=np.uint64)
    full = encode_postings(docs, tfs, dls, pos, ctx, rks)
    groups = [[empty_blob], [full]]
    kept, blobs, df, cf, mx = merge_runs_many(groups)
    assert list(kept) == [1]
    assert blobs == [merge_disjoint_blobs([full])]
    assert list(df) == [2]
    assert list(cf) == [3]
    assert list(mx) == [2]


def test_pfor_docid_codec_parity():
    """v4 (FOR-bitpacked docs stream) decodes identically to v3 varint
    for full, selective, header-only, and merge paths; per-blob opt-in
    via encode_postings(docid_codec='pfor')."""
    rng = np.random.RandomState(11)
    nd = 300
    docs = np.cumsum(rng.randint(1, 5000, nd)).astype(np.uint64)
    tfs = rng.randint(1, 4, nd).astype(np.uint64)
    dls = rng.randint(10, 400, nd).astype(np.uint64)
    rks = rng.randint(0, 16, nd).astype(np.uint64)
    pos = np.concatenate([
        np.sort(rng.randint(0, 3000, int(t))).astype(np.uint64)
        for t in tfs])
    ctx = rng.randint(0, 1 << 19, int(tfs.sum())).astype(np.uint64)

    b3 = encode_postings(docs, tfs, dls, pos, ctx, rks)
    b4 = encode_postings(docs, tfs, dls, pos, ctx, rks,
                         docid_codec="pfor")
    from open_source_search_engine_spark.functions.codec import (
        FRONTIER_FLAG,
    )

    assert b4[0] == (4 | FRONTIER_FLAG) and b3[0] == (3 | FRONTIER_FLAG)
    # v2 (pre-bctx meta) is no longer read: it fails with the gap named
    for v2 in (bytes([2]) + b3[1:], bytes([2 | FRONTIER_FLAG]) + b3[1:]):
        with pytest.raises(ValueError, match="bad codec version"):
            BlockMeta(v2)
    d3 = decode_blocks(b3, with_positions=True)
    d4 = decode_blocks(b4, with_positions=True)
    for k in ("doc_ids", "tfs", "doclens", "ranks", "positions",
              "ctxs", "block_max_tf", "block_min_dl"):
        assert np.array_equal(d3[k], d4[k]), k

    m = BlockMeta(b4)
    assert m.nblocks == 3
    s3 = decode_blocks(b3, block_idx=[1], with_positions=True)
    s4 = decode_blocks(b4, block_idx=[1], with_positions=True)
    assert np.array_equal(s3["doc_ids"], s4["doc_ids"])
    assert np.array_equal(s3["positions"], s4["positions"])

    # mixed-version merge: a v4 mini-segment merges with v3 ones and
    # the result (default v3) matches an all-v3 merge byte-for-byte
    half = nd // 2
    cut = int(tfs[:half].sum())
    a3 = encode_postings(docs[:half], tfs[:half], dls[:half],
                         pos[:cut], ctx[:cut], rks[:half])
    a4 = encode_postings(docs[:half], tfs[:half], dls[:half],
                         pos[:cut], ctx[:cut], rks[:half],
                         docid_codec="pfor")
    b_rest3 = encode_postings(docs[half:], tfs[half:], dls[half:],
                              pos[cut:], ctx[cut:], rks[half:])
    from open_source_search_engine_spark.functions.codec import (
        merge_disjoint_blobs,
    )
    assert (merge_disjoint_blobs([a4, b_rest3])
            == merge_disjoint_blobs([a3, b_rest3]))


def test_pfor_all_codec_parity():
    """v5 (docs + tf/dl/rank + positions all FOR-bitpacked) decodes
    identically to v3 varint for full, selective, header-only, and
    ctx-only paths; opt-in via encode_postings(docid_codec='pfor_all')."""
    rng = np.random.default_rng(13)
    doc_ids, tfs, doclens, pos, ctx, ranks = make_postings(rng, 700)

    b3 = encode_postings(doc_ids, tfs, doclens, pos, ctx, ranks)
    b5 = encode_postings(doc_ids, tfs, doclens, pos, ctx, ranks,
                         docid_codec="pfor_all")
    from open_source_search_engine_spark.functions.codec import (
        FRONTIER_FLAG,
    )

    assert b5[0] == (5 | FRONTIER_FLAG) and b3[0] == (3 | FRONTIER_FLAG)
    assert len(b5) < len(b3)  # the whole point
    d3 = decode_blocks(b3, with_positions=True)
    d5 = decode_blocks(b5, with_positions=True)
    for k in ("doc_ids", "tfs", "doclens", "ranks", "positions",
              "ctxs", "block_max_tf", "block_min_dl"):
        assert np.array_equal(d3[k], d5[k]), k

    h3 = decode_headers(b3)
    h5 = decode_headers(b5)
    for k in ("doc_ids", "tfs", "doclens", "ranks"):
        assert np.array_equal(h3[k], h5[k]), k

    m = BlockMeta(b5)
    assert m.version == 5 and m.nblocks == 6
    s3 = decode_blocks(b3, block_idx=[0, 3, 5], with_positions=True)
    s5 = decode_blocks(b5, block_idx=[0, 3, 5], with_positions=True)
    for k in ("doc_ids", "tfs", "doclens", "ranks", "positions", "ctxs"):
        assert np.array_equal(s3[k], s5[k]), k

    c3 = decode_blocks(b3, None, True, ctx_only=True)
    c5 = decode_blocks(b5, None, True, ctx_only=True)
    assert np.array_equal(c3["ctxs"], c5["ctxs"])
    assert not c5["positions"].any()


def test_pfor_all_mixed_version_merge():
    """v3 + v4 + v5 mini-segments merge transparently, and the merged
    blob re-encodes in whichever codec the conf asks for."""
    from open_source_search_engine_spark.functions.codec import (
        merge_disjoint_blobs,
    )

    rng = np.random.default_rng(5)
    thirds = [make_postings(rng, 90) for _ in range(3)]
    # disjoint ascending docid ranges
    offs = [0, 1 << 39, 1 << 40]
    blobs, codecs = [], ("varint", "pfor", "pfor_all")
    for (d, t, dl, p, c, r), off, codec in zip(thirds, offs, codecs):
        blobs.append(encode_postings((d + off).astype(np.uint64),
                                     t, dl, p, c, r, docid_codec=codec))
    from open_source_search_engine_spark.functions.codec import (
        FRONTIER_FLAG,
    )

    for out_codec, ver in (("varint", 3), ("pfor_all", 5)):
        m1 = merge_disjoint_blobs(blobs, docid_codec=out_codec)
        _, (m2,), _, _, _ = merge_runs_many(
            [blobs], docid_codec=out_codec)
        assert m1 == m2 and m1[0] == (ver | FRONTIER_FLAG)
        d = decode_postings(m1)
        assert len(d["doc_ids"]) == 270
        assert np.array_equal(
            d["positions"],
            np.concatenate([th[3] for th in thirds]))


def test_pfor_all_bulk_encode_byte_parity():
    """encode_postings_many(docid_codec='pfor_all') is byte-identical
    per run to the per-blob encoder, across run lengths spanning the
    block boundary."""
    from open_source_search_engine_spark.functions.codec import (
        encode_postings_many,
    )

    rng = np.random.default_rng(29)
    runs = [make_postings(rng, n) for n in (1, 2, 127, 128, 129, 513)]
    run_nd = np.array([len(r[0]) for r in runs], dtype=np.int64)
    blobs = encode_postings_many(
        run_nd,
        np.concatenate([r[0] for r in runs]),
        np.concatenate([r[1] for r in runs]),
        np.concatenate([r[2] for r in runs]),
        np.concatenate([r[5] for r in runs]),
        np.concatenate([r[3] for r in runs]),
        np.concatenate([r[4] for r in runs]),
        docid_codec="pfor_all")
    for blob, (d, t, dl, p, c, r) in zip(blobs, runs):
        assert blob == encode_postings(d, t, dl, p, c, r,
                                       docid_codec="pfor_all")


def test_merge_empty_blob_lists():
    """ADVICE r4: merging no blobs (or only empty blobs) does not raise
    a numpy concatenate ValueError: the per-group reference returns a
    well-formed empty blob, the merge kernel drops the group."""
    from open_source_search_engine_spark.functions.codec import (
        decode_postings,
        encode_postings,
        merge_disjoint_blobs,
    )

    z = np.empty(0, dtype=np.uint64)
    empty_blob = encode_postings(z, z, z, z, z, z)

    for blobs in ([], [empty_blob], [empty_blob, empty_blob]):
        out = merge_disjoint_blobs(blobs)
        assert len(decode_postings(out)["doc_ids"]) == 0

    kept, blobs, df, cf, mtf = merge_runs_many([[], [empty_blob]])
    assert len(kept) == 0 and blobs == [] and len(df) == 0

    # mixed: one real group + one all-empty group still round-trips
    rng = np.random.default_rng(7)
    d, t, dl, p, c, r = make_postings(rng, 5)
    real = encode_postings(d, t, dl, p, c, r)
    kept, blobs, df, cf, mtf = merge_runs_many([[real], []])
    assert list(kept) == [0] and list(df) == [5]
    assert np.array_equal(decode_postings(blobs[0])["doc_ids"], d)
