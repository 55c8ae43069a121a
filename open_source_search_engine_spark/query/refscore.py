"""Reference-scorer mode: the Gigablast position/context ranking formula
(SURVEY.md §4.6) reproduced operation-for-operation so our engine returns
rank-identical results when configured identically.

Algorithm per candidate doc (PosdbTable.cpp intersectLists_real scoring
block, :4140-4280):

  1. non-body pair score matrix       createNonBodyTermPairScoreMatrix :3162
     per pair (i,j): co-advancing scan over the two full lists scoring
     only s_isCompatible (both non-body) postings; matrix = wiki_wts ·
     max · tfw_i · tfw_j                getMaxScoreForNonBodyTermPair :467
  2. min single-term score            getMinSingleTermScoreSum :3245
     per term: per-posting ctx score 100·divW²·hgW²·denW²·spamW²[·synW²],
     top-MAX_TOP one-per-modified-hashgroup (INLINKTEXT exempt), wiki
     half-stop bigram entries ×1.4², sum × tfw²
                                       getBestScoreSumForSingleTerm :210
     also records the highest-scoring NON-body position per term
  3. sliding window over body positions
                                       getMinTermPairScoreSlidingWindow :3514
     window = current body position per term; per pair max of
     {in-window pair, sub-outs vs the best non-body position at
     FIXED_DISTANCE} · wiki · tfw_i·tfw_j, clamped up by the matrix,
     quoted-phrase constrained; window score = min over pairs; the
     best (strictly greater) window's positions are recorded
                                       findMinTermPairScoreInWindow :3332
  4. final pair score ("Zak"): per pair, co-advancing scan over the full
     lists with body positions restricted to the winning window,
     FIXED_DISTANCE for cross-hashgroup/ inlink pairs, out-of-order
     penalty, top-MAX_TOP one-per-mhg-pair slots, × wiki · tfw_i·tfw_j
                                       getTermPairScoreForAny :799
  5. minScore = min(min pair, min single); skip if <= 0; score =
     minScore · (adjustedSiteRank·0.33333333 + 1) where adjustedSiteRank
     adds (highestInlinkerSiteRank - siteRank)/3 when an inlinker
     outranks the site                 :4199-4245, PosdbTable.h:16

Weight tables (ScoringWeights.cpp:1-53): density/diversity are
scale_quadratic(((r+1)²-1)/3, ScalingFunctions.cpp:29-40) over the conf
min→max range; word-spam is scale_linear bottoming at 1/MAXWORDSPAMRANK;
INLINKTEXT postings read the LINKER's siteRank from the word-spam field
and weigh sqrt(1+rank) (m_linkerWeights). Hash-group weights are the
Parms.cpp:4067-4167 defaults. All kernels run in float32 matching the
reference's float op order (scores differ only where C float and IEEE
numpy float32 differ: nowhere).

Scope notes (updated round 3): synonym variant sublists now merge into
one per-group position list before scoring, with forced syn flags and
the primary term's tfw (mergeTermSubListsForDocId analog — see
executor._reference_exact). Build-side positions of non-body hash
groups continue the document word stream via the shared m_dist cursor
(index/build.py parse_doc; XmlDoc_Indexing.cpp:2247 `m_dist =
wposvec[i-1] + 100`). The one remaining position-space deviation:
incoming-link-text / neighborhood postings are built from the LINKERS'
parse rows and keep their own space — FIXED_DISTANCE absorbs it.
"""

from __future__ import annotations

import math

import numpy as np

from ..config import DEFAULT_CONF, EngineConf
from ..functions.posdb import (
    HASHGROUP_BODY,
    HASHGROUP_HEADING,
    HASHGROUP_INLINKTEXT,
    HASHGROUP_INLIST,
    HASHGROUP_INMENU,
    MAXDENSITYRANK,
    MAXDIVERSITYRANK,
    MAXWORDSPAMRANK,
)

MAX_TOP = 10                     # m_realMaxTop default
FIXED_DISTANCE = 400             # PosdbTable.h:258
WIKI_WEIGHT = np.float32(0.10)   # PosdbTable.h:14
WIKI_BIGRAM_WEIGHT = np.float32(1.40)  # PosdbTable.h:21
SITERANK_MULTIPLIER = np.float32(0.33333333)  # PosdbTable.h:16

_IN_BODY = np.zeros(16, dtype=bool)  # s_inBody (PosdbTable.cpp:6035-6041)
for _hg in (HASHGROUP_BODY, HASHGROUP_HEADING, HASHGROUP_INLIST,
            HASHGROUP_INMENU):
    _IN_BODY[_hg] = True

F32 = np.float32


def scale_linear(x, min_x, max_x, min_y, max_y):
    """ScalingFunctions.cpp:4-14."""
    x = min(max(x, min_x), max_x)
    if max_x == min_x:
        return min_y
    r = (x - min_x) / (max_x - min_x)
    return min_y + r * (max_y - min_y)


def scale_quadratic(x, min_x, max_x, min_y, max_y):
    """ScalingFunctions.cpp:29-40 — NOT r²: ((r+1)²-1)/3."""
    x = min(max(x, min_x), max_x)
    if max_x == min_x:
        return min_y
    r = (x - min_x) / (max_x - min_x)
    return ((r + 1.0) * (r + 1.0) - 1.0) / 3.0 * (max_y - min_y) + min_y


def term_freq_weight(df: float, n_docs: float,
                     conf: EngineConf = DEFAULT_CONF) -> float:
    """m_termFreqWeight = scale_linear(termFreq/numDocs, ...)
    (Msg3a.cpp:1003-1008 analog; Posdb.cpp getTermFreqWeight)."""
    x = df / max(n_docs, 1.0)
    return float(F32(scale_linear(x, conf.termfreq_min, conf.termfreq_max,
                                  conf.termfreq_weight_min,
                                  conf.termfreq_weight_max)))


class ScoringWeights:
    """Precomputed rank->weight float32 tables (ScoringWeights.cpp)."""

    def __init__(self, conf: EngineConf = DEFAULT_CONF):
        self.conf = conf
        self.diversity = np.array(
            [scale_quadratic(i, 0, MAXDIVERSITYRANK,
                             conf.diversity_weight_min,
                             conf.diversity_weight_max)
             for i in range(MAXDIVERSITYRANK + 1)], dtype=np.float32)
        self.density = np.array(
            [scale_quadratic(i, 0, MAXDENSITYRANK,
                             conf.density_weight_min,
                             conf.density_weight_max)
             for i in range(MAXDENSITYRANK + 1)], dtype=np.float32)
        # "make sure if word spam is 0 that the weight is not 0"
        self.wordspam = np.array(
            [scale_linear(i, 0, MAXWORDSPAMRANK, 1.0 / MAXWORDSPAMRANK, 1.0)
             for i in range(MAXWORDSPAMRANK + 1)], dtype=np.float32)
        # siterank of the inlinker, stored in the spam field of
        # INLINKTEXT postings (ScoringWeights.cpp:35-37)
        self.linker = np.array(
            [math.sqrt(1.0 + i) for i in range(MAXWORDSPAMRANK + 1)],
            dtype=np.float32)
        self.hashgroup = np.asarray(conf.hashgroup_weights, dtype=np.float32)
        self.syn = np.float32(conf.syn_weight)
        # language boost (PosdbTable.cpp:4254-4275; 0 = off)
        self.query_lang = int(conf.query_lang)
        self.same_lang_w = np.float32(conf.same_lang_weight)
        self.unknown_lang_w = np.float32(conf.unknown_lang_weight)
        # page temperature (PosdbTable.cpp:4268-4277; off unless the
        # registry multiplier is enabled)
        self.use_page_temp = bool(conf.use_page_temperature)


class TermList:
    """One query term group's postings within one doc, decoded to parallel
    arrays (the mini-merged list analog, positions ascending)."""

    __slots__ = ("pos", "hg", "den", "div", "spam", "syn", "denw", "hgw",
                 "spamw", "synm", "wikib", "mhg", "inbody", "s_single")

    def __init__(self, pos: np.ndarray, ctx: np.ndarray, w: ScoringWeights,
                 half_stop_wiki_bigram: bool = False):
        ctx = ctx.astype(np.int64)
        pre = precompute_postings(pos.astype(np.int64), ctx, w)
        sl = slice(0, len(pos))
        _fill_termlist(self, pre, sl, half_stop_wiki_bigram)

    def __len__(self):
        return len(self.pos)


def precompute_postings(pos_all: np.ndarray, ctx_all: np.ndarray,
                        w: ScoringWeights) -> dict:
    """Batch-global unpack + weight lookup + per-posting single score for
    MANY (term, doc) rows at once — the per-doc TermList construction
    then just slices these arrays (numpy-call overhead amortizes across
    the whole pandas batch instead of 15+ calls per doc)."""
    hg = (ctx_all >> 15) & 0xF
    den = (ctx_all >> 10) & 0x1F
    div = (ctx_all >> 6) & 0xF
    spam = (ctx_all >> 2) & 0xF
    syn = ctx_all & 0x3
    hgc = np.clip(hg, 0, len(w.hashgroup) - 1)
    hgw = w.hashgroup[hgc]
    denw = w.density[den]
    spamw = np.where(hg == HASHGROUP_INLINKTEXT, w.linker[spam],
                     w.wordspam[spam]).astype(np.float32)
    synm = np.where(syn != 0, w.syn, np.float32(1.0)).astype(np.float32)
    inbody = _IN_BODY[np.clip(hg, 0, 15)]
    mhg = np.where(inbody, HASHGROUP_BODY, hg)
    # per-posting single-term ctx score, float32 op order of
    # getBestScoreSumForSingleTerm (:233-268)
    s = np.full(len(pos_all), 100.0, dtype=np.float32)
    divw = w.diversity[div]
    s *= divw
    s *= divw
    s *= hgw
    s *= hgw
    s *= denw
    s *= denw
    s *= spamw
    s *= spamw
    s = np.where(syn != 0, s * w.syn * w.syn, s).astype(np.float32)
    return {"pos": pos_all, "hg": hg, "den": den, "div": div, "spam": spam,
            "syn": syn, "hgw": hgw, "denw": denw, "spamw": spamw,
            "synm": synm, "inbody": inbody, "mhg": mhg, "s_single": s}


def slot_bound_rows(pre: dict, row_of_post: np.ndarray,
                    n_rows: int, scores: np.ndarray | None = None
                    ) -> np.ndarray:
    """Sound per-row upper bound on the row's exact single-term ctx sum
    (``single_term_score`` before the tfw² scaling), vectorized over
    MANY (term, doc) rows at once: INLINKTEXT postings each occupy
    their own slot (so they sum), non-link postings contribute at most
    their max per distinct modified hashgroup. Summing ALL slot maxima
    dominates the exact path's MAX_TOP-capped, creation-ordered F32 sum
    for every eviction order, so this bounds it from above (up to f32
    vs f64 rounding — callers keep the ×1.001 margin). Replaces the
    old sum-of-every-posting bound, which was ~tf× looser on stopword
    docs (a tf-50 body term bounded at 50× its real slot max).

    ``scores`` overrides the per-posting score array (default
    ``s_single``) — the pair bound reuses the same slot structure over
    the pair-formula factor g = den·hg·spam·syn."""
    s64 = (pre["s_single"] if scores is None else scores).astype(
        np.float64)
    hg = pre["hg"]
    is_link = hg == HASHGROUP_INLINKTEXT
    out = np.zeros(n_rows, dtype=np.float64)
    if is_link.any():
        out += np.bincount(row_of_post[is_link], weights=s64[is_link],
                           minlength=n_rows)
    nl = ~is_link
    if nl.any():
        # mhg folds in-body hashgroups to BODY and is < 16 (Posdb.h
        # MAXHASHGROUP), so (row, mhg) packs into one sortable key
        key = row_of_post[nl] * 16 + pre["mhg"][nl]
        order = np.argsort(key, kind="stable")
        ks = key[order]
        vs = s64[nl][order]
        starts = np.flatnonzero(
            np.concatenate(([True], ks[1:] != ks[:-1])))
        gmax = np.maximum.reduceat(vs, starts)
        out += np.bincount((ks[starts] // 16).astype(np.int64),
                           weights=gmax, minlength=n_rows)
    return out


def exact_single_rows(pre: dict, row_of_post: np.ndarray, n_rows: int
                      ) -> tuple[np.ndarray, np.ndarray]:
    """EXACT ``single_term_score`` ctx sums (before the tfw² scaling),
    vectorized over many (term, doc) rows at once — byte-identical to
    the sequential path for rows with no INLINKTEXT postings and at
    most MAX_TOP distinct modified hashgroups (the overwhelming case).

    Returns ``(sums_f32, ok_mask)``: rows with ``ok`` False carry
    INLINKTEXT slots or overflow MAX_TOP and must take the sequential
    ``single_term_score`` path (its eviction order is stateful).

    Exactness argument: per slot (distinct mhg) the kept score is the
    strict-first max — equal-valued ties pick the same float either
    way, so a grouped max matches. Slots sum in creation order (first
    occurrence of the mhg in posting order, which is position order —
    the ctx stream stores positions ascending), each add rounded to
    float32: the loop below adds slot-rank p of EVERY row in one
    vectorized f32 add per rank, preserving the engine's sequential
    f32 op order per row (getBestScoreSumForSingleTerm
    PosdbTable.cpp:233-268)."""
    s = pre["s_single"]
    is_link = pre["hg"] == HASHGROUP_INLINKTEXT
    link_rows = np.zeros(n_rows, dtype=bool)
    if is_link.any():
        link_rows[row_of_post[is_link]] = True
    key = row_of_post * 16 + pre["mhg"]
    order = np.argsort(key, kind="stable")
    ks = key[order]
    starts = np.flatnonzero(np.concatenate(([True], ks[1:] != ks[:-1])))
    gmax = np.maximum.reduceat(s[order], starts)
    slot_row = (ks[starts] // 16).astype(np.int64)
    first_ix = order[starts]  # stable sort: earliest posting per slot
    nslots = np.bincount(slot_row, minlength=n_rows)
    ok = (~link_rows) & (nslots <= MAX_TOP)
    o2 = np.lexsort((first_ix, slot_row))
    rows2 = slot_row[o2]
    vals = gmax[o2].astype(np.float32, copy=False)
    # slot rank within its row (creation order)
    row_breaks = np.concatenate(([True], rows2[1:] != rows2[:-1]))
    run_starts = np.flatnonzero(row_breaks)
    rank_in_row = np.arange(len(rows2)) - np.repeat(
        run_starts, np.diff(np.append(run_starts, len(rows2))))
    tot = np.zeros(n_rows, dtype=np.float32)
    max_rank = int(rank_in_row.max()) if len(rank_in_row) else -1
    for p in range(max_rank + 1):
        m = rank_in_row == p
        r = rows2[m]
        tot[r] = tot[r] + vals[m]  # f32 + f32 -> one rounded f32 add
    return tot, ok


def pair_factor_rows(pre: dict, row_of_post: np.ndarray, n_rows: int
                     ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-row factors for a sound PAIR-score upper bound. Every pair
    state scores 100·g_i·g_j/(dist+1) with g = den·hg·spam·syn — NO
    diversity, unsquared — and divisor >= 1 (getTermPairScoreForAny /
    getScoreForTermPair). The pair total is a slot sum whose
    brotherhood rule collapses non-link states on m1 OR m2 match, so
    with NO INLINKTEXT postings on either side the slots carry
    all-distinct m1 AND all-distinct m2 and
        total_ij <= 100·min(S_i·G_j, S_j·G_i);
    with link postings present, link states never collapse on their
    own side and the sound bound is the full decomposition
        total_ij <= 100·(S_i·G_j + S_j·G_i + L_i·L_j).
    Returns (S_rows, G_rows, L_rows):
      S = slot-structured sum of g over NON-link postings
          (distinct-mhg maxima),
      G = plain max of g over ALL postings,
      L = sum of g over INLINKTEXT postings (0 for most docs)."""
    g = (pre["denw"].astype(np.float64)
         * pre["hgw"].astype(np.float64)
         * pre["spamw"].astype(np.float64)
         * pre["synm"].astype(np.float64))
    hg = pre["hg"]
    is_link = hg == HASHGROUP_INLINKTEXT
    s_rows = np.zeros(n_rows, dtype=np.float64)
    nl = ~is_link
    if nl.any():
        key = row_of_post[nl] * 16 + pre["mhg"][nl]
        order = np.argsort(key, kind="stable")
        ks = key[order]
        vs = g[nl][order]
        starts = np.flatnonzero(
            np.concatenate(([True], ks[1:] != ks[:-1])))
        gmax = np.maximum.reduceat(vs, starts)
        s_rows += np.bincount((ks[starts] // 16).astype(np.int64),
                              weights=gmax, minlength=n_rows)
    l_rows = np.zeros(n_rows, dtype=np.float64)
    if is_link.any():
        l_rows += np.bincount(row_of_post[is_link],
                              weights=g[is_link], minlength=n_rows)
    g_rows = np.zeros(n_rows, dtype=np.float64)
    np.maximum.at(g_rows, row_of_post, g)
    return s_rows, g_rows, l_rows


def bound_factor_rows(pre: dict, row_of_post: np.ndarray, n_rows: int
                      ) -> tuple[np.ndarray, np.ndarray, np.ndarray,
                                 np.ndarray]:
    """Fused ``slot_bound_rows`` + ``pair_factor_rows``: one shared
    (row, mhg) sort serves both slot structures (the sort is the
    dominant cost over millions of postings). Returns (U, S, G, L):
      U = slot-structured sum of s_single (single-score bound),
      S = slot-structured sum of g over non-link postings,
      G = max of g over all postings,
      L = sum of g over INLINKTEXT postings."""
    s64 = pre["s_single"].astype(np.float64)
    g = (pre["denw"].astype(np.float64)
         * pre["hgw"].astype(np.float64)
         * pre["spamw"].astype(np.float64)
         * pre["synm"].astype(np.float64))
    hg = pre["hg"]
    is_link = hg == HASHGROUP_INLINKTEXT
    u_rows = np.zeros(n_rows, dtype=np.float64)
    s_rows = np.zeros(n_rows, dtype=np.float64)
    l_rows = np.zeros(n_rows, dtype=np.float64)
    nl = ~is_link
    if nl.any():
        key = row_of_post[nl] * 16 + pre["mhg"][nl]
        order = np.argsort(key, kind="stable")
        ks = key[order]
        starts = np.flatnonzero(
            np.concatenate(([True], ks[1:] != ks[:-1])))
        gkeys = (ks[starts] // 16).astype(np.int64)
        u_rows += np.bincount(
            gkeys, weights=np.maximum.reduceat(s64[nl][order], starts),
            minlength=n_rows)
        s_rows += np.bincount(
            gkeys, weights=np.maximum.reduceat(g[nl][order], starts),
            minlength=n_rows)
    if is_link.any():
        u_rows += np.bincount(row_of_post[is_link],
                              weights=s64[is_link], minlength=n_rows)
        l_rows += np.bincount(row_of_post[is_link],
                              weights=g[is_link], minlength=n_rows)
    g_rows = np.zeros(n_rows, dtype=np.float64)
    np.maximum.at(g_rows, row_of_post, g)
    return u_rows, s_rows, g_rows, l_rows


def _fill_termlist(tl, pre: dict, sl: slice, half_stop: bool):
    tl.pos = pre["pos"][sl]
    tl.hg = pre["hg"][sl]
    tl.den = pre["den"][sl]
    tl.div = pre["div"][sl]
    tl.spam = pre["spam"][sl]
    tl.syn = pre["syn"][sl]
    tl.hgw = pre["hgw"][sl]
    tl.denw = pre["denw"][sl]
    tl.spamw = pre["spamw"][sl]
    tl.synm = pre["synm"][sl]
    tl.inbody = pre["inbody"][sl]
    tl.mhg = pre["mhg"][sl]
    tl.s_single = pre["s_single"][sl]
    n = tl.pos.shape[0]
    tl.wikib = np.full(n, half_stop, dtype=bool)
    return tl


def termlist_from_slices(pre: dict, sl: slice,
                         half_stop: bool = False) -> TermList:
    tl = TermList.__new__(TermList)
    return _fill_termlist(tl, pre, sl, half_stop)


def _merge_states(p1: np.ndarray, p2: np.ndarray):
    """(i_k, j_k) index pairs of the states visited by the reference's
    co-advancing two-pointer pair scans (getMaxScoreForNonBodyTermPair /
    getTermPairScoreForAny loop structure): at each state the current
    pair is scored, then the list whose current position is smaller
    advances (ties advance list 1: `if (p1 <= p2)`); the scan ends when
    either list is exhausted."""
    n1, n2 = len(p1), len(p2)
    if n1 == 0 or n2 == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e
    src = np.concatenate([np.zeros(n1, dtype=np.int64),
                          np.ones(n2, dtype=np.int64)])
    pos = np.concatenate([p1, p2])
    order = np.lexsort((src, pos))
    s = src[order]
    ci = np.cumsum(s == 0)
    cj = np.cumsum(s == 1)
    i_prior = np.concatenate(([0], ci[:-1]))
    j_prior = np.concatenate(([0], cj[:-1]))
    valid = (i_prior < n1) & (j_prior < n2)
    return i_prior[valid], j_prior[valid]


def single_term_score(tl: TermList, tfw: float, w: ScoringWeights):
    """getBestScoreSumForSingleTerm (PosdbTable.cpp:210-461). Returns
    (sum, highest_scoring_nonbody_index or -1). Vectorized when the slot
    count fits MAX_TOP (the common case: <= 7 distinct modified
    hashgroups + INLINKTEXT entries); exact sequential otherwise."""
    n = len(tl)
    if n == 0:
        return F32(-1.0), -1
    # per-posting ctx score, precomputed batch-wide (precompute_postings)
    s = tl.s_single

    nonbody = ~tl.inbody
    if nonbody.any():
        nb_ix = np.flatnonzero(nonbody)
        hs = nb_ix[int(np.argmax(s[nonbody]))]  # first max (strict >)
    else:
        hs = -1

    is_link = tl.hg == HASHGROUP_INLINKTEXT
    n_slots = len(np.unique(tl.mhg[~is_link])) + int(is_link.sum())
    if n_slots <= MAX_TOP:
        # slot per distinct mhg (first-occurrence creation order), each
        # holding its max score (first max on ties: `score > best[bro]`),
        # plus one slot per INLINKTEXT posting; summed in creation order
        slots: dict = {}   # key -> [creation_index, score, posting_ix]
        order_keys = []
        for ix in range(n):
            if is_link[ix]:
                key = ("L", ix)
                slots[key] = [len(order_keys), s[ix], ix]
                order_keys.append(key)
            else:
                key = ("G", int(tl.mhg[ix]))
                cur = slots.get(key)
                if cur is None:
                    slots[key] = [len(order_keys), s[ix], ix]
                    order_keys.append(key)
                elif s[ix] > cur[1]:
                    cur[1] = s[ix]
                    cur[2] = ix
        total = F32(0.0)
        for key in order_keys:
            _, sc, ix = slots[key]
            if tl.wikib[ix]:
                total = F32(total + F32(F32(sc * WIKI_BIGRAM_WEIGHT)
                                        * WIKI_BIGRAM_WEIGHT))
            else:
                total = F32(total + sc)
    else:
        # exact sequential replacement semantics incl. lowest-slot
        # eviction (rare: > MAX_TOP-7 INLINKTEXT entries)
        best = np.zeros(MAX_TOP, dtype=np.float32)
        bestmhg = np.full(MAX_TOP, -1, dtype=np.int64)
        bestix = np.full(MAX_TOP, -1, dtype=np.int64)
        num_top = 0
        lowest = 0
        for ix in range(n):
            sc = s[ix]
            mhg = int(tl.mhg[ix])
            bro = -1
            if not is_link[ix]:
                for kk in range(num_top):
                    if bestmhg[kk] == mhg:
                        bro = kk
                        break
            if bro >= 0:
                if sc > best[bro]:
                    best[bro] = sc
                    bestix[bro] = ix
            elif num_top < MAX_TOP:
                best[num_top] = sc
                bestmhg[num_top] = mhg
                bestix[num_top] = ix
                num_top += 1
            elif sc > best[lowest]:
                best[lowest] = sc
                bestmhg[lowest] = mhg
                bestix[lowest] = ix
            if num_top >= MAX_TOP:
                lowest = 0
                for kk in range(1, MAX_TOP):
                    if best[kk] <= best[lowest]:
                        lowest = kk
        total = F32(0.0)
        for kk in range(num_top):
            if tl.wikib[bestix[kk]]:
                total = F32(total + F32(F32(best[kk] * WIKI_BIGRAM_WEIGHT)
                                        * WIKI_BIGRAM_WEIGHT))
            else:
                total = F32(total + best[kk])
    total = F32(total * F32(tfw))
    total = F32(total * F32(tfw))
    return total, hs


def _finish_pair_scores(s, syn_i, syn_j, spam_i, spam_j, dist,
                        wikib_i, wikib_j, syn_w):
    """Shared tail of the pair-score formulas: synonym multipliers,
    optional wiki-bigram multipliers (getTermPairScoreForAny in-order
    branch only), spam product, distance division — float32 op order."""
    s = s.astype(np.float32, copy=True)
    s[syn_i] *= syn_w
    s[syn_j] *= syn_w
    if wikib_i is not None:
        s[wikib_i] *= WIKI_BIGRAM_WEIGHT
    if wikib_j is not None:
        s[wikib_j] *= WIKI_BIGRAM_WEIGHT
    s *= (spam_i * spam_j).astype(np.float32)
    s = (s.astype(np.float64) / (dist + 1.0)).astype(np.float32)
    return s


def nonbody_pair_max(ti: TermList, tj: TermList, qdist: int,
                     w: ScoringWeights) -> np.float32:
    """getMaxScoreForNonBodyTermPair (PosdbTable.cpp:467-712): max score
    over the co-advancing scan of the FULL lists, scoring only states
    where both postings are non-body (s_isCompatible). -1 if none."""
    ii, jj = _merge_states(ti.pos, tj.pos)
    if len(ii) == 0:
        return F32(-1.0)
    compat = (~ti.inbody[ii]) & (~tj.inbody[jj])
    if not compat.any():
        return F32(-1.0)
    ii, jj = ii[compat], jj[compat]
    p1 = ti.pos[ii]
    p2 = tj.pos[jj]
    in_order = p1 <= p2
    dist = np.abs(p2 - p1)
    np.maximum(dist, 2, out=dist)
    dist = np.where(dist > 50, FIXED_DISTANCE, dist)
    ge = dist >= qdist
    # in-order: dist -= qdist when >= qdist
    # out-of-order (:632-648): dist-qdist+qdist-1 = dist-1 when >= qdist,
    # else dist+1
    dist = np.where(in_order, np.where(ge, dist - qdist, dist),
                    np.where(ge, dist - 1, dist + 1))
    s = np.full(len(ii), 100.0, dtype=np.float32)
    s *= ti.denw[ii]
    s *= tj.denw[jj]
    s *= ti.hgw[ii]
    s *= tj.hgw[jj]
    s = _finish_pair_scores(s, ti.syn[ii] != 0, tj.syn[jj] != 0,
                            ti.spamw[ii], tj.spamw[jj], dist,
                            None, None, w.syn)
    return s.max()


def _g_pair(pA, dA, hA, sA, yA, pB, dB, hB, sB, yB, fixed, qdist, syn_w):
    """getScoreForTermPair (PosdbTable.cpp:715-792), vectorized over
    states. Null postings are signalled by the caller via masks; here
    every element is a real posting pair. fixed != 0 pins the distance
    (FIXED_DISTANCE sub-out variants)."""
    if fixed:
        dist = np.full(len(pA), fixed, dtype=np.int64)
    else:
        dist = np.abs(pB - pA)
        np.maximum(dist, 2, out=dist)
        ge = dist >= qdist
        dist = np.where(ge, dist - qdist, dist)
        dist = dist + (pB < pA)
    s = np.full(len(pA), 100.0, dtype=np.float32)
    s *= dA
    s *= dB
    s *= hA
    s *= hB
    s[yA] *= syn_w
    s[yB] *= syn_w
    s *= (sA * sB).astype(np.float32)
    s = (s.astype(np.float64) / (dist + 1.0)).astype(np.float32)
    return s


def sliding_window(terms: list[TermList], qpos: list[int],
                   wiki_ids: list[int], quote_ids: list[int],
                   tfws: list[float], nonbody_ix: list[int],
                   matrix: np.ndarray, w: ScoringWeights):
    """getMinTermPairScoreSlidingWindow's window-advance loop +
    findMinTermPairScoreInWindow (PosdbTable.cpp:3332-3705), fully
    vectorized over window states. Returns the per-term winning body
    posting index (-1 = NULL) of the best window.

    State enumeration: advancing the minimum body position one step at a
    time visits body positions in global (pos, term) order, so the k-th
    state's per-term pointer is the count of that term's body positions
    among the first k events — a cumsum, no loop."""
    T = len(terms)
    body_ix = [np.flatnonzero(t.inbody) for t in terms]
    E = sum(len(b) for b in body_ix)
    if E == 0:
        return [-1] * T  # allNull: no sliding window ran
    ev_pos = np.concatenate([terms[i].pos[body_ix[i]] for i in range(T)])
    ev_src = np.concatenate(
        [np.full(len(body_ix[i]), i, dtype=np.int64) for i in range(T)])
    order = np.lexsort((ev_src, ev_pos))
    src_sorted = ev_src[order]
    # per-term pointer BEFORE each event = prior count of its events
    cnt = np.zeros((T, E), dtype=np.int64)
    for i in range(T):
        cnt[i] = np.cumsum(src_sorted == i)
    prior = np.concatenate((np.zeros((T, 1), dtype=np.int64),
                            cnt[:, :-1]), axis=1)
    # current full-list posting index per term per state; -1 = NULL
    cur = np.full((T, E), -1, dtype=np.int64)
    for i in range(T):
        ok = prior[i] < len(body_ix[i])
        cur[i, ok] = body_ix[i][prior[i, ok]]
    # evaluation points: the reference's advance cycle
    # (PosdbTable.cpp:3640-3700 do/while(advanceMin)) rolls exhausting
    # advances together and only evaluates a window after an advance
    # that LANDED on a position — state k is evaluated iff k == 0 or
    # event k-1 did not exhaust its term's list
    exhausting = np.zeros(E, dtype=bool)
    for i in range(T):
        exhausting |= (src_sorted == i) & (cnt[i] == len(body_ix[i]))
    evals = np.concatenate(([True], ~exhausting[:-1]))

    best_of = np.full(E, np.float32(2e9), dtype=np.float32)
    any_pair = np.zeros(E, dtype=bool)
    for i in range(T):
        for j in range(i + 1, T):
            if wiki_ids[i] == wiki_ids[j] and wiki_ids[j] != 0:
                qd = qpos[j] - qpos[i]
                ww = WIKI_WEIGHT
            else:
                qd = 2
                ww = np.float32(1.0)
            live = (cur[i] >= 0) & (cur[j] >= 0)
            if not live.any():
                continue
            li = cur[i][live]
            lj = cur[j][live]
            ti, tj = terms[i], terms[j]
            nb_i, nb_j = nonbody_ix[i], nonbody_ix[j]
            variants = []
            variants.append(_g_pair(
                ti.pos[li], ti.denw[li], ti.hgw[li], ti.spamw[li],
                ti.syn[li] != 0,
                tj.pos[lj], tj.denw[lj], tj.hgw[lj], tj.spamw[lj],
                tj.syn[lj] != 0, 0, qd, w.syn))
            n = int(live.sum())
            if nb_i >= 0:
                variants.append(_g_pair(
                    np.full(n, ti.pos[nb_i]),
                    np.full(n, ti.denw[nb_i], dtype=np.float32),
                    np.full(n, ti.hgw[nb_i], dtype=np.float32),
                    np.full(n, ti.spamw[nb_i], dtype=np.float32),
                    np.full(n, ti.syn[nb_i] != 0, dtype=bool),
                    tj.pos[lj], tj.denw[lj], tj.hgw[lj], tj.spamw[lj],
                    tj.syn[lj] != 0, FIXED_DISTANCE, qd, w.syn))
                if nb_j >= 0:
                    one = _g_pair(
                        ti.pos[nb_i:nb_i + 1], ti.denw[nb_i:nb_i + 1],
                        ti.hgw[nb_i:nb_i + 1], ti.spamw[nb_i:nb_i + 1],
                        ti.syn[nb_i:nb_i + 1] != 0,
                        tj.pos[nb_j:nb_j + 1], tj.denw[nb_j:nb_j + 1],
                        tj.hgw[nb_j:nb_j + 1], tj.spamw[nb_j:nb_j + 1],
                        tj.syn[nb_j:nb_j + 1] != 0,
                        FIXED_DISTANCE, qd, w.syn)
                    variants.append(np.full(n, one[0], dtype=np.float32))
            if nb_j >= 0:
                variants.append(_g_pair(
                    ti.pos[li], ti.denw[li], ti.hgw[li], ti.spamw[li],
                    ti.syn[li] != 0,
                    np.full(n, tj.pos[nb_j]),
                    np.full(n, tj.denw[nb_j], dtype=np.float32),
                    np.full(n, tj.hgw[nb_j], dtype=np.float32),
                    np.full(n, tj.spamw[nb_j], dtype=np.float32),
                    np.full(n, tj.syn[nb_j] != 0, dtype=bool),
                    FIXED_DISTANCE, qd, w.syn))
            mx = variants[0]
            for v in variants[1:]:
                mx = np.maximum(mx, v)
            if ww != np.float32(1.0):
                mx = (mx * ww).astype(np.float32)
            mx = (mx * F32(F32(tfws[i]) * F32(tfws[j]))).astype(np.float32)
            # "use score from scoreMatrix if bigger"
            mx = np.maximum(mx, F32(matrix[i, j]))
            # same quoted phrase: exact order + distance or the pair dies
            if quote_ids[i] >= 0 and quote_ids[i] == quote_ids[j]:
                qd2 = qpos[j] - qpos[i]
                dd = tj.pos[lj] - ti.pos[li]
                bad = (dd < 0) | ((dd > qd2) & (dd - qd2 > 1)) \
                    | ((dd < qd2) & (qd2 - dd > 1))
                mx = np.where(bad, np.float32(-1.0), mx)
            pair_sc = np.full(E, np.float32(2e9), dtype=np.float32)
            pair_sc[live] = mx
            np.minimum(best_of, pair_sc, out=best_of)
            any_pair |= live
    scores = np.where(any_pair, best_of, np.float32(-1.0))
    scores = np.where(evals, scores, np.float32(-2e9))
    k_star = int(np.argmax(scores))  # first max: later ties don't replace
    return [int(cur[i, k_star]) for i in range(T)]


def pair_score_for_any(ti: TermList, tj: TermList, qpos_i: int, qpos_j: int,
                       wiki_i: int, wiki_j: int, quote_i: int, quote_j: int,
                       win_i: int, win_j: int, tfw_i: float, tfw_j: float,
                       w: ScoringWeights) -> np.float32:
    """getTermPairScoreForAny (PosdbTable.cpp:799-1330): co-advancing
    scan over the full lists with body positions restricted to the
    winning window position, FIXED_DISTANCE for cross-modified-hashgroup
    or inlink-inlink pairs at dist>=50, out-of-order penalty, quoted
    constraints, top-MAX_TOP one-per-mhg-pair slots (INLINKTEXT exempt),
    x wiki weight x tfw_i x tfw_j."""
    same_wiki = wiki_i == wiki_j and wiki_j != 0
    if same_wiki:
        qdist = qpos_j - qpos_i
        wts = WIKI_WEIGHT
    else:
        qdist = 2
        wts = np.float32(1.0)
    in_quote = quote_i >= 0 and quote_i == quote_j
    if in_quote:
        qdist = qpos_j - qpos_i

    # body positions other than the window winner are skipped without
    # scoring (PosdbTable.cpp:904-910) == filtering them out up front
    keep_i = np.flatnonzero(~ti.inbody
                            | (np.arange(len(ti)) == win_i))
    keep_j = np.flatnonzero(~tj.inbody
                            | (np.arange(len(tj)) == win_j))
    ii, jj = _merge_states(ti.pos[keep_i], tj.pos[keep_j])
    if len(ii) == 0:
        # the reference's scan degenerates to skip-advances and returns
        # the empty-slot sum 0.0 (NOT -1): a pair whose winning window
        # excluded one term zeroes the doc's min pair score
        return F32(0.0)
    ii = keep_i[ii]
    jj = keep_j[jj]
    p1 = ti.pos[ii]
    p2 = tj.pos[jj]
    in_order = p1 <= p2
    raw = np.where(in_order, p2 - p1, p1 - p2)
    scorable = np.ones(len(ii), dtype=bool)
    if in_quote:
        d0 = p2 - p1
        bad_in = in_order & (((d0 > qdist) & (d0 - qdist >= 2))
                             | ((d0 < qdist) & (qdist - d0 >= 2)))
        scorable &= ~bad_in
        scorable &= in_order  # out-of-order quoted pairs never score
    dist = np.maximum(raw, 2)
    mhg1 = ti.mhg[ii]
    mhg2 = tj.mhg[jj]
    fixedm = (dist >= 50) & ((mhg1 != mhg2)
                             | (mhg1 == HASHGROUP_INLINKTEXT))
    dist = np.where(fixedm, FIXED_DISTANCE, dist)
    ge = dist >= qdist
    dist = np.where(in_order, np.where(ge, dist - qdist, dist),
                    np.where(ge, dist - 1, dist + 1))
    s = np.full(len(ii), 100.0, dtype=np.float32)
    s *= ti.denw[ii]
    s *= tj.denw[jj]
    s *= ti.hgw[ii]
    s *= tj.hgw[jj]
    s[ti.syn[ii] != 0] *= w.syn
    s[tj.syn[jj] != 0] *= w.syn
    # wiki half-stop bigram boost: IN-ORDER branch only (the reference's
    # out-of-order branch omits it, :1160-1200 — quirk reproduced)
    s[in_order & ti.wikib[ii]] *= WIKI_BIGRAM_WEIGHT
    s[in_order & tj.wikib[jj]] *= WIKI_BIGRAM_WEIGHT
    s *= (ti.spamw[ii] * tj.spamw[jj]).astype(np.float32)
    s = (s.astype(np.float64) / (dist + 1.0)).astype(np.float32)

    hg1 = ti.hg[ii]
    hg2 = tj.hg[jj]
    # sequential top-MAX_TOP slots (short: lists are non-body + 1 winner)
    best = np.zeros(MAX_TOP, dtype=np.float32)
    bm1 = np.full(MAX_TOP, -1, dtype=np.int64)
    bm2 = np.full(MAX_TOP, -1, dtype=np.int64)
    num_top = 0
    lowest = -1
    for st in range(len(ii)):
        if not scorable[st]:
            continue
        sc = s[st]
        m1 = int(mhg1[st])
        m2 = int(mhg2[st])
        h1_link = hg1[st] == HASHGROUP_INLINKTEXT
        h2_link = hg2[st] == HASHGROUP_INLINKTEXT
        bro = -1
        for kk in range(num_top):
            if bm1[kk] == m1 and not h1_link:
                bro = kk
                break
            if bm2[kk] == m2 and not h2_link:
                bro = kk
                break
        if bro >= 0:
            if sc > best[bro]:
                best[bro] = sc
                bm1[bro] = m1
                bm2[bro] = m2
        elif num_top < MAX_TOP:
            best[num_top] = sc
            bm1[num_top] = m1
            bm2[num_top] = m2
            num_top += 1
        elif lowest >= 0 and sc > best[lowest]:
            best[lowest] = sc
            bm1[lowest] = m1
            bm2[lowest] = m2
        if num_top >= MAX_TOP:
            lowest = 0
            for kk in range(1, MAX_TOP):
                if best[kk] <= best[lowest]:
                    lowest = kk
    total = F32(0.0)
    for kk in range(num_top):
        total = F32(total + best[kk])
    total = F32(total * wts)
    total = F32(total * F32(tfw_i))
    total = F32(total * F32(tfw_j))
    return total


def score_doc(terms: list[TermList], tfws: list[float], qpos: list[int],
              site_rank: int, w: ScoringWeights,
              wiki_ids: list[int] | None = None,
              quote_ids: list[int] | None = None,
              doc_lang: int = 0,
              page_temp: float = 1.0) -> float | None:
    """Full per-doc reference score (intersectLists_real scoring block,
    PosdbTable.cpp:4140-4280). None = doc skipped (minScore <= 0)."""
    T = len(terms)
    wiki_ids = wiki_ids or [0] * T
    quote_ids = quote_ids if quote_ids is not None else [-1] * T

    # 2. singles + per-term highest-scoring non-body position
    singles = []
    nonbody_ix = []
    for i in range(T):
        sc, nb = single_term_score(terms[i], tfws[i], w)
        singles.append(sc)
        nonbody_ix.append(nb)
    min_single = F32(2e9)
    for sc in singles:
        if sc < min_single:
            min_single = sc

    # 1. non-body pair score matrix
    matrix = np.full((T, T), np.float32(-1.0), dtype=np.float32)
    for i in range(T):
        for j in range(i + 1, T):
            if wiki_ids[i] == wiki_ids[j] and wiki_ids[j] != 0:
                qd = qpos[j] - qpos[i]
                wts = WIKI_WEIGHT
            else:
                qd = 2
                wts = np.float32(1.0)
            m = nonbody_pair_max(terms[i], terms[j], qd, w)
            if m < 0:
                matrix[i, j] = np.float32(-1.0)
            else:
                v = F32(wts * m)
                v = F32(v * F32(tfws[i]))
                v = F32(v * F32(tfws[j]))
                matrix[i, j] = v

    # 3. sliding window -> winning body position per term
    winners = sliding_window(terms, qpos, wiki_ids, quote_ids, tfws,
                             nonbody_ix, matrix, w)

    # 4. Zak: min pair score over full lists restricted to the window
    min_pair = F32(-1.0)
    for i in range(T):
        for j in range(i + 1, T):
            tp = pair_score_for_any(
                terms[i], terms[j], qpos[i], qpos[j], wiki_ids[i],
                wiki_ids[j], quote_ids[i], quote_ids[j], winners[i],
                winners[j], tfws[i], tfws[j], w)
            if min_pair >= 0 and tp >= min_pair:
                continue
            min_pair = tp

    # 5. combine + siterank (+ inlinker adjustment)
    min_score = F32(999999999.0)
    if 0.0 <= min_pair < min_score:
        min_score = min_pair
    if min_single < min_score:
        min_score = min_single
    if min_score <= 0.0:
        return None
    highest_inlinker = -1
    for t in terms:
        link = t.hg == HASHGROUP_INLINKTEXT
        if link.any():
            highest_inlinker = max(highest_inlinker,
                                   int(t.spam[link].max()))
    adjusted = np.float32(site_rank)
    if highest_inlinker > site_rank:
        adjusted = np.float32(site_rank
                              + (highest_inlinker - site_rank) / 3.0)
    score = F32(min_score
                * (adjusted * SITERANK_MULTIPLIER + np.float32(1.0)))
    # language boost (PosdbTable.cpp:4254-4275): only when a query
    # language is set; same language or unknown doc language boost
    if w.query_lang != 0:
        if w.query_lang == doc_lang:
            score = F32(score * w.same_lang_w)
        elif doc_lang == 0:
            score = F32(score * w.unknown_lang_w)
    # page temperature (PosdbTable.cpp:4268-4277: score *= temperature,
    # log-scaled registry value — see query/pagetemp.py)
    if w.use_page_temp:
        score = F32(score * np.float64(page_temp))
    return float(score)
