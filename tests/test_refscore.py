"""Reference-scorer tests (SURVEY.md §4.6): exact PosdbTable semantics —
weight-table formulas, single-term slot dedup, pair distance rules,
sliding-window winner restriction (incl. the window-excludes-a-term
doc-skip artifact), siterank/inlinker combine — plus e2e ranking."""

from __future__ import annotations

import numpy as np
import pytest

from open_source_search_engine_spark.config import DEFAULT_CONF, EngineConf
from open_source_search_engine_spark.functions.posdb import (
    HASHGROUP_BODY,
    HASHGROUP_HEADING,
    HASHGROUP_INLINKTEXT,
    HASHGROUP_TITLE,
    MAXDENSITYRANK,
    MAXDIVERSITYRANK,
    MAXWORDSPAMRANK,
    pack_ctx,
)
from open_source_search_engine_spark.query.refscore import (
    _IN_BODY,
    MAX_TOP,
    SITERANK_MULTIPLIER,
    ScoringWeights,
    TermList,
    scale_quadratic,
    score_doc,
    single_term_score,
    term_freq_weight,
)

W = ScoringWeights(DEFAULT_CONF)


def ctx(hg=HASHGROUP_BODY, den=MAXDENSITYRANK, div=MAXDIVERSITYRANK,
        spam=MAXWORDSPAMRANK, syn=0):
    return pack_ctx(hg, den, div, spam, syn)


def tl(poss, ctxs, **kw):
    return TermList(np.asarray(poss, dtype=np.int64),
                    np.asarray(ctxs, dtype=np.int64), W, **kw)


def test_term_freq_weight_linear():
    # scale_linear(x, 0.0, 0.5, 1.0, 0.5): Msg3a.cpp:1003-1008
    assert term_freq_weight(0, 100) == 1.0
    assert term_freq_weight(50, 100) == 0.5
    assert term_freq_weight(100, 100) == 0.5  # clamped
    assert term_freq_weight(25, 100) == pytest.approx(0.75)


def test_weight_tables_reference_formulas():
    # density: scale_quadratic ((r+1)^2-1)/3 (ScalingFunctions.cpp:29),
    # NOT r^2 — midpoint check pins the exact curve
    assert W.density[0] == pytest.approx(0.35)
    assert W.density[MAXDENSITYRANK] == pytest.approx(1.0)
    r = 16 / MAXDENSITYRANK
    exp = 0.35 + ((r + 1) ** 2 - 1) / 3 * 0.65
    assert W.density[16] == pytest.approx(exp, rel=1e-6)
    assert W.density[16] != pytest.approx(0.35 + r * r * 0.65, rel=1e-3)
    # wordspam bottoms at 1/MAXWORDSPAMRANK, not 0 (ScoringWeights.cpp:27)
    assert W.wordspam[0] == pytest.approx(1.0 / MAXWORDSPAMRANK)
    assert W.wordspam[MAXWORDSPAMRANK] == pytest.approx(1.0)
    # linker weight = sqrt(1 + inlinker siterank) (ScoringWeights.cpp:36)
    assert W.linker[3] == pytest.approx(2.0)


def test_single_term_max_ranks():
    s, nb = single_term_score(tl([10], [ctx()]), 1.0, W)
    assert s == pytest.approx(100.0)
    assert nb == -1  # body posting: no non-body position


def test_single_term_title_beats_body_and_nonbody_pos():
    sb, _ = single_term_score(tl([10], [ctx(HASHGROUP_BODY)]), 1.0, W)
    st, nb = single_term_score(tl([3], [ctx(HASHGROUP_TITLE)]), 1.0, W)
    assert st == pytest.approx(sb * 64.0)  # title weight 8.0 squared
    assert nb == 0


def test_single_term_distinct_hashgroups_sum():
    s, _ = single_term_score(
        tl([3, 10], [ctx(HASHGROUP_TITLE), ctx(HASHGROUP_BODY)]), 1.0, W)
    assert s == pytest.approx(6400.0 + 100.0)
    # body repeats share ONE modified-hashgroup slot (best kept)
    s2, _ = single_term_score(
        tl([10, 20], [ctx(HASHGROUP_BODY), ctx(HASHGROUP_BODY)]), 1.0, W)
    assert s2 == pytest.approx(100.0)
    # heading collapses into the BODY slot too (s_inBody -> mhg BODY),
    # best of the two wins: heading weight 1.5 -> 225
    s3, _ = single_term_score(
        tl([10, 20], [ctx(HASHGROUP_BODY), ctx(HASHGROUP_HEADING)]),
        1.0, W)
    assert s3 == pytest.approx(225.0)


def test_single_term_density_syn_tfw():
    lo, _ = single_term_score(tl([10], [ctx(den=0)]), 1.0, W)
    assert lo == pytest.approx(100.0 * 0.35 ** 2)
    syn, _ = single_term_score(tl([10], [ctx(syn=1)]), 1.0, W)
    assert syn == pytest.approx(100.0 * 0.9 ** 2)
    half, _ = single_term_score(tl([10], [ctx()]), 0.5, W)
    assert half == pytest.approx(25.0)


def test_single_term_inlinktext_slots_unlimited_and_linker_weight():
    # 12 INLINKTEXT postings (> MAX_TOP non-dedup slots) with ascending
    # linker siteranks in the spam field: lowest-slot eviction keeps the
    # top MAX_TOP = ranks 2..11; linker weight sqrt(1+r) squared = 1+r
    n = 12
    ctxs = [ctx(HASHGROUP_INLINKTEXT, spam=r) for r in range(n)]
    s, _ = single_term_score(tl(list(range(0, 2 * n, 2)), ctxs), 1.0, W)
    hgw2 = 16.0 ** 2
    expect = sum(100.0 * hgw2 * (1.0 + r) for r in range(2, 12))
    assert s == pytest.approx(expect, rel=1e-5)


def test_pair_adjacent_exact_qdist():
    # body positions 10,12, qdist defaults to 2: dist = max(2,2)-2 = 0
    s = score_doc([tl([10], [ctx()]), tl([12], [ctx()])],
                  [1.0, 1.0], [0, 2], 0, W)
    assert s == pytest.approx(100.0)


def test_pair_in_order_vs_out_of_order():
    s_in = score_doc([tl([10], [ctx()]), tl([14], [ctx()])],
                     [1.0, 1.0], [0, 2], 0, W)
    # in-order: dist 4-2=2 -> 100/3
    assert s_in == pytest.approx(100.0 / 3.0, rel=1e-6)
    s_out = score_doc([tl([14], [ctx()]), tl([10], [ctx()])],
                      [1.0, 1.0], [0, 2], 0, W)
    # out-of-order: dist 4 -> -1 => 3 -> 100/4 (PosdbTable.cpp:1160)
    assert s_out == pytest.approx(25.0, rel=1e-6)


def test_siterank_multiplier():
    s = score_doc([tl([10], [ctx()])], [1.0], [0], 9, W)
    assert s == pytest.approx(100.0 * (9 * float(SITERANK_MULTIPLIER) + 1.0),
                              rel=1e-6)


def test_inlinker_siterank_adjustment():
    # INLINKTEXT posting with linker siterank 12 in the spam field on a
    # siterank-0 site: adjustedSiteRank = 0 + (12-0)/3 = 4
    terms = [tl([10, 50], [ctx(), ctx(HASHGROUP_INLINKTEXT, spam=12)])]
    s = score_doc(terms, [1.0], [0], 0, W)
    base_single = 100.0 + 100.0 * 256.0 * 13.0  # body slot + inlink slot
    assert s == pytest.approx(
        base_single * (4.0 * float(SITERANK_MULTIPLIER) + 1.0), rel=1e-5)


def test_exhausting_advances_skip_window_eval():
    """A=[10,100], B=[12], C=[102]: after B's single body position is
    consumed the advance cycle (do/while(advanceMin),
    PosdbTable.cpp:3640-3700) exhausts B and keeps advancing WITHOUT
    evaluating the B-less window — so the best evaluated window is
    (100,12,102) and the doc survives with min pair = B-C = 100/89."""
    terms = [tl([10, 100], [ctx(), ctx()]),
             tl([12], [ctx()]),
             tl([102], [ctx()])]
    s = score_doc(terms, [1.0, 1.0, 1.0], [0, 2, 4], 0, W)
    assert s == pytest.approx(100.0 / 89.0, rel=1e-6)


def test_window_excluding_term_kills_doc():
    """A=[10], B=[12,100], C=[14,102]: A exhausts in the FIRST advance
    cycle, later cycles land on valid positions, so windows WITHOUT A
    are evaluated and (B=100,C=102) wins with pair score 100. A's
    winner is then NULL, the A-B scan degenerates to the empty-slot sum
    0.0, and the doc is skipped (minScore <= 0, PosdbTable.cpp:4225) —
    a faithful reference artifact the round-1 scorer missed."""
    terms = [tl([10], [ctx()]),
             tl([12, 100], [ctx(), ctx()]),
             tl([14, 102], [ctx(), ctx()])]
    s = score_doc(terms, [1.0, 1.0, 1.0], [0, 2, 4], 0, W)
    assert s is None


def test_window_subout_keeps_doc_alive():
    # same doc-kill shape but A also has a title occurrence: the
    # FIXED_DISTANCE sub-out keeps the A-B and A-C pairs scoreable
    terms = [tl([0, 10], [ctx(HASHGROUP_TITLE), ctx()]),
             tl([12, 100], [ctx(), ctx()]),
             tl([14, 102], [ctx(), ctx()])]
    s = score_doc(terms, [1.0, 1.0, 1.0], [0, 2, 4], 0, W)
    assert s is not None and s > 0


def test_three_term_window_consistency():
    """3-term doc with two position clusters: the window forces ONE
    shared body position per term, so the min pair score comes from one
    consistent window, not from independently-optimal pairs."""
    terms = [tl([10, 100], [ctx(), ctx()]),
             tl([12, 102], [ctx(), ctx()]),
             tl([104], [ctx()])]
    s = score_doc(terms, [1.0, 1.0, 1.0], [0, 2, 4], 0, W)
    # best window (100,102,104): A-C dist |104-100|=4-2=2 -> 100/3 is the
    # min pair (A-B and B-C are adjacent -> 100)
    assert s == pytest.approx(100.0 / 3.0, rel=1e-6)


def test_wiki_bigram_flag_boosts_single():
    s_plain, _ = single_term_score(tl([10], [ctx()]), 1.0, W)
    s_wiki, _ = single_term_score(
        tl([10], [ctx()], half_stop_wiki_bigram=True), 1.0, W)
    assert s_wiki == pytest.approx(s_plain * 1.4 * 1.4, rel=1e-6)


def test_wiki_phrase_pair_weight():
    # same wiki phrase: qdist = qpos delta and WIKI_WEIGHT 0.10 applies
    # (PosdbTable.cpp:814-830); positions exactly at qdist -> dist 0
    terms = [tl([10], [ctx()]), tl([12], [ctx()])]
    s_plain = score_doc(terms, [1.0, 1.0], [0, 2], 0, W)
    s_wiki = score_doc(terms, [1.0, 1.0], [0, 2], 0, W,
                       wiki_ids=[7, 7])
    # pair 100*0.1 = 10 -> min beats singles
    assert s_wiki == pytest.approx(s_plain * 0.1, rel=1e-6)


def test_quoted_pair_exact_distance_required():
    terms_ok = [tl([10], [ctx()]), tl([12], [ctx()])]
    s_ok = score_doc(terms_ok, [1.0, 1.0], [0, 2], 0, W,
                     quote_ids=[0, 0])
    assert s_ok is not None
    # off by 3 from qdist: quoted constraint kills the pair -> doc dies
    terms_far = [tl([10], [ctx()]), tl([15], [ctx()])]
    s_far = score_doc(terms_far, [1.0, 1.0], [0, 2], 0, W,
                      quote_ids=[0, 0])
    assert s_far is None


@pytest.fixture(scope="module")
def ref_index(spark, small_conf, tmp_path_factory):
    import datetime as dt

    import pandas as pd

    from open_source_search_engine_spark.index.build import build_index

    rows = []
    docs = {
        1: "needle in a short line",
        2: ("needle buried in a much longer sentence that dilutes the "
            "density rank of every word that appears within it"),
        3: "close pair needle thread here",
        4: "needle and then lots of words before thread appears",
    }
    for did, text in docs.items():
        rows.append({
            "url": f"http://s{did}.example/p/{did}.html",
            "warc_ts": dt.datetime(2024, 1, 1),
            "html": f"<html><body><p>{text}</p></body></html>".encode(),
            "text": text, "lang": "en", "doc_id": did,
        })
    d = str(tmp_path_factory.mktemp("refidx"))
    build_index(spark, spark.createDataFrame(pd.DataFrame(rows)), d,
                conf=small_conf, gen=0)
    return d


def _ref_conf(small_conf):
    return EngineConf(scorer="reference", n_buckets=small_conf.n_buckets,
                      n_salts=small_conf.n_salts,
                      salt_df_threshold=small_conf.salt_df_threshold)


def test_e2e_reference_density_ranking(ref_index, spark, small_conf):
    from open_source_search_engine_spark.query.executor import search

    rows = search(spark, ref_index, "needle", k=10,
                  conf=_ref_conf(small_conf)).collect()
    ids = [r["doc_id"] for r in rows]
    assert set(ids) == {1, 2, 3, 4}
    # doc 1 (short sentence, high density) must outrank doc 2 (diluted)
    assert ids.index(1) < ids.index(2)


def test_e2e_reference_proximity(ref_index, spark, small_conf):
    from open_source_search_engine_spark.query.executor import search

    rows = search(spark, ref_index, "needle thread", k=10,
                  conf=_ref_conf(small_conf)).collect()
    ids = [r["doc_id"] for r in rows]
    assert set(ids) == {3, 4}
    assert ids[0] == 3  # adjacent pair beats distant pair


def test_lang_boost_unit():
    """Language boost (PosdbTable.cpp:4254-4275): with query_lang set,
    same-lang docs score x sameLangWeight (20), unknown-lang docs
    x unknownLangWeight (10), other langs unboosted; query_lang=0 ==
    boost entirely off (reference behavior without &qlang)."""
    conf = EngineConf(query_lang=1)  # en
    w = ScoringWeights(conf)
    terms = [tl([10], [ctx()])]
    base = score_doc(terms, [1.0], [0], 0, W)            # boost off
    same = score_doc(terms, [1.0], [0], 0, w, doc_lang=1)
    unk = score_doc(terms, [1.0], [0], 0, w, doc_lang=0)
    other = score_doc(terms, [1.0], [0], 0, w, doc_lang=9)
    assert same == pytest.approx(base * 20.0)
    assert unk == pytest.approx(base * 10.0)
    assert other == pytest.approx(base)


def test_e2e_reference_lang_boost(spark, small_conf, tmp_path):
    import datetime as dt

    import pandas as pd

    from open_source_search_engine_spark.index.build import build_index
    from open_source_search_engine_spark.query.executor import search

    text = "needle in a short line"
    rows = []
    # one host for all docs: site_rank defaults per-host, and this test
    # needs identical base scores so only the lang boost separates them
    for did, lang in ((1, "de"), (2, "en"), (3, None)):
        rows.append({
            "url": f"http://same.example/p/{did}.html",
            "warc_ts": dt.datetime(2024, 1, 1),
            "html": f"<html><body><p>{text}</p></body></html>".encode(),
            "text": text, "lang": lang, "doc_id": did,
        })
    d = str(tmp_path / "langidx")
    build_index(spark, spark.createDataFrame(pd.DataFrame(rows)), d,
                conf=small_conf, gen=0)
    conf = EngineConf(scorer="reference", query_lang=1,
                      n_buckets=small_conf.n_buckets,
                      n_salts=small_conf.n_salts,
                      salt_df_threshold=small_conf.salt_df_threshold)
    got = search(spark, d, "needle", k=10, conf=conf).collect()
    ids = [r["doc_id"] for r in got]
    assert ids == [2, 3, 1]  # same-lang > unknown > other-lang
    s = {r["doc_id"]: r["score"] for r in got}
    assert s[2] == pytest.approx(s[1] * 20.0, rel=1e-5)
    assert s[3] == pytest.approx(s[1] * 10.0, rel=1e-5)


def test_page_temperature_unit():
    """Page temperature (PosdbTable.cpp:4268-4277): enabled -> score is
    multiplied by the registry temperature; disabled -> untouched."""
    conf = EngineConf(use_page_temperature=True)
    w = ScoringWeights(conf)
    terms = [tl([10], [ctx()])]
    base = score_doc(terms, [1.0], [0], 0, W)  # off
    hot = score_doc(terms, [1.0], [0], 0, w, page_temp=17.5)
    off = score_doc(terms, [1.0], [0], 0, W, page_temp=17.5)
    assert hot == pytest.approx(base * 17.5, rel=1e-6)
    assert off == pytest.approx(base)


def test_page_temperature_scaling():
    """Log-linear registry scaling (PageTemperatureRegistry.cpp:138-147)
    into [min_w, max_w], clamped; default temperature for misses."""
    from open_source_search_engine_spark.query.pagetemp import _scale
    import math

    lo, hi = math.log(1), math.log(100)
    assert _scale(math.log(1), lo, hi, 1.0, 20.0) == pytest.approx(1.0)
    assert _scale(math.log(100), lo, hi, 1.0, 20.0) == pytest.approx(20.0)
    assert _scale(math.log(10), lo, hi, 1.0, 20.0) == \
        pytest.approx(1.0 + 19.0 * 0.5)
    # clamp below/above the registry range
    assert _scale(math.log(0.5), lo, hi, 1.0, 20.0) == 1.0
    assert _scale(math.log(1000), lo, hi, 1.0, 20.0) == 20.0


def test_e2e_reference_page_temperature(spark, small_conf, tmp_path):
    import datetime as dt

    import pandas as pd

    from open_source_search_engine_spark.index.build import build_index
    from open_source_search_engine_spark.query.executor import search
    from open_source_search_engine_spark.query.pagetemp import (
        load_page_temperatures,
    )

    text = "needle in a short line"
    rows = []
    for did in (1, 2, 3):  # identical docs, one host -> equal base score
        rows.append({
            "url": f"http://same.example/p/{did}.html",
            "warc_ts": dt.datetime(2024, 1, 1),
            "html": f"<html><body><p>{text}</p></body></html>".encode(),
            "text": text, "lang": "en", "doc_id": did,
        })
    d = str(tmp_path / "ptidx")
    build_index(spark, spark.createDataFrame(pd.DataFrame(rows)), d,
                conf=small_conf, gen=0)
    # registry: doc 1 cold (t=1), doc 2 hot (t=100); doc 3 unregistered
    # -> default temperature 5
    load_page_temperatures(spark, d, spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "temperature": [1, 100]})))
    conf = EngineConf(scorer="reference", use_page_temperature=True,
                      n_buckets=small_conf.n_buckets,
                      n_salts=small_conf.n_salts,
                      salt_df_threshold=small_conf.salt_df_threshold)
    got = search(spark, d, "needle", k=10, conf=conf).collect()
    ids = [r["doc_id"] for r in got]
    assert ids == [2, 3, 1]  # hot > default > cold
    s = {r["doc_id"]: r["score"] for r in got}
    # scaled multipliers: t=1 -> 1.0, t=100 -> 20.0, default 5 ->
    # 1 + 19*log(5)/log(100)
    import math
    base = s[1] / 1.0
    assert s[2] == pytest.approx(base * 20.0, rel=1e-5)
    want3 = 1.0 + 19.0 * (math.log(5) / math.log(100))
    assert s[3] == pytest.approx(base * want3, rel=1e-5)


@pytest.fixture(scope="module")
def ref_two_pass_index(spark, small_conf, tmp_path_factory):
    """~2,000 docs sharing 3 mid-df terms with varying tf/length/site
    so scores spread — the shape the in-group bound certificate
    targets; every group blob spans several 128-doc blocks."""
    import datetime as dt

    import pandas as pd

    from open_source_search_engine_spark.index.build import build_index

    rows = []
    for did in range(1, 2001):
        body = ("apple " * (1 + did % 6)
                + "banana " * (1 + did % 4)
                + "cherry " * (1 + did % 3)
                # longer docs at higher ids: the best bounds cluster in
                # the first blocks of each group blob
                + "pad " * (did % 11 + did // 100))
        if did % 5 == 0:
            body += " mango"
        rows.append({
            "url": f"http://s{did % 13}.example/t/{did}.html",
            "warc_ts": dt.datetime(2024, 1, 1),
            "html": (f"<html><head><title>doc {did}</title></head>"
                     f"<body><p>{body}</p></body></html>").encode(),
            "text": body, "lang": "en", "doc_id": did,
        })
    d = str(tmp_path_factory.mktemp("ref2p"))
    build_index(spark, spark.createDataFrame(pd.DataFrame(rows)), d,
                conf=small_conf, gen=0)
    return d


@pytest.mark.parametrize("q,k", [
    ("apple banana cherry", 10),
    ("apple banana", 25),
    ("apple mango", 10),          # mixed df
    ("apple banana -mango", 10),  # negative term
])
def test_two_pass_matches_ground_truth(ref_two_pass_index, spark,
                                       small_conf, q, k):
    """VERDICT r2 #2 'done' check: the bound-certified top-k must be
    byte-identical to the k=None exact ground truth."""
    from open_source_search_engine_spark.query.executor import (
        search,
        search_all,
    )

    conf = _ref_conf(small_conf)
    truth = sorted(
        search_all(spark, ref_two_pass_index, q, conf=conf).collect(),
        key=lambda r: (-r["score"], r["doc_id"]))[:k]
    got = search(spark, ref_two_pass_index, q, k=k, conf=conf).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in truth]
    for g, t in zip(got, truth):
        assert g["score"] == t["score"]  # same exact kernel: bit-equal


def test_reference_mode_variant_sublists(spark, small_conf, tmp_path):
    """VERDICT r2 missing #1 (mergeTermSubListsForDocId,
    PosdbTable.cpp:2879): in reference mode with synonyms on, a doc
    matched only via a synonym variant must (a) be returned, and (b)
    score exactly formula-predicted: the variant posting scores with
    the syn flag (synW^2 in the ctx chain) and the PRIMARY term's tfw."""
    import datetime as dt

    import pandas as pd

    from open_source_search_engine_spark.functions.synonyms import (
        load_synonyms,
    )
    from open_source_search_engine_spark.index.build import build_index
    from open_source_search_engine_spark.query.executor import search_all
    from open_source_search_engine_spark.query.refscore import (
        term_freq_weight,
    )

    texts = {
        1: "sort the records quickly",          # primary match
        2: "order the records quickly",         # synonym-only match
        3: "sort and order the records",        # both -> merged sublists
        4: "records without either keyword",
    }
    rows = []
    for did, text in texts.items():
        rows.append({
            "url": f"http://v{did}.example/p/{did}.html",
            "warc_ts": dt.datetime(2024, 1, 1),
            "html": f"<html><body><p>{text}</p></body></html>".encode(),
            "text": text, "lang": "en", "doc_id": did,
        })
    d = str(tmp_path / "varidx")
    build_index(spark, spark.createDataFrame(pd.DataFrame(rows)), d,
                conf=small_conf, gen=0)
    load_synonyms({"sort": ("order",)})
    try:
        conf = _ref_conf(small_conf)
        got = {r["doc_id"]: r["score"] for r in
               search_all(spark, d, "sort", conf=conf,
                          synonyms=True).collect()}
        # coverage: doc 2 matches via the variant sublist alone
        assert set(got) == {1, 2, 3}
        # formula check for the syn-only doc: same postings scored as
        # the primary of query 'order', rescaled to the 'sort' tfw and
        # the synW^2 ctx factor
        base = {r["doc_id"]: r["score"] for r in
                search_all(spark, d, "order", conf=conf).collect()}
        n = 4
        tfw_sort = term_freq_weight(2, n, conf)   # df('sort') = 2
        tfw_order = term_freq_weight(2, n, conf)  # df('order') = 2
        syn2 = float(conf.syn_weight) ** 2
        want2 = base[2] * (tfw_sort / tfw_order) ** 2 * syn2
        assert got[2] == pytest.approx(want2, rel=1e-6)
        # docs 1 and 2 have identically-shaped sentences, so the
        # primary match must outscore the syn-only match by exactly
        # 1/synW^2 (the one ctx-chain difference)
        assert got[1] == pytest.approx(got[2] / syn2, rel=1e-6)
        # doc 3's merged list holds both variants in ONE body sentence:
        # one-per-modified-hashgroup keeps only the best posting, at
        # the 5-word sentence's (lower) density — it scores, but below
        # the short-sentence docs (reference top-slot semantics)
        assert 0 < got[3] < got[1]
    finally:
        load_synonyms({})


def test_two_pass_with_variants_matches_truth(ref_two_pass_index, spark,
                                              small_conf):
    """Bound-certified top-k + variant sublists: a doc reachable only
    through a synonym must be bounded through its slot (the slot mapping
    includes syn termlists) and the result must equal the k=None ground
    truth."""
    from open_source_search_engine_spark.functions.synonyms import (
        load_synonyms,
    )
    from open_source_search_engine_spark.query.executor import (
        search,
        search_all,
    )

    load_synonyms({"kiwi": ("mango",)})  # 'kiwi' absent from the corpus
    try:
        conf = _ref_conf(small_conf)
        truth = sorted(
            search_all(spark, ref_two_pass_index, "apple kiwi",
                       conf=conf, synonyms=True).collect(),
            key=lambda r: (-r["score"], r["doc_id"]))[:10]
        assert truth, "synonym coverage produced no matches"
        got = search(spark, ref_two_pass_index, "apple kiwi", k=10,
                     conf=conf, synonyms=True).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in truth]
        for g, t in zip(got, truth):
            assert g["score"] == t["score"]
    finally:
        load_synonyms({})


# ---------------------------------------------------------------------------
# bound soundness (round 4): the in-group top-k certificate is only
# valid if the per-doc upper bound dominates the exact score for EVERY
# posting shape — property-tested over random termlists
# ---------------------------------------------------------------------------

from hypothesis import example, given, settings
from hypothesis import strategies as st


def _rand_ctx(draw, allow_link):
    hgs = [HASHGROUP_BODY, HASHGROUP_TITLE, HASHGROUP_HEADING]
    if allow_link:
        hgs.append(HASHGROUP_INLINKTEXT)
    return ctx(
        hg=draw(st.sampled_from(hgs)),
        den=draw(st.integers(0, MAXDENSITYRANK)),
        div=draw(st.integers(0, MAXDIVERSITYRANK)),
        spam=draw(st.integers(0, MAXWORDSPAMRANK)),
        syn=draw(st.integers(0, 1)),
    )


@st.composite
def _doc_terms(draw):
    T = draw(st.integers(1, 3))
    allow_link = draw(st.booleans())
    terms = []
    for _ in range(T):
        n = draw(st.integers(1, 6))
        poss = sorted(draw(st.lists(st.integers(0, 300), min_size=n,
                                    max_size=n)))
        ctxs = [_rand_ctx(draw, allow_link) for _ in range(n)]
        terms.append((poss, ctxs))
    tfws = [draw(st.sampled_from([0.5, 0.75, 1.0])) for _ in range(T)]
    sr = draw(st.integers(0, 15))
    return terms, tfws, sr


def _batch_style_bound(tls, tfws, site_rank):
    """The exact bound arithmetic of the ``score_group`` body that
    executor.make_reference_group returns, re-derived here from the
    same refscore helpers over one doc."""
    import numpy as np

    from open_source_search_engine_spark.query.refscore import (
        SITERANK_MULTIPLIER,
        bound_factor_rows,
        precompute_postings,
    )

    n_req = len(tls)
    pos_all = np.concatenate([t[0] for t in tls]).astype(np.int64)
    ctx_all = np.concatenate([t[1] for t in tls]).astype(np.int64)
    lens = np.array([len(t[0]) for t in tls], dtype=np.int64)
    row_of = np.repeat(np.arange(n_req, dtype=np.int64), lens)
    pre = precompute_postings(pos_all, ctx_all, W)
    u, s, g, m = bound_factor_rows(pre, row_of, n_req)
    ub = min(u[i] * tfws[i] * tfws[i] for i in range(n_req))
    if n_req >= 2:
        pair_ub = float("inf")
        for i in range(n_req):
            for j in range(i + 1, n_req):
                core = min(s[i] * g[j] + (s[j] - m[j]) * g[i],
                           (s[i] - m[i]) * g[j] + s[j] * g[i])
                pair_ub = min(pair_ub,
                              core * 100.0 * tfws[i] * tfws[j])
        ub = min(ub, pair_ub)
    sr = float(site_rank)
    adj = sr + max(15.0 - sr, 0.0) / 3.0
    return ub * (adj * float(SITERANK_MULTIPLIER) + 1.0) * 1.001 + 1e-12


@settings(max_examples=300, deadline=None)
@given(_doc_terms())
def test_candidate_bound_dominates_exact_score(doc):
    """For any posting shape (hashgroups incl. INLINKTEXT, densities,
    diversities, spam ranks, syn flags, 1-3 terms, any positions), the
    slot-structured single bound min-combined with the pair bound must
    be >= the exact score_doc result — the soundness invariant the
    in-group top-k certificate rests on (a doc past the heap break can
    never score above its bound)."""
    import numpy as np

    terms, tfws, sr = doc
    tls = [tl(np.asarray(p, dtype=np.int64),
              np.asarray(c, dtype=np.int64)) for p, c in terms]
    qpos = [2 * i for i in range(len(tls))]
    exact = score_doc(tls, tfws, qpos, sr, W)
    if exact is None:
        return  # doc skipped by the reference (minScore <= 0)
    bound = _batch_style_bound(terms, tfws, sr)
    assert bound >= exact, (terms, tfws, sr, exact, bound)


@st.composite
def _pair_doc(draw):
    """Two terms over every hashgroup (several non-body modified
    hashgroups per side), with a wiki phrase or a quoted run, and any
    window winner: -1 or one of the term's body postings."""
    terms, wins = [], []
    link = draw(st.booleans())
    hgs = [h for h in range(11) if link or h != HASHGROUP_INLINKTEXT]
    for _ in range(2):
        n = draw(st.integers(1, 8))
        poss = sorted(draw(st.lists(st.integers(0, 300), min_size=n,
                                    max_size=n)))
        hg = draw(st.lists(st.sampled_from(hgs), min_size=n, max_size=n))
        ctxs = [ctx(hg=h,
                    den=draw(st.integers(0, MAXDENSITYRANK)),
                    div=draw(st.integers(0, MAXDIVERSITYRANK)),
                    spam=draw(st.integers(0, MAXWORDSPAMRANK)),
                    syn=draw(st.integers(0, 1))) for h in hg]
        body = [i for i, h in enumerate(hg) if _IN_BODY[h]]
        wins.append(draw(st.sampled_from([-1] + body)))
        terms.append((poss, ctxs))
    qpos = sorted(draw(st.lists(st.integers(0, 6), min_size=2,
                                max_size=2, unique=True)))
    wiki = draw(st.sampled_from([0, 1]))
    quote = draw(st.sampled_from([-1, 0]))
    return terms, wins, qpos, wiki, quote


@settings(max_examples=300, deadline=None)
@given(_pair_doc())
# title + body against meta + body: the body state (1, 1) joins the
# title-labelled slot through its m2, leaving two slots labelled m2 =
# BODY, which a one-max-per-m2-hashgroup bound counts once
@example(([([0, 0, 0, 0, 0, 0, 1, 1], [0, 0, 0, 0, 0, 32768, 0, 32768]),
           ([0, 0, 0, 1], [0, 0, 131072, 0])], [6, 3], [0, 2], 0, -1))
def test_pair_bounds_dominate_pair_total(doc):
    """Both pair bounds of ``score_group`` — the ctx-only one from
    ``bound_factor_rows`` and the position-reading
    ``positional_pair_bounds`` — must dominate the ``pair_score_for_any``
    total for any window winner. Slots sharing a modified hashgroup on
    one side can both survive (a state joins the first slot matching
    either side), so a bound summing one max per hashgroup of one side
    undercuts such totals."""
    from open_source_search_engine_spark.query.refscore import (
        bound_factor_rows,
        pair_qdist,
        pair_score_for_any,
        positional_pair_bounds,
        precompute_postings,
    )

    terms, wins, qpos, wiki, quote = doc
    tls = [tl(p, c) for p, c in terms]
    tp = pair_score_for_any(tls[0], tls[1], qpos[0], qpos[1], wiki, wiki,
                            quote, quote, wins[0], wins[1], 1.0, 1.0, W)
    pos_all = np.concatenate([np.asarray(p, np.int64) for p, _ in terms])
    ctx_all = np.concatenate([np.asarray(c, np.int64) for _, c in terms])
    slot = np.repeat([0, 1], [len(p) for p, _ in terms])
    pre = precompute_postings(pos_all, ctx_all, W)
    u, s, g, m = bound_factor_rows(pre, slot, 2)
    ctx_ub = 100.0 * min(s[0] * g[1] + (s[1] - m[1]) * g[0],
                         (s[0] - m[0]) * g[1] + s[1] * g[0])
    qd = pair_qdist(qpos[0], qpos[1], wiki, wiki, quote, quote)
    pos_ub = positional_pair_bounds(
        pre, np.arange(len(pos_all)), np.zeros(len(pos_all), np.int64),
        slot, 1, [(0, 1, qd)])[0, 0]
    assert ctx_ub * 1.001 >= tp, (doc, float(tp), ctx_ub)
    assert pos_ub * 1.001 >= tp, (doc, float(tp), pos_ub)


# ---------------------------------------------------------------------------
# single-term ctx-only exact path (r5: no position decode for one-slot
# queries — minPairScore stays -1 so the score reads only ctx weights)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ref_anchor_index(spark, small_conf, tmp_path_factory):
    """Corpus with titles (second modified hashgroup), heavy repetition
    (word-spam ranks fire), an in-corpus link whose anchor text carries
    the query term (INLINKTEXT postings -> the sequential fallback and
    the inlinker-siterank adjustment), and a doc matching ONLY via the
    anchor."""
    import datetime as dt

    import pandas as pd

    from open_source_search_engine_spark.index.build import build_index

    rows = []
    for did in range(1, 31):
        body = ("apple " * (1 + did % 5)
                + "filler words vary here " * (did % 4)
                + "apple apple apple " * (did % 3))  # spam shapes
        if did == 7:
            body = "no fruit in this body at all"
        links = ""
        if did == 3:
            # linker: anchor text 'apple orchard' targets doc 7
            links = ('<a href="http://s7.example/p/7.html">apple '
                     "orchard</a>")
        html = (f"<html><head><title>page {did} apple</title></head>"
                f"<body><p>{body}</p>{links}</body></html>")
        rows.append({
            "url": f"http://s{did}.example/p/{did}.html",
            "warc_ts": dt.datetime(2024, 1, 1),
            "html": html.encode(), "text": body, "lang": "en",
            "doc_id": did,
        })
    d = str(tmp_path_factory.mktemp("refanchor"))
    build_index(spark, spark.createDataFrame(pd.DataFrame(rows)), d,
                conf=small_conf, gen=0)
    return d


@pytest.mark.parametrize("q", ["apple", "apple -filler"])
def test_single_term_ctx_only_path(ref_anchor_index, spark, small_conf,
                                   q):
    """The ctx-only single-term plan must be byte-identical to the
    position-decoding general plan — across title+body slot ordering,
    spammed occurrences, INLINKTEXT fallback rows (incl. the inlinker
    siterank adjustment), and negative terms."""
    import open_source_search_engine_spark.query.executor as ex

    conf = _ref_conf(small_conf)
    rd = ex.IndexReader(spark, ref_anchor_index, conf)
    cq = ex.compile_query(q)
    tids = [int(g.term_ids[0]) for g in cq.positive_groups]
    dfs = rd.df_of(tids)
    old = sorted(
        ex._reference_exact(spark, rd, cq, None, conf, dfs).collect(),
        key=lambda r: (-r["score"], r["doc_id"]))
    new = sorted(
        ex._reference_single_term(spark, rd, cq, None, conf,
                                  dfs).collect(),
        key=lambda r: (-r["score"], r["doc_id"]))
    assert [(r["doc_id"], r["score"]) for r in new] \
        == [(r["doc_id"], r["score"]) for r in old]
    if q == "apple":
        # the anchor-only doc must be present (INLINKTEXT fallback ran);
        # under -filler it is negated away in BOTH plans — its
        # neighborhood postings (linker text around the anchor) carry
        # 'filler'
        assert 7 in {r["doc_id"] for r in new}


def test_single_term_routes_to_ctx_only(ref_anchor_index, spark,
                                        small_conf, monkeypatch):
    """search() on a plain single-term reference query takes the
    ctx-only plan (and multi-term queries do not)."""
    import open_source_search_engine_spark.query.executor as ex

    calls = []
    orig = ex._reference_single_term

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(ex, "_reference_single_term", spy)
    conf = _ref_conf(small_conf)
    got = ex.search(spark, ref_anchor_index, "apple", k=5,
                    conf=conf).collect()
    assert len(got) == 5 and calls == [1]
    ex.search(spark, ref_anchor_index, "apple filler", k=5,
              conf=conf).collect()
    assert calls == [1]  # multi-term stayed on the general plan


@pytest.mark.parametrize("q,k", [
    ("apple AND (banana OR cherry)", 10),
    ("(apple AND banana) OR mango", 15),
    ("apple OR banana", 10),
])
def test_boolean_reference_two_pass_matches_exhaustive(
        ref_two_pass_index, spark, small_conf, q, k):
    """r5: boolean-reference top-k (vote-buffer members as the
    candidate set, require_all=False, in-group bounds over each
    member's present slots and pairs) must stay byte-identical to the
    exhaustive k=None scoring."""
    import open_source_search_engine_spark.query.executor as ex

    conf = _ref_conf(small_conf)
    truth = sorted(
        ex.search_all(spark, ref_two_pass_index, q, conf=conf).collect(),
        key=lambda r: (-r["score"], r["doc_id"]))[:k]
    got = ex.search(spark, ref_two_pass_index, q, k=k,
                    conf=conf).collect()
    assert [(r["doc_id"], r["score"]) for r in got] \
        == [(r["doc_id"], r["score"]) for r in truth]


def test_single_term_ctx_only_on_anchor_free_multi_gen(
        spark, small_conf, tmp_path, monkeypatch):
    """r5: anchor-free multi-gen indexes keep the ctx-only single-term
    plan (newest-wins guarantees one row per (term, doc)); an
    anchor-carrying index falls back to the general plan."""
    import datetime as dt

    import pandas as pd

    import open_source_search_engine_spark.query.executor as ex
    from open_source_search_engine_spark.index.build import build_index

    def wt(rows):
        recs = [{"url": f"http://s{d}.example/p/{d}.html",
                 "warc_ts": dt.datetime(2024, 1, 1),
                 "html": f"<html><body><p>{t}</p></body></html>".encode(),
                 "text": t, "lang": "en", "doc_id": d}
                for d, t in rows]
        return spark.createDataFrame(pd.DataFrame(recs))

    d = str(tmp_path / "nolinks")
    build_index(spark, wt([(1, "apple pie"), (2, "apple tart")]), d,
                conf=small_conf, gen=0)
    build_index(spark, wt([(1, "apple strudel"), (3, "apple cake")]),
                d, conf=small_conf, gen=1)

    calls = []
    orig = ex._reference_single_term

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(ex, "_reference_single_term", spy)
    conf = EngineConf(scorer="reference",
                      n_buckets=small_conf.n_buckets,
                      n_salts=small_conf.n_salts,
                      salt_df_threshold=small_conf.salt_df_threshold)
    got = sorted(r["doc_id"] for r in
                 ex.search_all(spark, d, "apple", conf=conf).collect())
    assert got == [1, 2, 3] and calls == [1]  # fast path on 2 gens

    # anchor-carrying multi-gen index: the general plan
    d2 = str(tmp_path / "links")
    build_index(spark, wt([(1, "apple pie"), (2, "apple tart")]), d2,
                conf=small_conf, gen=0)
    linker = [{"url": "http://l.example/x.html",
               "warc_ts": dt.datetime(2024, 1, 2),
               "html": ('<html><body><p>linker apple '
                        '<a href="http://s1.example/p/1.html">apple '
                        "anchor</a></p></body></html>").encode(),
               "text": "linker apple apple anchor",
               "lang": "en", "doc_id": 9}]
    import pandas as pd2  # noqa: F401
    build_index(spark, spark.createDataFrame(pd.DataFrame(linker)), d2,
                conf=small_conf, gen=1)
    calls.clear()
    got2 = {r["doc_id"] for r in
            ex.search_all(spark, d2, "apple", conf=conf).collect()}
    assert {1, 2, 9} <= got2 and calls == []  # general plan used


# ---------------------------------------------------------------------------
# one-stage exact plan: per-salt decode-and-score over blob rows
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("index,q,syns", [
    ("ref_index", "needle thread", False),
    ("ref_two_pass_index", "apple banana -mango", False),
    ("ref_two_pass_index", "apple kiwi", True),  # kiwi -> mango variant
])
def test_reference_exact_is_one_python_stage(request, spark, small_conf,
                                             index, q, syns):
    """A multi-term reference top-k (negative terms and synonym variants
    included) runs ONE pandas UDF node, the per-salt
    FlatMapGroupsInPandas, with no MapInPandas decode stage; no exchange
    carries decoded positions or ctxs — only blob rows cross it."""
    import re

    from open_source_search_engine_spark.functions.synonyms import (
        load_synonyms,
    )
    from open_source_search_engine_spark.query.executor import search

    load_synonyms({"kiwi": ("mango",)} if syns else {})
    try:
        df = search(spark, request.getfixturevalue(index), q, k=10,
                    conf=_ref_conf(small_conf), synonyms=syns)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
    finally:
        load_synonyms({})
    tree, _, details = plan.partition("\n\n\n")
    udf_nodes = re.findall(r"\w*(?:InPandas|InArrow|EvalPython)\w*", tree)
    assert udf_nodes == ["FlatMapGroupsInPandas"]
    inputs = re.findall(r"\(\d+\) \w*Exchange\s*\nInput \[\d+\]: \[(.*)\]",
                        details)
    assert inputs
    for cols in inputs:
        names = {c.split("#")[0].strip() for c in cols.split(",")}
        assert not names & {"positions", "ctxs"}, cols


def test_reference_group_decodes_positions_lazily(ref_two_pass_index,
                                                  spark, small_conf):
    """Replays every salt group of a 2-term top-10 in-process on the
    ``_wand_seg_frame`` rows: blobs decode ctx-only, and only the blocks
    of docs the bound-ordered loop reaches get positions decoded —
    fewer than the groups hold — while the merged top-k stays equal to
    the k=None ground truth."""
    import pandas as pd

    import open_source_search_engine_spark.query.executor as ex

    conf = _ref_conf(small_conf)
    rd = ex.IndexReader(spark, ref_two_pass_index, conf)
    cq = ex.compile_query("apple banana")
    tids = [int(g.term_ids[0]) for g in cq.positive_groups]
    n_salts = rd.meta["conf"]["n_salts"]
    seg = ex._wand_seg_frame(rd, tids, n_salts).toPandas()
    counters: dict = {}
    fn = ex.make_reference_group(cq, rd.df_of(tids), rd.n_docs, conf, 10,
                                 n_salts, events=rd.live_events(),
                                 counters=counters)
    got = pd.concat([fn(g) for _, g in seg.groupby("salt")])
    top = sorted(zip(got["score"], got["doc_id"]),
                 key=lambda t: (-t[0], t[1]))[:10]
    truth = sorted(ex.search_all(spark, ref_two_pass_index, "apple banana",
                                 conf=conf).collect(),
                   key=lambda r: (-r["score"], r["doc_id"]))[:10]
    assert counters["blocks"] > n_salts * len(tids)  # several per blob
    assert counters["blocks_pos_decoded"] < counters["blocks"], counters
    assert [(int(d), s) for s, d in top] \
        == [(r["doc_id"], r["score"]) for r in truth]


def test_reference_exact_multi_gen_matches_compacted(spark, small_conf,
                                                     tmp_path):
    """Newest-wins and negative terms inside the group body: on an index
    with a tombstone generation and a re-crawl generation, a two-term
    and an ``a b -c`` reference query return the same doc ids and
    scores as after ``compact_index``. Every doc holds both query terms,
    so their df ratio clamps the term-freq weight in both states, and
    70 docs salt them (exact rows) in the base generation while the
    small re-crawl keeps them in shared rows."""
    import datetime as dt

    import pandas as pd

    from open_source_search_engine_spark.index.build import (
        build_index,
        compact_index,
        delete_docs,
    )
    from open_source_search_engine_spark.query.executor import search

    def corpus(texts, day):
        return spark.createDataFrame(pd.DataFrame([{
            "url": f"http://s{did % 7}.example/p/{did}.html",
            "warc_ts": dt.datetime(2024, 1, day),
            "html": f"<html><body><p>{t}</p></body></html>".encode(),
            "text": t, "lang": "en", "doc_id": did}
            for did, t in texts.items()]))

    base = {did: ("alpha " + "pad " * (did % 5) + "beta "
                  + "word " * (did % 3)
                  + ("gamma" if did % 4 == 0 else "tail"))
            for did in range(1, 71)}
    d = str(tmp_path / "mgidx")
    build_index(spark, corpus(base, 1), d, conf=small_conf, gen=0)
    delete_docs(spark, d, [2, 5, 9], gen=1)
    # re-crawl: 4 drops gamma, 3 gains it, 6 changes its proximity,
    # 5 comes back after its tombstone
    recrawl = {3: "alpha beta gamma", 4: "alpha beta tail",
               5: "beta pad alpha", 6: "alpha pad pad pad pad beta"}
    build_index(spark, corpus(recrawl, 2), d, conf=small_conf, gen=2)

    conf = _ref_conf(small_conf)
    queries = [("alpha beta", k) for k in (None, 10)] + \
        [("alpha beta -gamma", k) for k in (None, 10)]

    def run():
        out = {}
        for q, k in queries:
            rows = search(spark, d, q, k=k, conf=conf).collect()
            out[q, k] = sorted(((r["doc_id"], r["score"]) for r in rows),
                               key=lambda t: (-t[1], t[0]))
        return out

    before = run()
    compact_index(spark, d, conf=small_conf)
    after = run()
    assert before == after
    docs = {did for did, _ in before["alpha beta", None]}
    assert docs == set(base) - {2, 9}
    neg = {did for did, _ in before["alpha beta -gamma", None]}
    assert 4 in neg and 3 not in neg and 8 not in neg
    assert len(before["alpha beta", 10]) == 10
