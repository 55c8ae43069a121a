"""High-frequency-term shortcut tests (HighFrequencyTermShortcuts.h;
Msg2.cpp:262-284 list substitution)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from open_source_search_engine_spark.config import EngineConf
from open_source_search_engine_spark.index.build import build_index
from open_source_search_engine_spark.index.shortcuts import (
    build_hf_shortcuts,
    shortcut_ids,
)
from open_source_search_engine_spark.query.executor import search, search_all


@pytest.fixture(scope="module")
def hf_index(spark, small_conf, tmp_path_factory):
    rows = []
    for d in range(1, 31):
        tf = 6 if d <= 5 else 1
        body = ("common " * tf) + f"filler{d:02d} rare words here"
        rows.append({
            "url": f"http://s{d % 3}.example/p/{d}.html",
            "warc_ts": dt.datetime(2024, 1, 1) + dt.timedelta(minutes=d),
            "html": f"<html><body><p>{body}</p></body></html>".encode(),
            "text": body, "lang": "en", "doc_id": d,
        })
    idx = str(tmp_path_factory.mktemp("hfidx"))
    build_index(spark, spark.createDataFrame(pd.DataFrame(rows)), idx,
                conf=small_conf, gen=0)
    # df_threshold 20 -> only corpus-wide terms ('common' + stopword-ish
    # fillers appearing everywhere) are registered
    n = build_hf_shortcuts(spark, idx, small_conf, top_c=8,
                           df_threshold=20)
    assert n > 0
    return idx


def _hconf(small_conf):
    return EngineConf(n_buckets=small_conf.n_buckets,
                      n_salts=small_conf.n_salts,
                      salt_df_threshold=small_conf.salt_df_threshold,
                      use_hf_shortcuts=True)


def test_shortcut_registration(hf_index, spark):
    from open_source_search_engine_spark.functions.gbhash import term_id

    ids = shortcut_ids(spark, hf_index)
    assert term_id("common") in ids
    assert term_id("filler01") not in ids  # df=1: never registered


def test_shortcut_topk_matches_exact(hf_index, spark, small_conf):
    """The substituted champion list preserves the exact top-k prefix
    for k <= top_c (the approximation only truncates the tail)."""
    exact = [r["doc_id"] for r in
             search(spark, hf_index, "common", k=30,
                    conf=small_conf).collect()]
    short = [r["doc_id"] for r in
             search(spark, hf_index, "common", k=30,
                    conf=_hconf(small_conf)).collect()]
    assert len(exact) == 30
    assert len(short) == 8            # truncated to top_c
    assert exact[:8] == short         # same ranked prefix


def test_shortcut_off_by_default(hf_index, spark, small_conf):
    # default conf: full list even though the table exists on disk
    got = search_all(spark, hf_index, "common", conf=small_conf).count()
    assert got == 30


def test_shortcut_unregistered_terms_unaffected(hf_index, spark,
                                                small_conf):
    got = {r["doc_id"] for r in
           search_all(spark, hf_index, "filler07",
                      conf=_hconf(small_conf)).collect()}
    assert got == {7}


def test_shortcut_multigen_newest_wins_bypass(spark, small_conf,
                                              tmp_path_factory):
    """Shortcut lists are built from the gen-RESOLVED postings view and
    pass the newest-wins mask untouched (gen = -1, codec.live_mask): a
    doc whose newest index event is a later delta generation still
    appears in shortcut results (code-review r2 finding #1)."""
    import datetime as dt

    import pandas as pd

    def wt(docs, suffix=""):
        rows = []
        for d in docs:
            body = ("common common common filler" + str(d) + suffix)
            rows.append({
                "url": f"http://s{d % 3}.example/p/{d}.html",
                "warc_ts": dt.datetime(2024, 1, 1),
                "html": f"<html><body><p>{body}</p></body></html>"
                .encode(),
                "text": body, "lang": "en", "doc_id": d})
        return spark.createDataFrame(pd.DataFrame(rows))

    idx = str(tmp_path_factory.mktemp("hfgen"))
    build_index(spark, wt(range(1, 21)), idx, conf=small_conf, gen=0)
    # re-crawl docs 1-5 at gen 1 (their keep_gen becomes 1)
    build_index(spark, wt(range(1, 6), suffix=" zz"), idx,
                conf=small_conf, gen=1)
    n = build_hf_shortcuts(spark, idx, small_conf, top_c=50,
                           df_threshold=10)
    assert n > 0
    got = {r["doc_id"] for r in
           search_all(spark, idx, "common",
                      conf=_hconf(small_conf)).collect()}
    # every doc present, including the gen-1 re-crawls
    assert got == set(range(1, 21))
