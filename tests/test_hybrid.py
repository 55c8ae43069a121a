"""Hybrid lexical+vector retrieval with reciprocal-rank fusion
(query/hybrid.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.query.hybrid import (
    hybrid_search,
    rrf_fuse,
)


def _rank_frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, rank int")


def test_rrf_fuse_hand_math(spark):
    """rrf = sum over legs of 1/(60+rank); a doc in BOTH legs at
    middling ranks beats a doc that tops only one leg."""
    lex = _rank_frame(spark, [(1, 1), (2, 2), (3, 3)])
    vec = _rank_frame(spark, [(9, 1), (2, 2), (3, 4)])
    rows = rrf_fuse([lex, vec], k=10).collect()
    got = {r["doc_id"]: (r["rrf"], r["n_legs"]) for r in rows}
    assert got[2] == (round(1 / 62 + 1 / 62, 6), 2)
    assert got[3] == (round(1 / 63 + 1 / 64, 6), 2)
    assert got[1] == (round(1 / 61, 6), 1)
    assert got[9] == (round(1 / 61, 6), 1)
    # both-legs doc 2 outranks the single-leg rank-1 docs
    order = [r["doc_id"] for r in rows]
    assert order[0] == 2 and order[1] == 3
    # single-leg rrf tie (1/61 each) breaks doc_id ascending
    assert order[2:] == [1, 9]


def test_rrf_fuse_k_cut_and_validation(spark):
    lex = _rank_frame(spark, [(i, i) for i in range(1, 8)])
    rows = rrf_fuse([lex], k=3).collect()
    assert [r["doc_id"] for r in rows] == [1, 2, 3]
    with pytest.raises(ValueError):
        rrf_fuse([], k=3)


def test_hybrid_search_end_to_end(spark, small_conf, tmp_index):
    """A doc strong in only the lexical leg and a doc strong in only
    the vector leg both lose to the doc good in both."""
    import datetime as dt

    import pandas as pd

    from open_source_search_engine_spark.index.build import build_index

    rows = []
    texts = {
        1: "spark engine ranking " * 10,     # lexical + vector
        2: "spark engine ranking " * 10,     # lexical only (far vector)
        3: "unrelated filler words " * 10,   # vector only
        4: "other noise entirely " * 10,     # neither
    }
    for d, t in texts.items():
        rows.append({
            "url": f"http://s{d}.example/p/{d}.html",
            "warc_ts": dt.datetime(2024, 1, 1),
            "html": f"<html><body><p>{t}</p></body></html>".encode(),
            "text": t, "lang": "en", "doc_id": d,
        })
    build_index(spark, spark.createDataFrame(pd.DataFrame(rows)),
                tmp_index, conf=small_conf)
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1]),
         (4, [-1.0, 0.0])],
        "vec_id long, embedding array<float>")
    # k_each=2 keeps the legs selective: lexical top-2 = docs 1,2
    # (identical text, doc_id-asc tie), vector top-2 = docs 1,3
    out = hybrid_search(spark, tmp_index, "spark engine", [1.0, 0.0],
                        emb, k=4, k_each=2, conf=small_conf).collect()
    got = {r["doc_id"]: r for r in out}
    assert set(got) == {1, 2, 3}        # doc 4 in neither leg's top-2
    assert got[1]["n_legs"] == 2
    assert got[2]["n_legs"] == 1 and got[3]["n_legs"] == 1
    assert got[1]["rrf"] == round(1 / 61 + 1 / 61, 6)
    assert got[2]["rrf"] == got[3]["rrf"] == round(1 / 62, 6)
    # doc 1 (both legs) first; the 2-vs-3 rrf tie breaks doc_id asc
    assert [r["doc_id"] for r in out] == [1, 2, 3]

    with pytest.raises(ValueError):
        hybrid_search(spark, tmp_index, "spark", [1.0, 0.0], emb,
                      ann_impl="ivf", conf=small_conf)


def test_hybrid_fuses_indexed_ann_leg(spark, small_conf, tmp_index,
                                      tmp_path):
    """rrf_fuse composes with a persisted ANN probe leg (the
    documented plug-in path for non-brute vector legs)."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import Window

    from open_source_search_engine_spark.index.build import build_index
    from open_source_search_engine_spark.ops.ann import (
        build_ivf_index,
        ivf_topk_indexed,
    )
    from open_source_search_engine_spark.query.executor import search

    rows = [{
        "url": f"http://s{d}.example/p/{d}.html",
        "warc_ts": dt.datetime(2024, 1, 1),
        "html": b"<html><body><p>spark engine</p></body></html>",
        "text": "spark engine", "lang": "en", "doc_id": d,
    } for d in range(1, 9)]
    build_index(spark, spark.createDataFrame(pd.DataFrame(rows)),
                tmp_index, conf=small_conf)
    emb = spark.createDataFrame(
        [(d, [float(d % 3), float(d % 5)]) for d in range(1, 9)],
        "vec_id long, embedding array<float>")
    ann_dir = str(tmp_path / "ann")
    cents = build_ivf_index(emb, ann_dir, n_cells=2)
    vec = (ivf_topk_indexed(spark, ann_dir, cents, [1.0, 1.0], k=8)
           .select(F.col("vec_id").alias("doc_id"), "cos"))
    wv = Window.orderBy(F.col("cos").desc(), F.col("doc_id").asc())
    vec_rank = vec.select("doc_id",
                          F.row_number().over(wv).alias("rank"))
    lex = (search(spark, tmp_index, "spark", k=8, conf=small_conf)
           .select("doc_id", F.round("score", 6).alias("s")))
    wl = Window.orderBy(F.col("s").desc(), F.col("doc_id").asc())
    lex_rank = lex.select("doc_id",
                          F.row_number().over(wl).alias("rank"))
    out = rrf_fuse([lex_rank, vec_rank], k=8).collect()
    assert len(out) == 8
    assert all(r["n_legs"] >= 1 for r in out)
