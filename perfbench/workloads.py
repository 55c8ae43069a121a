"""The benchmark's workloads, each a single-client closed loop of top-10
queries over an index of seeded synthetic webtext.

- ``serve``: one-term, AND, phrase, OR and NOT queries over rare, mid-df
  and common terms. Each costs near Spark's per-job floor, so driver-side
  compile, planning and the job count carry it.
- ``heavy``: two stopword-df terms (df near every doc) under the
  reference scorer (two-pass certificate). Time goes to block decode and
  the score UDFs.

A run warms the process with a throwaway build of a small corpus, times
the build of the base corpus from parquet, runs the exhaustive search of
every query (the correctness baseline) and one untimed top-10 pass, then
times a fixed number of passes and checks every result. A traced run
goes on through a tombstone batch and a re-crawl batch, queries that
3-generation state, and runs ``maybe_compact``.

Only public entry points are driven: ``session.get_spark``,
``sources.webtext.synthesize_rows``, ``index.build.build_index`` /
``delete_docs`` / ``maybe_compact``, ``query.compiler.compile_query``,
``query.executor.IndexReader`` / ``search``, plus Spark's status tracker.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass
from statistics import median

import pandas as pd

from . import harness, querygen
from .check import topk_ok
from .harness import metric

K = 10

WARMUP_DOCS = 20           # docs in the throwaway warm-up build
TOMBSTONES = 40            # docs deleted by the tombstone batch
RECRAWL_PAGES = 80         # pages in the re-crawl batch
COMPACT_AT = 2             # maybe_compact threshold, segment generations

RECRAWL_PARAGRAPH = b"<p>updated page revision fox dog.</p>"

# index layout sized to a corpus of hundreds of docs: 4 termId buckets and
# 4 salts (the defaults, 64 and 16, are sized for millions of docs)
INDEX_LAYOUT = {"n_buckets": 4, "n_salts": 4}


def _confs():
    from open_source_search_engine_spark.config import EngineConf

    return {"bm25": EngineConf(**INDEX_LAYOUT),
            "reference": EngineConf(scorer="reference", **INDEX_LAYOUT)}


def recrawl_rows(pages: pd.DataFrame) -> pd.DataFrame:
    """Re-crawled copies of ``pages``: same url, a changed body, a later
    crawl time."""
    from open_source_search_engine_spark.functions.extractor import (
        extract_text,
    )

    html = [h.replace(b"</body>", RECRAWL_PARAGRAPH + b"</body>", 1)
            for h in pages["html"]]
    return pages.assign(html=html, text=[extract_text(h) for h in html],
                        warc_ts=pages["warc_ts"] + pd.Timedelta(days=1))


def dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


class Driver:
    """The engine calls of one run, each wrapped in a span."""

    def __init__(self, bench: harness.Bench):
        self.b = bench
        self.spark = bench.spark
        self.tr = bench.tracer
        self.confs = _confs()

    def write_corpus(self, pages: pd.DataFrame, path: str,
                     role: str) -> None:
        """Write webtext rows as one parquet file with the engine's
        ``WEBTEXT_SCHEMA`` types (crawl times in UTC microseconds)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        with self.tr.span("sources.webtext.corpus_write", role=role):
            table = pa.Table.from_pandas(pages, preserve_index=False)
            table = table.cast(pa.schema([
                pa.field("url", pa.string()),
                pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
                pa.field("html", pa.binary()),
                pa.field("text", pa.string()),
                pa.field("lang", pa.string())]))
            os.makedirs(path, exist_ok=True)
            pq.write_table(table, os.path.join(path, "part-0.parquet"))

    def build(self, path: str, index_dir: str, role: str,
              gen: int = 0) -> dict:
        """``build_index`` from a parquet corpus; returns its span, with
        the stage seconds ``build_index`` reports."""
        from open_source_search_engine_spark.index.build import build_index

        with self.tr.jobs() as counts:
            with self.tr.span("index.build.build_index", role=role,
                              gen=gen) as rec:
                meta = build_index(self.spark, self.spark.read.parquet(path),
                                   index_dir, conf=self.confs["bm25"],
                                   gen=gen, resume=False)
        rec.update(stages=meta["secs"], **counts)
        return rec

    def delete(self, index_dir: str, doc_ids: list[int], gen: int) -> None:
        from open_source_search_engine_spark.index.build import delete_docs

        with self.tr.span("index.build.delete_docs", gen=gen):
            delete_docs(self.spark, index_dir, doc_ids, gen=gen)

    def maybe_compact(self, index_dir: str) -> None:
        from open_source_search_engine_spark.index.build import maybe_compact

        with self.tr.span("index.build.maybe_compact") as rec:
            meta = maybe_compact(self.spark, index_dir,
                                 min_to_merge=COMPACT_AT,
                                 conf=self.confs["bm25"])
        if meta is not None:
            rec["bytes"] = harness.gen_bytes(index_dir, meta["gens"][0])

    def open_reader(self, index_dir: str):
        """A fresh reader with its snapshot stats loaded: ready to serve."""
        from open_source_search_engine_spark.query.executor import (
            IndexReader,
        )

        with self.tr.span("query.executor.reader_open"):
            rd = IndexReader(self.spark, index_dir, self.confs["bm25"])
            rd.n_docs
            rd.avgdl
        return rd

    def query(self, rd, index_dir: str, q: querygen.Query, state: str,
              traced: bool) -> tuple[dict, list]:
        """One top-k query, search + collect, in a ``query`` span with
        ``ok`` False until the caller checks the result. Traced, the span
        has compile, plan (until ``search`` returns its lazy DataFrame)
        and exec (collect) children and the Spark job counts of the
        call."""
        from open_source_search_engine_spark.query.compiler import (
            compile_query,
        )
        from open_source_search_engine_spark.query.executor import search

        tr = self.tr
        conf = self.confs[q.scorer]
        attrs = {"state": state, "shape": q.shape, "text": q.text,
                 "gens": len(rd.gens), "traced": traced, "ok": False}
        if not traced:
            with tr.span("query", **attrs) as rec:
                rows = search(self.spark, index_dir, q.text, k=K, conf=conf,
                              reader=rd).collect()
            return rec, rows
        with tr.jobs() as counts:
            with tr.span("query", **attrs) as rec:
                with tr.span("query.compiler.compile"):
                    compile_query(q.text)
                with tr.span("query.executor.plan"):
                    df = search(self.spark, index_dir, q.text, k=K,
                                conf=conf, reader=rd)
                with tr.span("query.executor.exec"):
                    rows = df.collect()
        rec.update(counts)
        return rec, rows

    def exhaustive(self, rd, index_dir: str, q: querygen.Query) -> list:
        from open_source_search_engine_spark.query.executor import search

        rows = search(self.spark, index_dir, q.text, k=None,
                      conf=self.confs[q.scorer], reader=rd).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def exhaustive_pass(d: Driver, rd, index_dir: str, queries) -> dict:
    """The exhaustive result of every query on this index state. Untimed;
    it is also the first warm-up pass over the query sequence."""
    return {q: d.exhaustive(rd, index_dir, q) for q in queries}


def timed_queries(d: Driver, rd, index_dir: str, queries, truth: dict,
                  passes: int, state: str, traced_only: bool = False) -> None:
    """``passes`` timed passes over ``queries`` on ``rd``; each result is
    checked, untimed, against ``truth``. A query that raises or returns a
    wrong top-k is a failed op. Traced runs trace every other query,
    alternating by pass, so each query runs both ways and the tracing
    overhead is measured in-run; ``traced_only`` traces every query."""
    b = d.b
    for p in range(passes):
        for i, q in enumerate(queries):
            traced = b.trace and (traced_only or (p + i) % 2 == 1)
            b.attempted += 1
            try:
                rec, rows = d.query(rd, index_dir, q, state, traced)
            except Exception as exc:  # an engine error fails the op
                b.failed += 1
                b.info.setdefault("errors", []).append(
                    f"{state} {q.text!r}: {exc!r}"[:300])
                continue
            got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
            rec["ok"] = topk_ok(got, truth[q], K)
            if not rec["ok"]:
                b.failed += 1
                b.info.setdefault("errors", []).append(
                    f"{state} {q.text!r}: top-{K} mismatch")


def state_summary(tr: harness.Tracer) -> list[dict]:
    """Run details per index state: median latency per shape of the
    untraced queries, and Spark jobs per traced query."""
    out = []
    for state in dict.fromkeys(r["state"] for r in tr.named("query")):
        recs = tr.named("query", state=state, ok=True)
        row = {"state": state,
               "gens": tr.named("query", state=state)[0]["gens"]}
        shapes: dict[str, list[float]] = {}
        for r in recs:
            if not r["traced"]:
                shapes.setdefault(r["shape"], []).append(dur(r))
        row["shape_p50_s"] = {k: round(median(v), 4)
                              for k, v in shapes.items()}
        traced = [r["jobs"] for r in recs if r["traced"]]
        if traced:
            row["jobs_per_query"] = round(sum(traced) / len(traced), 3)
        out.append(row)
    return out


def query_metrics(tr: harness.Tracer) -> tuple[dict, dict]:
    """queries_per_s and query_p50_s of the untraced timed queries."""
    timed = tr.named("query", state="serving", traced=False)
    lat = [dur(r) for r in timed if r["ok"]]
    return {
        "queries_per_s": metric(len(lat) / sum(dur(r) for r in timed),
                                "1/s"),
        "query_p50_s": metric(median(lat), "s"),
    }, {"latency_samples": len(lat), "latency_max_s": round(max(lat), 4)}


def layer_metrics(tr: harness.Tracer, postings: int, seg_bytes: int,
                  n_docs: int) -> dict:
    """Per-layer metrics of a traced run, read from its spans."""
    base = tr.named("index.build.build_index", role="base")[0]
    recs = tr.named("query", traced=True, ok=True)
    for r in recs:
        parts = tr.children(r)
        r.update(compile_s=dur(parts["query.compiler.compile"]),
                 plan_s=dur(parts["query.executor.plan"]),
                 exec_s=dur(parts["query.executor.exec"]))
    nq = len(recs)

    def per_query(key):
        return sum(x[key] for x in recs) / nq

    def med(key):
        return median([x[key] for x in recs])

    def med_s(name, **attrs):
        return median([dur(r) for r in tr.named(name, **attrs)])

    serving = [dur(r) for r in tr.named("query", state="serving", ok=True)
               if r["traced"]]
    untraced = [dur(r) for r in tr.named("query", state="serving", ok=True)
                if not r["traced"]]
    compact = [r for r in tr.named("index.build.maybe_compact")
               if "bytes" in r]
    m = {
        "session.start_s": (med_s("session.start"), "s"),
        "sources.corpus_write_s": (
            med_s("sources.webtext.corpus_write", role="base"), "s"),
        "index.build.parse_s": (base["stages"]["parse"], "s"),
        "index.build.stats_s": (base["stages"]["stats"], "s"),
        "index.build.segments_s": (base["stages"]["segments"], "s"),
        "index.build.jobs": (base["jobs"], "count"),
        "index.build.postings_per_doc": (postings / n_docs, "postings/doc"),
        "index.build.bytes_per_posting": (seg_bytes / postings, "B/posting"),
        "index.build.delta_s": (
            med_s("index.build.build_index", role="delta"), "s"),
        "index.build.delete_s": (med_s("index.build.delete_docs"), "s"),
        "index.build.compact_s": (median(dur(r) for r in compact), "s"),
        "index.build.compact_bytes_rewritten": (
            sum(r["bytes"] for r in compact), "B"),
        "query.executor.reader_open_s": (
            med_s("query.executor.reader_open"), "s"),
        "query.executor.gens_at_query": (per_query("gens"), "count"),
        "query.compiler.compile_s": (med("compile_s"), "s"),
        "query.executor.plan_s": (med("plan_s"), "s"),
        "query.executor.exec_s": (med("exec_s"), "s"),
        "query.executor.executor_cpu_s": (med("executor_cpu_s"), "s"),
        "query.executor.jobs_per_query": (per_query("jobs"), "count"),
        "query.executor.tasks_per_query": (per_query("tasks"), "count"),
        "query.executor.input_bytes_per_query": (
            per_query("input_bytes"), "B"),
        "query.executor.shuffle_bytes_per_query": (
            per_query("shuffle_bytes"), "B"),
        "trace.overhead_pct": (
            100.0 * (median(serving) / median(untraced) - 1.0), "%"),
    }
    return {k: metric(v, u) for k, (v, u) in m.items()}


def _index_counts(rd, index_dir: str) -> tuple[int, int]:
    """(postings, segment bytes) of a one-generation index: exact."""
    from pyspark.sql import functions as F

    postings = int(rd.term_stats().agg(F.sum("df")).collect()[0][0])
    return postings, harness.tree_bytes(f"{index_dir}/segments")


def write_recrawl(d: Driver, rng: random.Random, pages: pd.DataFrame,
                  n_pages: int, path: str) -> None:
    """Write a re-crawl batch as parquet: a seeded sample of ``n_pages``
    of the corpus pages with changed bodies."""
    picked = sorted(rng.sample(range(len(pages)), n_pages))
    d.write_corpus(recrawl_rows(pages.iloc[picked]), path, role="recrawl")


@dataclass(frozen=True)
class Spec:
    """What distinguishes one workload from another."""
    docs: int           # base corpus size
    shapes: dict        # querygen shapes, cycled through in order
    distinct: int       # distinct queries a run draws
    rate: float         # timed queries issued per --seconds second


SPECS = {
    "serve": Spec(docs=500, shapes=querygen.SERVE_SHAPES, distinct=5,
                  rate=1.9),
    "heavy": Spec(docs=500, shapes=querygen.HEAVY_SHAPES, distinct=3,
                  rate=1.0),
}
MIN_PASSES = 2


def timed_passes(spec: Spec, seconds: int) -> int:
    """Passes over the distinct queries: a fixed count for a given
    ``--seconds`` (about that long at the rate measured when the
    benchmark was set), never a loop on the clock."""
    return max(MIN_PASSES, round(seconds * spec.rate / spec.distinct))


def run_workload(b: harness.Bench) -> dict:
    """Set up, run the timed queries and check them. Traced runs go on
    through tombstone and re-crawl batches, query that state, and run
    ``maybe_compact``."""
    from open_source_search_engine_spark.sources.webtext import (
        synthesize_rows,
    )

    spec = SPECS[b.workload]
    tr = b.tracer
    b.start()
    d = Driver(b)
    b.mark("session")
    # warm-up: the process's first build pays JVM and Python-worker
    # start-up; a throwaway build of a small corpus takes it
    d.write_corpus(synthesize_rows(WARMUP_DOCS, seed=b.seed),
                   b.path("warmup-corpus"), role="warmup")
    d.build(b.path("warmup-corpus"), b.path("warmup-index"), role="warmup")
    b.mark("warmup-build")
    corpus, idx = b.path("corpus"), b.path("index")
    pages = synthesize_rows(spec.docs, seed=b.seed)
    d.write_corpus(pages, corpus, role="base")
    build_s = dur(d.build(corpus, idx, role="base"))
    rd = d.open_reader(idx)
    n_docs = rd.n_docs
    b.mark("build")
    queries = querygen.generate(querygen.band_terms(rd), spec.shapes,
                                spec.distinct, b.seed)
    b.mark("querygen")
    truth = exhaustive_pass(d, rd, idx, queries)
    b.mark("exhaustive")
    for q in queries:  # warm-up: one untimed top-10 pass
        d.query(rd, idx, q, "warmup", traced=False)
    setup_s = time.perf_counter() - b.t_start
    b.mark("warm")

    # a traced run times the fewest passes that run each query both
    # ways: its serving phase gives the tracing overhead and per-query
    # layer times, not the end-to-end metrics
    passes = MIN_PASSES if b.trace else timed_passes(spec, b.seconds)
    b.rss_reset()
    timed_queries(d, rd, idx, queries, truth, passes, "serving")
    rss_mb = b.rss_peak_mb()
    b.info["rss_peak_mb"] = {k: round(v, 1) for k, v in rss_mb.items()}
    qm, qinfo = query_metrics(tr)
    b.mark("timed+check")
    bytes_per_doc = harness.index_bytes(idx) / n_docs
    if b.trace:
        # the incremental write path: a tombstone batch and a re-crawl
        # batch (newest generation wins), the same queries traced on the
        # 3-generation state, then maybe_compact back to one generation
        postings, seg_bytes = _index_counts(rd, idx)
        rng = random.Random(b.seed)
        doc_ids = sorted(r["doc_id"] for r in rd.docs().select("doc_id")
                         .collect())
        d.delete(idx, rng.sample(doc_ids, TOMBSTONES), gen=max(rd.gens) + 1)
        recrawl = b.path("recrawl")
        write_recrawl(d, rng, pages, RECRAWL_PAGES, recrawl)
        d.build(recrawl, idx, role="delta", gen=max(rd.gens) + 2)
        rd = d.open_reader(idx)
        timed_queries(d, rd, idx, queries,
                      exhaustive_pass(d, rd, idx, queries), 1,
                      "tombstones+recrawl", traced_only=True)
        d.maybe_compact(idx)
        d.open_reader(idx)
        b.mark("write-path")
    b.info.update(docs=n_docs, distinct_queries=len(queries),
                  df_band_shares=querygen.band_shares(queries, spec.shapes),
                  queries=[f"{q.text} [{q.scorer}]" for q in queries],
                  states=state_summary(tr), **qinfo)
    if b.trace:
        return layer_metrics(tr, postings, seg_bytes, n_docs) | {
            "querygen.distinct_queries": metric(len(queries), "count")}
    return {
        "setup_s": metric(setup_s, "s"), **qm,
        "build_docs_per_s": metric(n_docs / build_s, "docs/s"),
        "index_bytes_per_doc": metric(bytes_per_doc, "B/doc"),
        "driver_rss_peak_mb": metric(rss_mb["python"], "MB"),
    }
