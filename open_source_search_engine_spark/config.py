"""Engine configuration.

Mirrors the reference's configurable ranking surface (``Parms.cpp:3594-4167``:
hash-group weights, density/diversity/termfreq ranges) plus our BM25 surface
(north rule: k1/b in config, defaults k1=1.2 b=0.75) and the build-time
partitioning/skew knobs (SURVEY.md §4.4).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .functions.posdb import DEFAULT_HASHGROUP_WEIGHTS


@dataclass(frozen=True)
class EngineConf:
    # BM25 scorer (north rule)
    k1: float = 1.2
    b: float = 0.75
    # scorer mode: "bm25" | "reference" (SURVEY.md §4.6)
    scorer: str = "bm25"
    # posting-stream codec: "pfor" (codec v4, default since the
    # windowed-gather decode landed: FOR-bitpacked docs streams,
    # 2.5-6% smaller blobs, full decode ~12% FASTER than varint and
    # header decode ~20% faster) | "varint" (codec v3, the previous
    # default) | "pfor_all" (codec v5, docs + tf/dl/rank + positions
    # + ctx all FOR-bitpacked: 21-28% smaller blobs at decode parity
    # and ~1.5x encode cost — the pick when segment bytes dominate;
    # see functions/codec.py encode_postings docstring for measured
    # numbers). Readers handle all versions transparently, including
    # mixed-version indexes across generations.
    docid_codec: str = "pfor"
    # reference-scorer two-pass candidate plan kicks in when the summed
    # query-term df reaches this (below it the extra fixed-cost Spark
    # job outweighs the decode saved); tests lower it to force the path
    ref_two_pass_min_postings: int = 100_000
    # sketch-informed planner gate: when the index has per-term docid
    # HLL sketches (term_sketch_p), a conjunctive top-k that the
    # df-ratio heuristics routed to WAND consults the estimated
    # INTERSECTION size first; estimates <= planner_selective_max_est
    # switch to the rarest-first candidate plan (tiny result sets keep
    # the WAND threshold low, so DAAT prunes little there). Purely a
    # plan choice — results are identical either way.
    planner_sketch_gate: bool = True
    planner_selective_max_est: float = 4096.0

    # reference-scorer weights (Parms.cpp:4067-4167 defaults)
    hashgroup_weights: tuple = DEFAULT_HASHGROUP_WEIGHTS
    density_weight_min: float = 0.35  # Parms.cpp:3638-3665
    density_weight_max: float = 1.0
    diversity_weight_min: float = 1.0
    diversity_weight_max: float = 1.0
    # termFreqWeight scale_linear parms (Parms.cpp:3600-3627,
    # Msg3a.cpp:1003-1008): min 0.0 max 0.5 -> weights 1.0 .. 0.5
    termfreq_min: float = 0.0
    termfreq_max: float = 0.5
    termfreq_weight_min: float = 1.0  # weight at min
    termfreq_weight_max: float = 0.5  # weight at max
    syn_weight: float = 0.9  # synonym/variant weight (SearchInput.cpp:74)
    # language boost (reference &qlang param; PosdbTable.cpp:4254-4275):
    # 0 = off (the reference default when no qlang is given). When set,
    # same-language docs score x same_lang_weight, unknown-language docs
    # x unknown_lang_weight (Parms.cpp defaults 20 / 10).
    query_lang: int = 0
    same_lang_weight: float = 20.0
    unknown_lang_weight: float = 10.0
    # page temperature (PageTemperatureRegistry.h:8-38; request defaults
    # Msg39.cpp:112-113). Off by default — the reference's registry is
    # empty unless loaded; our analog is a (doc_id, temperature) parquet
    # next to the index (query/pagetemp.py).
    use_page_temperature: bool = False
    page_temp_weight_min: float = 1.0
    page_temp_weight_max: float = 20.0
    page_temp_default: int = 5  # default_temperature (.h:27)

    # build partitioning / skew (SURVEY.md §4.4; north rule salted-key
    # splitting for stopword-heavy postings)
    n_buckets: int = 64          # termId hash buckets (partition pruning unit)
    n_salts: int = 16            # sub-lists for hot terms
    # terms with df above this get per-salt runs (doc_id % n_salts) so
    # the per-salt WAND serves every mid-df conjunctive query; below it
    # one SALT_SHARED run (build._effective_salt_min_df scales it down
    # for tiny corpora). Salting is a perf knob only — the WAND handles
    # any layout (shared rows fan out + residue-mask).
    salt_min_df: int = 1000
    # skew cap: the salting threshold never exceeds this df, so no
    # reducer owns more than this many postings of one term
    # (build._effective_salt_min_df); also caps the HF-shortcut df
    # threshold (index/shortcuts.py)
    salt_df_threshold: int = 100_000
    # HF-shortcut term set: df >= min(salt_df_threshold,
    # max(1000, salt_df_frac * n_docs)) — relative to corpus size, the
    # way HighFrequencyTermShortcuts picks its terms
    salt_df_frac: float = 0.05
    max_positions_per_doc: int = 255  # tf cap per (term,doc) blob entry

    # query
    default_top_k: int = 10
    # high-frequency-term shortcuts (HighFrequencyTermShortcuts.h;
    # Msg2.cpp:262 m_useHighFrequencyTermCache gate): substitute the
    # pre-truncated champion list for stopword-frequency termIds at
    # list-fetch. Off by default — it is an explicit approximation the
    # reference also gates behind conf.
    use_hf_shortcuts: bool = False

    # C2 multi-blob merge strategy (ADVICE r3): None = auto — bulk
    # (batched one-shared-sort) merge when each node runs <=16
    # concurrent workers, per-group merge on wider shared-memory-bus
    # nodes (measured A/B, BENCH.md §2). The auto heuristic reads
    # local[N] / spark.executor.cores and ASSUMES one executor JVM per
    # node (the typical sizing); deployments packing several executors
    # per node should set this explicitly (outputs are byte-identical
    # either way — this is perf-only).
    bulk_merge: bool | None = None

    # per-term docid HLL sketches as an index artifact (term_sketches/
    # gen=G parquet, <= vocab·2^p rows): set to the HLL precision p
    # (e.g. 8 -> 256 registers/term, ~6.5% union error) to enable. The
    # read side estimates conjunctive result sizes by register-max
    # union + inclusion-exclusion WITHOUT decoding posting lists —
    # the planner-scale analog of the reference's approximate termfreq
    # cache (Posdb.h:341). Registers merge by max across generations;
    # deletions are not subtracted (HLLs never subtract) until a
    # from-scratch rebuild. None (default) = off.
    term_sketch_p: int | None = None

    def bucket_of(self, term_id: int) -> int:
        return term_id % self.n_buckets


DEFAULT_CONF = EngineConf()
