"""Seeded, df-controlled query generator.

Terms come from the built index's own lexicon and term stats
(``IndexReader.lexicon`` / ``IndexReader.term_stats``), grouped into df
bands by their share of the live documents. A query is a shape (a
template over bands) filled with seeded draws from those bands, so the
same seed over the same index gives the same query strings. The engine
sees only the strings.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass

# df / n_docs ranges, lower bound exclusive, upper inclusive. The bands
# are narrow so that every seed draws terms of about the same cost; terms
# between bands are never drawn.
BANDS = {
    "rare": (0.0, 0.005),
    "mid": (0.01, 0.1),
    "common": (0.52, 0.65),
    "stop": (0.65, 0.85),
}

# plain words only: no field prefixes, no operator spellings
_WORD = re.compile(r"^[a-z]+[0-9]*$")
_OPERATOR_WORDS = {"and", "or", "not"}


@dataclass(frozen=True)
class Query:
    text: str
    shape: str
    scorer: str  # EngineConf.scorer: "bm25" | "reference"


# shape name -> (template, scorer); each {band} slot takes one draw
SERVE_SHAPES = {
    "term": ("{mid}", "bm25"),
    "and2": ("{common} {common}", "bm25"),
    "phrase": ('"{common} {common}"', "bm25"),
    "or2": ("{mid} OR {mid}", "bm25"),
    "not": ("{mid} -{rare}", "bm25"),
}

# one shape, one scorer: a single cost class (the block-max WAND plan
# costs about half as much on these terms, so mixing the two would put
# the median on the boundary between them)
HEAVY_SHAPES = {
    "ref2": ("{stop} {stop}", "reference"),
}

_SLOT = re.compile(r"\{(\w+)\}")


def band_terms(reader) -> dict[str, list[str]]:
    """Plain-word terms of the reader's snapshot per df band, sorted."""
    n_docs = reader.n_docs
    rows = (reader.lexicon().join(reader.term_stats(), "term_id")
            .select("term", "df").collect())
    out: dict[str, list[str]] = {b: [] for b in BANDS}
    for r in rows:
        t = r["term"]
        if not _WORD.match(t) or t in _OPERATOR_WORDS:
            continue
        frac = r["df"] / n_docs
        for band, (lo, hi) in BANDS.items():
            if lo < frac <= hi:
                out[band].append(t)
                break
    for terms in out.values():
        terms.sort()
    return out


def generate(terms: dict[str, list[str]], shapes: dict, n: int,
             seed: int) -> list[Query]:
    """``n`` distinct queries cycling through ``shapes`` in order, slots
    drawn with ``random.Random(seed)``; a query never repeats a term."""
    rng = random.Random(seed)
    names = list(shapes)
    out: list[Query] = []
    seen: set[tuple[str, str]] = set()
    tries = 0
    while len(out) < n:
        tries += 1
        if tries > 100 * n:
            raise RuntimeError(
                f"cannot draw {n} distinct queries from bands "
                f"{ {b: len(t) for b, t in terms.items()} }")
        name = names[len(out) % len(names)]
        template, scorer = shapes[name]
        used: list[str] = []

        def draw(m):
            pool = [t for t in terms[m.group(1)] if t not in used]
            if not pool:
                raise RuntimeError(f"df band {m.group(1)!r} is empty")
            used.append(rng.choice(pool))
            return used[-1]

        text = _SLOT.sub(draw, template)
        if (text, scorer) in seen:
            continue
        seen.add((text, scorer))
        out.append(Query(text, name, scorer))
    return out


def band_shares(queries: list[Query], shapes: dict) -> dict[str, float]:
    """Share of drawn terms per df band over ``queries``."""
    counts = {b: 0 for b in BANDS}
    for q in queries:
        for band in _SLOT.findall(shapes[q.shape][0]):
            counts[band] += 1
    total = sum(counts.values())
    return {b: round(c / total, 4) for b, c in counts.items()}
