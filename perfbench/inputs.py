"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same documents and the same pages. Page sizes and urls do not depend on
the seed, so every seed puts the same work into the same partitions (the
pipeline spreads pages by url hash); the seed varies the words. Contract pages go through the public
``spark.pages.synthesize_pages`` (the page body carries the document text
verbatim, so ``extracted_text == text`` is the expected output); the
heavy-tail nesting pages are built here and checked against the digests
in ``golden_nested.json``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window the a of and to in is it that for on with "
    "as at by from this be or an are was were has have which will about "
    "city river market garden winter summer morning evening letter paper"
).split()
EDIT_WORDS = ("edited", "revised", "amended", "updated", "changed", "new")
LANGS = ("en", "de", "fr", "es", "zh")

NEST_URL = "https://nest.example.test/d{depth}/{k}"
NEST_DEPTHS = (100, 300)  # inclusive range of unclosed-div nesting depth
GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "golden_nested.json")


def nested_html(depth: int) -> bytes:
    """An unclosed-tag page: ``"<div>x " * depth`` inside a minimal shell."""
    return ('<!DOCTYPE html><html><head><meta charset="utf-8">'
            "<title>Nested</title></head><body>" + "<div>x " * depth
            + "</body></html>").encode()


def nested_digest(content: str, extracted_text: str) -> str:
    """sha256 of content NUL extracted_text, as Spark's sha2 computes it."""
    return hashlib.sha256(
        (content + "\0" + extracted_text).encode()).hexdigest()


def load_golden() -> dict:
    """depth -> recorded digest of the nesting page (see make_golden.py)."""
    with open(GOLDEN) as f:
        return {int(k): v for k, v in json.load(f)["digests"].items()}


def _words(rng: random.Random, n: int) -> list:
    return [rng.choice(VOCAB) for _ in range(n)]


def _length(i: int, lo: int, hi: int) -> int:
    """Word count of document ``i``: spread over [lo, hi], seed-free."""
    return lo + (i * 37) % (hi - lo + 1)


def _pareto_quantiles(n: int, alpha: float, cap: int) -> list:
    """``n`` discrete Pareto sizes, P(m > x) = x**-alpha, capped, taken at
    the n quantile midpoints: every seed gets the same size distribution,
    so the work in a run does not drift with the seed."""
    return [max(1, min(cap, math.floor(((i + 0.5) / n) ** (-1.0 / alpha))))
            for i in range(n)]


def _pareto_sizes(n: int, alpha: float, cap: int) -> list:
    """The quantile sizes in one fixed, scattered order."""
    sizes = _pareto_quantiles(n, alpha, cap)
    random.Random(0).shuffle(sizes)
    return sizes


def write_documents(docs_dir: str, texts: list) -> None:
    """Write ``documents.parquet`` in the shape synthesize_pages reads:
    (doc_id, text, lang, source, n_chars), doc_id = list position."""
    os.makedirs(docs_dir, exist_ok=True)
    n = len(texts)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i % len(LANGS)] for i in range(n)],
                         pa.string()),
        "source": pa.array([f"src{i % 7}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(docs_dir, "documents.parquet"))


def flat_texts(seed: int, n_docs: int) -> list:
    rng = random.Random(seed)
    return [" ".join(_words(rng, _length(i, 12, 90))) for i in range(n_docs)]


@dataclass
class HeavyTail:
    texts: list                      # contract documents (Pareto-sized)
    nested: dict = field(default_factory=dict)  # url -> depth


def heavy_tail(seed: int, n_docs: int, nested_share: float,
               alpha: float = 1.5, max_mult: int = 40) -> HeavyTail:
    """Pareto-sized article bodies (the synthesize_pareto_pages law) plus
    ``nested_share`` unclosed-div pages with depths spread evenly over
    NEST_DEPTHS. The nesting pages are the same in every seed, url
    included, so they land in the same partitions and the straggler
    pattern repeats from run to run; the seed varies the contract pages."""
    rng = random.Random(seed)
    texts = [" ".join([" ".join(_words(rng, _length(i, 12, 90)))] * mult)
             for i, mult in enumerate(_pareto_sizes(n_docs, alpha, max_mult))]
    n_nested = max(2, round(n_docs * nested_share))
    lo, hi = NEST_DEPTHS
    depths = [lo + round(k * (hi - lo) / (n_nested - 1))
              for k in range(n_nested)]
    nested = {NEST_URL.format(depth=d, k=k): d for k, d in enumerate(depths)}
    return HeavyTail(texts, nested)


@dataclass
class Curated:
    texts: list        # one per page; page id = list position
    source: list       # source document of each page (its duplicate cluster)

    @property
    def distinct_texts(self) -> int:
        return len(set(self.texts))

    def true_pair(self, a: int, b: int) -> bool:
        return self.source[a] == self.source[b]


def curated(seed: int, n_pages: int, edit_share: float = 0.25,
            alpha: float = 1.2, max_copies: int = 16) -> Curated:
    """Replicated documents with skewed cluster sizes: each source document
    gets a Pareto-sized replica count; replica 0 and most others keep the
    text verbatim (exact duplicates), ``edit_share`` of the others have 2-4
    words replaced (near duplicates)."""
    rng = random.Random(seed)
    texts, source = [], []
    n_sources = 1
    while sum(_pareto_quantiles(n_sources, alpha, max_copies)) < n_pages:
        n_sources += 1
    sizes = _pareto_sizes(n_sources, alpha, max_copies)
    src = 0
    while len(texts) < n_pages:
        base = _words(rng, _length(src, 40, 120))
        copies = min(sizes[src], n_pages - len(texts))
        for c in range(copies):
            words = list(base)
            if c > 0 and rng.random() < edit_share:
                for _ in range(rng.randint(2, 4)):
                    words[rng.randrange(len(words))] = rng.choice(EDIT_WORDS)
            texts.append(" ".join(words))
            source.append(src)
        src += 1
    return Curated(texts, source)
