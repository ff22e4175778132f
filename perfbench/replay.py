"""Kernel replay: per-phase timings of the extraction kernel, from outside.

``replay_document`` re-runs ``kernel.extract_document_bytes`` one public
phase function at a time, in the order ``kernel.extract_document`` and
``kernel._parse_internal`` call them (retry pass included), and times each
call with ``perf_counter_ns``. The replay is only trusted when it is
faithful: ``replay_sample`` also calls ``extract_document_bytes`` directly
on the same bytes and reports every page whose ``content`` or
``extracted_text`` differs. Nothing inside ``defuddle_spark`` is changed.

The replay covers the default ``kernel.Options`` (the options the Spark
pipeline runs with); markdown and the opt-in element processors are off.
"""

from __future__ import annotations

import dataclasses
import statistics
import time
from collections import defaultdict

from defuddle_spark import kernel, metadata, schema_org, scoring
from defuddle_spark.dom import parse
from defuddle_spark.extractors import find_extractor
from defuddle_spark.standardize import standardize_content

PHASES = (
    "kernel.decode_html",
    "dom.parse",
    "metadata.extract",          # schema_org + collect_meta_tags + metadata
    "extractors.find_extractor",
    "kernel.find_main_content",
    "kernel.remove_hidden_elements",
    "scoring.score_and_remove",
    "kernel.remove_by_selector",
    "standardize.standardize_content",
    "dom.serialize",             # inner_html + text of the main content
    "kernel.other",              # small images, media queries, extractors
)


class PhaseClock:
    """Accumulates nanoseconds per phase name."""

    def __init__(self) -> None:
        self.ns = defaultdict(int)

    def __call__(self, phase: str, fn, *args):
        t = time.perf_counter_ns()
        out = fn(*args)
        self.ns[phase] += time.perf_counter_ns() - t
        return out


@dataclasses.dataclass
class Pass:
    content: str
    extracted_text: str
    word_count: int
    extractor_type: str | None = None
    partial_removals: int = 0


def _metadata(doc, url: str) -> tuple:
    schema_items = schema_org.extract_schema_org(doc.html)
    meta_tags = kernel.collect_meta_tags(doc)
    return schema_items, meta_tags, metadata.extract(
        doc.html, schema_items, meta_tags, url)


def _serialize(el) -> tuple:
    return el.inner_html(), el.text()


def _pass(doc, pre: tuple, options: kernel.Options, clock: PhaseClock) -> Pass:
    """One ``_parse_internal`` pass on an already parsed document."""
    schema_items, _, meta = pre
    extractor = clock("extractors.find_extractor", find_extractor,
                      doc, options.url, schema_items)
    if extractor is not None and extractor.can_extract():
        extracted = clock("kernel.other", extractor.extract)
        html = extracted.content_html
        text = clock("dom.serialize", lambda: parse(html).html.text())
        return Pass(html, text, kernel.count_words(html),
                    extractor.name().lower())

    def prepare():
        mobile = kernel.evaluate_media_queries(doc)
        small = kernel.find_small_images(doc)
        kernel.apply_mobile_styles(doc, mobile)
        return small

    small = clock("kernel.other", prepare)
    main = clock("kernel.find_main_content", kernel.find_main_content, doc)
    if main is None:
        content, text = clock("dom.serialize", _serialize, doc.body)
        return Pass(content, text, len(text.split()))
    clock("kernel.other", kernel.remove_small_images, doc, small)
    if options.remove_images:
        clock("kernel.other", kernel.remove_all_images, doc)
    clock("kernel.remove_hidden_elements", kernel.remove_hidden_elements, doc)
    clock("scoring.score_and_remove", scoring.score_and_remove, doc.html)
    partial = 0
    if options.remove_exact_selectors or options.remove_partial_selectors:
        partial = clock("kernel.remove_by_selector", kernel.remove_by_selector,
                        doc, options.remove_exact_selectors,
                        options.remove_partial_selectors)
    clock("standardize.standardize_content", standardize_content,
          main, meta["title"], doc, options.debug)
    content, text = clock("dom.serialize", _serialize, main)
    return Pass(content, text, len(text.split()), None, partial)


def replay_document(html_bytes: bytes, url: str,
                    clock: PhaseClock) -> tuple:
    """(Pass, retried) for one page, timing each phase into ``clock``."""
    options = kernel.Options(url=url)
    html = clock("kernel.decode_html", kernel.decode_html, html_bytes)
    doc = clock("dom.parse", parse, html)
    pre = clock("metadata.extract", _metadata, doc, url)
    result = _pass(doc, pre, options, clock)
    retried = (result.word_count < kernel.RETRY_WORD_THRESHOLD
               and result.extractor_type is None
               and result.partial_removals > 0)
    if retried:
        retry_opts = dataclasses.replace(options, remove_partial_selectors=False)
        retry = _pass(clock("dom.parse", parse, html), pre, retry_opts, clock)
        if retry.word_count > result.word_count:
            result = retry
    return result, retried


def dom_shape(html_bytes: bytes) -> tuple:
    """(elements, max depth) of the parsed document."""
    doc = parse(kernel.decode_html(html_bytes))
    n, deepest = 0, 0
    stack = [(doc.html, 1)]
    while stack:
        el, depth = stack.pop()
        n += 1
        deepest = max(deepest, depth)
        stack.extend((c, depth + 1) for c in el.element_children())
    return n, deepest


@dataclasses.dataclass
class ReplayReport:
    docs: int
    phase_ms: dict           # phase -> ms per doc
    direct_ms: float         # extract_document_bytes ms per doc
    retried: int
    mismatches: list         # urls whose replay differs from the direct call
    elements: list           # per doc
    depths: list             # per doc

    @property
    def coverage(self) -> float:
        return sum(self.phase_ms.values()) / self.direct_ms

    @property
    def largest_phase(self) -> str:
        return max(self.phase_ms, key=self.phase_ms.get)

    def metrics(self) -> dict:
        out = {f"{p}.ms_per_doc": self.phase_ms[p] for p in PHASES}
        out["kernel.extract_document_bytes.ms_per_doc"] = self.direct_ms
        out["kernel.replay_coverage"] = self.coverage
        out["kernel.retry_share"] = self.retried / self.docs
        work = [e * d for e, d in zip(self.elements, self.depths)]
        out["dom.elements_per_doc"] = statistics.fmean(self.elements)
        out["dom.depth_max"] = float(max(self.depths))
        out["dom.elements_x_depth.p50"] = float(statistics.median(work))
        out["dom.elements_x_depth.max"] = float(max(work))
        return out


def replay_sample(pages: list) -> ReplayReport:
    """Replay ``pages`` [(url, html bytes)] on this core and check each
    against a direct ``extract_document_bytes`` call."""
    clock = PhaseClock()
    direct_ns = 0
    retried = 0
    mismatches, elements, depths = [], [], []
    for url, html in pages:
        replayed, did_retry = replay_document(html, url, clock)
        retried += did_retry
        t = time.perf_counter_ns()
        direct = kernel.extract_document_bytes(html, url=url)
        direct_ns += time.perf_counter_ns() - t
        if (direct.error is not None or replayed.content != direct.content
                or replayed.extracted_text != direct.extracted_text):
            mismatches.append(url)
        n, depth = dom_shape(html)
        elements.append(n)
        depths.append(depth)
    n_docs = len(pages)
    return ReplayReport(
        docs=n_docs,
        phase_ms={p: clock.ns[p] / 1e6 / n_docs for p in PHASES},
        direct_ms=direct_ns / 1e6 / n_docs,
        retried=retried, mismatches=mismatches,
        elements=elements, depths=depths)
