"""Per-document extraction kernel (pure Python, no Spark imports).

Reimplements the reference's parse pipeline over one HTML document:
- Parse + retry loop        /root/reference/defuddle.go:133-169
- parseInternal order       /root/reference/defuddle.go:393-619
- findMainContent           /root/reference/defuddle.go:647-691
- findTableBasedContent     /root/reference/defuddle.go:714-732
- findContentByScoring      /root/reference/defuddle.go:742-749
- removeBySelector          /root/reference/defuddle.go:780-807
- removeHiddenElements      /root/reference/defuddle.go:1392-1417
- find/removeSmallImages    /root/reference/defuddle.go:1537-1599
- removeAllImages           /root/reference/defuddle.go:1603-1614
- getElementIdentifier      /root/reference/defuddle.go:1654-1686
- countWords                /root/reference/defuddle.go:889-896
- charset decode            /root/reference/defuddle.go:241-257

The Spark job (spark/pipeline.py) calls `extract_document_bytes` once per
row inside mapInPandas (Arrow batches); this module itself is Spark-free so
it can be unit-tested without a JVM.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import dataclass, field, replace
from typing import List, Optional

from . import constants, metadata, schema_org, scoring
from .dom import Document, Element, parse
from .extractors import lookup
from .selectors import SelectorGroup, find_all
from .standardize import standardize_content

MIN_IMAGE_DIMENSION = 33  # defuddle.go:1538
RETRY_WORD_THRESHOLD = 200  # defuddle.go:141

# Hand-coded dispatch tables for the 14 non-body entry selectors (all are
# simple compounds: #id, .class, tag, or [role="..."]). Index = priority
# order in constants.ENTRY_POINT_ELEMENTS. A differential test pins these
# against the compiled selector engine (tests/test_kernel.py).
_ENTRY_IDS = {"post": 0, "article-content": 3}
_ENTRY_CLASSES = {
    "post-content": 1, "article-content": 2, "article_post": 4,
    "article-wrapper": 5, "entry-content": 6, "content-article": 7,
    "post": 8, "markdown-body": 9,
}
_ENTRY_TAGS = {"article": 10, "main": 12}
_ENTRY_ROLES = {"article": 11, "main": 13}
_N_ENTRIES = 14

_EXACT_GROUP = SelectorGroup(constants.EXACT_SELECTORS)
_PARTIAL_PATTERNS = [p.lower() for p in constants.PARTIAL_SELECTORS]
# one alternation instead of ~400 substring probes per attribute value
_PARTIAL_RE = re.compile("|".join(re.escape(p) for p in _PARTIAL_PATTERNS))
_META_CHARSET_RE = re.compile(
    rb'<meta[^>]+charset\s*=\s*["\']?\s*([a-zA-Z0-9_\-]+)', re.IGNORECASE)


@dataclass
class Options:
    """types.go:26-68 subset relevant to the batch engine."""
    url: str = ""
    remove_exact_selectors: bool = True
    remove_partial_selectors: bool = True
    remove_images: bool = False
    markdown: bool = False
    separate_markdown: bool = False
    # Engine extension (not in types.go): render GFM pipe tables instead
    # of the reference default's cell-flattening (ConvertString registers
    # only base+commonmark — no table plugin, convert.go:13-23).
    markdown_pipe_tables: bool = False
    debug: bool = False
    # Optional element processors (E1-E6). The reference defines these
    # options but its Parse never consults them (SPECS/40 "Explicit Gap
    # Contracts"); for fixture parity they default OFF. When enabled they
    # run on the working document after standardization (TS rule order:
    # math, code, headings, images, then footnotes, roles).
    process_code: bool = False
    process_images: bool = False
    process_headings: bool = False
    process_math: bool = False
    process_footnotes: bool = False
    process_roles: bool = False


@dataclass
class Result:
    content: str = ""
    content_markdown: Optional[str] = None
    extracted_text: str = ""
    title: str = ""
    description: str = ""
    domain: str = ""
    favicon: str = ""
    image: str = ""
    published: str = ""
    author: str = ""
    site: str = ""
    word_count: int = 0
    parse_time_ms: int = 0
    extractor_type: Optional[str] = None
    # Registry name of the extractor the url routes to (extractors.lookup),
    # set whether or not that extractor could extract this page.
    extractor_route: Optional[str] = None
    schema_org: str = "[]"
    meta_tags: List[dict] = field(default_factory=list)
    retry_used: bool = False
    error: Optional[str] = None
    # types.go:89 DebugInfo *debug.Info `json:"debugInfo,omitempty"` —
    # populated only when Options.debug is set; plain dict with the
    # reference's JSON field names (see defuddle_spark.debug).
    debug_info: Optional[dict] = None
    # Internal: elements removed by the partial-selector branch in this pass
    # (not part of the output contract; drives the retry-skip fast path).
    partial_removals: int = 0


# ---------------------------------------------------------------------------
# Charset decode (defuddle.go:241-257 / x/net/html charset semantics)
# ---------------------------------------------------------------------------

def decode_html(data: bytes) -> str:
    """BOM → <meta charset> prescan (first 1024 bytes) → utf-8 → cp1252."""
    if not data:
        return ""
    if data.startswith(b"\xef\xbb\xbf"):
        return data[3:].decode("utf-8", errors="replace")
    if data.startswith(b"\xff\xfe"):
        return data.decode("utf-16-le", errors="replace")
    if data.startswith(b"\xfe\xff"):
        return data.decode("utf-16-be", errors="replace")
    m = _META_CHARSET_RE.search(data[:1024])
    if m is not None:
        enc = m.group(1).decode("ascii", errors="replace").lower()
        try:
            return data.decode(enc, errors="replace")
        except LookupError:
            pass
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError:
        return data.decode("cp1252", errors="replace")


# ---------------------------------------------------------------------------
# Mobile styles (R1 — defuddle.go:1291-1339)
# ---------------------------------------------------------------------------

def evaluate_media_queries(doc: Document) -> list:
    """defuddle.go:1291-1296 — faithful stub: the Go reference returns nil
    (CSS media-query evaluation is a browser-only feature; documented gap
    in SPECS/40 'Explicit Gap Contracts')."""
    return []


def apply_mobile_styles(doc: Document, mobile_styles: list) -> None:
    """defuddle.go:1324-1339 — append matched styles to inline style attrs.

    ``mobile_styles``: [(selector, styles_css_text)].
    """
    for selector, styles in mobile_styles:
        for el in find_all(doc.html, selector):
            existing = el.get("style") or ""
            el.set_attr("style", existing + styles)


# ---------------------------------------------------------------------------
# Meta tags (defuddle.go:1190-1213)
# ---------------------------------------------------------------------------

def collect_meta_tags(doc: Document) -> List[dict]:
    tags: List[dict] = []
    for el in doc.html.descendants():
        if el.tag != "meta":
            continue
        content = el.get("content")
        if content:
            tags.append({
                "name": el.get("name"),
                "property": el.get("property"),
                "content": content,
            })
    return tags


# ---------------------------------------------------------------------------
# Main-content selection (defuddle.go:647-749)
# ---------------------------------------------------------------------------

def find_main_content(doc: Document) -> Element:
    # First match per entry selector captured in ONE walk (equivalent to
    # the reference's per-selector querySelector sweeps: each selector's
    # winner is its first doc-order match, then the first selector with
    # any match wins — defuddle.go:649-663).
    matches: list = [None] * _N_ENTRIES
    remaining = _N_ENTRIES
    tag_tbl, id_tbl = _ENTRY_TAGS, _ENTRY_IDS
    cls_tbl, role_tbl = _ENTRY_CLASSES, _ENTRY_ROLES
    for el in doc.html.descendants():
        i = tag_tbl.get(el.tag)
        if i is not None and matches[i] is None:
            matches[i] = el
            remaining -= 1
        for k, v in el.attrs:
            if k == "id":
                i = id_tbl.get(v)
            elif k == "class":
                for token in v.split():
                    j = cls_tbl.get(token)
                    if j is not None and matches[j] is None:
                        matches[j] = el
                        remaining -= 1
                continue
            elif k == "role":
                i = role_tbl.get(v)
            else:
                continue
            if i is not None and matches[i] is None:
                matches[i] = el
                remaining -= 1
        if matches[0] is not None or remaining == 0:
            break
    for el in matches:
        if el is not None:
            return el
    table_content = _find_table_based_content(doc)
    if table_content is not None:
        return table_content
    scored = _find_content_by_scoring(doc)
    if scored is not None:
        return scored
    return doc.body


def _find_table_based_content(doc: Document) -> Optional[Element]:
    # The reference scores each table's tds in turn, so a td of a nested
    # table comes up once per enclosing table; first occurrences are the
    # tds with a table ancestor in document order, and a repeat can never
    # beat itself under find_best_element's strict >.
    cells = [d for d in doc.html.descendants()
             if d.tag == "td" and d.closest("table") is not None]
    return scoring.find_best_element(cells, 50)


def _find_content_by_scoring(doc: Document) -> Optional[Element]:
    candidates = [d for d in doc.html.descendants()
                  if d.tag in ("div", "section", "article", "main")]
    return scoring.find_best_element(candidates, 50)


# ---------------------------------------------------------------------------
# Clutter removal (defuddle.go:780-807, 1392-1417, 1537-1614)
# ---------------------------------------------------------------------------

def remove_by_selector(doc: Document, remove_exact: bool, remove_partial: bool) -> int:
    """Single-walk match-any sweep; output-equivalent to the reference's
    ordered per-selector passes (see SelectorGroup docstring for why).

    Returns the number of elements removed by the *partial* branch — the
    retry loop uses it to skip the second pass when it provably cannot
    change the output (see extract_document)."""
    root = doc.html
    partial_removed = 0
    for el in list(root.descendants()):
        if remove_exact and _EXACT_GROUP.matches(el):
            el.remove()
            continue
        if remove_partial:
            for attr in constants.TEST_ATTRIBUTES:
                value = el.get(attr)
                if value and _PARTIAL_RE.search(value.lower()):
                    el.remove()
                    partial_removed += 1
                    break
    return partial_removed


def remove_hidden_elements(doc: Document) -> None:
    for el in list(doc.html.descendants()):
        style = el.get("style")
        if not style:
            continue
        lower = style.lower()
        if ("display:none" in lower or "display: none" in lower
                or "visibility:hidden" in lower or "visibility: hidden" in lower
                or "opacity:0" in lower or "opacity: 0" in lower):
            el.remove()


def _parse_int_attr(el: Element, name: str) -> int:
    v = el.get(name)
    if not v:
        return 0
    try:
        return int(v)
    except ValueError:
        return 0


def _element_identifier(el: Element) -> str:
    """defuddle.go:1654-1686."""
    if el.tag == "img":
        for attr, prefix in (("data-src", "src:"), ("src", "src:"),
                             ("srcset", "srcset:"), ("data-srcset", "srcset:")):
            v = el.get(attr)
            if v:
                return prefix + v
    v = el.get("id")
    if v:
        return "id:" + v
    if el.tag == "svg":
        v = el.get("viewBox") or el.get("viewbox")
        if v:
            return "viewBox:" + v
    v = el.get("class")
    if v:
        return "class:" + v
    return ""


def find_small_images(doc: Document) -> set:
    small = set()
    for el in doc.html.descendants():
        if el.tag not in ("img", "svg"):
            continue
        width = _parse_int_attr(el, "width")
        height = _parse_int_attr(el, "height")
        if (0 < width < MIN_IMAGE_DIMENSION) or (0 < height < MIN_IMAGE_DIMENSION):
            ident = _element_identifier(el)
            if ident:
                small.add(ident)
    return small


def remove_small_images(doc: Document, small: set) -> None:
    for el in list(doc.html.descendants()):
        if el.tag in ("img", "svg"):
            ident = _element_identifier(el)
            if ident and ident in small:
                el.remove()


def remove_all_images(doc: Document) -> None:
    for el in list(doc.html.descendants()):
        if el.tag in ("img", "svg", "picture", "video", "canvas"):
            el.remove()


# ---------------------------------------------------------------------------
# Word counting (defuddle.go:889-896)
# ---------------------------------------------------------------------------

def count_words(content_html: str) -> int:
    doc = parse(content_html)
    return len(doc.html.text().split())


# ---------------------------------------------------------------------------
# Parse pipeline
# ---------------------------------------------------------------------------

def _page_metadata(doc: Document, url: str) -> tuple:
    """(schema.org items, meta tags, metadata) of the unmutated page."""
    schema_items = schema_org.extract_schema_org(doc.html)
    meta_tags = collect_meta_tags(doc)
    return (schema_items, meta_tags,
            metadata.extract(doc.html, schema_items, meta_tags, url))


def _result(pre: tuple, content: str, text: str, **overrides) -> Result:
    """A pass's Result: the page metadata in ``pre``, then ``overrides``.

    countWords(content) reparses in the reference (defuddle.go:889-896);
    serialize→parse→text is the identity on text content, so splitting
    ``text`` is output-equivalent."""
    schema_items, meta_tags, meta = pre
    fields = {k: meta[k] for k in ("title", "description", "domain",
                                   "favicon", "image", "published",
                                   "author", "site")}
    fields.update(overrides)
    return Result(
        content=content, extracted_text=text, word_count=len(text.split()),
        schema_org=json.dumps(schema_items, ensure_ascii=False,
                              separators=(",", ":")),
        meta_tags=meta_tags, **fields)


def _pass(doc: Document, pre: tuple, url: str, extractor_cls: Optional[type],
          options: Options) -> Result:
    """One parseInternal attempt (defuddle.go:393-619) on a freshly parsed
    ``doc``; ``pre`` is its metadata, read before any mutation, and
    ``extractor_cls`` the registry's pick for ``url`` (or None)."""
    start = time.monotonic()
    schema_items, _, meta = pre
    dbg = None
    if options.debug:  # defuddle.go:411-417
        from .debug import Debugger
        dbg = Debugger(True)
        dbg.start_timer("total_parsing")
        dbg.set_statistics(
            originalElementCount=sum(1 for _ in doc.descendants()))
        dbg.add_processing_step(
            "schema_org_extraction",
            f"Extracted {len(schema_items)} schema.org items",
            len(schema_items), "")

    # Site-specific extractor dispatch (defuddle.go:420-492)
    extractor = (None if extractor_cls is None
                 else extractor_cls(doc, url, schema_items))
    if extractor is not None and extractor.can_extract():
        name = extractor.name()
        extracted = extractor.extract()
        found = extracted.variables
        content = extracted.content_html
        result = _result(
            pre, content, parse(content).html.text(),
            title=found.get("title") or meta["title"],
            description=found.get("description") or meta["description"],
            image=found.get("image") or meta["image"],
            published=found.get("published") or meta["published"],
            author=found.get("author") or meta["author"],
            site=found.get("site", meta["site"]),
            extractor_type=name.lower())
    else:
        name = None
        # defuddle.go:495-505 order: evaluate media queries (stubbed per
        # the reference), find small images on the original doc, apply
        # mobile styles. find_main_content never returns None: its last
        # resort is doc.body, which parse always builds.
        mobile_styles = evaluate_media_queries(doc)
        small_images = find_small_images(doc)
        apply_mobile_styles(doc, mobile_styles)
        main = find_main_content(doc)

        # Mutation phase on the whole working document (goquery no-clone
        # quirk: removals apply inside the already-selected main content
        # subtree too)
        remove_small_images(doc, small_images)
        if options.remove_images:
            remove_all_images(doc)
        remove_hidden_elements(doc)
        scoring.score_and_remove(doc.html)
        partial_removals = 0
        if options.remove_exact_selectors or options.remove_partial_selectors:
            partial_removals = remove_by_selector(
                doc, options.remove_exact_selectors,
                options.remove_partial_selectors)
        # Opt-in E1-E6 processors run before standardization: in the TS
        # original their rules are part of ELEMENT_STANDARDIZATION_RULES
        # (mathRules, codeBlockRules, headingRules, imageRules precede the
        # role rules inside standardizeElements), so they must see the
        # pre-standardized tree.
        _apply_element_processors(doc, options)
        standardize_content(main, meta["title"], doc, options.debug)
        result = _result(pre, main.inner_html(), main.text(),
                         partial_removals=partial_removals)

    _maybe_markdown(result, options)
    if dbg is not None:
        dbg.end_timer("total_parsing")
        if name is not None:  # defuddle.go:485-488
            dbg.set_extractor_used(name)
            dbg.add_processing_step(
                "extractor", "Used site-specific extractor: " + name, 1, "")
        else:  # defuddle.go:599-615
            dbg.add_processing_step(
                "standard_parsing",
                "Used standard content extraction algorithm", 1, "")
            # Final statistics recount "original" from d.doc — which IS
            # the mutated workingDoc (workingDoc := d.doc, defuddle.go:502)
            # — so original == final and removed == 0 in the reference's
            # standard path. Replicated quirk, not a bug here.
            n_final = sum(1 for _ in doc.descendants())
            dbg.set_statistics(
                originalElementCount=n_final,
                finalElementCount=n_final,
                removedElementCount=0,
                wordCount=result.word_count,
                characterCount=len(result.content),
                imageCount=sum(1 for d in doc.html.descendants()
                               if d.tag == "img"),
                linkCount=sum(1 for d in doc.html.descendants()
                              if d.tag == "a"),
            )
        result.debug_info = dbg.get_info()
    result.parse_time_ms = int((time.monotonic() - start) * 1000)
    return result

def _apply_element_processors(doc: Document, options: Options) -> None:
    """Opt-in E1-E6 stages (see Options docstring; all default off)."""
    if not (options.process_math or options.process_code
            or options.process_headings or options.process_images
            or options.process_footnotes or options.process_roles):
        return
    from . import elements
    if options.process_math:
        elements.process_math(doc)
    if options.process_code:
        elements.process_code_blocks(doc)
    if options.process_headings:
        elements.process_headings(doc)
    if options.process_images:
        elements.process_images(doc)
    if options.process_footnotes:
        elements.process_footnotes(doc)
    if options.process_roles:
        elements.process_roles(doc)


def _maybe_markdown(result: Result, options: Options) -> None:
    """defuddle.go:476-482, 570-577 — ContentMarkdown set when either flag
    is on; conversion errors are swallowed (content stays HTML)."""
    if not (options.markdown or options.separate_markdown):
        return
    from .markdown import MarkdownError, convert_html
    try:
        result.content_markdown = convert_html(
            result.content, pipe_tables=options.markdown_pipe_tables)
    except (MarkdownError, RecursionError):
        result.content_markdown = None


def extract_document(html_str: str, url: str = "",
                     options: Optional[Options] = None) -> Result:
    """Full Parse() with the word-count retry loop (defuddle.go:133-169).

    An empty ``url`` falls back to ``options.url``. Output-equivalent
    restructuring of the reference's retry: read the page metadata once on
    the pristine tree (the reference recomputes identical values from a
    fresh parse), run the first pass directly on that tree, and re-parse
    from source only if a retry actually fires (the reference re-parses
    for both passes). A pass that used a site extractor skips the retry:
    the reference's retry would re-dispatch the same extractor, yield an
    equal word count, and keep the first result. The registry lookup needs
    only the url, so it runs once and both passes use its pick; its name
    is the result's ``extractor_route``, on the error path too.
    """
    if options is None:
        options = Options()
    url = url or options.url
    route = None
    try:
        route, extractor_cls = lookup(url)
        doc = parse(html_str)
        pre = _page_metadata(doc, url)
        result = _pass(doc, pre, url, extractor_cls, options)
        # The retry differs from the first pass ONLY by
        # remove_partial_selectors=False. If the first pass's partial
        # branch removed nothing, the retry is bit-identical to it, and the
        # reference keeps the first result anyway.
        if (result.word_count < RETRY_WORD_THRESHOLD
                and result.extractor_type is None
                and result.partial_removals > 0):
            retry = _pass(parse(html_str), pre, url, extractor_cls,
                          replace(options, remove_partial_selectors=False))
            if retry.word_count > result.word_count:
                retry.retry_used = True
                result = retry
        result.extractor_route = route
        return result
    except Exception as exc:  # per-doc failure isolation (north_rule)
        res = Result(error=f"{type(exc).__name__}: {exc}",
                     extractor_route=route)
        try:
            doc = parse(html_str)
            res.content = doc.body.inner_html()
            res.extracted_text = doc.body.text()
            res.word_count = len(res.extracted_text.split())
        except Exception:
            pass
        return res


def extract_document_bytes(html_bytes: bytes, url: str = "",
                           options: Optional[Options] = None) -> Result:
    return extract_document(decode_html(html_bytes), url, options)
