"""Worst-case pages for the extraction kernel: deep nesting and wide layout
tables stay linear, and the one-walk scoring stats equal a brute-force
walk of every element's subtree.

Work is bounded by deterministic counts (selector-group calls, traced
line events), not wall time, so the checks do not depend on host load.
"""

import hashlib
import sys

from hypothesis import given, settings, strategies as st

from defuddle_spark import constants, scoring
from defuddle_spark.dom import ELEMENT, TEXT, Text, parse
from defuddle_spark.kernel import extract_document, find_main_content
from defuddle_spark.selectors import SelectorGroup

_DOM_FILE = sys.modules["defuddle_spark.dom"].__file__
_SCORING_FILE = scoring.__file__


def _nested(depth: int) -> str:
    return ('<!DOCTYPE html><html><head><meta charset="utf-8">'
            "<title>Nested</title></head><body>" + "<div>x " * depth
            + "</body></html>")


def _layout_table(cells: int) -> str:
    """A width=800 table (a layout table) of ``cells`` tds, 10 per row,
    with no entry-point element, so content is found by scoring tds."""
    rows = "".join(
        "<tr>" + "".join(f"<td>cell {r} {c} text</td>" for c in range(10))
        + "</tr>" for r in range(cells // 10))
    return f'<html><body><table width="800">{rows}</table></body></html>'


def _lines_run(files, fn, *args) -> int:
    """Line events executed in ``files`` while ``fn(*args)`` runs."""
    count = 0

    def local(frame, event, arg):
        nonlocal count
        if event == "line":
            count += 1
        return local

    def calls(frame, event, arg):
        return local if frame.f_code.co_filename in files else None

    previous = sys.gettrace()
    sys.settrace(calls)
    try:
        fn(*args)
    finally:
        sys.settrace(previous)
    return count


# -- brute-force oracle: one walk per scored element --------------------------

def _oracle_stats(el):
    """Walk ``el``'s whole subtree: the per-element scoring stats."""
    parts = []
    counts = dict(p=0, a=0, img=0, table=0, lists=0)
    inline = lists = False
    stack = el.children[::-1]
    while stack:
        node = stack.pop()
        if node.type == TEXT:
            parts.append(node.data)
            continue
        if node.type != ELEMENT:
            continue
        tag = "lists" if node.tag in ("ul", "ol") else node.tag
        if tag in counts:
            counts[tag] += 1
        inline = inline or scoring._FOOTNOTE_INLINE_GROUP.matches(node)
        lists = lists or scoring._FOOTNOTE_LISTS_GROUP.matches(node)
        stack.extend(node.children[::-1])
    text = "".join(parts)
    return dict(words=len(text.split()), has_inline_fn=inline,
                has_list_fn=lists, text=text, **counts)


def _as_dict(stats, inline=True):
    d = {k: getattr(stats, k) for k in ("words", "p", "a", "img", "table",
                                        "lists", "has_list_fn", "text")}
    if inline:
        d["has_inline_fn"] = stats.has_inline_fn
    return d


def _oracle_score(el) -> float:
    """scorer.go:325-434 over the brute-force stats, the td bonus listing
    the table's tds for each cell."""
    st = _oracle_stats(el)
    text = st["text"].strip()
    score = 0.0
    score += st["words"]
    score += st["p"] * 10
    denom = max(st["words"], 1)
    score -= (st["a"] / denom) * 5
    score -= (st["img"] / denom) * 3
    style = el.get("style", "") or ""
    align = el.get("align", "") or ""
    if "float: right" in style or "text-align: right" in style or align == "right":
        score += 5
    if scoring.DATE_RE.search(text):
        score += 10
    if scoring.AUTHOR_RE.search(text):
        score += 10
    class_name = (el.get("class", "") or "").lower()
    if "content" in class_name or "article" in class_name or "post" in class_name:
        score += 15
    if st["has_inline_fn"]:
        score += 10
    if st["has_list_fn"]:
        score += 10
    score -= st["table"] * 5
    table = el.closest("table") if el.tag == "td" else None
    if table is not None:
        try:
            width = int(table.get("width", "") or "")
        except ValueError:
            width = 0
        table_class = (table.get("class", "") or "").lower()
        if (width > 400 or (table.get("align", "") or "") == "center"
                or "content" in table_class or "article" in table_class):
            cells = [d for d in table.descendants() if d.tag == "td"]
            if 0 < cells.index(el) < len(cells) - 1:
                score += 10
    return score


def _oracle_best(elements, min_score=50.0):
    best, best_score = None, 0.0
    for el in elements:
        s = _oracle_score(el)
        if s > best_score:
            best, best_score = el, s
    return best if best_score > min_score else None


class _Stats:
    """Brute-force stats in the attribute shape the scoring predicates read."""

    def __init__(self, el):
        self.__dict__.update(_oracle_stats(el))


# -- generated tag soup ---------------------------------------------------------

_TAGS = ["div", "section", "article", "main", "nav", "p", "a", "img", "ul",
         "ol", "table", "tr", "td", "sup", "span"]
_ATTRS = ["", "", ' id="fnref1"', ' id="fnr2"', ' id="ref-link-3"',
          ' class="footnote"', ' class="footnotes"', ' class="reference"',
          ' class="citation"', ' class="content"', ' class="nav menu"',
          ' role="doc-endnotes"', ' href="#fn1"', ' href="#cite_note-2"',
          ' href="/x"', ' style="float: right"', ' width="800"',
          ' align="center"']
# bytes that str.split() treats as space but ASCII-only tokenizers do not
_ODD = ["\x0b", "\xa0", "\x1c", "\x1d", "\x1e", "\x1f", "\x85", "　"]
_words = st.lists(st.sampled_from(
    ["x", "by", "Bob", "Jan", "12,", "2024", "share", "nav", " ", "\n"]
    + _ODD), max_size=6).map("".join)
_piece = st.one_of(
    st.tuples(st.sampled_from(_TAGS), st.sampled_from(_ATTRS)).map(
        lambda t: f"<{t[0]}{t[1]}>"),
    st.sampled_from(_TAGS).map(lambda t: f"</{t}>"),
    # footnote lists and references, layout-table cells, navigation blocks
    st.sampled_from(['<ol class="footnotes">', '<div class="footnote"><ol>',
                     '<sup class="reference">', '<a href="#fn2">',
                     '<table width="800"><tr><td>x<td>', "<td>", "<td>",
                     '<table align="center"><tr><td><td>y</td><td>z',
                     '<div class="nav">', "<div>share by Bob ",
                     "Jan 12, 2024 ", "<div>Jan 12 2024"]),
    _words,
    _words,
)


@st.composite
def _soup_doc(draw):
    """A parsed soup page, plus text nodes (empty, odd-byte, adjacent)
    inserted after parsing as the kernel's removals and unwraps leave."""
    doc = parse("<html><body>" + "".join(draw(st.lists(_piece, max_size=40)))
                + "</body></html>")
    elements = [doc.body] + list(doc.body.descendants())
    for _ in range(draw(st.integers(0, 4))):
        host = elements[draw(st.integers(0, len(elements) - 1))]
        at = draw(st.integers(0, len(host.children)))
        node = Text(draw(st.sampled_from(["", "", "y", " "] + _ODD)))
        node.parent = host
        host.children.insert(at, node)
    return doc


@given(_soup_doc())
@settings(max_examples=400, deadline=None)
def test_one_walk_stats_equal_brute_force_walks(doc):
    elements = list(doc.html.descendants())
    blocks = [el for el in elements if el.tag in constants.BLOCK_ELEMENTS_SET]
    walked = scoring._walk(doc.html, False,
                           tags=constants.BLOCK_ELEMENTS_SET, inline=False)
    assert [s.el for s in walked] == blocks
    for stats in walked:
        want = _oracle_stats(stats.el)
        del want["has_inline_fn"]
        assert _as_dict(stats, inline=False) == want

    # candidates in the kernel's two shapes: blocks and table cells
    candidates = [el for el in elements
                  if el.tag in ("div", "section", "article", "main")]
    cells = [el for el in elements
             if el.tag == "td" and el.closest("table") is not None]
    for group in (candidates, cells, elements):
        found = scoring._stats_of(group)
        for el in group:
            assert _as_dict(found[id(el)]) == _oracle_stats(el)
        assert scoring.find_best_element(group, 0) is _oracle_best(group, 0)
        assert scoring.find_best_element(group) is _oracle_best(group)
    for el in candidates + cells:
        assert scoring.score_element(el) == _oracle_score(el)
    # the kernel's last resort is doc.body, so there is no "no main
    # content" case to fall back from
    assert find_main_content(doc) is not None


@given(_soup_doc())
@settings(max_examples=300, deadline=None)
def test_score_and_remove_removes_what_brute_force_would(doc):
    elements = list(doc.html.descendants())
    want = [i for i, el in enumerate(elements)
            if el.tag in constants.BLOCK_ELEMENTS_SET
            and not scoring.is_likely_content(el, _Stats(el))
            and scoring.score_non_content_block(el, _Stats(el)) < 0]
    assert scoring.score_and_remove(doc.html) == len(want)
    assert [i for i, el in enumerate(elements) if el.parent is None] == want


# -- linear work ------------------------------------------------------------------

def test_score_and_remove_tests_each_element_once():
    """Footnote selector groups run at most twice per element (once per
    group), however deep the nesting."""
    calls = 0
    matches = SelectorGroup.matches

    def counted(self, el):
        nonlocal calls
        calls += 1
        return matches(self, el)

    for n in (500, 4000):
        doc = parse(_nested(n))
        n_elements = sum(1 for _ in doc.html.descendants())
        calls = 0
        SelectorGroup.matches = counted
        try:
            scoring.score_and_remove(doc.html)
            after_remove = calls
            scoring.find_best_element(
                [d for d in doc.html.descendants() if d.tag == "div"])
        finally:
            SelectorGroup.matches = matches
        assert after_remove <= 2 * n_elements
        assert calls - after_remove <= 2 * n_elements


def test_tree_builder_work_is_linear_in_tags():
    """Scope checks for a tag that is not open cost O(1): parsing n
    unclosed divs executes a bounded number of lines per tag."""
    per_tag = {}
    for n in (500, 4000):
        html = _nested(n)
        per_tag[n] = _lines_run({_DOM_FILE}, parse, html) / html.count("<")
    assert per_tag[4000] < 200
    assert per_tag[4000] < 1.2 * per_tag[500]


def test_deep_pages_extract_without_recursion_errors():
    shallow = {(r.content, r.word_count) for r in (
        extract_document(_nested(d), url="https://nest.test/a")
        for d in range(100, 1000, 100))}
    assert shallow == {("x x x x <p>x </p>", 5)}
    for depth in (1000, 2000, 4000):
        r = extract_document(_nested(depth), url="https://nest.test/a")
        assert r.error is None
        assert {(r.content, r.word_count)} == shallow
    # inline and table nesting are not flattened before the text passes
    for piece in ("<span>x ", "<table><tr><td>x "):
        html = "<html><body>" + piece * 1200 + "</body></html>"
        r = extract_document(html, url="https://nest.test/b")
        assert r.error is None and r.word_count == 1200


def test_layout_table_cells_are_listed_once_per_table():
    """A 4000-cell layout table scores every td; each td's position in its
    table is looked up, not recomputed, so the work is linear in cells."""
    r = extract_document(_layout_table(4000), url="https://layout.test/a")
    assert r.error is None and r.word_count == 12001
    # digest of the output before td positions were cached (same bytes)
    assert hashlib.sha256((r.content + "\0" + r.extracted_text).encode()
                          ).hexdigest() == (
        "3b7180b5579f9cb2a135802aa72932befac23f0acd03a101348ae12d311505bc")
    per_cell = {}
    for cells in (500, 4000):
        doc = parse(_layout_table(cells))
        per_cell[cells] = _lines_run({_DOM_FILE, _SCORING_FILE},
                                     find_main_content, doc) / cells
    assert per_cell[4000] < 400
    assert per_cell[4000] < 1.2 * per_cell[500]
