"""Content scoring — per-document candidate scoring and non-content removal.

Reimplements the semantics of /root/reference/internal/scoring/scorer.go
(ScoreElement :325-434, FindBestElement :453-469, ScoreAndRemove :517-556,
isLikelyContent :600-625, scoreNonContentBlock :678-730). Pure Python, no
Spark imports; runs inside the Arrow-batch kernel.
"""

from __future__ import annotations

import re
from typing import List, Optional

from . import constants
from .dom import ELEMENT, TEXT, Element
from .selectors import SelectorGroup

# scorer.go:20-21
DATE_RE = re.compile(
    r"\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\s+\d{1,2},?\s+\d{4}\b",
    re.IGNORECASE,
)
AUTHOR_RE = re.compile(r"\b(?:by|written by|author:)\s+[A-Za-z\s]+\b", re.IGNORECASE)

CONTENT_ROLES = ("article", "main", "contentinfo")

# scorer.go:83-98
CONTENT_INDICATORS = (
    "admonition", "article", "content", "entry", "image", "img", "font",
    "figure", "figcaption", "pre", "main", "post", "story", "table",
)

# scorer.go:142-178
NAVIGATION_INDICATORS = (
    "advertisement", "all rights reserved", "banner", "cookie", "comments",
    "copyright", "follow me", "follow us", "footer", "header", "homepage",
    "login", "menu", "more articles", "more like this", "most read", "nav",
    "navigation", "newsletter", "popular", "privacy", "recommended",
    "register", "related", "responses", "share", "sidebar", "sign in",
    "sign up", "signup", "social", "sponsored", "subscribe", "terms",
    "trending",
)

# scorer.go:208-232
NON_CONTENT_PATTERNS = (
    "ad", "banner", "cookie", "copyright", "footer", "header", "homepage",
    "menu", "nav", "newsletter", "popular", "privacy", "recommended",
    "related", "rights", "share", "sidebar", "social", "sponsored",
    "subscribe", "terms", "trending", "widget",
)

# match-any groups: "does any descendant match one of these" is
# order-independent, so one indexed walk replaces 15/21 find_first sweeps
FOOTNOTE_INLINE_GROUP = SelectorGroup(constants.FOOTNOTE_INLINE_REFERENCES)
_FOOTNOTE_LISTS_GROUP = SelectorGroup(constants.FOOTNOTE_LIST_SELECTORS)


class _Stats:
    """What a walk over an element's descendants sees (the element itself
    excluded): tag counts, footnote-selector hits and the word count of the
    descendants' concatenated text. ``has_inline_fn`` is None when the walk
    did not test the inline-reference selectors."""

    __slots__ = ("el", "words", "p", "a", "img", "table", "lists",
                 "has_inline_fn", "has_list_fn", "_texts", "_t0", "_t1")

    def __init__(self, el: Element, texts: list) -> None:
        self.el = el
        self._texts = texts

    @property
    def text(self) -> str:
        """The descendants' text, joined on demand."""
        return "".join(self._texts[self._t0:self._t1])


class _Exit:
    """Walk-stack marker: the walk leaves ``stats.el``'s subtree here."""

    __slots__ = ("stats", "mark")
    type = -1

    def __init__(self, stats: _Stats, mark: tuple) -> None:
        self.stats = stats
        self.mark = mark


def _walk(top: Element, top_is_target: bool, tags: frozenset = frozenset(),
          ids: frozenset = frozenset(), inline: bool = True) -> List[_Stats]:
    """Stats of ``top`` (if ``top_is_target``) and of every descendant whose
    tag is in ``tags`` or whose id() is in ``ids``, in document order, from
    one pre-order walk: each node is visited and selector-tested once.

    The walk keeps running totals over the nodes inside at least one
    target; a target's stats are its totals at exit minus those at entry.
    Texts are kept in document order, so a target's text is the slice
    between its marks. Its word count is the sum of per-text counts minus
    the words that run across a text boundary (``"a" + "b"`` is one word),
    each counted at the later text — except a join of the target's first
    text with one before the target."""
    list_match = _FOOTNOTE_LISTS_GROUP.matches
    inline_match = FOOTNOTE_INLINE_GROUP.matches
    texts: list = []
    joined: set = set()
    out: List[_Stats] = []
    p = a = img = table = lists = inl = lst = words = joins = 0
    glued = False   # the last text seen ends in a non-space character
    depth = 0       # targets the walk is inside of
    stack = top.children[::-1]
    if top_is_target:
        st = _Stats(top, texts)
        out.append(st)
        stack.insert(0, _Exit(st, (0,) * 10))
        depth = 1
    while stack:
        node = stack.pop()
        t = node.type
        if t == TEXT:
            s = node.data
            if depth and s:
                if glued and not s[0].isspace():
                    joins += 1
                    joined.add(len(texts))
                glued = not s[-1].isspace()
                words += len(s.split())
                texts.append(s)
        elif t == ELEMENT:
            tag = node.tag
            if depth:
                if tag == "p":
                    p += 1
                elif tag == "a":
                    a += 1
                elif tag == "img":
                    img += 1
                elif tag == "table":
                    table += 1
                elif tag in ("ul", "ol"):
                    lists += 1
                if list_match(node):
                    lst += 1
                if inline and inline_match(node):
                    inl += 1
            if tag in tags or (ids and id(node) in ids):
                st = _Stats(node, texts)
                out.append(st)
                stack.append(_Exit(st, (p, a, img, table, lists, inl, lst,
                                        words, joins, len(texts))))
                depth += 1
            cs = node.children
            if cs:
                stack.extend(cs[::-1])
        elif t == _Exit.type:
            depth -= 1
            st = node.stats
            m = node.mark
            t0, t1 = m[9], len(texts)
            st.p, st.a, st.img = p - m[0], a - m[1], img - m[2]
            st.table, st.lists = table - m[3], lists - m[4]
            st.has_inline_fn = inl > m[5] if inline else None
            st.has_list_fn = lst > m[6]
            st.words = (words - m[7] - (joins - m[8])
                        + (t0 < t1 and t0 in joined))
            st._t0, st._t1 = t0, t1
    return out


def _stats_of(elements: List[Element]) -> dict:
    """id(el) -> _Stats for every element; a candidate inside an earlier
    one takes its stats from that walk, so each subtree is walked once."""
    ids = frozenset(id(el) for el in elements)
    found: dict = {}
    for el in elements:
        if id(el) not in found:
            for st in _walk(el, True, ids=ids):
                found[id(st.el)] = st
    return found


def _inner_layout_cell(td: Element, cells: dict) -> bool:
    """scorer.go's td bonus: ``td`` lies strictly inside the td list of its
    layout table. ``cells`` caches each table's td positions, so a table
    is listed once however many of its cells are scored."""
    parent_table = td.closest("table")
    if parent_table is None:
        return False
    width_str = parent_table.get("width", "") or ""
    try:
        table_width = int(width_str)
    except ValueError:
        table_width = 0
    table_align = parent_table.get("align", "") or ""
    table_class = (parent_table.get("class", "") or "").lower()
    is_table_layout = (
        table_width > 400
        or table_align == "center"
        or "content" in table_class
        or "article" in table_class
    )
    if not is_table_layout:
        return False
    pos = cells.get(id(parent_table))
    if pos is None:
        all_cells = [d for d in parent_table.descendants() if d.tag == "td"]
        pos = cells[id(parent_table)] = (
            {id(d): i for i, d in enumerate(all_cells)}, len(all_cells))
    index, n = pos
    return 0 < index.get(id(td), -1) < n - 1


def _score(el: Element, stats: _Stats, cells: dict, date: bool,
           author: bool) -> float:
    """scorer.go:325-434 with the date/author regex outcomes given; the
    terms are added in the reference's order, so the float is the same."""
    score = 0.0

    words = stats.words
    score += words

    score += stats.p * 10

    denom = max(words, 1)
    score -= (stats.a / denom) * 5
    score -= (stats.img / denom) * 3

    style = el.get("style", "") or ""
    align = el.get("align", "") or ""
    if "float: right" in style or "text-align: right" in style or align == "right":
        score += 5

    if date:
        score += 10
    if author:
        score += 10

    class_name = (el.get("class", "") or "").lower()
    if "content" in class_name or "article" in class_name or "post" in class_name:
        score += 15

    if stats.has_inline_fn:
        score += 10
    if stats.has_list_fn:
        score += 10

    score -= stats.table * 5

    if el.tag == "td" and _inner_layout_cell(el, cells):
        score += 10

    return score


def score_element(el: Element) -> float:
    """scorer.go:325-434."""
    stats = _walk(el, True)[0]
    text = stats.text.strip()
    return _score(el, stats, {}, DATE_RE.search(text) is not None,
                  AUTHOR_RE.search(text) is not None)


def find_best_element(elements: List[Element], min_score: float = 50.0) -> Optional[Element]:
    """scorer.go:453-469 — strict > keeps the first best.

    The date and author terms add at most 20, so their regexes run only
    on a candidate whose score with both terms could still beat the best
    so far: float addition is monotone, so that score bounds the real one
    and a candidate it rules out could not have won."""
    stats = _stats_of(elements)
    cells: dict = {}
    best = None
    best_score = 0.0
    for el in elements:
        st = stats[id(el)]
        s = _score(el, st, cells, True, True)
        if s <= best_score:
            continue
        text = st.text.strip()
        date = DATE_RE.search(text) is not None
        author = AUTHOR_RE.search(text) is not None
        if not (date and author):
            s = _score(el, st, cells, date, author)
        if s > best_score:
            best_score = s
            best = el
    return best if best_score > min_score else None


def is_likely_content(el: Element, stats: Optional[_Stats] = None) -> bool:
    """scorer.go:600-625."""
    role = el.get("role", "") or ""
    if role in CONTENT_ROLES:
        return True

    class_name = (el.get("class", "") or "").lower()
    el_id = (el.get("id", "") or "").lower()
    for ind in CONTENT_INDICATORS:
        if ind in class_name or ind in el_id:
            return True

    if stats is None:
        stats = _walk(el, True, inline=False)[0]
    words = stats.words
    paragraphs = stats.p
    return words > 100 or (words > 50 and paragraphs > 1) or (words > 30 and paragraphs > 0)


def score_non_content_block(el: Element, stats: Optional[_Stats] = None) -> float:
    """scorer.go:678-730."""
    if stats is None:
        stats = _walk(el, True, inline=False)[0]
    if stats.has_list_fn:
        return 0.0

    score = 0.0
    words = stats.words
    if words < 3:
        return 0.0

    lower_text = stats.text.strip().lower()
    for ind in NAVIGATION_INDICATORS:
        if ind in lower_text:
            score -= 10

    links = stats.a
    if links / max(words, 1) > 0.5:
        score -= 15

    lists = stats.lists
    if lists > 0 and links > lists * 3:
        score -= 10

    class_name = (el.get("class", "") or "").lower()
    el_id = (el.get("id", "") or "").lower()
    for pattern in NON_CONTENT_PATTERNS:
        if pattern in class_name or pattern in el_id:
            score -= 8

    return score


def score_and_remove(root: Element) -> int:
    """scorer.go:517-556 — collect-then-remove over all block elements,
    with every block's stats from one walk of ``root``."""
    to_remove = []
    for stats in _walk(root, False, tags=constants.BLOCK_ELEMENTS_SET,
                       inline=False):
        el = stats.el
        if is_likely_content(el, stats):
            continue
        if score_non_content_block(el, stats) < 0:
            to_remove.append(el)
    for el in to_remove:
        el.remove()
    return len(to_remove)
