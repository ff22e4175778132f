"""Content standardization pipeline (T1-T10 of SURVEY.md §2.5).

Reimplements /root/reference/internal/standardize/content.go with the Go
version's exact stage order (Content :179-220): spaces → headings →
footnotes → elements → flatten → strip-attrs → remove-empty →
trailing-headings → flatten(2nd) → extra-brs → empty-lines.

Replicated quirks (goldens are defined by the Go reference):
- standardizeSpaces (:264-325) measures NBSP runs in *bytes* (Go regexp is
  byte-oriented), so a run of k NBSPs becomes 2k ASCII spaces and the
  "single NBSP between word chars" branch never fires for BMP NBSP;
- flattenWrapperElements Case 5 (:882-898) re-serializes the single block
  child *without its attributes*;
- transformListElement (:1723-1792) appends scratch lists to the document
  <body> and leaves them there (goquery AppendHtml workspace leak).
"""

from __future__ import annotations

import re
from typing import List, Optional

from . import constants
from .dom import COMMENT, ELEMENT, TEXT, Document, Element, Text
from .scoring import FOOTNOTE_INLINE_GROUP
from .selectors import SelectorGroup, find_all, find_first

# content.go:21-43
_NBSP_RE = re.compile("\xa0+")
_WORD_CHAR_RE = re.compile(r"\w")
_WHITESPACE_RE = re.compile(r"\s+")
_SEMANTIC_CLASS_RE = re.compile(r"(?:article|main|content|footnote|reference|bibliography)")
_WRAPPER_CLASS_RE = re.compile(r"(?:wrapper|container|layout|row|col|grid|flex|outer|inner|content-area)")
_EMPTY_TEXT_RE = re.compile(r"^[‌​‍‎‏﻿\xA0\s]*$")
_THREE_NEWLINES_RE = re.compile(r"\n{3,}")
_LEADING_NEWLINES_RE = re.compile(r"^[\n\r\t]+")
_TRAILING_NEWLINES_RE = re.compile(r"[\n\r\t]+$")
_SPACES_AROUND_NL_RE = re.compile(r"[ \t]*\n[ \t]*")
_THREE_SPACES_RE = re.compile(r"[ \t]{3,}")
_ONLY_SPACES_RE = re.compile(r"^[ ]+$")
_SPACE_BEFORE_PUNCT_RE = re.compile(r"\s+([,.!?:;])")
_ZERO_WIDTH_RE = re.compile(r"[‌​‍‎‏﻿]+")
_MULTI_NBSP_RE = re.compile(r"(?:\xA0){2,}")
_BLOCK_START_SPACE_RE = re.compile(r"^[\n\r\t ‌​‍‎‏﻿\xA0]*$")
_INLINE_START_SPACE_RE = re.compile(r"^[\n\r\t‌​‍‎‏﻿]*$")
_STARTS_WITH_PUNCT_RE = re.compile(r"^[,.!?:;)\]]")
_ENDS_WITH_PUNCT_RE = re.compile(r"[,.!?:;(\[]\s*$")
_ORDERED_LIST_LABEL_RE = re.compile(r"^\d+\)")

ADDITIONAL_BLOCK_ELEMENTS = ("p", "h1", "h2", "h3", "h4", "h5", "h6", "ul",
                             "ol", "pre", "blockquote", "figure")
_ADDITIONAL_BLOCK_SET = frozenset(ADDITIONAL_BLOCK_ELEMENTS)

_BACKREFS = SelectorGroup([
    'a[href^="#"][class*="anchor"]',
    'a[href^="#"][class*="ref"]',
    'a[class*="footnote-backref"]',
    ".footnote-backref",
])
# standardize_elements' four rules (content.go:482-546); with no match
# for any of them on entry, none can fire
_PARAGRAPH_DIVS = 'div[data-testid^="paragraph"], div[role="paragraph"]'
_LIST_DIVS = 'div[role="list"]'
_LIST_ITEM_DIVS = 'div[role="listitem"]'
_LITE_YOUTUBE = "lite-youtube"
_ELEMENT_RULES = SelectorGroup(
    [_PARAGRAPH_DIVS, _LIST_DIVS, _LIST_ITEM_DIVS, _LITE_YOUTUBE])


def standardize_content(element: Element, title: str, doc: Document,
                        debug: bool = False) -> None:
    """content.go:179-220."""
    standardize_spaces(element)
    standardize_headings(element, title)
    standardize_footnotes(element)
    standardize_elements(element, doc)
    if not debug:
        flatten_wrapper_elements(element)
        strip_unwanted_attributes(element, debug)
        remove_empty_elements(element)
        remove_trailing_headings(element)
        flatten_wrapper_elements(element)
        strip_extra_br_elements(element)
        remove_empty_lines(element)
    else:
        strip_unwanted_attributes(element, debug)
        remove_trailing_headings(element)
        strip_extra_br_elements(element)


# -- T1 ---------------------------------------------------------------------

def standardize_spaces(element: Element) -> None:
    """content.go:264-325 (byte-length NBSP quirk, see module docstring)."""

    def process(node) -> None:
        if node.type == TEXT:
            text = node.data

            def repl(m: re.Match) -> str:
                match = m.group(0)
                byte_len = len(match.encode("utf-8"))
                if byte_len == 1:  # unreachable for BMP NBSP; mirrors Go
                    prev_sib = node.prev_sibling()
                    next_sib = node.next_sibling()
                    prev = prev_sib.data[-1:] if prev_sib is not None and prev_sib.type == TEXT and prev_sib.data else ""
                    nxt = next_sib.data[:1] if next_sib is not None and next_sib.type == TEXT and next_sib.data else ""
                    if _WORD_CHAR_RE.match(prev) and _WORD_CHAR_RE.match(nxt):
                        return "\xa0"
                return " " * byte_len

            new_text = _NBSP_RE.sub(repl, text)
            if new_text != text:
                node.data = new_text

    # nodes in document order, pre/code subtrees skipped; iterative, so a
    # page nested thousands deep does not hit the recursion limit
    stack = [element]
    while stack:
        node = stack.pop()
        if node.type != ELEMENT:
            process(node)
        elif node.tag not in ("pre", "code"):
            stack.extend(node.children[::-1])


# -- T2 ---------------------------------------------------------------------

def _normalize_text(text: str) -> str:
    text = text.replace(" ", " ")
    text = _WHITESPACE_RE.sub(" ", text)
    return text.strip().lower()


def standardize_headings(element: Element, title: str) -> None:
    """content.go:364-405 — h1→h2, drop first h2 matching the title."""
    for h1 in [d for d in element.descendants() if d.tag == "h1"]:
        h1.retag("h2", [[k, v] for k, v in h1.attrs
                        if k in constants.ALLOWED_ATTRIBUTES])

    first_h2 = next((d for d in element.descendants() if d.tag == "h2"), None)
    if first_h2 is not None:
        if _normalize_text(title) and _normalize_text(first_h2.text()) == _normalize_text(title):
            first_h2.remove()


# -- T3 ---------------------------------------------------------------------

def standardize_footnotes(element: Element) -> None:
    """content.go:426-450: remove the backrefs, then make every inline
    reference a <sup>.

    One SelectorGroup sweep per selector list replaces the reference's
    sweep per selector. Removal sweeps merge (see SelectorGroup). So do
    the retag sweeps: a retag drops the element's attributes, and the
    one selector with an ancestor step (``span.footnote-hovercard-target
    a``) needs a span that only earlier selectors retag; in document
    order that span is retagged before its descendants are tested, as it
    is when the selectors run one after another."""
    _sweep(element, _BACKREFS, lambda el: el.remove())
    _sweep(element, FOOTNOTE_INLINE_GROUP,
           lambda el: el if el.tag == "sup" else el.retag("sup"))


def _sweep(element: Element, group: SelectorGroup, act) -> None:
    """Visit ``element``'s descendants in document order and replace each
    that ``group`` matches by ``act(el)``: the element that now stands in
    its place, whose children are visited next, or None when it left the
    tree (its subtree is skipped)."""
    matches = group.matches
    stack = element.children[::-1]
    while stack:
        node = stack.pop()
        if node.type != ELEMENT:
            continue
        if matches(node):
            node = act(node)
            if node is None:
                continue
        cs = node.children
        if cs:
            stack.extend(cs[::-1])


# -- T4 ---------------------------------------------------------------------

def _convert_paragraph_divs(container: Element) -> None:
    for div in find_all(container, 'div[role="paragraph"]'):
        # NOT retag(): the fragment reparse is load-bearing here — a
        # div[role=paragraph] may hold block children, and reparsing
        # "<p>" + inner + "</p>" applies the p-closing rules (splitting
        # the blocks out) exactly like the reference's goquery
        # ReplaceWithHtml; direct child-move would build p-in-p trees
        # the parser can never produce.
        div.replace_with_html("<p>" + div.inner_html() + "</p>")


def _transform_list_element(el: Element, doc: Document) -> Optional[Element]:
    """content.go:1723-1792 — div[role=list] → ul/ol (scratch nodes stay in body)."""
    first_item = find_first(el, 'div[role="listitem"] .label')
    label = first_item.text().strip() if first_item is not None else ""
    list_tag = "ol" if _ORDERED_LIST_LABEL_RE.match(label) else "ul"

    body = doc.body
    new_list = Element(list_tag)
    body.append(new_list)

    for item in find_all(el, 'div[role="listitem"]'):
        li = Element("li")
        body.append(li)
        content = find_first(item, ".content")
        if content is not None:
            _convert_paragraph_divs(content)
            for nested in find_all(content, 'div[role="list"]'):
                n_first = find_first(nested, 'div[role="listitem"] .label')
                n_label = n_first.text().strip() if n_first is not None else ""
                n_tag = "ol" if _ORDERED_LIST_LABEL_RE.match(n_label) else "ul"
                new_nested = Element(n_tag)
                body.append(new_nested)
                for n_item in find_all(nested, 'div[role="listitem"]'):
                    n_li = Element("li")
                    body.append(n_li)
                    n_content = find_first(n_item, ".content")
                    if n_content is not None:
                        _convert_paragraph_divs(n_content)
                        n_li.children = []
                        for node in list(n_content.children):
                            n_li.append(node)
                    new_nested.append(n_li)
                nested.replace_with_nodes([new_nested])
            li.children = []
            for node in list(content.children):
                li.append(node)
        new_list.append(li)

    return new_list


def _transform_list_item_element(el: Element) -> Optional[Element]:
    """content.go:1796-1809 — replacement is the .content element itself."""
    content = find_first(el, ".content")
    if content is None:
        return el
    _convert_paragraph_divs(content)
    return content


def standardize_elements(element: Element, doc: Document) -> None:
    """content.go:482-546."""
    if not any(map(_ELEMENT_RULES.matches, element.descendants())):
        return
    # Rule 1: div[data-testid^="paragraph"], div[role="paragraph"] → p
    for el in find_all(element, _PARAGRAPH_DIVS):
        parts = ["<p"]
        for k, v in el.attrs:
            if k in constants.ALLOWED_ATTRIBUTES and k != "role":
                parts.append(f' {k}="{v}"')
        parts.append(">" + el.inner_html() + "</p>")
        el.replace_with_html("".join(parts))

    # Rule 2: div[role="list"] → ul/ol
    for el in find_all(element, _LIST_DIVS):
        new_el = _transform_list_element(el, doc)
        if new_el is not None:
            el.replace_with_html(new_el.outer_html())

    # Rule 3: div[role="listitem"] → its .content
    for el in find_all(element, _LIST_ITEM_DIVS):
        new_el = _transform_list_item_element(el)
        if new_el is not None:
            el.replace_with_html(new_el.outer_html())

    # lite-youtube embeds (content.go:523-543)
    for el in find_all(element, _LITE_YOUTUBE):
        video_id = el.get("videoid") or ""
        if not video_id:
            continue
        video_title = el.get("videotitle") or "YouTube video player"
        iframe = (
            '<iframe width="560" height="315" '
            f'src="https://www.youtube.com/embed/{video_id}" '
            f'title="{video_title}" '
            'frameborder="0" '
            'allow="accelerometer; autoplay; clipboard-write; encrypted-media; '
            'gyroscope; picture-in-picture; web-share" '
            "allowfullscreen></iframe>"
        )
        el.replace_with_html(iframe)


# -- T5 ---------------------------------------------------------------------

def _has_direct_inline_content(el: Element) -> bool:
    for child in el.children:
        if child.type == TEXT:
            if child.data.strip():
                return True
        elif child.type == ELEMENT and child.tag in constants.INLINE_ELEMENTS:
            return True
    return False


def _should_preserve_element(el: Element) -> bool:
    if el.tag in constants.PRESERVE_ELEMENTS:
        return True
    role = el.get("role")
    if role in ("article", "main", "navigation", "banner", "contentinfo"):
        return True
    class_name = (el.get("class") or "").lower()
    if _SEMANTIC_CLASS_RE.search(class_name):
        return True
    for child in el.element_children():
        child_class = (child.get("class") or "").lower()
        if (child.tag in constants.PRESERVE_ELEMENTS
                or child.get("role") == "article"
                or _SEMANTIC_CLASS_RE.search(child_class)):
            return True
    return False


def _is_wrapper_element(el: Element) -> bool:
    if _has_direct_inline_content(el):
        return False
    if not el.text().strip():
        return True
    children = el.element_children()
    if not children:
        return True
    if all(c.tag in constants.BLOCK_ELEMENTS_SET or c.tag in _ADDITIONAL_BLOCK_SET
           for c in children):
        return True
    class_name = (el.get("class") or "").lower()
    if _WRAPPER_CLASS_RE.search(class_name):
        return True
    if not any(c.type == TEXT and c.data.strip() for c in el.children):
        return True
    return not any(c.tag in constants.INLINE_ELEMENTS for c in children)


def flatten_wrapper_elements(element: Element) -> None:
    """content.go:652-1015 — three-pass fixpoint, literal control flow."""

    def process_element(el: Element) -> bool:
        if _should_preserve_element(el):
            return False

        tag = el.tag

        # Case 1: truly empty, not allowed-empty
        if (tag not in constants.ALLOWED_EMPTY_ELEMENTS
                and not el.element_children()
                and not el.text().strip()):
            el.remove()
            return True

        # Case 2: direct child of the root element — aggressive unwrap
        if el.parent is element:
            children = el.element_children()
            if children and not any(c.tag in constants.INLINE_ELEMENTS for c in children):
                el.unwrap()
                return True

        # Case 3: wrapper element — unwrap
        if _is_wrapper_element(el):
            el.unwrap()
            return True

        # Case 4: only text/inline children with content — wrap in <p>
        has_only_inline_or_text = True
        has_content = False
        for child in el.children:
            if child.type == TEXT:
                if child.data.strip():
                    has_content = True
            elif child.type == ELEMENT:
                if child.tag not in constants.INLINE_ELEMENTS:
                    has_only_inline_or_text = False
        if has_only_inline_or_text and has_content:
            p = Element("p")
            for node in list(el.children):
                p.append(node)
            el.replace_with_nodes([p])
            return True

        # Case 5: single block child — unwrap (child loses its attributes)
        children = el.element_children()
        if len(children) == 1:
            child = children[0]
            if child.tag in constants.BLOCK_ELEMENTS_SET and not _should_preserve_element(child):
                replacement = Element(child.tag)
                for node in list(child.children):
                    replacement.append(node)
                el.replace_with_nodes([replacement])
                return True

        # Case 6: nested under block ancestors and no direct inline content
        # (the reference counts them; only "any" matters, so stop at one)
        nested = False
        parent = el.parent
        while parent is not None and not nested:
            nested = parent.type == ELEMENT and parent.tag in constants.BLOCK_ELEMENTS_SET
            parent = parent.parent
        if nested and not _has_direct_inline_content(el):
            el.unwrap()
            return True

        return False

    def process_top_level() -> bool:
        modified = False
        for el in list(element.element_children()):
            if el.tag in constants.BLOCK_ELEMENTS_SET and process_element(el):
                modified = True
        return modified

    def process_remaining() -> bool:
        modified = False
        # deepest first (stable: document order within a depth); depths
        # relative to ``element`` order the same as ancestor counts
        depth = {id(element): 0}
        all_elements = []
        for d in element.descendants():
            depth[id(d)] = depth[id(d.parent)] + 1
            if d.tag in constants.BLOCK_ELEMENTS_SET:
                all_elements.append(d)
        all_elements.sort(key=lambda e: -depth[id(e)])
        for el in all_elements:
            if process_element(el):
                modified = True
        return modified

    def final_cleanup() -> bool:
        modified = False
        for el in [d for d in element.descendants()
                   if d.tag in constants.BLOCK_ELEMENTS_SET]:
            children = el.element_children()
            only_paragraphs = bool(children) and all(c.tag == "p" for c in children)
            if only_paragraphs or (not _should_preserve_element(el) and _is_wrapper_element(el)):
                el.unwrap()
                modified = True
        return modified

    keep_processing = True
    guard = 0
    while keep_processing and guard < 10000:
        guard += 1
        keep_processing = False
        if process_top_level():
            keep_processing = True
        if process_remaining():
            keep_processing = True
        if final_cleanup():
            keep_processing = True


# -- T6 ---------------------------------------------------------------------

def strip_unwanted_attributes(element: Element, debug: bool) -> None:
    """content.go:1076-1147."""

    def process(el: Element) -> None:
        tag = el.tag
        kept = []
        for k, v in el.attrs:
            name = k.lower()
            if name == "id" and (v.startswith("fnref:") or v.startswith("fn:") or v == "footnotes"):
                kept.append([k, v])
                continue
            if name == "class" and ((tag == "code" and v.startswith("language-"))
                                    or v == "footnote-backref"):
                kept.append([k, v])
                continue
            if debug:
                if (name in constants.ALLOWED_ATTRIBUTES
                        or name in constants.ALLOWED_ATTRIBUTES_DEBUG
                        or name.startswith("data-")):
                    kept.append([k, v])
            else:
                if name in constants.ALLOWED_ATTRIBUTES:
                    kept.append([k, v])
        el.attrs = kept

    def _inside_svg(el: Element) -> bool:
        p = el.parent
        while p is not None and p.type == ELEMENT:
            if p.tag == "svg":
                return True
            p = p.parent
        return False

    # svg subtrees keep their attributes: one walk that stops at each svg,
    # not an ancestor scan per element
    if _inside_svg(element):
        return
    stack = [element]
    while stack:
        el = stack.pop()
        if el.tag != "svg":
            process(el)
            stack.extend(c for c in el.children if c.type == ELEMENT)


# -- T7 ---------------------------------------------------------------------

def remove_empty_elements(element: Element) -> None:
    """content.go:1206-1292 — fixpoint removal of empty elements."""
    keep_removing = True
    while keep_removing:
        keep_removing = False
        empty: List[Element] = []
        for el in element.descendants():
            tag = el.tag
            if tag in constants.ALLOWED_EMPTY_ELEMENTS:
                continue
            has_no_children = True
            for child in el.children:
                if child.type == TEXT:
                    if child.data.strip() or " " in child.data:
                        has_no_children = False
                else:
                    has_no_children = False
            if not el.children:
                has_no_children = True

            if tag == "div":
                children = el.element_children()
                if children:
                    only_comma_spans = all(
                        c.tag == "span" and c.text().strip() in (",", "")
                        for c in children
                    )
                    if only_comma_spans:
                        empty.append(el)
                        continue

            # The reference also requires el's whole text to be whitespace
            # without NBSP; with no element children and only such text
            # children, it always is, so the per-element text() (quadratic
            # on deep pages) is not built.
            if has_no_children:
                empty.append(el)

        if empty:
            for el in empty:
                el.remove()
            keep_removing = True


# -- T8 ---------------------------------------------------------------------

def remove_trailing_headings(element: Element) -> None:
    """content.go:1317-1335."""
    headings = [d for d in element.descendants()
                if d.tag in ("h1", "h2", "h3", "h4", "h5", "h6")]
    for heading in headings:
        if not any(s.text().strip() for s in heading.next_element_siblings()):
            heading.remove()


# -- T9 ---------------------------------------------------------------------

def strip_extra_br_elements(element: Element) -> None:
    """content.go:1364-1384 — collapse ≥3 consecutive <br> to 2."""
    to_remove = []
    consecutive = 0
    for br in [d for d in element.descendants() if d.tag == "br"]:
        nxt = br.next_element_sibling()
        if nxt is not None and nxt.tag == "br":
            consecutive += 1
            if consecutive >= 2:
                to_remove.append(br)
        else:
            consecutive = 0
    for br in to_remove:
        br.remove()


# -- T10 --------------------------------------------------------------------

def remove_empty_lines(element: Element) -> None:
    """content.go:1523-1719 — two text-node cleanup passes."""

    def remove_empty_text_nodes(node) -> None:
        if node.type == TEXT:
            text = node.data
            if not text or _EMPTY_TEXT_RE.match(text):
                node.detach()
            else:
                new_text = _THREE_NEWLINES_RE.sub("\n\n", text)
                new_text = _LEADING_NEWLINES_RE.sub("", new_text)
                new_text = _TRAILING_NEWLINES_RE.sub("", new_text)
                new_text = _SPACES_AROUND_NL_RE.sub("\n", new_text)
                new_text = _THREE_SPACES_RE.sub(" ", new_text)
                new_text = _ONLY_SPACES_RE.sub(" ", new_text)
                new_text = _SPACE_BEFORE_PUNCT_RE.sub(r"\1", new_text)
                new_text = _ZERO_WIDTH_RE.sub("", new_text)
                new_text = _MULTI_NBSP_RE.sub("\xa0", new_text)
                if new_text != text:
                    node.data = new_text

    def cleanup(node: Element) -> None:
        tag = node.tag
        is_block = tag in constants.BLOCK_ELEMENTS_SET or tag in _ADDITIONAL_BLOCK_SET
        pattern = _BLOCK_START_SPACE_RE if is_block else _INLINE_START_SPACE_RE

        while (node.children and node.children[0].type == TEXT
               and pattern.match(node.children[0].data)):
            node.children[0].detach()
        while (node.children and node.children[-1].type == TEXT
               and pattern.match(node.children[-1].data)):
            node.children[-1].detach()

        kids = list(node.children)
        for i in range(len(kids) - 1):
            current, nxt = kids[i], kids[i + 1]
            cur_inline = current.type == TEXT or (
                current.type == ELEMENT and current.tag in constants.INLINE_ELEMENTS)
            nxt_inline = nxt.type == TEXT or (
                nxt.type == ELEMENT and nxt.tag in constants.INLINE_ELEMENTS)
            if not (cur_inline and nxt_inline):
                continue
            if current.type != ELEMENT and nxt.type != ELEMENT:
                continue
            next_content = nxt.data if nxt.type == TEXT else (
                nxt.text() if nxt.type == ELEMENT else "")
            current_content = current.data if current.type == TEXT else (
                current.text() if current.type == ELEMENT else "")
            if _STARTS_WITH_PUNCT_RE.match(next_content):
                continue
            if _ENDS_WITH_PUNCT_RE.search(current_content):
                continue
            has_space = (current.type == TEXT and current.data.endswith(" ")) or (
                nxt.type == TEXT and nxt.data.startswith(" "))
            if not has_space:
                node.insert_before(Text(" "), nxt)

    # Both passes skip pre/code subtrees and walk without recursion, so a
    # page nested thousands deep does not hit the recursion limit: text
    # nodes in document order, then elements children-first.
    stack = [element]
    while stack:
        node = stack.pop()
        if node.type != ELEMENT:
            remove_empty_text_nodes(node)
        elif node.tag not in ("pre", "code"):
            stack.extend(node.children[::-1])
    stack = [(element, False)]
    while stack:
        node, children_done = stack.pop()
        if children_done:
            cleanup(node)
        elif node.tag not in ("pre", "code"):
            stack.append((node, True))
            stack.extend((c, False) for c in node.children[::-1]
                         if c.type == ELEMENT)
