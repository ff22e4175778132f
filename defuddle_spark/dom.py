"""Minimal HTML DOM for the extraction kernel.

Pure Python (stdlib ``html.parser``), no third-party parser. Built for
deterministic, byte-stable serialization matching Go's ``x/net/html``
render rules (the reference parses/serializes via goquery on x/net/html;
see /root/reference/defuddle.go:89-108, 565). Key parity points:

- serializer escapes ``& ' < > " \\r`` as ``&amp; &#39; &lt; &gt; &#34; &#13;``
  in both text and attribute values (x/net/html escape set);
- void elements render as ``<br/>``;
- raw-text elements (script/style/iframe/...) render children literally;
- documents are normalized to an ``html > (head, body)`` shell;
- ``<tr>`` directly inside ``<table>`` gets an implied ``<tbody>`` (HTML5
  tree construction, matching x/net/html for the table-layout archetype).

The tree is mutable; nodes detached from the tree keep their subtree and
mutation on detached nodes is a safe no-op where the reference's goquery
behaves the same way.
"""

from __future__ import annotations

import html.parser as _hp
import re
from html import unescape as _unescape
from html.entities import html5 as _html5
from html.parser import HTMLParser
from typing import Iterator, Optional

TEXT = 3
ELEMENT = 1
COMMENT = 8

# The spec's "ASCII whitespace" (tab, LF, FF, CR, space) — parsing-mode
# whitespace decisions must NOT use Python's default str.strip(), which
# also treats U+00A0 and other Unicode spaces as whitespace.
_SPEC_WS = " \t\n\r\f"

VOID_ELEMENTS = frozenset({
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
})

# x/net/html render.go: children rendered without escaping
RAW_TEXT_ELEMENTS = frozenset({
    "iframe", "noembed", "noframes", "noscript", "plaintext", "script",
    "style", "xmp",
})

HEAD_ELEMENTS = frozenset({
    "title", "base", "link", "meta", "style", "script", "noscript", "template",
})

# tags that implicitly close an open <p>. NOTE: <table> closes a p only
# in NO-quirks documents (spec in-body "table" start tag; the quirks
# check happens in _implied_close).
_P_CLOSERS = frozenset({
    "address", "article", "aside", "blockquote", "center", "details",
    "dialog", "dir", "div", "dl", "fieldset", "figcaption", "figure",
    "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "header",
    "hgroup", "hr", "listing", "main", "menu", "nav", "ol", "p",
    "plaintext", "pre", "section", "summary", "ul", "xmp",
})

# Quirks-mode doctype classification (spec 13.2.6.2 "the initial
# insertion mode"; x/net/html parse.go quirkyIDs). A missing doctype, a
# non-html name, or a legacy public/system identifier switches the
# document to quirks mode — whose single tree-construction effect is
# that <table> no longer closes an open <p>.
_QUIRKY_PUBLIC_PREFIXES = (
    "+//silmaril//dtd html pro v0r11 19970101//",
    "-//as//dtd html 3.0 aswedit + extensions//",
    "-//advasoft ltd//dtd html 3.0 aswedit + extensions//",
    "-//ietf//dtd html 2.0 level 1//",
    "-//ietf//dtd html 2.0 level 2//",
    "-//ietf//dtd html 2.0 strict level 1//",
    "-//ietf//dtd html 2.0 strict level 2//",
    "-//ietf//dtd html 2.0 strict//",
    "-//ietf//dtd html 2.0//",
    "-//ietf//dtd html 2.1e//",
    "-//ietf//dtd html 3.0//",
    "-//ietf//dtd html 3.2 final//",
    "-//ietf//dtd html 3.2//",
    "-//ietf//dtd html 3//",
    "-//ietf//dtd html level 0//",
    "-//ietf//dtd html level 1//",
    "-//ietf//dtd html level 2//",
    "-//ietf//dtd html level 3//",
    "-//ietf//dtd html strict level 0//",
    "-//ietf//dtd html strict level 1//",
    "-//ietf//dtd html strict level 2//",
    "-//ietf//dtd html strict level 3//",
    "-//ietf//dtd html strict//",
    "-//ietf//dtd html//",
    "-//metrius//dtd metrius presentational//",
    "-//microsoft//dtd internet explorer 2.0 html strict//",
    "-//microsoft//dtd internet explorer 2.0 html//",
    "-//microsoft//dtd internet explorer 2.0 tables//",
    "-//microsoft//dtd internet explorer 3.0 html strict//",
    "-//microsoft//dtd internet explorer 3.0 html//",
    "-//microsoft//dtd internet explorer 3.0 tables//",
    "-//netscape comm. corp.//dtd html//",
    "-//netscape comm. corp.//dtd strict html//",
    "-//o'reilly and associates//dtd html 2.0//",
    "-//o'reilly and associates//dtd html extended 1.0//",
    "-//o'reilly and associates//dtd html extended relaxed 1.0//",
    "-//sq//dtd html 2.0 hotmetal + extensions//",
    "-//softquad software//dtd hotmetal pro 6.0::19990601::"
    "extensions to html 4.0//",
    "-//softquad//dtd hotmetal pro 4.0::19971010::extensions to html 4.0//",
    "-//spyglass//dtd html 2.0 extended//",
    "-//sun microsystems corp.//dtd hotjava html//",
    "-//sun microsystems corp.//dtd hotjava strict html//",
    "-//w3c//dtd html 3 1995-03-24//",
    "-//w3c//dtd html 3.2 draft//",
    "-//w3c//dtd html 3.2 final//",
    "-//w3c//dtd html 3.2//",
    "-//w3c//dtd html 3.2s draft//",
    "-//w3c//dtd html 4.0 frameset//",
    "-//w3c//dtd html 4.0 transitional//",
    "-//w3c//dtd html experimental 19960712//",
    "-//w3c//dtd html experimental 970421//",
    "-//w3c//dtd w3 html//",
    "-//w3o//dtd w3 html 3.0//",
    "-//webtechs//dtd mozilla html 2.0//",
    "-//webtechs//dtd mozilla html//",
)
_QUIRKY_PUBLIC_EXACT = frozenset({
    "-//w3o//dtd w3 html strict 3.0//en//",
    "-/w3c/dtd html 4.0 transitional/en",
    "html",
})
_QUIRKY_NOSYSTEM_PUBLIC_PREFIXES = (
    "-//w3c//dtd html 4.01 frameset//",
    "-//w3c//dtd html 4.01 transitional//",
)
_QUIRKY_SYSTEM_EXACT = \
    "http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd"

_DOCTYPE_RE = re.compile(r"doctype\s*([^\s>]*)\s*(.*)$", re.I | re.S)
# Spec 13.2.6.2 tokenizer states, including their force-quirks asymmetry:
# junk AFTER a well-formed system identifier is an
# unexpected-character-after-doctype-system-identifier parse error that
# does NOT set force-quirks (the bogus-DOCTYPE state just eats it), so
# both identifier-complete alternatives end in `.*`; junk after a
# public-id-only clause (missing-quote-before-doctype-system-identifier)
# DOES force quirks. Each identifier uses a negated-class body ([^"]* /
# [^']*) rather than a lazy backreferenced match: backtracking on `(.*?)\1`
# could extend the public id ACROSS non-quote junk to a later quote,
# classifying `PUBLIC "id" junk "sys"` as a long public-id-only clause
# (no quirks) when the spec forces quirks there — the char after the
# public id's closing quote must be a quote, `>`, or EOF (ADVICE r5).
_PUBLIC_RE = re.compile(
    r"public\s*(?:\"([^\"]*)\"|'([^']*)')"
    r"(?:\s*$|\s*(?:\"([^\"]*)\"|'([^']*)').*$)", re.I | re.S)
_SYSTEM_RE = re.compile(
    r"system\s*(?:\"([^\"]*)\"|'([^']*)').*$", re.I | re.S)


def _doctype_is_quirky(decl: str) -> bool:
    """Classify a ``<!DOCTYPE ...>`` declaration body per spec 13.2.6.2."""
    m = _DOCTYPE_RE.match(decl.strip())
    if not m:
        return True
    name, rest = m.group(1).lower(), m.group(2).strip()
    if name != "html":
        return True
    public_id = system_id = None
    pm = _PUBLIC_RE.match(rest)
    if pm:
        public_id = (pm.group(1) if pm.group(1) is not None
                     else pm.group(2)).lower()
        sys_raw = pm.group(3) if pm.group(3) is not None else pm.group(4)
        system_id = sys_raw.lower() if sys_raw is not None else None
    else:
        sm = _SYSTEM_RE.match(rest)
        if sm:
            system_id = (sm.group(1) if sm.group(1) is not None
                         else sm.group(2)).lower()
        elif rest:
            return True  # malformed identifier clause: force-quirks
    if public_id is not None:
        if public_id in _QUIRKY_PUBLIC_EXACT:
            return True
        if public_id.startswith(_QUIRKY_PUBLIC_PREFIXES):
            return True
        if system_id is None and \
                public_id.startswith(_QUIRKY_NOSYSTEM_PUBLIC_PREFIXES):
            return True
    if system_id == _QUIRKY_SYSTEM_EXACT:
        return True
    return False

# HTML5 foreign-content case adjustments (SVG), as applied by x/net/html
_SVG_ATTR_ADJUST = {
    "attributename": "attributeName", "attributetype": "attributeType",
    "basefrequency": "baseFrequency", "baseprofile": "baseProfile",
    "calcmode": "calcMode", "clippathunits": "clipPathUnits",
    "diffuseconstant": "diffuseConstant", "edgemode": "edgeMode",
    "filterunits": "filterUnits", "glyphref": "glyphRef",
    "gradienttransform": "gradientTransform", "gradientunits": "gradientUnits",
    "kernelmatrix": "kernelMatrix", "kernelunitlength": "kernelUnitLength",
    "keypoints": "keyPoints", "keysplines": "keySplines", "keytimes": "keyTimes",
    "lengthadjust": "lengthAdjust", "limitingconeangle": "limitingConeAngle",
    "markerheight": "markerHeight", "markerunits": "markerUnits",
    "markerwidth": "markerWidth", "maskcontentunits": "maskContentUnits",
    "maskunits": "maskUnits", "numoctaves": "numOctaves",
    "pathlength": "pathLength", "patterncontentunits": "patternContentUnits",
    "patterntransform": "patternTransform", "patternunits": "patternUnits",
    "pointsatx": "pointsAtX", "pointsaty": "pointsAtY", "pointsatz": "pointsAtZ",
    "preservealpha": "preserveAlpha", "preserveaspectratio": "preserveAspectRatio",
    "primitiveunits": "primitiveUnits", "refx": "refX", "refy": "refY",
    "repeatcount": "repeatCount", "repeatdur": "repeatDur",
    "requiredextensions": "requiredExtensions", "requiredfeatures": "requiredFeatures",
    "specularconstant": "specularConstant", "specularexponent": "specularExponent",
    "spreadmethod": "spreadMethod", "startoffset": "startOffset",
    "stddeviation": "stdDeviation", "stitchtiles": "stitchTiles",
    "surfacescale": "surfaceScale", "systemlanguage": "systemLanguage",
    "tablevalues": "tableValues", "targetx": "targetX", "targety": "targetY",
    "textlength": "textLength", "viewbox": "viewBox", "viewtarget": "viewTarget",
    "xchannelselector": "xChannelSelector", "ychannelselector": "yChannelSelector",
    "zoomandpan": "zoomAndPan",
}

# MathML foreign-content adjustment (x/net/html mathMLAttributeAdjustments:
# the single case-adjusted MathML attribute).
_MATHML_ATTR_ADJUST = {"definitionurl": "definitionURL"}

# x/net/html parser.go `breakout`: HTML start tags that pop the parser out
# of foreign content (unless the current node is an integration point).
_BREAKOUT = frozenset({
    "b", "big", "blockquote", "body", "br", "center", "code", "dd", "div",
    "dl", "dt", "em", "embed", "h1", "h2", "h3", "h4", "h5", "h6", "head",
    "hr", "i", "img", "li", "listing", "menu", "meta", "nobr", "ol", "p",
    "pre", "ruby", "s", "small", "span", "strong", "strike", "sub", "sup",
    "table", "tt", "u", "ul", "var",
})

# MathML text integration points (spec 13.2.6.5; x/net/html
# mathMLTextIntegrationPoint) — HTML rules apply inside these except for
# <mglyph>/<malignmark> start tags.
_MATH_TEXT_IP = frozenset({"mi", "mo", "mn", "ms", "mtext"})

# SVG HTML integration points (htmlIntegrationPoint); math annotation-xml
# qualifies only with an HTML encoding attribute — checked in code.
_SVG_HTML_IP = frozenset({"foreignObject", "desc", "title"})

_SVG_TAG_ADJUST = {
    "altglyph": "altGlyph", "altglyphdef": "altGlyphDef",
    "altglyphitem": "altGlyphItem", "animatecolor": "animateColor",
    "animatemotion": "animateMotion", "animatetransform": "animateTransform",
    "clippath": "clipPath", "feblend": "feBlend", "fecolormatrix": "feColorMatrix",
    "fecomponenttransfer": "feComponentTransfer", "fecomposite": "feComposite",
    "feconvolvematrix": "feConvolveMatrix", "fediffuselighting": "feDiffuseLighting",
    "fedisplacementmap": "feDisplacementMap", "fedistantlight": "feDistantLight",
    "fedropshadow": "feDropShadow", "feflood": "feFlood", "fefunca": "feFuncA",
    "fefuncb": "feFuncB", "fefuncg": "feFuncG", "fefuncr": "feFuncR",
    "fegaussianblur": "feGaussianBlur", "feimage": "feImage", "femerge": "feMerge",
    "femergenode": "feMergeNode", "femorphology": "feMorphology",
    "feoffset": "feOffset", "fepointlight": "fePointLight",
    "fespecularlighting": "feSpecularLighting", "fespotlight": "feSpotLight",
    "fetile": "feTile", "feturbulence": "feTurbulence",
    "foreignobject": "foreignObject", "glyphref": "glyphRef",
    "lineargradient": "linearGradient", "radialgradient": "radialGradient",
    "textpath": "textPath",
}

# HTML5 formatting elements (spec 13.2.4.3; x/net/html parse.go) — tracked in
# the list of active formatting elements and reconstructed / adopted.
_FORMATTING = frozenset({
    "a", "b", "big", "code", "em", "font", "i", "nobr", "s", "small",
    "strike", "strong", "tt", "u",
})

# x/net/html isSpecialElement (parse.go): the "special" category used by the
# adoption agency's furthest-block search and the any-other-end-tag rule.
_SPECIAL = frozenset({
    "address", "applet", "area", "article", "aside", "base", "basefont",
    "bgsound", "blockquote", "body", "br", "button", "caption", "center",
    "col", "colgroup", "dd", "details", "dir", "div", "dl", "dt", "embed",
    "fieldset", "figcaption", "figure", "footer", "form", "frame",
    "frameset", "h1", "h2", "h3", "h4", "h5", "h6", "head", "header",
    "hgroup", "hr", "html", "iframe", "img", "input", "keygen", "li",
    "link", "listing", "main", "marquee", "menu", "meta", "nav", "noembed",
    "noframes", "noscript", "object", "ol", "p", "param", "plaintext",
    "pre", "script", "section", "select", "source", "style", "summary",
    "table", "tbody", "td", "template", "textarea", "tfoot", "th", "thead",
    "title", "tr", "track", "ul", "wbr", "xmp",
})

# Default-scope boundary set for "has an element in scope" (spec 13.2.4.2).
_DEFAULT_SCOPE_STOP = frozenset({
    "applet", "caption", "html", "table", "td", "th", "marquee", "object",
    "template",
})

# Start tags that push a scope marker onto the active formatting list.
_AFE_MARKER_TAGS = frozenset({
    "td", "th", "caption", "applet", "object", "marquee", "template",
})

# "In body" start tags whose spec rules do NOT reconstruct the active
# formatting elements (blocks, list items, table machinery, head-ish, raw
# text). Everything else — formatting tags, phrasing, void inlines,
# "any other start tag" — reconstructs first.
_NO_RECONSTRUCT = frozenset({
    "html", "head", "body", "frameset", "frame", "base", "basefont",
    "bgsound", "link", "meta", "title", "noscript", "noframes", "script",
    "style", "template", "address", "article", "aside", "blockquote",
    "center", "details", "dialog", "dir", "div", "dl", "fieldset",
    "figcaption", "figure", "footer", "header", "hgroup", "main", "menu",
    "nav", "ol", "p", "section", "summary", "ul", "h1", "h2", "h3", "h4",
    "h5", "h6", "pre", "listing", "form", "li", "dd", "dt", "plaintext",
    "table", "hr", "textarea", "iframe", "noembed", "caption", "col",
    "colgroup", "tbody", "td", "tfoot", "th", "thead", "tr",
})

# Start tags with an in-body rule of their own (document shell, frames,
# forms, buttons, table structure, ruby, implied end tags, headings,
# foreign content, nobr, scope markers): _TreeBuilder.handle_starttag's
# fast path never takes them.
_START_RULES = frozenset({
    "image", "html", "head", "body", "frameset", "frame", "form", "button",
    "caption", "col", "colgroup", "tbody", "td", "tfoot", "th", "thead",
    "tr", "table", "rb", "rtc", "rp", "rt", "li", "dd", "dt", "option",
    "h1", "h2", "h3", "h4", "h5", "h6", "svg", "math", "nobr", "applet",
    "object", "marquee", "template",
})

# End tags with a rule of their own even when they name the current node.
_END_RULES = frozenset({"br", "html", "body", "head", "form"})

# Insertion contexts that trigger foster parenting, and the start tags that
# are legal inside them (x/net/html inTableIM; simplified).
_TABLE_CTX = frozenset({"table", "tbody", "tfoot", "thead", "tr"})
# NOTE: no "select" here — x/net/html's inTableIM has no select case, so
# a <select> opened in a table context is "anything else": foster-parented
# before the table (its in-select-in-table pops still see the table on the
# open-elements stack).
_TABLE_ALLOWED = frozenset({
    "caption", "colgroup", "col", "tbody", "tfoot", "thead", "td", "th",
    "tr", "style", "script", "template", "form", "table",
})


class _Marker:
    """Scope marker sentinel for the active formatting elements list."""
    __slots__ = ()
    tag = "#marker"


_MARKER = _Marker()


_IMPLIED_END = {
    "li": frozenset({"li"}),
    "dt": frozenset({"dt", "dd"}),
    "dd": frozenset({"dt", "dd"}),
    "tr": frozenset({"tr"}),
    "td": frozenset({"td", "th"}),
    "th": frozenset({"td", "th"}),
    # option start closes only an open option; optgroup handling (which
    # also pops an open optgroup) lives in the in-select rules
    "option": frozenset({"option"}),
    "thead": frozenset({"thead", "tbody", "tfoot"}),
    "tbody": frozenset({"thead", "tbody", "tfoot"}),
    "tfoot": frozenset({"thead", "tbody", "tfoot"}),
}

# The spec's "generate implied end tags" element set (13.2.4; x/net/html
# generateImpliedEndTags) — used by the ruby rules and end-tag handling.
_IMPLIED_END_GENERATE = frozenset({
    "dd", "dt", "li", "optgroup", "option", "p", "rb", "rp", "rt", "rtc",
})


class Node:
    __slots__ = ("parent",)
    type: int = 0

    def __init__(self) -> None:
        self.parent: Optional[Element] = None

    def detach(self) -> None:
        p = self.parent
        if p is not None:
            try:
                p.children.remove(self)
            except ValueError:
                pass
            self.parent = None

    remove = detach

    def next_sibling(self) -> Optional["Node"]:
        p = self.parent
        if p is None:
            return None
        sibs = p.children
        try:
            i = sibs.index(self)
        except ValueError:
            return None
        return sibs[i + 1] if i + 1 < len(sibs) else None

    def prev_sibling(self) -> Optional["Node"]:
        p = self.parent
        if p is None:
            return None
        sibs = p.children
        try:
            i = sibs.index(self)
        except ValueError:
            return None
        return sibs[i - 1] if i > 0 else None


class Text(Node):
    __slots__ = ("data",)
    type = TEXT

    def __init__(self, data: str) -> None:
        self.parent = None
        self.data = data

    def text(self) -> str:
        return self.data

    def __repr__(self) -> str:  # pragma: no cover
        return f"Text({self.data!r})"


class Comment(Node):
    __slots__ = ("data",)
    type = COMMENT

    def __init__(self, data: str) -> None:
        self.parent = None
        self.data = data

    def text(self) -> str:
        return ""


class Element(Node):
    __slots__ = ("tag", "attrs", "children")
    type = ELEMENT

    def __init__(self, tag: str, attrs: Optional[list] = None) -> None:
        self.parent = None
        self.tag = tag
        # ordered list of [name, value]; first occurrence wins on duplicates
        self.attrs: list = attrs if attrs is not None else []
        self.children: list = []

    # -- attributes ---------------------------------------------------
    def get(self, name: str, default=None):
        for k, v in self.attrs:
            if k == name:
                return v
        return default

    def has_attr(self, name: str) -> bool:
        return any(k == name for k, _ in self.attrs)

    def set_attr(self, name: str, value: str) -> None:
        for pair in self.attrs:
            if pair[0] == name:
                pair[1] = value
                return
        self.attrs.append([name, value])

    def remove_attr(self, name: str) -> None:
        self.attrs = [p for p in self.attrs if p[0] != name]

    # -- tree ops -----------------------------------------------------
    def append(self, node: Node) -> None:
        node.detach()
        node.parent = self
        self.children.append(node)

    def insert_before(self, node: Node, ref: Node) -> None:
        node.detach()
        node.parent = self
        try:
            i = self.children.index(ref)
        except ValueError:
            self.children.append(node)
            return
        self.children.insert(i, node)

    def replace_with_nodes(self, nodes: list) -> None:
        """Replace this element in its parent with ``nodes`` (no-op if detached)."""
        p = self.parent
        if p is None:
            return
        try:
            i = p.children.index(self)
        except ValueError:
            return
        self.parent = None
        for n in nodes:
            n.detach()
        p.children[i:i + 1] = nodes
        for n in nodes:
            n.parent = p

    def replace_with_html(self, fragment: str) -> None:
        self.replace_with_nodes(parse_fragment(fragment))

    def unwrap(self) -> None:
        """Replace this element with its children (goquery ReplaceWithHtml(inner))."""
        self.replace_with_nodes(list(self.children))

    def retag(self, new_tag: str, attrs: Optional[list] = None) -> "Element":
        """Replace this element with a same-children element of another
        tag — pure tree surgery, equivalent to the serialize-and-reparse
        `replace_with_html("<t …>" + inner_html() + "</t>")` pattern
        (re-parsing a parser-built subtree is the identity) without the
        per-call tokenizer round trip (it was one full fragment parse per
        retagged heading in the kernel hot path)."""
        el = Element(new_tag, attrs or [])
        kids = list(self.children)
        self.children = []
        for c in kids:
            c.parent = el
        el.children = kids
        self.replace_with_nodes([el])
        return el

    def element_children(self) -> list:
        return [c for c in self.children if c.type == ELEMENT]

    def descendants(self) -> Iterator["Element"]:
        """All descendant elements in document order (excluding self).

        Filter-at-pop with slice-reversal: ~2.6x faster than building a
        filtered listcomp per node (this is the hottest loop in the
        kernel — every selector sweep walks it)."""
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if node.type == ELEMENT:
                yield node
                cs = node.children
                if cs:
                    stack.extend(cs[::-1])

    def next_element_sibling(self) -> Optional["Element"]:
        p = self.parent
        if p is None:
            return None
        sibs = p.children
        try:
            i = sibs.index(self)
        except ValueError:
            return None
        for s in sibs[i + 1:]:
            if s.type == ELEMENT:
                return s
        return None

    def next_element_siblings(self) -> list:
        p = self.parent
        if p is None:
            return []
        sibs = p.children
        try:
            i = sibs.index(self)
        except ValueError:
            return []
        return [s for s in sibs[i + 1:] if s.type == ELEMENT]

    def closest(self, tag: str) -> Optional["Element"]:
        el: Optional[Element] = self
        while el is not None:
            if el.tag == tag:
                return el
            el = el.parent
        return None

    # -- text / serialization ------------------------------------------
    def text(self) -> str:
        parts: list = []
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            t = node.type
            if t == TEXT:
                parts.append(node.data)
            elif t == ELEMENT:
                cs = node.children
                if cs:
                    stack.extend(cs[::-1])
        return "".join(parts)

    def inner_html(self) -> str:
        out: list = []
        raw = self.tag in RAW_TEXT_ELEMENTS
        for c in self.children:
            _render(c, out, raw)
        return "".join(out)

    def outer_html(self) -> str:
        out: list = []
        _render(self, out, False)
        return "".join(out)

    def __repr__(self) -> str:  # pragma: no cover
        return f"<{self.tag} attrs={self.attrs} kids={len(self.children)}>"


# ---------------------------------------------------------------------------
# Serialization (x/net/html render parity)
# ---------------------------------------------------------------------------

def escape_html(s: str) -> str:
    if not ("&" in s or "<" in s or ">" in s or '"' in s or "'" in s or "\r" in s):
        return s
    return (
        s.replace("&", "&amp;")
        .replace("'", "&#39;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&#34;")
        .replace("\r", "&#13;")
    )


def _render(node: Node, out: list, parent_raw: bool) -> None:
    t = node.type
    if t == TEXT:
        out.append(node.data if parent_raw else escape_html(node.data))
        return
    if t == COMMENT:
        out.append("<!--" + node.data + "-->")
        return
    # Iterative, so a page nested thousands deep renders without recursion:
    # the stack holds elements still to open and the finished markup of
    # text, comments and end tags (plain strings), last child on top.
    stack: list = [node]
    while stack:
        node = stack.pop()
        if node.__class__ is str:
            out.append(node)
            continue
        tag = node.tag
        out.append("<")
        out.append(tag)
        for k, v in node.attrs:
            out.append(" ")
            out.append(k)
            out.append('="')
            out.append(escape_html(v))
            out.append('"')
        if tag in VOID_ELEMENTS:
            out.append("/>")
            continue
        out.append(">")
        # x/net/html render: re-emit the parse-dropped newline so a
        # pre/listing/textarea whose text begins with "\n" round-trips
        kids = node.children
        if tag in ("pre", "listing", "textarea"):
            if kids and kids[0].type == TEXT and kids[0].data.startswith("\n"):
                out.append("\n")
        stack.append("</" + tag + ">")
        raw = tag in RAW_TEXT_ELEMENTS
        for c in reversed(kids):
            t = c.type
            if t == ELEMENT:
                stack.append(c)
            elif t == TEXT:
                stack.append(c.data if raw else escape_html(c.data))
            else:
                stack.append("<!--" + c.data + "-->")


# ---------------------------------------------------------------------------
# Parsing
# ---------------------------------------------------------------------------

class _TreeBuilder(HTMLParser):
    """HTML5-ish tree builder (pragmatic subset of the spec)."""

    # html.parser raw-content mode. script/style are CDATA (raw); title/
    # textarea are RCDATA per spec — raw EXCEPT character references,
    # which handle_data decodes below. Without this, markup-looking text
    # inside <title>/<textarea> is parsed as real elements (x/net/html
    # treats both as text-only).
    # noframes/xmp/noembed/iframe are rawtext per spec (the generic raw
    # text elements parsing algorithm; x/net/html rawTextElements).
    # noscript is rawtext because the reference parses with x/net/html's
    # DEFAULT scripting=true flag (goquery.NewDocumentFromReader →
    # html.Parse, defuddle.go:90): with scripting on, both in-head and
    # in-body <noscript> take the generic-raw-text path, so markup
    # inside it is a text node and the noscript removal selector drops
    # it ALL (markup-parsing it would let e.g. a head-noscript <div>
    # escape into the body and survive extraction).
    CDATA_CONTENT_ELEMENTS = ("script", "style", "title", "textarea",
                              "noframes", "xmp", "noembed", "iframe",
                              "noscript")
    _RCDATA_ELEMENTS = ("title", "textarea")
    # Opt in to spec attribute-mode character references in the fast
    # tokenizer (see _replace_charref_attr); the stdlib-parity recorder
    # deliberately lacks this flag.
    SPEC_ATTR_CHARREFS = True

    def __init__(self, fragment: bool = False) -> None:
        super().__init__(convert_charrefs=True)
        self.fragment = fragment
        self.root = Element("#fragment") if fragment else Element("#document")
        if fragment:
            self.html = self.head = self.body = None
            self._reset_stack([self.root])
            self.body_started = True
        else:
            self.html = Element("html")
            self.head = Element("head")
            self.body = Element("body")
            self.root.append(self.html)
            self.html.append(self.head)
            self.html.append(self.body)
            self._reset_stack([self.head])
            self.body_started = False
        # list of active formatting elements (Element | _MARKER sentinel)
        self.afe: list = []
        # frameset document: body was replaced by a root <frameset>
        # (spec in-body <frameset> / in-frameset / after-frameset modes)
        self.frameset_doc = False
        # after-body / after-after-body (spec 13.2.6.4.19/.22): COMMENT
        # placement differs (last child of <html> / of the Document);
        # any start tag or non-ws text reprocesses in body and clears
        # both. 0 = in body, 1 = after </body>, 2 = after </html>.
        self.after_body = 0
        # the spec's form element pointer: a second <form> start tag is
        # ignored while one is open (no template on the stack here)
        self.form_ptr: Optional[Element] = None
        # spec EOF-in-rawtext: emit the tail (see _fast_tokenize)
        self.keep_rawtext_tail = True
        # Quirks mode (spec 13.2.6.2): documents default to quirks until
        # a doctype says otherwise (a MISSING doctype is quirks — most of
        # the messy Common-Crawl tail); fragments parse no-quirks like
        # x/net/html's ParseFragment with a standards-mode context.
        self.quirks = not fragment
        # "initial" insertion mode: a doctype token only counts before
        # any content (later doctypes are parse errors, ignored)
        self._initial = not fragment

    # -- helpers --
    def _cur(self) -> Element:
        return self.stack[-1]

    @staticmethod
    def _plain_attrs(attrs) -> list:
        seen = set()
        pairs = []
        for k, v in attrs:
            k = k.lower()
            if k in seen:
                continue
            seen.add(k)
            pairs.append([k, v if v is not None else ""])
        return pairs

    def _frameset_ok(self) -> bool:
        """Approximates the spec's frameset-ok flag: a root <frameset> may
        replace the body only while the body holds no real content."""
        for c in self.body.children:
            if c.type == ELEMENT:
                return False
            if c.type == TEXT and c.data.strip(_SPEC_WS):
                return False  # non-ASCII-ws text (incl. nbsp) sets not-ok
        return True

    def _in_select(self):
        """Stack index of the open <select> governing the current insertion
        point (only option/optgroup may sit above it), else None."""
        for i in range(len(self.stack) - 1, -1, -1):
            t = self.stack[i].tag
            if t == "select":
                return i
            if t not in ("option", "optgroup"):
                return None
        return None

    def _reset_stack(self, stack: list) -> None:
        """Replace the open-element stack with HTML-namespace ``stack``."""
        self.stack = stack
        # parallel to self.stack: the namespace of each open element
        # ("" = HTML, "svg"/"math" = foreign content), per x/net/html's
        # Node.Namespace (kept as a list so deep docs stay O(n))
        self.ns = [""] * len(stack)
        # tag -> number of open elements with that tag, in any namespace:
        # a check for a tag that is not open answers without a stack scan
        self.open = {}
        for el in stack:
            self.open[el.tag] = self.open.get(el.tag, 0) + 1

    def _closed(self, el: Element) -> None:
        """Count ``el`` out of ``self.open`` (it just left the stack)."""
        n = self.open[el.tag] - 1
        if n:
            self.open[el.tag] = n
        else:
            del self.open[el.tag]

    def _push(self, el: Element, ns: str = "") -> None:
        self.ns.append(ns)
        self.stack.append(el)
        self.open[el.tag] = self.open.get(el.tag, 0) + 1

    # -- foreign content (spec 13.2.6.5; x/net/html parseForeignContent) --
    @staticmethod
    def _is_html_ip(el: Element, ns: str) -> bool:
        """HTML integration point: svg foreignObject/desc/title, or math
        annotation-xml whose encoding is an HTML type."""
        if ns == "svg" and el.tag in _SVG_HTML_IP:
            return True
        if ns == "math" and el.tag == "annotation-xml":
            enc = (el.get("encoding") or "").lower()
            return enc in ("text/html", "application/xhtml+xml")
        return False

    def _in_foreign_text(self) -> bool:
        """Does a text token belong to foreign content? (inForeignContent
        returns false for text at either kind of integration point.)"""
        ns = self.ns[-1]
        if not ns:
            return False
        cur = self.stack[-1]
        if ns == "math" and cur.tag in _MATH_TEXT_IP:
            return False
        return not self._is_html_ip(cur, ns)

    def _foreign_start(self, tag: str, attrs) -> bool:
        """Handle a start tag while the current node is foreign. Returns
        True when consumed as a foreign element; False hands the token to
        the HTML rules (integration point, or after a breakout pop)."""
        cur = self.stack[-1]
        cur_ns = self.ns[-1]
        # Integration points: HTML rules apply directly (no pop).
        if cur_ns == "math" and cur.tag in _MATH_TEXT_IP \
                and tag not in ("mglyph", "malignmark"):
            return False
        if cur_ns == "math" and cur.tag == "annotation-xml" and tag == "svg":
            return False  # x/net/html inForeignContent special case
        if self._is_html_ip(cur, cur_ns):
            return False
        if tag in _BREAKOUT or (tag == "font" and any(
                (k or "").lower() in ("color", "face", "size")
                for k, _ in attrs)):
            # Pop back to the nearest HTML node or integration point,
            # then reprocess the token with the HTML rules.
            for i in range(len(self.stack) - 1, -1, -1):
                if self.ns[i] == "" \
                        or self._is_html_ip(self.stack[i], self.ns[i]) \
                        or (self.ns[i] == "math"
                            and self.stack[i].tag in _MATH_TEXT_IP):
                    self._truncate(i + 1)
                    break
            return False
        # Foreign element: per-namespace case adjustments, plain insert
        # (no AFE reconstruction, no foster parenting), namespace follows
        # the adjusted current node — <math> inside svg is svg-namespaced.
        if cur_ns == "svg":
            tag = _SVG_TAG_ADJUST.get(tag, tag)
            adjust = _SVG_ATTR_ADJUST
        else:
            adjust = _MATHML_ATTR_ADJUST
        seen = set()
        attr_pairs = []
        for k, v in attrs:
            k = k.lower()
            k = adjust.get(k, k)
            if k in seen:
                continue
            seen.add(k)
            attr_pairs.append([k, v if v is not None else ""])
        el = Element(tag, attr_pairs)
        cur.append(el)
        self._push(el, cur_ns)
        return True

    def _truncate(self, i: int) -> None:
        popped = self.stack[i:]
        del self.stack[i:]
        del self.ns[i:]
        for el in popped:
            self._closed(el)
        if not self.stack:
            self._reset_stack([self.body if not self.fragment else self.root])
        if self.afe:
            for el in popped:
                if el.tag in _AFE_MARKER_TAGS:
                    self._clear_afe_to_marker()

    # -- active formatting elements (spec 13.2.4.3) --
    def _clear_afe_to_marker(self) -> None:
        afe = self.afe
        while afe:
            entry = afe.pop()
            if entry is _MARKER:
                return

    def _stack_remove(self, el: Element) -> None:
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i] is el:
                del self.stack[i]
                del self.ns[i]
                self._closed(el)
                return

    def _stack_index(self, el: Element) -> int:
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i] is el:
                return i
        return -1

    def _is_scope_stop(self, i: int) -> bool:
        """Default-scope boundary at stack index ``i`` (spec 13.2.4.2):
        the HTML stop set plus the FOREIGN boundaries — SVG
        foreignObject/desc/title and the MathML text integration points —
        which are namespace-qualified (an HTML <title> in the head is
        RCDATA, not a scope stop; only the SVG one is)."""
        t = self.stack[i].tag
        ns = self.ns[i]
        if not ns:
            return t in _DEFAULT_SCOPE_STOP
        if ns == "svg":
            return t in ("foreignObject", "desc", "title")
        return t in ("mi", "mo", "mn", "ms", "mtext", "annotation-xml")

    def _element_in_scope(self, tag: str) -> bool:
        """'has an element in (default) scope' — spec 13.2.4.2."""
        if tag not in self.open:
            return False
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i].tag == tag and not self.ns[i]:
                return True
            if self._is_scope_stop(i):
                return False
        return False

    def _html_template_open(self) -> bool:
        """Spec "there is a template element on the stack of open
        elements" — the HTML-namespace element only; a foreign
        <svg:template> must not trip the form-pointer rules."""
        return "template" in self.open and any(
            el.tag == "template" and not n
            for el, n in zip(self.stack, self.ns))

    @staticmethod
    def _shallow_clone(el: Element) -> Element:
        return Element(el.tag, [list(p) for p in el.attrs])

    def _reconstruct_afe(self) -> None:
        """Reconstruct the active formatting elements (x/net/html
        reconstructActiveFormattingElements): re-open formatting elements
        whose tags were closed by block boundaries or table pops."""
        afe = self.afe
        if not afe:
            return
        n = afe[-1]
        if n is _MARKER or self._stack_index(n) != -1:
            return
        i = len(afe) - 1
        while n is not _MARKER and self._stack_index(n) == -1:
            if i == 0:
                i = -1
                break
            i -= 1
            n = afe[i]
        while True:
            i += 1
            clone = self._shallow_clone(afe[i])
            self._insert_element(clone)
            self._push(clone)
            afe[i] = clone
            if i == len(afe) - 1:
                break

    def _push_afe(self, el: Element) -> None:
        """Push a formatting element with the Noah's Ark clause: at most 3
        entries with identical tag + attrs since the last marker."""
        afe = self.afe
        if afe:
            matches = 0
            attrs_key = None
            earliest = -1
            tag = el.tag
            for i in range(len(afe) - 1, -1, -1):
                e = afe[i]
                if e is _MARKER:
                    break
                if e.tag == tag:
                    if attrs_key is None:
                        attrs_key = sorted(map(tuple, el.attrs))
                    if sorted(map(tuple, e.attrs)) == attrs_key:
                        matches += 1
                        earliest = i
            if matches >= 3:
                del afe[earliest]
        afe.append(el)

    # -- insertion (foster parenting, spec 13.2.6.1) --
    def _needs_foster(self, tag: Optional[str] = None) -> bool:
        cur = self.stack[-1].tag
        if cur not in _TABLE_CTX:
            return False
        return tag is None or tag not in _TABLE_ALLOWED

    def _foster_parent(self, node: Node) -> None:
        """Insert ``node`` at the foster location: immediately before the
        last open table (x/net/html fosterParent)."""
        table = None
        ti = -1
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i].tag == "table":
                table = self.stack[i]
                ti = i
                break
        if table is None:
            parent = self.stack[0]
        else:
            parent = table.parent
        if parent is None:
            parent = self.stack[ti - 1] if ti > 0 else self.stack[0]
        if table is not None and table.parent is parent:
            prev = table.prev_sibling()
        else:
            prev = parent.children[-1] if parent.children else None
        if (prev is not None and prev.type == TEXT and node.type == TEXT):
            prev.data += node.data
            return
        if table is not None and table.parent is parent:
            parent.insert_before(node, table)
        else:
            parent.append(node)

    def _insert_element(self, el: Element) -> None:
        if self._needs_foster(el.tag):
            self._foster_parent(el)
        else:
            self._cur().append(el)

    # -- adoption agency (spec 13.2.4.7; x/net/html inBodyEndTagFormatting) --
    def _any_other_end_tag(self, tag: str) -> None:
        """'Any other end tag' in body: pop through a match, but never
        across a special element."""
        adjusted = _SVG_TAG_ADJUST.get(tag)
        if tag not in self.open and adjusted not in self.open:
            return
        for i in range(len(self.stack) - 1, -1, -1):
            t = self.stack[i].tag
            if t == tag or (adjusted is not None and t == adjusted):
                self._truncate(i)
                return
            if t in _SPECIAL:
                return

    def _adoption_agency(self, tag: str) -> None:
        # Step 1 (x/net/html): current node matches and isn't in the list.
        cur = self.stack[-1]
        if cur.tag == tag and not any(e is cur for e in self.afe):
            self._truncate(len(self.stack) - 1)
            return
        for _ in range(8):
            # Find the formatting element.
            fmt = None
            for e in reversed(self.afe):
                if e is _MARKER:
                    break
                if e.tag == tag:
                    fmt = e
                    break
            if fmt is None:
                self._any_other_end_tag(tag)
                return
            fi = self._stack_index(fmt)
            if fi == -1:
                self.afe.remove(fmt)
                return
            if not self._element_in_scope(tag):
                return
            # Find the furthest block: first special element above fmt.
            fb = None
            fbi = -1
            for i in range(fi + 1, len(self.stack)):
                if self.stack[i].tag in _SPECIAL:
                    fb = self.stack[i]
                    fbi = i
                    break
            if fb is None:
                self._truncate(fi)
                self.afe.remove(fmt)
                return
            common_ancestor = self.stack[fi - 1] if fi > 0 else self.stack[0]
            bookmark = self.afe.index(fmt)
            # Inner loop (at most 3 iterations, per x/net/html).
            last_node = fb
            x = fbi
            for _j in range(3):
                x -= 1
                node = self.stack[x]
                if node is fmt:
                    break
                if not any(e is node for e in self.afe):
                    del self.stack[x]
                    del self.ns[x]
                    self._closed(node)
                    continue
                clone = self._shallow_clone(node)
                self.afe[self.afe.index(node)] = clone
                self.stack[x] = clone
                node = clone
                if last_node is fb:
                    bookmark = self.afe.index(node) + 1
                node.append(last_node)  # append() detaches first
                last_node = node
            # Reparent last_node under the common ancestor (foster-aware).
            if common_ancestor.tag in _TABLE_CTX:
                self._foster_parent(last_node)
            else:
                common_ancestor.append(last_node)
            # Move furthest block's children into a clone of fmt.
            clone = self._shallow_clone(fmt)
            for c in list(fb.children):
                clone.append(c)
            fb.append(clone)
            # Fix up the list and the stack.
            old = self.afe.index(fmt)
            if old < bookmark:
                bookmark -= 1
            del self.afe[old]
            self.afe.insert(bookmark, clone)
            self._stack_remove(fmt)
            fbi = self._stack_index(fb)
            self.stack.insert(fbi + 1, clone)
            self.ns.insert(fbi + 1, self.ns[fbi])
            self.open[clone.tag] = self.open.get(clone.tag, 0) + 1

    def _start_body(self) -> None:
        if not self.body_started:
            self.body_started = True
            self._reset_stack([self.body])

    def _generate_implied_end(self, except_tags: tuple = ()) -> None:
        """Spec 13.2.4 'generate implied end tags' (x/net/html
        generateImpliedEndTags): pop while the current node is one of the
        implied-end set, minus ``except_tags``."""
        while len(self.stack) > 1:
            t = self.stack[-1].tag
            if t in _IMPLIED_END_GENERATE and t not in except_tags:
                self._truncate(len(self.stack) - 1)
            else:
                break

    def _implied_close(self, tag: str) -> None:
        # Ruby annotation rules (spec in-body rb/rtc and rp/rt; x/net/html
        # inBodyIM): with a <ruby> in scope, rb/rtc generate implied end
        # tags fully (closing open rt/rp/rb AND rtc), while rp/rt except
        # rtc (an annotation container stays open around its rt runs).
        if tag in ("rb", "rtc", "rp", "rt"):
            if self._element_in_scope("ruby"):
                self._generate_implied_end(
                    ("rtc",) if tag in ("rp", "rt") else ())
            return
        # close <p> when a p-closing block opens; <table> does so only in
        # no-quirks documents (spec in-body "table": "If the Document is
        # NOT set to quirks mode, and the stack of open elements has a p
        # element in button scope, then close a p element" — in quirks
        # the table nests inside the open <p>)
        if "p" in self.open and (
                tag in _P_CLOSERS or (tag == "table" and not self.quirks)):
            # spec: "close a p element" iff one is in BUTTON scope —
            # default scope boundaries (applet/caption/table/td/th/
            # marquee/object/template) plus button; a <p> outside an
            # open <applet>/<button> is NOT closed by a block inside it
            for i in range(len(self.stack) - 1, -1, -1):
                t = self.stack[i].tag
                if t == "p" and not self.ns[i]:
                    self._truncate(i)
                    return
                if (self._is_scope_stop(i) or t == "button"
                        or t in ("body", "#fragment")):
                    break
        closers = _IMPLIED_END.get(tag)
        if closers and not self.open.keys().isdisjoint(closers):
            if tag in ("li", "dd", "dt"):
                # Spec li/dd/dt loop (13.2.6.4.7): close a matching open
                # item, but STOP at any special element other than
                # address/div/p — an item inside e.g. <section> is not
                # closed by a new item outside it. The special category
                # includes the FOREIGN integration-point elements (SVG
                # foreignObject/desc/title, MathML text IPs) and only
                # those — other foreign elements are walked past.
                for i in range(len(self.stack) - 1, -1, -1):
                    if self.ns[i]:
                        if self._is_scope_stop(i):
                            return
                        continue
                    t = self.stack[i].tag
                    if t in closers:
                        self._truncate(i)
                        return
                    if t in _SPECIAL and t not in ("address", "div", "p"):
                        return
                return
            for i in range(len(self.stack) - 1, -1, -1):
                if self.ns[i]:
                    if self._is_scope_stop(i):
                        break
                    continue
                t = self.stack[i].tag
                if t in closers:
                    self._truncate(i)
                    return
                if t in ("table", "ul", "ol", "dl", "select", "body", "#fragment",
                         "tbody", "thead", "tfoot", "tr") and t not in closers:
                    break

    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        self._initial = False  # any start tag leaves the initial mode
        if tag != "html":
            # any start tag EXCEPT <html> reprocesses in body; <html> is
            # handled via in-body rules while STAYING in after-body
            # (13.2.6.4.19's explicit html case)
            self.after_body = 0
        # Fast path: a tag with no rule of its own (see _START_RULES),
        # inserted at the current HTML node in body (or a head element
        # before the body), with no select, table or template open, no
        # p for it to close and nothing in the active formatting list to
        # reconstruct. Every rule below then reduces to "append, push".
        open_ = self.open
        if (tag not in _START_RULES and not self.ns[-1]
                and not self.frameset_doc
                and (self.body_started or tag in HEAD_ELEMENTS)
                and (not self.afe or tag in _NO_RECONSTRUCT)
                and "select" not in open_ and "table" not in open_
                and "template" not in open_
                and ("p" not in open_ or tag not in _P_CLOSERS)):
            if not attrs:
                pairs = []
            elif len(attrs) == 1:
                k, v = attrs[0]
                pairs = [[k.lower(), "" if v is None else v]]
            else:
                pairs = self._plain_attrs(attrs)
            el = Element(tag, pairs)
            cur = self.stack[-1]
            el.parent = cur
            cur.children.append(el)
            if tag not in VOID_ELEMENTS:
                self.ns.append("")
                self.stack.append(el)
                open_[tag] = open_.get(tag, 0) + 1
                if tag in _FORMATTING:
                    self.afe.append(el)
            return
        # Foreign-content dispatch (spec 13.2.6, "tree construction
        # dispatcher"; x/net/html inForeignContent + parseForeignContent):
        # when the current node is SVG/MathML and the token neither hits an
        # integration point nor a breakout tag, it is inserted as a foreign
        # element and none of the HTML insertion rules below apply.
        if self.ns[-1] and self._foreign_start(tag, attrs):
            return
        if tag == "image":
            tag = "img"  # spec in-body: <image> is retagged to <img>
        if not self.fragment:
            # an open <template> hosts its own content (spec "template
            # contents"): html/head/body tokens are ignored inside it,
            # and non-head elements must NOT imply the body (which would
            # reset the stack and leak template content into the body —
            # the head-template bug this guard fixes)
            in_template = "template" in self.open
            if tag == "html":
                if in_template:
                    return
                for k, v in attrs:
                    if not self.html.has_attr(k):
                        self.html.set_attr(k, v or "")
                return
            if tag == "head":
                if in_template:
                    return
                for k, v in attrs:
                    if not self.head.has_attr(k):
                        self.head.set_attr(k, v or "")
                return
            if tag == "body":
                if self.frameset_doc or in_template:
                    return
                self._start_body()
                for k, v in attrs:
                    if not self.body.has_attr(k):
                        self.body.set_attr(k, v or "")
                return
            if tag == "frameset":
                if in_template:
                    return
                cur = self._cur()
                if cur.tag == "frameset":  # in-frameset: nest
                    el = Element("frameset", self._plain_attrs(attrs))
                    cur.append(el)
                    self._push(el)
                elif not self.frameset_doc and self._frameset_ok():
                    # spec in-body <frameset>: detach the body, attach the
                    # frameset to html, switch to in-frameset
                    self.body.detach()
                    fs = Element("frameset", self._plain_attrs(attrs))
                    self.html.append(fs)
                    self.body_started = True
                    self.frameset_doc = True
                    self._reset_stack([self.html, fs])
                # frameset-ok false: parse error, token ignored
                return
            if tag == "frame":
                if self._cur().tag == "frameset":
                    # insert and immediately pop (spec in-frameset)
                    self._cur().append(Element("frame",
                                               self._plain_attrs(attrs)))
                return  # ignored outside a frameset (in-body rule)
            if self.frameset_doc and tag != "noframes" and (
                    self._cur().tag == "frameset" or self._cur() is self.html):
                return  # in-frameset / after-frameset: anything else ignored
            if not self.body_started and tag not in HEAD_ELEMENTS \
                    and not in_template:
                self._start_body()

        # "In select" rules (spec 13.2.6.4.16; x/net/html inSelectIM):
        # only option/optgroup/hr/script/template open inside a select;
        # input/keygen/textarea and a nested <select> close it; table
        # tokens fall through to the in-select-in-table pop below; any
        # other start tag is ignored.
        sel = self._in_select()
        if sel is not None:
            if tag == "select":
                self._truncate(sel)
                return
            if tag in ("input", "keygen", "textarea"):
                self._truncate(sel)  # pop the select, reprocess below
            elif tag == "option":
                if self._cur().tag == "option":
                    self._truncate(len(self.stack) - 1)
            elif tag in ("optgroup", "hr"):
                if self._cur().tag == "option":
                    self._truncate(len(self.stack) - 1)
                if self._cur().tag == "optgroup":
                    self._truncate(len(self.stack) - 1)
            elif tag in ("script", "template"):
                pass  # allowed inside a select (spec in-select)
            elif tag in ("caption", "table", "tbody", "tfoot", "thead",
                         "tr", "td", "th"):
                # in-select-IN-TABLE only applies when the select was
                # opened inside a table (x/net/html inSelectInTableIM);
                # with no open table these are in-select "anything else"
                # and are ignored (`<select><table>` must NOT nest a
                # table inside the select).
                if "table" not in self.open:
                    return
            else:
                return  # parse error, ignore (includes col/colgroup)

        # "In table" form / hidden-input special cases (spec 13.2.6.4.9;
        # x/net/html inTableIM Form/Input): with a table-context current
        # node, <form> is inserted and popped IMMEDIATELY (pointer still
        # set, so a later <form> is ignored), and <input type=hidden>
        # stays inside the table instead of foster-parenting.
        if self._cur().tag in ("table", "tbody", "tfoot", "thead", "tr"):
            if tag == "form":
                if self.form_ptr is None and \
                        not self._html_template_open():
                    el = Element("form", self._plain_attrs(attrs))
                    self._cur().append(el)
                    self.form_ptr = el
                return
            if tag == "input" and any(
                    k.lower() == "type" and (v or "").lower() == "hidden"
                    for k, v in attrs):
                self._cur().append(Element("input", self._plain_attrs(attrs)))
                return

        # A second <form> while the form element pointer is set is ignored
        # UNLESS a template is open (spec in-body form / x/net/html
        # inBodyIM Form case: `p.form != nil && !p.hasElement(template)`).
        # The pointer alone decides — a table-inserted form is popped
        # immediately yet still blocks later forms.
        if tag == "form" and self.form_ptr is not None and \
                not self._html_template_open():
            return
        # A <button> with a button in scope implies </button> first
        # (spec in-body button start tag).
        if tag == "button" and self._element_in_scope("button"):
            for i in range(len(self.stack) - 1, -1, -1):
                if self.stack[i].tag == "button":
                    self._truncate(i)
                    break
        # in-column-group: <col> goes directly into an open colgroup
        if tag == "col" and self._cur().tag == "colgroup":
            self._cur().append(Element("col", self._plain_attrs(attrs)))
            return

        # "In body" table-structure start tags with no open table are
        # parse errors and IGNORED (spec 13.2.6.4.7; x/net/html inBodyIM
        # Caption/Col/Colgroup/Frame/Tbody/Td/Tfoot/Th/Thead/Tr case).
        if tag in ("caption", "col", "colgroup", "frame", "tbody", "td",
                   "tfoot", "th", "thead", "tr"):
            if "table" not in self.open and "template" not in self.open:
                return
            for e in reversed(self.stack):
                t = e.tag
                if t in ("table", "template"):
                    # template contents host table-structure tags without a
                    # table (spec in-template pushes the table modes)
                    break
                if t in ("body", "html", "#fragment"):
                    return
            else:
                return
            # "Clear the stack back to a table context": pop fostered /
            # phrasing elements sitting above the table machinery so the
            # row/cell goes into the table, not into a fostered element
            # (spec 13.2.6.4.9 "clear ... back to a table context").
            # "caption" is NOT a stop tag here: a table-structure token
            # while a caption is open ends the caption and reprocesses in
            # the table (spec in-caption), so the clear-back pops it.
            # The stop set depends on the token's level (spec in-cell /
            # in-row / in-table-body reprocessing chains): caption/col/
            # colgroup belong directly to the table, so they pop open
            # cells, rows AND row groups; tbody/tfoot/thead pop cells and
            # rows; td/th/tr stop at their own context.
            if tag in ("caption", "col", "colgroup"):
                stop = ("table", "template", "body", "html", "#fragment")
            elif tag in ("tbody", "tfoot", "thead"):
                stop = ("table", "tbody", "thead", "tfoot", "template",
                        "body", "html", "#fragment")
            else:
                stop = ("table", "tbody", "thead", "tfoot", "tr", "td",
                        "th", "template", "body", "html", "#fragment")
            stack = self.stack
            i = len(stack) - 1
            while stack[i].tag not in stop:
                i -= 1
            if i < len(stack) - 1:
                self._truncate(i + 1)

        self._implied_close(tag)

        # A heading start tag pops a heading CURRENT node (spec in-body
        # h1-h6: only the current node is checked, not the whole stack).
        if tag in ("h1", "h2", "h3", "h4", "h5", "h6") and \
                self.stack[-1].tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
            self._truncate(len(self.stack) - 1)

        # "in table" <table> start tag: a new table closes the open one
        # unless we are inside a cell/caption (spec 13.2.6.4.9).
        if tag == "table" and "table" in self.open:
            for i in range(len(self.stack) - 1, -1, -1):
                t = self.stack[i].tag
                if t in ("td", "th", "caption", "template", "html", "body",
                         "#fragment"):
                    break
                if t == "table":
                    self._truncate(i)
                    break

        # implied colgroup for col directly inside table (spec in-table col)
        if tag == "col" and self._cur().tag == "table":
            cg = Element("colgroup")
            self._cur().append(cg)
            self._push(cg)
        # implied tbody for tr directly inside table (HTML5/x-net-html parity)
        if tag == "tr" and self._cur().tag == "table":
            tbody = Element("tbody")
            self._cur().append(tbody)
            self._push(tbody)
        elif tag in ("td", "th") and self._cur().tag == "table":
            tbody = Element("tbody")
            self._cur().append(tbody)
            self._push(tbody)
            tr = Element("tr")
            tbody.append(tr)
            self._push(tr)
        elif tag in ("td", "th") and self._cur().tag in ("tbody", "thead",
                                                         "tfoot", "template"):
            # template: the spec's in-table-body reprocessing implies a
            # <tr> but no tbody (clear-back stops at template)
            tr = Element("tr")
            self._cur().append(tr)
            self._push(tr)

        # An <svg>/<math> start tag under HTML rules opens foreign content
        # (spec in-body "svg"/"math": reconstruct AFE, adjust, insert).
        new_ns = "svg" if tag == "svg" else ("math" if tag == "math" else "")

        is_formatting = tag in _FORMATTING
        if is_formatting and tag == "a" and self.afe:
            # An <a> start tag with an open <a> in the list: run the
            # adoption agency for it, then drop it (spec "in body" <a>).
            for e in reversed(self.afe):
                if e is _MARKER:
                    break
                if e.tag == "a":
                    self._adoption_agency("a")
                    if any(x is e for x in self.afe):
                        self.afe.remove(e)
                    self._stack_remove(e)
                    break
        if self.afe and (
                is_formatting or tag not in _NO_RECONSTRUCT):
            cur_tag = self._cur().tag
            if cur_tag not in RAW_TEXT_ELEMENTS:
                self._reconstruct_afe()
        if is_formatting and tag == "nobr" and self._element_in_scope("nobr"):
            self._adoption_agency("nobr")
            self._reconstruct_afe()

        seen = set()
        attr_pairs = []
        # A root <svg>/<math> under HTML rules still gets its namespace's
        # attribute case adjustments (x/net/html inBodyIM Math/Svg case).
        ns_adjust = (_SVG_ATTR_ADJUST if new_ns == "svg"
                     else _MATHML_ATTR_ADJUST if new_ns == "math" else None)
        for k, v in attrs:
            k = k.lower()
            if ns_adjust is not None:
                k = ns_adjust.get(k, k)
            if k in seen:
                continue
            seen.add(k)
            attr_pairs.append([k, v if v is not None else ""])
        el = Element(tag, attr_pairs)
        cur = self.stack[-1]
        if cur.tag in _TABLE_CTX and tag not in _TABLE_ALLOWED:
            self._foster_parent(el)
        else:
            cur.append(el)
        if tag == "form" and not self._html_template_open():
            # inside a template the pointer stays untouched (spec in-body
            # form: "if there is no template on the stack ... set the form
            # element pointer")
            self.form_ptr = el
        if tag not in VOID_ELEMENTS:
            self._push(el, new_ns)
        if is_formatting:
            self._push_afe(el)
        elif tag in _AFE_MARKER_TAGS:
            self.afe.append(_MARKER)

    def handle_startendtag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        if tag in VOID_ELEMENTS:
            self.handle_starttag(tag, attrs)
        else:
            self.handle_starttag(tag, attrs)
            self.handle_endtag(tag)

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        self._initial = False  # any end tag leaves the initial mode too
        if tag not in ("html", "body", "head"):
            self.after_body = 0  # other end tags reprocess in body
        # Fast path: an end tag for the current HTML node, with no rule of
        # its own (shell tags, </br>, </form>). Every rule below pops just
        # that node; for a formatting element that is the last entry of
        # the active formatting list, the adoption agency finds no
        # furthest block and also drops the entry.
        cur = self.stack[-1]
        if (cur.tag == tag and tag not in _END_RULES and not self.ns[-1]
                and not self.frameset_doc):
            if tag not in _FORMATTING:
                self._truncate(len(self.stack) - 1)
                return
            if self.afe and self.afe[-1] is cur:
                self.afe.pop()
                self._truncate(len(self.stack) - 1)
                return
        if tag == "br":
            # Spec in-body </br>: parse error; act as a <br> start tag.
            self.handle_starttag("br", [])
            return
        if tag in VOID_ELEMENTS:
            return
        if not self.fragment and tag in ("html", "body", "head"):
            # </head> does NOT imply the body: the spec's "after head"
            # mode still routes base/link/meta/script/style/title/etc
            # INTO the head (pushing it back on the stack); the body only
            # starts at <body>, a non-head start tag, or non-ws text —
            # all of which handle_starttag/handle_data already do.
            # In after-body, </head> is "anything else": back to in-body.
            if tag == "head":
                self.after_body = 0
                return
            # </body>/</html> switch to after-body / after-after-body
            # (13.2.6.4.19/.22): the open-elements stack is untouched,
            # but COMMENTS now target <html> / the Document, and in
            # after-head both tags imply the body first (afterHeadIM).
            # A stray </body> with NO body in scope — inside an open
            # template, td, caption, or foreign content — is a parse
            # error and IGNORED (in-template/in-table ignore it; the
            # in-body rule requires body in scope).
            if not self.frameset_doc:
                if not self.body_started:
                    if self._html_template_open():
                        return  # in-template: ignored
                    self._start_body()
                elif not self._element_in_scope("body"):
                    return
                # </body> from after-after-body reprocesses in body and
                # lands back at after-body (not max()-sticky at 2)
                self.after_body = 2 if tag == "html" else 1
            return
        if self.frameset_doc and tag != "frameset" and (
                self._cur().tag == "frameset" or self._cur() is self.html):
            return  # in-frameset / after-frameset: end tags ignored
        if self.ns[-1]:
            # Foreign-content end tag (x/net/html parseForeignContent):
            # pop to a case-insensitive match among foreign nodes; hitting
            # an HTML node first hands the token to the HTML rules below.
            for i in range(len(self.stack) - 1, -1, -1):
                if self.ns[i] == "":
                    break
                if self.stack[i].tag.lower() == tag:
                    self._truncate(i)
                    return
        if tag == "form":
            # Spec in-body </form>. Without a template on the stack: the
            # FORM ELEMENT POINTER (not a tag search) names the node; it
            # is removed from the open-elements stack by SPLICING — later
            # elements stay open, so `<form><div></form>x` keeps the div
            # open (inside the form) and x lands in it. With a template:
            # ordinary pop-until-form semantics.
            if not self._html_template_open():
                node = self.form_ptr
                self.form_ptr = None
                in_scope = False
                if node is not None:
                    for i in range(len(self.stack) - 1, -1, -1):
                        if self.stack[i] is node:
                            in_scope = True
                            break
                        if self._is_scope_stop(i):
                            break
                if not in_scope:
                    return  # parse error: pointer null or out of scope
                self._generate_implied_end()
                self._stack_remove(node)
                return
            if not self._element_in_scope("form"):
                return
            self._generate_implied_end()
            for i in range(len(self.stack) - 1, -1, -1):
                if self.stack[i].tag == "form" and not self.ns[i]:
                    self._truncate(i)
                    return
            return
        if tag in _FORMATTING:
            self._adoption_agency(tag)
            return
        if tag == "p":
            # Spec in-body </p>: close a p in BUTTON scope; with none
            # open, insert an empty <p> and close it immediately.
            if "p" in self.open:
                for i in range(len(self.stack) - 1, -1, -1):
                    t = self.stack[i].tag
                    if t == "p" and not self.ns[i]:
                        self._truncate(i)
                        return
                    if self._is_scope_stop(i) or t == "button":
                        break
            self._insert_element(Element("p"))
            return
        if tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
            # Spec in-body heading end tag: ANY open heading in scope is
            # closed by any heading end tag (</h3> closes an <h1>).
            if self.open.keys().isdisjoint(("h1", "h2", "h3", "h4", "h5",
                                            "h6")):
                return
            for i in range(len(self.stack) - 1, -1, -1):
                t = self.stack[i].tag
                if t in ("h1", "h2", "h3", "h4", "h5",
                         "h6") and not self.ns[i]:
                    self._truncate(i)
                    return
                if self._is_scope_stop(i):
                    return
            return
        if tag not in _SPECIAL and tag not in _SVG_TAG_ADJUST:
            self._any_other_end_tag(tag)
            return
        adjusted = _SVG_TAG_ADJUST.get(tag)
        if tag not in self.open and adjusted not in self.open:
            return  # no matching open tag: ignore
        for i in range(len(self.stack) - 1, -1, -1):
            t = self.stack[i].tag
            if t == tag or (adjusted is not None and t == adjusted):
                self._truncate(i)
                return

    def handle_data(self, data: str) -> None:
        if not data:
            return
        # flag-gated so the hot path never pays the strip allocation
        if (self._initial or self.after_body) and data.strip(_SPEC_WS):
            self._initial = False   # non-whitespace text leaves initial
            self.after_body = 0     # ...and reopens the body (13.2.6.4.19)
        if self.cdata_elem in self._RCDATA_ELEMENTS:
            data = _unescape(data)
        # spec: a newline immediately after <pre>/<listing>/<textarea>
        # start tags is ignored (x/net/html drops it at parse time)
        if data[0] == "\n":
            cur0 = self._cur()
            if cur0.tag in ("pre", "listing", "textarea") \
                    and not cur0.children:
                data = data[1:]
                if not data:
                    return
        if self.frameset_doc:
            cur = self._cur()
            if cur.tag == "frameset" or cur is self.html:
                # in-frameset / after-frameset: whitespace only
                data = "".join(c for c in data if c in " \t\n\r\f")
                if not data:
                    return
        if not self.fragment and not self.body_started:
            cur = self._cur()
            if cur is self.head:
                if data.strip(_SPEC_WS):
                    self._start_body()
                else:
                    return  # drop inter-head whitespace like x/net/html "before head"
        cur = self._cur()
        t = cur.tag
        if (self.afe or t in _TABLE_CTX) and t not in RAW_TEXT_ELEMENTS \
                and not self._in_foreign_text():
            if t in _TABLE_CTX and data.strip(_SPEC_WS):
                # Non-whitespace text in a table context is foster-parented
                # (spec "in table text" anything-else branch). The
                # whitespace test is ASCII-ONLY (spec "ASCII whitespace"):
                # Python's default strip() also strips U+00A0 etc., which
                # would wrongly keep an &nbsp; spacer inside the table
                # instead of fostering it like x/net/html does.
                self._reconstruct_afe()
                if self._needs_foster():
                    self._foster_parent(Text(data))
                    return
                cur = self._cur()
            elif t not in _TABLE_CTX:
                self._reconstruct_afe()
                cur = self._cur()
        kids = cur.children
        if kids and kids[-1].type == TEXT:
            kids[-1].data += data
        else:
            t = Text(data)
            t.parent = cur
            kids.append(t)

    def handle_comment(self, data: str) -> None:
        if not self.fragment and self.after_body:
            # after-body: last child of <html>; after-after-body: last
            # child of the Document (x/net/html afterBodyIM/afterAfterBodyIM)
            target = self.root if self.after_body == 2 else self.html
            c = Comment(data)
            c.parent = target
            target.children.append(c)
            return
        if not self.fragment and not self.body_started and self._cur() is self.head:
            c = Comment(data)
            c.parent = self.head
            self.head.children.append(c)
            return
        c = Comment(data)
        cur = self._cur()
        c.parent = cur
        cur.children.append(c)

    def handle_decl(self, decl: str) -> None:
        # The doctype node itself is dropped (we re-serialize inner
        # content only), but it decides quirks mode — and only from the
        # "initial" insertion mode; a doctype after content is ignored.
        if self._initial and decl.lstrip()[:7].lower() == "doctype":
            self.quirks = _doctype_is_quirky(decl)
            self._initial = False

    def unknown_decl(self, data: str) -> None:
        # <![CDATA[...]]> is a real text token inside foreign content
        # (spec 13.2.5.42 "markup declaration open state" / x/net/html
        # tokenizer CDATA handling); elsewhere it is a bogus comment,
        # which we drop like other comments-in-content.
        if self.ns[-1] and data.startswith("CDATA["):
            text = data[len("CDATA["):]
            if not text:
                return
            cur = self._cur()
            kids = cur.children
            if kids and kids[-1].type == TEXT:
                kids[-1].data += text
            else:
                t = Text(text)
                t.parent = cur
                kids.append(t)


class Document:
    """Parsed HTML document with html/head/body shell.

    ``gathered`` holds what a consumer collected from the unmutated tree
    in one walk (the kernel's ``kernel._Gathered``), so it lives and dies
    with the document; None until first asked for."""

    __slots__ = ("root", "html", "head", "body", "gathered")

    def __init__(self, root: Element, html: Element, head: Element, body: Element):
        self.root = root
        self.html = html
        self.head = head
        self.body = body
        self.gathered = None

    def descendants(self) -> Iterator[Element]:
        return self.html_descendants()

    def html_descendants(self) -> Iterator[Element]:
        yield self.html
        yield from self.html.descendants()


class _TokenizeStop(Exception):
    """Mirrors html.parser's error() abort on malformed marked sections."""


# html.parser's own compiled regexes are reused below (_hp.*) so the fast
# tokenizer and the stdlib path share identical token boundaries.
_markedsectionclose = re.compile(r"]\s*]\s*>")
_msmarkedsectionclose = re.compile(r"]\s*>")
_declname = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_cdata_close_cache: dict = {}


def _cdata_close(elem: str):
    rx = _cdata_close_cache.get(elem)
    if rx is None:
        rx = re.compile(r"</\s*%s\s*>" % elem, re.IGNORECASE)
        _cdata_close_cache[elem] = rx
    return rx


# Spec 13.2.5.73 named-character-reference state, ATTRIBUTE mode: a named
# reference matched WITHOUT its terminating semicolon is flushed as plain
# text when the next input character is `=` or ASCII alphanumeric (the
# "historical reasons" rule) — so query strings like `?a=b&not=c` survive
# in href/src values. html.unescape (and html.parser, which calls it on
# attribute values) applies the TEXT rules unconditionally — a stdlib
# spec gap x/net/html does not share. Numeric references and
# semicolon-terminated names decode identically in both modes.
_CHARREF_RE = re.compile(
    r"&(#[0-9]+;?|#[xX][0-9a-fA-F]+;?|[^\t\n\f <&#;]{1,32};?)")


def _replace_charref_attr(m: "re.Match[str]") -> str:
    s = m.group(1)
    if s[0] == "#":
        return _unescape(m.group(0))  # numeric: same as text mode
    if s in _html5:
        # Full match. When it lacks a `;` the character that STOPPED the
        # name scan is never `=`/alphanumeric (those are name characters,
        # so they would have been consumed), hence always decodes.
        return _html5[s]
    # longest matching prefix (the tokenizer's maximal table match)
    for x in range(len(s) - 1, 1, -1):
        if s[:x] in _html5:
            if s[x] == "=" or s[x].isalnum():
                return "&" + s  # historical rule: keep literal
            return _html5[s[:x]] + s[x:]
    return "&" + s


def _unescape_attr(s: str) -> str:
    if "&" not in s:
        return s
    return _CHARREF_RE.sub(_replace_charref_attr, s)


def _fast_tokenize(b: "_TreeBuilder", s: str) -> None:
    """One-pass tokenizer, event-identical to HTMLParser.feed(s)+close().

    Re-implements goahead/parse_starttag/parse_endtag/... from
    html.parser (3.11) with position arithmetic and no incremental-feed
    bookkeeping (updatepos, rawdata buffering, incomplete-charref
    deferral — all no-ops when the whole document is in hand). A
    differential fuzz test pins event streams against the stdlib path.
    """
    n = len(s)
    i = 0
    find = s.find
    startswith = s.startswith
    handle_data = b.handle_data
    b.cdata_elem = None  # single source of truth for CDATA/RCDATA mode
    cdata_set = b.CDATA_CONTENT_ELEMENTS
    # spec attribute-mode charrefs for the production tree builder;
    # handlers without the flag (the stdlib parity recorder) keep
    # html.parser's text-mode decoding
    unescape_value = (_unescape_attr if getattr(b, "SPEC_ATTR_CHARREFS", False)
                      else _unescape)

    while i < n:
        # -- data up to the next interesting position --
        cdata_elem = b.cdata_elem
        if cdata_elem is None:
            j = find("<", i)
            if j < 0:
                j = n
            if i < j:
                seg = s[i:j]
                # handle_data sees unescaped text (convert_charrefs=True);
                # html.unescape is identity without '&', skip the call
                handle_data(_unescape(seg) if "&" in seg else seg)
        else:
            m = _cdata_close(cdata_elem).search(s, i)
            if m is None:
                # EOF inside CDATA/RCDATA. The spec (and x/net/html)
                # EMITS the characters read so far — a truncated crawl
                # page ending inside <style>/<textarea>/<title> keeps
                # its tail. html.parser drops it, so the tree builder
                # opts in via keep_rawtext_tail and the stdlib-parity
                # recorder (without the flag) stays event-identical.
                if i < n and getattr(b, "keep_rawtext_tail", False):
                    handle_data(s[i:n])
                return
            j = m.start()
            if i < j:
                handle_data(s[i:j])
        i = j
        if i == n:
            break

        # -- dispatch on the construct at '<' --
        c = s[i + 1] if i + 1 < n else ""
        if c.isascii() and c.isalpha():
            k = _fast_starttag(b, s, i, cdata_set, unescape_value)
            # spec PLAINTEXT tokenizer state: once the tree builder has
            # actually inserted a <plaintext> element (x/net/html parity:
            # not when the token was ignored, e.g. inside a select), the
            # REST of the input is one raw text token — no markup, no
            # character references, not even </plaintext>.
            if c in "pP" and k != -1 and s[i + 1:i + 10].lower() == "plaintext":
                cur = getattr(b, "_cur", None)
                # ... and only for an HTML plaintext: the in-body rule is
                # what switches the tokenizer; a foreign-content (SVG/
                # MathML) <plaintext> element must not swallow the doc
                if cur is not None and cur().tag == "plaintext" \
                        and not b.ns[-1]:
                    if k < n:
                        b.handle_data(s[k:n])
                    return
        elif c == "/":
            k = _fast_endtag(b, s, i)
        elif startswith("<!--", i):
            m = _hp.commentclose.search(s, i + 4)
            if m is None:
                k = -1
            else:
                b.handle_comment(s[i + 4:m.start()])
                k = m.end()
        elif c == "?":
            m = _hp.piclose.search(s, i + 2)
            if m is None:
                k = -1
            else:
                b.handle_pi(s[i + 2:m.start()])
                k = m.end()
        elif c == "!":
            k = _fast_declaration(b, s, i)
        elif i + 1 < n:
            handle_data("<")
            k = i + 1
        else:
            break
        if k < 0:
            # end-of-input recovery (goahead's end=1 branch)
            k = find(">", i + 1)
            if k < 0:
                k = find("<", i + 1)
                if k < 0:
                    k = i + 1
            else:
                k += 1
            if b.cdata_elem is None:
                seg = s[i:k]
                handle_data(_unescape(seg) if "&" in seg else seg)
            else:
                handle_data(s[i:k])
        i = k
    # goahead's end=1 epilogue: trailing text (e.g. a lone '<' at EOF)
    if i < n and b.cdata_elem is None:
        seg = s[i:n]
        handle_data(_unescape(seg) if "&" in seg else seg)


# A well-formed start tag: html.parser's maximal tag name, then attributes
# each led by ASCII whitespace, with no value or an ``=`` directly followed
# by a quoted value or an unquoted one that starts with neither a quote
# nor ``=``, then optional whitespace and ``>`` or ``/>``. On such a tag
# html.parser's tolerant regexes split at the same places, so one match
# (plus one findall over the attribute block) yields its events; anything
# else takes the tolerant path below. Possessive quantifiers keep the
# name and each value maximal, as html.parser's greedy ones are.
_STARTTAG_WELLFORMED = re.compile(
    r"<([a-zA-Z][^\t\n\r\f />\x00]*+)"
    r"((?:[\t\n\r\f ]++[^\s/>\"'=<]++"
    r"(?:=(?:\"[^\"]*+\"|'[^']*+'|[^\s\"'=>][^\s>]*+))?)*+)"
    r"[\t\n\r\f ]*+(/?)>")
_ATTR_WELLFORMED = re.compile(
    r"([^\s/>\"'=<]++)(?:=(\"[^\"]*+\"|'[^']*+'|[^\s\"'=>][^\s>]*+))?")


def _fast_starttag(b: "_TreeBuilder", s: str, i: int, cdata_set,
                   unescape_value) -> int:
    m = _STARTTAG_WELLFORMED.match(s, i)
    if m is not None:
        tag, block, slash = m.groups()
        tag = tag.lower()
        attrs = []
        if block:
            for name, value in _ATTR_WELLFORMED.findall(block):
                if not value:
                    value = None  # no "=": valueless attribute
                else:
                    if value[0] == '"' or value[0] == "'":
                        value = value[1:-1]
                    if value:
                        value = unescape_value(value)
                attrs.append((name.lower(), value))
        if slash:
            b.handle_startendtag(tag, attrs)
        else:
            b.handle_starttag(tag, attrs)
            if tag in cdata_set:
                b.cdata_elem = tag
        return m.end()

    # tolerant path: html.parser's check_for_whole_start_tag ...
    m = _hp.locatestarttagend_tolerant.match(s, i)
    j = m.end()
    nxt = s[j:j + 1]
    if nxt == ">":
        endpos = j + 1
    elif nxt == "/":
        if s.startswith("/>", j):
            endpos = j + 2
        else:
            return -1  # stdlib: lone '/' here is always "buffer boundary"
    elif nxt == "":
        return -1
    elif nxt in "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ":
        return -1
    else:
        endpos = j if j > i else i + 1

    # ... and parse_starttag
    attrs = []
    m = _hp.tagfind_tolerant.match(s, i + 1)
    k = m.end()
    tag = m.group(1).lower()
    while k < endpos:
        am = _hp.attrfind_tolerant.match(s, k)
        if not am:
            break
        attrname, rest, attrvalue = am.group(1, 2, 3)
        if not rest:
            attrvalue = None
        elif attrvalue[:1] == "'" == attrvalue[-1:] or \
                attrvalue[:1] == '"' == attrvalue[-1:]:
            attrvalue = attrvalue[1:-1]
        if attrvalue:
            attrvalue = unescape_value(attrvalue)
        attrs.append((attrname.lower(), attrvalue))
        k = am.end()

    end = s[k:endpos].strip()
    if end not in (">", "/>"):
        b.handle_data(s[i:endpos])
        return endpos
    if end.endswith("/>"):
        b.handle_startendtag(tag, attrs)
    else:
        b.handle_starttag(tag, attrs)
        if tag in cdata_set:
            b.cdata_elem = tag
    return endpos


def _fast_endtag(b: "_TreeBuilder", s: str, i: int) -> int:
    gtpos = s.find(">", i + 1) + 1  # html.parser's endendtag search
    if not gtpos:
        return -1
    m = _hp.endtagfind.match(s, i)
    if not m:
        if b.cdata_elem is not None:
            b.handle_data(s[i:gtpos])
            return gtpos
        nm = _hp.tagfind_tolerant.match(s, i + 2)
        if not nm:
            if s[i:i + 3] == "</>":
                return i + 3
            pos = s.find(">", i + 2)
            if pos == -1:
                return -1
            b.handle_comment(s[i + 2:pos])
            return pos + 1
        tagname = nm.group(1).lower()
        gtpos = s.find(">", nm.end())
        b.handle_endtag(tagname)
        return gtpos + 1
    elem = m.group(1).lower()
    if b.cdata_elem is not None and elem != b.cdata_elem:
        b.handle_data(s[i:gtpos])
        return gtpos
    b.handle_endtag(elem)
    b.cdata_elem = None
    return gtpos


def _fast_declaration(b: "_TreeBuilder", s: str, i: int) -> int:
    # parse_html_declaration: <!-- handled by the caller
    if s[i:i + 3] == "<![":
        m = _declname.match(s, i + 3)
        sect = m.group().strip().lower() if m else ""
        if sect in ("temp", "cdata", "ignore", "include", "rcdata"):
            cm = _markedsectionclose.search(s, i + 3)
        elif sect in ("if", "else", "endif"):
            cm = _msmarkedsectionclose.search(s, i + 3)
        else:
            raise _TokenizeStop  # ParserBase.error() raises -> parse aborts
        if not cm:
            return -1
        b.unknown_decl(s[i + 3:cm.start()])
        return cm.end()
    if s[i:i + 9].lower() == "<!doctype":
        gtpos = s.find(">", i + 9)
        if gtpos == -1:
            return -1
        b.handle_decl(s[i + 2:gtpos])
        return gtpos + 1
    pos = s.find(">", i + 2)
    if pos == -1:
        return -1
    b.handle_comment(s[i + 2:pos])
    return pos + 1


def parse(html_str: str) -> Document:
    builder = _TreeBuilder(fragment=False)
    try:
        _fast_tokenize(builder, html_str)
    except Exception:
        pass  # keep whatever tree was built; per-doc failure isolation
    return Document(builder.root, builder.html, builder.head, builder.body)


def parse_fragment(fragment: str) -> list:
    builder = _TreeBuilder(fragment=True)
    try:
        _fast_tokenize(builder, fragment)
    except Exception:
        pass
    nodes = list(builder.root.children)
    for n in nodes:
        n.parent = None
    builder.root.children = []
    return nodes
