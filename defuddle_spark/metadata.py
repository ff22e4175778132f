"""Metadata extraction — title/description/author/site/image/favicon/published.

Reimplements /root/reference/internal/metadata/metadata.go priority chains:
Extract :117-166, getAuthor :256-314, getSite :333-345, getTitle :363-379,
cleanTitle :404-427, getDescription :443-452, getImage :468-477,
getFavicon :501-532, getPublished :547-555, getSchemaProperty :674-769.
Pure Python, no Spark imports.
"""

from __future__ import annotations

import re
from typing import Any, List, Optional
from urllib.parse import urljoin, urlparse

from .dom import ELEMENT, Element
from .selectors import find_all, find_first

_ARRAY_INDEX_RE = re.compile(r"^\[\d+\]$")


class DomProbes:
    """All DOM lookups metadata needs, collected in ONE descendants walk.

    Replaces up to 8 separate selector-engine walks per document
    (title, link[rel*=icon], time[datetime], link[rel=canonical],
    base[href], and get_author's four selectors) with hand-coded
    matchers that replicate the engine's semantics exactly:
    class matching is whitespace-token exact, attribute ops are
    case-sensitive, ``[attr]`` means present (empty string counts),
    and ``.authors a`` walks the real parent chain like Chain.match.

    ``DomProbes(root)`` walks ``root``'s descendants; ``DomProbes()``
    starts empty and takes the elements one ``add`` at a time, in
    document order, from a walk that gathers more than metadata (the
    kernel's).
    """

    __slots__ = ("title_el", "icon_el", "time_el", "canonical_el", "base_el",
                 "author_itemprop", "author_class", "author_href", "authors_a",
                 "_saw_authors_class")

    def __init__(self, doc_root: Optional[Element] = None) -> None:
        self.title_el = None
        self.icon_el = None
        self.time_el = None
        self.canonical_el = None
        self.base_el = None
        self.author_itemprop: List[Element] = []
        self.author_class: List[Element] = []
        self.author_href: List[Element] = []
        self.authors_a: List[Element] = []
        self._saw_authors_class = False
        if doc_root is not None:
            for el in doc_root.descendants():
                self.add(el)

    def add(self, el: Element) -> None:
        """Probe ``el``, the next element in document order."""
        tag = el.tag
        # One scan over the (usually tiny) attrs list instead of one
        # get() call per probed attribute.
        cls = href = rel = itemprop = datetime_v = None
        for k, v in el.attrs:
            if k == "class":
                if cls is None:
                    cls = v
            elif k == "href":
                if href is None:
                    href = v
            elif k == "rel":
                if rel is None:
                    rel = v
            elif k == "itemprop":
                if itemprop is None:
                    itemprop = v
            elif k == "datetime":
                if datetime_v is None:
                    datetime_v = v
        if tag == "title":
            if self.title_el is None:
                self.title_el = el
        elif tag == "link":
            if rel is not None:
                if self.icon_el is None and "icon" in rel:
                    self.icon_el = el
                if self.canonical_el is None and rel == "canonical":
                    self.canonical_el = el
        elif tag == "time":
            if self.time_el is None and datetime_v is not None:
                self.time_el = el
        elif tag == "base":
            if self.base_el is None and href is not None:
                self.base_el = el
        elif tag == "a" and self._saw_authors_class:
            # Ancestors precede descendants in the pre-order walk, so
            # the guard is exact: an <a> can only match ".authors a"
            # after some authors-class element has been seen.
            node = el.parent
            while (node is not None and node.type == ELEMENT
                   and not node.tag.startswith("#")):
                c = node.get("class")
                if c is not None and "authors" in c.split():
                    self.authors_a.append(el)
                    break
                node = node.parent
        if itemprop == "author":
            self.author_itemprop.append(el)
        if cls is not None and "author" in cls:
            tokens = cls.split()
            if "author" in tokens:
                self.author_class.append(el)
            if "authors" in tokens:
                self._saw_authors_class = True
        if href is not None and "author" in href:
            self.author_href.append(el)


def _first(*vals: str) -> str:
    for v in vals:
        if v:
            return v
    return ""


def _num_to_str(num) -> str:
    # Go strconv.FormatFloat(num, 'f', -1, 64): minimal fixed-point digits
    if isinstance(num, int):
        return str(num)
    if num == int(num) and abs(num) < 1e15:
        return str(int(num))
    return repr(num)


def get_meta_content(meta_tags: List[dict], attr: str, value: str) -> str:
    """metadata.go:564-578 — first meta tag whose name/property equals value."""
    for tag in meta_tags:
        if tag.get(attr) == value and tag.get("content"):
            return tag["content"]
    return ""


def get_schema_property(schema_data: Any, prop: str) -> str:
    """metadata.go:674-769 — dotted-path search with exact-then-fuzzy descent."""
    if not schema_data:
        return ""  # None, or a page without schema.org items: nothing found

    def search(data: Any, props: List[str], exact: bool) -> List[str]:
        if isinstance(data, str):
            return [data] if not props else []
        if data is None:
            return []
        if isinstance(data, bool):
            return []
        if isinstance(data, (int, float)):
            return []
        if isinstance(data, list):
            if props:
                cur = props[0]
                if _ARRAY_INDEX_RE.match(cur):
                    idx = int(cur[1:-1])
                    if idx < len(data):
                        return search(data[idx], props[1:], exact)
                    return []
            if not props:
                results = [
                    _num_to_str(item) if isinstance(item, (int, float)) and not isinstance(item, bool) else item
                    for item in data
                    if isinstance(item, str)
                    or (isinstance(item, (int, float)) and not isinstance(item, bool))
                ]
                if len(results) == len(data):
                    return results
            out: List[str] = []
            for item in data:
                out.extend(search(item, props, exact))
            return out
        if isinstance(data, dict):
            if not props:
                name = data.get("name")
                return [name] if isinstance(name, str) else []
            cur, rest = props[0], props[1:]
            if cur in data:
                return search(data[cur], rest, True)
            if not exact:
                nested: List[str] = []
                for value in data.values():
                    if isinstance(value, dict):
                        nested.extend(search(value, props, False))
                return nested
        return []

    props = prop.split(".")
    results = search(schema_data, props, True)
    if not results:
        results = search(schema_data, props, False)
    return ", ".join(r for r in results if r)


def _clean_title(title: str, site_name: str) -> str:
    """metadata.go:404-427."""
    if not title or not site_name:
        return title
    escaped = re.escape(site_name)
    patterns = [
        r"\s*[\|\-–—]\s*" + escaped + r"\s*$",
        r"^\s*" + escaped + r"\s*[\|\-–—]\s*",
    ]
    for pattern in patterns:
        rx = re.compile(pattern, re.IGNORECASE)
        if rx.search(title):
            title = rx.sub("", title)
            break
    return title.strip()


def _format_author_list(authors: List[str]) -> str:
    """metadata.go:771-785 — clean, dedupe, cap at 10, join with ', '."""
    cleaned = []
    for a in authors:
        c = a.strip().rstrip(",").strip()
        if c:
            cleaned.append(c)
    seen = set()
    unique = []
    for a in cleaned:
        if a not in seen:
            seen.add(a)
            unique.append(a)
    return ", ".join(unique[:10])


def get_author(doc_root: Element, schema_data: Any, meta_tags: List[dict],
               _probes: Optional[DomProbes] = None) -> str:
    """metadata.go:256-314."""
    authors = _first(
        get_meta_content(meta_tags, "name", "sailthru.author"),
        get_meta_content(meta_tags, "property", "author"),
        get_meta_content(meta_tags, "name", "author"),
        get_meta_content(meta_tags, "name", "byl"),
        get_meta_content(meta_tags, "name", "authorList"),
    )
    if authors:
        return authors

    schema_authors = _first(
        get_schema_property(schema_data, "author.name"),
        get_schema_property(schema_data, "author.[].name"),
    )
    formatted = _format_author_list(schema_authors.split(","))
    if formatted:
        return formatted

    if _probes is not None:
        selector_hits = (_probes.author_itemprop, _probes.author_class,
                         _probes.author_href, _probes.authors_a)
    else:
        selector_hits = tuple(
            find_all(doc_root, s)
            for s in ('[itemprop="author"]', ".author",
                      '[href*="author"]', ".authors a"))
    dom_authors: List[str] = []
    for hits in selector_hits:
        for el in hits:
            for part in el.text().split(","):
                cleaned = part.strip().rstrip(",").strip()
                lower = cleaned.lower()
                if cleaned and lower not in ("author", "authors"):
                    dom_authors.append(cleaned)
    formatted = _format_author_list(dom_authors)
    if formatted:
        return formatted

    return _first(
        get_meta_content(meta_tags, "name", "copyright"),
        get_schema_property(schema_data, "copyrightHolder.name"),
        get_meta_content(meta_tags, "property", "og:site_name"),
        get_schema_property(schema_data, "publisher.name"),
        get_schema_property(schema_data, "sourceOrganization.name"),
        get_schema_property(schema_data, "isPartOf.name"),
        get_meta_content(meta_tags, "name", "twitter:creator"),
        get_meta_content(meta_tags, "name", "application-name"),
    )


def get_site(doc_root: Element, schema_data: Any, meta_tags: List[dict],
             _author: Optional[str] = None) -> str:
    """metadata.go:333-345 (author fallback precomputable by the caller)."""
    return _first(
        get_schema_property(schema_data, "publisher.name"),
        get_meta_content(meta_tags, "property", "og:site_name"),
        get_schema_property(schema_data, "WebSite.name"),
        get_schema_property(schema_data, "sourceOrganization.name"),
        get_meta_content(meta_tags, "name", "copyright"),
        get_schema_property(schema_data, "copyrightHolder.name"),
        get_schema_property(schema_data, "isPartOf.name"),
        get_meta_content(meta_tags, "name", "application-name"),
        _author if _author is not None
        else get_author(doc_root, schema_data, meta_tags),
    )


def get_title(doc_root: Element, schema_data: Any, meta_tags: List[dict],
              _site: Optional[str] = None,
              _probes: Optional[DomProbes] = None) -> str:
    """metadata.go:363-379."""
    raw = _first(
        get_meta_content(meta_tags, "property", "og:title"),
        get_meta_content(meta_tags, "name", "twitter:title"),
        get_schema_property(schema_data, "headline"),
        get_meta_content(meta_tags, "name", "title"),
        get_meta_content(meta_tags, "name", "sailthru.title"),
    )
    if not raw:
        title_el = (_probes.title_el if _probes is not None
                    else find_first(doc_root, "title"))
        if title_el is not None:
            raw = title_el.text().strip()
    site = _site if _site is not None else get_site(doc_root, schema_data, meta_tags)
    return _clean_title(raw, site)


def get_description(schema_data: Any, meta_tags: List[dict]) -> str:
    """metadata.go:443-452."""
    return _first(
        get_meta_content(meta_tags, "name", "description"),
        get_meta_content(meta_tags, "property", "description"),
        get_meta_content(meta_tags, "property", "og:description"),
        get_schema_property(schema_data, "description"),
        get_meta_content(meta_tags, "name", "twitter:description"),
        get_meta_content(meta_tags, "name", "sailthru.description"),
    )


def get_image(schema_data: Any, meta_tags: List[dict]) -> str:
    """metadata.go:468-477."""
    return _first(
        get_meta_content(meta_tags, "property", "og:image"),
        get_meta_content(meta_tags, "name", "twitter:image"),
        get_schema_property(schema_data, "image.url"),
        get_schema_property(schema_data, "image"),
        get_meta_content(meta_tags, "name", "sailthru.image.full"),
        get_meta_content(meta_tags, "name", "sailthru.image.thumb"),
    )


def get_favicon(doc_root: Element, base_url: str, meta_tags: List[dict],
                _probes: Optional[DomProbes] = None) -> str:
    """metadata.go:501-532."""
    favicon = ""
    icon = (_probes.icon_el if _probes is not None
            else find_first(doc_root, 'link[rel*="icon"]'))
    if icon is not None:
        favicon = icon.get("href") or ""
    if not favicon:
        favicon = get_meta_content(meta_tags, "name", "msapplication-TileImage")
    if not favicon:
        favicon = "/favicon.ico"
    if favicon.startswith("http"):
        return favicon
    if base_url:
        try:
            return urljoin(base_url, favicon)
        except ValueError:
            return favicon
    return favicon


def get_published(doc_root: Element, schema_data: Any, meta_tags: List[dict],
                  _probes: Optional[DomProbes] = None) -> str:
    """metadata.go:547-555."""
    published = _first(
        get_schema_property(schema_data, "datePublished"),
        get_meta_content(meta_tags, "property", "article:published_time"),
        get_meta_content(meta_tags, "name", "sailthru.date"),
        get_meta_content(meta_tags, "name", "date"),
    )
    if published:
        return published
    time_el = (_probes.time_el if _probes is not None
               else find_first(doc_root, "time[datetime]"))
    if time_el is not None:
        return time_el.get("datetime") or ""
    return ""


def _domain_from_url(raw_url: str) -> str:
    try:
        host = urlparse(raw_url).hostname or ""
    except ValueError:
        return ""
    return host[4:] if host.startswith("www.") else host


def extract(doc_root: Element, schema_data: Any, meta_tags: List[dict],
            base_url: str, probes: Optional[DomProbes] = None) -> dict:
    """metadata.go:117-166 — the full metadata struct for one document.

    ``probes`` are ``doc_root``'s DomProbes when the caller already
    gathered them; without them this walks ``doc_root`` once."""
    if probes is None:
        probes = DomProbes(doc_root)
    document_url = base_url
    if not document_url:
        document_url = _first(
            get_meta_content(meta_tags, "property", "og:url"),
            get_meta_content(meta_tags, "property", "twitter:url"),
            get_schema_property(schema_data, "url"),
            get_schema_property(schema_data, "mainEntityOfPage.url"),
            get_schema_property(schema_data, "mainEntity.url"),
            get_schema_property(schema_data, "WebSite.url"),
        )
        if not document_url:
            canonical = probes.canonical_el
            if canonical is not None:
                document_url = canonical.get("href") or ""

    domain = _domain_from_url(document_url) if document_url else ""

    if not document_url:
        base_tag = probes.base_el
        if base_tag is not None:
            document_url = base_tag.get("href") or ""
            domain = _domain_from_url(document_url)

    author = get_author(doc_root, schema_data, meta_tags, _probes=probes)
    site = get_site(doc_root, schema_data, meta_tags, _author=author)
    return {
        "title": get_title(doc_root, schema_data, meta_tags, _site=site,
                           _probes=probes),
        "description": get_description(schema_data, meta_tags),
        "domain": domain,
        "favicon": get_favicon(doc_root, document_url, meta_tags,
                               _probes=probes),
        "image": get_image(schema_data, meta_tags),
        "published": get_published(doc_root, schema_data, meta_tags,
                                   _probes=probes),
        "author": author,
        "site": site,
    }
