"""Schema.org JSON-LD extraction.

Reimplements /root/reference/defuddle.go:920-1187: per-script cleaning
(:988-1018), item extraction with @graph flattening (:1072-1107) and
validation (:1113-1153), plus preserveJSONLDType (:1058-1066).

JSON-LD 1.1 expand/compact parity note: the reference delegates to
json-gold with the remote https://schema.org/ context; when expansion
fails it falls back to the raw parsed JSON (defuddle.go:1055
`return rawData, nil`). Round 2 adds an offline expansion+compaction
pipeline (jsonld.py) over a vendored schema.org context, so schema.org-
context documents now take the expansion path the with-network reference
takes (compacted items carry the `type`/`id` keyword aliases, which
preserveJSONLDType then mirrors into `@type`); everything else keeps the
raw-parse fallback — see jsonld.py's scope notes.
"""

from __future__ import annotations

import json
import re
from typing import Any, List, Optional

from .dom import Element

# defuddle.go:33-40 (Go regexes are not multiline: ^/$ anchor the whole text)
_HTML_COMMENT_RE = re.compile(r"<!--[\s\S]*?-->")
_JS_COMMENT_RE = re.compile(r"/\*[\s\S]*?\*/|^\s*//.*$")
_CDATA_RE = re.compile(r"^\s*<!\[CDATA\[([\s\S]*?)\]\]>\s*$")
_COMMENT_MARKER_RE = re.compile(r"^\s*(\*/|/\*)\s*|\s*(\*/|/\*)\s*$")

SCHEMA_COMMON_PROPS = ("name", "description", "url", "image", "author", "publisher")


def clean_jsonld_content(content: str) -> str:
    """defuddle.go:988-1018."""
    content = _HTML_COMMENT_RE.sub("", content)
    content = _JS_COMMENT_RE.sub("", content)
    m = _CDATA_RE.search(content)
    if m is not None:
        content = m.group(1)
    content = _COMMENT_MARKER_RE.sub("", content)
    content = content.strip()
    is_valid = (content.startswith("{") and content.endswith("}")) or (
        content.startswith("[") and content.endswith("]")
    )
    if content and not is_valid:
        return ""
    return content


def _is_valid_schema_item(item: Any) -> bool:
    """defuddle.go:1113-1153."""
    if not isinstance(item, dict):
        return False
    item_type = item.get("@type", item.get("type"))
    if item_type is not None:
        if isinstance(item_type, str):
            return item_type != ""
        if isinstance(item_type, list):
            return len(item_type) > 0
    item_id = item.get("@id")
    if isinstance(item_id, str):
        return "schema.org" in item_id or "http" in item_id
    prop_count = sum(1 for p in SCHEMA_COMMON_PROPS if p in item)
    return prop_count >= 2


def _extract_schema_items(data: Any) -> List[Any]:
    """defuddle.go:1072-1107."""
    items: List[Any] = []
    if isinstance(data, dict):
        if "@graph" in data:
            graph = data["@graph"]
            if isinstance(graph, list):
                items.extend(graph)
            else:
                items.append(graph)
        else:
            items.append(data)
    elif isinstance(data, list):
        items.extend(data)
    else:
        items.append(data)
    return [i for i in items if _is_valid_schema_item(i)]


def _preserve_jsonld_type(item: dict) -> None:
    """defuddle.go:1058-1066."""
    if "type" in item and "@type" not in item:
        item["@type"] = item["type"]


def is_jsonld_script(el: Element) -> bool:
    """The reference's JSON-LD script selector,
    ``script[type="application/ld+json"]``."""
    return el.tag == "script" and el.get("type") == "application/ld+json"


def extract_schema_org(doc_root: Element,
                       scripts: Optional[List[Element]] = None) -> List[Any]:
    """defuddle.go:920-982 — all valid JSON-LD items across scripts.

    ``scripts`` are ``doc_root``'s JSON-LD scripts (``is_jsonld_script``)
    in document order when the caller already gathered them; without
    them this walks ``doc_root`` once."""
    if scripts is None:
        scripts = [el for el in doc_root.descendants()
                   if is_jsonld_script(el)]
    all_items: List[Any] = []
    for script in scripts:
        content = script.text().strip()
        if not content:
            continue
        cleaned = clean_jsonld_content(content)
        if not cleaned:
            continue
        try:
            raw = json.loads(cleaned)
        except (json.JSONDecodeError, ValueError):
            continue
        from .jsonld import process_schema_org_data
        processed = process_schema_org_data(raw)
        items = _extract_schema_items(processed)
        for item in items:
            if isinstance(item, dict):
                _preserve_jsonld_type(item)
        all_items.extend(items)
    return all_items
