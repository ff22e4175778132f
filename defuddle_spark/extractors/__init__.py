"""Site-specific extractor registry.

Mirrors /root/reference/extractors/registry.go:116-173 — dispatch by URL,
first registered extractor whose patterns match wins. String patterns
match the url's domain (exact / dot-suffix / contains,
registry.go:152-163); regex patterns match the full URL. Built-ins are
registered in the reference's order (registry.go:210-359): Twitter,
YouTube, Reddit, HackerNews, ChatGPT, Claude, Grok, Gemini, GitHub.

`lookup` is the one routing decision. It needs only the url, so the
kernel runs it once per document, reuses its pick for both passes and
reports its name as the Spark job's `extractor_route` column.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Tuple
from urllib.parse import urlparse

from ..dom import Document


@dataclass
class ExtractorResult:
    """extractors/base.go:10-15."""
    content: str = ""
    content_html: str = ""
    extracted_content: Dict[str, str] = field(default_factory=dict)
    variables: Dict[str, str] = field(default_factory=dict)


class BaseExtractor:
    """extractors/base.go:35-105."""

    def __init__(self, doc: Document, url: str, schema_org_data: Any = None) -> None:
        self.doc = doc
        self.url = url
        self.schema_org_data = schema_org_data

    def can_extract(self) -> bool:  # pragma: no cover - interface
        raise NotImplementedError

    def extract(self) -> ExtractorResult:  # pragma: no cover - interface
        raise NotImplementedError

    def name(self) -> str:
        return type(self).__name__.removesuffix("Extractor")


# Registry entries: (domain_patterns, url_regexes, route name, cls) —
# first match wins; the route name is the class name without "Extractor",
# lowercased
_REGISTRY: List[tuple] = []


def register(cls, domains: Optional[List[str]] = None,
             url_patterns: Optional[List[str]] = None) -> None:
    _REGISTRY.append((
        tuple(domains or ()),
        tuple(re.compile(p, re.IGNORECASE) for p in (url_patterns or ())),
        cls.__name__.removesuffix("Extractor").lower(),
        cls,
    ))


def _matches(url: str, domain: str, domains: tuple, regexes: tuple) -> bool:
    """registry.go:152-173."""
    for p in domains:
        if domain == p or domain.endswith("." + p) or p in domain:
            return True
    return any(rx.search(url) for rx in regexes)


def lookup(url: str) -> Tuple[Optional[str], Optional[type]]:
    """registry.go:116-147 — (route name, class) of the first registered
    extractor whose patterns match ``url``; (None, None) if none does."""
    if not url:
        return None, None
    try:
        domain = urlparse(url).hostname or ""
    except ValueError:
        domain = ""
    for domains, regexes, name, cls in _REGISTRY:
        if _matches(url, domain, domains, regexes):
            return name, cls
    return None, None


def find_extractor(doc: Document, url: str,
                   schema_org_data: Any = None) -> Optional[BaseExtractor]:
    """The extractor ``lookup`` picks for ``url``, bound to ``doc``."""
    cls = lookup(url)[1]
    return None if cls is None else cls(doc, url, schema_org_data)


# Built-ins, registered in the reference's order (registry.go:210-359)
from .social import (GitHubExtractor, RedditExtractor, TwitterExtractor,  # noqa: E402
                     YouTubeExtractor)
from .hackernews import HackerNewsExtractor  # noqa: E402
from .ai_chats import (ChatGPTExtractor, ClaudeExtractor, GeminiExtractor,  # noqa: E402
                       GrokExtractor)

register(TwitterExtractor, domains=["twitter.com", "x.com"],
         url_patterns=[r"twitter\.com/.*/status/.*", r"x\.com/.*/status/.*"])
register(YouTubeExtractor, domains=["youtube.com", "youtu.be"],
         url_patterns=[r"youtube\.com/watch\?v=.*", r"youtu\.be/.*"])
register(RedditExtractor,
         domains=["reddit.com", "old.reddit.com", "new.reddit.com"],
         url_patterns=[r"reddit\.com/r/.*/comments/.*"])
register(HackerNewsExtractor,
         url_patterns=[r"news\.ycombinator\.com/item\?id=.*"])
register(ChatGPTExtractor,
         url_patterns=[r"^https?://chatgpt\.com/(c|share)/.*"])
register(ClaudeExtractor,
         url_patterns=[r"^https?://claude\.ai/(chat|share)/.*"])
register(GrokExtractor, domains=["grok.x.ai", "x.ai"],
         url_patterns=[r"^https?://grok\.x\.ai.*", r"^https?://x\.ai.*"])
register(GeminiExtractor, domains=["gemini.google.com"],
         url_patterns=[r"^https?://gemini\.google\.com/.*"])
register(GitHubExtractor, domains=["github.com"],
         url_patterns=[r"^https?://github\.com/.*/(issues|pull)/.*"])
