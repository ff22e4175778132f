"""Small CSS selector engine covering the subset used by the reference's
selector tables (see constants.py): tag, ``#id``, ``.class``, attribute
matchers ``[a] [a=v] [a^=v] [a$=v] [a*=v]`` with the ``i`` case-insensitive
flag, ``:not(compound)``, comma groups, and descendant / child combinators.

Semantics follow goquery/cascadia (the reference's engine,
/root/reference/defuddle.go:780-807): class matching is whitespace-token
exact; ancestor combinators walk the real parent chain (not bounded by the
search root). Compiled matchers are cached per-process so executors compile
each selector once.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Iterable, List, Optional, Tuple

from .dom import ELEMENT, Element

_IDENT = r"[-\w -￿]+"
_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<child>>)
  | (?P<comma>,)
  | (?P<tag>(?:[a-zA-Z][-\w]*|\*))
  | \#(?P<id>{ident})
  | \.(?P<cls>{ident})
  | \[(?P<attr>[-\w]+)\s*(?:(?P<op>[\^\$\*]?=)\s*(?P<q>["']?)(?P<val>[^\]"']*)(?P=q)\s*(?P<flag>[iIsS]?)\s*)?\]
  | :not\((?P<not>[^)]*)\)
    """.format(ident=_IDENT),
    re.VERBOSE,
)


class Compound:
    __slots__ = ("tag", "sid", "classes", "attrs", "nots")

    def __init__(self) -> None:
        self.tag: Optional[str] = None
        self.sid: Optional[str] = None
        self.classes: List[str] = []
        # (name, op, value, ci) where op in ('', '=', '^=', '$=', '*=')
        self.attrs: List[Tuple[str, str, str, bool]] = []
        self.nots: List["Compound"] = []

    def match(self, el: Element) -> bool:
        if self.tag is not None and self.tag != "*" and el.tag != self.tag:
            return False
        if self.sid is not None and el.get("id") != self.sid:
            return False
        if self.classes:
            cls = el.get("class")
            if cls is None:
                return False
            tokens = cls.split()
            for c in self.classes:
                if c not in tokens:
                    return False
        for name, op, val, ci in self.attrs:
            actual = el.get(name)
            if actual is None:
                return False
            if op == "":
                continue
            a = actual.lower() if ci else actual
            v = val.lower() if ci else val
            if op == "=":
                if a != v:
                    return False
            elif op == "^=":
                if not v or not a.startswith(v):
                    return False
            elif op == "$=":
                if not v or not a.endswith(v):
                    return False
            elif op == "*=":
                if not v or v not in a:
                    return False
        for n in self.nots:
            if n.match(el):
                return False
        return True


class Chain:
    """Right-to-left compound chain: steps[0] matches the element itself,
    later steps match ancestors via (' ' descendant | '>' child) combinators."""

    __slots__ = ("steps",)

    def __init__(self, steps: List[Tuple[Compound, Optional[str]]]) -> None:
        # steps: [(compound, combinator_to_previous)], rightmost first;
        # combinator applies between this step and the next one up.
        self.steps = steps

    def match(self, el: Element) -> bool:
        steps = self.steps
        if not steps[0][0].match(el):
            return False
        node = el
        i = 1
        comb = steps[0][1]
        while i < len(steps):
            compound = steps[i][0]
            parent = node.parent
            if comb == ">":
                if parent is None or parent.type != ELEMENT or parent.tag.startswith("#"):
                    return False
                if not compound.match(parent):
                    return False
                node = parent
            else:  # descendant
                found = False
                while parent is not None and parent.type == ELEMENT and not parent.tag.startswith("#"):
                    if compound.match(parent):
                        found = True
                        break
                    parent = parent.parent
                if not found:
                    return False
                node = parent
            comb = steps[i][1]
            i += 1
        return True


class Selector:
    __slots__ = ("chains", "source", "head_tags")

    def __init__(self, chains: List[Chain], source: str) -> None:
        self.chains = chains
        self.source = source
        # the tags a match can have, when every chain names one: sweeps
        # skip other elements without a match call
        heads = [c.steps[0][0].tag for c in chains]
        self.head_tags = (frozenset(heads)
                          if None not in heads and "*" not in heads else None)

    def match(self, el: Element) -> bool:
        for c in self.chains:
            if c.match(el):
                return True
        return False

    def find_all(self, root: Element) -> List[Element]:
        """All descendant elements of root (excluding root) matching, doc order."""
        tags = self.head_tags
        if tags is not None:
            return [el for el in root.descendants()
                    if el.tag in tags and self.match(el)]
        return [el for el in root.descendants() if self.match(el)]

    def find_first(self, root: Element) -> Optional[Element]:
        for el in root.descendants():
            if self.match(el):
                return el
        return None


def _parse_compound_str(s: str) -> Compound:
    chains = _parse(s)
    if len(chains) != 1 or len(chains[0].steps) != 1:
        raise ValueError(f"expected simple compound selector: {s!r}")
    return chains[0].steps[0][0]


def _parse(sel: str) -> List[Chain]:
    chains: List[Chain] = []
    # split on commas first is unsafe inside [] — tokenize instead
    pos = 0
    n = len(sel)
    # current chain accumulation: list of (compound, combinator_after)
    compounds: List[Tuple[Compound, Optional[str]]] = []
    cur: Optional[Compound] = None
    pending_comb: Optional[str] = None

    def flush_compound(comb: Optional[str]) -> None:
        nonlocal cur
        if cur is not None:
            compounds.append((cur, comb))
            cur = None

    def flush_chain() -> None:
        nonlocal compounds, pending_comb
        flush_compound(None)
        if compounds:
            # Reverse to rightmost-first. compounds[i][1] holds the combinator
            # recorded AFTER compound i (between it and compound i+1); for
            # matching, the combinator between steps[i] (right) and steps[i+1]
            # (left) is the one recorded after the left compound.
            rev = list(reversed(compounds))
            steps: List[Tuple[Compound, Optional[str]]] = []
            for idx, (comp, _) in enumerate(rev):
                comb_between = rev[idx + 1][1] if idx + 1 < len(rev) else None
                steps.append((comp, comb_between))
            chains.append(Chain(steps))
        compounds = []
        pending_comb = None

    while pos < n:
        m = _TOKEN_RE.match(sel, pos)
        if m is None:
            raise ValueError(f"cannot parse selector {sel!r} at {pos}")
        pos = m.end()
        kind = m.lastgroup
        if m.group("ws") is not None:
            if cur is not None:
                pending_comb = pending_comb or " "
            continue
        if m.group("child") is not None:
            pending_comb = ">"
            continue
        if m.group("comma") is not None:
            flush_chain()
            continue
        # a simple selector token begins/extends a compound
        if cur is not None and pending_comb is not None:
            compounds.append((cur, pending_comb))
            cur = None
            pending_comb = None
        if cur is None:
            cur = Compound()
        if m.group("tag") is not None:
            cur.tag = m.group("tag").lower()
        elif m.group("id") is not None:
            cur.sid = m.group("id")
        elif m.group("cls") is not None:
            cur.classes.append(m.group("cls"))
        elif m.group("attr") is not None:
            name = m.group("attr").lower()
            op = m.group("op") or ""
            val = m.group("val") or ""
            flag = (m.group("flag") or "").lower()
            cur.attrs.append((name, op, val, flag == "i"))
        elif m.group("not") is not None:
            cur.nots.append(_parse_compound_str(m.group("not").strip()))
        else:  # pragma: no cover
            raise ValueError(f"unhandled token in {sel!r}")
    flush_chain()
    if not chains:
        raise ValueError(f"empty selector: {sel!r}")
    return chains


@lru_cache(maxsize=4096)
def compile_selector(sel: str) -> Selector:
    return Selector(_parse(sel), sel)


class SelectorGroup:
    """Match-any over many selectors in one pass, with a tag/attr index.

    Valid for pure-removal sweeps: every chain's match depends only on the
    element itself and its ancestors, and removals only ever detach
    subtrees, so "remove all matches of S1, then all of S2, ..." yields the
    same attached tree as one walk removing any(S_i) — an element whose
    required ancestor was already detached is itself detached. This turns
    the reference's per-selector sweeps (defuddle.go:780-787, ~150 walks)
    into a single walk without changing output.

    Routing index: each chain is registered under exactly one cheap key
    (head tag, #id value, first class token, or one required attribute
    name); ``Chain.match`` re-verifies the full compound, so the index is
    only a gate — weaker keys cost wasted match calls, never wrong answers.
    """

    __slots__ = ("by_tag", "by_id", "by_class", "by_attr", "universal_always")

    def __init__(self, selectors: Iterable[str]) -> None:
        self.by_tag: dict = {}
        self.by_id: dict = {}
        self.by_class: dict = {}
        self.by_attr: dict = {}
        self.universal_always: List[Chain] = []
        for s in selectors:
            for chain in compile_selector(s).chains:
                head = chain.steps[0][0]
                if head.tag is not None and head.tag != "*":
                    self.by_tag.setdefault(head.tag, []).append(chain)
                elif head.sid is not None:
                    self.by_id.setdefault(head.sid, []).append(chain)
                elif head.classes:
                    self.by_class.setdefault(head.classes[0], []).append(chain)
                elif head.attrs:
                    self.by_attr.setdefault(head.attrs[0][0], []).append(chain)
                else:
                    self.universal_always.append(chain)

    def matches(self, el: Element) -> bool:
        for chain in self.by_tag.get(el.tag, ()):
            if chain.match(el):
                return True
        by_id, by_class, by_attr = self.by_id, self.by_class, self.by_attr
        for k, v in el.attrs:
            if by_id and k == "id":
                for chain in by_id.get(v, ()):
                    if chain.match(el):
                        return True
            if by_class and k == "class":
                for token in v.split():
                    for chain in by_class.get(token, ()):
                        if chain.match(el):
                            return True
            if by_attr:
                for chain in by_attr.get(k, ()):
                    if chain.match(el):
                        return True
        for chain in self.universal_always:
            if chain.match(el):
                return True
        return False


def find_all(root: Element, sel: str) -> List[Element]:
    return compile_selector(sel).find_all(root)


def find_first(root: Element, sel: str) -> Optional[Element]:
    return compile_selector(sel).find_first(root)


def matches(el: Element, sel: str) -> bool:
    return compile_selector(sel).match(el)


def match_any(el: Element, sels: Iterable[str]) -> bool:
    return any(compile_selector(s).match(el) for s in sels)
