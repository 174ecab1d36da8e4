"""Node finders covering the query surface the reference engine uses:

* ``find_by_tag``   — descendant[-or-self] tag search
  (Parser.getElementsByTag, parsers.py:110-128)
* ``find_by_tags``  — descendant multi-tag search (parsers.py:169-174)
* ``find_attr_contains`` semantics — case-insensitive *substring* match
  on one attribute (the translate()+contains() xpath at
  parsers.py:121-122), folded into find_by_tag
* ``css_select``    — the small CSS subset the reference passes to
  cssselect: tag, [attr], [attr=v], [attr~=v], [attr*=v], descendant
  combinator and comma groups.
* ``iter_comments`` — '//comment()' (parsers.py:184-186)

All results are in document order, matching xpath. Hot paths use
inline stack walks (these finders dominate kernel CPU — measured ~60%
of extraction time when written as chained generators).
"""
from __future__ import annotations

import re
import string

from .element import Element, is_comment, is_element

_UPPER_TO_LOWER = str.maketrans(string.ascii_uppercase, string.ascii_lowercase)


def find_by_tag(root, tag=None, attr=None, value=None):
    """descendant-or-self search; mirrors getElementsByTag's quirk of
    dropping the root itself from results when a tag is given."""
    results = []
    check_attr = attr is not None and value is not None
    if check_attr:
        low = value.lower()
    stack = [root]
    pop = stack.pop
    push = stack.extend
    while stack:
        node = pop()
        children = node._children
        if children:
            # NOTE: the [::-1] slice beats extend(reversed(...)) here —
            # slice+extend is two C memcpys, the iterator pays per-item
            # dispatch (measured on the 300-page kernel bench)
            push(children[::-1])
        t = node.tag
        if t.__class__ is not str:
            continue
        if tag is not None:
            if t != tag or node is root:
                continue
        if check_attr:
            av = node.attrib.get(attr)
            if av is None or low not in av.translate(_UPPER_TO_LOWER):
                continue
        results.append(node)
    return results


def find_attr_contains_multi(root, specs) -> list:
    """One traversal for many (attr, value-substring) predicates.

    specs: list of (attr, value) — value matched case-insensitively as a
    substring (same semantics as find_by_tag's attr path). Returns a
    list of node-lists parallel to specs, each in document order.
    """
    results = [[] for _ in specs]
    # group by attribute so each attr value is lowercased once per node
    by_attr: dict = {}
    for k, (a, v) in enumerate(specs):
        by_attr.setdefault(a, []).append((k, v.lower()))
    attr_items = list(by_attr.items())
    stack = [root]
    pop = stack.pop
    push = stack.extend
    while stack:
        node = pop()
        children = node._children
        if children:
            # NOTE: the [::-1] slice beats extend(reversed(...)) here —
            # slice+extend is two C memcpys, the iterator pays per-item
            # dispatch (measured on the 300-page kernel bench)
            push(children[::-1])
        if node.tag.__class__ is not str:
            continue
        attrib = node.attrib
        if not attrib:
            continue
        for attr, wanted in attr_items:
            av = attrib.get(attr)
            if av is None:
                continue
            low_av = av.translate(_UPPER_TO_LOWER)
            for k, low in wanted:
                if low in low_av:
                    results[k].append(node)
    return results


def find_by_tags(root, tags) -> list:
    """descendant (not self) search over multiple tags, document order."""
    tagset = set(tags)
    star = "*" in tagset
    results = []
    stack = [root]
    pop = stack.pop
    push = stack.extend
    while stack:
        node = pop()
        children = node._children
        if children:
            # NOTE: the [::-1] slice beats extend(reversed(...)) here —
            # slice+extend is two C memcpys, the iterator pays per-item
            # dispatch (measured on the 300-page kernel bench)
            push(children[::-1])
        if node is root:
            continue
        t = node.tag
        if t.__class__ is not str:
            continue
        if star or t in tagset:
            results.append(node)
    return results


def iter_comments(root) -> list:
    out = []
    stack = [root]
    while stack:
        node = stack.pop()
        children = node._children
        if children:
            stack.extend(children[::-1])
        if is_comment(node):
            out.append(node)
    return out


# ---------------------------------------------------------------------------
# mini CSS
# ---------------------------------------------------------------------------

_SEL_ATTR_RE = re.compile(
    r"\[\s*([\w:-]+)\s*(?:([~*|^$]?=)\s*(\"[^\"]*\"|'[^']*'|[^\]\s]+))?\s*\]"
)


class _Simple:
    __slots__ = ("tag", "conds")

    def __init__(self, tag, conds):
        self.tag = tag
        self.conds = conds  # list of (attr, op, value)

    def matches(self, node: Element) -> bool:
        if node.tag.__class__ is not str:
            return False
        if self.tag and self.tag != "*" and node.tag != self.tag:
            return False
        for attr, op, value in self.conds:
            av = node.attrib.get(attr)
            if av is None:
                return False
            if op is None:
                continue
            if op == "=":
                if av != value:
                    return False
            elif op == "~=":
                if value not in av.split():
                    return False
            elif op == "*=":
                if value not in av:
                    return False
            elif op == "^=":
                if not av.startswith(value):
                    return False
            elif op == "$=":
                if not av.endswith(value):
                    return False
            else:
                return False
        return True


def _parse_simple(token: str) -> _Simple:
    conds = []

    def grab(m):
        val = m.group(3)
        if val is not None and val[:1] in "\"'":
            val = val[1:-1]
        conds.append((m.group(1), m.group(2), val))
        return ""

    tag = _SEL_ATTR_RE.sub(grab, token).strip()
    return _Simple(tag or None, conds)


def _parse_selector(selector: str):
    groups = []
    for part in selector.split(","):
        part = part.strip()
        if not part:
            continue
        chain = [_parse_simple(tok) for tok in part.split()]
        groups.append(chain)
    return groups


_SELECTOR_CACHE: dict = {}


def parsed_selector(selector: str):
    """``_parse_selector(selector)``, cached for the first 512 selectors
    (the kernel uses a fixed few dozen)."""
    groups = _SELECTOR_CACHE.get(selector)
    if groups is None:
        groups = _parse_selector(selector)
        if len(_SELECTOR_CACHE) < 512:
            _SELECTOR_CACHE[selector] = groups
    return groups


def css_select(root: Element, selector: str) -> list:
    groups = parsed_selector(selector)
    out = []
    stack = [root]
    # fast path: every group is a single simple selector (the common
    # case: "meta", "*[gravityScore]", "span[class~=dropcap]") — no
    # ancestor walking needed. The tag test is inlined ahead of the
    # matches() call: selectors with a tag reject most nodes, and the
    # attribute dispatch is only worth paying for candidates (matches()
    # was ~240k calls/300 pages before this prefilter).
    if all(len(ch) == 1 for ch in groups):
        singles = [(s, s.tag if s.tag and s.tag != "*" else None, s.conds)
                   for s in (ch[0] for ch in groups)]
        while stack:
            node = stack.pop()
            children = node._children
            if children:
                stack.extend(children[::-1])
            t = node.tag
            if t.__class__ is not str:
                continue
            for s, stag, sconds in singles:
                if stag is not None and t != stag:
                    continue
                if not sconds or s.matches(node):
                    out.append(node)
                    break
        return out
    # chain path: same inline tag prefilter on each chain's LAST simple
    # selector before the ancestor walk
    chains = [(ch, ch[-1].tag if ch[-1].tag and ch[-1].tag != "*" else None)
              for ch in groups]
    while stack:
        node = stack.pop()
        children = node._children
        if children:
            stack.extend(children[::-1])
        t = node.tag
        if t.__class__ is not str:
            continue
        for chain, ltag in chains:
            if ltag is not None and t != ltag:
                continue
            if _match_chain(node, chain, root):
                out.append(node)
                break
    return out


def _match_chain(node: Element, chain, root: Element) -> bool:
    if not chain[-1].matches(node):
        return False
    idx = len(chain) - 2
    anc = node.getparent()
    while idx >= 0:
        found = False
        while anc is not None:
            stop_after = anc is root
            if chain[idx].matches(anc):
                found = True
                anc = anc.getparent()
                break
            if stop_after:
                anc = None
                break
            anc = anc.getparent()
        if not found:
            return False
        idx -= 1
    return True
