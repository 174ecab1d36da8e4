"""DocumentCleaner: the reference's sequential DOM rewrites before
scoring; all but the three div_to_para passes find their targets in
one tree walk.

From-scratch re-expression of /root/reference/newspaper/cleaners.py
(semantics, not code): strip naughty-id/class nodes, scripts/styles/
comments, em/span unwrapping, and the div→paragraph conversion whose
text-buffer splicing produces the exact whitespace the golden corpus
encodes.
"""
from __future__ import annotations

import re

from ..dom import (
    Element,
    drop_tag,
    find_by_tag,
    find_by_tags,
    fromstring,
    is_comment,
    outer_html,
    remove_keep_tail,
)
from .scorer import get_text

REMOVE_NODES_RE = (
    "^side$|combx|retweet|mediaarticlerelated|menucontainer|"
    "navbar|storytopbar-bucket|utility-bar|inline-share-tools"
    "|comment|PopularQuestions|contact|foot|footer|Footer|footnote"
    "|cnn_strycaptiontxt|cnn_html_slideshow|cnn_strylftcntnt"
    "|links|meta$|shoutbox|sponsor"
    "|tags|socialnetworking|socialNetworking|cnnStryHghLght"
    "|cnn_stryspcvbx|^inset$|pagetools|post-attributes"
    "|welcome_form|contentTools2|the_answers"
    "|communitypromo|runaroundLeft|subscribe|vcard|articleheadings"
    "|date|^print$|popup|author-dropdown|tools|socialtools|byline"
    "|konafilter|KonaFilter|breadcrumbs|^fn$|wp-caption-text"
    "|legende|ajoutVideo|timestamp|js_replies"
)

_DIV_TO_P_TAGS = ["a", "blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul"]


def _tablines_replace(s: str) -> str:
    """ReplaceSequence('\\n'→'\\n\\n', '\\t'→'', literal '^\\s+$'→'') —
    literal string replaces, not regex (utils.py StringReplacement)."""
    if not s:
        return ""
    s = s.replace("\n", "\n\n")
    s = s.replace("\t", "")
    s = s.replace("^\\s+$", "")
    return s


def _has_article_descendant(node: Element) -> bool:
    """.//article | .//*[@id="article"] | .//*[@itemprop="articleBody"]"""
    for d in node.iterdescendants():
        if not isinstance(d.tag, str):
            continue
        if d.tag == "article":
            return True
        if d.attrib.get("id") == "article":
            return True
        if d.attrib.get("itemprop") == "articleBody":
            return True
    return False


def clean_document(doc: Element) -> Element:
    """Steps 1–7 (body class, article attrs, em drop, dropcaps,
    scripts/styles/comments, naughty/pattern removals, p-span drop)
    collect their targets in ONE pre-order walk (_collect_clean_targets)
    and then apply mutations in the reference's pass order. The walk
    matches each node as the reference's pass would see it: the first
    body's class and every article's id/name/class are already popped
    by passes 1–2 when the naughty and pattern regexes run (else a
    ``<body class="comments-open">`` takes the whole page with it, the
    case the reference pops the class for), and like getElementsByTag
    those two passes skip the root. The other target sets are invariant
    under the earlier passes' mutations (drop_tag keeps descendants
    live; a node already detached by an earlier removal is re-processed
    inside its detached subtree, a no-op for the final tree). div_to_para
    stays a per-pass snapshot: its replacement re-parse can CREATE
    elements that the reference's later span/section snapshots pick up,
    so pre-collection would diverge."""
    targets = _collect_clean_targets(doc)
    if targets.body is not None:
        targets.body.attrib.pop("class", None)
    for article in targets.articles:
        for attr in ("id", "name", "class"):
            article.attrib.pop(attr, None)
    for em in targets.ems:
        # img guard evaluated at pass time, as the reference does
        if not find_by_tag(em, tag="img"):
            drop_tag(em)
    for item in targets.dropcaps:
        drop_tag(item)
    for item in targets.scripts:
        remove_keep_tail(item)
    for item in targets.styles:
        remove_keep_tail(item)
    for item in targets.comments:
        remove_keep_tail(item)
    for bucket in targets.naughty:
        for node in bucket:
            if not _has_article_descendant(node):
                remove_keep_tail(node)
    for buckets in targets.extra:
        for bucket in buckets:
            for node in bucket:
                remove_keep_tail(node)
    for item in targets.pspans:
        drop_tag(item)
    div_to_para(doc, "div")
    div_to_para(doc, "span")
    div_to_para(doc, "section")
    return doc


_NAUGHTY_RX = re.compile(REMOVE_NODES_RE, re.IGNORECASE)
_PATTERN_RXS = [
    re.compile(p, re.IGNORECASE)
    for p in (
        "^caption$",
        " google ",
        "^[^entry-]more.*$",
        "[^-]facebook",
        "facebook-broadcasting",
        "[^-]twitter",
    )
]


class _CleanTargets:
    __slots__ = (
        "body", "articles", "ems", "dropcaps", "scripts", "styles",
        "comments", "pspans", "naughty", "extra",
    )


def _collect_clean_targets(doc: Element) -> _CleanTargets:
    """ONE pre-order document-order walk collecting the targets of the
    cleaner's first seven passes (the reference walks the whole tree
    once per pass — ~9 traversals; see clean_document for the
    equivalence argument). The p-ancestor flag rides the DFS stack so
    'p span' needs no ancestor re-walk."""
    t = _CleanTargets()
    t.body = None
    t.articles = []
    t.ems = []
    t.dropcaps = []
    t.scripts = []
    t.styles = []
    t.comments = []
    t.pspans = []
    n_extra = len(_PATTERN_RXS)
    t.naughty = ([], [], [])
    t.extra = [([], []) for _ in range(n_extra)]
    naughty_search = _NAUGHTY_RX.search
    stack = [(doc, False)]
    pop = stack.pop
    while stack:
        node, under_p = pop()
        tag = node.tag
        children = node._children
        if children:
            in_p = under_p or tag == "p"
            stack.extend([(c, in_p) for c in children[::-1]])
        if tag.__class__ is not str:
            if is_comment(node):
                t.comments.append(node)
            continue
        if tag == "span":
            if under_p:
                t.pspans.append(node)
        elif tag == "em":
            t.ems.append(node)
        elif tag == "script":
            t.scripts.append(node)
        elif tag == "style":
            t.styles.append(node)
        elif tag == "article":
            if node is not doc:
                t.articles.append(node)
                continue  # no id/name/class left to match
        elif tag == "body":
            if t.body is None and node is not doc:
                t.body = node
        attrib = node.attrib
        if not attrib:
            continue
        id_v = attrib.get("id")
        class_v = attrib.get("class") if node is not t.body else None
        if tag == "span" and class_v is not None:
            toks = class_v.split()
            if "dropcap" in toks or "drop_cap" in toks:
                t.dropcaps.append(node)
        name_v = attrib.get("name")
        if id_v is not None and naughty_search(id_v):
            t.naughty[0].append(node)
        if class_v is not None and naughty_search(class_v):
            t.naughty[1].append(node)
        if name_v is not None and naughty_search(name_v):
            t.naughty[2].append(node)
        if id_v is not None or class_v is not None:
            for k, rx in enumerate(_PATTERN_RXS):
                if id_v is not None and rx.search(id_v):
                    t.extra[k][0].append(node)
                if class_v is not None and rx.search(class_v):
                    t.extra[k][1].append(node)
    return t


def _child_nodes_with_text(node: Element) -> list:
    """Materialize text/tails as synthetic tag='text' elements
    (parsers.py:138-159)."""
    root = node
    if root.text:
        t = Element("text", text=root.text)
        root.text = None
        root.insert(0, t)
    for n in list(root):
        idx = root.index(n)
        if n.tag == "text":
            continue
        if n.tail:
            # lxml keeps n.tail in place AND adds the text node — the
            # duplication is reference behavior (parsers.py:150-158)
            t = Element("text", text=n.tail)
            root.insert(idx + 1, t)
    return list(root)


def _replace_walk_left_right(kid, kid_text, replacement_text, nodes_to_remove):
    replace_text = _tablines_replace(kid_text)
    if len(replace_text) > 1:
        prev_node = kid.getprevious()
        while (
            prev_node is not None
            and prev_node.tag == "a"
            and prev_node.attrib.get("grv-usedalready") != "yes"
        ):
            replacement_text.append(" " + outer_html(prev_node) + " ")
            nodes_to_remove.append(prev_node)
            prev_node.set("grv-usedalready", "yes")
            prev_node = prev_node.getprevious()
        replacement_text.append(replace_text)
        next_node = kid.getnext()
        while (
            next_node is not None
            and next_node.tag == "a"
            and next_node.attrib.get("grv-usedalready") != "yes"
        ):
            replacement_text.append(" " + outer_html(next_node) + " ")
            nodes_to_remove.append(next_node)
            next_node.set("grv-usedalready", "yes")
            next_node = next_node.getnext()


def _get_replacement_nodes(div):
    replacement_text = []
    nodes_to_return = []
    nodes_to_remove = []
    for kid in _child_nodes_with_text(div):
        if kid.tag == "p" and replacement_text:
            nodes_to_return.append(fromstring("".join(replacement_text)))
            replacement_text = []
            nodes_to_return.append(kid)
        elif kid.tag == "text":
            kid_text = get_text(kid)
            _replace_walk_left_right(kid, kid_text, replacement_text, nodes_to_remove)
        else:
            nodes_to_return.append(kid)
    if replacement_text:
        nodes_to_return.append(fromstring("".join(replacement_text)))
    for n in nodes_to_remove:
        remove_keep_tail(n)
    return nodes_to_return


def div_to_para(doc, dom_type):
    for div in find_by_tag(doc, tag=dom_type):
        items = find_by_tags(div, _DIV_TO_P_TAGS)
        if len(items) == 0:
            div.tag = "p"
        else:
            replace_nodes = [n for n in _get_replacement_nodes(div) if n is not None]
            attrib = dict(div.attrib)
            div.clear()
            for i, node in enumerate(replace_nodes):
                div.insert(i, node)
            for name, value in attrib.items():
                div.set(name, value)
    return doc
