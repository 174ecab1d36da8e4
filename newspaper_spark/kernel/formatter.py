"""Top-node → article text.

Re-expression of /root/reference/newspaper/outputformatters.py:41-175:
drop negative-gravity subtrees, strip <a>, literal-``\\n`` injection for
<br>/<li> (the two-character string, later split on — replicated
verbatim, see SURVEY.md §7 hard parts), strip inline tags, drop empty
tags in reverse document order, drop a trailing deep media div, then
per-child text extraction with unescape + innerTrim.
"""
from __future__ import annotations

from html import unescape

from ..dom import (
    Element,
    css_select,
    drop_tag,
    find_by_tag,
    find_by_tags,
    remove_keep_tail,
    strip_tags,
)
from .scorer import get_text
from .text import inner_trim

_LITERAL_NL = r"\n"  # two characters: backslash + n


def get_formatted_text(top_node: Element) -> str:
    text, _ = get_formatted(top_node, keep_article_html=False)
    return text


def get_formatted(top_node: Element, keep_article_html: bool = False):
    """OutputFormatter.get_formatted (outputformatters.py:41-61):
    returns (text, article_html); html captured after the negative-score
    sweep, before link stripping — reference ordering."""
    remove_negativescores_nodes(top_node)
    html = convert_to_html(top_node) if keep_article_html else ""
    links_to_text(top_node)
    add_newline_to_br(top_node)
    add_newline_to_li(top_node)
    replace_with_text(top_node)
    remove_empty_tags(top_node)
    remove_trailing_media_div(top_node)
    return convert_to_text(top_node), html


_ARTICLE_HTML_ALLOW = frozenset(
    "a span p br strong b em i tt code pre blockquote img h1 h2 h3 h4 "
    "h5 h6 ul ol li dl dt dd".split()
)

# subtrees the reference's Cleaner KILLS rather than unwraps: script /
# style (scripts+style=True), form controls (forms=True) and embedded
# content (embedded/frames=True kill applet/object/embed/iframe)
_ARTICLE_HTML_KILL = frozenset(
    "script style form button input select textarea applet object "
    "embed iframe frame frameset".split()
)

# lxml.html.defs.safe_attrs — the Cleaner's safe_attrs_only=True default
_SAFE_ATTRS = frozenset(
    "abbr accept accept-charset accesskey action align alt axis border "
    "cellpadding cellspacing char charoff charset checked cite class "
    "clear cols colspan color compact coords datetime dir disabled "
    "enctype for frame headers height href hreflang hspace id ismap "
    "label lang longdesc maxlength media method multiple name nohref "
    "noshade nowrap prompt readonly rel rev rows rowspan rules scope "
    "selected shape size span src start summary tabindex target title "
    "type usemap valign value vspace width".split()
)

_SCRIPT_SCHEMES = ("javascript:", "vbscript:")


def _sanitize_attrs(el: Element) -> None:
    """safe_attrs_only + javascript=True attribute behavior: drop
    attributes outside lxml's safe set (on* handlers, style, data-*)
    and neutralize script-scheme URLs in href/src."""
    attrib = el.attrib
    for key in list(attrib):
        if key.lower() not in _SAFE_ATTRS:
            del attrib[key]
            continue
        if key.lower() in ("href", "src"):
            # scheme check ignores embedded whitespace/control chars the
            # way browsers do ("java\tscript:" is still live)
            value = "".join((attrib[key] or "").split()).lower()
            if any(value.startswith(s) for s in _SCRIPT_SCHEMES):
                del attrib[key]


def convert_to_html(top_node: Element) -> str:
    """keep_article_html output: whitelist-clean the top node and
    serialize (Parser.clean_article_html, parsers.py:74-85 — lxml
    Cleaner with allow_tags). Parity with the Cleaner's defaults:
    script/style/comment and form/embedded subtrees are KILLED, other
    non-allowed tags unwrap keeping content, surviving elements keep
    only safe_attrs and never a script-scheme href/src."""
    from ..dom import drop_tree, iter_comments, node_to_html

    node = top_node.copy_subtree()
    node.tail = None
    # kill via drop_tree (tail text splices to the previous sibling /
    # parent, lxml Cleaner semantics) — plain remove() would silently
    # drop article text trailing a killed <iframe>/<form>/<script>
    for el in list(node.iterdescendants()):
        if el.tag in _ARTICLE_HTML_KILL:
            if el.getparent() is not None:
                drop_tree(el)
    for c in list(iter_comments(node)):
        if c.getparent() is not None:
            drop_tree(c)
    changed = True
    while changed:
        changed = False
        for el in list(node.iterdescendants()):
            if (
                isinstance(el.tag, str)
                and el.tag not in _ARTICLE_HTML_ALLOW
                and el.getparent() is not None
            ):
                drop_tag(el)
                changed = True
    for el in node.iterdescendants():
        if isinstance(el.tag, str):
            _sanitize_attrs(el)
    if isinstance(node.tag, str) and node.tag not in _ARTICLE_HTML_ALLOW:
        node.tag = "div"  # lxml Cleaner keeps a root container
    _sanitize_attrs(node)
    return node_to_html(node, with_tail=False)


def convert_to_text(top_node: Element) -> str:
    txts = []
    for node in list(top_node):
        try:
            txt = get_text(node)
        except ValueError:
            txt = None
        if txt:
            txt = unescape(txt)
            txt_lis = inner_trim(txt).split(_LITERAL_NL)
            txt_lis = [n.strip(" ") for n in txt_lis]
            txts.extend(txt_lis)
    return "\n\n".join(txts)


def add_newline_to_br(top_node: Element) -> None:
    for e in find_by_tag(top_node, tag="br"):
        e.text = _LITERAL_NL


def add_newline_to_li(top_node: Element) -> None:
    for e in find_by_tag(top_node, tag="ul"):
        li_list = find_by_tag(e, tag="li")
        for li in li_list[:-1]:
            li.text = get_text(li) + _LITERAL_NL
            for c in list(li):
                remove_keep_tail(c)


def links_to_text(top_node: Element) -> None:
    strip_tags(top_node, "a")


def remove_negativescores_nodes(top_node: Element) -> None:
    for item in css_select(top_node, "*[gravityScore]"):
        score = item.attrib.get("gravityScore")
        score = float(score) if score else 0
        if score < 1:
            parent = item.getparent()
            if parent is not None:
                parent.remove(item)


def replace_with_text(top_node: Element) -> None:
    strip_tags(top_node, "b", "strong", "i", "br", "sup")


def remove_empty_tags(top_node: Element) -> None:
    all_nodes = find_by_tags(top_node, ["*"])
    all_nodes.reverse()
    for el in all_nodes:
        tag = el.tag
        text = get_text(el)
        if (
            (tag != "br" or text != "\\r")
            and not text
            and len(find_by_tags(el, ("object", "embed"))) == 0
        ):
            remove_keep_tail(el)


def remove_trailing_media_div(top_node: Element) -> None:
    NON_MEDIA_CLASSES = ("zn-body__read-all",)

    def get_depth(node, depth=1):
        children = list(node)
        if not children:
            return depth
        max_depth = 0
        for c in children:
            e_depth = get_depth(c, depth + 1)
            if e_depth > max_depth:
                max_depth = e_depth
        return max_depth

    top_level_nodes = list(top_node)
    if len(top_level_nodes) < 3:
        return
    last_node = top_level_nodes[-1]
    if last_node.attrib.get("class") in NON_MEDIA_CLASSES:
        return
    if get_depth(last_node) >= 2:
        remove_keep_tail(last_node)
