"""HTML → Element-tree builder on stdlib ``html.parser``.

Re-creates (from scratch, no lxml) the tree-construction behavior the
reference engine relies on from ``lxml.html.fromstring``
(/root/reference/newspaper/parsers.py:59-72):

* implied <html>/<head>/<body> skeleton; head-only elements routed to
  <head> until body content starts
* libxml2-style implied <p>: character data directly inside <body> (or
  <blockquote>) opens a paragraph — this is what turns re-parsed text
  buffers into <p> candidates during div→para conversion
* HTML auto-closing (p/li/td/tr/option/...), void elements, rawtext
  (script/style) handled by html.parser's CDATA mode
* ``fromstring`` fragment unwrapping: single body child → that child,
  else body becomes <div>(block content)/<span>
"""
from __future__ import annotations

import re
from html.parser import HTMLParser

from .element import COMMENT, Element, make_comment
from .tokenizer import tokenize

VOID_ELEMENTS = frozenset(
    "area base basefont br col command embed frame hr img input isindex "
    "keygen link meta param source track wbr".split()
)

HEAD_ONLY = frozenset("title base meta link style".split())
# script/noscript may appear in either; keep them where they occur.

# Start tag X implicitly closes an open element Y: CLOSES[X] = {Y, ...}
_P_CLOSERS = frozenset(
    "address article aside blockquote center details dialog dir div dl "
    "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header "
    "hgroup hr listing main menu nav ol p plaintext pre section summary "
    "table ul xmp li dt dd".split()
)
CLOSES: dict[str, frozenset] = {}
for _t in _P_CLOSERS:
    CLOSES[_t] = frozenset(["p"])
CLOSES["li"] = frozenset(["li", "p"])
CLOSES["dt"] = frozenset(["dt", "dd", "p"])
CLOSES["dd"] = frozenset(["dt", "dd", "p"])
CLOSES["tr"] = frozenset(["tr", "td", "th", "caption", "colgroup"])
CLOSES["td"] = frozenset(["td", "th", "caption", "colgroup"])
CLOSES["th"] = frozenset(["td", "th", "caption", "colgroup"])
CLOSES["thead"] = frozenset(["tr", "td", "th", "tbody", "caption", "colgroup"])
CLOSES["tfoot"] = frozenset(["tr", "td", "th", "thead", "tbody", "caption", "colgroup"])
CLOSES["tbody"] = frozenset(
    ["tr", "td", "th", "thead", "tbody", "caption", "colgroup"]
)
CLOSES["option"] = frozenset(["option"])
CLOSES["optgroup"] = frozenset(["option", "optgroup"])
CLOSES["a"] = frozenset(["a"])
CLOSES["button"] = frozenset(["button"])
CLOSES["colgroup"] = frozenset(["caption"])
CLOSES["caption"] = frozenset(["tr", "td", "th", "colgroup"])

# scope boundaries: the upward search for an element to auto-close stops
# here (HTML5 default scope; libxml2 behaves equivalently for the cases
# the corpus exercises — a <p> start closes an open <p> even through
# inline formatting like <i>/<b>/<a>)
_SCOPE_STOP = frozenset(
    "html table td th caption applet object marquee template".split()
)
_SCOPE_EXTRA = {
    "li": frozenset(["ul", "ol"]),
    "p": frozenset(["button"]),
}
# tags whose autoclose repeats to unwind whole table rows/sections
_REPEAT = frozenset(
    "tr td th thead tbody tfoot caption colgroup".split()
)

#: per-tag stop set, precomputed: _autoclose runs for EVERY start tag
#: that can close something (every <p> on a real page), and building
#: the _SCOPE_STOP | extra union there was a measurable allocation in
#: the parse profile.
_STOP_FOR = {
    _tag: _SCOPE_STOP | _SCOPE_EXTRA.get(_tag, frozenset()) for _tag in CLOSES
}

# contexts whose whitespace-only character data is structural, not text
_WS_SKIP = frozenset(
    "html head table thead tbody tfoot tr ul ol dl select optgroup "
    "colgroup".split()
)

_XML_DECL_RE = re.compile(r"^\<\?.*?\?\>", re.DOTALL)
_FULL_DOC_RE = re.compile(r"^\s*(<!doctype|<html)", re.IGNORECASE)


class _TreeBuilder(HTMLParser):
    """convert_charrefs is OFF: html.parser's HTML5 unescape remaps
    C1 numeric refs (&#146; → ’); libxml2 emits the literal codepoint
    (U+0092), and the golden corpus encodes libxml2's behavior."""

    def __init__(self):
        super().__init__(convert_charrefs=False)
        self.root = Element("html")
        self.head = Element("head")
        self.body = Element("body")
        self.root.append(self.head)
        self.root.append(self.body)
        self.in_body = False
        # open-element stack *below* body (body/head/html handled apart)
        self.stack: list[Element] = []
        self.saw_html_tag = False
        self.saw_body_tag = False

    # -- helpers ----------------------------------------------------
    @property
    def cur(self) -> Element:
        if self.stack:
            return self.stack[-1]
        return self.body if self.in_body else self.head

    def _append_text(self, node: Element, data: str) -> None:
        if node._children:
            last = node._children[-1]
            last.tail = (last.tail or "") + data
        else:
            node.text = (node.text or "") + data

    def _merge_attrs(self, el: Element, attrs) -> None:
        for k, v in attrs:
            if k not in el.attrib:  # first occurrence wins, like libxml2
                el.attrib[k] = v if v is not None else ""

    def _autoclose(self, tag: str) -> None:
        closers = CLOSES.get(tag)
        if not closers:
            return
        stop = _STOP_FOR[tag]
        while True:
            popped = False
            for i in range(len(self.stack) - 1, -1, -1):
                t = self.stack[i].tag
                if t in closers:
                    del self.stack[i:]
                    popped = True
                    break
                if t in stop:
                    break
            if not (popped and tag in _REPEAT):
                return

    def _enter_body(self) -> None:
        if not self.in_body:
            self.in_body = True
            self.stack = []

    # -- handlers ---------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag == "html":
            if not self.saw_html_tag:
                self.saw_html_tag = True
                self._merge_attrs(self.root, attrs)
            return
        if tag == "head":
            self._merge_attrs(self.head, attrs)
            return
        if tag == "body":
            if not self.saw_body_tag:
                self.saw_body_tag = True
                self._merge_attrs(self.body, attrs)
            self._enter_body()
            self.stack = []
            return
        if tag == "frameset":
            return

        if not self.in_body:
            if tag in HEAD_ONLY or (tag == "script" and not self.stack):
                el = Element(tag)
                self._merge_attrs(el, attrs)
                self.head.append(el)
                if tag not in VOID_ELEMENTS:
                    # rawtext/title content captured via stack
                    self.stack.append(el)
                return
            self._enter_body()

        self._autoclose(tag)
        el = Element(tag)
        self._merge_attrs(el, attrs)
        self.cur.append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        if tag in VOID_ELEMENTS:
            self.handle_starttag(tag, attrs)
            return
        self.handle_starttag(tag, attrs)
        self.handle_endtag(tag)

    def handle_endtag(self, tag):
        if tag in ("html", "frameset"):
            return
        if tag == "head":
            self.stack = []
            return
        if tag == "body":
            self._enter_body()
            self.stack = []
            return
        if tag in VOID_ELEMENTS:
            return
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray end tag: ignored (libxml2 recovery)

    def handle_data(self, data):
        if not data:
            return
        if not data.strip():
            node = self.cur
            if not self.in_body and not self.stack:
                return  # blanks between head elements
            if node.tag in _WS_SKIP:
                return
            if node.tag == "body" and not node._children and not node.text:
                return  # leading blanks in body
            self._append_text(node, data)
            return
        if not self.in_body and not self.stack:
            self._enter_body()
        node = self.cur
        if node.tag in ("body", "blockquote"):
            # libxml2 htmlCheckParagraph: chars in body imply a <p>
            p = Element("p")
            node.append(p)
            self.stack.append(p)
            node = p
        self._append_text(node, data)

    def handle_charref(self, name):
        # numeric refs: literal codepoint, no HTML5 C1 remapping
        try:
            cp = int(name[1:], 16) if name[:1] in ("x", "X") else int(name)
            if 0 < cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
                self.handle_data(chr(cp))
            else:
                self.handle_data("�")
        except ValueError:
            self.handle_data("&#%s;" % name)

    def handle_entityref(self, name):
        from html.entities import html5
        # HTML4/5 named entities (libxml2 knows the HTML4 set); unknown
        # names stay literal, as libxml2 leaves them
        ch = html5.get(name + ";")
        if ch is not None:
            self.handle_data(ch)
        else:
            self.handle_data("&%s;" % name)

    def handle_comment(self, data):
        c = make_comment(data)
        if not self.in_body and not self.stack:
            self.head.append(c)
        else:
            self.cur.append(c)

    def handle_decl(self, decl):
        pass

    def unknown_decl(self, data):
        pass

    def handle_pi(self, data):
        pass


def parse_document(html: str) -> Element | None:
    """Parse an HTML string into an <html> root, or None on hard failure
    (mirrors Parser.fromstring returning None, parsers.py:59-72)."""
    if html is None:
        return None
    if html.startswith("<?"):
        html = _XML_DECL_RE.sub("", html)
    if not html.strip():
        return None
    builder = _TreeBuilder()
    try:
        # the single-pass tokenizer drives _TreeBuilder instead of
        # HTMLParser.feed (dom/tokenizer.py; tests/test_dom.py pins the
        # trees both build)
        tokenize(html, builder)
    except Exception:
        return None
    return builder.root


_BLOCK_TAGS = frozenset(
    "blockquote div p h1 h2 h3 h4 h5 h6 ul ol dl pre hr table address "
    "fieldset form noscript center dir isindex menu article aside figure "
    "figcaption footer header hgroup main nav section".split()
)


def _contains_block_level_tag(el: Element) -> bool:
    for node in el.iter():
        if isinstance(node.tag, str) and node.tag in _BLOCK_TAGS:
            return True
    return False


def fromstring(html: str) -> Element | None:
    """lxml.html.fromstring-compatible: full documents return the <html>
    root; fragments return the single body child, else the body recast
    as <div>/<span>."""
    if html is None:
        return None
    stripped = html.lstrip()
    if stripped.startswith("<?"):
        html = _XML_DECL_RE.sub("", stripped)
        stripped = html.lstrip()
    if _FULL_DOC_RE.match(html):
        return parse_document(html)
    root = parse_document(html)
    if root is None:
        return None
    body = root[1] if len(root) > 1 else None
    if body is None or body.tag != "body":
        for ch in root:
            if ch.tag == "body":
                body = ch
                break
    if body is None:
        return root
    # fragment parse: head-only elements (meta/link/title/…) were routed
    # into the implied <head> — graft them back to the front of the
    # returned content so fragment consumers (extract_meta_refresh,
    # get_feed_urls) still see them, matching lxml's body-context
    # fragment parse where such tags stay in place
    head = root[0] if len(root) > 0 and root[0].tag == "head" else None
    if head is not None:
        for pos, hc in enumerate(list(head)):
            head.remove(hc)
            hc.tail = None
            body.insert(pos, hc)
    kids = body._children
    if (
        len(kids) == 1
        and (not body.text or not body.text.strip())
        and (not kids[0].tail or not kids[0].tail.strip())
        and isinstance(kids[0].tag, str)
    ):
        el = kids[0]
        body.remove(el)
        return el
    body.tag = "div" if _contains_block_level_tag(body) else "span"
    body._parent = None
    return body
