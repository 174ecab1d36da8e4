"""Differential test of dom/tokenizer.py against html.parser on malformed
input: ``tokenize`` must make the handle_* calls that HTMLParser.feed +
close make, the calls _TreeBuilder turns into a tree.

Where the two are known to differ, the difference is a named case in
KNOWN_DIFFERENCES. Each case is pinned by its example, and a generated
document that differs must fall into one of them:

* attribute values (``charref_in_attribute``): compared after html.parser's
  unescaping of numeric references is applied to the tokenizer's value;
* every other case starts at a position in the document: the tail that
  feed() leaves to close(), or a marked section. The streams must agree
  on the calls html.parser makes for the text before it; the calls
  after it are not compared.

The calls _TreeBuilder ignores (declarations, processing instructions,
marked sections) are left out, runs of text are joined, and empty text
is dropped.
"""
import html as html_lib
import re
from html.parser import HTMLParser, charref

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from newspaper_spark.dom.tokenizer import _MARKED_CLOSE, tokenize

KNOWN_DIFFERENCES = {
    "charref_in_attribute": (
        "<a title='&#x80;&#1;x'>",
        "numeric references in attribute values keep their code point, as in "
        "text (libxml2); html.unescape remaps C1 references by HTML5's table "
        "and drops control and noncharacter code points"),
    "unterminated_markup_at_eof": (
        "x<?pi",
        "markup opened and never closed before EOF: html.parser emits it as "
        "text, the tokenizer drops '<?', '<!' and a last '<', and keeps the rest"),
    "bare_reference_at_eof": (
        "x &b",
        "'&' and one letter or '#' at EOF: html.parser drops the '&'"),
    "bare_charref_before_semicolon": (
        "&#; <b>x</b> &#; <i>y</i>",
        "a '&#' that starts no reference, with a ';' later: html.parser's "
        "feed() stops there, and close() emits everything after the next one "
        "as text"),
    "marked_section_end": (
        "<![CDATA[x]>y]]>z",
        "html.parser ends a CDATA-like marked section only at ']]>', the "
        "tokenizer at the first ']>'"),
    "unterminated_rawtext_at_eof": (
        "<script>x = 1",
        "script or style left open at EOF: html.parser drops its text, the "
        "tokenizer keeps it"),
}

_IGNORED = {"handle_decl", "unknown_decl", "handle_pi"}
_CALLS = ("handle_starttag", "handle_startendtag", "handle_endtag", "handle_data",
          "handle_charref", "handle_entityref", "handle_comment") + tuple(_IGNORED)


class _Recorder:
    """The builder tokenize() drives: records each call."""

    def __init__(self):
        self.calls = []
        for name in _CALLS:
            setattr(self, name, lambda *args, _name=name: self.calls.append((_name, *args)))


class _Reference(HTMLParser):
    """HTMLParser configured as _TreeBuilder is, recording each call."""

    def __init__(self):
        super().__init__(convert_charrefs=False)
        self.calls = []


for _name in _CALLS:
    setattr(_Reference, _name, lambda self, *args, _name=_name: self.calls.append((_name, *args)))


def _normalized(calls) -> list:
    out = []
    for call in calls:
        if call[0] in _IGNORED or call == ("handle_data", ""):
            continue
        if call[0] == "handle_data" and out and out[-1][0] == "handle_data":
            out[-1] = ("handle_data", out[-1][1] + call[1])
        else:
            out.append(call)
    return out


def _unescaped(value):
    """What html.unescape makes of the numeric reference to each code
    point in ``value``."""
    if value is None:
        return None
    return "".join(html_lib.unescape(f"&#{ord(c)};") for c in value)


def _same(tok, ref) -> bool:
    """Equal calls, or a start tag whose attribute values differ only by
    html.parser's unescaping of numeric references (charref_in_attribute)."""
    if tok == ref:
        return True
    return (tok[0] == ref[0] in ("handle_starttag", "handle_startendtag") and tok[1] == ref[1]
            and [n for n, _ in tok[2]] == [n for n, _ in ref[2]]
            and all(t == r or _unescaped(t) == r for (_, t), (_, r) in zip(tok[2], ref[2])))


def _starts_with(stream, prefix) -> bool:
    if not prefix:
        return True
    if len(stream) < len(prefix) or not all(map(_same, stream, prefix[:-1])):
        return False
    last, got = prefix[-1], stream[len(prefix) - 1]
    if last[0] == "handle_data":
        return got[0] == "handle_data" and got[1].startswith(last[1])
    return _same(got, last)


_MARKED_SECTION = re.compile(r"<!\[\s*([a-zA-Z]*)")
_CDATA_CLOSE = re.compile(r"]\s*]\s*>")  # html.parser's end of a CDATA-like section


def _cases(doc: str, stop: int, cdata_elem):
    """(case, position) for each known case ``doc`` may be in: the
    streams must agree on the calls html.parser makes for
    ``doc[:position]``."""
    if stop < len(doc):  # the tail feed() left to close()
        if cdata_elem:
            yield "unterminated_rawtext_at_eof", stop
        elif doc.startswith("&#", stop - 2) and not charref.match(doc, stop - 2):
            yield "bare_charref_before_semicolon", stop
        elif doc.startswith("&", stop):
            yield "bare_reference_at_eof", stop
        elif doc.startswith("<", stop):
            yield "unterminated_markup_at_eof", stop
    for m in _MARKED_SECTION.finditer(doc):
        if m.group(1).lower() in ("cdata", "temp", "ignore", "include", "rcdata"):
            ends = _CDATA_CLOSE.search(doc, m.end()), _MARKED_CLOSE.search(doc, m.end())
            if ends[0] and ends[1] and ends[0].end() != ends[1].end():
                yield "marked_section_end", m.start()
                break


def _fed(doc: str) -> list:
    """The calls HTMLParser.feed(doc) makes before close(): a prefix of
    the calls on any document that starts with ``doc``."""
    ref = _Reference()
    ref.feed(doc)
    return _normalized(ref.calls)


def _compare(doc: str) -> tuple[bool, str | None]:
    """(streams equal, the known case explaining a difference or None)."""
    rec = _Recorder()
    tokenize(doc, rec)
    tok = _normalized(rec.calls)
    ref = _Reference()
    ref.feed(doc)
    stop, cdata_elem = len(doc) - len(ref.rawdata), ref.cdata_elem
    ref.close()
    full = _normalized(ref.calls)
    if tok == full:
        return True, None
    if len(tok) == len(full) and all(map(_same, tok, full)):
        return False, "charref_in_attribute"
    for case, pos in _cases(doc, stop, cdata_elem):
        if _starts_with(tok, _fed(doc[:pos])):
            return False, case
    return False, None


@pytest.mark.parametrize("case", sorted(KNOWN_DIFFERENCES))
def test_known_difference_still_differs(case):
    """Each named case is real: its example differs, and only as named.
    When one stops differing, delete it from KNOWN_DIFFERENCES."""
    assert _compare(KNOWN_DIFFERENCES[case][0]) == (False, case)


_TEXT = st.text(alphabet=" \n\tabcXé中0123<>&#;/=!?-[]'\"", max_size=10)
_NAME = st.sampled_from(["p", "a", "div", "B", "br", "img", "title", "textarea", "x-y", "svg:g"])
_ATTR = st.builds(
    lambda name, quote, value: f"{name}={quote}{value}{quote}" if quote is not None else name,
    st.sampled_from(["href", "class", "data-x", "title", "x y", "a=b"]),
    st.sampled_from(['"', "'", "", None]),
    st.one_of(_TEXT, st.sampled_from(["&amp;", "&#x80;", "&#1;", "&#65;", "&#xD800;", "&nbsp", "&x"])))
_PIECES = st.one_of(
    _TEXT,
    st.sampled_from(["&amp;", "&amp", "&AMP;", "&nbsp;", "&nosuch;", "&ampx", "&", "&#65;", "&#65",
                     "&#x41;", "&#x80;", "&#1;", "&#0;", "&#1114112;", "&#xD800;", "&#;", "&#",
                     "&#x;", "<", ">"]),
    st.builds(  # start tags, well-formed or not
        lambda name, attrs, space, end: f"<{name}{''.join(' ' + a for a in attrs)}{space}{end}",
        _NAME, st.lists(_ATTR, max_size=3), st.sampled_from(["", " ", "\n", "/"]),
        st.sampled_from([">", "/>", "", "<"])),
    st.builds(lambda name, junk: f"</{name}{junk}>", _NAME, st.sampled_from(["", " ", " x", "\n"])),
    st.sampled_from(["</>", "</", "</ p>", "</3>", "<3", "<!x>", "<!>", "<!-->", "<!--->", "<?pi>",
                     "<!DOCTYPE html>", "<!doctype", "<?xml version='1.0'?>"]),
    st.builds(lambda body, end: f"<!--{body}{end}", _TEXT, st.sampled_from(["-->", "--!>", "->", ""])),
    st.builds(lambda body, end: f"<![CDATA[{body}{end}", _TEXT, st.sampled_from(["]]>", "]>", "", "] ]>"])),
    st.builds(  # rawtext, closed or not
        lambda name, body, end: f"<{name}>{body}{end}", st.sampled_from(["script", "style", "SCRIPT"]),
        _TEXT, st.sampled_from(["</script>", "</style>", "</SCRIPT >", "</scrip", ""])),
)


@settings(max_examples=2_000, derandomize=True, database=None, deadline=None)
@given(st.lists(_PIECES, max_size=12).map("".join))
def test_tokenizer_matches_html_parser(doc):
    equal, case = _compare(doc)
    assert equal or case in KNOWN_DIFFERENCES, doc
