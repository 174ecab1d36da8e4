"""Single-pass HTML tokenizer — a whole-input specialization of
stdlib html.parser's goahead loop: no incremental-buffer bookkeeping,
no updatepos, one dispatch loop. About 1.28× HTMLParser.feed: 0.35
vs 0.45 s to build the trees of the 400 article pages in perfbench's
job_resume input (seed 1), one process on a 4-core host.

It reuses html.parser's tolerant regexes (tagfind/attrfind/
locatestarttagend) and mirrors its recovery paths, and it makes the
handle_* calls _TreeBuilder implements. On
perfbench's generated pages it builds the same tree as HTMLParser.feed +
close (tests/test_dom.py). On malformed input its handle_* calls match
HTMLParser's except in the cases named in
tests/test_tokenizer_differential.py: markup or a bare ``&x``/``&#``
left open at EOF, unterminated script/style at EOF, a ``&#`` that starts
no reference before a later ``;``, a CDATA-like section holding ``]>``,
and C1/control numeric references (``&#x80;``) in attribute values.
"""
from __future__ import annotations

import re
from html.entities import html5 as _HTML5_ENTITIES
from html.parser import (
    attrfind_tolerant,
    charref,
    entityref,
    locatestarttagend_tolerant,
    tagfind_tolerant,
)

_INTERESTING = re.compile("[&<]")

#: fast path: '<tag>' with a pure-alnum name and no attributes — the
#: overwhelming majority of start tags on real pages (<p>, <div>, <b>…).
#: Semantically identical to the tolerant path below (tagfind would
#: match the same name, the attr loop would find nothing, end == '>'),
#: but one simple regex instead of three tolerant ones.
_SIMPLE_START = re.compile(r"<([a-zA-Z][a-zA-Z0-9]*)>")

# html.unescape's charref pattern, reused so NAMED entity semantics in
# attribute values stay identical to stdlib; numeric refs get the same
# literal-codepoint rule as _TreeBuilder.handle_charref (libxml2 emits
# the raw codepoint for C1 refs — no HTML5 remap of &#146; → ’)
_ATTR_CHARREF = re.compile(
    r"&(#[0-9]+;?|#[xX][0-9a-fA-F]+;?|[^\t\n\f <&#;]{1,32};?)"
)


def _replace_attr_charref(m) -> str:
    s = m.group(1)
    if s[0] == "#":
        body = s.rstrip(";")
        cp = int(body[2:], 16) if body[1] in ("x", "X") else int(body[1:])
        if 0 < cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
            return chr(cp)
        return "�"
    if s in _HTML5_ENTITIES:
        return _HTML5_ENTITIES[s]
    # longest historical no-semicolon prefix, as html.unescape does
    for x in range(len(s) - 1, 1, -1):
        if s[:x] in _HTML5_ENTITIES:
            return _HTML5_ENTITIES[s[:x]] + s[x:]
    return "&" + s


def _decode_attr_value(value: str) -> str:
    if "&" not in value:
        return value
    return _ATTR_CHARREF.sub(_replace_attr_charref, value)
_COMMENT_CLOSE = re.compile(r"--\s*>")
_ENDTAG = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_MARKED_CLOSE = re.compile(r"]\s*]\s*>|]\s*>")
_CDATA_ELEMS = ("script", "style")


def tokenize(rawdata: str, builder) -> None:
    n = len(rawdata)
    i = 0
    handle_data = builder.handle_data
    handle_starttag = builder.handle_starttag
    handle_endtag = builder.handle_endtag
    find = rawdata.find
    cdata_elem = None
    cdata_close = None

    while i < n:
        if cdata_elem is None:
            m = _INTERESTING.search(rawdata, i)
            j = m.start() if m else n
        else:
            m = cdata_close.search(rawdata, i)
            if m:
                j = m.start()
            else:
                j = n
        if i < j:
            handle_data(rawdata[i:j])
        i = j
        if i == n:
            break
        c = rawdata[i]
        if c == "<":
            nxt = rawdata[i + 1 : i + 2]
            if nxt and (("a" <= nxt <= "z") or ("A" <= nxt <= "Z")):
                # start tag
                sm = _SIMPLE_START.match(rawdata, i)
                if sm:
                    tag = sm.group(1).lower()
                    handle_starttag(tag, [])
                    if tag in _CDATA_ELEMS:
                        cdata_elem = tag
                        cdata_close = re.compile(r"</\s*%s" % tag, re.IGNORECASE)
                    i = sm.end()
                    continue
                m = locatestarttagend_tolerant.match(rawdata, i)
                j = m.end()
                nxtc = rawdata[j : j + 1]
                if nxtc == ">":
                    endpos = j + 1
                elif nxtc == "/":
                    if rawdata.startswith("/>", j):
                        endpos = j + 2
                    elif j > i:
                        endpos = j
                    else:
                        endpos = i + 1
                elif nxtc == "":
                    endpos = -1
                elif nxtc in (
                    "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                ):
                    endpos = -1
                elif j > i:
                    endpos = j
                else:
                    endpos = i + 1
                if endpos < 0:
                    i = _recover(rawdata, i, handle_data)
                    continue
                tm = tagfind_tolerant.match(rawdata, i + 1)
                k = tm.end()
                tag = tm.group(1).lower()
                attrs = []
                while k < endpos:
                    am = attrfind_tolerant.match(rawdata, k)
                    if not am:
                        break
                    attrname, rest, attrvalue = am.group(1, 2, 3)
                    if not rest:
                        attrvalue = None
                    elif (
                        attrvalue[:1] == "'" == attrvalue[-1:]
                        or attrvalue[:1] == '"' == attrvalue[-1:]
                    ):
                        attrvalue = attrvalue[1:-1]
                    if attrvalue:
                        attrvalue = _decode_attr_value(attrvalue)
                    attrs.append((attrname.lower(), attrvalue))
                    k = am.end()
                end = rawdata[k:endpos].strip()
                if end not in (">", "/>"):
                    handle_data(rawdata[i:endpos])
                    i = endpos
                    continue
                if end == "/>":
                    builder.handle_startendtag(tag, attrs)
                else:
                    handle_starttag(tag, attrs)
                    if tag in _CDATA_ELEMS:
                        cdata_elem = tag
                        cdata_close = re.compile(r"</\s*%s" % tag, re.IGNORECASE)
                i = endpos
            elif nxt == "/":
                # end tag (html.parser.parse_endtag semantics)
                gt = find(">", i + 1)
                if gt < 0:
                    i = _recover(rawdata, i, handle_data)
                    continue
                gtpos = gt + 1
                em = _ENDTAG.match(rawdata, i)
                if em is not None and em.end() != gtpos:
                    em = None  # matched a later '>', not this construct
                if not em:
                    if cdata_elem is not None:
                        handle_data(rawdata[i:gtpos])
                        i = gtpos
                        continue
                    nm = tagfind_tolerant.match(rawdata, i + 2)
                    if not nm:
                        if rawdata.startswith("</>", i):
                            i = i + 3
                            continue
                        # bogus comment
                        pos = find(">", i + 2)
                        if pos < 0:
                            break
                        builder.handle_comment(rawdata[i + 2 : pos])
                        i = pos + 1
                        continue
                    tagname = nm.group(1).lower()
                    gt2 = find(">", nm.end())
                    handle_endtag(tagname)
                    i = gt2 + 1 if gt2 >= 0 else n
                    continue
                elem = em.group(1).lower()
                if cdata_elem is not None and elem != cdata_elem:
                    handle_data(rawdata[i:gtpos])
                    i = gtpos
                    continue
                handle_endtag(elem)
                cdata_elem = None
                cdata_close = None
                i = gtpos
            elif rawdata.startswith("<!--", i):
                m = _COMMENT_CLOSE.search(rawdata, i + 4)
                if m:
                    builder.handle_comment(rawdata[i + 4 : m.start()])
                    i = m.end()
                else:
                    i = _recover(rawdata, i, handle_data)
            elif nxt == "?":
                gt = find(">", i + 2)
                if gt < 0:
                    break
                i = gt + 1  # handle_pi is a no-op
            elif nxt == "!":
                if rawdata.startswith("<![", i):
                    # marked section: consume to ]> (or > as recovery)
                    m = _MARKED_CLOSE.search(rawdata, i + 3)
                    if m:
                        i = m.end()
                    else:
                        i = _recover(rawdata, i, handle_data)
                elif rawdata[i : i + 9].lower() == "<!doctype":
                    gt = find(">", i + 9)
                    if gt < 0:
                        break
                    i = gt + 1
                else:
                    # bogus comment
                    pos = find(">", i + 2)
                    if pos < 0:
                        break
                    builder.handle_comment(rawdata[i + 2 : pos])
                    i = pos + 1
            elif i + 1 < n:
                handle_data("<")
                i += 1
            else:
                break
        elif cdata_elem is not None:
            # '&' has no special meaning inside script/style
            handle_data(c)
            i += 1
        elif rawdata.startswith("&#", i):
            m = charref.match(rawdata, i)
            if m:
                builder.handle_charref(m.group()[2:-1])
                k = m.end()
                if not rawdata.startswith(";", k - 1):
                    k -= 1
                i = k
            else:
                if ";" in rawdata[i:]:
                    handle_data(rawdata[i : i + 2])
                    i += 2
                else:
                    handle_data(rawdata[i:])
                    break
        else:  # '&'
            m = entityref.match(rawdata, i)
            if m:
                builder.handle_entityref(m.group(1))
                k = m.end()
                if not rawdata.startswith(";", k - 1):
                    k -= 1
                i = k
            elif i + 1 < n:
                handle_data("&")
                i += 1
            else:
                handle_data("&")
                break


def _recover(rawdata, i, handle_data):
    """html.parser's end-of-feed recovery for unterminated constructs."""
    k = rawdata.find(">", i + 1)
    if k < 0:
        k = rawdata.find("<", i + 1)
        if k < 0:
            k = i + 1
    else:
        k += 1
    handle_data(rawdata[i:k])
    return k
