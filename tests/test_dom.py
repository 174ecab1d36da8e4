"""DOM layer unit tests: parsing, text/tail semantics, ops, selectors."""
from newspaper_spark.dom import (
    css_select,
    drop_tag,
    find_by_tag,
    fromstring,
    iter_comments,
    node_to_html,
    outer_html,
    parse_document,
    remove_keep_tail,
    strip_tags,
)


def text_of(node):
    return "".join(node.itertext())


def test_basic_tree():
    doc = parse_document("<html><body><p>hello <b>world</b> tail</p></body></html>")
    body = doc[1]
    p = body[0]
    assert p.tag == "p"
    assert p.text == "hello "
    b = p[0]
    assert b.tag == "b" and b.text == "world" and b.tail == " tail"


def test_implied_p_for_body_text():
    el = fromstring("hello world")
    assert el.tag == "p"
    assert el.text == "hello world"


def test_fragment_single_element():
    el = fromstring("<div><p>x</p></div>")
    assert el.tag == "div"


def test_fragment_mixed_becomes_div_or_span():
    el = fromstring("<a href='#'>x</a> trailing text")
    # text after inline elem implies a <p> → block content → div
    assert el.tag in ("div", "span")


def test_autoclose_p():
    doc = parse_document("<body><p>one<p>two</body>")
    body = doc[1]
    assert [c.tag for c in body] == ["p", "p"]
    assert body[0].text == "one"


def test_autoclose_p_through_inline():
    # libxml2/HTML5: new <p> closes an open <p> even inside <i>
    doc = parse_document("<body><p><i x='1'><p>inner</p></i></p></body>")
    body = doc[1]
    tags = [c.tag for c in body]
    assert tags == ["p", "p"]
    assert text_of(body[1]) == "inner"


def test_li_autoclose():
    doc = parse_document("<ul><li>a<li>b</ul>")
    ul = doc[1][0]
    assert [c.tag for c in ul] == ["li", "li"]


def test_void_elements():
    doc = parse_document("<body><p>a<br>b<img src='x'>c</p></body>")
    p = doc[1][0]
    assert [c.tag for c in p] == ["br", "img"]
    assert p.text == "a"
    assert p[0].tail == "b"
    assert p[1].tail == "c"


def test_comments_kept_with_tails():
    doc = parse_document("<body><p>a<!-- c -->b</p></body>")
    p = doc[1][0]
    comments = iter_comments(doc)
    assert len(comments) == 1
    assert comments[0].tail == "b"
    # comment text not in itertext, tail is
    assert text_of(p) == "ab"


def test_charref_literal_codepoints():
    doc = parse_document("<body><p>&#146;&#133;</p></body>")
    p = doc[1][0]
    assert p.text == "\x92\x85"


def test_entityref():
    doc = parse_document("<body><p>&amp;&nbsp;&hellip;</p></body>")
    assert doc[1][0].text == "&\xa0…"


def test_drop_tag():
    doc = parse_document("<body><p>a<em>b<span>c</span></em>d</p></body>")
    p = doc[1][0]
    em = p[0]
    drop_tag(em)
    assert text_of(p) == "abcd"
    assert [c.tag for c in p] == ["span"]


def test_strip_tags():
    doc = parse_document("<body><div>x<a>y</a>z<b>w</b></div></body>")
    div = doc[1][0]
    strip_tags(div, "a", "b")
    assert text_of(div) == "xyzw"
    assert len(list(div)) == 0


def test_remove_keep_tail():
    doc = parse_document("<body><div><span>x</span>TAIL<p>y</p></div></body>")
    div = doc[1][0]
    span = div[0]
    remove_keep_tail(span)
    # tail spliced into parent text with leading space
    assert div.text == " TAIL"


def test_find_by_tag_attr_contains():
    doc = parse_document(
        '<body><div class="Author-Box">x</div><div class="foo">y</div></body>'
    )
    found = find_by_tag(doc, attr="class", value="author")
    assert len(found) == 1


def test_css_select():
    doc = parse_document(
        '<body><p><span class="dropcap big">x</span></p>'
        '<meta name="description" content="d">'
        '<a rel="tag">t</a><a href="/tags/x">u</a></body>'
    )
    assert len(css_select(doc, "p span")) == 1
    assert len(css_select(doc, "span[class~=dropcap]")) == 1
    assert len(css_select(doc, "meta[name=description]")) == 1
    assert len(css_select(doc, "a[rel=tag]")) == 1
    assert len(css_select(doc, "a[href*='/tags/']")) == 1


def test_serialize_roundtrip():
    doc = parse_document('<body><p class="x">a&amp;b<br>c</p></body>')
    p = doc[1][0]
    html = outer_html(p)
    assert html == '<p class="x">a&amp;b<br>c</p>'


def test_xml_decl_stripped():
    doc = fromstring("<?xml version='1.0'?><html><body><p>x</p></body></html>")
    assert doc is not None


def test_invalid_returns_none():
    assert fromstring("") is None
    assert fromstring("   ") is None


def test_tokenizer_builds_html_parser_trees_on_generated_pages():
    """parse_document drives _TreeBuilder with dom/tokenizer.py; the stdlib
    HTMLParser.feed + close path must build the identical tree for every
    turn of perfbench's job_resume input. Media payloads (extraction
    skips them) and the malformed-input classes the tokenizer does not
    match (see its docstring) are outside this claim."""
    from newspaper_spark.dom.htmlparser import _TreeBuilder
    from perfbench.gen import job_transcripts

    n = 0
    for seed in (1, 2, 3):
        for turn in job_transcripts(seed, 800):
            if not turn.text or turn.expected_status == "skipped_media":
                continue
            ref = _TreeBuilder()
            ref.feed(turn.text)
            ref.close()
            assert outer_html(parse_document(turn.text)) == outer_html(ref.root), (
                seed, turn.key)
            n += 1
    assert n > 2000
