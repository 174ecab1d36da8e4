"""Kernel tests: fulltext parity on reference fixtures + operator unit
tests mirroring the reference's ContentExtractorTestCase / UrlTestCase
(tests/unit_tests.py:350-445, 525-569) on the same literal inputs."""
import pathlib

import pytest

from tests.conftest import requires_reference

DATA = pathlib.Path("/root/reference/tests/data")


# ---------------------------------------------------------------------------
# golden corpus (summary thresholds, not per-fixture, since ~20 goldens
# are sentinel failure notes — see scripts/run_corpus.py)
# ---------------------------------------------------------------------------


@requires_reference
def test_cnn_fixture_exact():
    from newspaper_spark.kernel.article import extract_article

    html = (DATA / "html" / "cnn_article.html").read_text(encoding="utf-8")
    golden = (DATA / "text" / "cnn.txt").read_text(encoding="utf-8")
    rec = extract_article(
        html,
        url="http://www.cnn.com/2013/11/27/travel/weather-thanksgiving/index.html",
    )
    assert rec["text"] == golden
    assert rec["title"] == "After storm, forecasters see smooth sailing for Thanksgiving"
    assert rec["meta_lang"] == "en"
    assert rec["meta_site_name"] == "CNN"
    assert rec["publish_date"].date().isoformat() == "2013-11-27"
    authors = set(rec["authors"])
    assert authors == {
        "Dana A. Ford", "James S.A. Corey", "Chien-Ming Wang", "Tom Watkins"
    }
    assert len(rec["images"]) == 46


@requires_reference
def test_fulltext_equals_article_text():
    """api fulltext and Article.parse agree on body text
    (unit_tests.py:232-233)."""
    from newspaper_spark.kernel.article import extract_article
    from newspaper_spark.kernel.fulltext import fulltext

    html = (DATA / "html" / "cnn_article.html").read_text(encoding="utf-8")
    assert fulltext(html) == extract_article(html)["text"]


@requires_reference
def test_golden_corpus_thresholds():
    from newspaper_spark.kernel.article import extract_article
    from newspaper_spark.kernel.urlutils import get_base_domain

    urls = [
        u.strip()
        for u in (DATA / "fulltext_url_list.txt").read_text().splitlines()
        if u.strip()
    ]
    dc = {}
    ft_fail = pd_fail = 0
    for url in urls:
        d = get_base_domain(url)
        dc[d] = dc.get(d, 0) + 1
        name = f"{d}{dc[d]}"
        html = (DATA / "html" / f"{name}.html").read_text(encoding="utf-8")
        rec = extract_article(html, url=url)
        golden = (DATA / "text" / f"{name}.txt").read_text(encoding="utf-8")
        if rec["text"] != golden:
            ft_fail += 1
        if rec["publish_date"] is None:
            pd_fail += 1
    # reference's own bars: ≤20 fulltext, ≤47 pubdate
    # (tests/unit_tests.py:142-143). Standing: 20 fulltext failures —
    # ALL of them sentinel goldens (failure notes no extractor can
    # match) — i.e. 125/145 exact, meeting the reference's pass bar.
    assert ft_fail <= 20, f"fulltext failures regressed: {ft_fail}"
    assert pd_fail <= 40, f"pubdate failures regressed: {pd_fail}"  # standing: 34


@requires_reference
@pytest.mark.parametrize(
    "html_name,txt_name,lang",
    [
        ("chinese_article", "chinese", "zh"),
        ("arabic_article", "arabic", "ar"),
        ("spanish_article", "spanish", "es"),
        ("japanese_article", "japanese", "ja"),
        ("japanese_article2", "japanese2", "ja"),
        ("thai_article", "thai", "th"),
    ],
)
def test_language_fixtures_exact(html_name, txt_name, lang):
    """All six multi-language goldens match byte-exact (the zh/ja/th/ar
    segmentation fallbacks pick the same top node as the reference's
    tokenizers on these fixtures; unit_tests.py:674-742)."""
    from newspaper_spark.kernel.fulltext import fulltext

    html = (DATA / "html" / f"{html_name}.html").read_text(encoding="utf-8")
    golden = (DATA / "text" / f"{txt_name}.txt").read_text(encoding="utf-8")
    assert fulltext(html, lang) == golden


# ---------------------------------------------------------------------------
# operator unit tests on literal inputs (ContentExtractorTestCase)
# ---------------------------------------------------------------------------


def test_get_title_simple():
    from newspaper_spark.dom import fromstring
    from newspaper_spark.kernel.metadata import MetaIndex, get_title

    doc = fromstring("<html><head><title>Test title</title></head></html>")
    assert get_title(doc, MetaIndex(doc)) == "Test title"


def test_get_title_pipe_split_prefers_h1_hint():
    from newspaper_spark.dom import fromstring
    from newspaper_spark.kernel.metadata import MetaIndex, get_title

    doc = fromstring(
        "<html><head><title>Wow thats a title | site.com</title></head>"
        "<body><h1>Wow thats a title</h1></body></html>"
    )
    assert get_title(doc, MetaIndex(doc)) == "Wow thats a title"


def test_get_title_dash_split():
    from newspaper_spark.dom import fromstring
    from newspaper_spark.kernel.metadata import MetaIndex, get_title

    doc = fromstring(
        "<html><head><title>This is a longer piece here - x</title></head></html>"
    )
    assert get_title(doc, MetaIndex(doc)) == "This is a longer piece here"


def test_canonical_link_from_rel():
    from newspaper_spark.dom import fromstring
    from newspaper_spark.kernel.metadata import MetaIndex, get_canonical_link

    doc = fromstring(
        '<html><head><link rel="canonical" href="http://x.com/a"></head></html>'
    )
    assert get_canonical_link("http://x.com/b", doc, MetaIndex(doc)) == "http://x.com/a"


def test_canonical_link_og_url_fallback():
    from newspaper_spark.dom import fromstring
    from newspaper_spark.kernel.metadata import MetaIndex, get_canonical_link

    doc = fromstring(
        '<html><head><meta property="og:url" content="http://x.com/og"></head></html>'
    )
    assert get_canonical_link("http://x.com/b", doc, MetaIndex(doc)) == "http://x.com/og"


def test_meta_img_chain():
    from newspaper_spark.dom import fromstring
    from newspaper_spark.kernel.metadata import MetaIndex, get_meta_img_url

    doc = fromstring(
        '<html><head><meta property="og:image" content="/img/a.png"></head></html>'
    )
    assert get_meta_img_url("http://x.com/p", doc, MetaIndex(doc)) == "http://x.com/img/a.png"
    doc2 = fromstring(
        '<html><head><link rel="image_src" href="/img/b.png"></head></html>'
    )
    assert get_meta_img_url("http://x.com/p", doc2, MetaIndex(doc2)) == "http://x.com/img/b.png"


def test_top_image_is_first_in_document_order_under_any_hash_seed():
    """With no meta image, top_image is the top node's first <img src>
    in document order: the same for every string-hash seed."""
    import subprocess
    import sys

    root = pathlib.Path(__file__).resolve().parent.parent
    code = (
        "from newspaper_spark.kernel.article import extract_article\n"
        "p = '<p>' + ' '.join(['The council voted on the new budget for "
        "the city and the schools'] * 6) + '.</p>'\n"
        "html = ('<html><head><title>T</title></head><body><div>' + p"
        " + '<img src=\"/a.jpg\">' + p + '<img src=\"/b.jpg\">' + p"
        " + '<img src=\"/c.jpg\">' + p + '</div></body></html>')\n"
        "r = extract_article(html, 'http://example.com/news/story.html')\n"
        "print(r['top_image'], len(r['images']))\n"
    )
    for seed in range(1, 7):
        out = subprocess.run(
            [sys.executable, "-c", code], cwd=root, capture_output=True,
            text=True, check=True, env={"PYTHONHASHSEED": str(seed)},
        ).stdout.split()
        assert out == ["http://example.com/a.jpg", "3"], (seed, out)


def test_authors_byline():
    from newspaper_spark.dom import fromstring
    from newspaper_spark.kernel.metadata import get_authors

    # note: separator must be ", " — a bare "," between names produces
    # no empty split token, so the reference itself merges the names
    # (parse_byline's docstring at extractors.py:94-99 is stale)
    doc = fromstring(
        '<html><body><div class="byline">By: '
        "<strong>Lucas Ou-Yang</strong>, <strong>Alex Smith</strong></div></body></html>"
    )
    assert get_authors(doc) == ["Lucas Ou-Yang", "Alex Smith"]


def test_pubdate_from_url():
    from newspaper_spark.dom import fromstring
    from newspaper_spark.kernel.metadata import get_publishing_date

    doc = fromstring("<html><body><p>x</p></body></html>")
    d = get_publishing_date("http://x.com/2014/01/15/some-story/", doc)
    assert d is not None and (d.year, d.month, d.day) == (2014, 1, 15)


def test_pubdate_from_meta():
    from newspaper_spark.dom import fromstring
    from newspaper_spark.kernel.metadata import get_publishing_date

    doc = fromstring(
        '<html><head><meta property="article:published_time" '
        'content="2013-11-27T00:00:00Z"></head></html>'
    )
    d = get_publishing_date("http://x.com/a/b", doc)
    assert d is not None and d.year == 2013


def test_meta_data_nested():
    from newspaper_spark.dom import fromstring
    from newspaper_spark.kernel.metadata import MetaIndex, get_meta_data

    # og:image must come before og:image:width: the later flat key
    # would overwrite the nested dict (reference semantics,
    # extractors.py:518-521)
    doc = fromstring(
        '<html><head><meta property="og:image" content="http://x.com/i.png">'
        '<meta property="og:image:width" content="300">'
        '<meta name="simple" content="42"></head></html>'
    )
    md = get_meta_data(doc, MetaIndex(doc))
    assert md["simple"] == 42
    assert md["og"]["image"]["identifier"] == "http://x.com/i.png"
    assert md["og"]["image"]["width"] == 300


# ---------------------------------------------------------------------------
# URL predicate corpus (UrlTestCase, unit_tests.py:525-546)
# ---------------------------------------------------------------------------


@requires_reference
def test_url_corpus():
    from newspaper_spark.kernel.urlutils import valid_url

    lines = (DATA / "test_urls.txt").read_text().splitlines()
    wrong = []
    for line in lines:
        if not line.strip():
            continue
        label, url = line.split(" ", 1)
        truth = label == "1"
        if valid_url(url, test=True) != truth:
            wrong.append(url)
    assert not wrong, f"valid_url mismatches: {wrong}"


def test_stopword_stats():
    from newspaper_spark.kernel.text import stopword_stats

    ws = stopword_stats("this is a test of the stopword counting system", "en")
    assert ws.word_count == 9
    assert ws.stop_word_count >= 4


def test_inner_trim():
    from newspaper_spark.kernel.text import inner_trim

    assert inner_trim("  a\t\tb\n c ") == "a b c"


# ---------------------------------------------------------------------------
# nlp (keywords/summary, unit_tests.py:318-327)
# ---------------------------------------------------------------------------


@requires_reference
def test_cnn_keywords_and_summary():
    from newspaper_spark.kernel.article import extract_article
    from newspaper_spark.kernel.nlp import keyword_union, summarize

    html = (DATA / "html" / "cnn_article.html").read_text(encoding="utf-8")
    rec = extract_article(html)
    kws = set(keyword_union(rec["title"], rec["text"]))
    assert kws == {
        "balloons", "delays", "flight", "forecasters", "good", "sailing",
        "smooth", "storm", "thanksgiving", "travel", "weather", "winds",
        "york",
    }
    summary = summarize(title=rec["title"], text=rec["text"], max_sents=5)
    golden = (DATA / "text" / "cnn_summary.txt").read_text(encoding="utf-8")
    assert summary == golden


def test_split_sentences_initials():
    from newspaper_spark.kernel.nlp import split_sentences

    s = split_sentences(
        "Winds at John F. Kennedy airport were strong. Flights were delayed for hours."
    )
    assert s == [
        "Winds at John F. Kennedy airport were strong.",
        "Flights were delayed for hours.",
    ]


def test_meta_root_follows_css_for_meta_getters_only():
    """A page that is one <meta> parses to that element. cssselect's
    descendant-or-self:: sees it, getElementsByTag drops it."""
    from newspaper_spark.dom import fromstring
    from newspaper_spark.kernel.article import extract_article
    from newspaper_spark.kernel.metadata import (
        MetaIndex,
        get_canonical_link,
        get_favicon,
        get_meta_data,
        get_meta_description,
        get_meta_lang,
    )

    html = '<meta name="description" content="x">'
    doc = fromstring(html)
    assert doc.tag == "meta"
    index = MetaIndex(doc)
    assert get_meta_description(doc, index) == "x"
    assert get_meta_data(doc, index) == {"description": "x"}
    rec = extract_article(html)
    assert rec["meta_description"] == "x" and rec["meta_data_json"] == '{"description": "x"}'

    lang = fromstring('<meta http-equiv="content-language" content="de">')
    assert get_meta_lang(lang, MetaIndex(lang)) is None
    link = fromstring('<link rel="canonical icon" href="http://x.com/a">')
    assert get_canonical_link("", link, MetaIndex(link)) == ""
    assert get_favicon(link, MetaIndex(link)) == ""


@pytest.mark.parametrize("html", [
    '<html><body class="page comments-open"><p>{}</p></body></html>',
    '<html><body><article class="post tags-news" id="footer"><p>{}</p></article></body></html>',
])
def test_cleaner_matches_after_body_and_article_attrs_are_popped(html):
    """The reference pops the first body's class and every article's
    id/name/class before the naughty and pattern removals, so neither
    can take the page with it; a naughty node elsewhere still goes."""
    from newspaper_spark.dom import fromstring, outer_html
    from newspaper_spark.kernel.article import extract_article
    from newspaper_spark.kernel.cleaner import clean_document

    para = "The council said that it would vote on the plan for the river next week. " * 4
    html = html.format(para) + '<div class="footer">Footer text</div>'
    cleaned = outer_html(clean_document(fromstring(html)))
    assert "comments-open" not in cleaned and "tags-news" not in cleaned
    assert para.strip() in cleaned and "Footer text" not in cleaned
    assert extract_article(html)["text"] == para.strip()


@requires_reference
def test_cnn_meta_data_deep_equality():
    """Deep meta_data dict parity (reference unit_tests.py:255-301)."""
    from newspaper_spark.dom import fromstring
    from newspaper_spark.kernel.metadata import MetaIndex, get_meta_data, get_meta_type

    html = (DATA / "html" / "cnn_article.html").read_text(encoding="utf-8")
    doc = fromstring(html)
    index = MetaIndex(doc)
    assert get_meta_type(doc, index) == "article"
    meta = get_meta_data(doc, index)
    expected = {
        "medium": "news",
        "googlebot": "noarchive",
        "pubdate": "2013-11-27T08:36:32Z",
        "title": "After storm, forecasters see smooth sailing for Thanksgiving - CNN.com",
        "og": {
            "site_name": "CNN",
            "description": "A strong storm struck much of the eastern United States on Wednesday, complicating holiday plans for many of the 43 million Americans expected to travel.",
            "title": "After storm, forecasters see smooth sailing for Thanksgiving",
            "url": "http://www.cnn.com/2013/11/27/travel/weather-thanksgiving/index.html",
            "image": "http://i2.cdn.turner.com/cnn/dam/assets/131129200805-01-weather-1128-story-top.jpg",
            "type": "article",
        },
        "section": "travel",
        "author": "Dana A. Ford, James S.A. Corey, Chien-Ming Wang, and Tom Watkins, CNN",
        "robots": "index,follow",
        "vr": {"canonical": "http://edition.cnn.com/2013/11/27/travel/weather-thanksgiving/index.html"},
        "source": "CNN",
        "fb": {"page_id": 18793419640, "app_id": 80401312489},
        "keywords": "winter storm,holiday travel,Thanksgiving storm,Thanksgiving winter storm",
        "article": {"publisher": "https://www.facebook.com/cnninternational"},
        "lastmod": "2013-11-28T02:03:23Z",
        "twitter": {
            "site": {"identifier": "@CNNI", "id": 2097571},
            "card": "summary",
            "creator": {"identifier": "@cnntravel", "id": 174377718},
        },
        "viewport": "width=1024",
        "news_keywords": "winter storm,holiday travel,Thanksgiving storm,Thanksgiving winter storm",
    }
    assert dict(meta) == expected
    # 5 nested dicts + 12 string leaves at top level (unit_tests.py:297-301)
    assert sum(isinstance(v, dict) for v in meta.values()) == 5
    assert sum(isinstance(v, str) for v in meta.values()) == 12


@requires_reference
def test_prepare_url_corpus():
    """tests/data/test_prepare_urls.txt: '<expected> <url> <source>'
    triples (reference unit_tests.py:574-587)."""
    from newspaper_spark.kernel.urlutils import prepare_url

    lines = (DATA / "test_prepare_urls.txt").read_text().splitlines()
    for line in lines:
        if not line.strip():
            continue
        expected, url, source = line.split(" ")
        assert prepare_url(url, source) == expected, line


@requires_reference
def test_pubdate_url_corpus():
    """test_urls_pubdate.txt: STRICT_DATE_REGEX presence labels
    (reference unit_tests.py:548-569)."""
    import re

    from newspaper_spark.kernel.urlutils import STRICT_DATE_REGEX

    for line in (DATA / "test_urls_pubdate.txt").read_text().splitlines():
        if not line.strip():
            continue
        label, url = line.strip().split(" ")
        assert bool(re.search(STRICT_DATE_REGEX, url)) == bool(int(label)), url


@requires_reference
def test_article_html_whitelist():
    """keep_article_html output (outputformatters.py:50-51,79-81 via
    Parser.clean_article_html): only whitelisted tags survive."""
    import re

    from newspaper_spark.kernel.article import extract_article

    html = (DATA / "html" / "cnn_article.html").read_text(encoding="utf-8")
    rec = extract_article(html, keep_article_html=True)
    ah = rec["article_html"]
    assert len(ah) > 1000
    allowed = {
        "a", "span", "p", "br", "strong", "b", "em", "i", "tt", "code",
        "pre", "blockquote", "img", "h1", "h2", "h3", "h4", "h5", "h6",
        "ul", "ol", "li", "dl", "dt", "dd", "div",  # div = root container
    }
    tags = set(re.findall(r"</?([a-zA-Z0-9]+)", ah))
    assert tags <= allowed, tags - allowed
    # default stays off and empty
    rec2 = extract_article(html)
    assert rec2["article_html"] == ""


def test_article_html_sanitizes_attributes_and_forms():
    """lxml-Cleaner parity: on* handlers and script-scheme hrefs are
    stripped, form/embedded subtrees are killed (not unwrapped)."""
    from newspaper_spark.dom import fromstring
    from newspaper_spark.kernel.formatter import convert_to_html

    node = fromstring(
        "<div>"
        '<p onclick="evil()" class="x">Hello <a href="java\tscript:alert(1)">link</a></p>'
        '<a href="/ok" onmouseover="evil()">fine</a>'
        "<button>CLICK ME</button><textarea>typed</textarea>"
        '<img src="vbscript:boom" alt="pic">'
        "</div>"
    )
    out = convert_to_html(node)
    assert "onclick" not in out and "onmouseover" not in out
    assert "script:" not in out.lower()
    assert "CLICK ME" not in out and "typed" not in out  # killed, not unwrapped
    assert 'class="x"' in out and 'href="/ok"' in out  # safe attrs survive
    assert 'alt="pic"' in out and "vbscript" not in out


@requires_reference
def test_meta_refresh_extraction():
    """utils.py:184-204 via the meta-refresh fixtures
    (unit_tests.py:186-208)."""
    from newspaper_spark.kernel.urlutils import extract_meta_refresh

    google = (DATA / "html" / "google_meta_refresh.html").read_text(encoding="utf-8")
    target = extract_meta_refresh(google)
    assert target and "example" in target
    ap = (DATA / "html" / "ap_meta_refresh.html").read_text(encoding="utf-8")
    assert extract_meta_refresh(ap) is None  # no url= part → stay put
