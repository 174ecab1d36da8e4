"""Metadata extraction: title, authors, dates, meta tags, canonical,
tags, images, videos.

Re-expression of ContentExtractor's metadata surface
(/root/reference/newspaper/extractors.py:72-571) over the stdlib DOM.
All functions take the *uncleaned* document (Article.parse runs the
metadata pass on ``clean_doc`` before DocumentCleaner touches the body
tree, article.py:229-268).
"""
from __future__ import annotations

import re
from collections import defaultdict
from urllib.parse import urljoin, urlparse, urlunparse

from dateutil.parser import parse as date_parser

from ..dom import (
    Element,
    css_select,
    find_by_tag,
    find_by_tags,
)
from ..dom.select import _UPPER_TO_LOWER, parsed_selector
from .scorer import get_text
from .urlutils import STRICT_DATE_REGEX

RE_LANG = r"^[A-Za-z]{2}$"

# the reference's MOTLEY_REPLACEMENT targets the literal string
# '&#65533;' AFTER libxml2 has already decoded numeric refs — i.e. it
# never matches and the decoded U+FFFD stays in titles. Mirror the
# literal-string replace for exact parity.
_MOTLEY = "&#65533;"
A_REL_TAG_SELECTOR = "a[rel=tag]"
A_HREF_TAG_SELECTOR = (
    "a[href*='/tag/'], a[href*='/tags/'], a[href*='/topic/'], a[href*='?keyword=']"
)

_PIPE_SPLITTER = re.compile(r"\|")
_DASH_SPLITTER = re.compile(r" - ")
_UNDERSCORE_SPLITTER = re.compile(r"_")
_SLASH_SPLITTER = re.compile(r"/")
_ARROWS_SPLITTER = re.compile(r" » ")

_TITLE_FILTER = re.compile(r"[^一-龥a-zA-Z0-9\ ]")
_HINT_FILTER = re.compile(r"[^a-zA-Z0-9\ ]")


# ---------------------------------------------------------------------------
# authors (extractors.py:72-160)
# ---------------------------------------------------------------------------

_DIGITS = re.compile(r"\d")


_BYLINE_TAGS = re.compile("<[^<]+?>")
_BYLINE_PREFIX = re.compile(r"[bB][yY][\:\s]|[fF]rom[\:\s]")
_NAME_BOUNDARY = re.compile(r"[^\w\'\-\.]")


def _parse_byline(raw: str) -> list:
    """Split one byline string into author names.

    Same grammar as the reference's byline parser
    (/root/reference/newspaper/extractors.py:94-134): drop markup and a
    leading By:/From:, then cut the token stream at 'and' / ',' /
    empty-token boundaries. Digit-bearing tokens are discarded; the
    trailing fragment only counts as a name when it has ≥2 words.
    """
    text = _BYLINE_TAGS.sub("", raw)
    text = _BYLINE_PREFIX.sub("", text).strip()

    names: list = []
    pending: list = []

    def flush(min_words: int = 1):
        if len(pending) >= min_words:
            names.append(" ".join(pending))
        pending.clear()

    for tok in (t.strip() for t in _NAME_BOUNDARY.split(text)):
        if tok in ("and", ",", ""):
            flush()
        elif not _DIGITS.search(tok):
            pending.append(tok)
    flush(min_words=2)
    return names


def get_authors(doc: Element) -> list:
    ATTRS = ["name", "rel", "itemprop", "class", "id"]
    VALS = ["author", "byline", "dc.creator", "byl"]
    from ..dom.select import find_attr_contains_multi

    specs = [(attr, val) for attr in ATTRS for val in VALS]
    matches = []
    authors = []
    for bucket in find_attr_contains_multi(doc, specs):
        matches.extend(bucket)
    for match in matches:
        content = ""
        if match.tag == "meta":
            content = match.attrib.get("content") or ""
        else:
            content = match.text_content() or ""
        if len(content) > 0:
            authors.extend(_parse_byline(content))
    # uniqify, preserve order, title-case (extractors.py:81-92)
    seen = {}
    result = []
    for item in authors:
        if item.lower() in seen:
            continue
        seen[item.lower()] = 1
        result.append(item.title())
    return result


# ---------------------------------------------------------------------------
# publish date (extractors.py:172-235)
# ---------------------------------------------------------------------------

PUBLISH_DATE_TAGS = [
    {"attribute": "property", "value": "rnews:datePublished", "content": "content"},
    {"attribute": "property", "value": "article:published_time", "content": "content"},
    {"attribute": "name", "value": "OriginalPublicationDate", "content": "content"},
    {"attribute": "itemprop", "value": "datePublished", "content": "datetime"},
    {"attribute": "property", "value": "og:published_time", "content": "content"},
    {"attribute": "name", "value": "article_date_original", "content": "content"},
    {"attribute": "name", "value": "publication_date", "content": "content"},
    {"attribute": "name", "value": "sailthru.date", "content": "content"},
    {"attribute": "name", "value": "PublishDate", "content": "content"},
    {"attribute": "pubdate", "value": "pubdate", "content": "datetime"},
    {"attribute": "name", "value": "publish_date", "content": "content"},
]


def _parse_date_str(date_str):
    if date_str:
        try:
            return date_parser(date_str)
        except (ValueError, OverflowError, AttributeError, TypeError):
            return None
    return None


def get_publishing_date(url: str, doc: Element):
    date_match = re.search(STRICT_DATE_REGEX, url or "")
    if date_match:
        datetime_obj = _parse_date_str(date_match.group(0))
        if datetime_obj:
            return datetime_obj
    from ..dom.select import find_attr_contains_multi

    specs = [(k["attribute"], k["value"]) for k in PUBLISH_DATE_TAGS]
    buckets = find_attr_contains_multi(doc, specs)
    for known, bucket in zip(PUBLISH_DATE_TAGS, buckets):
        if bucket:
            date_str = bucket[0].attrib.get(known["content"])
            datetime_obj = _parse_date_str(date_str)
            if datetime_obj:
                return datetime_obj
    # --- superset fallbacks (beyond the reference, which TODOs its
    # "strategy 3"): only reached when every reference strategy failed,
    # so reference-matching dates are never changed ---
    # (a) the same known tags but the *other* attribute (e.g. telegraph
    #     pages carry itemprop=datePublished with @content, not @datetime)
    for known, bucket in zip(PUBLISH_DATE_TAGS, buckets):
        if bucket:
            other = "content" if known["content"] == "datetime" else "datetime"
            datetime_obj = _parse_date_str(bucket[0].attrib.get(other))
            if datetime_obj:
                return datetime_obj
    # (b) <time datetime=...> attribute, then <time pubdate> text
    times = find_by_tag(doc, tag="time")
    for t in times:
        datetime_obj = _parse_date_str(t.attrib.get("datetime"))
        if datetime_obj:
            return datetime_obj
    for t in times:
        if "pubdate" in t.attrib:
            datetime_obj = _parse_date_str(get_text(t))
            if datetime_obj:
                return datetime_obj
    return None


# ---------------------------------------------------------------------------
# title (extractors.py:237-375)
# ---------------------------------------------------------------------------


def _split_title(title: str, splitter, hint=None) -> str:
    large_text_length = 0
    large_text_index = 0
    title_pieces = splitter.split(title) if title else []
    if hint:
        hint = _HINT_FILTER.sub("", hint).lower()
    for i, title_piece in enumerate(title_pieces):
        current = title_piece.strip()
        if hint and hint in _HINT_FILTER.sub("", current).lower():
            large_text_index = i
            break
        if len(current) > large_text_length:
            large_text_length = len(current)
            large_text_index = i
    title = title_pieces[large_text_index]
    return title.replace("&raquo;", "»").strip()


class MetaIndex:
    """One-walk collection of <meta> and <link> elements — the metadata
    pass queries these lists instead of re-scanning the tree (the
    reference's repeated css_select/xpath calls are the analog).

    ``metas`` follows lxml's cssselect, which translates selectors with
    ``descendant-or-self::``, so a ``<meta>`` root is in it. The lookups
    the reference makes with getElementsByTag (meta-lang, favicon,
    canonical link, the img_src link) drop the root: ``links`` never
    holds it and get_meta_lang skips it."""

    __slots__ = ("metas", "links")

    def __init__(self, doc: Element):
        self.metas = [doc] if doc.tag == "meta" else []
        self.links = []
        for node in find_by_tags(doc, ("meta", "link")):
            (self.metas if node.tag == "meta" else self.links).append(node)


def _match_meta(metas, selector: str):
    """Evaluate a 'meta[attr=val]'-style selector against the list."""
    groups = parsed_selector(selector)
    out = []
    for node in metas:
        for chain in groups:
            if chain[-1].matches(node):
                out.append(node)
                break
    return out


def get_meta_content(doc: Element, metaname: str, index: MetaIndex) -> str:
    meta = _match_meta(index.metas, metaname)
    content = None
    if meta:
        content = meta[0].attrib.get("content")
    if content:
        return content.strip()
    return ""


def get_title(doc: Element, index: MetaIndex) -> str:
    title = ""
    title_element = find_by_tag(doc, tag="title")
    if not title_element:
        return title
    title_text = get_text(title_element[0])
    used_delimeter = False

    title_text_h1 = ""
    title_element_h1_list = find_by_tag(doc, tag="h1") or []
    title_text_h1_list = [get_text(tag) for tag in title_element_h1_list]
    if title_text_h1_list:
        title_text_h1_list.sort(key=len, reverse=True)
        title_text_h1 = title_text_h1_list[0]
        if len(title_text_h1.split(" ")) <= 2:
            title_text_h1 = ""
        title_text_h1 = " ".join([x for x in title_text_h1.split() if x])

    title_text_fb = (
        get_meta_content(doc, 'meta[property="og:title"]', index)
        or get_meta_content(doc, 'meta[name="og:title"]', index)
        or ""
    )

    filter_title_text = _TITLE_FILTER.sub("", title_text).lower()
    filter_title_text_h1 = _TITLE_FILTER.sub("", title_text_h1).lower()
    filter_title_text_fb = _TITLE_FILTER.sub("", title_text_fb).lower()

    if title_text_h1 == title_text:
        used_delimeter = True
    elif filter_title_text_h1 and filter_title_text_h1 == filter_title_text_fb:
        title_text = title_text_h1
        used_delimeter = True
    elif (
        filter_title_text_h1
        and filter_title_text_h1 in filter_title_text
        and filter_title_text_fb
        and filter_title_text_fb in filter_title_text
        and len(title_text_h1) > len(title_text_fb)
    ):
        title_text = title_text_h1
        used_delimeter = True
    elif (
        filter_title_text_fb
        and filter_title_text_fb != filter_title_text
        and filter_title_text.startswith(filter_title_text_fb)
    ):
        title_text = title_text_fb
        used_delimeter = True

    for cond, splitter in (
        ("|" in title_text, _PIPE_SPLITTER),
        ("-" in title_text, _DASH_SPLITTER),
        ("_" in title_text, _UNDERSCORE_SPLITTER),
        ("/" in title_text, _SLASH_SPLITTER),
        (" » " in title_text, _ARROWS_SPLITTER),
    ):
        if not used_delimeter and cond:
            title_text = _split_title(title_text, splitter, title_text_h1)
            used_delimeter = True

    title = (title_text or "").replace(_MOTLEY, "")

    filter_title = _TITLE_FILTER.sub("", title).lower()
    if filter_title_text_h1 == filter_title:
        title = title_text_h1
    return title


# ---------------------------------------------------------------------------
# misc meta (extractors.py:395-567)
# ---------------------------------------------------------------------------


def _attr_contains(nodes, attr: str, value: str) -> list:
    """find_by_tag's attribute test over an index list: ASCII
    case-insensitive substring match (the reference's
    translate()+contains() xpath)."""
    low = value.lower()
    return [n for n in nodes if low in (n.attrib.get(attr) or "").translate(_UPPER_TO_LOWER)]


def get_favicon(doc: Element, index: MetaIndex) -> str:
    meta = _attr_contains(index.links, "rel", "icon")
    if meta:
        return meta[0].attrib.get("href") or ""
    return ""


def get_meta_lang(doc: Element, index: MetaIndex):
    attr = doc.attrib.get("lang")
    if attr is None:
        metas = [m for m in index.metas if m is not doc]  # getElementsByTag drops the root
        for a, v in (("http-equiv", "content-language"), ("name", "lang")):
            meta = _attr_contains(metas, a, v)
            if meta:
                attr = meta[0].attrib.get("content")
                break
    if attr:
        value = attr[:2]
        if re.search(RE_LANG, value):
            return value.lower()
    return None


def get_meta_type(doc: Element, index: MetaIndex) -> str:
    return get_meta_content(doc, 'meta[property="og:type"]', index)


def get_meta_site_name(doc: Element, index: MetaIndex) -> str:
    return get_meta_content(doc, 'meta[property="og:site_name"]', index)


def get_meta_description(doc: Element, index: MetaIndex) -> str:
    return get_meta_content(doc, "meta[name=description]", index)


def get_meta_keywords(doc: Element, index: MetaIndex) -> str:
    return get_meta_content(doc, "meta[name=keywords]", index)


def get_meta_data(doc: Element, index: MetaIndex) -> dict:
    """Nested meta dict with ':'-split keys and int coercion
    (extractors.py:492-529)."""
    data = defaultdict(dict)
    for prop in index.metas:
        key = prop.attrib.get("property") or prop.attrib.get("name")
        value = prop.attrib.get("content") or prop.attrib.get("value")
        if not key or not value:
            continue
        key, value = key.strip(), value.strip()
        if value.isdigit():
            value = int(value)
        if ":" not in key:
            data[key] = value
            continue
        key = key.split(":")
        key_head = key.pop(0)
        ref = data[key_head]
        if isinstance(ref, (str, int)):
            data[key_head] = {key_head: ref}
            ref = data[key_head]
        for idx, part in enumerate(key):
            if idx == len(key) - 1:
                ref[part] = value
                break
            if not ref.get(part):
                ref[part] = dict()
            elif isinstance(ref.get(part), (str, int)):
                ref[part] = {"identifier": ref[part]}
            ref = ref[part]
    return data


def get_canonical_link(article_url: str, doc: Element, index: MetaIndex) -> str:
    links = _attr_contains(index.links, "rel", "canonical")
    canonical = links[0].attrib.get("href", "") if links else ""
    og_url = get_meta_content(doc, 'meta[property="og:url"]', index)
    meta_url = canonical or og_url or ""
    if meta_url:
        meta_url = meta_url.strip()
        parsed_meta_url = urlparse(meta_url)
        if not parsed_meta_url.hostname:
            parsed_article_url = urlparse(article_url or "")
            strip_hostname_in_meta_path = re.match(
                ".*{}(?=/)/(.*)".format(parsed_article_url.hostname),
                parsed_meta_url.path,
            )
            try:
                true_path = strip_hostname_in_meta_path.group(1)
            except AttributeError:
                true_path = parsed_meta_url.path
            meta_url = urlunparse(
                (
                    parsed_article_url.scheme,
                    parsed_article_url.hostname or "",
                    true_path,
                    "",
                    "",
                    "",
                )
            )
    return meta_url


def extract_tags(doc: Element) -> set:
    if len(list(doc)) == 0:
        return set()
    elements = css_select(doc, A_REL_TAG_SELECTOR)
    if not elements:
        elements = css_select(doc, A_HREF_TAG_SELECTOR)
        if not elements:
            return set()
    tags = []
    for el in elements:
        tag = get_text(el)
        if tag:
            tags.append(tag)
    return set(tags)


def get_img_urls(article_url: str, doc: Element) -> set:
    img_tags = find_by_tag(doc, tag="img")
    urls_ = [t.attrib.get("src") for t in img_tags if t.attrib.get("src")]
    return set(urljoin(article_url or "", u) for u in urls_)


def get_first_img_url(article_url: str, top_node: Element) -> str:
    """The top node's first ``<img src>`` in document order, made
    absolute (not an element of get_img_urls' set, whose order follows
    the string-hash seed)."""
    for t in find_by_tag(top_node, tag="img"):
        src = t.attrib.get("src")
        if src:
            return urljoin(article_url or "", src)
    return ""


_IMG_SRC_RX = re.compile("img_src|image_src", re.IGNORECASE)


def get_meta_img_url(article_url: str, doc: Element, index: MetaIndex) -> str:
    top_meta_image, try_one, try_two, try_three, try_four = [None] * 5
    try_one = get_meta_content(doc, 'meta[property="og:image"]', index) or None
    if try_one is None:
        elems = [l for l in index.links if _IMG_SRC_RX.search(l.attrib.get("rel") or "")]
        try_two = elems[0].attrib.get("href") if elems else None
        if not try_two:
            try_three = get_meta_content(doc, 'meta[name="og:image"]', index) or None
            if try_three is None:
                elems = _attr_contains(index.links, "rel", "icon")
                try_four = elems[0].attrib.get("href") if elems else None
    top_meta_image = try_one or try_two or try_three or try_four
    if top_meta_image:
        return urljoin(article_url or "", top_meta_image)
    return ""


# ---------------------------------------------------------------------------
# videos (videos/extractors.py:100-113)
# ---------------------------------------------------------------------------

VIDEOS_TAGS = ["iframe", "embed", "object", "video"]
VIDEO_PROVIDERS = ["youtube", "vimeo", "dailymotion", "kewego"]


def _provider(src):
    if src:
        for provider in VIDEO_PROVIDERS:
            if provider in src:
                return provider
    return None


def get_movies(top_node: Element) -> list:
    """Returns provider-matched video src urls from the top node."""
    movies = []
    candidates = find_by_tags(top_node, VIDEOS_TAGS)
    for candidate in candidates:
        tag = candidate.tag
        if tag in ("iframe", "embed"):
            if tag == "embed":
                parent = candidate.getparent()
                if parent is not None and parent.tag == "object":
                    continue  # handled via the object tag
            src = candidate.attrib.get("src")
            if _provider(src) is not None:
                movies.append(src)
        elif tag == "object":
            src_node = find_by_tag(candidate, tag="param", attr="name", value="movie")
            if not src_node:
                continue
            src = src_node[0].attrib.get("value")
            if _provider(src) is not None:
                movies.append(src)
    return movies
