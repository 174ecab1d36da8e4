"""Single-document pipeline: html (+url) → flat extraction record.

Mirrors ``Article.parse()`` ordering exactly (article.py:212-311):
metadata pass over the *uncleaned* tree, meta-language re-binds the
stopword language for scoring/formatting, then the body pass (clean →
best node → videos → post_cleanup → format), then image urls. Returns a
plain dict of JSON/Arrow-friendly values — the lxml-equivalent DOM never
leaves this function (SURVEY.md §1 key insight).
"""
from __future__ import annotations

import hashlib
import json

from ..dom import fromstring
from .cleaner import clean_document
from .formatter import get_formatted
from .metadata import (
    MetaIndex,
    extract_tags,
    get_authors,
    get_canonical_link,
    get_favicon,
    get_first_img_url,
    get_img_urls,
    get_meta_data,
    get_meta_description,
    get_meta_img_url,
    get_meta_keywords,
    get_meta_lang,
    get_meta_site_name,
    get_meta_type,
    get_movies,
    get_publishing_date,
    get_title,
)
from .scorer import calculate_best_node, post_cleanup

MAX_TITLE = 200
MAX_TEXT = 100000
MAX_AUTHORS = 10

_EMPTY = {
    "title": "",
    "text": "",
    "authors": [],
    "publish_date": None,
    "meta_lang": None,
    "meta_site_name": "",
    "meta_description": "",
    "meta_keywords": [],
    "meta_favicon": "",
    "meta_type": "",
    "canonical_link": "",
    "meta_refresh_target": None,
    "tags": [],
    "meta_img": "",
    "top_image": "",
    "images": [],
    "movies": [],
    "meta_data_json": "{}",
    "article_html": "",
    "link_hash": None,
    "status": "parse_failed",
}


def _empty(status="parse_failed"):
    rec = dict(_EMPTY)
    rec["status"] = status
    return rec


def extract_article(html: str, url: str = "", keep_article_html: bool = False) -> dict:
    """Full Article.parse() equivalent on one HTML payload."""
    if not html or not isinstance(html, str):
        return _empty("no_html")
    if html.startswith("%PDF-"):
        return _empty("skipped_media")

    doc = fromstring(html)
    if doc is None:
        return _empty("parse_failed")
    # the reference deep-copies the tree so metadata can read the
    # pristine DOM after cleaning (article.py: self.clean_doc); here
    # EVERY pristine-tree reader (metadata, meta/img extraction) runs
    # BEFORE clean_document mutates the tree, so the copy is elided —
    # one full-tree copy per page saved, corpus byte-identical
    rec = _empty("ok")

    midx = MetaIndex(doc)  # one walk for all meta/link queries

    title = get_title(doc, midx)
    rec["title"] = (title or "")[:MAX_TITLE]

    authors = get_authors(doc)
    rec["authors"] = authors[:MAX_AUTHORS]

    meta_lang = get_meta_lang(doc, midx)
    rec["meta_lang"] = meta_lang
    language = meta_lang or "en"

    rec["meta_favicon"] = get_favicon(doc, midx)
    rec["meta_site_name"] = get_meta_site_name(doc, midx)
    rec["meta_description"] = get_meta_description(doc, midx)
    rec["canonical_link"] = get_canonical_link(url, doc, midx)
    # surfaced as an output column so a pipeline CAN refetch the
    # redirect target (the reference's follow_meta_refresh loop,
    # article.py:202-207, is off by default and needs network — oos)
    from .urlutils import extract_meta_refresh

    rec["meta_refresh_target"] = extract_meta_refresh(doc)
    rec["tags"] = sorted(extract_tags(doc))
    mk = get_meta_keywords(doc, midx)
    rec["meta_keywords"] = [k.strip() for k in mk.split(",")] if mk else []
    rec["meta_type"] = get_meta_type(doc, midx)
    meta_data = get_meta_data(doc, midx)
    rec["meta_data_json"] = json.dumps(meta_data, ensure_ascii=False, sort_keys=True,
                                       default=str)
    pd = get_publishing_date(url, doc)
    rec["publish_date"] = pd

    # pristine-tree image extraction must precede the body pass (see
    # above)
    meta_img = get_meta_img_url(url, doc, midx)
    rec["meta_img"] = meta_img
    imgs = get_img_urls(url, doc)

    # body pass on the (mutated) doc
    doc = clean_document(doc)
    top_node = calculate_best_node(doc, language)
    rec["top_image"] = meta_img
    if top_node is not None:
        rec["movies"] = get_movies(top_node)
        top_node = post_cleanup(top_node, language)
        # the cleaned top node's first image, read before the formatter
        # rewrites the node
        if not meta_img:
            rec["top_image"] = get_first_img_url(url, top_node)
        text, article_html = get_formatted(top_node, keep_article_html)
        rec["text"] = (text or "")[:MAX_TEXT]
        rec["article_html"] = article_html or ""

    if meta_img:
        imgs.add(meta_img)
    rec["images"] = sorted(imgs)

    # deterministic link hash: md5 of url-or-html, without the reference's
    # time.time() suffix (utils.py:57-73 — nondeterminism dropped on purpose)
    basis = (url or html).encode("utf-8", "replace")
    rec["link_hash"] = hashlib.md5(basis).hexdigest()
    return rec
