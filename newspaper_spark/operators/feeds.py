"""Feed operators — the distributed analogs of the reference's feed
surface, minus the network fetch (out of scope by SURVEY design):

* :func:`feed_urls` reproduces ``ContentExtractor.get_urls(feed.rss,
  regex=True)`` — the EXACT semantics ``Source.feeds_to_articles``
  uses on every feed body (/root/reference/newspaper/extractors.py:
  607-621, source.py:255-282): strip tags with the non-greedy
  ``<[^<]+?>`` → space substitution, then regex-scrape http(s) URLs
  with the reference's character-class pattern. Faithful quirk kept:
  URLs living in ATTRIBUTES (Atom ``<link href="..."/>``) are inside
  the stripped tags and therefore invisible to this mode, exactly as
  in the reference — RSS ``<link>url</link>`` bodies survive. Pure
  Catalyst (regexp_replace + regexp_extract_all + posexplode): zero
  UDFs, map-only, no shuffle.

* :func:`parse_feed_entries` is the ``feedparser.parse(...)['entries']``
  analog behind ``newspaper.hot()`` (/root/reference/newspaper/api.py:
  59-68: trending terms = ``[item['title'] for item in entries]``) and
  the structured half of feed ingestion: a REAL stdlib
  ``xml.etree.ElementTree`` parse of each feed body (RSS 2.0 and Atom
  1.0), emitting one row per entry with title / link / published.
  One ``batch.flat_map`` stage — the XML never shuffles, entries
  fan out map-side. Malformed XML lands in the error channel
  (``error='malformed-xml'`` row with null entry fields) instead of
  failing the stage, the same contract as the media decoders.

The fetch halves (``TRENDING_URL`` GET, feed discovery crawling) stay
out of scope under no-network; these operators take the feed BODY as a
column, which is what a 100 TB crawl archive actually holds.
"""
from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .batch import flat_map

__all__ = ["FEED_URL_RE", "feed_urls", "parse_feed_entries", "parse_sitemaps", "SITEMAP_MAX_ENTRIES"]

#: the reference's raw-text URL pattern, verbatim
#: (extractors.py:617-619) — byte-identical in Java regex and RE2, so
#: the DuckDB oracle runs the same pattern
FEED_URL_RE = (
    "http[s]?://(?:[a-zA-Z]|[0-9]|[$-_@.&+]|[!*\\(\\),]|"
    "(?:%[0-9a-fA-F][0-9a-fA-F]))+"
)

#: the reference's tag-strip substitution (extractors.py:616)
_TAG_STRIP_RE = "<[^<]+?>"

_ATOM_NS = "{http://www.w3.org/2005/Atom}"


def feed_urls(
    df: DataFrame, xml_col: str = "xml", id_col: str = "feed_id"
) -> DataFrame:
    """``get_urls(regex=True)`` over a column of feed bodies: returns
    ``(id_col, url_idx, url)``, one row per scraped URL in document
    order (``url_idx`` 0-based). Feeds with no body-text URLs emit no
    rows (the reference returns ``[]``). The reference ``.strip()``s
    each match — a no-op here because the URL character class admits
    no whitespace, so no trim is applied (same bytes either way)."""
    stripped = F.regexp_replace(
        F.coalesce(F.col(xml_col), F.lit("")), _TAG_STRIP_RE, " "
    )
    urls = F.regexp_extract_all(stripped, F.lit(FEED_URL_RE), 0)
    return df.select(F.col(id_col), F.posexplode(urls).alias("url_idx", "url"))


def _xml_root(xml):
    """``(root, None)`` for a parsed XML body, or ``(None, error)``: a
    null body parses as ''; any DOCTYPE/ENTITY declaration gives
    ``'dtd-rejected'`` BEFORE the parser sees it (stdlib ET expands
    internal entities with no budget — billion-laughs DoS; no real
    feed or sitemap carries a DTD, and the literal token inside CDATA
    also rejects — a documented trade for a hostile-input corpus);
    unparseable XML gives ``'malformed-xml'``."""
    if xml is None:
        xml = ""
    up = str(xml).upper()
    if "<!DOCTYPE" in up or "<!ENTITY" in up:
        return None, "dtd-rejected"
    try:
        return ET.fromstring(xml), None
    except ET.ParseError:
        return None, "malformed-xml"


_FEED_OUTPUTS = ["fmt", "entry_idx", "title", "link", "published", "error"]


def _feed_rows(xml):
    root, err = _xml_root(xml)
    if err is None and root.tag not in ("rss", f"{_ATOM_NS}feed"):
        err = "not-a-feed"
    if err is not None:
        return [(None, None, None, None, None, err)]
    if root.tag == "rss":
        fmt = "rss"
        entries = [
            (e.findtext("title"), e.findtext("link"), e.findtext("pubDate"))
            for e in root.findall("./channel/item")
        ]
    else:
        fmt = "atom"
        entries = []
        for e in root.findall(f"{_ATOM_NS}entry"):
            link = e.find(f"{_ATOM_NS}link")
            entries.append(
                (
                    e.findtext(f"{_ATOM_NS}title"),
                    link.get("href") if link is not None else None,
                    e.findtext(f"{_ATOM_NS}updated"),
                )
            )
    if not entries:
        return [("empty", None, None, None, None, None)]
    return [(fmt, i, title, link, pub, None) for i, (title, link, pub) in enumerate(entries)]


def parse_feed_entries(
    df: DataFrame, xml_col: str = "xml", id_col: str = "feed_id"
) -> DataFrame:
    """Structured RSS 2.0 / Atom 1.0 entry parse of each feed body via
    a real ``xml.etree.ElementTree`` parse (entities unescaped, CDATA
    resolved — what feedparser gives the reference). Output: one row
    per entry ``(id_col, fmt, entry_idx, title, link, published,
    error)`` — Atom links come from ``<link href=…>``, RSS from the
    ``<link>`` element body; ``published`` is ``<pubDate>`` (RSS) /
    ``<updated>`` (Atom), passed through verbatim (no date parsing —
    the reference hands feedparser structs straight to Article()).
    A feed that parses but has no entries emits a single
    ``fmt='empty'`` row; unparseable XML emits a single
    ``error='malformed-xml'`` row; an XML root that is neither
    ``<rss>`` nor Atom ``<feed>`` emits ``error='not-a-feed'``; any
    DOCTYPE/ENTITY declaration emits ``error='dtd-rejected'`` without
    reaching the parser (see :func:`_xml_root`). The id is copied
    through as is, null included. One ``batch.flat_map`` stage."""
    return flat_map(
        df, [id_col], xml_col, _feed_rows, _FEED_OUTPUTS,
        f"{id_col} long, fmt string, entry_idx int, title string, "
        "link string, published string, error string",
    )


_SITEMAP_NS = "{http://www.sitemaps.org/schemas/sitemap/0.9}"

_SITEMAP_OUTPUTS = [
    "kind", "entry_idx", "loc", "lastmod", "changefreq", "priority", "error",
]

#: sitemaps.org hard cap — a conforming sitemap holds at most 50,000
#: URLs; anything past it is a protocol violation AND an output-bound
#: hazard (one hostile row fanning out to millions), so the parser
#: rejects rather than truncating silently.
SITEMAP_MAX_ENTRIES = 50_000


def _sitemap_rows(xml):
    root, err = _xml_root(xml)
    if err is None and root.tag == f"{_SITEMAP_NS}urlset":
        kind, child = "urlset", f"{_SITEMAP_NS}url"
    elif err is None and root.tag == f"{_SITEMAP_NS}sitemapindex":
        kind, child = "index", f"{_SITEMAP_NS}sitemap"
    else:
        return [(None, None, None, None, None, None, err or "not-a-sitemap")]
    entries = root.findall(child)
    if len(entries) > SITEMAP_MAX_ENTRIES:
        return [(None, None, None, None, None, None, "too-many-entries")]
    if not entries:
        return [(kind, None, None, None, None, None, "empty")]
    return [
        (
            kind,
            i,
            e.findtext(f"{_SITEMAP_NS}loc"),
            e.findtext(f"{_SITEMAP_NS}lastmod"),
            e.findtext(f"{_SITEMAP_NS}changefreq"),
            e.findtext(f"{_SITEMAP_NS}priority"),
            None,
        )
        for i, e in enumerate(entries)
    ]


def parse_sitemaps(
    df: DataFrame, xml_col: str = "xml", id_col: str = "site_id"
) -> DataFrame:
    """Sitemap protocol parse (sitemaps.org, the crawl-discovery
    channel robots.txt's ``Sitemap:`` directive points at): a REAL
    stdlib ElementTree parse of ``<urlset>`` (one row per ``<url>``:
    loc/lastmod/changefreq/priority, document order) and
    ``<sitemapindex>`` (one row per child ``<sitemap>``:
    loc/lastmod; kind='index'). Same hostile-input contract as
    :func:`parse_feed_entries`: DOCTYPE/ENTITY rejected BEFORE the
    parser (stdlib ET has no entity-expansion budget), malformed XML
    and non-sitemap roots land in the error channel, entry counts
    above the protocol's 50,000 cap reject (``error='too-many-
    entries'``) instead of silently truncating. priority/lastmod stay
    the document's literal TEXT (no float/date coercion — the value
    in the XML is text; coercion policy belongs to the caller).
    One ``batch.flat_map`` stage; map-only, the XML never shuffles.
    """
    return flat_map(
        df, [id_col], xml_col, _sitemap_rows, _SITEMAP_OUTPUTS,
        f"{id_col} long, kind string, entry_idx int, loc string, "
        "lastmod string, changefreq string, priority string, error string",
    )
