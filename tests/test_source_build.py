"""Crawler-layer tests: category/feed discovery kernels + the Spark
explode/filter/dedup lineage."""
from pyspark.sql import functions as F

# note: absolute same-domain links reduce to the site root — the
# reference keeps only scheme://domain for them (extractors.py:684);
# relative single-segment paths become path categories.
SOURCE_HTML = """
<html><body>
  <a href="/world">World</a>
  <a href="/politics/">Politics</a>
  <a href="/about">About us</a>
  <a href="http://other-site.com/section">Elsewhere</a>
  <a href="mailto:x@example.com">mail</a>
  <link rel="alternate" type="application/rss+xml" href="/feeds/main.rss">
</body></html>
"""

CATEGORY_HTML = """
<html><body>
  <a href="/2014/12/30/big-story-about-stuff">Big story</a>
  <a href="http://news.example.com/news/another-very-long-story-slug-here">Another</a>
  <a href="/about">About</a>
  <a href="/contact.html">Contact</a>
</body></html>
"""


def test_category_urls_kernel():
    from newspaper_spark.kernel.source import get_category_urls

    cats = get_category_urls("http://news.example.com", SOURCE_HTML)
    assert "http://news.example.com/world" in cats
    assert "http://news.example.com/politics" in cats  # trailing / stripped
    assert "http://news.example.com" in cats  # the root
    assert not any("about" in c for c in cats)
    assert not any("other-site" in c for c in cats)


def test_feed_urls_kernel():
    from newspaper_spark.kernel.source import get_feed_urls

    feeds = get_feed_urls("http://news.example.com", SOURCE_HTML)
    assert feeds == ["http://news.example.com/feeds/main.rss"]


def test_feed_regex_scrape():
    from newspaper_spark.kernel.source import feed_to_article_urls

    rss = (
        "<rss><item><link>http://news.example.com/2014/12/30/story-one</link>"
        "</item><item><link>http://spam.com/xyz</link></item></rss>"
    )
    urls = feed_to_article_urls("http://news.example.com", rss)
    assert urls == ["http://news.example.com/2014/12/30/story-one"]


def test_build_sources_pipeline(spark):
    from newspaper_spark.operators.source_build import build_sources

    sources = spark.createDataFrame(
        [("http://news.example.com", SOURCE_HTML)], "source_url string, html string"
    )
    category_pages = spark.createDataFrame(
        [
            ("http://news.example.com", "http://news.example.com/world", CATEGORY_HTML),
            # duplicate category page to exercise dropDuplicates
            ("http://news.example.com", "http://news.example.com/politics", CATEGORY_HTML),
        ],
        "source_url string, category_url string, html string",
    )
    seen = spark.createDataFrame(
        [("http://news.example.com/2014/12/30/big-story-about-stuff",)], "url string"
    )
    out = build_sources(sources, category_pages=category_pages, seen_urls=seen)
    rows = out.collect()
    urls = {r.url for r in rows}
    # the dated story was memoized-out; the /news/ slug survives, deduped
    assert urls == {"http://news.example.com/news/another-very-long-story-slug-here"}
    assert len(rows) == 1


def test_extract_categories_and_feeds_match_kernel(spark):
    """The Spark discovery stages explode exactly the kernel's lists,
    one row per url, for every source page (an empty page gives none)."""
    from newspaper_spark.kernel.source import get_category_urls, get_feed_urls
    from newspaper_spark.operators.source_build import (
        extract_categories,
        extract_feeds,
    )

    pages = [
        ("http://news.example.com", SOURCE_HTML),
        ("http://other.example.org", SOURCE_HTML),
        ("http://empty.example.net", ""),
    ]
    sources = spark.createDataFrame(pages, "source_url string, html string")
    for stage, kernel, col in (
        (extract_categories, get_category_urls, "category_url"),
        (extract_feeds, get_feed_urls, "feed_url"),
    ):
        got = sorted((r.source_url, r[col]) for r in stage(sources).collect())
        want = sorted((s, u) for s, html in pages for u in kernel(s, html))
        assert got == want and got, col
