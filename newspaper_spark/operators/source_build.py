"""Source.build() as a DataFrame lineage (SURVEY.md §3.2):

sources(url, html) → explode(category_urls) → explode(article url/title
pairs) → prepare/filter(valid_url) → left-anti seen-URL table →
dropDuplicates(url) → per-source cap (window ≤ 5000).

Every relational step is Catalyst-native; only the DOM link extraction
runs in Arrow-batched pandas UDFs. The seen-URL anti-join replaces the
reference's on-disk memoize file (utils.py:283-331); the per-source cap
replaces generate_articles(limit=5000) (source.py:329-335).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .batch import row_udf

MAX_ARTICLES_PER_SOURCE = 5000


def _category_urls(source_url, html):
    from ..kernel.source import get_category_urls

    return get_category_urls(source_url or "", html or "")


def _feed_urls(source_url, html):
    from ..kernel.source import get_feed_urls

    return get_feed_urls(source_url or "", html or "")


def _article_pairs(category_url, html):
    from ..kernel.source import category_to_article_pairs

    return category_to_article_pairs(category_url or "", html or "")


def _feed_article_urls(source_url, html):
    from ..kernel.source import feed_to_article_urls

    return feed_to_article_urls(source_url or "", html or "")


_URLS = T.ArrayType(T.StringType())
category_urls_udf = row_udf(_category_urls, _URLS, list)
feed_urls_udf = row_udf(_feed_urls, _URLS, list)
article_pairs_udf = row_udf(
    _article_pairs,
    T.ArrayType(
        T.StructType(
            [T.StructField("url", T.StringType()), T.StructField("title", T.StringType())]
        )
    ),
    list,
)
feed_article_urls_udf = row_udf(_feed_article_urls, _URLS, list)


def extract_categories(sources: DataFrame) -> DataFrame:
    """sources(source_url, html) → (source_url, category_url)."""
    return sources.select(
        "source_url",
        F.explode(
            category_urls_udf(F.col("source_url"), F.col("html"))
        ).alias("category_url"),
    )


def extract_feeds(sources: DataFrame) -> DataFrame:
    return sources.select(
        "source_url",
        F.explode(feed_urls_udf(F.col("source_url"), F.col("html"))).alias("feed_url"),
    )


def categories_to_articles(category_pages: DataFrame) -> DataFrame:
    """(source_url, category_url, html) → candidate articles."""
    pairs = category_pages.select(
        "source_url",
        F.explode(
            article_pairs_udf(F.col("category_url"), F.col("html"))
        ).alias("pair"),
    )
    return pairs.select(
        "source_url",
        F.col("pair.url").alias("url"),
        F.col("pair.title").alias("title"),
    )


def feeds_to_articles(feed_pages: DataFrame) -> DataFrame:
    urls = feed_pages.select(
        "source_url",
        F.explode(
            feed_article_urls_udf(F.col("source_url"), F.col("html"))
        ).alias("url"),
    )
    return urls.withColumn("title", F.lit(""))


def purge_and_dedup(
    candidates: DataFrame,
    seen_urls: DataFrame | None = None,
    max_per_source: int = MAX_ARTICLES_PER_SOURCE,
) -> DataFrame:
    """valid_url filter → memoize anti-join → uniq by url → per-source
    cap. seen_urls: (url) table; broadcast when small."""
    from .urlops import valid_url_udf

    out = candidates.filter(valid_url_udf(F.col("url")))
    if seen_urls is not None:
        out = out.join(F.broadcast(seen_urls.select("url")), "url", "left_anti")
    out = out.dropDuplicates(["url"])
    w = Window.partitionBy("source_url").orderBy("url")
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_per_source)
        .drop("_rn")
    )


def build_sources(
    source_pages: DataFrame,
    category_pages: DataFrame | None = None,
    feed_pages: DataFrame | None = None,
    seen_urls: DataFrame | None = None,
) -> DataFrame:
    """Full Source.build lineage. source_pages: (source_url, html);
    category_pages: (source_url, category_url, html); feed_pages:
    (source_url, feed_url, html)."""
    parts = []
    if category_pages is not None:
        parts.append(categories_to_articles(category_pages))
    if feed_pages is not None:
        parts.append(feeds_to_articles(feed_pages))
    if not parts:
        # degenerate: treat the source page itself as one category
        parts.append(
            categories_to_articles(
                source_pages.select(
                    "source_url", F.col("source_url").alias("category_url"), "html"
                )
            )
        )
    candidates = parts[0]
    for p in parts[1:]:
        candidates = candidates.unionByName(p)
    return purge_and_dedup(candidates, seen_urls)


def _page_links(html):
    from ..kernel.source import get_urls

    return get_urls(html or "", titles=True)


page_links_udf = row_udf(
    _page_links,
    T.ArrayType(
        T.StructType(
            [
                T.StructField("href", T.StringType()),
                T.StructField("anchor", T.StringType()),
            ]
        )
    ),
    list,
)


def extract_page_links(
    df: DataFrame, html_col: str = "text", key_cols=("conv_id", "turn_idx")
) -> DataFrame:
    """DOM-mode link extraction — the reference's
    ``get_urls(doc, titles=True)`` (extractors.py:591-605): every
    ``<a href>`` of the REAL DOM parse in document order with its
    anchor text, one row per link (``link_idx`` 0-based; pages with no
    hrefs emit no rows, matching the reference's ``[]``). Arrow-batched
    pandas UDF + posexplode; map-only, pages never shuffle."""
    arr = page_links_udf(F.col(html_col))
    return df.select(*key_cols, F.posexplode(arr).alias("link_idx", "l")).select(
        *key_cols,
        "link_idx",
        F.col("l.href").alias("href"),
        F.col("l.anchor").alias("anchor"),
    )


def _brand(source_url):
    from ..kernel.urlutils import extract_domain

    return extract_domain(source_url or "").domain


def _description(html):
    from ..dom.htmlparser import fromstring
    from ..kernel.metadata import MetaIndex, get_meta_description

    doc = fromstring(html or "")
    return get_meta_description(doc, MetaIndex(doc)) if doc is not None else ""


brand_udf = row_udf(_brand, T.StringType(), str)
description_udf = row_udf(_description, T.StringType(), str)


def extract_source_meta(
    sources: DataFrame, url_col: str = "source_url", html_col: str = "html"
) -> DataFrame:
    """Source-level ``brand`` + ``description`` — the reference's
    Source() constructor sets ``brand = tldextract.extract(url).domain``
    (source.py:79-82) and ``set_description`` copies the homepage's
    meta-description attribute (source.py:170-175, via
    ``get_meta_description``). Here: brand from the kernel's mini-PSL
    ``extract_domain`` (the tldextract analog — handles two-label
    public suffixes, subdomains, ports, userinfo), description from
    the REAL DOM parse + meta[name=description] first-match kernel,
    '' when absent (the reference's default); each field falls back to
    '' on its own. Two per-row pandas UDFs in one projection, planned
    as one Arrow evaluation; map-only — homepage HTML never shuffles,
    so the stage scales as a pure scan at any source count.
    """
    passthrough = [c for c in sources.columns if c != html_col]
    return sources.select(
        *passthrough,
        brand_udf(F.col(url_col)).alias("brand"),
        description_udf(F.col(html_col)).alias("description"),
    )
