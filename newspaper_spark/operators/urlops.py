"""URL-predicate operators: the reference's valid_url / prepare_url as
per-row pandas UDFs (urls.py semantics need registered-domain
splitting, which has no Column-function equivalent). A URL the kernel
cannot parse (``http://[bad/`` raises in ``urlparse``) is not valid
and prepares to ''."""
from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .batch import row_udf


def _valid_url(url):
    from ..kernel.urlutils import valid_url

    return url is not None and bool(valid_url(url))


def _prepare_url(url, source):
    from ..kernel.urlutils import prepare_url

    return prepare_url(url, source or None) if url else ""


valid_url_udf = row_udf(_valid_url, T.BooleanType(), bool)
prepare_url_udf = row_udf(_prepare_url, T.StringType(), str)


def url_blocklist_filter(df, blocklist, url_col: str = "url", id_col: str = "doc_id"):
    """Domain-suffix blocklist check (the UT1/RefinedWeb-style URL gate
    every web-corpus pipeline runs before fetching or keeping a page):
    a URL is blocked when its host, or ANY parent domain of its host,
    appears in ``blocklist``. Returns the input columns plus
    ``blocked`` and ``blocked_domain`` (the lexicographically smallest
    matching suffix, NULL when clean) so callers filter OR audit.

    Relational shape — scale-safe with a large blocklist: the host
    explodes into its O(labels) domain-suffix candidates
    (``a.b.c.com`` → a.b.c.com, b.c.com, c.com, com), which join
    against the blocklist relation; AQE broadcasts the blocklist side
    while it is small (UT1 is ~4M rows — still a broadcast-able
    dimension at executor memory, and a shuffle join keyed by suffix
    works identically beyond that). No UDF, no per-entry regex scan —
    probe cost is independent of blocklist size. ``id_col`` must be
    unique per row (it keys the hit aggregation).

    The reference has no URL blocklist (newspaper3k filters by path
    heuristics only — urls.py valid_url); this is a beyond-reference
    pipeline operator. The DuckDB oracle replays the identical
    suffix explosion relationally.
    """
    from pyspark.sql import DataFrame

    spark = df.sparkSession
    if isinstance(blocklist, DataFrame):
        bl = blocklist.select(F.col(blocklist.columns[0]).alias("blocked_domain"))
    else:
        bl = spark.createDataFrame(
            [(b,) for b in blocklist], "blocked_domain string"
        )
    bl = bl.select(F.lower("blocked_domain").alias("blocked_domain")).distinct()
    host = F.lower(F.parse_url(F.coalesce(F.col(url_col), F.lit("")), F.lit("HOST")))
    labels = F.split(host, r"\.")
    # suffix i = labels[i:] re-joined — ["a","b","com"] → a.b.com, b.com, com
    suffixes = F.transform(
        F.sequence(F.lit(1), F.size(labels)),
        lambda i: F.array_join(F.slice(labels, i, F.size(labels) - i + 1), "."),
    )
    hits = (
        df.select(F.col(id_col).alias("__bid"), F.explode(suffixes).alias("__sfx"))
        .join(bl, F.col("__sfx") == F.col("blocked_domain"))
        .groupBy("__bid")
        .agg(F.min("blocked_domain").alias("blocked_domain"))
    )
    return (
        df.join(hits, df[id_col] == hits["__bid"], "left")
        .select(
            *[df[c] for c in df.columns],
            F.col("blocked_domain").isNotNull().alias("blocked"),
            F.col("blocked_domain"),
        )
    )
