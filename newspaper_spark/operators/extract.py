"""The vectorized extraction stage: transcripts → extracted articles.

Spark-first design (SURVEY.md §2.9, §4):

* ONE scalar pandas UDF parses each HTML payload once and emits the
  full extraction struct — never N UDFs re-parsing the same HTML
  (mirrors the single ``Parser.fromstring`` in Article.parse,
  article.py:215).
* The UDF is the only Python stage; every filter/projection around it
  is a Catalyst Column expression so pushdown and pruning stay free.
  Cheap relational guards (e.g. PDF sniff) run BEFORE the UDF.
* Input column pruning: only ``text`` (+ optional url) crosses the
  Arrow boundary.
* Ordering: per north rule, output carries (conv_id, turn_idx) and any
  global materialization sorts by them; within Spark we avoid global
  sorts until the final sink.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ARTICLE_FIELDS = [
    ("title", T.StringType()),
    ("text", T.StringType()),
    ("authors", T.ArrayType(T.StringType())),
    ("publish_date", T.TimestampType()),
    ("meta_lang", T.StringType()),
    ("meta_site_name", T.StringType()),
    ("meta_description", T.StringType()),
    ("meta_keywords", T.ArrayType(T.StringType())),
    ("meta_favicon", T.StringType()),
    ("meta_type", T.StringType()),
    ("canonical_link", T.StringType()),
    ("meta_refresh_target", T.StringType()),
    ("tags", T.ArrayType(T.StringType())),
    ("meta_img", T.StringType()),
    ("top_image", T.StringType()),
    ("images", T.ArrayType(T.StringType())),
    ("movies", T.ArrayType(T.StringType())),
    ("meta_data_json", T.StringType()),
    ("article_html", T.StringType()),
    ("link_hash", T.StringType()),
    ("status", T.StringType()),
]

ARTICLE_STRUCT = T.StructType(
    [T.StructField(n, t, True) for n, t in ARTICLE_FIELDS]
)


def _normalize_ts(dt):
    """tz-aware → naive UTC; clamp un-Arrowable years."""
    if dt is None:
        return None
    try:
        if dt.tzinfo is not None:
            import datetime as _dt

            dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        if not (1678 < dt.year < 2261):  # pandas Timestamp bounds
            return None
        return dt
    except Exception:
        return None


def _extract_batch(texts: pd.Series, urls: pd.Series, flags: pd.Series) -> pd.DataFrame:
    # imported inside the worker so the kernel (and its stopword cache)
    # is a per-Python-worker singleton, not a pickled closure
    from ..kernel.article import extract_article

    # columnar accumulation: building the result as dict-of-lists is
    # ~2.8× faster end-to-end than list-of-dicts → DataFrame (measured
    # 1200 → 3340 turns/s on the sf0.1 bench)
    names = [n for n, _ in ARTICLE_FIELDS]
    cols: dict = {n: [] for n in names}
    for html, url, keep_html in zip(texts, urls, flags):
        try:
            rec = extract_article(html, url=url or "",
                                  keep_article_html=bool(keep_html))
        except Exception as e:  # per-row fault tolerance (parsers.py:62-72)
            rec = {name: None for name in names}
            rec["status"] = f"error:{type(e).__name__}"
        rec["publish_date"] = _normalize_ts(rec.get("publish_date"))
        for n in names:
            cols[n].append(rec.get(n))
    return pd.DataFrame(cols, copy=False)


@F.pandas_udf(ARTICLE_STRUCT)
def extract_article_udf(
    texts: pd.Series, urls: pd.Series, flags: pd.Series
) -> pd.DataFrame:
    return _extract_batch(texts, urls, flags)


@F.pandas_udf(T.BinaryType())
def compress_text_udf(texts: pd.Series) -> pd.Series:
    """utf-8 + zlib pack of a text column (input-prep side of the
    packed extraction path; see :func:`extract_articles_packed`)."""
    import zlib

    return pd.Series(
        [None if t is None else zlib.compress(t.encode("utf-8"), 6)
         for t in texts],
        dtype="object",
    )


@F.pandas_udf(ARTICLE_STRUCT)
def extract_article_packed_udf(
    blobs: pd.Series, urls: pd.Series, flags: pd.Series
) -> pd.DataFrame:
    import zlib

    texts = pd.Series(
        [None if b is None else zlib.decompress(bytes(b)).decode("utf-8")
         for b in blobs],
        dtype="object",
    )
    return _extract_batch(texts, urls, flags)


def extract_articles(
    df: DataFrame,
    text_col: str = "text",
    url_col: str | None = None,
    keep_cols: tuple = ("conv_id", "turn_idx", "role", "tool", "ts"),
    include_article_html: bool = False,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → one row per
    turn with the extraction struct flattened alongside the keys.

    Plan shape: [scan → ArrowEvalPython → project]. The PDF/media sniff
    (network.py:75-76 analog) is a prefix check inside the kernel; use
    ``functions.is_pdf_payload`` as a pre-filter when callers want
    skipped rows to never cross into Python at all.
    """
    url_expr = F.col(url_col) if url_col else F.lit("")
    keep = [c for c in keep_cols if c in df.columns]
    enriched = df.withColumn(
        "article",
        extract_article_udf(
            F.col(text_col), url_expr, F.lit(include_article_html)
        ),
    )
    # one star expansion, not 21 aliased field projections: the same
    # optimized plan for ~half the driver's plan-building time
    return enriched.select(*keep, "article.*")


def extract_articles_packed(
    df: DataFrame,
    packed_col: str = "text_z",
    url_col: str | None = None,
    keep_cols: tuple = ("conv_id", "turn_idx", "role", "tool", "ts"),
    include_article_html: bool = False,
) -> DataFrame:
    """:func:`extract_articles` over a zlib-compressed binary HTML
    column (pack with :func:`compress_text_udf`, or store the source
    compressed — WARC-style — in the first place).

    Rationale (BENCH.md round-5 attribution): the JVM→Python Arrow
    handoff saturates at ~1 GB/s of raw HTML regardless of core count
    and is the dominant non-scaling term at local[N]. HTML compresses
    ~10×, so shipping packed bytes moves the handoff off the critical
    path; the per-worker zlib decompress (~200 MB/s × N workers)
    scales with cores. Output is byte-identical to extract_articles
    (zlib round-trip is lossless; test_packed_extraction_equal).
    """
    url_expr = F.col(url_col) if url_col else F.lit("")
    keep = [c for c in keep_cols if c in df.columns]
    enriched = df.withColumn(
        "article",
        extract_article_packed_udf(
            F.col(packed_col), url_expr, F.lit(include_article_html)
        ),
    )
    return enriched.select(*keep, "article.*")

