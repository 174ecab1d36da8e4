"""NLP operators: keyword extraction and extractive summary as
per-row pandas UDFs (``batch.row_udf``; Article.nlp equivalent,
article.py:372-388)."""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .batch import row_udf


def _keywords(text, lang):
    from ..kernel.nlp import keywords

    return sorted(keywords(text or "", lang or "en").keys())


def _summary(title, text, lang):
    from ..kernel.nlp import summarize

    return summarize(title=title or "", text=text or "", max_sents=5,
                     language=lang or "en")[:5000]


keywords_udf = row_udf(_keywords, T.ArrayType(T.StringType()), list)
summary_udf = row_udf(_summary, T.StringType(), str)

_NLP_TYPE = T.StructType(
    [
        T.StructField("keywords", T.ArrayType(T.StringType())),
        T.StructField("summary", T.StringType()),
    ]
)


def _nlp(title, text, lang):
    """Fused keywords+summary: one Python call that shares the
    ``keywords()`` computation ``summarize()`` would otherwise redo.
    Result-identical to the two single-column UDFs — both columns'
    kernel calls agree on ``(text, lang)`` and ``keywords()`` is
    deterministic, including the failure paths: if ``keywords()``
    raises, ``summarize()`` would raise at its own internal
    ``keywords()`` call, so the row takes both original fallbacks
    (``row_udf``'s default ``([], "")``); a raising summary alone
    falls back to ``""``."""
    from ..kernel.nlp import keywords, summarize_with_keywords

    title, text, lang = title or "", text or "", lang or "en"
    kws = keywords(text, lang)
    try:
        summary = summarize_with_keywords(title, text, kws, 5, lang)[:5000]
    except Exception:  # noqa: BLE001
        summary = ""
    return sorted(kws.keys()), summary


nlp_udf = row_udf(_nlp, _NLP_TYPE, lambda: ([], ""))

_SENT_FEATURES_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("idx", T.IntegerType()),
            T.StructField("sentence", T.StringType()),
            T.StructField("title_score", T.DoubleType()),
            T.StructField("length_score", T.DoubleType()),
            T.StructField("position_score", T.DoubleType()),
            T.StructField("sbs", T.DoubleType()),
            T.StructField("dbs", T.DoubleType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("selected", T.BooleanType()),
        ]
    )
)


def _sentence_features(title, text, lang):
    """Full sentence-scoring breakdown through the real kernel
    (split_sentences → keywords → sentence_features), plus the
    most_common(5) selection the summary actually uses."""
    from ..kernel.nlp import (
        keywords,
        score_sentences,
        sentence_features,
        split_sentences,
        split_words,
    )

    title = title or ""
    text = text or ""
    lang = lang or "en"
    sentences = split_sentences(text)
    kws = keywords(text, lang)
    title_words = split_words(title)
    feats = sentence_features(sentences, title_words, kws, lang)
    top5 = {
        idx
        for (idx, _s), _score in score_sentences(
            sentences, title_words, kws, lang
        ).most_common(5)
    }
    return [
        (
            f["idx"],
            f["sentence"],
            float(f["title_score"]),
            float(f["length_score"]),
            float(f["position_score"]),
            float(f["sbs"]),
            float(f["dbs"]),
            float(f["total"]),
            f["idx"] in top5,
        )
        for f in feats
    ]


sentence_features_udf = row_udf(_sentence_features, _SENT_FEATURES_TYPE, list)


def add_nlp(df: DataFrame, title_col="title", text_col="text", lang="en") -> DataFrame:
    # one fused Arrow crossing: the struct is materialised once as a
    # column and both fields are projected from it (one ArrowEvalPython
    # slot — plan-pinned in tests/test_plan_shapes.py)
    nlp = F.col("_nlp")
    return (
        df.withColumn("_nlp", nlp_udf(F.col(title_col), F.col(text_col), F.lit(lang)))
        .withColumns({"keywords": nlp["keywords"], "summary": nlp["summary"]})
        .drop("_nlp")
    )
