"""NLP operators: keyword extraction and extractive summary as
Arrow-vectorized stages (Article.nlp equivalent, article.py:372-388)."""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _keywords_batch(texts, langs):
    from ..kernel.nlp import keywords

    out = []
    for text, lang in zip(texts, langs):
        try:
            out.append(sorted(keywords(text or "", lang or "en").keys()))
        except Exception:
            out.append([])
    return pd.Series(out, dtype="object")


def _summary_batch(titles, texts, langs):
    from ..kernel.nlp import summarize

    out = []
    for title, text, lang in zip(titles, texts, langs):
        try:
            out.append(
                summarize(title=title or "", text=text or "", max_sents=5,
                          language=lang or "en")[:5000]
            )
        except Exception:
            out.append("")
    return pd.Series(out, dtype="object")


keywords_udf = F.pandas_udf(_keywords_batch, T.ArrayType(T.StringType()))
summary_udf = F.pandas_udf(_summary_batch, T.StringType())

_NLP_TYPE = T.StructType(
    [
        T.StructField("keywords", T.ArrayType(T.StringType())),
        T.StructField("summary", T.StringType()),
    ]
)


def _nlp_batch(titles, texts, langs):
    """Fused keywords+summary: one Python pass that shares the
    ``keywords()`` computation ``summarize()`` would otherwise redo per
    row. Result-identical to the two single-column UDFs — both columns'
    kernel calls agree on ``(text, lang)`` and ``keywords()`` is
    deterministic, including the failure paths: if ``keywords()``
    raises, ``summarize()`` would raise at its own internal
    ``keywords()`` call, so both columns take their original fallbacks
    (``[]`` / ``""``)."""
    from ..kernel.nlp import keywords, summarize_with_keywords

    kw_out, sum_out = [], []
    for title, text, lang in zip(titles, texts, langs):
        title = title or ""
        text = text or ""
        lang = lang or "en"
        try:
            kws = keywords(text, lang)
            kw_out.append(sorted(kws.keys()))
        except Exception:
            kws = None
            kw_out.append([])
        try:
            summary = "" if kws is None else summarize_with_keywords(title, text, kws, 5, lang)
            sum_out.append(summary[:5000])
        except Exception:
            sum_out.append("")
    return pd.DataFrame({"keywords": kw_out, "summary": sum_out})


nlp_udf = F.pandas_udf(_nlp_batch, _NLP_TYPE)

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


def _sentence_features_batch(titles, texts, langs):
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

    out = []
    for title, text, lang in zip(titles, texts, langs):
        try:
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
            out.append(
                [
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
            )
        except Exception:
            out.append([])
    return pd.Series(out, dtype="object")


sentence_features_udf = F.pandas_udf(_sentence_features_batch, _SENT_FEATURES_TYPE)


def add_nlp(df: DataFrame, title_col="title", text_col="text", lang="en") -> DataFrame:
    # one fused Arrow crossing; the struct's two fields are projected
    # out of a SINGLE UDF evaluation (equal deterministic python-UDF
    # expressions are deduplicated into one ArrowEvalPython slot —
    # plan-pinned in tests/test_plan_shapes.py)
    nlp = nlp_udf(F.col(title_col), F.col(text_col), F.lit(lang))
    return df.withColumns(
        {"keywords": nlp["keywords"], "summary": nlp["summary"]}
    )
