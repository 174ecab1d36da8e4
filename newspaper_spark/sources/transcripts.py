"""Input-table builders.

Two deterministic sources for the transcripts table
(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp — the BASELINE.json ``input_hint`` shape):

* ``fixture_transcripts``   — the reference's 157 golden HTML fixtures
  wrapped as multi-turn conversations (FIXTURES.md §1); used for parity
  tests. Requires /root/reference (skipped elsewhere).
* ``synthetic_transcripts`` — derived from the driver's
  documents.parquet: each document's text is wrapped into a
  deterministic HTML page (title/meta/paragraphs/boilerplate), so the
  extraction pipeline has benchable input at any scale factor with no
  external data. Replication and skew knobs for bench.

All synthesis is seed-free deterministic (content-derived), no
wall-clock reads.
"""
from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EPOCH = _dt.datetime(2014, 12, 30, 0, 0, 0)

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

_REFERENCE_DATA = "/root/reference/tests/data"

_ROLES = ["user", "assistant", "tool"]


# fixtures whose golden .txt uses a different stem (the reference's
# language/cnn tests reference them explicitly, unit_tests.py:146-245,
# 674-742)
_GOLDEN_ALIASES = {
    "cnn_article": "cnn",
    "chinese_article": "chinese",
    "arabic_article": "arabic",
    "spanish_article": "spanish",
    "japanese_article": "japanese",
    "japanese_article2": "japanese2",
    "thai_article": "thai",
}


def _fixture_rows():
    """(name, html, golden_text) triples, deterministic order."""
    import pathlib

    html_dir = pathlib.Path(_REFERENCE_DATA) / "html"
    txt_dir = pathlib.Path(_REFERENCE_DATA) / "text"
    for f in sorted(html_dir.glob("*.html")):
        golden = txt_dir / (_GOLDEN_ALIASES.get(f.stem, f.stem) + ".txt")
        yield (
            f.stem,
            f.read_text(encoding="utf-8"),
            golden.read_text(encoding="utf-8") if golden.exists() else None,
        )


def fixture_transcripts(
    spark: SparkSession, turns_per_conv: int = 4
) -> tuple[DataFrame, DataFrame]:
    """Wrap reference fixtures as transcripts; returns (transcripts,
    golden_turns) with matching (conv_id, turn_idx) keys."""
    t_rows, g_rows = [], []
    for i, (name, html, golden) in enumerate(_fixture_rows()):
        conv = f"conv-{i // turns_per_conv:05d}"
        turn = i % turns_per_conv
        role = _ROLES[turn % 3]
        ts = EPOCH + _dt.timedelta(minutes=turn)
        t_rows.append((conv, turn, role, html, "browser" if role == "tool" else "", ts))
        g_rows.append((conv, turn, name, golden))
    transcripts = spark.createDataFrame(t_rows, TRANSCRIPT_SCHEMA)
    golden = spark.createDataFrame(
        g_rows, "conv_id string, turn_idx int, fixture string, expected_text string"
    )
    return transcripts, golden


# ---------------------------------------------------------------------------
# synthetic transcripts from the documents table
# ---------------------------------------------------------------------------

# The page template is built entirely with Column expressions so
# synthesis itself runs JVM-side at full speed (no Python in the loop).
_BOILER_NAV = (
    '<div class="navbar"><ul><li><a href="/news">News</a></li>'
    '<li><a href="/sports">Sports</a></li><li><a href="/about">About</a>'
    "</li></ul></div>"
)
_BOILER_FOOT = (
    '<div class="footer"><p>Copyright 2014 Example Media. '
    '<a href="/terms">Terms</a> <a href="/privacy">Privacy</a></p></div>'
)


# every synthetic paragraph opens with this stopword-dense lead-in so
# the gravity scorer has signal (documents.text is sparse word salad);
# PARA_WORDS words per paragraph. Both constants are mirrored by the
# DuckDB oracle SQL, which reconstructs the expected extraction output.
PARA_LEAD = "It was also noted that there is more to be said about this: "
PARA_WORDS = 15
# documents.text is short (~100-450 chars); repeat the paragraph block
# so synthetic pages have realistic article sizes (a few KB of body).
# Mirrored by the DuckDB oracle via repeat().
BODY_REPEAT = 16


def synthetic_html_col(text_col, title_col, lang_col, body_repeat: int = BODY_REPEAT):
    """Column expr: documents.text → full HTML page, JVM-side only.
    Paragraph breaks every PARA_WORDS words, each opened with
    PARA_LEAD; the paragraph block repeats ``body_repeat`` times."""
    paras = F.repeat(
        F.concat(
            F.lit("<p>" + PARA_LEAD),
            F.regexp_replace(
                text_col,
                r"((?:\S+ ){%d})" % PARA_WORDS,
                "$1</p><p>" + PARA_LEAD,
            ),
            F.lit("</p>"),
        ),
        body_repeat,
    )
    return F.concat(
        F.lit("<html lang=\"en\"><head><title>"),
        title_col,
        F.lit(" - Example Media</title>"),
        F.concat(F.lit('<meta name="doc-lang" content="'), lang_col, F.lit('">')),
        F.lit('<meta property="og:site_name" content="Example Media">'),
        F.lit('<meta property="article:published_time" content="2014-12-30T00:00:00Z">'),
        F.lit('<meta name="author" content="Alex Writer">'),
        F.lit("</head><body>"),
        F.lit(_BOILER_NAV),
        F.lit('<div class="article-body">'),
        paras,
        F.lit("</div>"),
        F.lit(_BOILER_FOOT),
        F.lit("</body></html>"),
    )


def synthetic_transcripts(
    spark: SparkSession,
    sf_dir: str,
    replication: int = 1,
    turns_per_conv: int = 4,
    skew_hot_fraction: float = 0.0,
) -> DataFrame:
    """documents.parquet → transcripts table.

    replication: each doc row becomes `replication` turns (conv_id
    suffixed), the bench scale-up knob (FIXTURES.md §1).
    skew_hot_fraction: fraction of turns funneled into ONE conv_id to
    exercise salting.
    """
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # longer than the " - Example Media" suffix so split_title keeps it
    title = F.concat(
        F.lit("Document number "), F.col("doc_id"), F.lit(" on data systems")
    )
    html = synthetic_html_col(F.col("text"), title, F.coalesce(F.col("lang"), F.lit("en")))
    base = docs.select(
        F.col("doc_id"),
        html.alias("text"),
    )
    if replication > 1:
        base = base.crossJoin(
            spark.range(replication).select(F.col("id").alias("rep"))
        )
    else:
        base = base.withColumn("rep", F.lit(0))
    # SQL-portable derivation (mirrored verbatim by the DuckDB oracles):
    # conv-<rep>-<doc_id/turns>, turn = doc_id % turns
    seq = F.col("doc_id").cast("long")
    conv = F.concat(
        F.lit("conv-"),
        F.col("rep").cast("string"),
        F.lit("-"),
        F.floor(seq / turns_per_conv).cast("string"),
    )
    if skew_hot_fraction > 0:
        # bench-only knob: route a deterministic slice of rows into one
        # hot conversation to exercise salting
        hot = (F.abs(F.xxhash64(F.col("doc_id"), F.col("rep"), F.lit(7))) % 100) < int(
            skew_hot_fraction * 100
        )
        conv = F.when(hot, F.lit("conv-hot")).otherwise(conv)
    turn = (seq % turns_per_conv).cast("int")
    role = F.element_at(
        F.array(*[F.lit(r) for r in _ROLES]), (turn % 3) + 1
    )
    return base.select(
        conv.alias("conv_id"),
        turn.alias("turn_idx"),
        role.alias("role"),
        F.col("text"),
        F.when(role == "tool", F.lit("browser")).otherwise(F.lit("")).alias("tool"),
        (F.lit(EPOCH) + F.make_interval(mins=turn)).alias("ts"),
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def read_transcripts(
    spark: SparkSession, path: str, format: str = "parquet"
) -> DataFrame:
    """Read a transcripts table from parquet, json (lines), or csv —
    always with the EXPLICIT transcript schema, never inference: at
    100 TB, schema inference is an extra full scan, and a drifting
    inferred type (ts as string, turn_idx as long) silently breaks
    every downstream window. CSV timestamps must be ISO-8601; both
    text formats treat missing columns as null rather than failing,
    matching spark.read's permissive mode. CSV cannot represent the
    empty-string/null distinction (an unquoted empty field reads as
    null) — downstream null-as-empty text semantics absorb that.
    """
    fmt = format.lower()
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt in ("json", "jsonl"):
        return spark.read.schema(TRANSCRIPT_SCHEMA).json(path)
    if fmt == "csv":
        return (
            spark.read.schema(TRANSCRIPT_SCHEMA)
            .option("header", "true")
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss")
            # multiLine: transcript text routinely contains newlines —
            # without it, permissive mode silently SPLITS such records
            # into corrupt rows (quoted newlines span lines on disk)
            .option("multiLine", "true")
            .csv(path)
        )
    raise ValueError(f"unsupported transcripts format: {format}")
