"""Per-row fault tolerance for the Python stages: one bad row yields a
default (or an error row), never a failed task. Every Python stage of
the operator layer runs its rows through one of these two loops, one
per Spark construct:

* :func:`row_udf` — a scalar pandas UDF that applies ``fn`` to each
  row's values and falls back to a fresh ``default()`` when it raises;
  a ``StructType`` return is built from ``fn``'s tuples. Callers:
  urlops (``valid_url_udf``, ``prepare_url_udf``), decode
  (``decode_html_udf``), normalize (``nfc_udf``), nlp_ops (keywords,
  summary, the fused keywords+summary ``nlp_udf``, sentence features)
  and source_build (the five link UDFs, brand and description).
* :func:`flat_map` — a ``mapInPandas`` stage that turns each row's
  value into zero or more output rows; a raising row gives one row of
  ``None``s carrying its error text. Callers: feeds
  (``parse_feed_entries``, ``parse_sitemaps``), sources.warc
  (``parse_warc_files``) and, through :func:`map_payloads`, the four
  multimodal decode stages.

Both iterate column arrays (zip over the batch's values, never
``iterrows``) and build one result per batch.

Outside these loops, on purpose: ``extract._extract_batch`` (the
extraction kernel's stage: its ``status = "error:Type"`` field is an
output contract and its column-wise build is the hot path),
``similarity``'s numpy kernels (they vectorise whole batches and have
no per-row fallback) and ``streaming.stateful``'s
``applyInPandasWithState`` (per-group state, not per-row).
"""
from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def row_udf(fn: Callable, return_type, default: Callable):
    """Arrow pandas UDF whose row ``i`` is ``fn(*values_i)``, or
    ``default()`` if that raises. With a ``StructType`` return type,
    ``fn`` returns a tuple over its fields. The UDF carries ``fn``'s
    name."""
    fields = return_type.fieldNames() if isinstance(return_type, T.StructType) else None

    def batch(*cols):
        out = []
        for row in zip(*cols):
            try:
                out.append(fn(*row))
            except Exception:  # noqa: BLE001
                out.append(default())
        if fields is not None:
            return pd.DataFrame.from_records(out, columns=fields)
        return pd.Series(out, dtype="object")

    batch.__name__ = fn.__name__
    return F.pandas_udf(batch, return_type)


def flat_map(
    df: DataFrame,
    keep: list,
    value: str,
    parse: Callable[..., Iterable[tuple]],
    outputs: list,
    schema: str,
) -> DataFrame:
    """``df.select(*keep, value)`` mapped to rows over ``keep`` then
    ``outputs``, whose last name is ``error``. Each input row gives the
    tuples ``parse(value)`` returns (zero or more, over ``outputs``),
    each prefixed with that row's ``keep`` values. When ``parse``
    raises, the row gives one tuple of ``None``s whose ``error`` is
    ``"<ExceptionType>: <message>"``."""
    failed = (None,) * (len(outputs) - 1)
    columns = [*keep, *outputs]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for *kept, v in zip(*(pdf[c].values for c in keep), pdf[value].values):
                try:
                    parsed = list(parse(v))
                except Exception as e:  # noqa: BLE001
                    parsed = [(*failed, f"{type(e).__name__}: {e}")]
                rows.extend((*kept, *p) for p in parsed)
            yield pd.DataFrame.from_records(rows, columns=columns)

    return df.select(*keep, value).mapInPandas(op, schema=schema)


def map_payloads(
    df: DataFrame, keep: list, decode: Callable, outputs: list, schema: str
) -> DataFrame:
    """:func:`flat_map` of the binary ``payload`` column with one row
    per input row: ``decode(payload)``'s tuple over ``outputs`` and
    ``error = None``, or ``None``s and the error text when it raised."""
    return flat_map(
        df, keep, "payload", lambda p: [(*decode(p), None)], [*outputs, "error"], schema
    )
