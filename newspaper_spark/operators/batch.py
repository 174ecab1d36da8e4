"""Per-row fault tolerance for the Python stages: one bad row yields a
default (or an error string), never a failed task.

* :func:`row_udf` — a scalar pandas UDF that applies ``fn`` to each
  row's values and falls back to a fresh ``default()`` when it raises.
* :func:`map_payloads` — a ``mapInPandas`` stage that decodes each
  binary ``payload`` into a tuple of output columns; a failed decode
  gives ``None`` in every output column plus its error text.

Both iterate column arrays (zip over the batch's values, never
``iterrows``) and build one column-oriented result per batch.
"""
from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def row_udf(fn: Callable, return_type, default: Callable):
    """Arrow pandas UDF whose row ``i`` is ``fn(*values_i)``, or
    ``default()`` if that raises. The UDF carries ``fn``'s name."""

    def batch(*cols: pd.Series) -> pd.Series:
        out = []
        for row in zip(*cols):
            try:
                out.append(fn(*row))
            except Exception:  # noqa: BLE001
                out.append(default())
        return pd.Series(out, dtype="object")

    batch.__name__ = fn.__name__
    return F.pandas_udf(batch, return_type)


def map_payloads(
    df: DataFrame, keep: list, decode: Callable, outputs: list, schema: str
) -> DataFrame:
    """``df.select(*keep, "payload")`` mapped to the ``keep`` columns
    (copied through), one column per name in ``outputs`` from
    ``decode(payload)``'s tuple, and ``error``: ``None`` on success,
    ``"<ExceptionType>: <message>"`` when the decode raised (then every
    output column is ``None``)."""
    failed = (None,) * len(outputs)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows, errs = [], []
            for payload in pdf["payload"].values:
                try:
                    rows.append(tuple(decode(payload)))
                    errs.append(None)
                except Exception as e:  # noqa: BLE001
                    rows.append(failed)
                    errs.append(f"{type(e).__name__}: {e}")
            cols = list(zip(*rows)) or [()] * len(outputs)
            out = {c: pdf[c].values for c in keep}
            out.update((name, list(col)) for name, col in zip(outputs, cols))
            out["error"] = errs
            yield pd.DataFrame(out)

    return df.select(*keep, "payload").mapInPandas(op, schema=schema)
