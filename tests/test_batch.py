"""Per-row fault tolerance of operators/batch.py's scalar UDF helper."""
import pandas as pd
from pyspark.sql import types as T


def test_row_udf_falls_back_per_row():
    """A raising row gets a fresh default; the other rows keep fn's value,
    and the UDF carries fn's name."""
    from newspaper_spark.operators.batch import row_udf

    def tenth_of(x):
        return [10 // x]

    udf = row_udf(tenth_of, T.ArrayType(T.LongType()), list)
    out = udf.func(pd.Series([5, 0, 2, 0]))
    assert out.tolist() == [[2], [], [5], []]
    assert out[1] is not out[3]
    assert udf.func.__name__ == "tenth_of"
