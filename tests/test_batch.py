"""Per-row fault tolerance of operators/batch.py's two loops, and the
convention that every Python stage but the named exceptions runs
through them."""
import ast
from pathlib import Path

import pandas as pd
from pyspark.sql import types as T

PKG = Path(__file__).resolve().parent.parent / "newspaper_spark"


def _rows(frame: pd.DataFrame) -> list:
    """The frame's rows as tuples, a missing value (pandas turns None
    into NaN in a numeric column; Arrow reads both as null) as None."""
    return list(frame.astype(object).where(frame.notna(), None).itertuples(index=False, name=None))


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


def test_row_udf_struct_return_is_a_frame_over_the_fields():
    """With a StructType return, fn's tuples (and the default's) become
    the rows of a frame whose columns are the struct's field names."""
    from newspaper_spark.operators.batch import row_udf

    struct = T.StructType(
        [T.StructField("q", T.LongType()), T.StructField("tags", T.ArrayType(T.StringType()))]
    )

    def split(x):
        return 10 // x, [str(x)] * x

    out = row_udf(split, struct, lambda: (None, [])).func(pd.Series([2, 0, 1]))
    assert list(out.columns) == ["q", "tags"]
    assert _rows(out) == [(5, ["2", "2"]), (None, []), (10, ["1"])]


class _Captured:
    """Stands in for a DataFrame: records the mapInPandas function."""

    def select(self, *cols):
        self.cols = cols
        return self

    def mapInPandas(self, op, schema):
        self.op = op
        return self


def test_flat_map_fans_out_and_falls_back_per_row():
    """flat_map's loop, run without Spark: a row gives 0, 1 or n output
    rows, each prefixed with that row's keep values; a raising row gives
    exactly one row of Nones with ``error = "Type: msg"``."""
    from newspaper_spark.operators.batch import flat_map

    def parse(n):
        if n == 3:
            raise ValueError(f"bad row {n}")
        return [(f"item{i}", i * 10, None) for i in range(n)]

    df = _Captured()
    flat_map(df, ["id", "tag"], "n", parse, ["name", "v", "error"], "unused")
    assert df.cols == ("id", "tag", "n")
    batch = pd.DataFrame({"id": [1, 2, 3, 4], "tag": ["a", "b", "c", "d"], "n": [0, 1, 3, 2]})
    [out] = list(df.op(iter([batch])))
    assert list(out.columns) == ["id", "tag", "name", "v", "error"]
    assert _rows(out) == [
        (2, "b", "item0", 0, None),
        (3, "c", None, None, "ValueError: bad row 3"),
        (4, "d", "item0", 0, None),
        (4, "d", "item1", 10, None),
    ]
    [empty] = list(df.op(iter([batch.iloc[:1]])))
    assert empty.empty and list(empty.columns) == ["id", "tag", "name", "v", "error"]


#: the files that may call pandas_udf / mapInPandas themselves: the two
#: loops, the extraction kernel's stage and the whole-batch numpy kernels
_UDF_OWNERS = {"operators/batch.py", "operators/extract.py", "operators/similarity.py"}


def test_python_stages_go_through_batch_loops():
    """No pandas_udf(...) or .mapInPandas(...) call outside the files
    that own one: every other Python stage gets its per-row fault
    policy from operators/batch.py."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in _UDF_OWNERS:
            continue
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in ("pandas_udf", "mapInPandas"):
                    offenders.append(f"{rel}:{node.lineno} {name}")
    assert offenders == []
