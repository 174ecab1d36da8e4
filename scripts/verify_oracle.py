"""Local stand-in for the driver's correctness gate: runs every
queries() entry at sf0.01 and compares row-count, schema and an
order-insensitive value hash against oracle_sql() via DuckDB.

``--plans`` instead builds each query without collecting it and prints
its name, the md5 of its optimized logical plan (expression ids,
``plan_id``s and lambda-variable numbers masked) and the md5 of its
physical operator-name sequence — diff two trees' outputs to see which
plans a change moved.
"""
import hashlib
import pathlib
import re
import sys
from collections import Counter

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def norm_lines(rows, colnames):
    """Each row as one line of norm_cell values in column-name order."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)


def value_hash(rows, colnames):
    h = hashlib.md5()
    for line in norm_lines(rows, colnames):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def print_row_diff(srows, scols, orows, ocols, limit=5):
    """Up to ``limit`` normalised lines found only on each side."""
    spark_lines = Counter(norm_lines(srows, scols))
    oracle_lines = Counter(norm_lines(orows, ocols))
    for side, only in (("spark", spark_lines - oracle_lines),
                       ("oracle", oracle_lines - spark_lines)):
        lines = sorted(only.elements())
        print(f"    only in {side} ({len(lines)} lines):")
        for line in lines[:limit]:
            print(f"      {line}")


def _md5(text):
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def _mask_plan(text):
    """Plan text with its session-specific numbering masked: expression
    ids (``#12``), ``plan_id``s, and the session-wide counter PySpark
    appends to lambda variables (``lambda x_21#…``), which shifts in
    every later query when one lambda is added or removed anywhere."""
    text = re.sub(r"#\d+|plan_id=\d+", "#", text)
    return re.sub(r"(lambda \w+?)_\d+", r"\1", text)


def plan_digests(sdf):
    """(optimized-plan md5, physical operator-sequence md5) of one
    DataFrame, without executing it."""
    qe = sdf._jdf.queryExecution()
    logical = _mask_plan(qe.optimizedPlan().toString())
    ops = [
        m.group(1)
        for m in re.finditer(
            r"^[ :|+\-]*(?:\*\(\d+\) )?(\w+)",
            qe.executedPlan().treeString(),
            re.M,
        )
    ]
    return _md5(logical), _md5(" ".join(ops))


def print_plans(spark, qs, only):
    from newspaper_spark import cache

    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            with cache.tracking_scope():
                digests = " ".join(plan_digests(fn(spark, SF_DIR)))
        except Exception as e:  # noqa: BLE001
            digests = f"ERROR {str(e)[:120]!r}"
        print(f"{name} {digests}", flush=True)


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from newspaper_spark import cache
    from newspaper_spark.plans.session import get_spark

    args = sys.argv[1:]
    plans = "--plans" in args
    only = [a for a in args if a != "--plans"] or None

    spark = get_spark(cores=8)
    if plans:
        print_plans(spark, entrymod.queries(), only)
        spark.stop()
        return
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if pathlib.Path(p).exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            # per-query cache scope: operator-internal persists
            # (signature/sentence/token tables) are freed once this
            # query's output is collected, so a 69-query session holds
            # only the active query's blocks (bounded-memory behavior
            # for the driver's session shape)
            with cache.tracking_scope():
                sdf = fn(spark, SF_DIR)
                srows = sdf.collect()
                scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            results[name] = f"SPARK ERROR: {e}"
            continue
        assert cache.tracked_count() == 0, (
            f"{name} leaked {cache.tracked_count()} cache handle(s) past "
            "its tracking_scope"
        )
        if name not in oracles:
            results[name] = f"rows-only: {len(srows)} rows"
            continue
        try:
            orel = con.sql(oracles[name])
            orows = orel.fetchall()
            ocols = orel.columns
        except Exception as e:  # noqa: BLE001
            results[name] = f"ORACLE ERROR: {str(e)[:200]}"
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        # numeric-KIND drift (Spark int vs DuckDB HUGEINT/DOUBLE): the
        # driver compares via PANDAS, where HUGEINT lands as float64 and
        # stringifies 44 → '44.0' ≠ Spark's '44'. fetchall() masks this
        # (HUGEINT → python int), so check the DECLARED types instead.
        s_int = {
            f.name.lower()
            for f in sdf.schema.fields
            if f.dataType.typeName() in ("byte", "short", "integer", "long")
        }
        o_types = {c.lower(): str(t).upper() for c, t in zip(ocols, orel.types)}
        for c in s_int:
            ot = o_types.get(c)
            if ot and any(x in ot for x in ("HUGEINT", "FLOAT", "DOUBLE", "DECIMAL")):
                problems.append(
                    f"dtype drift on '{c}': spark integral vs oracle {ot} "
                    "— pandas will float-ize it; cast the oracle to BIGINT"
                )
        srows = [tuple(r) for r in srows]
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        elif value_hash(srows, scols) != value_hash(orows, ocols):
            problems.append("value-hash MISMATCH")
            print(f"✗ {name} value-hash MISMATCH")
            print_row_diff(srows, scols, orows, ocols)
        results[name] = "OK" if not problems else "; ".join(problems)

    width = max(len(k) for k in results)
    n_ok = 0
    for name, status in results.items():
        flag = "✓" if status == "OK" or status.startswith("rows-only") else "✗"
        if flag == "✓":
            n_ok += 1
        print(f"{flag} {name:<{width}} {status}")
    print(f"{n_ok}/{len(results)} clean")
    spark.stop()
    sys.exit(0 if n_ok == len(results) else 1)


if __name__ == "__main__":
    main()
