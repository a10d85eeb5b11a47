"""Full-result digests and the DuckDB oracle check.

An operation's action reduces every column of its result to the row
count plus an order-insensitive sum of per-row ``xxhash64`` values, so
Catalyst cannot prune any output column and the result can be compared
with an expected digest without collecting it. Map-typed values cannot
be hashed and go through ``to_json`` first.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _has_map(t: T.DataType) -> bool:
    if isinstance(t, T.MapType):
        return True
    if isinstance(t, T.ArrayType):
        return _has_map(t.elementType)
    if isinstance(t, T.StructType):
        return any(_has_map(f.dataType) for f in t.fields)
    return False


def row_hash(df: DataFrame) -> Column:
    """``xxhash64`` over every column of ``df`` (maps as JSON)."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        cols.append(F.to_json(c) if _has_map(f.dataType) else c)
    return F.xxhash64(*cols)


def digest(df: DataFrame) -> tuple[int, int]:
    """(rows, sum of row hashes) of the full result; one Spark action.

    The sum runs in decimal so it cannot overflow under ANSI mode."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(row_hash(df).cast("decimal(20,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


# -- oracle comparison: sorted rows of canonical cells ----------------------


def _cell(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0.0" if v == 0.0 else repr(v)
    if hasattr(v, "tz_convert"):  # pandas Timestamp
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return str(v.tolist())
    return str(v)


def canonical(pdf) -> list[tuple]:
    """Rows of a pandas frame as sorted tuples, columns in name order."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return sorted(tuple(_cell(v) for v in row) for row in pdf.itertuples(index=False))


def matches_oracle(spark_pdf, duck_pdf) -> bool:
    """Same column names and the same multiset of canonical rows."""
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return False
    return canonical(spark_pdf) == canonical(duck_pdf)


def duckdb_connection(sf_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con
