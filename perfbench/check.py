"""Output checks: a full-output hash action, and the exact oracle match.

`output_hash` is the action every timed op goes through. It hashes every
output column of every row (xxhash64), then folds the row hashes with
order-insensitive aggregates plus the row count. Unlike `.count()`, it keeps
every column live, so Catalyst cannot prune the work a user pays for (a UDF,
a join fan-out) out of the plan.

`frame_hash` applies the same hash to an op's DuckDB `oracle_sql()` output,
loaded under the op's Spark schema: equal hashes mean the same multiset of
rows, value for value.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the fold: xor and a bounded sum of the same row hashes (the sum makes a
# duplicated row visible, which xor alone cancels) plus the row count
_FOLD = (
    "concat(cast(count(1) as string), ':', cast(coalesce(bit_xor(__h), 0) as string), ':', "
    "cast(coalesce(sum(pmod(__h, 2147483647)), 0) as string))"
)


def output_hash(df: DataFrame) -> str:
    """'rows:xor:sum' over an xxhash64 of every column of every row."""
    row = df.select(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).alias("__h"))
    return row.agg(F.expr(_FOLD)).collect()[0][0]


def frame_hash(spark, pdf: pd.DataFrame, schema) -> str:
    """`output_hash` of a pandas frame (an oracle's output) loaded into Spark
    under the Spark output's schema, so both sides hash the same types."""
    if sorted(pdf.columns) != sorted(schema.fieldNames()):
        return f"columns {sorted(pdf.columns)}"
    pdf = pdf[schema.fieldNames()]
    pdf = pdf.astype(object).where(pdf.notna(), None)
    return output_hash(spark.createDataFrame(pdf, schema=schema))


def hash_rows(h: str) -> int:
    return int(h.split(":", 1)[0])


def oracle_connection(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in tables:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'")
    return con
