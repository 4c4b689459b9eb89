"""Local mirror of the driver's DuckDB-oracle comparison: run the Spark
query and the oracle SQL over the same parquet tables, canonicalize
(sort columns by name, sort rows), and compare values exactly."""

from __future__ import annotations

import math

import duckdb

from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import TABLES


def duckdb_result(sql: str, sf_dir: str):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf_dir}/{t}.parquet')"
        )
    out = con.execute(sql).fetchdf()
    con.close()
    return out


def _canon_cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if hasattr(v, "item"):  # numpy scalar
        return _canon_cell(v.item())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return repr(v)


def canonicalize(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(_canon_cell(v) for v in row) for row in pdf[cols].itertuples(index=False)]
    return sorted(rows)


def compare(spark_df, oracle_sql: str, sf_dir: str) -> tuple[bool, str]:
    return compare_frames(spark_df.toPandas(), oracle_sql, sf_dir)


def compare_frames(spark_pdf, oracle_sql: str, sf_dir: str) -> tuple[bool, str]:
    """``compare`` on a Spark result already collected to pandas."""
    duck_pdf = duckdb_result(oracle_sql, sf_dir)
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return False, f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return False, f"row counts differ: spark={len(spark_pdf)} duck={len(duck_pdf)}"
    s, d = canonicalize(spark_pdf), canonicalize(duck_pdf)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:5]
        return False, f"values differ, first diffs: {diffs}"
    return True, "ok"
