"""As-of join operator: hand-computable golden cases (the catalog-level
q44 is oracle-checked against DuckDB's native ASOF JOIN)."""

from __future__ import annotations

from aws_dla_kinesis_delivery_stream_example_spark.operators.asof import asof_join


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_asof_basic(spark):
    left = _df(
        spark,
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 12:00:00"), (2, "2024-01-01 10:00:00")],
        "user_id long, ts_s string",
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) ts")
    right = _df(
        spark,
        [(1, "2024-01-01 09:00:00", 100), (1, "2024-01-01 11:00:00", 200), (3, "2024-01-01 08:00:00", 900)],
        "user_id long, ts_s string, v long",
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) ts", "v")
    out = {(r.user_id, r.ts.hour): r.v for r in asof_join(left, right).collect()}
    assert out[(1, 10)] == 100  # latest right <= 10:00 is 09:00
    assert out[(1, 12)] == 200  # 11:00 supersedes 09:00
    assert out[(2, 10)] is None  # no right rows for key 2 => left join null


def test_asof_inclusive_and_ties(spark):
    left = _df(spark, [(1, "2024-01-01 10:00:00")], "user_id long, ts_s string").selectExpr(
        "user_id", "CAST(ts_s AS TIMESTAMP) ts"
    )
    right = _df(
        spark,
        [(1, "2024-01-01 10:00:00", 5), (1, "2024-01-01 10:00:00", 7)],
        "user_id long, ts_s string, v long",
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) ts", "v")
    rows = asof_join(left, right).collect()
    # equal timestamps match (inclusive) and ties resolve to max(v)
    assert rows[0].v == 7


def test_asof_tie_keeps_whole_row(spark):
    """Multi-value-column ties must resolve to ONE actual right row, not
    a per-column max that blends tied rows into a row that never existed."""
    left = _df(spark, [(1, "2024-01-01 10:00:00")], "user_id long, ts_s string").selectExpr(
        "user_id", "CAST(ts_s AS TIMESTAMP) ts"
    )
    right = _df(
        spark,
        # tied rows: (v=5, w=99) and (v=7, w=1). Per-column max would
        # fabricate (7, 99); whole-row resolution must return (7, 1).
        [(1, "2024-01-01 10:00:00", 5, 99), (1, "2024-01-01 10:00:00", 7, 1)],
        "user_id long, ts_s string, v long, w long",
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) ts", "v", "w")
    rows = asof_join(left, right).collect()
    assert (rows[0].v, rows[0].w) == (7, 1)