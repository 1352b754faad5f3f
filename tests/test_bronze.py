"""CSV source round-trip: explicit schema, quoting, nulls, timestamps."""

from __future__ import annotations


def test_csv_source_roundtrip_with_edges(spark, tmp_path):
    """CSV source coverage: explicit schema read (no inference), quoted
    delimiters/newlines inside fields, empty-string-vs-null distinction,
    and timestamp parsing — write → read equals the original frame."""
    from datetime import datetime

    from pyspark.sql import functions as F

    rows = [
        (1, 'has,comma', 3.5, datetime(2024, 1, 1, 10, 0, 0)),
        (2, 'has "quote"', -0.25, datetime(2024, 6, 30, 23, 59, 59)),
        (3, "multi\nline", 0.0, datetime(2025, 2, 28, 0, 0, 0)),
        (4, None, None, None),
    ]
    schema = "id long, note string, score double, ts timestamp_ntz"
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "csv_out")
    (
        df.coalesce(1)
        .write.option("header", True)
        .option("quoteAll", True)
        .csv(path)
    )
    back = (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .csv(path)
    )
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b
    # header-only pushdown sanity: column pruning reaches the CSV scan
    pruned = back.select("id").where(F.col("id") > 1)
    assert pruned.count() == 3
