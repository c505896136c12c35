"""Bucketed persistence — reuse one partitioning across pipeline runs.

reference: n/a — splink re-shuffles per run (its SQL-string pipeline has
no notion of physical layout); this is a Spark-first capability the
reference cannot express.

The recurring cost of a production linkage deployment is not a single
run — it is the SAME blocking self-join, on the SAME reference table,
executed every time new records arrive or the model is retrained. A
plain parquet table pays a full shuffle of the big side on every run.
Bucketing pays that shuffle ONCE at write time: `bucketBy(n, key)`
hash-partitions rows into a fixed number of files per partition, and
Spark's bucketed-scan rule then plans joins and aggregations on the
bucket key WITHOUT an Exchange — each task zips bucket i with bucket i.

At 100 TB this is the difference between re-shuffling the corpus every
night and never shuffling it again: the nightly batch joins against the
bucketed table shuffle-free on the big side (the small side either
broadcasts or shuffles its own few GB), and EM re-training's
`groupBy(key)` aggregations likewise skip the Exchange.

Plan contracts (pinned by tests/test_plans_bucketing.py):
  - bucketed ⋈ bucketed on the bucket key, equal bucket counts →
    SortMergeJoin with ZERO Exchange;
  - bucketed self-join (blocking with one rule keyed on the bucket
    columns) → Exchange-free pair generation; several rules share
    one (rule, key hash) join, which shuffles;
  - groupBy(bucket key) over the bucketed table → final aggregate
    without a shuffle.

Caveats, stated honestly: bucketing requires a catalog table
(`saveAsTable`) — a bare `.parquet(path)` write silently drops bucket
metadata; both sides must agree on bucket count (or one must be a
multiple — Spark 3.1+ coalesces); and `spark.sql.sources.bucketing.enabled`
must stay true (default). The helpers below encode those rules rather
than leaving them to convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def save_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a catalog table bucketed by ``bucket_cols``.

    ``sort_cols`` (defaults to the bucket columns) pre-sorts rows inside
    each bucket file so a downstream SortMergeJoin can skip its Sort as
    well as its Exchange. The one-time write shuffles ``df`` into
    ``num_buckets`` hash buckets; every later join/agg on the bucket key
    reads that layout back shuffle-free.
    """
    if not bucket_cols:
        raise ValueError("bucket_cols must be non-empty")
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
    )
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back WITH its bucket spec.

    Exists as a named function (rather than "just use spark.table")
    to make the failure mode greppable: reading the table's parquet
    files by PATH loses the bucket metadata and silently reintroduces
    the shuffle. Raises if ``table`` is not bucketed.
    """
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    info = {r.col_name: r.data_type for r in rows}
    if "Num Buckets" not in info:
        raise ValueError(
            f"table {table!r} is not bucketed — a path-based parquet "
            "read or a plain saveAsTable dropped the bucket spec"
        )
    return spark.table(table)


def bucket_spec(spark: SparkSession, table: str) -> tuple[int, list[str]]:
    """(num_buckets, bucket_columns) of a catalog table."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    info = {r.col_name: r.data_type for r in rows}
    if "Num Buckets" not in info:
        raise ValueError(f"table {table!r} is not bucketed")
    n = int(info["Num Buckets"])
    cols = [
        c.strip().strip("`")
        for c in info["Bucket Columns"].strip("[]").split(",")
    ]
    return n, cols
