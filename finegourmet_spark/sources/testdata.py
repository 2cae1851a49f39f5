"""Loaders for the driver's TPC-H-ish parquet test tables (TESTDATA.md).

The engine never uses CSV inferSchema (the reference double-scans every CSV
for inference, reference: etl/extract.py:67; see SURVEY.md §4 item 3). These
tables are parquet, whose schema travels in the footer: ``_read`` is a plain
``spark.read.parquet``, so Spark reads the schema from the file (one small
job per read) and a drifted file changes column types instead of failing.
Expected schemas are NOT pinned; only ``events.ts`` is normalized
(``load_table``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. Column pruning + predicate pushdown reach the
    parquet scan because we return the raw declarative scan (no caching,
    no eager materialization).

    ``events.ts`` normalization is SCHEMA-ADAPTIVE because the driver has
    shipped the column two ways across rounds (TIMESTAMP(NANOS) through r3,
    plain TIMESTAMP(MICROS) after a regeneration):

      * nanos layout — Spark's vectorized reader rejects nanos, so the
        ``nanosAsLong`` legacy flag surfaces the column as LONG and we
        truncate ns → µs, the same truncation DuckDB applies casting
        TIMESTAMP_NS to TIMESTAMP, so both engines see identical µs values;
      * micros layout — the scan yields TIMESTAMP_NTZ natively (the file is
        written without UTC adjustment); we cast to TIMESTAMP (session-tz
        UTC, pinned in session.py, so the instant is unchanged).

    Either way callers — and the DuckDB oracles — see one schema:
    µs-precision TimestampType.

    NB the ``nanosAsLong`` flag is a SESSION-level conf and stays set after
    the first events read (restoring it immediately would break the lazy
    scan's execution). It is a no-op for non-nanos files, so setting it
    unconditionally is safe here; a mixed-precision lake would need
    per-read normalization instead."""
    df = _read(spark, sf_dir, name)
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def table_row_count(sf_dir: str, name: str) -> int | None:
    """Exact table row count from parquet FOOTER statistics — no Spark job,
    no data scan. This is what catalog/manifest statistics provide on a
    real lakehouse; operators that size themselves from corpus cardinality
    (the LSH bucket-width probe, similarity.py) should prefer this and fall
    back to ``df.count()`` only when footers are unreadable (VERDICT r10
    item 5: a ``count()`` action is scan-shaped at 100 TB; footers are
    metadata-shaped). Returns None when the path is missing or any footer
    fails to parse — callers must treat None as "fall back", never as 0.

    Parquet footers record exact ``num_rows`` per file (public format
    spec), so this equals ``count()`` for any committed dataset; a pytest
    asserts that equality on the fixtures
    (tests/test_approx_and_lsh.py::test_footer_row_count_matches_scan).

    Hidden/staging paths are skipped to match Spark/Hive path filtering
    (ADVICE r11): an aborted write's ``_temporary/**/part-*.parquet`` or
    dot-prefixed files are invisible to ``spark.read`` but WOULD be
    summed by a naive walk, silently inflating the count."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            files = [
                os.path.join(root, f)
                for root, _dirs, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
                and not any(
                    part.startswith(("_", "."))
                    for part in os.path.join(
                        os.path.relpath(root, path), f
                    ).split(os.sep)
                    if part != "."
                )
            ]
            if not files:
                return None
        elif os.path.isfile(path):
            files = [path]
        else:
            return None
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API path."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
