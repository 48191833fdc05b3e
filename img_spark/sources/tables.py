"""Table source adapters.

The production target is an Iceberg `pages` table (BASELINE north_star);
this sandbox has no Iceberg runtime jars, so the adapter resolves the
format at runtime: an Iceberg catalog identifier or metadata directory
is used when the runtime supports it, otherwise plain Parquet with an
identical schema (SURVEY.md §7.3). All engine code consumes only the
returned DataFrame, so the swap is confined to this module.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.SparkTable"
        )
        return True
    except Exception:
        return False


def read_pages(spark: SparkSession, location: str) -> DataFrame:
    """location: an Iceberg table identifier (``catalog.db.pages``), an
    Iceberg warehouse path, or a parquet path/directory."""
    if not os.path.exists(location) and "." in location and "/" not in location:
        # catalog identifier → requires the Iceberg runtime
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on the classpath; pass a parquet path "
                "or add the iceberg-spark-runtime jar"
            )
        df = spark.read.format("iceberg").load(location)
    elif os.path.isdir(os.path.join(location, "metadata")) and iceberg_available(
        spark
    ):
        df = spark.read.format("iceberg").load(location)
    else:
        df = spark.read.parquet(location)
    missing = [c for c in PAGES_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(f"pages table missing columns: {missing}")
    return df.select(*PAGES_COLUMNS)


def read_sf_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- pruning
PAGES_BUCKET_COL = "url_bucket"


def write_pages_bucketed(
    pages: DataFrame, path: str, n_buckets: int = 1024
) -> None:
    """Materialize the pages table hash-partitioned by
    ``urlexprs.url_bucket(url, n_buckets)`` — the layout that makes the
    per-generation fetch scan PRUNABLE: a crawl generation dispatches a
    tiny fraction of all URLs, so the fetch join only needs the
    partitions their hashes land in. Without this layout every
    generation re-scans the full (100-TB) pages table; with it, the scan
    is O(dispatch-batch coverage). Iceberg's bucket-transform partition
    spec is the production twin of this directory layout."""
    from pyspark.sql import functions as F

    from img_spark.operators.urlexprs import url_bucket

    pages.withColumn(
        PAGES_BUCKET_COL, url_bucket(F.col("url"), n_buckets).cast("int"),
    ).write.mode("overwrite").partitionBy(PAGES_BUCKET_COL).parquet(path)


def read_pages_bucketed(spark: SparkSession, path: str) -> DataFrame:
    """Read a bucketed pages table; carries PAGES_BUCKET_COL as a
    partition column so bucket-equality filters prune directories."""
    df = spark.read.parquet(path)
    missing = [c for c in PAGES_COLUMNS + [PAGES_BUCKET_COL] if c not in df.columns]
    if missing:
        raise ValueError(f"bucketed pages table missing columns: {missing}")
    return df.select(*PAGES_COLUMNS, PAGES_BUCKET_COL)
