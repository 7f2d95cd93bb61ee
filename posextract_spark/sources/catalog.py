"""Table catalog seam: Iceberg when configured, partitioned parquet fallback.

BASELINE.json's input_hint is an Iceberg ``pages`` table partitioned by
bucket(url) / days(warc_ts). This sandbox has no Iceberg runtime jar
(verified absent from pyspark/jars — SURVEY.md §7.0), so the catalog
presents one interface with two implementations:

- Iceberg (preferred at scale): ``writeTo(...).append()``, hidden
  partitioning, snapshot-based resume (used when
  ``spark.sql.catalog.<name>`` is configured);
- parquet fallback: explicit bucket/day partition columns + the
  plans.lineage manifest for resume.

Partition-pruning contract either way: readers filter on
(lang, bucket, day) and the filters reach the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import partitioning


def iceberg_available(spark: SparkSession, catalog: str = "spark_catalog") -> bool:
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    except Exception:
        impl = None
    return impl is not None and "iceberg" in str(impl).lower()


class PagesCatalog:
    def __init__(self, spark: SparkSession, location: str, n_buckets: int = 64,
                 table: str = "pages", catalog: str = "spark_catalog"):
        self.spark = spark
        self.location = location
        self.n_buckets = n_buckets
        self.table = table
        self.use_iceberg = iceberg_available(spark, catalog)
        self.catalog = catalog

    def write(self, pages: DataFrame, mode: str = "overwrite") -> None:
        if mode not in ("overwrite", "append"):
            # Iceberg writeTo has no error/ignore save-mode analog; silently
            # mapping them to append would duplicate data
            raise ValueError(f"PagesCatalog.write: unsupported mode {mode!r}")
        if self.use_iceberg:
            full = f"{self.catalog}.{self.table}"
            # hidden partitioning: bucket(url) + days(warc_ts) — readers
            # filter on url/warc_ts and Iceberg prunes invisibly (the
            # parquet fallback exposes explicit bucket/day columns instead)
            writer = (
                pages.writeTo(full)
                .using("iceberg")
                .partitionedBy(
                    partitioning.bucket(self.n_buckets, "url"), partitioning.days("warc_ts")
                )
            )
            if mode == "overwrite":
                writer.createOrReplace()
            else:
                writer.append()
            return
        from posextract_spark.plans.lineage import bucket_of

        withparts = pages.withColumn(
            "bucket", bucket_of(F.col("url"), self.n_buckets)
        ).withColumn("day", F.date_trunc("day", F.col("warc_ts")))
        withparts.write.mode(mode).partitionBy("bucket", "day").parquet(self.location)

    def read(self) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(f"{self.catalog}.{self.table}")
        return self.spark.read.parquet(self.location)
