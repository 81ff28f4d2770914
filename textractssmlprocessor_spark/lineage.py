"""Per-partition lineage + checkpoint-resume (north-rule requirement).

The reference's resume semantic is a global part counter skipping
already-produced outputs (reference ssml_processing.py:106-110). At cluster
scale that becomes: deterministically bucket documents by url hash, record a
lineage row per completed bucket (counts + checksum), and on rerun filter
out completed buckets so only missing work re-executes. Writes are
idempotent at bucket granularity (partitionBy(bucket) parquet overwrite per
bucket).

The bucket is a function of the salt partition (operators.extract.
salt_bucket), so with the partition count a multiple or a divisor of the
bucket count every write task owns whole buckets: one file per bucket or
per task, not one per (task, bucket) pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .fsutil import fs_exists
from .operators.extract import DEFAULT_SALT_PARTITIONS, extract_chunks, salt_bucket
from .schema import CHUNKS_SCHEMA

N_BUCKETS_DEFAULT = 64
# the chunk table as written: CHUNKS_SCHEMA plus its bucket partition column
_WRITTEN_SCHEMA = StructType(
    CHUNKS_SCHEMA.fields + [StructField("bucket", IntegerType(), True)]
)


def with_bucket(df: DataFrame, n_buckets: int = N_BUCKETS_DEFAULT) -> DataFrame:
    """Stable url-hash bucket: the salt partition of the url modulo n
    (extract.salt_bucket). A bucket lies in whole salt partitions only when
    the salt partition count is a multiple or a divisor of ``n_buckets``;
    otherwise every partition may hold rows of every bucket."""
    return df.withColumn("bucket", salt_bucket(n_buckets))


def lineage_rows(chunks: DataFrame) -> DataFrame:
    """Aggregate one lineage row per bucket: doc/chunk counts + an
    order-insensitive checksum (bit_xor of per-row xxhash64 — stable under
    partitioning/row order, immune to overflow)."""
    return chunks.groupBy("bucket").agg(
        F.lit("done").alias("status"),
        F.countDistinct("url").cast("int").alias("n_docs"),
        F.count(F.lit(1)).cast("int").alias("n_chunks"),
        F.hex(
            F.bit_xor(F.xxhash64(F.col("url"), F.col("chunk_number"), F.col("ssml")))
        ).alias("checksum"),
    )


def completed_buckets(spark: SparkSession, lineage_path: str) -> DataFrame:
    """Read the lineage table if it exists; else an empty frame."""
    if not fs_exists(spark, lineage_path):
        from .schema import LINEAGE_SCHEMA

        return spark.createDataFrame([], LINEAGE_SCHEMA)
    # dropDuplicates guards against a bucket recorded twice (e.g. a rerun
    # that raced its own lineage append)
    return (
        spark.read.parquet(lineage_path)
        .filter(F.col("status") == "done")
        .dropDuplicates(["bucket"])
    )


def completed_bucket_ids(spark: SparkSession, lineage_path: str) -> set[int]:
    """The done buckets, collected to the driver (the lineage table holds
    at most one row per bucket)."""
    rows = completed_buckets(spark, lineage_path).select("bucket").collect()
    return {r["bucket"] for r in rows}


def _skip_done(pages: DataFrame, done: set[int], n_buckets: int) -> DataFrame:
    """Bucket the pages and drop the done buckets: a literal-set filter that
    runs in the scan stage, before any shuffle."""
    bucketed = with_bucket(pages, n_buckets)
    if not done:
        return bucketed
    return bucketed.filter(~F.col("bucket").isin(sorted(done)))


def resume_filter(
    pages: DataFrame, spark: SparkSession, lineage_path: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
) -> DataFrame:
    """Drop documents whose bucket already completed."""
    return _skip_done(pages, completed_bucket_ids(spark, lineage_path), n_buckets)


def run_with_lineage(
    pages: DataFrame,
    spark: SparkSession,
    output_path: str,
    lineage_path: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
    languages: list[str] | None = None,
    num_partitions: int | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Checkpoint-resumable extraction: skip completed buckets, extract the
    rest, append output partitioned by bucket, then append lineage rows.
    Returns the chunks written in this run.

    ``metrics_out``: pass a dict to receive run counters (n_chunks,
    n_docs_approx, ssml_bytes) observed DURING the write action itself
    (Spark's Observation API — accumulator-backed, zero extra passes over
    the data; distinct aggregates aren't allowed there, hence the approx
    doc count). These are the job-level metrics; the durable per-bucket
    counts/checksums live in the lineage rows.

    A run with every bucket already done returns before any Spark work
    beyond the lineage read: zero metrics and an empty chunks frame."""
    # The buckets this run owns are knowable BEFORE any scan: every bucket
    # not yet recorded done in the (tiny) lineage table. Computing them
    # driver-side keeps the post-write read-back partition-PRUNED to this
    # run's buckets — re-reading the whole accumulated output and
    # anti-joining would scan 100 TB of prior runs to find this run's rows.
    done = completed_bucket_ids(spark, lineage_path)
    todo_buckets = [b for b in range(n_buckets) if b not in done]
    if not todo_buckets:
        if metrics_out is not None:
            metrics_out.update(n_chunks=0, n_docs_approx=0, ssml_bytes=0)
        return spark.createDataFrame([], _WRITTEN_SCHEMA)
    chunks = with_bucket(
        extract_chunks(
            _skip_done(pages, done, n_buckets),
            languages=languages,
            num_partitions=num_partitions or DEFAULT_SALT_PARTITIONS,
        ),
        n_buckets,
    )
    obs = None
    if metrics_out is not None:
        from pyspark.sql import Observation

        obs = Observation("extract_run")
        chunks = chunks.observe(
            obs,
            F.count(F.lit(1)).alias("n_chunks"),
            F.approx_count_distinct("url").alias("n_docs_approx"),
            # coalesce: sum over an empty run is NULL, and the metrics
            # contract is integers (a pure-resume rerun writes 0 rows)
            F.coalesce(F.sum(F.octet_length("ssml")), F.lit(0)).alias(
                "ssml_bytes"
            ),
        )
    # Dynamic partition overwrite makes bucket writes idempotent: a rerun of
    # a bucket that crashed between its data write and its lineage append
    # REPLACES the partial partition instead of appending duplicates.
    chunks.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("bucket").parquet(output_path)
    if obs is not None:
        metrics_out.update(obs.get)  # ready: the write action completed
    # Lineage rows come from the files just written (the durable truth, not
    # a recompute of the UDF pipeline); the isin filter prunes the read to
    # this run's bucket partitions only.
    written = spark.read.parquet(output_path).filter(
        F.col("bucket").isin(todo_buckets)
    )
    lineage_rows(written).write.mode("append").parquet(lineage_path)
    return written


