"""Lineage + checkpoint/resume (SURVEY.md §2.9, north_rule).

Unit of commit = "bucket": ``bucket_id = pmod(xxhash64(doc_id), n_buckets)``
— a deterministic function of row content, NOT ``spark_partition_id()``,
so resume decisions are stable across runs/cluster sizes. Buckets are
processed in chunks; after each chunk's spans land (dynamic partition
overwrite => idempotent re-runs), its lineage rows
``(partition_id, input_count, output_count, checksum)`` are appended.
The output side of a lineage row is computed from the chunk's
partitions as read back from the written output, so it certifies what
landed on disk, and extraction runs once per chunk (the write), never
again for the lineage. Every bucket of a chunk commits a row: a bucket
with no docs commits ``(b, 0, 0, "0")``, so a finished run re-runs as a
no-op. Resume anti-joins the input against committed lineage and
recomputes only missing buckets.

At 10^12 docs you would raise ``n_buckets`` to O(10^3-10^4) and
``chunk_buckets`` to the cluster's comfortable job size; the driver
loop is over chunks (dozens), never over rows.

checksum = xor-fold of ``xxhash64(doc_id, to_json(spans))`` per bucket:
order-insensitive, so stable under shuffle/AQE re-planning.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from html_to_document_spark.core.extract import DEFAULT_OPTIONS, ExtractOptions
from html_to_document_spark.operators.extract_spans import extract_spans
from html_to_document_spark.operators.parallelism import literal_frame

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql.types import StructType

LINEAGE_SCHEMA = (
    "partition_id int, input_count bigint, output_count bigint, checksum string"
)


def with_bucket_id(df: "DataFrame", n_buckets: int) -> "DataFrame":
    from pyspark.sql import functions as F

    return df.withColumn(
        "partition_id",
        F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"),
    )


def span_totals(out_df: "DataFrame", key: str = "partition_id") -> "DataFrame":
    """Per-``key`` ``(partition_id, doc_out, output_count, checksum)`` of
    an extracted-spans frame: docs, spans, and the checksum. The one
    definition shared by the batch (bucket) and streaming (micro-batch)
    lineage writers."""
    from pyspark.sql import functions as F

    return out_df.groupBy(F.col(key).alias("partition_id")).agg(
        F.count("*").alias("doc_out"),
        F.sum(F.size("spans")).alias("output_count"),
        F.conv(
            F.expr("bit_xor(xxhash64(doc_id, to_json(spans)))"), 10, 16
        ).alias("checksum"),
    )


def lineage_of(
    in_df: "DataFrame",
    out_df: "DataFrame",
    buckets: list[int] | None = None,
) -> "DataFrame":
    """Per-bucket lineage; both frames must carry ``partition_id``.

    With ``buckets``, each listed bucket gets a row even when ``in_df``
    has no docs in it: ``(b, 0, 0, "0")``."""
    from pyspark.sql import functions as F

    inp = in_df.groupBy("partition_id").agg(
        F.count("*").alias("input_count")
    )
    if buckets is not None:
        inp = (
            literal_frame(
                in_df.sparkSession, [(b,) for b in buckets], "partition_id int"
            )
            .join(inp, "partition_id", "left")
            .select(
                "partition_id",
                F.coalesce("input_count", F.lit(0)).alias("input_count"),
            )
        )
    return (
        inp.join(span_totals(out_df), "partition_id", "left")
        .select(
            "partition_id",
            "input_count",
            F.coalesce("output_count", F.lit(0)).alias("output_count"),
            F.coalesce("checksum", F.lit("0")).alias("checksum"),
        )
    )


def completed_buckets(spark: "SparkSession", lineage_path: str) -> set[int]:
    try:
        rows = spark.read.parquet(lineage_path).select("partition_id").collect()
    except Exception:
        return set()
    return {r.partition_id for r in rows}


STAGE_MARKER = "_STAGED_COMPLETE"


def _hadoop_path_exists(spark: "SparkSession", path: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def _hadoop_touch(spark: "SparkSession", path: str) -> None:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.create(p, True).close()


def read_partitions(
    spark: "SparkSession",
    base: str,
    column: str,
    values: list[int],
    schema: "StructType",
) -> "DataFrame":
    """Rows of ``base``'s ``<column>=<v>`` directories for ``values``,
    read with ``schema`` (the written frame's, so no footer inference).

    Explicit per-directory paths, so the scan lists only those files.
    A partition with no rows has no directory, and ``base`` itself may
    not exist yet: missing directories are skipped, and when none
    exists the result is an empty frame."""
    paths = [
        p for p in (f"{base}/{column}={v}" for v in values)
        if _hadoop_path_exists(spark, p)
    ]
    reader = spark.read.schema(schema)
    if not paths:  # basePath is rejected without paths
        return reader.parquet()
    return reader.option("basePath", base).parquet(*paths)


def run_with_checkpoint(
    spark: "SparkSession",
    input_df: "DataFrame",
    out_path: str,
    lineage_path: str,
    *,
    options: ExtractOptions = DEFAULT_OPTIONS,
    n_buckets: int = 16,
    chunk_buckets: int = 8,
    fail_buckets: set[int] | None = None,
    stage_path: str | None = None,
) -> list[int]:
    """Chunked, resumable extraction run. Returns buckets processed in
    THIS invocation (already-committed buckets are skipped).

    ``stage_path`` (VERDICT r1 #4): without it, every chunk's
    ``filter(partition_id IN chunk)`` re-scans the FULL input —
    n_buckets/chunk_buckets full scans of a 100 TB table. With it, the
    input is written ONCE partitioned by partition_id (itself a resume
    artifact: an existing staged dir is reused, not rewritten), and each
    chunk reads ONLY its own partition directories — scan bytes per
    chunk are chunk-sized by construction, not by optimizer goodwill.

    Each chunk runs the extraction once: its spans are written, then
    its lineage rows are computed from the chunk's partitions read back
    from ``out_path``. A bucket with no docs (no staged directory, no
    output directory) is skipped by both reads and commits a
    ``(b, 0, 0, "0")`` lineage row.

    ``fail_buckets`` injects a task failure when a chunk containing one
    of those buckets is processed — integration-test hook for the
    kill -> re-run -> only-missing-buckets-recompute scenario.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    df = with_bucket_id(input_df, n_buckets)
    done = completed_buckets(spark, lineage_path)
    todo = sorted(set(range(n_buckets)) - done)
    processed: list[int] = []

    if stage_path is not None and todo:
        # explicit completion marker: the dynamic-partition-overwrite
        # commit protocol does not emit _SUCCESS
        if not _hadoop_path_exists(spark, f"{stage_path}/{STAGE_MARKER}"):
            df.write.mode("overwrite").partitionBy("partition_id").parquet(
                stage_path
            )
            _hadoop_touch(spark, f"{stage_path}/{STAGE_MARKER}")

    for start in range(0, len(todo), chunk_buckets):
        chunk = todo[start : start + chunk_buckets]
        if stage_path is not None:
            chunk_df = read_partitions(
                spark, stage_path, "partition_id", chunk, df.schema
            )
        else:
            chunk_df = df.filter(F.col("partition_id").isin(chunk))

        fail_expr = None
        if fail_buckets and set(chunk) & set(fail_buckets):
            # mark doomed rows with a negative sentinel column
            chunk_df = chunk_df.withColumn(
                "_fail",
                F.when(
                    F.col("partition_id").isin(sorted(fail_buckets)), -1
                ).otherwise(0),
            )
            fail_expr = "_fail"

        extracted = extract_spans(
            chunk_df, options, fail_partition_expr=fail_expr
        )
        out = with_bucket_id(extracted, n_buckets)
        out.write.mode("overwrite").partitionBy("partition_id").parquet(out_path)

        written = read_partitions(
            spark, out_path, "partition_id", chunk, out.schema
        )
        lineage_of(
            chunk_df.select("doc_id", "partition_id"), written, chunk
        ).write.mode("append").parquet(lineage_path)
        processed.extend(chunk)

    return processed
