"""Streaming extraction: file-source ingest -> extraction -> sink.

``extract_stream`` returns the transformed streaming DataFrame (the
same mapInPandas stage as the batch path — it is stateless, so no
watermarks are needed); ``run_stream`` wires a parquet sink with a
checkpoint dir, using ``foreachBatch`` so each micro-batch also appends
lineage rows (micro-batch id as the commit unit, mirroring the batch
job's bucket commits)."""

from __future__ import annotations

from typing import TYPE_CHECKING

from html_to_document_spark.core.extract import DEFAULT_OPTIONS, ExtractOptions
from html_to_document_spark.operators.extract_spans import extract_spans
from html_to_document_spark.operators.lineage import read_partitions, span_totals
from html_to_document_spark.sources.synthetic import DOC_SCHEMA

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession


def read_doc_stream(
    spark: "SparkSession", path: str, max_files_per_trigger: int | None = None
) -> "DataFrame":
    reader = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def extract_stream(
    stream_df: "DataFrame", options: ExtractOptions = DEFAULT_OPTIONS
) -> "DataFrame":
    return extract_spans(stream_df, options)


def make_sink(out_path: str, lineage_path: str | None = None):
    """Idempotent foreachBatch sink (exposed for retry testing).

    The lineage row of a micro-batch is computed from its partition as
    read back from ``out_path``, so each micro-batch is extracted once
    (by the data write) and its lineage certifies what landed on disk."""
    from pyspark.sql import functions as F

    def sink(batch_df: "DataFrame", batch_id: int) -> None:
        # foreachBatch is at-least-once: a retried micro-batch must
        # REPLACE its own output, not append a second copy (ADVICE r1).
        # Partitioning by batch_id + dynamic partition overwrite makes
        # both the data and lineage writes idempotent per batch_id.
        out = batch_df.withColumn("batch_id", F.lit(int(batch_id)))
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
        if lineage_path:
            written = read_partitions(
                batch_df.sparkSession, out_path, "batch_id",
                [int(batch_id)], out.schema,
            )
            (
                span_totals(written, "batch_id")
                .select(
                    "partition_id",
                    F.col("doc_out").alias("input_count"),
                    "output_count",
                    "checksum",
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("partition_id")
                .parquet(lineage_path)
            )

    return sink


def run_stream(
    spark: "SparkSession",
    in_path: str,
    out_path: str,
    checkpoint: str,
    lineage_path: str | None = None,
    options: ExtractOptions = DEFAULT_OPTIONS,
    available_now: bool = True,
):
    """Start (and with available_now=True, drain) the streaming job."""
    stream = extract_stream(read_doc_stream(spark, in_path), options)

    writer = stream.writeStream.foreachBatch(
        make_sink(out_path, lineage_path)
    ).option("checkpointLocation", checkpoint)
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
