"""Streaming KG ingest: web pages arrive as files; edges leave as a stream.

Batch/stream parity by construction: every micro-batch runs the SAME
pipeline definition (``run_pipeline`` in memory) via ``foreachBatch``,
so a page that flows through the batch pipeline and the stream produces
identical edges and KGTK ids. Watermarked windows handle late pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgtk_spark.pipeline.webgen import PAGES_SCHEMA


def stream_edges_from_pages(
    spark: SparkSession,
    pages_dir: str,
    alias_dict: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """File-source stream of page parquet → KGTK edge parquet.

    Returns the StreamingQuery. ``trigger_once`` processes the backlog
    and stops (test/batch-catchup mode); otherwise micro-batches run
    continuously. Exactly-once via the checkpoint + parquet sink.
    """
    from kgtk_spark.pipeline.runner import run_pipeline

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )
    # sized once per stream, not per micro-batch
    alias_count = alias_dict.count()
    n_buckets = spark.sparkContext.defaultParallelism

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        edges = run_pipeline(
            batch_df.sparkSession, batch_df, alias_dict,
            n_buckets=n_buckets, alias_count=alias_count,
        )
        edges.write.mode("append").parquet(output_dir)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_edge_counts(
    pages_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked event-time windowed page counts by language.

    Late pages beyond the watermark are dropped deterministically;
    output mode append emits finalized windows only.
    """
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("lang"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
        )
    )


def stream_dedup_documents(
    spark: SparkSession,
    docs_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "10 minutes",
    trigger_once: bool = True,
):
    """Streaming twin of exact_dedup: cross-micro-batch content dedup.

    The content hash goes through the state store (``dropDuplicates``),
    so a document seen in batch 1 is dropped when it reappears in batch
    40 — the semantics a crawl-ingest pipeline needs. With ``ts_col``
    set, the state is BOUNDED: a watermark on the event time +
    ``dropDuplicatesWithinWatermark`` lets Spark evict state older than
    the lateness bound (the production mode — unbounded state on a
    100 TB crawl is a leak). Without it, state grows with distinct
    content (acceptable only for bounded backfills). Exactly-once via
    checkpoint + parquet sink.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    hashed = stream.withColumn("__ch__", F.sha2(F.col(text_col), 256))
    if ts_col:
        dedup = hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["__ch__"]
        )
    else:
        dedup = hashed.dropDuplicates(["__ch__"])
    writer = (
        dedup.drop("__ch__")
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
