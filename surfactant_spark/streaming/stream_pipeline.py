"""Structured-Streaming form of the KG pipeline.

The reference is a batch CLI (SURVEY.md §2.8 — no streaming exists);
this is the incremental-ingest extension a crawl pipeline needs: pages
arrive continuously (WARC drops), extraction + mention detection run
per micro-batch, and edge/node updates append to the graph tables.

Key semantics:
  * extraction and mention detection are the SAME operators as batch
    (stateless DataFrame→DataFrame functions compose with readStream);
  * per-host page counts use an event-time window on ``warc_ts`` with
    a watermark, so late crawl records fold in within the allowed
    lateness and state is bounded;
  * sinks are append-mode; canonical-group re-aggregation (urls per
    content hash) runs as the periodic batch merge (operators/merge.py)
    rather than unbounded streaming state — the lambda-architecture cut
    matching the reference's batch merge semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dictionary import CompiledDictionary, compile_dictionary
from ..operators.extract import extract_pages
from ..operators.mentions import detect_mentions


def stream_extract(pages_stream: DataFrame) -> DataFrame:
    """readStream(pages) → extracted stream (same operator as batch —
    mapInPandas composes with streaming DataFrames)."""
    return extract_pages(pages_stream)


def stream_mentions(
    extracted_stream: DataFrame, compiled: CompiledDictionary | None = None
) -> DataFrame:
    """Per-batch mention detection.  NOTE: streaming cannot dedup by
    content hash across batches without state; dedup happens at the
    periodic batch merge (run-length is bounded per micro-batch)."""
    if compiled is None:
        compiled = compile_dictionary()
    src = extracted_stream.select("content_sha256", "lang", "text")
    return detect_mentions(src, compiled)


def stream_dedup_content(
    extracted_stream: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Cross-batch exact dedup on the content hash with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key in state only until
    the event-time watermark passes it, so a re-crawled page arriving
    within the lateness window is dropped as a duplicate and state
    never grows with the corpus — the streaming face of the pipeline's
    dedup-before-expensive-work rule (mentions are paid once per
    content hash).  Duplicates separated by more than the watermark
    re-emit; the periodic batch merge (operators/merge.py) remains the
    global reconciliation, matching the reference's batch-merge
    semantics."""
    return extracted_stream.withWatermark(
        "warc_ts", watermark
    ).dropDuplicatesWithinWatermark(["content_sha256"])


def windowed_host_counts(
    extracted_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling window of pages per host with late-data
    tolerance — the streaming stat-counts analog (A5)."""
    return (
        extracted_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "host")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host",
            "n_pages",
        )
    )


def _mentions_stream(spark, pages_dir: str, max_files_per_trigger: int):
    from ..schema import PAGES_SCHEMA

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )
    return stream_mentions(stream_extract(stream))


def run_stream_to_memory(
    spark,
    pages_dir: str,
    checkpoint_dir: str,
    query_name: str = "mentions_stream",
    max_files_per_trigger: int = 4,
):
    """Debug/inspection runner: micro-batches into an in-memory table.
    NOTE: Spark memory sinks cannot recover from a checkpoint — this is
    for interactive inspection only; durable runs use
    run_stream_to_parquet."""
    mentions = _mentions_stream(spark, pages_dir, max_files_per_trigger)
    return (
        mentions.writeStream.format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def run_stream_to_parquet(
    spark,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
):
    """Durable streaming run: mentions append to a parquet table with a
    real checkpoint — restart resumes exactly-once from the last
    committed offsets (the streaming face of the pipeline's
    snapshot-resume contract, plans/catalog.py)."""
    mentions = _mentions_stream(spark, pages_dir, max_files_per_trigger)
    return (
        mentions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def run_stream_kg_ingest(
    spark,
    pages_dir: str,
    catalog,
    checkpoint_dir: str,
    run_id: str = "stream-kg",
    dict_rows=None,
    max_files_per_trigger: int = 2,
):
    """Streaming KG maintenance: micro-batches of newly-arrived pages
    are folded into the node/edge tables through the INCREMENTAL
    pipeline — the Structured-Streaming face of the Iceberg MERGE INTO
    story.

    ``foreachBatch`` hands each micro-batch to
    :func:`~surfactant_spark.plans.pipeline.run_pipeline_incremental`
    (first batch boots the base via ``run_pipeline``), so the
    UDF-heavy per-document stages run ONLY on the arriving delta and
    land as append snapshots, and the graph stages go through the same
    runner as the batch paths: the entity map is reused while the
    dictionary is unchanged, nodes and edges recompute over base ∪ delta
    for each new batch, and a replayed batch recomputes nothing —
    identical economics to the batch incremental path, driven by file
    arrival instead of an operator invocation.

    Exactly-once: the stream checkpoint makes batch delivery
    exactly-once across restarts, and the catalog's per-stage
    fingerprints (keyed on ``run_id``/``batch_id``) make a replayed
    half-finished batch idempotent — the same two-level commit contract
    as the batch pipeline.  Uses ``availableNow`` so the call drains
    everything currently in ``pages_dir`` and returns; a long-running
    deployment drops the trigger.

    Equivalence contract (tested): after the stream drains, nodes and
    edges equal a from-scratch ``run_pipeline`` over every page ever
    streamed.
    """
    from ..plans.pipeline import run_pipeline, run_pipeline_incremental
    from ..schema import PAGES_SCHEMA

    def _fold(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if catalog.snapshot_info("extracted") is None:
            run_pipeline(
                spark,
                batch_df,
                catalog,
                run_id=f"{run_id}-b{batch_id}",
                corpus_fingerprint=f"{run_id}-b{batch_id}",
                dict_rows=dict_rows,
            )
        else:
            run_pipeline_incremental(
                spark,
                batch_df,
                catalog,
                run_id=f"{run_id}-b{batch_id}",
                delta_fingerprint=f"{run_id}-b{batch_id}",
                dict_rows=dict_rows,
            )

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
