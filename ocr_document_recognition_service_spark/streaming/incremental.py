"""Incremental extraction via Structured Streaming ``foreachBatch``.

The reference is batch-only (SURVEY §2.10): its only streaming-ish
artifacts are a manual stop flag and an async request queue
(``core/app.py:119-121``).  The natural Spark mapping for *incremental
ingestion* — new page files/snapshots arriving over time — is a file
(or Iceberg-snapshot) stream feeding the SAME batch extraction plan per
micro-batch, with the lineage table doubling as exactly-once bookkeeping:

    readStream(pages dir) → foreachBatch(extract_pages + append output
    + append lineage) → checkpointed offsets

``trigger(availableNow=True)`` drains everything pending and stops —
the batch/streaming unification point; tests run one drain per corpus
drop and assert byte-identity with the batch path.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from ..pipeline import PAGES_SCHEMA, extract_pages


def write_batch_idempotent(out, output_path: str) -> None:
    """Per-batch idempotent sink: dynamic overwrite of the batch's own
    ``batch_id`` partition — replaying the same batch id replaces its
    prior output (at-least-once foreachBatch → exactly-once table)."""
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(output_path)
    )


def _extract_and_sink(
    pages_df,
    batch_id: int,
    output_path: str,
    salt_threshold: int,
) -> None:
    """Shared micro-batch tail of both ingestion paths: the batch
    extraction plan + the idempotent batch_id-partition sink.  ONE
    copy so the exactly-once contract cannot drift between the parquet
    and WARC streams (review finding)."""
    out = extract_pages(pages_df, salt_threshold=salt_threshold).withColumn(
        "batch_id", F.lit(batch_id)
    )
    write_batch_idempotent(out, output_path)


def _drain(stream, process_batch, stream_checkpoint: str) -> None:
    """Shared foreachBatch drain: checkpointed offsets +
    availableNow trigger (drain everything pending, then stop)."""
    (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", stream_checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def incremental_extract(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    stream_checkpoint: str,
    *,
    salt_threshold: int = 64 * 1024,
) -> None:
    """Drain all currently-available page files into the output table.

    Each micro-batch runs the identical batch plan (lang routing,
    salting, reassembly).  End-to-end exactly-once = checkpointed file
    offsets (each file ingested once across restarts) + an IDEMPOTENT
    sink: foreachBatch is at-least-once on micro-batch retry, so the
    write dynamically overwrites the batch's own ``batch_id`` partition
    (same pattern as lineage.run_extraction's pid partitions) — a
    replayed batch replaces its previous output instead of duplicating.
    """
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        _extract_and_sink(batch_df, batch_id, output_path, salt_threshold)

    _drain(stream, process_batch, stream_checkpoint)


def incremental_warc_extract(
    spark: SparkSession,
    input_glob: str,
    output_path: str,
    stream_checkpoint: str,
    *,
    salt_threshold: int = 64 * 1024,
    max_files_per_trigger: int = 8,
    infer_lang_from_host: bool = True,
) -> None:
    """Continuous-crawl ingestion: drain newly-arrived ``.warc(.gz)``
    archives through the record-streaming parse and the SAME batch
    extraction plan, exactly once.

    The file stream carries only the archive LISTING: each micro-batch
    collects its (tiny — file paths, bounded by maxFilesPerTrigger)
    new-path list on the driver and hands it to
    ``warc.pages_from_file_listing``, so archive bytes are only ever
    touched by the bounded-memory record parser in executors — never
    by the streaming source itself (no 2 GB binaryFile materialization,
    independent of streaming column-pruning behavior).  Offsets are
    checkpointed per FILE (an archive is ingested once across
    restarts) and the sink dynamically overwrites the batch's own
    ``batch_id`` partition, so a replayed micro-batch replaces its
    output instead of duplicating — the same exactly-once pattern as
    ``incremental_extract``.
    """
    from ..sources import warc

    # streaming sources demand an explicit schema; binaryFile's is
    # fixed — and selecting only `path` keeps content unread
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(input_glob)
        .select("path")
    )

    def process_batch(batch_df, batch_id: int) -> None:
        from pyspark.storagelevel import StorageLevel

        paths = [r["path"] for r in batch_df.collect()]  # listing only
        if not paths:
            return
        files = spark.createDataFrame([(p,) for p in paths], "path string")
        # persist the parsed pages for the multi-branch extraction plan
        # (same rationale as warc.shared_warc_pages: without it every
        # lang branch re-decompresses and re-parses the whole batch's
        # archives); the sink inside _extract_and_sink is the terminal
        # action, so the cache lives exactly one micro-batch
        pages = warc.pages_from_file_listing(
            spark, files, infer_lang_from_host=infer_lang_from_host
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            _extract_and_sink(pages, batch_id, output_path, salt_threshold)
        finally:
            pages.unpersist(blocking=False)

    _drain(stream, process_batch, stream_checkpoint)
