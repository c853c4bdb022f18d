"""Incremental crawl extraction via Structured Streaming.

The reference is batch-only (one document per parse call,
lib/RDF/RDFa/Parser.pm:489-544); SURVEY.md §2.8 documents streaming
as the optional extension for incremental crawls.  Extraction is
stateless per url, so the streaming plan is the same shuffle-free
scan -> mapInArrow chain with a file source and checkpointed sink:
exactly-once via the sink's commit log + deterministic per-url
output (re-processed files produce identical triples).

Every operator here is stateless, so no watermark is needed; the one
stateful stream operator is the sessionizer in ``streaming.stateful``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..extract import TRIPLE_SCHEMA, _extract

PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
             "text string, lang string")


def read_page_stream(spark: SparkSession, src_dir: str,
                     max_files_per_trigger: int = 4) -> DataFrame:
    return (spark.readStream
            .schema(PAGES_DDL)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(src_dir))


def extract_triples_stream(pages_stream: DataFrame) -> DataFrame:
    """Streaming pages -> triples; the batch extraction kernel, with
    no parse-failure accumulator."""
    return _extract(pages_stream, None, "t", TRIPLE_SCHEMA)


def start_extraction(spark: SparkSession, src_dir: str, out_dir: str,
                     checkpoint_dir: str,
                     trigger_once: bool = False):
    """File-source -> triples parquet sink with checkpointed resume
    (the streaming analogue of pipeline.materialize)."""
    stream = extract_triples_stream(read_page_stream(spark, src_dir))
    writer = (stream.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
