"""Incremental crawl extraction via Structured Streaming.

The reference is batch-only (one document per parse call,
lib/RDF/RDFa/Parser.pm:489-544); SURVEY.md §2.8 documents streaming
as the optional extension for incremental crawls.  Extraction is
stateless per url (no watermark needed), so a streaming plan is the
same shuffle-free scan -> mapInArrow chain over a streaming source.
Checkpointed batch resume is ``pipeline.materialize``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..extract import TRIPLE_SCHEMA, _extract


def extract_triples_stream(pages_stream: DataFrame) -> DataFrame:
    """Streaming pages -> triples; the batch extraction kernel, with
    no parse-failure accumulator."""
    return _extract(pages_stream, None, "t", TRIPLE_SCHEMA)
