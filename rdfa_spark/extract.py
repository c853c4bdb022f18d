"""Spark extraction stage: pages -> triples / errors DataFrames.

The reference's per-document recursive parse
(lib/RDF/RDFa/Parser.pm:489-544) becomes one chunked ``mapInArrow``
kernel over the pages table (``_walk_pages``): JVM->Python crossings
happen once per Arrow batch, every extractor is that kernel with a
different set of row kinds, and the whole relational surface around
it (column pruning, filters, dedup, writes) stays in Catalyst.

Scale notes (100 TB design):
* extraction is embarrassingly parallel per url — no shuffle at all
  in this stage; parallelism == input splits
  (`spark.sql.files.maxPartitionBytes` governs task count);
* the kernel reads only (url, html): column pruning reaches the
  parquet scan because mapInArrow consumes an explicit 2-column
  projection;
* bnode labels are deterministic per url, so re-running a failed
  partition yields identical output — required for resumable,
  idempotent writes (BASELINE north_rule);
* every Python task pays a fixed set-up cost before its first batch:
  PySpark calls ``importlib.invalidate_caches()``, which on CPython
  < 3.13 re-reads a zip archive's directory once per importer (19
  reads of 5-13 ms each per task, measured on a 4-core VM with the
  package shipped as a zip); ``_zipcache`` turns that into a stat
  check per archive, so small tasks no longer pay more for set-up
  than for their pages.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, IntegerType, LongType,
                               StringType, StructField, StructType)

from .core.config import Config, make_config
from .core.walk import parse_rdfa

TRIPLE_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("subj", StringType(), True),
    StructField("pred", StringType(), True),
    StructField("obj", StringType(), True),
    StructField("obj_is_literal", BooleanType(), True),
    StructField("obj_datatype", StringType(), True),
    StructField("obj_lang", StringType(), True),
    StructField("graph", StringType(), True),
    StructField("emit_seq", LongType(), True),
])

ERROR_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("level", StringType(), True),
    StructField("code", StringType(), True),
    StructField("message", StringType(), True),
    StructField("node_path", StringType(), True),
])

TEXT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("text", StringType(), True),
    StructField("n_triples", IntegerType(), True),
])

# Single-pass multi-output layout: one parse per page emits triple
# rows (kind='t'), processor-graph error rows (kind='e') and one text/
# lineage row (kind='x': text, n_triples, n_subjects) into a sparse
# union schema.  Null-heavy columns are nearly free in Arrow/parquet
# (validity bitmaps), and one parse replaces the three independent
# passes a pipeline wanting triples+errors+text would otherwise pay
# (the parse dominates).
EXTRACT_ALL_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("kind", StringType(), False),
    StructField("subj", StringType(), True),
    StructField("pred", StringType(), True),
    StructField("obj", StringType(), True),
    StructField("obj_is_literal", BooleanType(), True),
    StructField("obj_datatype", StringType(), True),
    StructField("obj_lang", StringType(), True),
    StructField("graph", StringType(), True),
    StructField("emit_seq", LongType(), True),
    StructField("level", StringType(), True),
    StructField("code", StringType(), True),
    StructField("message", StringType(), True),
    StructField("node_path", StringType(), True),
    StructField("text", StringType(), True),
    StructField("n_triples", IntegerType(), True),
    StructField("n_subjects", IntegerType(), True),
])


_host_config = functools.cache(make_config)


def detect_config(html: bytes) -> Config:
    """Host-language dispatch for pre-crawled pages.

    The reference dispatches on HTTP media type
    (Config.pm:306-331); for a crawl corpus we sniff the bytes:
    XML declaration or an XHTML namespace on the root -> xhtml host,
    anything else -> html5 tag-soup.  Root @version still upgrades/
    downgrades the RDFa version (guess mode, Config.pm:342-367).
    Configs are frozen, so one per host is built and shared.
    """
    if html[:4] == b"PK\x03\x04":      # ZIP magic -> ODF package
        return _host_config("opendocument-zip", "1.1")
    head = html[:2048].lstrip()
    is_xhtml = (head.startswith(b"<?xml")
                or b'xmlns="http://www.w3.org/1999/xhtml"' in head)
    return _host_config("xhtml" if is_xhtml else "html5", "guess")


# Per-chunk cap on html bytes materialized as Python objects: an
# incoming Arrow batch of max-size pages would otherwise be held
# TWICE (Arrow buffer + to_pylist copies) alongside the full batch's
# accumulated output rows.  Chunking bounds the Python-side peak to
# ~cap regardless of page sizes; the Arrow buffer itself is sliced
# zero-copy.
_ARROW_CHUNK_BYTES = 32 << 20
_ARROW_CHUNK_ROWS = 2048


def _chunk_bounds(lengths, max_bytes: int, max_rows: int):
    """Greedy (start, stop) row ranges whose summed byte lengths stay
    under max_bytes (always >= 1 row per chunk, so a single page
    larger than the cap still processes)."""
    bounds = []
    start, acc = 0, 0
    for i, ln in enumerate(lengths):
        ln = ln or 0
        if i > start and (acc + ln > max_bytes
                          or i - start >= max_rows):
            bounds.append((start, i))
            start, acc = i, 0
        acc += ln
    if start < len(lengths):
        bounds.append((start, len(lengths)))
    return bounds


# Every row kind is built in EXTRACT_ALL_SCHEMA's column layout; each
# extractor's schema is a projection of it.
_ALL_NAMES = EXTRACT_ALL_SCHEMA.fieldNames()
_ARROW_TYPES = {"string": "string", "boolean": "bool", "bigint": "int64",
                "int": "int32"}
_NO_TRIPLE, _NO_ERROR, _NO_TEXT = (None,) * 8, (None,) * 4, (None,) * 3


def _page_rows(url: str, html: bytes, kinds: str, rows: list) -> bool:
    """Parse one page under its ``detect_config`` host and append its
    rows of the wanted kinds (triples 't', processor-graph errors 'e',
    text/lineage 'x') to ``rows``.  A page whose parse raises yields
    one parse-failed error row when errors are wanted; returns False
    for it."""
    try:
        w = parse_rdfa(html, url, detect_config(html))
    except Exception as exc:   # never fail the job on one page
        if "e" in kinds:
            rows.append((url, "e") + _NO_TRIPLE
                        + ("error", "parse-failed", str(exc)[:500], None)
                        + _NO_TEXT)
        return False
    if "t" in kinds:
        rows.extend((url, "t", t.subj, t.pred, t.obj, t.is_literal,
                     t.datatype, t.lang, t.graph, seq)
                    + _NO_ERROR + _NO_TEXT
                    for seq, t in enumerate(w.triples))
    if "e" in kinds:
        rows.extend((url, "e") + _NO_TRIPLE
                    + (e.level, e.code, e.message, e.node_path)
                    + _NO_TEXT
                    for e in w.errors)
    if "x" in kinds:
        root = w.doc.root
        rows.append((url, "x") + _NO_TRIPLE + _NO_ERROR
                    + (root.text_content() if root is not None else "",
                       len(w.triples), len({t.subj for t in w.triples})))
    return True


def _walk_pages(batches, kinds: str, schema: StructType, fail_acc=None):
    """The extraction kernel behind every extractor: (url, html)
    RecordBatches in, ``schema``-shaped RecordBatches out, one parse
    per page (mapInArrow — no pandas on either side of the
    JVM<->Python channel).

    Each incoming batch is processed in zero-copy row slices capped
    at _ARROW_CHUNK_BYTES of html, so Python-object copies of the
    pages and the in-flight output rows are bounded by the cap, not
    by the batch size; one output batch per slice.  Null-html rows
    emit nothing.  Parse failures are counted in ``fail_acc`` (a
    Spark accumulator) when given."""
    import pyarrow as pa
    import pyarrow.compute as pc

    names = schema.fieldNames()
    picks = [_ALL_NAMES.index(name) for name in names]
    types = [_ARROW_TYPES[f.dataType.simpleString()] for f in schema]
    for rb in batches:
        urls = rb.column("url")
        htmls = rb.column("html")
        # per-row byte lengths straight from the Arrow offsets (no
        # data copy) drive the chunking
        lens = pc.binary_length(htmls).to_pylist()
        for lo, hi in _chunk_bounds(lens, _ARROW_CHUNK_BYTES,
                                    _ARROW_CHUNK_ROWS):
            rows: list[tuple] = []
            for url, html in zip(urls.slice(lo, hi - lo).to_pylist(),
                                 htmls.slice(lo, hi - lo).to_pylist()):
                if (html is not None
                        and not _page_rows(url, html, kinds, rows)
                        and fail_acc is not None):
                    fail_acc.add(1)
            by_col = list(zip(*rows)) or [()] * len(_ALL_NAMES)
            yield pa.RecordBatch.from_arrays(
                [pa.array(by_col[i], type=t) for i, t in zip(picks, types)],
                names=names)


def _extract(pages: DataFrame, kinds: str, schema: StructType,
             fail_acc=None) -> DataFrame:
    return pages.select("url", "html").mapInArrow(
        lambda it: _walk_pages(it, kinds, schema, fail_acc), schema)


def extract_all(pages: DataFrame) -> DataFrame:
    """Single-pass extraction: triples + processor-graph errors +
    text/lineage from ONE parse per page (the parse dominates the
    stage cost; three dedicated passes would pay it three times).

    Each row's ``kind`` says which output it belongs to: 't' rows
    carry ``TRIPLE_SCHEMA``'s columns, 'e' rows ``ERROR_SCHEMA``'s and
    the one 'x' row per parsed page ``TEXT_SCHEMA``'s plus
    ``n_subjects``.  Parse failures appear as (kind='e',
    code='parse-failed') rows — never silently dropped.
    """
    return _extract(pages, "tex", EXTRACT_ALL_SCHEMA)


def extract_triples(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> triples DataFrame.  The walker dedups
    within a document, mirroring the reference's set-store (A4).
    ``pages`` may be a streaming frame: the kernel is stateless per
    url, so the plan is the same over a streaming source.

    Pages that fail to parse emit no triples but are never silently
    lost: a Spark accumulator counts them, exposed as
    ``result.parse_failures`` (read ``.value`` after an action).
    Accumulators updated inside transformations are at-least-once
    under task retries/speculation (standard Spark semantics), so
    treat the count as a monitoring signal: nonzero means pages
    failed.  For an exact, retry-safe audit — or the failing urls
    themselves — use ``extract_all``, which materializes failures as
    (kind='e', code='parse-failed') rows in the output itself.

    ``parse_failures`` is an attribute of THIS DataFrame object only:
    any further transformation (select/filter/cache) returns a new
    DataFrame without it — capture the handle before transforming, or
    use ``extract_all`` for in-band accounting.
    """
    fail_acc = pages.sparkSession.sparkContext.accumulator(0)
    out = _extract(pages, "t", TRIPLE_SCHEMA, fail_acc)
    out.parse_failures = fail_acc
    return out


def extract_errors(pages: DataFrame) -> DataFrame:
    """Processor-graph analogue (Parser.pm:469-487) as a DataFrame; a
    page whose parse raises yields one (level='error',
    code='parse-failed') row."""
    return _extract(pages, "e", ERROR_SCHEMA)


def extract_text_df(pages: DataFrame) -> DataFrame:
    """F1 text-concatenation rule per url (byte-identical invariant,
    Parser.pm:2541-2559), plus triple counts for metrics."""
    return _extract(pages, "x", TEXT_SCHEMA)


# ---------------------------------------------------------------------------
# Queries over the triples table (the reference's model accessors)
# ---------------------------------------------------------------------------

OG_NS = "http://ogp.me/ns#"
OG_ALT_NS = "http://opengraphprotocol.org/schema/"


def opengraph(triples: DataFrame, prop: str | None = None) -> DataFrame:
    """P11 — the reference's built-in query (Parser.pm:259-328):
    triples whose subject is the page URI and whose predicate is an
    OpenGraph expansion; prefix stripped from the property key."""
    df = triples.filter(F.col("subj") == F.col("url"))
    if prop is not None:
        preds = ([prop] if ":" in prop.split("/")[0] and "://" in prop
                 else [OG_NS + prop, OG_ALT_NS + prop])
        df = df.filter(F.col("pred").isin(preds))
    else:
        df = df.filter(F.col("pred").startswith(OG_NS)
                       | F.col("pred").startswith(OG_ALT_NS))
    return df.select(
        "url",
        F.regexp_replace("pred", f"^({OG_NS}|{OG_ALT_NS})", "")
         .alias("property"),
        F.col("obj").alias("value"),
    )


def opengraph_collect(triples: DataFrame) -> DataFrame:
    """A3 — group OpenGraph values per (page, property) into an
    ordered list (Parser.pm:282-319), surfaced as a sorted
    comma-joined string for engine-portable comparison."""
    og = opengraph(triples)
    return (og.groupBy("url", "property")
            .agg(F.concat_ws(",", F.sort_array(F.collect_list("value")))
                 .alias("values")))


RDFA_NS = "http://www.w3.org/ns/rdfa#"


def processor_graph(errors: DataFrame) -> DataFrame:
    """Reify the errors table into RDF (the reference's
    processor_graph, Parser.pm:374-458): one bnode per error with
    rdf:type rdfa:Error/rdfa:Warning, dc:description = message,
    rdfa:context = the page url.  Returns a triples-shaped DataFrame
    so it unions with the output graph (U1,
    processor_and_output_graph, Parser.pm:460-467)."""
    bnode = F.concat(F.lit("_:err"),
                     F.md5(F.concat_ws("|", "url", "code", "message",
                                       F.coalesce("node_path",
                                                  F.lit("")))))
    base = errors.select(
        "url", bnode.alias("subj"),
        F.when(F.col("level") == "error", F.lit(RDFA_NS + "Error"))
         .otherwise(F.lit(RDFA_NS + "Warning")).alias("type_obj"),
        F.col("message"), F.col("code"))
    mk = lambda pred, obj, lit: base.select(  # noqa: E731
        "url", "subj", F.lit(pred).alias("pred"), obj.alias("obj"),
        F.lit(lit).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("graph"),
        F.lit(0).cast("long").alias("emit_seq"))
    return (mk("http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
               F.col("type_obj"), False)
            .unionByName(mk("http://purl.org/dc/terms/description",
                            F.col("message"), True))
            .unionByName(mk(RDFA_NS + "context", F.col("url"), False)))


def processor_and_output_graph(triples: DataFrame,
                               errors: DataFrame) -> DataFrame:
    """U1 — union of the output graph and the reified processor
    graph (Parser.pm:460-467)."""
    return triples.unionByName(processor_graph(errors))
