"""Spark-side extraction tests: page synthesis, triple extraction,
the byte-identical text invariant, and the opengraph query."""

import pytest
from pyspark.sql import functions as F

from rdfa_spark.extract import (extract_errors, extract_triples,
                                extract_text_df, opengraph)
from rdfa_spark.pages import load_pages

SCHEMA = "http://schema.org/"
DC = "http://purl.org/dc/terms/"


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    df = load_pages(spark, sf_dir).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def triples(pages):
    df = extract_triples(pages).cache()
    yield df
    df.unpersist()


def test_pages_schema(pages):
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"]
    assert pages.schema["html"].dataType.typeName() == "binary"
    assert pages.schema["warc_ts"].dataType.typeName() == "timestamp"


def test_triple_counts(pages, triples, sf_dir):
    n_pages = pages.count()
    # every page emits 8 or 9 triples (template 2 has no Article type)
    per_url = triples.groupBy("url").count()
    mn, mx = per_url.agg(F.min("count"), F.max("count")).first()
    assert mn in (8, 9) and mx == 9
    assert per_url.count() == n_pages


def test_text_invariant_byte_identical(spark, pages):
    """input_hint per-row invariant: extracted text == pages.text."""
    tx = extract_text_df(pages)
    j = tx.alias("a").join(
        pages.select("url", F.col("text").alias("expected")), "url")
    assert j.filter(F.col("text") != F.col("expected")).count() == 0
    assert j.count() == pages.count()


def test_opengraph_title(pages, triples):
    og = opengraph(triples, "title")
    rows = og.orderBy("url").limit(3).collect()
    assert rows[0].property == "title"
    assert rows[0].value == "Doc 0"
    assert og.count() == pages.count()


def test_opengraph_all_props(triples, pages):
    og = opengraph(triples)
    props = {r.property for r in og.select("property").distinct()
             .collect()}
    assert props == {"title", "type"}


def test_entity_mentions(triples):
    names = triples.filter(F.col("pred") == SCHEMA + "name")
    labels = {r.obj for r in names.select("obj").distinct().collect()}
    assert any(l.startswith("Entity ") for l in labels)
    assert any(l.startswith("entity ") for l in labels)
    assert any(l.startswith("Entity-") for l in labels)


def test_errors_deterministic_t1_warnings(spark, pages):
    """Template 1 pages carry one deliberate undefined-prefix
    @property -> exactly one curie-fellthrough warning each; the
    processor graph reifies them (U1)."""
    from rdfa_spark.extract import (processor_and_output_graph,
                                    processor_graph)
    errs = extract_errors(pages).cache()
    rows = errs.groupBy("level", "code").count().collect()
    assert len(rows) == 1
    assert (rows[0].level, rows[0].code) == ("warning",
                                             "curie-fellthrough")
    n_t1 = pages.count() // 3  # doc_id % 3 == 1
    assert abs(rows[0]["count"] - n_t1) <= 1
    pg = processor_graph(errs)
    assert pg.count() == 3 * rows[0]["count"]
    t = extract_triples(pages)
    both = processor_and_output_graph(t, errs)
    assert both.count() == t.count() + pg.count()
    errs.unpersist()


def test_extraction_plan_no_shuffle(spark, sf_dir):
    """Extraction itself must stay shuffle-free (SURVEY.md §4): a
    scan -> project -> mapInArrow chain, no Exchange.  (load_pages'
    default input repartition is opt-out-able and is the only
    Exchange in the pipeline.)"""
    flat_pages = load_pages(spark, sf_dir, partitions=0)
    plan = extract_triples(flat_pages)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_load_pages_partitioned_store(spark, sf_dir, tmp_path):
    """A partitionBy documents store loads the same pages as a flat
    one: its footer count is unknown (no top-level part file), so
    load_pages counts with Spark instead of taking a partial sum."""
    from rdfa_spark.pages import _parquet_num_rows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flat, part = tmp_path / "flat", tmp_path / "part"
    docs.write.parquet(str(flat / "documents.parquet"))
    docs.write.partitionBy("lang").parquet(
        str(part / "documents.parquet"))
    assert _parquet_num_rows(str(flat / "documents.parquet")) == \
        docs.count()
    assert _parquet_num_rows(str(part / "documents.parquet")) is None
    cols = ["url", "html", "text", "lang"]
    want = load_pages(spark, str(flat), partitions=0).select(cols)
    got = load_pages(spark, str(part), partitions=0).select(cols)
    assert sorted(got.collect()) == sorted(want.collect())


def test_extract_all_single_pass_parity(spark, pages):
    """extract_all (one parse) filtered by kind is exactly the three
    dedicated extractors' outputs."""
    from rdfa_spark.extract import (ERROR_SCHEMA, TEXT_SCHEMA,
                                    TRIPLE_SCHEMA, extract_all)
    allx = extract_all(pages).cache()
    t, e, x = (allx.filter(F.col("kind") == kind).select(*schema.names)
               for kind, schema in [("t", TRIPLE_SCHEMA),
                                    ("e", ERROR_SCHEMA),
                                    ("x", TEXT_SCHEMA)])
    # triples identical to the dedicated extractor
    t0 = extract_triples(pages)
    assert t.count() == t0.count()
    assert t.exceptAll(t0).count() == 0 and t0.exceptAll(t).count() == 0
    # errors identical
    e0 = extract_errors(pages)
    assert e.exceptAll(e0).count() == 0 and e0.exceptAll(e).count() == 0
    # texts identical
    x0 = extract_text_df(pages)
    assert x.exceptAll(x0).count() == 0 and x0.exceptAll(x).count() == 0
    allx.unpersist()


def test_extract_all_plan_no_shuffle(spark, sf_dir):
    from rdfa_spark.extract import extract_all
    flat_pages = load_pages(spark, sf_dir, partitions=0)
    plan = extract_all(flat_pages)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


@pytest.mark.parametrize("extractor", ["extract_errors",
                                       "extract_text_df"])
def test_errors_text_plan_arrow_no_shuffle(spark, sf_dir, extractor):
    """extract_errors and extract_text_df run the same shuffle-free
    mapInArrow kernel as the other extractors: no pandas crossing."""
    import rdfa_spark.extract as ex
    flat_pages = load_pages(spark, sf_dir, partitions=0)
    plan = getattr(ex, extractor)(flat_pages)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "MapInArrow" in plan
    assert "MapInPandas" not in plan and "Exchange" not in plan


def test_failure_and_null_rows_per_extractor(spark):
    """One batch holding a page whose parse raises, a null-html row
    and a good page, through all four extractors: the failing page
    leaves exactly its failure trace (a count, one parse-failed error
    row, no text row) and the null row leaves nothing.  The failing
    page is a corrupt ODF package: the ZIP magic selects the
    opendocument-zip host and the unzip raises."""
    from rdfa_spark.extract import extract_all

    bad, null, good = ("http://ex.com/bad", "http://ex.com/null",
                       "http://ex.com/good")
    rows = [(bad, b"PK\x03\x04" + b"not a zip " * 100),
            (null, None),
            (good, b'<html><body><p property="dc:title">t</p>'
                   b'</body></html>')]
    df = spark.createDataFrame(rows, "url string, html binary") \
        .coalesce(1)

    def by_url(out):
        got = {}
        for r in out.collect():
            got.setdefault(r.url, []).append(r)
        return got

    trip = extract_triples(df)
    t = by_url(trip)
    assert set(t) == {good}
    assert trip.parse_failures.value == 1

    e = by_url(extract_errors(df))
    assert null not in e
    assert [(r.level, r.code) for r in e[bad]] == [("error",
                                                    "parse-failed")]
    assert 0 < len(e[bad][0].message) <= 500

    x = by_url(extract_text_df(df))
    assert set(x) == {good} and len(x[good]) == 1

    a = by_url(extract_all(df))
    assert null not in a
    assert [(r.kind, r.code) for r in a[bad]] == [("e", "parse-failed")]
    assert {r.kind for r in a[good]} == {"t", "x"}


@pytest.mark.parametrize("kinds,schema_name,n_rows", [
    ("t", "TRIPLE_SCHEMA", 6), ("e", "ERROR_SCHEMA", 6),
    ("x", "TEXT_SCHEMA", 6), ("tex", "EXTRACT_ALL_SCHEMA", 18)],
    ids=["t", "e", "x", "tex"])
def test_arrow_batches_chunked_by_bytes(monkeypatch, kinds, schema_name,
                                        n_rows):
    """A batch of max-size pages must not be materialized (or its
    output accumulated) all at once, whatever the extractor:
    _walk_pages slices the incoming RecordBatch by a byte cap,
    yielding one output batch per slice, with rows identical to the
    unchunked run."""
    import pyarrow as pa

    import rdfa_spark.extract as ex

    schema = getattr(ex, schema_name)
    # one triple and one curie-fellthrough warning per page
    page = ('<html xmlns="http://www.w3.org/1999/xhtml"><head>'
            '<title>t</title></head><body>'
            '<p about="#s" property="dc:title">Doc %d</p>'
            '<p property="bogus"></p>'
            + "<!-- " + "x" * (5 << 20) + " -->"    # ~5MB page
            + "</body></html>")
    rows = [(f"http://x.com/{i}", (page % i).encode())
            for i in range(6)] + [("http://x.com/null", None)]
    rb = pa.RecordBatch.from_arrays(
        [pa.array([u for u, _ in rows], pa.string()),
         pa.array([h for _, h in rows], pa.binary())],
        names=["url", "html"])

    def run():
        outs = list(ex._walk_pages(iter([rb]), kinds, schema))
        assert all(b.schema.names == schema.fieldNames() for b in outs)
        got = sorted(tuple(map(str, r))
                     for b in outs
                     for r in zip(*(c.to_pylist() for c in b.columns)))
        return outs, got

    # cap at ~8MB: 6x5MB pages -> ceil-ish chunks of 1-2 pages each
    monkeypatch.setattr(ex, "_ARROW_CHUNK_BYTES", 8 << 20)
    outs_c, rows_c = run()
    assert len(outs_c) >= 3, len(outs_c)

    monkeypatch.setattr(ex, "_ARROW_CHUNK_BYTES", 1 << 30)
    outs_u, rows_u = run()
    assert len(outs_u) == 1
    assert rows_c == rows_u and len(rows_c) == n_rows

    # a single page larger than the cap still processes (1-row chunk)
    monkeypatch.setattr(ex, "_ARROW_CHUNK_BYTES", 1024)
    outs_t, rows_t = run()
    assert rows_t == rows_u
    # one chunk per oversize page + one for the trailing null row
    assert len(outs_t) == 7


def test_chunk_bounds_unit():
    from rdfa_spark.extract import _chunk_bounds
    assert _chunk_bounds([], 10, 4) == []
    assert _chunk_bounds([3, 3, 3], 10, 4) == [(0, 3)]
    assert _chunk_bounds([6, 6, 6], 10, 4) == [(0, 1), (1, 2), (2, 3)]
    assert _chunk_bounds([5, 5, 5, 5], 10, 4) == [(0, 2), (2, 4)]
    assert _chunk_bounds([100], 10, 4) == [(0, 1)]   # oversize row
    assert _chunk_bounds([None, 4, None, 4], 7, 4) == [(0, 3), (3, 4)]
    assert _chunk_bounds([None, 4, None, 4], 8, 4) == [(0, 4)]
    assert _chunk_bounds([1] * 9, 100, 4) == [(0, 4), (4, 8), (8, 9)]
