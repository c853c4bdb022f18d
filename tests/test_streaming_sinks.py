"""N-Triples / Turtle sink and stateful-stream tests."""

from pyspark.sql import functions as F

from rdfa_spark.extract import extract_triples
from rdfa_spark.pages import load_pages
from rdfa_spark.sinks import ntriples_lines


def test_ntriples_lines(spark, sf_dir):
    triples = extract_triples(load_pages(spark, sf_dir, partitions=4))
    lines = ntriples_lines(triples)
    sample = [r.value for r in lines.limit(200).collect()]
    assert all(l.endswith(" .") for l in sample)
    assert any('"Doc ' in l and "@" in l for l in sample)  # lang literal
    assert any(l.startswith("<http://example.org/doc/") for l in sample)
    assert lines.count() == triples.count()


def test_ntriples_escaping(spark):
    rows = [("u", "http://s", "http://p", 'va"l\nue\t\\x', True,
             None, "en", None, 0)]
    df = spark.createDataFrame(rows, schema=(
        "url string, subj string, pred string, obj string, "
        "obj_is_literal boolean, obj_datatype string, "
        "obj_lang string, graph string, emit_seq long"))
    [line] = [r.value for r in ntriples_lines(df).collect()]
    assert line == ('<http://s> <http://p> '
                    '"va\\"l\\nue\\t\\\\x"@en .')


def test_turtle_lines_prefix_compression(spark):
    from rdfa_spark.sinks import turtle_lines
    XSD = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        ("u", "http://ex.com/s", "http://purl.org/dc/terms/title",
         "A \"q\"\nB", True, None, "en", None, 0),
        ("u", "http://ex.com/s", "http://schema.org/age",
         "42", True, XSD + "integer", None, None, 1),
        ("u", "_:b0", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         "http://schema.org/Person", False, None, None, None, 2),
        # local part with a slash -> NOT compressible, stays <wrapped>
        ("u", "http://ex.com/s", "http://schema.org/a/b",
         "http://ex.com/o", False, None, None, None, 3),
    ]
    df = spark.createDataFrame(rows, schema=(
        "url string, subj string, pred string, obj string, "
        "obj_is_literal boolean, obj_datatype string, "
        "obj_lang string, graph string, emit_seq long"))
    got = [r.value for r in
           turtle_lines(df.orderBy("emit_seq")).collect()]
    assert got[0] == ('<http://ex.com/s> dcterms:title '
                      '"A \\"q\\"\\nB"@en .')
    assert got[1] == '<http://ex.com/s> schema:age "42"^^xsd:integer .'
    assert got[2] == "_:b0 rdf:type schema:Person ."
    assert got[3] == ('<http://ex.com/s> <http://schema.org/a/b> '
                      '<http://ex.com/o> .')


def test_turtle_lines_roundtrip(spark, sf_dir):
    """The prefix header followed by the Turtle lines is one valid
    Turtle doc; expanding pnames with the declared prefixes recovers
    exactly the N-Triples serialization (round-trippable)."""
    import re
    from rdfa_spark.sinks import (DEFAULT_PREFIXES, ntriples_lines,
                                  turtle_lines, turtle_prefix_header)
    triples = extract_triples(load_pages(spark, sf_dir)).limit(200) \
        .cache()
    text = turtle_prefix_header() + "".join(
        r.value + "\n" for r in turtle_lines(triples).collect())
    # declared prefixes parse
    decls = dict(re.findall(r"@prefix (\w+): <([^>]+)> \.", text))
    assert decls == {k: v for k, v in DEFAULT_PREFIXES.items()}
    # expand pnames back to IRIs -> must equal the N-Triples lines
    data_lines = [l for l in text.splitlines()
                  if l and not l.startswith("@prefix")]

    def expand(line):
        def sub(m):
            return f"<{decls[m.group(1)]}{m.group(2)}>"
        return re.sub(r"(?<![<\"\w])(\w+):([A-Za-z_][A-Za-z0-9_-]*)",
                      sub, line)

    expanded = sorted(expand(l) for l in data_lines)
    nt = sorted(r.value for r in ntriples_lines(triples).collect())
    assert expanded == nt
    triples.unpersist()


def test_stateful_sessionization_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization over a bounded stream
    reproduces the batch window-function sessions exactly (final
    sessions close via event-time timeout as the watermark passes)."""
    import time
    from rdfa_spark.streaming.stateful import sessionize_stream

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = 1_700_000_000
    rows = []
    # user 1: two sessions (gap > 30 min), user 2: one session
    for i, off in enumerate([0, 60, 120, 5000, 5060]):
        rows.append((1, i, base + off))
    for i, off in enumerate([0, 1700]):
        rows.append((2, 100 + i, base + off))
    src = tmp_path / "events_stream"
    src.mkdir()

    def write_file(name, data):
        (spark.createDataFrame(data, "user_id long, event_id long, "
                               "sec long")
         .select("user_id", "event_id",
                 F.col("sec").cast("timestamp").alias("ts"))
         .coalesce(1).write.mode("overwrite")
         .parquet(str(src / name)))
        time.sleep(1.1)  # distinct mtimes -> stable trigger order

    write_file("f1", rows)
    # two sentinel files push the watermark past every timeout
    write_file("f2", [(999, 0, base + 10 * 86400)])
    write_file("f3", [(999, 1, base + 20 * 86400)])

    stream = (spark.readStream
              .schema("user_id long, event_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/*"))
    q = (sessionize_stream(stream)
         .writeStream.format("memory").queryName("sess_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.user_id, r.session_id, r.n_events, r.start_sec,
            r.end_sec)
           for r in spark.sql("SELECT * FROM sess_out").collect()
           if r.user_id != 999}
    want = {(1, 1, 3, base, base + 120),
            (1, 2, 2, base + 5000, base + 5060),
            (2, 1, 2, base, base + 1700)}
    assert got == want
