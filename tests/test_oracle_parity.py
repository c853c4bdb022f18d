"""Local replica of the driver's correctness gate: run each
__spark_entry__ query in Spark and its oracle SQL in DuckDB on the
same parquet tables; compare row multisets order-insensitively."""

import os

import duckdb
import pandas as pd
import pytest

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duck(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con.execute(sql).fetchdf()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object or str(df[c].dtype) == "string":
            df[c] = df[c].astype("string")
    df = df.sort_values(by=list(df.columns),
                        na_position="first").reset_index(drop=True)
    return df


def _compare(spark, sf_dir, name):
    import __spark_entry__ as entry_mod
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    got = _normalize(q(spark, sf_dir).toPandas())
    want = _normalize(_duck(sf_dir, sql))
    assert list(got.columns) == list(want.columns), \
        f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    assert len(got) == len(want), \
        f"{name}: rows {len(got)} != {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_exact=True)


def _all_query_names():
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    return sorted(entry_mod.queries())


def test_every_query_has_an_oracle():
    """The driver records a weaker rows-only check for oracle-less
    queries; keep the contract fully oracled."""
    import __spark_entry__ as entry_mod
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


@pytest.mark.parametrize("name", _all_query_names())
def test_query_matches_oracle(spark, sf_dir, name):
    _compare(spark, sf_dir, name)


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_nt_term_escaping_parity_with_bnodes(spark):
    """The NT oracle must mirror sinks._term and _escape_literal on
    inputs the graded corpus never produces: blank-node subjects and
    objects, and literals containing every escape char — otherwise
    parity silently depends on corpus accidents (ADVICE r3)."""
    from pyspark.sql import functions as F

    from rdfa_spark import oracle
    from rdfa_spark.sinks import ntriples_lines

    rows = [
        ("u", "_:b0", "http://p/x",
         'back\\slash\nline\tq"t\rcr', True, None, "en"),
        ("u", "http://s/1", "http://p/y", "_:b1", False, None, None),
        ("u", "_:b2", "http://p/z", "http://o/1", False, None, None),
        ("u", "http://s/2", "http://p/d", "42", True,
         "http://www.w3.org/2001/XMLSchema#integer", None),
    ]
    df = spark.createDataFrame(
        rows, "url string, subj string, pred string, obj string, "
              "obj_is_literal boolean, obj_datatype string, "
              "obj_lang string").withColumn(
        "graph", F.lit(None).cast("string"))
    got = sorted(r.value for r in ntriples_lines(df).collect())

    tail = oracle.NT_LINES_SQL[oracle.NT_LINES_SQL.rindex("SELECT"):]
    con = duckdb.connect()
    con.execute("""
        CREATE TABLE trip (subj VARCHAR, pred VARCHAR, obj VARCHAR,
                           obj_is_literal BOOLEAN,
                           obj_datatype VARCHAR, obj_lang VARCHAR)""")
    con.executemany(
        "INSERT INTO trip VALUES (?, ?, ?, ?, ?, ?)",
        [(s, p, o, lit, dt, lg) for _, s, p, o, lit, dt, lg in rows])
    want = sorted(r[0] for r in con.execute(tail).fetchall())
    assert got == want
    assert any(v.startswith("_:b0 ") for v in got)
    assert any(v.endswith(" _:b1 .") for v in got)
    assert any("\\n" in v and '\\"' in v and "\\\\" in v for v in got)


def test_oracle_whitespace_class_matches_java(spark):
    """RE2 \\s excludes U+000B but Java \\s (ASCII) includes it; the
    oracles now use the explicit class so a vertical-tab document
    tokenizes identically in both engines (ADVICE r3)."""
    import pyspark.sql.functions as F

    text = "one\x0btwo three"
    n_spark = spark.range(1).select(
        F.size(F.split(F.lit(text), r"\s+")).alias("n")
    ).head()[0]
    n_duck = duckdb.sql(
        "SELECT len(string_split_regex('one' || chr(11) || "
        "'two three', '[ \\t\\n\\x0b\\f\\r]+'))").fetchone()[0]
    assert n_spark == n_duck == 3


def test_turtle_term_compression_parity(spark):
    """The Turtle oracle must mirror sinks._term_turtle on edge
    inputs: bnodes, compressible pnames, local parts failing the
    PN_LOCAL gate (dots, leading digit, %-escapes), literals with
    escapes, compressed xsd datatypes."""
    from pyspark.sql import functions as F

    from rdfa_spark import oracle
    from rdfa_spark.sinks import turtle_lines

    DC = "http://purl.org/dc/terms/"
    XSD = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        ("u", "_:b0", DC + "title", 'q"t\n\\x', True, None, "en"),
        ("u", "http://s/1", DC + "relation", "_:b1", False, None,
         None),
        ("u", DC + "ok_name", DC + "weird.dot", DC + "9leads",
         False, None, None),
        ("u", DC + "pct%20esc", "http://schema.org/name", "42",
         True, XSD + "integer", None),
        ("u", "http://unknown.example/x", DC + "title", "plain",
         True, None, None),
    ]
    df = spark.createDataFrame(
        rows, "url string, subj string, pred string, obj string, "
              "obj_is_literal boolean, obj_datatype string, "
              "obj_lang string").withColumn(
        "graph", F.lit(None).cast("string"))
    got = sorted(r.value for r in turtle_lines(df).collect())

    sql = oracle.turtle_lines_sql()
    tail = sql[sql.rindex("SELECT"):]
    con = duckdb.connect()
    con.execute("""
        CREATE TABLE trip (subj VARCHAR, pred VARCHAR, obj VARCHAR,
                           obj_is_literal BOOLEAN,
                           obj_datatype VARCHAR, obj_lang VARCHAR)""")
    con.executemany(
        "INSERT INTO trip VALUES (?, ?, ?, ?, ?, ?)",
        [(s, p, o, lit, dt, lg) for _, s, p, o, lit, dt, lg in rows])
    want = sorted(r[0] for r in con.execute(tail).fetchall())
    assert got == want
    assert any(v.startswith("dcterms:ok_name ") for v in got)
    assert any("^^xsd:integer" in v for v in got)
    # PN_LOCAL gate: dotted/leading-digit/%-escaped stay <wrapped>
    assert any(f"<{DC}weird.dot>" in v for v in got)
    assert any(f"<{DC}9leads>" in v for v in got)
    assert any(f"<{DC}pct%20esc>" in v for v in got)


def test_operating_points_shared(monkeypatch):
    """Each similarity and dedup operating point is one module
    constant that the Spark operator and its DuckDB oracle both read:
    setting any constant an oracle builder reads changes that
    builder's SQL, and the graded oracle SQL is the builders' output
    at the constants."""
    import __spark_entry__ as entry_mod
    from rdfa_spark import oracle
    from rdfa_spark.functions import similarity
    from rdfa_spark.pipeline import dedup, linking

    minhash = [(linking, "SHINGLE_N", 2), (linking, "NUM_HASHES", 16),
               (linking, "LSH_BANDS", 4)]
    # graded query -> (oracle builder, [(module, constant, another
    # value)] for every constant the builder reads)
    points = {
        "ann_topk": (oracle.ann_topk_sql, [(similarity, "TOP_K", 5)]),
        "ann_lsh_topk": (oracle._lsh_topk_sql, [
            (similarity, "TOP_K", 5), (similarity, "LSH_PLANES", 4),
            (similarity, "LSH_MULTIPROBE", 1)]),
        "ann_ivf_topk": (oracle._ivf_topk_sql, [
            (similarity, "TOP_K", 5), (similarity, "IVF_CENTROIDS", 8),
            (similarity, "IVF_NPROBE", 4),
            (similarity, "IVF_SAMPLE_SIZE", 128)]),
        "minhash_signature": (oracle.minhash_signature_sql, minhash),
        "minhash_band_pairs": (oracle.minhash_band_pairs_sql, minhash),
        "dedup_minhash": (oracle._dedup_minhash_sql, minhash + [
            (dedup, "JACCARD_THRESHOLD", 0.3)]),
        "dedup_simhash": (oracle._dedup_simhash_sql, [
            (dedup, "MAX_HAMMING", 16), (dedup, "BLOCK_BITS", 8)]),
        "filter_corpus": (oracle.filter_corpus_sql, [
            (dedup, "MIN_SCORE_PM", 400), (dedup, "LANGUAGES", ("en",))]),
    }
    graded = entry_mod.oracle_sql()
    for name, (build, constants) in points.items():
        at_constants = build()
        assert graded[name] == at_constants, name
        for module, constant, value in constants:
            assert getattr(module, constant) != value
            with monkeypatch.context() as m:
                m.setattr(module, constant, value)
                assert build() != at_constants, (name, constant)
