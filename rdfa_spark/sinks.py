"""Serialization sinks: N-Triples and Turtle lines (S7).

The reference's example serializers emit Turtle/N-Triples with
``\\ \\n \\r \\t \\"`` escaping (examples/rdfa11-to-ntriples.pl:1-13,
Parser.pm:2215-2287).  Here the formatting is a pure column
expression — whole-stage codegen; write the lines with
``df.write.text``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _escape_literal(col: Column) -> Column:
    """N-Triples string escaping (Parser.pm:2259-2263).  Literal
    ``replace`` (the five patterns are single characters — no regex
    semantics needed; verified identical incl. backslash rows)."""
    c = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    c = F.replace(c, F.lit("\t"), F.lit("\\t"))
    return F.replace(c, F.lit('"'), F.lit('\\"'))


def _term(col: Column) -> Column:
    """IRI or bnode term."""
    return F.when(col.startswith("_:"), col) \
            .otherwise(F.concat(F.lit("<"), col, F.lit(">")))


def ntriples_lines(triples: DataFrame) -> DataFrame:
    """-> single-column DataFrame of N-Triples lines."""
    obj = F.when(
        F.col("obj_is_literal"),
        F.concat(
            F.lit('"'), _escape_literal(F.col("obj")), F.lit('"'),
            F.when(F.col("obj_datatype").isNotNull(),
                   F.concat(F.lit("^^<"), F.col("obj_datatype"),
                            F.lit(">")))
             .when(F.col("obj_lang").isNotNull(),
                   F.concat(F.lit("@"), F.col("obj_lang")))
             .otherwise(F.lit("")))
    ).otherwise(_term(F.col("obj")))
    line = F.concat(F.concat_ws(" ", _term(F.col("subj")),
                                _term(F.col("pred")), obj), F.lit(" ."))
    return triples.select(line.alias("value"))


# ---------------------------------------------------------------------------
# Turtle sink with prefix compression (the reference examples
# serialize via Trine's Turtle writer, examples/rdfa11-to-ntriples.pl)
# ---------------------------------------------------------------------------

# Deterministic default prefix table (well-known web vocabularies);
# callers extend/override per corpus.
DEFAULT_PREFIXES: dict[str, str] = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "dcterms": "http://purl.org/dc/terms/",
    "dc11": "http://purl.org/dc/elements/1.1/",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "og": "http://ogp.me/ns#",
    "schema": "http://schema.org/",
    "xhv": "http://www.w3.org/1999/xhtml/vocab#",
    "rdfa": "http://www.w3.org/ns/rdfa#",
}

# Conservative PN_LOCAL subset: compress only when the local part is
# unambiguously a valid Turtle local name (no escaping needed); other
# IRIs stay in <> form, which is always valid output.
_PN_LOCAL_RE = "^[A-Za-z_][A-Za-z0-9_-]*$"


def _term_turtle(col: Column, prefixes: dict[str, str]) -> Column:
    """IRI -> pname via longest-prefix match (column expressions:
    whole-stage codegen, no UDF); bnodes pass through; uncompressible
    IRIs stay <wrapped>."""
    result = F.when(col.startswith("_:"), col)
    for pfx, uri in sorted(prefixes.items(), key=lambda kv: -len(kv[1])):
        local = F.substring(col, len(uri) + 1, 1 << 30)
        result = result.when(
            col.startswith(uri) & local.rlike(_PN_LOCAL_RE),
            F.concat(F.lit(pfx + ":"), local))
    return result.otherwise(F.concat(F.lit("<"), col, F.lit(">")))


def turtle_prefix_header(prefixes: dict[str, str] | None = None) -> str:
    prefixes = DEFAULT_PREFIXES if prefixes is None else prefixes
    return "".join(f"@prefix {p}: <{u}> .\n"
                   for p, u in sorted(prefixes.items()))


def turtle_lines(triples: DataFrame,
                 prefixes: dict[str, str] | None = None) -> DataFrame:
    """-> single-column DataFrame of Turtle triple lines (one triple
    per line; prepend ``turtle_prefix_header`` for a full document).
    Literal escaping matches N-Triples; xsd/lang tags compress too."""
    prefixes = DEFAULT_PREFIXES if prefixes is None else prefixes
    obj = F.when(
        F.col("obj_is_literal"),
        F.concat(
            F.lit('"'), _escape_literal(F.col("obj")), F.lit('"'),
            F.when(F.col("obj_datatype").isNotNull(),
                   F.concat(F.lit("^^"),
                            _term_turtle(F.col("obj_datatype"),
                                         prefixes)))
             .when(F.col("obj_lang").isNotNull(),
                   F.concat(F.lit("@"), F.col("obj_lang")))
             .otherwise(F.lit("")))
    ).otherwise(_term_turtle(F.col("obj"), prefixes))
    line = F.concat(F.concat_ws(
        " ", _term_turtle(F.col("subj"), prefixes),
        _term_turtle(F.col("pred"), prefixes), obj), F.lit(" ."))
    return triples.select(line.alias("value"))
