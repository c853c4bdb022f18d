"""Basic graph pattern (BGP) matching over the triples table.

The reference's model accessors (`get_statements` pattern matching,
Parser.pm:208-328) and its test suite's SPARQL ASK queries
(t/08atom.t:113-124, t/09opendocument.t) map to relational algebra
over the triple table: each triple pattern is a filtered scan, shared
variables become equi-join keys — Catalyst picks the join strategy
(broadcast for small intermediate sets) and pushes the constant-term
filters into the parquet scan.  An ASK is ``not bgp(...).isEmpty()``.

Term syntax: strings starting with ``?`` are variables; everything
else matches the column exactly.  ``None`` = wildcard (unbound,
not projected).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_POS = ("subj", "pred", "obj")


def match_pattern(triples: DataFrame, subj=None, pred=None,
                  obj=None) -> DataFrame:
    """Single-pattern match (get_statements / count_statements)."""
    df = triples
    for col, val in zip(_POS, (subj, pred, obj)):
        if val is not None and not (isinstance(val, str)
                                    and val.startswith("?")):
            df = df.filter(F.col(col) == val)
    return df


def bgp(triples: DataFrame, patterns: list[tuple]) -> DataFrame:
    """Conjunctive basic graph pattern -> bindings DataFrame.

    ``patterns`` is a list of (subj, pred, obj) terms; ``?name``
    terms are variables.  Returns one column per distinct variable,
    one row per solution (distinct bindings).

        bgp(t, [("?e", RDF_TYPE, AWOL+"Entry"),
                ("?e", AWOL+"author", "?a"),
                ("?a", AWOL+"uri", "http://example.org/")])
    """
    result: DataFrame | None = None
    for i, pat in enumerate(patterns):
        subj, pred, obj = pat[:3]
        scan = match_pattern(triples, subj, pred, obj)
        cols = []
        for col, term in zip(_POS, (subj, pred, obj)):
            if isinstance(term, str) and term.startswith("?"):
                cols.append(F.col(col).alias(term[1:]))
        step = scan.select(*cols).distinct() if cols else \
            scan.limit(1).select(F.lit(1).alias(f"_p{i}"))
        if result is None:
            result = step
        else:
            shared = [c for c in step.columns if c in result.columns]
            result = (result.join(step, shared) if shared
                      else result.crossJoin(step))
    if result is None:
        raise ValueError("empty pattern list")
    drop = [c for c in result.columns if c.startswith("_p")]
    return result.drop(*drop).distinct()
