"""BGP matching over the extracted KG (the Spark analogue of the
reference tests' SPARQL ASK checks) + hypothesis fuzz safety for
crawl junk."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from rdfa_spark.core import parse_rdfa, tagsoup_config
from rdfa_spark.core.walk import RDF_TYPE
from rdfa_spark.extract import extract_triples
from rdfa_spark.pages import load_pages
from rdfa_spark.query import bgp, match_pattern

SCHEMA = "http://schema.org/"
DC = "http://purl.org/dc/terms/"


@pytest.fixture(scope="module")
def triples(spark, sf_dir):
    df = extract_triples(load_pages(spark, sf_dir)).cache()
    yield df
    df.unpersist()


def test_match_pattern_counts(triples):
    n = match_pattern(triples, pred=DC + "title").count()
    assert n == triples.select("url").distinct().count()


def test_bgp_join_on_shared_variable(triples):
    # every Person with a name, plus the page that mentions them
    sols = bgp(triples, [
        ("?p", RDF_TYPE, SCHEMA + "Person"),
        ("?p", SCHEMA + "name", "?name"),
    ])
    assert set(sols.columns) == {"p", "name"}
    assert sols.count() == triples.filter(
        triples.pred == SCHEMA + "name").count()


def test_bgp_three_pattern_chain(triples, spark):
    # article -> dc:relation -> target page that has a dc:title
    sols = bgp(triples, [
        ("?m", DC + "relation", "?t"),
        ("?t2", RDF_TYPE, SCHEMA + "Article"),
    ])
    assert {"m", "t", "t2"} == set(sols.columns)
    assert sols.count() > 0


def test_ask(triples):
    """A SPARQL ASK is a BGP with or without a solution."""
    assert not bgp(triples, [("?p", RDF_TYPE, SCHEMA + "Person")]).isEmpty()
    assert bgp(triples, [("?p", RDF_TYPE, SCHEMA + "Spaceship")]).isEmpty()


def test_bgp_constant_only_pattern(triples):
    row = triples.limit(1).first()
    assert not bgp(triples, [(row.subj, row.pred, row.obj)]).isEmpty()


# ---------------------------------------------------------------------------
# Fuzz safety: arbitrary crawl junk must never crash the walker, and
# must behave deterministically.
# ---------------------------------------------------------------------------

_junk = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)),
    max_size=400)


@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_junk)
def test_walker_never_crashes_on_junk(doc):
    cfg = tagsoup_config()
    w1 = parse_rdfa(doc.encode("utf-8", "replace"),
                    "http://example.com/x", cfg)
    w2 = parse_rdfa(doc.encode("utf-8", "replace"),
                    "http://example.com/x", cfg)
    assert w1.triples == w2.triples  # deterministic


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.sampled_from(
    ["<div", "<p>", "</div>", 'property="dc:title"', 'about="#x"',
     ">", "text", '<span rel="next"', "<!--", "-->", "<![CDATA[",
     '<a href="/y">', "&amp;", "&bogus;", "</html>", "<html>",
     'prefix="a: b"', 'typeof="x:Y"', '<base href="http://z/">',
     "\x00", "🙂"]), max_size=30))
def test_walker_never_crashes_on_tag_fragments(parts):
    doc = " ".join(parts)
    w = parse_rdfa(doc.encode("utf-8", "replace"),
                   "http://example.com/x", tagsoup_config())
    for t in w.triples:
        assert t.subj and t.pred  # well-formed rows only
