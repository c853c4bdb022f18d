"""Property-based invariants (hypothesis).

Three classes of evidence the example-based suites can't give:

* algorithm cross-checks — two independent implementations
  (large/small-star CC vs min-label propagation; canonicalize's block
  min vs CC over its candidate pairs; minhash estimate vs true
  Jaccard) must agree on arbitrary inputs;
* total-function robustness — the tag-soup parser and the RDFa walk
  must never raise on arbitrary broken markup (the crawl-scale
  no-crash invariant behind extract_triples' failure accumulator
  staying at zero for non-pathological bytes);
* URI resolution vs the stdlib reference resolver on arbitrary
  relative references.
"""

from __future__ import annotations

from unittest.mock import patch

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

# ---------------------------------------------------------------------------
# CC: star alternation == label propagation (driver-side mirror)
# ---------------------------------------------------------------------------


def _union_find(edges):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully, label by min member
    comp: dict = {}
    for n in list(parent):
        comp.setdefault(find(n), []).append(n)
    out = {}
    for root, members in comp.items():
        rep = min(members)
        for m in members:
            out[m] = rep
    return out


edge_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)),
    min_size=1, max_size=40)


class TestCCProperties:
    """Spark CC vs exact union-find on random graphs.  One shared
    SparkSession (conftest), small graphs, few examples — the point
    is arbitrary TOPOLOGY, not scale."""

    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(edges=edge_lists)
    def test_star_cc_matches_union_find(self, spark, edges):
        """Both phases: the distributed star loop
        (``LOCAL_FINISH_EDGES = 0``) and the default two-phase path
        (which takes the local finish on graphs this small) must equal
        the exact union-find."""
        from rdfa_spark.pipeline import cc
        from rdfa_spark.pipeline.cc import connected_components
        pairs = [(str(a), str(b)) for a, b in edges if a != b]
        if not pairs:
            return
        want = _union_find(pairs)
        df = spark.createDataFrame(pairs, ["src", "dst"])
        with patch.object(cc, "LOCAL_FINISH_EDGES", 0):
            got_star = {r.node: r.component
                        for r in connected_components(df).collect()}
        assert got_star == want
        got_local = {r.node: r.component
                     for r in connected_components(df).collect()}
        assert got_local == want


# ---------------------------------------------------------------------------
# Canonicalization: the block min == CC over the candidate pairs
# ---------------------------------------------------------------------------

# Mention frames whose key is a function of the label: a few labels
# (None among them) each mapped to one key from a small set holding
# the unpairable '' and NULL keys, then mentions drawn from them.
LABEL_POOL = [None, "Ada", "ada!", "ADA", "Bob", "bob", "b-o-b", "Cy",
              "实体", "?", "Zed", "zed."]
mention_frames = st.tuples(
    st.dictionaries(st.sampled_from(LABEL_POOL),
                    st.sampled_from(["", None, "k0", "k1", "k2"]),
                    min_size=1),
    st.lists(st.integers(0, 99), min_size=1, max_size=30),
    st.sampled_from([1, 2, 3, 10_000]))


class TestCanonicalizeProperties:
    """``canonicalize`` (a min over each key block) vs its reference:
    connected components over ``exact_candidate_pairs`` under a cap
    above every block, joined back on label.  Same rows, with
    ``canonicalize`` run under the drawn cap, which drops some blocks
    from the pair operator: no cap reaches ``canonicalize``."""

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(frame=mention_frames)
    # a NULL label in a kept block, a block over the cap of 3, and the
    # '' and NULL keys
    @example(frame=({None: "k0", "Ada": "k0", "ada!": "k0", "Bob": "k1",
                     "bob": "k1", "b-o-b": "k1", "Cy": "k1", "实体": "",
                     "?": None}, list(range(20)), 3))
    def test_block_min_matches_cc(self, spark, frame):
        from collections import Counter

        from pyspark.sql import functions as F

        from rdfa_spark.functions import similarity
        from rdfa_spark.pipeline.cc import connected_components
        from rdfa_spark.pipeline.linking import (canonicalize,
                                                 exact_candidate_pairs)
        key_of, picks, cap = frame
        labels = sorted(key_of, key=str)
        drawn = [labels[p % len(labels)] for p in picks]
        rows = [(f"m{i}", lab, key_of[lab]) for i, lab in enumerate(drawn)]
        m = spark.createDataFrame(rows, "mention string, label string, "
                                        "entity_key string")

        def rows_of(df):
            return Counter(map(tuple, df.collect()))

        # a block holds at most len(rows) labels, so this cap keeps all
        with patch.object(similarity, "BLOCK_CAP", len(rows)):
            pairs = exact_candidate_pairs(m)
            comp = connected_components(pairs, "label_a", "label_b")
            want = rows_of(m.join(comp, m["label"] == comp["node"], "left")
                           .select("mention", "label",
                                   F.coalesce("component", "label")
                                    .alias("canonical_id")))
        with patch.object(similarity, "BLOCK_CAP", cap):
            assert rows_of(canonicalize(m)) == want


# ---------------------------------------------------------------------------
# Tag-soup / walk robustness: arbitrary bytes never raise
# ---------------------------------------------------------------------------

soup_fragments = st.lists(
    st.sampled_from([
        "<div>", "</div>", "<p about='#a'", ">", "<span property=",
        "'dc:title'>", "text & more", "<!-- c -->", "</p>", "<br>",
        "<a href='x'", "rel=next", "<<<", "&bogus;", "&amp;",
        "<b><i>", "</b>", "\x00", "<table><tr><td>", "attr=\"v",
        "<script>var x='<p>';</script>", "]]>", "<![CDATA[hi]]>",
        "<p ABOUT='#b' PROPERTY='dc:x'>", "￿", "=\"", "~~",
    ]),
    min_size=0, max_size=25)


class TestSoupRobustness:
    @settings(max_examples=120, deadline=None)
    @given(frags=soup_fragments)
    def test_walk_never_raises_on_soup(self, frags):
        from rdfa_spark.core import make_config, parse_rdfa
        markup = "".join(frags)
        w = parse_rdfa(markup, "http://example.com/doc",
                       make_config("html5", "1.1"))
        # triples are well-formed whenever produced
        for t in w.triples:
            assert t.subj and t.pred
        # text extraction is total too
        if w.doc.root is not None:
            assert isinstance(w.doc.root.text_content(), str)


# ---------------------------------------------------------------------------
# URI resolution vs the stdlib resolver
# ---------------------------------------------------------------------------

rel_refs = st.one_of(
    st.sampled_from(["", "#", ".", "..", "./a", "../a/b", "a/b/c", "/abs",
                     "//host/x", "?q=1", "#frag", "a?q#f", "a/./b",
                     "a/../../b", "http://other.example/p?q#f"]),
    st.text(alphabet="abcdefgh./?#", min_size=0, max_size=12),
)


class TestUriResolution:
    @settings(max_examples=200, deadline=None)
    @given(ref=rel_refs,
           base=st.sampled_from([
               "http://example.com/dir/doc",
               "http://example.com/dir/doc#frag",
               "https://example.com/",
               "http://example.com/a/b/?q=1",
               "ftp://example.com/dir/doc",
               # non-http(s) schemes where urljoin does NOT splice
               # fragments (guards the fragment fast-path gate):
               "httpz://x/p",
               "file:///tmp/dir/doc#f",
               "urn:isbn:0451450523",
           ]))
    def test_resolve_matches_urljoin(self, ref, base):
        from urllib.parse import urljoin

        from rdfa_spark.core.uri import resolve
        got = resolve(ref, base)
        if ref == "":
            # deliberate divergence: empty ref drops the base
            # fragment (RFC 3986 strict / RDFa about="" = current
            # document); urljoin keeps it (RFC 1808 behavior)
            want = (base.split("#", 1)[0] if "#" in base else base)
        else:
            want = urljoin(base, ref)
        assert got == want, (ref, base, got, want)


def test_cc_local_finish_mid_contraction(spark):
    """The threshold can trigger AFTER distributed rounds have
    partially contracted the graph: the local finish must be correct
    on any intermediate (connectivity-equivalent) edge set, not just
    on raw input."""
    from rdfa_spark.pipeline import cc
    from rdfa_spark.pipeline.cc import connected_components

    pairs = [(str(i).zfill(3), str(i + 1).zfill(3))
             for i in range(40) if (i + 1) % 20 != 0]
    want = _union_find(pairs)
    df = spark.createDataFrame(pairs, ["src", "dst"])
    with patch.object(cc, "LOCAL_FINISH_EDGES", 15):
        got = {r.node: r.component
               for r in connected_components(df).collect()}
    assert got == want
