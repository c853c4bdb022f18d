"""HTML5 tree-construction pins (WHATWG 13.2.6.4.7 / 13.2.4.3 /
13.2.6.1): the adoption agency algorithm (bookmark, outer x8 / inner
x3 caps), the active-formatting-elements list (markers, Noah's Ark,
reconstruction), and foster parenting with foster-point
reconstruction.  Expected trees are derived from the spec's own
examples and the html5lib-tests golden trees for the same inputs
(tests1.dat / adoption01.dat shapes), serialized body-level.

Reference parity target: HTML::HTML5::Parser (Parser.pm:103-107)
implements the same algorithms, so these shapes decide where RDFa
attributes and literals land on mis-nested crawl markup.
"""

from __future__ import annotations

import pytest

from rdfa_spark.core.dom import Comment, parse_html, parse_html_stdlib


def ser(n):
    if isinstance(n, str):
        return repr(n)
    if isinstance(n, Comment):
        return f"#c{n.data!r}"
    a = "".join(f" {k}={v}" for k, v in sorted(n.attrs.items())
                if k != "xmlns")
    return f"<{n.tag}{a}>[" + ",".join(ser(c) for c in n.children) + "]"


def body_ser(markup):
    return ",".join(ser(c) for c in parse_html(markup).root.children)


# (markup, expected body-level serialization)
TREE_CASES = [
    # -- adoption agency: formatting-only above the subject ---------
    ("<b><i>x</b>y</i>",
     "<b>[<i>['x']],<i>['y']"),
    ("<b><i>x</b></i>trail",                 # no content, no clone
     "<b>[<i>['x']],'trail'"),
    ("<b><b>x</b></b>y",                     # balanced: y is plain
     "<b>[<b>['x']],'y'"),
    ("<b><i><u>x</b>y</u>z</i>q",
     "<b>[<i>[<u>['x']]],<i>[<u>['y'],'z'],'q'"),
    # -- adoption agency: furthest block ----------------------------
    ("<b><p>x</b>y</p>",                     # html5lib tests1.dat
     "<b>[],<p>[<b>['x'],'y']"),
    ("<a>1<p>2</a>3</p>",
     "<a>['1'],<p>[<a>['2'],'3']"),
    ("<b>1<p>2</b>3</p>",
     "<b>['1'],<p>[<b>['2'],'3']"),
    ("<p>1<b>2<i>3</b>4</i>5",
     "<p>['1',<b>['2',<i>['3']],<i>['4'],'5']"),
    ("<b>x<div>y</b>z</div>w",
     "<b>['x'],<div>[<b>['y'],'z'],'w'"),
    # multi-block cascade: one clone per block (adoption01.dat)
    ("<a href=1>x<div>y<div>z</a>w",
     "<a href=1>['x'],<div>[<a href=1>['y'],"
     "<div>[<a href=1>['z'],'w']]"),
    # -- the <a> and <nobr> start-tag rules -------------------------
    ("<a>a<b>b<a>c</a>d",
     "<a>['a',<b>['b']],<b>[<a>['c'],'d']"),
    ("<a><b><a>x",
     "<a>[<b>[]],<b>[<a>['x']]"),
    ("<nobr>1<nobr>2</nobr>3",
     "<nobr>['1'],<nobr>['2'],'3'"),
    # -- reconstruction after a block closes ------------------------
    ("<div><b>x</div>y",
     "<div>[<b>['x']],<b>['y']"),
    ("<div><b>x</div><div></div>",           # no content -> no clone
     "<div>[<b>['x']],<div>[]"),
    ("<div><b>x</div><span></span>",         # span reconstructs
     "<div>[<b>['x']],<b>[<span>[]]"),
    # -- Noah's Ark: at most 3 identical entries reconstruct --------
    ("<div><b class=x><b class=x><b class=x><b class=x></div>t",
     "<div>[<b class=x>[<b class=x>[<b class=x>[<b class=x>[]]]]],"
     "<b class=x>[<b class=x>[<b class=x>['t']]]"),
    # -- markers: formatting cannot leak out of cells/objects -------
    ("<table><tr><td><b>x</td></tr></table>y",
     "<table>[<tbody>[<tr>[<td>[<b>['x']]]]],'y'"),
    ("<object><b>x</object>y",
     "<object>[<b>['x']],'y'"),
    # -- foster parenting + foster-point reconstruction -------------
    # html5lib tests1.dat: <table><b><tr><td>aaa</td></tr>bbb</table>ccc
    ("<table><b><tr><td>aaa</td></tr>bbb</table>ccc",
     "<b>[],<b>['bbb'],<table>[<tbody>[<tr>[<td>['aaa']]]],"
     "<b>['ccc']"),
    ("<b><table>loose<tr><td>c",
     "<b>['loose',<table>[<tbody>[<tr>[<td>['c']]]]]"),
    ("<b>A<table><tr><td>B</td></tr></table>C</b>",
     "<b>['A',<table>[<tbody>[<tr>[<td>['B']]]],'C']"),
    # -- any other end tag: special elements block it ---------------
    ("<span><div>x</span>y",                 # adjacent text merges
     "<span>[<div>['xy']]"),
    ("<span>x</span>y",
     "<span>['x'],'y'"),
    # stray end tags with no match are ignored
    ("</b>x", "'x'"),
    ("</span>x", "'x'"),
    # -- well-nested markup (the builder's common-case paths) -------
    ("<ul><li>a</li><li>b</li></ul>", "<ul>[<li>['a'],<li>['b']]"),
    ("<ul><li>a<li>b</ul>", "<ul>[<li>['a'],<li>['b']]"),
    ("<ul><li><span>a<li>b</span></ul>",
     "<ul>[<li>[<span>['a']],<li>['b']]"),
    ("<dl><dt>a<dd>b</dl>", "<dl>[<dt>['a'],<dd>['b']]"),
    ("<div><p>x<div>y</div></div>", "<div>[<p>['x'],<div>['y']]"),
    ("<p><a href=1>x<div>y",
     "<p>[<a href=1>['x']],<div>[<a href=1>['y']]"),
    ("<b>x</b>y", "<b>['x'],'y'"),
    ("<a href=1>x</a><a href=2>y</a>",
     "<a href=1>['x'],<a href=2>['y']"),
    ("<p>x<img src=i>y</p>", "<p>['x',<img src=i>[],'y']"),
    ("<i a=1 a=2 A=3>x</i>", "<i a=1>['x']"),   # first attr wins
]


@pytest.mark.parametrize("markup,want", TREE_CASES,
                         ids=[m[:32] for m, _ in TREE_CASES])
def test_tree_shape(markup, want):
    assert body_ser(markup) == want


@pytest.mark.parametrize("markup,want", TREE_CASES,
                         ids=[m[:32] for m, _ in TREE_CASES])
def test_tree_shape_stdlib_tokenizer(markup, want):
    """Same trees through the stdlib tokenizer (A/B over the new
    corpus): the builder is shared, the token stream must be too."""
    got = ",".join(ser(c)
                   for c in parse_html_stdlib(markup).root.children)
    assert got == want


def test_deep_misnesting_terminates():
    """The outer x8 / inner x3 caps keep pathological mis-nesting
    bounded; text still lands exactly once."""
    markup = ("<b><em><i><u><s><small><strike><tt><code><p>x"
              + "</b></em></i></u></s>" * 40 + "y")
    doc = parse_html(markup)

    def text(n):
        if isinstance(n, str):
            return n
        if isinstance(n, Comment):
            return ""
        return "".join(text(c) for c in n.children)

    assert text(doc.root) == "xy"


def test_afe_segment_cap_bounds_clone_growth():
    """Adversarial distinct-attr formatting (<p><b class=N>x</p> * M)
    cannot grow reconstruction quadratically: the per-segment cap
    keeps at most 32 live entries."""
    import time

    m = "".join(f"<p><b class=c{i}>x</p>" for i in range(400)) + "t"
    t0 = time.time()
    doc = parse_html(m)
    assert time.time() - t0 < 5

    def depth(n, d=0):
        if not hasattr(n, "children"):
            return d
        return max([depth(c, d + 1) for c in n.children] or [d])

    assert depth(doc.root) <= 40     # 32 clones + structural slack


def test_stack_identity_set_invariant():
    """The O(1) on-stack identity set must mirror the real stack
    after every parse — across the tree corpus, the soup fixtures,
    and a fuzz sample (catches any missed mutation site)."""
    import random

    from rdfa_spark.core.dom import _SoupBuilder
    from rdfa_spark.core.soup_lexer import feed_events

    def check(markup):
        b = _SoupBuilder()
        feed_events(b, markup)
        assert b._stack_ids == {id(s) for s in b.stack}, markup[:80]

    for m, _ in TREE_CASES:
        check(m)
    import test_soup_lexer_ab as ab
    for m in ab.EDGE_CASES:
        check(m)
    random.seed(99)
    for _ in range(800):
        s = "".join(random.choice(ab.FUZZ_FRAGS)
                    for _ in range(random.randrange(0, 18)))
        check(s)


def test_fuzz_formatting_machinery_parity():
    """Formatting/table/marker-dense fuzz (the shapes that exercise
    the AAA, AFE markers, and foster machinery hardest): both
    tokenizers must build identical trees and the stack identity set
    must hold.  A 20k-trial soak of this generator passed in round
    5; this keeps a 2.5k-trial sample in the suite."""
    import random

    import test_soup_lexer_ab as ab
    from rdfa_spark.core.dom import (Comment, _SoupBuilder,
                                     parse_html, parse_html_stdlib)
    from rdfa_spark.core.soup_lexer import feed_events

    frags = ab.FUZZ_FRAGS + [
        "<b>", "<i>", "<u>", "</i>", "</u>", "<nobr>",
        "<a href=x>", "</a>", "<table>", "</table>", "<td>",
        "</td>", "<tr>", "<object>", "</object>", "<caption>",
        "</caption>", "<template>", "<marquee>", "</marquee>",
        "<b class=1>", "<b class=2>", "</em>", "<em>", "<div>",
        "</div>", "text",
    ]

    def ser(n):
        if isinstance(n, str):
            return ("T", n)
        if isinstance(n, Comment):
            return ("C", n.data)
        return ("E", n.tag, tuple(sorted(n.attrs.items())),
                tuple(ser(c) for c in n.children))

    random.seed(777)
    for _ in range(2500):
        s = "".join(random.choice(frags)
                    for _ in range(random.randrange(0, 24)))
        assert ser(parse_html(s).root) == \
            ser(parse_html_stdlib(s).root), repr(s)[:150]
        b = _SoupBuilder()
        feed_events(b, s)
        assert b._stack_ids == {id(x) for x in b.stack}, repr(s)[:150]
