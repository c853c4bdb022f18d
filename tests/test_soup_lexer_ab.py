"""A/B oracle for the fast soup lexer: the regex lexer and the
stdlib html.parser tokenizer must build IDENTICAL DOM trees.  The
lexer transliterates html.parser's decision order using its own
module-level regexes; this suite is the contract that keeps it
honest (edge cases, every soup/matrix conformance markup, and a
tag-soup fuzz corpus)."""

from __future__ import annotations

import random

from rdfa_spark.core.dom import (Comment, parse_html,
                                 parse_html_stdlib)


def _ser(node):
    if isinstance(node, str):
        return ("T", node)
    if isinstance(node, Comment):
        return ("C", node.data)
    return ("E", node.tag, tuple(sorted(node.attrs.items())),
            tuple(_ser(c) for c in node.children))


def _ab(markup):
    got = _ser(parse_html(markup).root)
    want = _ser(parse_html_stdlib(markup).root)
    assert got == want, (repr(markup)[:200], got, want)


EDGE_CASES = [
    '<a href=x/>v</a>', '<br/>', '<a href="x"/>', '<img src=i.png>',
    '<p attr=">">t</p>', "<p a='>'>t</p>", '<p a>t</p>',
    '<a b=1 c = 2 d>t', '<a b="&amp;">t',
    '<p>&lt;x&gt; &amp; &nbsp;</p>',
    '<script>var x = "<p>"; if (a<b && c>d) {}</script>after',
    '<script>x</scriptx>more</script>tail',
    '<style>p > a { color: &red }</style>', '<script src=x.js/>text',
    '<!doctype html><p>t</p>', '<!DOCTYPE HTML PUBLIC "x">t',
    '<![CDATA[a>b]]>t', '<!bogus>t', '<!>t', '<?pi stuff>t', '<?>t',
    '</>t', '</ >t', '</p junk>t', '</p >t', '</@>t',
    '<p', '<p a', '<p a="x', 'text<', 'a<1>b', 'a< b>c', '<<p>>x',
    '<!--c-->t', '<!--c', '<!---->t', '<!-- a -- b -->t',
    '<P CLASS="X">t</P>', '<p\nclass="x">t', '<p\tclass=x>t',
    '<a href=%3F>t', '<a href="">t', "<a href=''>t",
    '<e 1bad=x>t', "<e 'q'=v>t", '<e a=b=c>t', '<e ==>t', '<e =x>t',
    '<e a==x>t', '<e/ >t', '<e / >t', '<e//>t', '<e a/>t',
    '<e a />t', '\x00<p>\x00x</p>',
    '<p>a&#65;b&#x42;c&unknown;d&amp</p>',
    '<svg><circle r=1/></svg>', '<math><mi>x</mi></math>',
    '<script></SCRIPT>t', '<script></script >t',
    '<script></script\n>t', '<script><!--</script>-->t',
    '<style></StYlE>u', '<table>x<tr><td>y', '<b><i>x</b>y</i>',
    '<b><p>q</b>r</p>', '<span property="<table><tr><td>x',
    '<a href="x"<b>y</b>', '</scr', '<script></scrx',
    # junk start tag is emitted RAW (no charref conversion):
    '<<<a=&quot;b&quot;<a\x00b>&amp;x', '<a=&quot;>t', '<xy&amp;z>t',
    # marked sections (_markupbase parity): ws-tolerant ']]>' close,
    # MS-Office if/else/endif close at ']>', unknown keyword ->
    # bogus-comment degrade (stdlib raises; wrapper catches)
    '<![CDATA[a] ] >b', '<![CDATA[a]\t]\n>b', '<![cdata[x]]>y',
    '<![if gte IE 8]>cond<![endif]>after', '<![else]>t',
    '<![endif ]>t', '<![if !IE]><p>x</p><![endif]>y',
    '<![INCLUDE[a]]>t', '<![ignore[a]b]>c', '<![rcdata[v] ]>w',
    '<![temp[q]]>r', '<![unknown[z]]>w', '<![3x]>t', '<![[x]]>t',
    '<![>t', '<![', '<![cdata', '<![cdata ', '<![if', '<![if x',
    '<![CDATA[unterminated', '<![endif]no-gt', '<![ CDATA[x]]>t',
    # both sides of the lexer's one-regex token boundary: values with
    # '&', '<', '>', '/', '=' or newlines
    '<a title="x&amp;y" href=/p?a=1&amp;b=2>t</a>', "<a b='&lt;'>t",
    '<a title="a<b">t</a>', "<a title='a>b'>t</a>", '<a b=x<y>t',
    '<a href=x/y>t</a>', '<a href="/x/">t</a>', '<a href=/x/ >t',
    '<a b=c/ d>t', '<a b="c=d" e=\'f=g\'>t', '<a b=c=d>t',
    '<a title="l1\nl2">t</a>', "<a title='l1\r\nl2'\n>t",
    # a="" against a bare a
    '<p a="" b>t</p>', "<p a='' b=''>t", '<p a b c=d>t', '<p a= >t',
    # duplicate attributes: the first one wins
    '<p a=1 a=2>t', '<p class="x" CLASS="y" class=z>t',
    '<a href=1 href="2" HREF=\'3\'>t</a>',
    # upper-case tag and attribute names
    '<DIV CLASS="X" Id=Y>t</DIV>', '<Li ClAsS=a>t</lI>', '<BR/>t',
    # whitespace around '=' (ASCII, vertical tab, no-break space)
    '<p a = "x" b= y c =z>t', '<p a\n=\n"x">t', "<p a\t=\t'x'>t",
    '<p a\x0b=x>t', '<p a=\xa0x>t', '<p\xa0a=x>t', '<p\x0ba=x>t',
    '<p a="x"b=y>t', '<p a="x"/b=y>t', '<p  a=x  />t', '<p/a=x>t',
    # <script>/<style> start tags with attributes stay rawtext
    '<script type="text/javascript" src=x.js>var a = "<b>";</script>t',
    '<style media=screen>p > a { c: &x }</style>t',
    '<SCRIPT TYPE=x>y</script>t', '<script async/>t</script>u',
    # </li> and </a> closing the current node, and mis-nested forms
    '<ul><li>a</li><li>b</li></ul>', '<ul><li><a href=x>a</a></li></ul>',
    '<ul><li><a href=x>a</li></a></ul>', '<ul><li>a<li>b</ul>',
    '<ul><li><span>a<li>b</span></ul>', '<a href=1>x<a href=2>y</a></a>',
    '<p><a>x</p>y</a>', '<b><a>x</b></a>', '<div><li>x</li></div>',
    '<a><b>x</a>y</b>', '<ol><li><p>x<li>y</ol>', '<dl><dt>a<dd>b</dl>',
    '<p><div>x</div>', '<span><p>x</span>y', '<a><a>x</a>',
    # rawtext close tags carrying junk or never completing: only a
    # complete close ends rawtext, else the rest is dropped
    '<style>a</style x>b', '<style>x</style\u2028tail', '<style>x</style',
    '<style>a</style x>b</style>c', '<script>a</script</script>t',
    '<script>x</script\t\n>t', '<style>a</\u017ftyle>b</style>c',
    # comment closes with whitespace before the '>'
    '<p>a<!-- c --\t>b', '<!--a--\n>t', '<!--a-- >t<!--b-->u',
    '<!--x--!>y-->z', '<!--a- ->b-->c',
]


def _chrome_page(size=1 << 20):
    """A well-formed HTML5 page carrying ~``size`` bytes of nav/grid/
    footer chrome: the shape of a large crawled page, where nearly
    every token is a short start or end tag with a class attribute."""
    nav = ('<div class="nav"><ul class="menu">'
           + '<li class="mi"><a class="lnk"><span class="ic"></span>'
             '</a></li>' * 8
           + '</ul></div><div class="hero"><img class="b"/>'
             '<div class="grid">'
           + '<div class="cell"><span class="badge"></span></div>' * 6
           + '</div></div>')
    item = '<li class="col"><span class="s"></span></li>'
    return ('<!DOCTYPE html><html lang="en"><head>'
            '<title property="dc:title">T</title>'
            '<meta property="og:type" content="website"></head><body>'
            + nav + '<div about="#main"><p property="dc:description">'
            'text &amp; <more></p></div><div class="footer">'
            '<ul class="cols">' + item * (size // len(item))
            + '</ul></div></body></html>')

FUZZ_FRAGS = [
    "<div>", "</div>", "<p about='#a'", ">", "<span property=",
    "'dc:title'>", "text & more", "<!-- c -->", "</p>", "<br>",
    "<a href='x'", "rel=next", "<<<", "&bogus;", "&amp;",
    "<b><i>", "</b>", "\x00", "<table><tr><td>", 'attr="v',
    "<script>var x='<p>';</script>", "]]>", "<![CDATA[hi]]>",
    "<p ABOUT='#b' PROPERTY='dc:x'>", "￿", '="', "~~",
    "<e a=b/>", "</scr", "<!doc", "<?php ?>", "'", '"', "=",
    "/>", "< ", "<1>", "&#65;", "&#xGG;", "<style>a{&}</style>",
    "<![CDATA[", "-->", "a=&quot;b&quot;", "<a\x00b>", "<=>",
    "<a 'v\">", "<!x", "<t:ns attr:x='1'>", "</t:ns>",
    "<![if lt IE 9]>", "<![endif]>", "]>", "] ] >", "<![ignore[",
    "<![bogus[", "<![else]>",
]


def test_edge_cases():
    for c in EDGE_CASES:
        _ab(c)


def test_large_chrome_page():
    _ab(_chrome_page())


def test_conformance_soup_markups():
    """Every soup/tag-soup conformance markup builds identically."""
    import test_w3c_suite as w

    n = 0
    for case in w.CASES:
        if case.host in ("html4", "html5", "html32"):
            _ab(case.markup)
            n += 1
    assert n > 300, n


def test_fuzz_parity():
    random.seed(1234)
    for _ in range(1500):
        s = "".join(random.choice(FUZZ_FRAGS)
                    for _ in range(random.randrange(0, 18)))
        _ab(s)


def _degraded(markup):
    from rdfa_spark.core.dom import _SoupBuilder
    from rdfa_spark.core.soup_lexer import feed_events
    b = _SoupBuilder()
    feed_events(b, markup)
    return getattr(b, "lexer_degraded", False)


def test_degenerate_input_degrades_linearly():
    """The work-budget guard: html.parser semantics are quadratic on
    '<a ' * N (attr scan to end-of-feed + 3-char recovery advance),
    so the fast lexer emits the tail as text once scan work exceeds
    ~8x the input length.  This must trigger on the pathological
    shape and NEVER on normal/edge/fuzz input (where output must
    stay stdlib-equal)."""
    import time

    from rdfa_spark.core.dom import parse_html

    for adversarial in ("<a " * 68000,      # ~200KB each
                        "<a b=c " * 30000):  # attrs, never a '>'
        t0 = time.time()
        doc = parse_html(adversarial)
        assert time.time() - t0 < 10       # quadratic would be minutes
        assert _degraded(adversarial)
        # the degraded tail is still text content under the root
        assert doc.root is not None

    # one text node from ~1M data events ('<' and ' ' alternate, 1 MB):
    # merging the pieces must stay linear in the events
    lt_space = "< " * 524288
    t0 = time.time()
    doc = parse_html(lt_space)
    assert time.time() - t0 < 10
    assert doc.root.children == [lt_space]

    assert not _degraded("<p>hello</p>" * 5000)
    # small instances of the same shape stay under the 64KB WORK
    # floor (work ~ len^2/6, so ~450 chars -> ~34KB of work)
    assert not _degraded("<a " * 150)
    for c in EDGE_CASES:
        assert not _degraded(c), repr(c)


def test_fuzz_never_degrades():
    random.seed(1234)
    for _ in range(1500):
        s = "".join(random.choice(FUZZ_FRAGS)
                    for _ in range(random.randrange(0, 18)))
        assert not _degraded(s), repr(s)[:100]
