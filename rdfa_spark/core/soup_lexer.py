"""Fast tag-soup lexer: a single-pass scanner that feeds the same
``_SoupBuilder`` event surface as ``html.parser.HTMLParser`` — minus
the costs irrelevant to one-shot parsing (per-chunk buffering,
line/column accounting, method dispatch through ``goahead``'s generic
state machine).

Dispatch order, per position:

1. rawtext (inside ``<script>``/``<style>``): only a complete
   matching close tag ends it;
2. a text run: one ``str.find`` to the next ``<`` (as html.parser
   does; a regex scan is slower on long runs);
3. at a ``<``, one ``_TOKEN`` match for the two common tags — a
   complete start tag whose attributes are all plainly quoted or
   bare (names and values free of ``<``, ``>``, ``&``; separated by
   ASCII whitespace), and a plain ``</name>``.  A matched tag's
   attributes come from one ``_ATTR.findall`` over the matched span.
   Every span ``_TOKEN`` accepts is one that html.parser's tolerant
   regexes split into the same name, attributes and ``>``/``/>``
   ending;
4. everything ``_TOKEN`` rejects — incomplete or junk tags, values
   with entities or markup characters, comments, ``<!``/``<?``
   constructs, stray ``<`` — takes the transliterated branches, which
   use html.parser's OWN module-level tolerant regexes and its exact
   decision order.

Fidelity contract: DOM equality with the stdlib tokenizer is pinned
by ``tests/test_soup_lexer_ab.py`` — every soup conformance fixture,
a tag-soup fuzz corpus, cases on both sides of the ``_TOKEN``
boundary and a 1 MB chrome page run through BOTH tokenizers and must
build identical trees.  Anywhere this file says "mirrors", the
behavior is transliterated from CPython's html/parser.py
(parse_starttag / check_for_whole_start_tag / parse_endtag /
parse_bogus_comment / goahead leftover handling).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import (attrfind_tolerant, commentclose, endtagfind,
                         locatestarttagend_tolerant, tagfind_tolerant)

_CDATA_ELEMS = ("script", "style")
# html.parser's set_cdata_mode pattern: rawtext ends only at a
# COMPLETE close tag; with none left, the rest of the page is dropped
_RAW_CLOSE = {el: re.compile(rf"</\s*{el}\s*>", re.I)
              for el in _CDATA_ELEMS}
# The common-tag regex (dispatch step 3).  Separators are the ASCII
# whitespace that also ends html.parser's tag name; names and values
# exclude all of \s, so a tag holding any other whitespace falls to
# the tolerant branches.  A bare value may end in '/': html.parser
# keeps it in the value, so '<a href=x/>' is a start tag, not '/>'.
_WS = r"[ \t\n\r\f]"
_NAME = r"[^\s\"'/=<>]+"
_TOKEN = re.compile(
    rf"<([a-zA-Z][-.:\w]*)"                             # 1 tag name
    rf"((?:{_WS}+{_NAME}(?:{_WS}*={_WS}*"               # 2 attributes
    r"(?:\"[^\"&<>]*\"|'[^'&<>]*'|[^\s\"'=<>&]+))?)*)"
    rf"{_WS}*(/?)>"                                     # 3 self-closing
    r"|</([a-zA-Z][-.a-zA-Z0-9:_]*)>")                  # 4 end tag
# one attribute of a span _TOKEN accepted: name, '=' (absent for a
# bare name, so a="" and a stay apart), then one of the three values
_ATTR = re.compile(
    rf"({_NAME})(?:{_WS}*(=){_WS}*"
    r"(?:\"([^\"]*)\"|'([^']*)'|([^\s\"'=<>]+)))?")
_SEEN_ATTRS_MAX = 4096
# marked sections mirror _markupbase.parse_marked_section/_scan_name:
# a declname, then keyword-dependent close —  ']]>' (ws-tolerant) for
# the SGML keywords, ']>' for MS-Office conditional if/else/endif
_MS_DECLNAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MS_CLOSE_STD = re.compile(r"]\s*]\s*>")
_MS_CLOSE_OFFICE = re.compile(r"]\s*>")
_MS_STANDARD = frozenset({"temp", "cdata", "ignore", "include",
                          "rcdata"})
_MS_OFFICE = frozenset({"if", "else", "endif"})


def feed_events(builder, markup: str) -> None:  # noqa: C901
    """Drive a _SoupBuilder-compatible handler through ``markup``.

    Adversarial-input guard: html.parser's tag scanning is QUADRATIC
    on constructible shapes like ``'<a ' * N`` (the attr scan runs to
    end-of-feed, then recovery advances only to the next '<' and the
    next construct rescans the tail — both tokenizers measured ~27 s
    on 50 KB, scripts/bench_soup_worstcase.py).  The lexer therefore
    tracks scan work; once it exceeds ~8x the page length (normal
    markup scans each byte ~0.7-1.5x, fuzz worst 2.4x; only
    adversarial input can exceed the budget) the REMAINDER is
    emitted as plain text — linear, deterministic, flagged via
    ``builder.lexer_degraded``.  This is
    the one documented divergence from the stdlib tokenizer; the A/B
    suite pins that no edge-case/fuzz/conformance input triggers it."""
    n = len(markup)
    i = 0
    find = markup.find
    token = _TOKEN.match
    attrs_in = _ATTR.findall
    # parsed attribute lists by source span: page chrome repeats a few
    # spans (class="...") thousands of times; builders copy the list
    # into each element's dict and never mutate it.  Emptied when
    # full, so pages of all-distinct spans keep it bounded.
    seen_attrs: dict[str, list] = {}
    handle_data = builder.handle_data
    handle_starttag = builder.handle_starttag
    handle_startendtag = builder.handle_startendtag
    handle_endtag = builder.handle_endtag
    cdata_elem: str | None = None
    work = 0
    work_budget = 65536 + 8 * n

    def recover(j: int) -> int:
        """Mirrors goahead's end-of-feed handling for a construct
        that returned "incomplete" (-1): consume through the next
        '>' (or up to the next '<', or one char) as text, then keep
        lexing — html.parser does NOT stop at a broken construct."""
        nonlocal work
        k = find(">", j + 1)
        if k < 0:
            k = find("<", j + 1)
            if k < 0:
                k = j + 1
        else:
            k += 1
        work += k - j
        return k

    def emit_text(j: int, k: int) -> None:
        if k <= j:
            return
        chunk = markup[j:k]
        if "&" in chunk:
            chunk = unescape(chunk)
        handle_data(chunk)

    while i < n:
        if cdata_elem is not None:
            # rawtext: only a complete matching close tag ends it; a
            # near-miss end tag (</scriptx>, </style x>) stays data, raw
            m = _RAW_CLOSE[cdata_elem].search(markup, i)
            if m is None:
                # mirrors goahead leftover-in-cdata: dropped
                i = n
                break
            if m.start() > i:
                handle_data(markup[i:m.start()])
            i = m.start()
            # parse_endtag in cdata mode; its '>' search stops at the
            # match's own '>'
            gtpos = m.end()
            full = endtagfind.match(markup, i)
            if full is None or full.group(1).lower() != cdata_elem:
                handle_data(markup[i:gtpos])    # raw data
                i = gtpos
                continue
            handle_endtag(cdata_elem)
            cdata_elem = None
            i = gtpos
            continue

        if markup[i] != "<":
            k = find("<", i)
            if k < 0:
                k = n
            emit_text(i, k)
            i = k
            continue
        m = token(markup, i)
        if m is not None:
            if m.lastindex == 3:
                name, src, slash = m.group(1, 2, 3)
                tag = name.lower()
                attrs = seen_attrs.get(src)
                if attrs is None:
                    if len(seen_attrs) >= _SEEN_ATTRS_MAX:
                        seen_attrs.clear()
                    attrs = seen_attrs[src] = [
                        (a.lower(), (dq or sq or bare) if eq else None)
                        for a, eq, dq, sq, bare in attrs_in(src)]
                if slash:
                    handle_startendtag(tag, attrs)
                else:
                    handle_starttag(tag, attrs)
                    if tag in _CDATA_ELEMS:
                        cdata_elem = tag
            else:
                handle_endtag(m.group(4).lower())
            i = m.end()
            continue

        if work > work_budget:
            # linear-tail degrade (see docstring): pathological input
            builder.lexer_degraded = True
            emit_text(i, n)
            break

        nxt_ch = markup[i + 1:i + 2]
        letter = "a" <= nxt_ch <= "z" or "A" <= nxt_ch <= "Z"
        if not letter and nxt_ch not in ("/", "!", "?"):
            # lone '<' (or '<' + junk): literal text, advance one char
            handle_data("<")
            i += 1
            continue
        if letter:
            # charge the failed _TOKEN scan: it never reads past the
            # next '<'.  (On '</' it stops by the first '>', which the
            # end-tag branch below always consumes.)
            k = find("<", i + 1)
            work += (n if k < 0 else k) - i
            # --- parse_starttag + check_for_whole_start_tag -------
            m = locatestarttagend_tolerant.match(markup, i)
            j = m.end()
            work += j - i
            nxt = markup[j:j + 1]
            if nxt == ">":
                endpos = j + 1
            elif nxt == "/":
                if markup.startswith("/>", j):
                    endpos = j + 2
                else:
                    k = recover(i)       # '/' w/o '>': incomplete
                    emit_text(i, k)
                    i = k
                    continue
            elif nxt == "" or nxt in ("abcdefghijklmnopqrstuvwxyz=/"
                                      "ABCDEFGHIJKLMNOPQRSTUVWXYZ"):
                k = recover(i)       # incomplete tag/attr value
                emit_text(i, k)
                i = k
                continue
            else:
                endpos = j if j > i else i + 1
            tm = tagfind_tolerant.match(markup, i + 1)
            k = tm.end()
            tag = tm.group(1).lower()
            attrs = []
            while k < endpos:
                am = attrfind_tolerant.match(markup, k)
                if not am:
                    break
                attrname, rest, attrvalue = am.group(1, 2, 3)
                if not rest:
                    attrvalue = None
                elif attrvalue[:1] == "'" == attrvalue[-1:] or \
                        attrvalue[:1] == '"' == attrvalue[-1:]:
                    attrvalue = attrvalue[1:-1]
                if attrvalue and "&" in attrvalue:
                    attrvalue = unescape(attrvalue)
                attrs.append((attrname.lower(), attrvalue))
                k = am.end()
            end = markup[k:endpos].strip()
            if end not in (">", "/>"):
                # junk tag -> literal text, RAW: parse_starttag's
                # handle_data here does NOT unescape (unlike the
                # goahead recovery paths)
                handle_data(markup[i:endpos])
                i = endpos
                continue
            if end.endswith("/>"):
                handle_startendtag(tag, attrs)
            else:
                handle_starttag(tag, attrs)
                if tag in _CDATA_ELEMS:
                    cdata_elem = tag
            i = endpos
            continue

        if markup.startswith("</", i):
            # --- parse_endtag (non-cdata) -------------------------
            gt = find(">", i + 1)
            if gt < 0:
                work += n - i        # failed close-scan covered tail
                k = recover(i)
                emit_text(i, k)
                i = k
                continue
            gtpos = gt + 1
            full = endtagfind.match(markup, i)
            if full is None:
                nm = tagfind_tolerant.match(markup, i + 2)
                if nm is None:
                    if markup.startswith("</>", i):
                        i += 3
                        continue
                    # parse_bogus_comment
                    pos = find(">", i + 2)
                    if pos < 0:
                        work += n - i    # failed close-scan
                        k = recover(i)
                        emit_text(i, k)
                        i = k
                        continue
                    builder.handle_comment(markup[i + 2:pos])
                    i = pos + 1
                    continue
                gtpos = find(">", nm.end())
                handle_endtag(nm.group(1).lower())
                i = gtpos + 1            # find() can't fail: gt above
                continue
            handle_endtag(full.group(1).lower())
            i = gtpos
            continue

        if markup.startswith("<!--", i):
            # _markupbase.parse_comment: '--', optional whitespace, '>'
            close = commentclose.search(markup, i + 4)
            if close is None:
                work += n - i        # failed close-scan covered tail
                k = recover(i)
                emit_text(i, k)
                i = k
                continue
            builder.handle_comment(markup[i + 4:close.start()])
            i = close.end()
            continue

        if markup.startswith("<?", i):
            gt = find(">", i + 2)
            if gt < 0:
                work += n - i        # failed close-scan covered tail
                k = recover(i)
                emit_text(i, k)
                i = k
                continue
            i = gt + 1                   # handle_pi: no event
            continue

        if markup.startswith("<!", i):
            if markup.startswith("<![", i):
                # mirrors parse_marked_section: scan the keyword,
                # pick the close regex per keyword family
                nm = _MS_DECLNAME.match(markup, i + 3)
                if nm is not None and nm.end() == n:
                    work += n - i        # name scan ran to buffer end
                    k = recover(i)       # _scan_name end-of-buffer
                    emit_text(i, k)
                    i = k
                    continue
                name = (nm.group().strip().lower()
                        if nm is not None else None)
                if name in _MS_STANDARD:
                    close = _MS_CLOSE_STD.search(markup, i + 3)
                elif name in _MS_OFFICE:
                    close = _MS_CLOSE_OFFICE.search(markup, i + 3)
                else:
                    # stdlib RAISES AssertionError here (unknown /
                    # missing keyword); the parse contract is
                    # "always succeeds", so both tokenizers degrade
                    # to the bogus-comment path (parse_html_stdlib
                    # wraps the raise identically)
                    pos = find(">", i + 2)
                    if pos < 0:
                        work += n - i    # failed close-scan
                        k = recover(i)
                        emit_text(i, k)
                        i = k
                        continue
                    builder.handle_comment(markup[i + 2:pos])
                    i = pos + 1
                    continue
                if close is None:
                    work += n - i        # failed close-scan
                    k = recover(i)
                    emit_text(i, k)
                    i = k
                    continue
                i = close.end()          # unknown_decl: no event
                continue
            if markup[i + 2:i + 9].lower() == "doctype":
                gt = find(">", i + 2)
                if gt < 0:
                    work += n - i    # failed close-scan covered tail
                    k = recover(i)
                    emit_text(i, k)
                    i = k
                    continue
                i = gt + 1               # handle_decl: no event
                continue
            # parse_bogus_comment
            pos = find(">", i + 2)
            if pos < 0:
                work += n - i        # failed close-scan covered tail
                k = recover(i)
                emit_text(i, k)
                i = k
                continue
            builder.handle_comment(markup[i + 2:pos])
            i = pos + 1
            continue
