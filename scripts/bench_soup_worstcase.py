#!/usr/bin/env python
"""Worst-case soup-lexer measurement (VERDICT r4 #8): degenerate
markup shapes — pathological '<' densities, unterminated constructs,
bogus-comment storms — timed through the fast lexer AND the stdlib
html.parser tokenizer.  The fast path must never be meaningfully
slower than the stdlib tokenizer (``parse_html_stdlib``, the tests'
reference) on adversarial input: extraction has no way to switch to it.

Prints one JSON line: per-case KB/s for both tokenizers + ratio.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from rdfa_spark.core.dom import parse_html, parse_html_stdlib  # noqa: E402

KB = 200   # per-case target size in KB

CASES = {
    # every char opens a construct that immediately fails
    "lt_storm": "<" * (KB * 1024),
    "lt_space": "< " * (KB * 512),
    # start tag never completes: QUADRATIC in html.parser semantics
    # (attr scan to end-of-feed + 3-char recovery advance).  20 KB so
    # the stdlib side stays feasible; the fast lexer's work-budget
    # degrade makes it linear (1 MB in ~1.8 s vs hours).
    "open_tags_20k": "<a " * (20 * 341),
    # end-tag bogus comments
    "endtag_bogus": "</@>" * (KB * 256),
    # marked sections: unterminated CDATA head + storm of short ones
    "cdata_unterminated": "<![CDATA[" + "x" * (KB * 1024),
    "cdata_storm": "<![CDATA[y]]>" * (KB * 79),
    "msoffice_storm": "<![if !IE]>z<![endif]>" * (KB * 47),
    # rawtext element with a near-miss close storm
    "script_nearmiss": "<script>" + "</scr1pt>" * (KB * 114) + "</script>",
    # comment that never closes
    "comment_unterminated": "<!--" + "-" * (KB * 1024),
    # entity-dense text
    "entity_storm": "&amp;&lt;&bogus;" * (KB * 64),
    # plausible dense soup
    "dense_soup": ("<p><b><i>x</p></i>" "<table><td>y"
                   "<a href=# rel=next>z") * (KB * 20),
    # -- adoption-agency / AFE stress (full-WHATWG builder paths;
    # cost lives in the shared _SoupBuilder, so fast-vs-stdlib reads
    # ~1.0 — the absolute KB/s is the regression pin).  Distinct
    # attributes defeat Noah's Ark; _AFE_SEGMENT_CAP bounds the
    # reconstruction clone storm to O(cap) per text node.
    "aaa_distinct_attr_reconstruct":
        "".join(f"<b a{i}=1>x</p><p>" for i in range(4000)),
    # every misnested </b> runs the full adoption agency
    "aaa_misnest_blocks":
        ("<b><i><u><s><em><strong><small><code><div>" * 600
         + "</b>" * 600),
    # fostered text reconstructs formatting at the foster point
    "aaa_fostered_text_fmt":
        "<table>" + "".join(f"<b f{i}=1>y" for i in range(4000)),
    # cell boundaries insert AFE markers; formatting never leaks
    "aaa_cell_markers":
        "".join(f"<table><td><b m{i}=1>z</td></table>"
                for i in range(2500)),
    # the <a>-in-AFE rule triggers adoption on every nested <a>
    "aaa_nested_anchors":
        "".join(f"<a href={i}><div><a href=x{i}>t</a></div></a>"
                for i in range(2000)),
}


def rate(fn, markup, reps=3):
    best = None
    for _ in range(reps):
        t0 = time.time()
        fn(markup)
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return len(markup) / 1024.0 / best


def main():
    out = {}
    for name, markup in CASES.items():
        fast = rate(parse_html, markup)
        std = rate(parse_html_stdlib, markup)
        out[name] = {"kb": round(len(markup) / 1024),
                     "fast_kb_s": round(fast),
                     "stdlib_kb_s": round(std),
                     "fast_vs_stdlib": round(fast / std, 2)}
        print(f"# {name}: fast {fast:,.0f} KB/s, stdlib {std:,.0f} "
              f"KB/s, ratio {fast/std:.2f}", file=sys.stderr)
    worst = min(v["fast_vs_stdlib"] for v in out.values())
    print(json.dumps({"metric": "soup_worstcase",
                      "cases": out,
                      "worst_fast_vs_stdlib": worst}))


if __name__ == "__main__":
    main()
