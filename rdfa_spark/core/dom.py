"""Minimal stdlib DOM for RDFa extraction.

The reference parses markup with libxml2 (XML::LibXML) or an HTML5
tag-soup parser (reference: lib/RDF/RDFa/Parser.pm:98-119).  lxml is
not available in this environment, so we build a tiny DOM on top of
``xml.parsers.expat`` (XML path) and ``html.parser`` (tag-soup path).

Design notes
------------
* Namespace processing is done *by us*, not by the parser: tags and
  attributes keep their raw names (``rdf:RDF``, ``xml:lang``,
  ``xmlns:dc``) and namespace URIs are resolved lazily by walking the
  ancestor chain of ``xmlns``/``xmlns:*`` declarations.  This gives
  uniform behaviour for well-formed XML and tag-soup HTML.
* Text nodes are plain ``str`` children; comments/PIs are ``Comment``
  wrappers so XML-literal serialization can keep them.
* This module is Spark-free and lxml-free on purpose: the whole RDFa
  core is unit-testable without a JVM.
"""

from __future__ import annotations

import html.entities
import re
import xml.parsers.expat
from html.parser import HTMLParser

from .soup_lexer import feed_events

XML_NS = "http://www.w3.org/XML/1998/namespace"
XHTML_NS = "http://www.w3.org/1999/xhtml"


class Comment:
    __slots__ = ("data",)

    def __init__(self, data: str):
        self.data = data


class ProcessingInstruction:
    __slots__ = ("target", "data")

    def __init__(self, target: str, data: str):
        self.target = target
        self.data = data


class Element:
    __slots__ = ("tag", "localname", "attrs", "children", "parent",
                 "_nsmap_cache")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None,
                 parent: "Element | None" = None):
        self.tag = tag
        # localname is read several times per element on the walker's
        # hot path; tag never mutates, so precompute it (plain slot
        # access beats a property call)
        self.localname = (tag if ":" not in tag
                          else tag.split(":", 1)[1])
        self.attrs: dict[str, str] = attrs or {}
        self.children: list = []
        self.parent = parent
        self._nsmap_cache = None

    # -- name parts -------------------------------------------------
    @property
    def prefix(self) -> str | None:
        if ":" in self.tag:
            return self.tag.split(":", 1)[0]
        return None

    # -- namespaces -------------------------------------------------
    def nsmap(self) -> dict[str | None, str]:
        """In-scope xmlns declarations (prefix -> uri; None = default).
        Shares the parent's map unless this element declares one
        (copy-on-declare: most elements declare nothing)."""
        if self._nsmap_cache is not None:
            return self._nsmap_cache
        parent_map: dict[str | None, str] = (
            self.parent.nsmap() if self.parent is not None else {})
        merged = None
        for k, v in self.attrs.items():
            if k == "xmlns":
                if merged is None:
                    merged = dict(parent_map)
                merged[None] = v
            elif k.startswith("xmlns:"):
                if merged is None:
                    merged = dict(parent_map)
                merged[k[6:]] = v
        self._nsmap_cache = merged if merged is not None else parent_map
        return self._nsmap_cache

    @property
    def namespace_uri(self) -> str | None:
        pfx = self.prefix
        if pfx == "xml":
            return XML_NS
        return self.nsmap().get(pfx)

    # -- attribute access --------------------------------------------
    def get(self, name: str, default: str | None = None) -> str | None:
        return self.attrs.get(name, default)

    def has(self, name: str) -> bool:
        return name in self.attrs

    # -- traversal ----------------------------------------------------
    def child_elements(self):
        return [c for c in self.children if isinstance(c, Element)]

    def iter_elements(self):
        """All descendant elements (not self), document order."""
        for c in self.children:
            if isinstance(c, Element):
                yield c
                yield from c.iter_elements()

    def has_descendant_elements(self) -> bool:
        # any child Element IS a descendant — no recursion needed
        for c in self.children:
            if isinstance(c, Element):
                return True
        return False

    def itertext(self):
        """All descendant text in document order.

        Matches the reference's ``_element_to_string``
        (lib/RDF/RDFa/Parser.pm:2541-2559): only TEXT nodes count;
        comments and PIs do not contribute.
        """
        for c in self.children:
            if isinstance(c, str):
                yield c
            elif isinstance(c, Element):
                yield from c.itertext()

    def text_content(self) -> str:
        return "".join(self.itertext())

    def node_path(self) -> str:
        """Stable, deterministic path (used for element-subject memos
        and error provenance; analogue of libxml nodePath)."""
        parts = []
        node = self
        while node is not None:
            parent = node.parent
            if parent is None:
                parts.append("/" + node.tag)
            else:
                sibs = [c for c in parent.children
                        if isinstance(c, Element) and c.tag == node.tag]
                idx = sibs.index(node) + 1
                parts.append(f"/{node.tag}[{idx}]")
            node = parent
        return "".join(reversed(parts))


class Document:
    __slots__ = ("root", "parse_warnings", "saw_base")

    def __init__(self, root: Element,
                 parse_warnings: list[str] | None = None,
                 saw_base: bool | None = None):
        self.root = root
        # Non-fatal parse recoveries (e.g. unknown entity dropped),
        # surfaced into the processor graph by the extraction layer.
        self.parse_warnings: list[str] = parse_warnings or []
        # False => the builder proved no <base> element exists, so the
        # walker's whole-document <base href> scan (Parser.pm:146-160)
        # can be skipped; None (hand-built documents) => unknown, scan.
        self.saw_base = saw_base

    def iter_elements(self):
        if self.root is not None:
            yield self.root
            yield from self.root.iter_elements()


# ---------------------------------------------------------------------------
# XML parsing (expat, no namespace processing — we keep raw names)
# ---------------------------------------------------------------------------

# Strip DTD to avoid expat chasing external entities; the reference
# uses an XML catalogue for the same reason (Parser.pm:108-119).
_DOCTYPE_RE = re.compile(rb"<!DOCTYPE[^\[>]*(\[[^\]]*\])?[^>]*>", re.S)

# The full XHTML 1.0 named-entity set == the HTML4 set shipped in the
# stdlib (252 names).  libxml2 resolves these through its XML
# catalogue (Parser.pm:108-119); we pre-substitute them as numeric
# character references before expat sees the bytes, so entity-bearing
# but otherwise well-formed XHTML stays on the XML path (expat has no
# DTD and would abort on the first named entity otherwise).
# The five XML predefined entities must be left for expat itself:
# rewriting &lt; to '<' would corrupt markup.
_XML_PREDEFINED = frozenset(("amp", "lt", "gt", "quot", "apos"))
_ENTITY_REF_RE = re.compile(rb"&([a-zA-Z][a-zA-Z0-9]{0,31});")
# Regions where entity syntax is literal text and must NOT be
# rewritten: CDATA sections and comments.
_PROTECTED_RE = re.compile(rb"<!\[CDATA\[.*?\]\]>|<!--.*?-->", re.S)

_NAME2CHARREF = {
    name.encode("ascii"): b"&#%d;" % cp
    for name, cp in html.entities.name2codepoint.items()
    if name not in _XML_PREDEFINED
}


def _entity_repl(m):
    ref = _NAME2CHARREF.get(m.group(1))
    # Unknown names are left verbatim; expat reports them through the
    # SkippedEntityHandler (UseForeignDTD below) like libxml recover.
    return ref if ref is not None else m.group(0)


def _substitute_entities(markup: bytes) -> bytes:
    """Rewrite known XHTML named entities to numeric charrefs,
    skipping CDATA sections and comments."""
    if b"&" not in markup:
        return markup
    out = []
    pos = 0
    for m in _PROTECTED_RE.finditer(markup):
        out.append(_ENTITY_REF_RE.sub(_entity_repl, markup[pos:m.start()]))
        out.append(m.group(0))
        pos = m.end()
    out.append(_ENTITY_REF_RE.sub(_entity_repl, markup[pos:]))
    return b"".join(out)


class _TextRuns:
    """Text-node merging for the tree builders.  A text event next to
    a text node merges into it; the merged pieces are collected and
    joined once, in _flush_text — concatenating per event copies the
    whole run every time, quadratic in events per text node.  Until
    the flush, the node holds the run's first piece; each builder
    flushes before anything could shift or read it, and at the end of
    the parse."""

    def __init__(self):
        self._run_kids: list | None = None   # children list of the run
        self._run_at = 0                     # index of its text node
        self._run: list[str] = []

    def _merge_text(self, kids: list, i: int, data: str) -> None:
        """Merge text ``data`` into the text node at ``kids[i - 1]``."""
        if kids is self._run_kids and i - 1 == self._run_at:
            self._run.append(data)
        else:
            self._flush_text()
            self._run_kids, self._run_at = kids, i - 1
            self._run = [kids[i - 1], data]

    def _flush_text(self) -> None:
        if self._run_kids is not None:
            self._run_kids[self._run_at] = "".join(self._run)
            self._run_kids = None


class _XmlBuilder(_TextRuns):
    # expat events only append to the tree, so a run's index stays
    # valid until the parse ends: flushed only when the next run
    # starts, and after the parse

    def __init__(self):
        super().__init__()
        self.root: Element | None = None
        self.stack: list[Element] = []
        self.saw_base = False

    def start(self, name, attrs):
        # expat builds a fresh dict per StartElementHandler call —
        # safe to take ownership without copying
        el = Element(name, attrs,
                     self.stack[-1] if self.stack else None)
        if el.localname == "base":
            self.saw_base = True
        if self.stack:
            self.stack[-1].children.append(el)
        elif self.root is None:
            self.root = el
        self.stack.append(el)

    def end(self, name):
        self.stack.pop()

    def chars(self, data):
        if self.stack:
            kids = self.stack[-1].children
            if kids and isinstance(kids[-1], str):
                self._merge_text(kids, len(kids), data)
            else:
                kids.append(data)

    def comment(self, data):
        if self.stack:
            self.stack[-1].children.append(Comment(data))

    def pi(self, target, data):
        if self.stack:
            self.stack[-1].children.append(
                ProcessingInstruction(target, data))


def parse_xml(markup: bytes | str) -> Document:
    """Parse well-formed (X)HTML/XML bytes into a Document.

    Raises ``xml.parsers.expat.ExpatError`` on malformed input;
    callers fall back to the tag-soup parser.
    """
    if isinstance(markup, str):
        markup = markup.encode("utf-8")
    # Replace DOCTYPE (we resolve XHTML entities ourselves, below).
    markup = _DOCTYPE_RE.sub(b"", markup)
    # Resolve the full XHTML named-entity set up front (&nbsp; ->
    # U+00A0 etc.), keeping entity-bearing XHTML on the XML path.
    markup = _substitute_entities(markup)

    b = _XmlBuilder()
    p = xml.parsers.expat.ParserCreate()  # no namespace separator
    p.buffer_text = True
    p.StartElementHandler = b.start
    p.EndElementHandler = b.end
    p.CharacterDataHandler = b.chars
    p.CommentHandler = b.comment
    p.ProcessingInstructionHandler = b.pi
    # Pretend an (unread) external DTD exists so a genuinely unknown
    # entity is a recoverable skip, not a fatal error — the libxml2
    # "recover" analogue: the entity contributes no text and we record
    # a warning for the processor graph.
    p.UseForeignDTD(True)
    p.SetParamEntityParsing(xml.parsers.expat.XML_PARAM_ENTITY_PARSING_NEVER)
    warnings: list[str] = []

    def skipped(name, is_param):
        warnings.append(f"unknown entity &{name}; dropped")

    p.SkippedEntityHandler = skipped
    p.Parse(markup, True)
    b._flush_text()
    if b.root is None:
        raise xml.parsers.expat.ExpatError("no root element")
    return Document(b.root, warnings, saw_base=b.saw_base)


# ---------------------------------------------------------------------------
# Tag-soup HTML parsing (html.parser)
# ---------------------------------------------------------------------------

_VOID = frozenset("""area base br col embed hr img input link meta param
source track wbr""".split())

# Minimal HTML5-ish implied-end-tag handling: a new <p>-family element
# closes an open <p>; <li> closes <li>; table-section tags close peers.
_CLOSE_P = frozenset("""address article aside blockquote div dl fieldset
figcaption figure footer form h1 h2 h3 h4 h5 h6 header hr main nav ol p
pre section table ul""".split())
# On <tag>, close any open element in `closes` below the nearest
# `scope` boundary (HTML5 implied end tags: a new <li> closes an open
# <li> even across inline descendants, but not across a nested list).
_IMPLIED_END = {
    "li": ({"li"}, {"ul", "ol", "body"}),
    "option": ({"option"}, {"select", "body"}),
    "tr": ({"tr", "td", "th"}, {"table", "thead", "tbody", "tfoot",
                                "body"}),
    "td": ({"td", "th"}, {"tr", "table", "body"}),
    "th": ({"td", "th"}, {"tr", "table", "body"}),
    "dd": ({"dd", "dt"}, {"dl", "body"}),
    "dt": ({"dd", "dt"}, {"dl", "body"}),
    "thead": ({"thead", "tbody", "tfoot", "tr", "td", "th"},
              {"table", "body"}),
    "tbody": ({"thead", "tbody", "tfoot", "tr", "td", "th"},
              {"table", "body"}),
    "tfoot": ({"thead", "tbody", "tfoot", "tr", "td", "th"},
              {"table", "body"}),
}



def _attr_dict(attrs) -> dict:
    """First occurrence wins for duplicate attributes — the HTML5
    tree-construction rule (a real HTML5 parser ignores repeats), so
    tag-soup pages hash to the same triples the reference's
    HTML::HTML5::Parser would produce."""
    out: dict = dict(attrs)
    if len(out) == len(attrs):
        return out                      # no repeats: order and values kept
    out = {}
    for k, v in attrs:
        if k not in out:
            out[k] = v
    return out


# HTML5 "formatting" category (WHATWG 13.2.4.3): end tags for these
# run the adoption agency when mis-nested.
_FORMATTING = frozenset("""a b big code em font i nobr s small strike
strong tt u""".split())

# HTML5 "special" category, abridged to the tags that occur as the
# furthest block in real tag soup (block/structural elements; ordinary
# elements like span are NOT special and take the plain-pop fallback).
_SPECIAL = frozenset("""address applet area article aside base
basefont blockquote body br button caption center col colgroup dd
details dir div dl dt embed fieldset figcaption figure footer form
frame frameset h1 h2 h3 h4 h5 h6 head header hgroup hr html iframe
img input li link listing main marquee menu meta nav noembed noframes
noscript object ol p param plaintext pre script section select source
style summary table tbody td template textarea tfoot th thead title
tr track ul wbr""".split())

# Insertion contexts where raw text / arbitrary elements get
# foster-parented before the table (WHATWG "in table" mode).  Cells
# and captions host normal content and are NOT in this set.
_TABLE_CTX = frozenset({"table", "tbody", "thead", "tfoot", "tr"})
# Start tags legal inside the table context (everything else fosters).
_TABLE_OK = frozenset("""caption col colgroup table tbody td template
tfoot th thead tr script style form""".split())
# Table-structure tags that re-enter "in table" processing: when one
# arrives while a fostered element is still the current node, the
# parser returns to the innermost open table first.
_TABLE_STRUCTURE = frozenset("""caption col colgroup tbody tfoot
thead tr td th""".split())
# Elements that legitimately host table structure or normal content.
_TABLE_HOSTS = frozenset("""table tbody thead tfoot tr td th caption
template""".split())


# Active-formatting-elements marker owners (WHATWG 13.2.4.3): these
# insert a marker on open and clear the list up to it on close.
_AFE_MARKER_TAGS = frozenset(
    "applet caption marquee object template td th".split())
# Default-scope barriers for the "has element in scope" check
# (13.2.4.2; foreign-content barriers omitted — no foreign modes).
_SCOPE_BARRIERS = frozenset(
    "applet caption html table td th marquee object template".split())
# Start tags that do NOT reconstruct the active formatting elements
# in the "in body" insertion mode (13.2.6.4.7): the block/section
# family, raw-text/metadata elements, and table structure.  Every
# other start tag (formatting, phrasing, unknown) reconstructs, as
# do character tokens — that pair is what reopens mis-nested
# formatting exactly where content actually lands.
_NO_RECONSTRUCT = frozenset("""address article aside blockquote
center details dialog dir div dl fieldset figcaption figure footer
form frame frameset h1 h2 h3 h4 h5 h6 head header hgroup hr html
iframe li dd dt listing main menu nav noembed noframes noscript ol p
plaintext
pre script section style summary table textarea title ul base
basefont bgsound link meta param source track caption col colgroup
tbody td tfoot th thead tr body""".split())

_MARKER = object()      # the AFE marker sentinel

# Start tags with an implied-end, table, <a>/<nobr> or html step in
# handle_starttag: outside table context every other tag takes the
# common-case path, these only when _start_is_simple holds.
_START_FULL = frozenset({"html", "table", "nobr"}) | _TABLE_STRUCTURE
_START_CHECKED = (_START_FULL | _CLOSE_P | frozenset(_IMPLIED_END)
                  | frozenset({"a"}))
# Inline elements a _CLOSE_P start tag looks through for an open <p>.
_P_INLINE = frozenset("a span b i em strong small u s".split())
# End tags needing more than a pop when they close the current node:
# adoption agency, AFE marker clearing, voids (never pushed).
_END_FULL = _FORMATTING | _AFE_MARKER_TAGS | _VOID

# Bound on active-formatting entries per marker segment: the spec's
# Noah's-Ark clause only dedups IDENTICAL (tag, attrs) entries, so
# crafted pages with distinct attrs ('<p><b class=N>x</p>' * M) grow
# the list — and every reconstruct re-clones it — quadratically.
# Browsers share this exposure; a crawl worker shouldn't.  Dropping
# the OLDEST entry past 32 only changes pages that mis-nest >32
# distinct formatting elements across a block boundary.
_AFE_SEGMENT_CAP = 32


class _SoupBuilder(_TextRuns, HTMLParser):
    def __init__(self):
        _TextRuns.__init__(self)
        HTMLParser.__init__(self, convert_charrefs=True)
        self.root: Element | None = None
        self.stack: list[Element] = []
        # list of active formatting elements (WHATWG 13.2.4.3):
        # Element refs interleaved with _MARKER sentinels
        self.afe: list = []
        # identity set mirroring self.stack: _on_stack must be O(1)
        # — an O(depth) scan per tag is quadratic on deep-stack soup
        # (every push/pop/replace below keeps it in sync; pinned by
        # the tree battery's invariant check)
        self._stack_ids: set[int] = set()
        self.saw_base = False

    def parse_marked_section(self, i, report=1):
        # _markupbase raises AssertionError on an unknown (or
        # missing) marked-section keyword; the parse contract is
        # "always succeeds", so degrade to the bogus-comment path —
        # what the tokenizer does for every other unrecognized '<!'
        # construct.  The fast lexer mirrors this exactly.
        try:
            return super().parse_marked_section(i, report)
        except AssertionError:
            return self.parse_bogus_comment(i, report)

    def updatepos(self, i, j):
        """No-op position tracking: html.parser counts newlines per
        chunk only to serve getpos(), which this builder never calls
        — the scan is pure overhead on crawl-sized soup."""
        return j

    def _ensure_root(self):
        if self.root is None:
            self.root = Element("html", {})
            self.stack = [self.root]
            self._stack_ids = {id(self.root)}

    # -- active formatting elements (WHATWG 13.2.4.3) ----------------
    def _afe_push(self, el):
        """Push with the Noah's-Ark clause: at most 3 entries with
        identical (tag, attrs) per marker segment — remove the
        EARLIEST match when a fourth arrives."""
        matches = []
        seg = 0
        for j in range(len(self.afe) - 1, -1, -1):
            e = self.afe[j]
            if e is _MARKER:
                break
            seg += 1
            if e.tag == el.tag and e.attrs == el.attrs:
                matches.append(j)
        if len(matches) >= 3:
            del self.afe[matches[-1]]
        elif seg >= _AFE_SEGMENT_CAP:     # adversarial-growth guard
            del self.afe[len(self.afe) - seg]    # oldest in segment
        self.afe.append(el)

    def _on_stack(self, el) -> bool:
        return id(el) in self._stack_ids

    def _clear_afe_to_marker(self):
        for j in range(len(self.afe) - 1, -1, -1):
            if self.afe[j] is _MARKER:
                del self.afe[j:]
                return
        # unbalanced implied close with no marker: leave the list

    def _pop_stack(self, i):
        """Pop stack[i:], clearing one AFE marker segment per popped
        marker-owning element (td/th/caption/applet/marquee/object/
        template close via implied end tags too)."""
        popped = self.stack[i:]
        del self.stack[i:]
        for el in popped:
            self._stack_ids.discard(id(el))
            if el.tag in _AFE_MARKER_TAGS:
                self._clear_afe_to_marker()

    def _reconstruct_afe(self):
        """Reconstruct the active formatting elements (13.2.4.3):
        re-open (clone) every entry after the last marker/on-stack
        entry, in order, at the current insertion point.  Runs before
        character insertion and before non-_NO_RECONSTRUCT start
        tags — which is exactly what makes mis-nested formatting
        wrap the content that actually arrives (no content, no
        clone)."""
        i = self._afe_reconstruct_start()
        if i is None:
            return
        for j in range(i, len(self.afe)):
            e = self.afe[j]
            self.afe[j] = self._insert(e.tag, dict(e.attrs))

    def _afe_reconstruct_start(self):
        """Index of the first AFE entry needing reconstruction, or
        None when the list is empty/clean (13.2.4.3 steps 1-6)."""
        afe = self.afe
        if not afe:
            return None
        last = afe[-1]
        if last is _MARKER or self._on_stack(last):
            return None
        i = len(afe) - 1
        while i > 0:
            i -= 1
            e = afe[i]
            if e is _MARKER or self._on_stack(e):
                i += 1
                break
        return i

    # -- foster parenting (WHATWG 13.2.6.1) -------------------------
    def _foster_slot(self):
        """(parent, index) immediately before the innermost open
        table, or None when not in a fosterable table context."""
        if self.stack[-1].tag not in _TABLE_CTX:
            return None
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == "table":
                par = self.stack[i - 1]
                try:
                    return par, par.children.index(self.stack[i])
                except ValueError:      # detached (shouldn't happen)
                    return par, len(par.children)
        return None                     # tbody soup with no table

    def _imply_table_sections(self, tag):
        """<tr> directly in <table> gets an implied <tbody>; <td>/<th>
        outside a row gets an implied <tr> (WHATWG "in table" /
        "in table body" modes)."""
        if tag == "tr" and self.stack[-1].tag == "table":
            self._insert("tbody", {})
        elif tag in ("td", "th"):
            if self.stack[-1].tag == "table":
                self._insert("tbody", {})
            if self.stack[-1].tag in ("tbody", "thead", "tfoot"):
                self._insert("tr", {})

    def _insert(self, tag, attrs, push=True):
        parent = self.stack[-1]
        el = Element(tag, attrs, parent)
        parent.children.append(el)
        if push:
            self.stack.append(el)
            self._stack_ids.add(id(el))
        return el

    def _start_is_simple(self, tag, ctag) -> bool:
        """True when every implied-end, table and <a> step of the full
        start-tag path is a no-op for `tag` under current node `ctag`
        (outside table context): a block start with no <p> to close
        through inline ancestors, a list item / option / dd / dt
        directly in its scope element, an <a> with no open <a> in the
        AFE segment."""
        if tag in _START_FULL:
            return False
        if tag in _CLOSE_P:
            return ctag != "p" and ctag not in _P_INLINE
        implied = _IMPLIED_END.get(tag)
        if implied is not None:
            return ctag in implied[1]
        return tag != "a" or not self.afe or self.afe[-1] is _MARKER

    def handle_starttag(self, tag, attrs):
        # common-case path: outside table context, ordinary phrasing
        # and unknown tags (span, custom elements, RDFa wrappers) hit
        # none of the implied-end / table / formatting machinery, and
        # nor do block, list and <a> starts in well-nested markup
        # (_start_is_simple) — reconstruct-if-needed, insert, push.
        if self._run_kids is not None:
            self._flush_text()
        if "base" in tag and (tag == "base"
                              or tag.endswith(":base")):
            self.saw_base = True
        stack = self.stack
        if stack:
            ctag = stack[-1].tag
            if ctag not in _TABLE_CTX and (
                    tag not in _START_CHECKED
                    or self._start_is_simple(tag, ctag)):
                if self.afe and tag not in _NO_RECONSTRUCT:
                    self._reconstruct_afe()
                parent = stack[-1]
                el = Element(tag, _attr_dict(attrs), parent)
                parent.children.append(el)
                if tag not in _VOID:
                    stack.append(el)
                    self._stack_ids.add(id(el))
                if tag in _FORMATTING:
                    self._afe_push(el)
                elif tag in _AFE_MARKER_TAGS:
                    self.afe.append(_MARKER)
                return
        if tag == "html":
            if self.root is None:
                self.root = Element("html", _attr_dict(attrs))
                self.stack = [self.root]
                self._stack_ids = {id(self.root)}
            else:
                for _k, _v in attrs:
                    self.root.attrs.setdefault(_k, _v)
            return
        self._ensure_root()
        # a <table> start while a table is open closes it first
        # (WHATWG "in table": implied </table>)
        if tag == "table" and self.stack[-1].tag in _TABLE_CTX:
            for i in range(len(self.stack) - 1, 0, -1):
                if self.stack[i].tag == "table":
                    self._pop_stack(i)
                    break
        # implied end tags
        if tag in _CLOSE_P:
            for i in range(len(self.stack) - 1, 0, -1):
                if self.stack[i].tag == "p":
                    self._pop_stack(i)
                    break
                if self.stack[i].tag not in _P_INLINE:
                    break
        implied = _IMPLIED_END.get(tag)
        if implied:
            closes, scope = implied
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t in scope:
                    break
                if t in closes:
                    self._pop_stack(i)
                    break
        # table structure resuming while a fostered element is still
        # current: return to the innermost open table ("in table"
        # reprocessing); popped formatting stays in the AFE and
        # reconstructs at the foster point when content arrives
        if (tag in _TABLE_STRUCTURE
                and self.stack[-1].tag not in _TABLE_HOSTS):
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t == "table":
                    self._pop_stack(i + 1)
                    break
                if t in ("td", "th", "caption"):
                    break       # inside a cell: implied-end rules own it
        self._imply_table_sections(tag)
        # the spec's <a> rule (13.2.6.4.7): a new <a> with an <a>
        # still in the list after the last marker runs the adoption
        # agency on it first, then drops the stale entry
        if tag == "a":
            for j in range(len(self.afe) - 1, -1, -1):
                e = self.afe[j]
                if e is _MARKER:
                    break
                if e.tag == "a":
                    self._adoption("a")
                    for k in range(len(self.afe) - 1, -1, -1):
                        if self.afe[k] is e:
                            del self.afe[k]
                            break
                    for k in range(len(self.stack) - 1, 0, -1):
                        if self.stack[k] is e:
                            del self.stack[k]
                            self._stack_ids.discard(id(e))
                            break
                    break
        elif tag == "nobr":
            if self._in_scope("nobr"):
                self._adoption("nobr")
        # foster-parent a non-table element opened in table context
        slot = None
        if tag not in _TABLE_OK:
            slot = self._foster_slot()
        if slot is None and tag not in _NO_RECONSTRUCT:
            self._reconstruct_afe()
        if slot is not None:
            par, idx = slot
            el = Element(tag, _attr_dict(attrs), par)
            par.children.insert(idx, el)
            if tag not in _VOID:
                # fostered element still becomes the current node
                self.stack.append(el)
                self._stack_ids.add(id(el))
        else:
            parent = self.stack[-1]
            el = Element(tag, _attr_dict(attrs), parent)
            parent.children.append(el)
            if tag not in _VOID:
                self.stack.append(el)
                self._stack_ids.add(id(el))
        if tag in _FORMATTING:
            self._afe_push(el)
        elif tag in _AFE_MARKER_TAGS:
            self.afe.append(_MARKER)

    def handle_startendtag(self, tag, attrs):
        if self._run_kids is not None:
            self._flush_text()
        if "base" in tag and (tag == "base"
                              or tag.endswith(":base")):
            self.saw_base = True
        if tag == "html":
            self.handle_starttag(tag, attrs)
            return
        self._ensure_root()
        slot = self._foster_slot() if tag not in _TABLE_OK else None
        if slot is None and tag not in _NO_RECONSTRUCT:
            self._reconstruct_afe()
        if slot is not None:
            par, idx = slot
            par.children.insert(idx, Element(tag, _attr_dict(attrs),
                                             par))
            return
        parent = self.stack[-1]
        el = Element(tag, _attr_dict(attrs), parent)
        parent.children.append(el)

    # -- adoption agency (WHATWG 13.2.6.4.7, full algorithm) --------
    def _in_scope(self, tag) -> bool:
        """"Has an element in scope" with the default-scope barriers
        (13.2.4.2)."""
        for i in range(len(self.stack) - 1, -1, -1):
            t = self.stack[i].tag
            if t == tag:
                return True
            if t in _SCOPE_BARRIERS:
                return False
        return False

    def _detach(self, node):
        p = node.parent
        if p is not None:
            for i, c in enumerate(p.children):
                if c is node:
                    del p.children[i]
                    break

    def _append_foster_aware(self, parent, node):
        """Append `node` as the last child of `parent`, unless
        `parent` is a fosterable table context — then insert it
        immediately before the innermost open table instead (the
        spec's "appropriate place for inserting a node" with an
        override target)."""
        self._detach(node)
        if parent.tag in _TABLE_CTX:
            for i in range(len(self.stack) - 1, 0, -1):
                if self.stack[i].tag == "table":
                    tbl = self.stack[i]
                    par = tbl.parent if tbl.parent is not None \
                        else self.stack[i - 1]
                    for k, c in enumerate(par.children):
                        if c is tbl:
                            par.children.insert(k, node)
                            node.parent = par
                            return
                    break
        parent.children.append(node)
        node.parent = parent

    def _adoption(self, subject) -> None:
        """The adoption agency algorithm, with the spec's outer x8 /
        inner x3 iteration caps, the bookmark, and AFE rewriting.
        Falls through to the "any other end tag" pop loop when no
        matching formatting entry exists."""
        # step 1-2: trivial case — current node matches and is not
        # in the AFE list
        cur = self.stack[-1] if len(self.stack) > 1 else None
        if (cur is not None and cur.tag == subject
                and not any(e is cur for e in self.afe)):
            self._pop_stack(len(self.stack) - 1)
            return
        for _outer in range(8):
            # the last AFE entry for `subject` after the last marker
            F = None
            fj = -1
            for j in range(len(self.afe) - 1, -1, -1):
                e = self.afe[j]
                if e is _MARKER:
                    break
                if e.tag == subject:
                    F, fj = e, j
                    break
            if F is None:
                # no AFE entry -> spec says act per "any other end
                # tag" (13.2.6.4.7): a _SPECIAL element before the
                # match means the token is ignored — an evicted
                # (Noah's Ark / segment-cap) formatting end tag must
                # not punch through an open block element
                for i in range(len(self.stack) - 1, 0, -1):
                    t = self.stack[i].tag
                    if t == subject:
                        self._pop_stack(i)
                        return
                    if t in _SPECIAL:
                        return
                return
            if not self._on_stack(F):
                del self.afe[fj]            # parse error: drop entry
                return
            fi = next(i for i, s in enumerate(self.stack) if s is F)
            if not self._in_scope(subject):
                return                      # parse error: ignore
            # furthest block: first special element below F
            fb = None
            fb_i = -1
            for i in range(fi + 1, len(self.stack)):
                if self.stack[i].tag in _SPECIAL:
                    fb = self.stack[i]
                    fb_i = i
                    break
            if fb is None:
                self._pop_stack(fi)
                del self.afe[fj]
                return
            common = self.stack[fi - 1]
            bookmark = fj
            node_i = fb_i
            node = fb
            last_node = fb
            inner = 0
            while True:
                inner += 1
                node_i -= 1
                node = self.stack[node_i]
                if node is F:
                    break
                ni = next((j for j in range(len(self.afe) - 1,
                                            -1, -1)
                           if self.afe[j] is node), -1)
                if inner > 3 and ni >= 0:
                    del self.afe[ni]
                    if ni < bookmark:
                        bookmark -= 1
                    ni = -1
                if ni < 0:
                    del self.stack[node_i]
                    self._stack_ids.discard(id(node))
                    continue
                clone = Element(node.tag, dict(node.attrs))
                self.afe[ni] = clone
                self.stack[node_i] = clone
                self._stack_ids.discard(id(node))
                self._stack_ids.add(id(clone))
                node = clone
                if last_node is fb:
                    bookmark = ni + 1
                self._detach(last_node)
                node.children.append(last_node)
                last_node.parent = node
                last_node = node
            self._append_foster_aware(common, last_node)
            fclone = Element(F.tag, dict(F.attrs), fb)
            fclone.children = fb.children
            for c in fclone.children:
                if isinstance(c, Element):
                    c.parent = fclone
            fb.children = [fclone]
            # F's index (backward scan: it sits near the active
            # segment's end); removing it shifts any later bookmark
            fj2 = next(j for j in range(len(self.afe) - 1, -1, -1)
                       if self.afe[j] is F)
            del self.afe[fj2]
            if fj2 < bookmark:
                bookmark -= 1
            self.afe.insert(bookmark, fclone)
            fi = next(i for i, s in enumerate(self.stack) if s is F)
            del self.stack[fi]
            self._stack_ids.discard(id(F))
            fb_i = next(i for i, s in enumerate(self.stack)
                        if s is fb)
            self.stack.insert(fb_i + 1, fclone)
            self._stack_ids.add(id(fclone))

    def handle_endtag(self, tag):
        if self._run_kids is not None:
            self._flush_text()
        stack = self.stack
        if len(stack) > 1 and stack[-1].tag == tag:
            # well-nested close of the current node: a plain pop, or
            # the trivial adoption case (the formatting element is
            # also the last AFE entry: no furthest block, 13.2.6.4.7)
            cur = stack[-1]
            if tag not in _END_FULL:
                stack.pop()
                self._stack_ids.discard(id(cur))
                return
            if self.afe and self.afe[-1] is cur:
                stack.pop()
                self._stack_ids.discard(id(cur))
                self.afe.pop()
                return
        if tag in _VOID:
            return
        if tag in _FORMATTING:
            self._adoption(tag)
            return
        if tag in _SPECIAL:
            # block-family end tags have their own pop-through rules
            # in the spec (ul/li/div/td...); pop to the match
            for i in range(len(self.stack) - 1, 0, -1):
                if self.stack[i].tag == tag:
                    self._pop_stack(i)
                    return
            return
        # "any other end tag" (13.2.6.4.7): walk down; a SPECIAL
        # element before the match means the token is ignored —
        # </span> does not punch through an open <div>
        for i in range(len(self.stack) - 1, 0, -1):
            t = self.stack[i].tag
            if t == tag:
                self._pop_stack(i)
                return
            if t in _SPECIAL:
                return

    def handle_data(self, data):
        if not self.stack:
            if data.strip():
                self._ensure_root()
            else:
                return
        if data.strip():
            slot = self._foster_slot()
            if slot is not None:        # table text fosters
                par, idx = slot
                start = self._afe_reconstruct_start()
                if start is not None:
                    # foster-point reconstruction: mis-nested
                    # formatting re-opens BEFORE the table and the
                    # clones become current (they pop again when
                    # table structure resumes), so each fostered
                    # text run lands in its own formatting clone —
                    # the '<table><b><tr>…text' shape of 13.2.6.1
                    parent, at = par, idx
                    for j in range(start, len(self.afe)):
                        e = self.afe[j]
                        c = Element(e.tag, dict(e.attrs), parent)
                        parent.children.insert(at, c)
                        self.afe[j] = c
                        self.stack.append(c)
                        self._stack_ids.add(id(c))
                        parent, at = c, 0
                    parent.children.append(data)
                    return
                prev = par.children[idx - 1] if idx > 0 else None
                if isinstance(prev, str):
                    self._merge_text(par.children, idx, data)
                else:
                    par.children.insert(idx, data)
                return
        elif self.stack and self.stack[-1].tag in _TABLE_CTX:
            # "in table text" (13.2.6.4.9): an all-whitespace run is
            # inserted directly, WITHOUT reconstructing formatting —
            # else a dirty AFE clones e.g. <b> inside the row and the
            # table-structure re-entry splits the table in two
            kids = self.stack[-1].children
            if kids and isinstance(kids[-1], str):
                self._merge_text(kids, len(kids), data)
            else:
                kids.append(data)
            return
        self._reconstruct_afe()
        kids = self.stack[-1].children
        if kids and isinstance(kids[-1], str):
            self._merge_text(kids, len(kids), data)
        else:
            kids.append(data)

    def handle_comment(self, data):
        if self._run_kids is not None:
            self._flush_text()
        if self.stack:
            self.stack[-1].children.append(Comment(data))


def _finish_soup(b: _SoupBuilder) -> Document:
    b._flush_text()
    if b.root is None:
        b.root = Element("html", {})
    # HTML5 parsers place elements in the XHTML namespace; mirror that
    # so the head/body and <time> rules see the expected namespace.
    if "xmlns" not in b.root.attrs:
        b.root.attrs["xmlns"] = XHTML_NS
    return Document(b.root, saw_base=b.saw_base)


def parse_html(markup: bytes | str) -> Document:
    """Tag-soup parse; always succeeds (HTML5-parser analogue,
    reference: Parser.pm:103-107).  Tokenized by the fast regex
    lexer (soup_lexer.py) — DOM-equal to the stdlib html.parser
    tokenizer of parse_html_stdlib, pinned by
    tests/test_soup_lexer_ab.py."""
    if isinstance(markup, bytes):
        markup = markup.decode("utf-8", "replace")
    b = _SoupBuilder()
    feed_events(b, markup)
    return _finish_soup(b)


def parse_html_stdlib(markup: bytes | str) -> Document:
    """The html.parser-tokenized path: the tests' A/B reference for
    the lexer, not used by extraction."""
    if isinstance(markup, bytes):
        markup = markup.decode("utf-8", "replace")
    b = _SoupBuilder()
    b.feed(markup)
    b.close()
    return _finish_soup(b)


def parse_markup(markup: bytes | str, dom_parser: str = "xml") -> Document:
    """Dispatch on the config's dom_parser flag (Parser.pm:98-119),
    falling back to tag-soup when XML parsing fails (recover mode)."""
    if dom_parser == "html":
        return parse_html(markup)
    try:
        return parse_xml(markup)
    except Exception:
        return parse_html(markup)
