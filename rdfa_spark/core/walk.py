"""The RDFa processing model: document -> triples + errors.

A from-scratch re-expression of the reference's single fused
interpreter pass ``_consume_element``
(lib/RDF/RDFa/Parser.pm:547-2192), restructured for Python but
keeping the observable semantics branch-for-branch:

* evaluation-context chaining (base, parent subject/object, prefix and
  term mappings, incomplete triples, list mappings, language, graph,
  xml:base) — Parser.pm:564-613
* subject-resolution closure chains, three branches — Parser.pm:1090-1414
* literal-value ladder incl. @datetime sniffing, @value, @content,
  XMLLiteral EC14N, property-resources — Parser.pm:1700-1950
* incomplete-triple completion — Parser.pm:2006-2050
* @inlist rdf:List assembly — Parser.pm:2114-2188

Intentional deviation (SURVEY.md §1.2): bnode labels are
deterministic per document (``_:h<md5(base)[:10]>n<counter>``) rather
than the reference's random per-parse UUID prefix
(Parser.pm:2615-2628); triple-set comparisons are done modulo bnode
bijection, and determinism is required for resumable pipelines.

This module is pure Python and Spark-free: it runs *inside* the
Arrow-batched extraction UDF (rdfa_spark/extract.py) and in plain
pytest without a JVM.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass

from . import curie as curie_mod
from .c14n import element_to_xml
from .config import Config, guess_version_from_root, make_config
from .context import initial_context
from .curie import Mappings, TermMap, expand_curie
from .dom import Document, Element, XHTML_NS, XML_NS, parse_markup
from .lang import valid_lang
from .uri import resolve

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"
RDF_XMLLIT = RDF_NS + "XMLLiteral"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
XSD = "http://www.w3.org/2001/XMLSchema#"

ERR_WARNING = "warning"
ERR_ERROR = "error"


@dataclass(frozen=True)
class Triple:
    subj: str
    pred: str
    obj: str
    is_literal: bool = False
    datatype: str | None = None
    lang: str | None = None
    graph: str | None = None


@dataclass(frozen=True)
class ParseError:
    level: str
    code: str
    message: str
    node_path: str | None = None


# @datetime / <time> datatype-sniffing ladder; order matters
# (Parser.pm:1740-1759).
_DATETIME_LADDER = [
    (re.compile(r"^(-?\d{4,})-(\d{2})-(\d{2})T(\d{2}):(\d{2})"
                r"(:(\d{2})(?:\.\d+)?)?(Z|(?:[+-]\d{2}:?\d{2}))?$", re.I),
     XSD + "dateTime"),
    (re.compile(r"^(\d{2}):(\d{2})(:(\d{2})(?:\.\d+)?)?"
                r"(Z|(?:[+-]\d{2}:?\d{2}))?$", re.I), XSD + "time"),
    (re.compile(r"^(-?\d{4,})-(\d{2})-(\d{2})"
                r"(Z|(?:[+-]\d{2}:?\d{2}))?$", re.I), XSD + "date"),
    (re.compile(r"^(-?\d{4,})-(\d{2})(Z|(?:[+-]\d{2}:?\d{2}))?$", re.I),
     XSD + "gYearMonth"),
    (re.compile(r"^(-?\d{4,})(Z|(?:[+-]\d{2}:?\d{2}))?$", re.I),
     XSD + "gYear"),
    (re.compile(r"^--(\d{2})-(\d{2})(Z|(?:[+-]\d{2}:?\d{2}))?$", re.I),
     XSD + "gMonthDay"),
    (re.compile(r"^---(\d{2})(Z|(?:[+-]\d{2}:?\d{2}))?$", re.I),
     XSD + "gDay"),
    (re.compile(r"^--(\d{2})(Z|(?:[+-]\d{2}:?\d{2}))?$", re.I),
     XSD + "gMonth"),
    (re.compile(r"^P([\d.]+Y)?([\d.]+M)?([\d.]+D)?"
                r"(T([\d.]+H)?([\d.]+M)?([\d.]+S)?)?$", re.I),
     XSD + "duration"),
]


def _sniff_datetime(value: str) -> str | None:
    for rx, dt in _DATETIME_LADDER:
        if rx.match(value):
            return dt
    return None


def _split_tokens(s: str | None) -> list[str]:
    return (s or "").split()


class _Ctx:
    """Evaluation context (Parser.pm:564-613)."""
    __slots__ = ("base", "parent_subject", "parent_object",
                 "uri_mappings", "term_mappings", "incomplete_triples",
                 "list_mappings", "language", "graph", "xml_base")

    def __init__(self, base=None, parent_subject=None,
                 parent_object=None, uri_mappings=None,
                 term_mappings=None, incomplete_triples=None,
                 list_mappings=None, language=None, graph=None,
                 xml_base=None):
        self.base = base
        self.parent_subject = parent_subject
        self.parent_object = parent_object
        self.uri_mappings = uri_mappings
        self.term_mappings = term_mappings
        self.incomplete_triples = incomplete_triples
        self.list_mappings = list_mappings
        self.language = language
        self.graph = graph
        self.xml_base = xml_base


def _clark(el: Element) -> str:
    """{namespace}localname form of an element's expanded name."""
    return "{%s}%s" % (el.namespace_uri or "", el.localname)


def _split_clark(s: str) -> tuple[str | None, str]:
    m = re.match(r"^\{(.*)\}(.+)$", s)
    if m:
        return (m.group(1) or None, m.group(2))
    return (None, s)


def _following(el: Element):
    """Document-order successors of ``el`` — its subtree first, then
    each ancestor's following siblings' subtrees (text nodes and
    elements; the reference's _find_next_node loop,
    Parser.pm:2521-2539)."""
    def subtree(e: Element):
        for c in e.children:
            yield c
            if isinstance(c, Element):
                yield from subtree(c)

    yield from subtree(el)
    node = el
    while node.parent is not None:
        sibs = node.parent.children
        idx = next(i for i, c in enumerate(sibs) if c is node)
        for c in sibs[idx + 1:]:
            yield c
            if isinstance(c, Element):
                yield from subtree(c)
        node = node.parent


class Walker:
    """One document's parse state (the reference's parser object)."""

    def __init__(self, doc: Document, base: str, config: Config,
                 token_rewrites: dict[str, str] | None = None):
        self.doc = doc
        self.config = config
        self.orig_base = base
        self.base_uri = base
        self.bnodes = 0
        self.saved_bnodes: dict[str, str] = {}
        self.element_subjects: dict[int, str] = {}
        self.triples: list[Triple] = []
        self._seen: set[Triple] = set()
        self.errors: list[ParseError] = []
        self.graphs: dict[str, int] = {}
        self.token_rewrites = token_rewrites or {}
        self._bnode_prefix = hashlib.md5(
            base.encode("utf-8")).hexdigest()[:10]
        self._cur_element: Element | None = None
        # (token, attr, id(prefixes), id(terms), xml_base) ->
        # (prefixes, terms, iri): see expand_curie
        self._curie_memo: dict = {}

        # F7 auto-config from <meta> (Config.pm:405-459; flag off by
        # default, as in the reference)
        if config.auto_config and doc.root is not None:
            from .config import AUTO_CONFIG_META_NAME, parse_auto_config
            opts = [el.get("content", "")
                    for el in doc.iter_elements()
                    if el.localname == "meta"
                    and el.get("name") == AUTO_CONFIG_META_NAME]
            if opts:
                self.config = config = parse_auto_config(opts, config)

        # version guessing from root @version (Config.pm:342-367)
        if config.guess_rdfa_version and doc.root is not None:
            guessed = guess_version_from_root(doc.root.get("version"))
            if guessed and guessed != config.rdfa_version:
                self.config = make_config(config.host, guessed)

        # <base href> fixup: last one wins, fragment stripped
        # (Parser.pm:146-160).  The whole-document scan is skipped
        # when the DOM builder proved no <base> element exists
        # (doc.saw_base is False) — the common case on crawl pages;
        # hand-built Documents leave saw_base None and still scan.
        if self.config.xhtml_base and doc.root is not None \
                and getattr(doc, "saw_base", None) is not False:
            found = None
            for el in doc.iter_elements():
                if el.localname == "base" and el.has("href"):
                    found = el.get("href").split("#", 1)[0]
            if found:
                self.base_uri = self.uri(found)

        # the element fast path is sound only without an attribute
        # namespace (ODF) or named-graph scanning; constant per walk
        cfg = self.config
        self._plain_cfg_ok = cfg.ns is None and not cfg.graph

    # ------------------------------------------------------------------
    def log_error(self, level: str, code: str, message: str):
        path = self._cur_element.node_path() if self._cur_element else None
        self.errors.append(ParseError(level, code, message, path))

    def uri(self, param: str | None,
            xml_base: str | None = None) -> str | None:
        base = self.base_uri
        if self.config.xml_base and xml_base:
            base = xml_base
        return resolve(param, base)

    def bnode(self, element: Element | None = None, save_me: bool = False,
              ident: str | None = None) -> str:
        if element is not None:
            hit = self.saved_bnodes.get("el:%d" % id(element))
            if hit:
                return hit
        if ident is not None:
            hit = self.saved_bnodes.get(ident)
            if hit:
                return hit
        if self.config.skolemize:
            # skolem IRIs instead of bnode labels (Parser.pm:2620-2622)
            rv = (f"tag:buzzword.org.uk,2010:RDF-RDFa-Parser:skolem:"
                  f"{self._bnode_prefix}:{self.bnodes:04d}")
        else:
            rv = f"_:h{self._bnode_prefix}n{self.bnodes:04d}"
        self.bnodes += 1
        if save_me and element is not None:
            self.saved_bnodes["el:%d" % id(element)] = rv
        if ident is not None:
            self.saved_bnodes[ident] = rv
        return rv

    # ------------------------------------------------------------------
    def _attr(self, el: Element, name: str) -> str | None:
        """RDFa-attribute lookup (getAttributeNsSafe with the config's
        ``ns``; None => unprefixed attribute)."""
        ns = self.config.ns
        if ns is None:
            return el.attrs.get(name)
        return self._attr_ns(el, ns, name)

    @staticmethod
    def _attr_ns(el: Element, ns: str | None, name: str) -> str | None:
        if ns is None:
            return el.attrs.get(name)
        if ns == XML_NS:
            return el.attrs.get("xml:" + name)
        nsmap = None
        for raw, val in el.attrs.items():
            if ":" not in raw:
                continue
            pfx, local = raw.split(":", 1)
            if local != name:
                continue
            if pfx == "xml":
                if ns == XML_NS:
                    return val
                continue
            if nsmap is None:
                nsmap = el.nsmap()
            if nsmap.get(pfx) == ns:
                return val
        return None

    def _bookmarked_string(self, bm: Element) -> str:
        """F3 — text between a bookmark-start element and the
        bookmark-end element carrying the same name attribute, in
        document order across element boundaries
        (Parser.pm:2473-2539 _element_to_bookmarked_string)."""
        cfg = self.config
        name_ns, name_local = _split_clark(cfg.bookmark_name)
        end_ns, end_local = _split_clark(cfg.bookmark_end)
        bm_name = self._attr_ns(bm, name_ns, name_local)
        out: list[str] = []
        for node in _following(bm):
            if isinstance(node, str):
                out.append(node)
            elif isinstance(node, Element):
                if (node.localname == end_local
                        and node.namespace_uri == end_ns
                        and self._attr_ns(node, name_ns,
                                          name_local) == bm_name):
                    break
        return "".join(out)

    # ------------------------------------------------------------------
    def expand_curie(self, token: str, attribute: str,
                     prefixes: Mappings, terms: TermMap,
                     xml_base: str | None = None) -> str | None:
        # memo for SUCCESSFUL, side-effect-free expansions: the same
        # tokens (og:title, dc:*, schema terms) repeat many times per
        # page against the same mapping objects.  Excluded on
        # purpose: bnode tokens (each `_:` call allocates) and failed
        # expansions (each logs a processor-graph warning — caching
        # would collapse warning counts).
        # Safe-CURIE bnodes ('[_:x]') are excluded too: in rel/rev/
        # property/datatype they log a bnode-wrongplace ERROR yet
        # return non-None, so caching them would collapse the
        # per-occurrence error count.  The cache value pins the
        # mapping objects so a recycled id() can never alias a dead
        # key.
        cacheable = (not token.startswith(("_", "[_"))
                     and not self.token_rewrites)
        if cacheable:
            key = (token, attribute, id(prefixes), id(terms),
                   xml_base)
            hit = self._curie_memo.get(key)
            if hit is not None:
                return hit[2]
        r = expand_curie(
            token, attribute, prefixes, terms,
            # '_:' memoizes like any other ident (Parser.pm:2764 +
            # saved_bnodes: every occurrence is the SAME node; W3C
            # 0088) — do not special-case it to a fresh allocation
            bnode=lambda ident: self.bnode(None, False, ident),
            resolve_uri=lambda t: self.uri(t, xml_base=xml_base),
            log_error=self.log_error,
            prefix_bare=self.config.prefix_bare,
            safe_optional=self.config.safe_optional,
            full_uris=self.config.full_uris,
        )
        if cacheable and r is not None:
            self._curie_memo[key] = (prefixes, terms, r)
        # ontoken hook analogue: broadcast rewrite dict
        # (Parser.pm:2743-2754; SURVEY.md §2.9)
        if self.token_rewrites:
            return self.token_rewrites.get(token, r)
        return r

    # ------------------------------------------------------------------
    def _emit(self, subj: str, pred: str, obj: str, *, is_literal: bool,
              datatype: str | None = None, lang: str | None = None,
              graph: str | None = None):
        if not is_literal:
            datatype = None
            lang = None
        elif datatype:
            lang = None       # typed literals carry no language
        else:
            datatype = None
            lang = lang or None
        g = graph if self.config.graph else None
        t = Triple(subj, pred, obj, is_literal, datatype, lang, g)
        if t in self._seen:   # Trine memory store is a set (A4)
            return
        self._seen.add(t)
        self.triples.append(t)
        if g is not None:
            self.graphs[g] = self.graphs.get(g, 0) + 1

    # ------------------------------------------------------------------
    def consume(self):
        cfg = self.config
        # Surface non-fatal DOM-parse recoveries (unknown entities
        # dropped in libxml-recover style) in the processor graph.
        for w in getattr(self.doc, "parse_warnings", ()):
            self.log_error(ERR_WARNING, "entity-unknown", w)
        init_uris, init_terms = initial_context(cfg.initial_context)
        um = Mappings(insensitive=dict(init_uris),
                      vocab=cfg.vocab_default,
                      default_prefix=cfg.prefix_default)
        tm = TermMap(insensitive={k: dict(v)
                                  for k, v in init_terms.items()})
        ctx = _Ctx(
            base=self.uri(""),
            parent_subject=self.uri(""),
            parent_object=None,
            uri_mappings=um,
            term_mappings=tm,
            incomplete_triples=[],
            list_mappings={},
            language=None,
            graph=cfg.graph_default if cfg.graph else None,
            xml_base=None,
        )
        if self.doc.root is not None:
            self._consume_element(self.doc.root, ctx)
            # optional AtomOWL overlay with the shared bnode
            # allocator (Parser.pm:536-542)
            if cfg.atom_parser:
                from .atomowl import consume_atom
                consume_atom(self, self.doc.root, self.base_uri,
                             graph=(cfg.graph_default if cfg.graph
                                    else None))
        return self

    # RDFa-relevant attribute names: an element carrying none of
    # these (and none of the tag-level specials) contributes nothing
    # and changes nothing in the evaluation context — its processing
    # reduces to recursing with the inherited context (the reference
    # reaches the same state via NEW_SUBJECT_INHERIT + skip_element).
    _RELEVANT_ATTRS = frozenset((
        "about", "src", "resource", "href", "typeof", "instanceof",
        "rel", "rev", "property", "content", "datatype", "inlist",
        "prefix", "vocab", "lang", "role", "cite", "longdesc",
        "datetime", "value", "version", "graph",
    ))

    _PLAIN_EXCLUDED_TAGS = frozenset(
        ("head", "body", "feed", "entry", "RDF", "time"))

    def _is_plain_element(self, el: Element) -> bool:
        """True if the element can take the fast path (common case on
        real web pages: class/style/id-only markup soup).  Callers
        must have checked ``self._plain_cfg_ok`` (no attribute ns, no
        named-graph scanning) — constant per walk, hoisted out."""
        for k in el.attrs:
            if k in self._RELEVANT_ATTRS or k.startswith("xml"):
                return False    # covers xmlns*, xml:lang, xml:base
        return el.localname not in self._PLAIN_EXCLUDED_TAGS

    _LEAF_LINK_TAGS = frozenset(("a", "link", "img", "area"))

    def _is_leaf_link(self, el: Element, ctx: _Ctx) -> bool:
        """True for the crawl-dominant bare navigation link/image: an
        <a>/<link>/<img>/<area> whose only RDFa-relevant attributes
        are @href/@src, with NO element children and NO pending
        incomplete triples.  Such an element establishes a new
        subject (RDFa Core step 5) but emits nothing and its context
        change is scoped to a subtree with no elements — fully
        unobservable, so processing reduces to nothing.  Pending
        incomplete triples disqualify it (the new subject would
        complete a hanging @rel); so does any other relevant
        attribute or an atom host (feed link semantics)."""
        if ctx.incomplete_triples or self.config.atom_elements:
            return False
        if el.localname not in self._LEAF_LINK_TAGS:
            return False
        for k in el.attrs:
            if (k in self._RELEVANT_ATTRS
                    and k not in ("href", "src")) \
                    or k.startswith("xml"):
                return False
        for c in el.children:
            if isinstance(c, Element):
                return False
        return True

    # ------------------------------------------------------------------
    def _consume_element(self, el: Element, ctx: _Ctx) -> bool:
        cfg = self.config

        # Fast path is only sound when the slow path's list-mapping
        # reset (Parser.pm:1517-1526) would NOT fire: a skip element
        # inherits new_subject = parent_object, so the reset fires
        # exactly when parent_object is set and differs from
        # parent_subject — take the slow path there so @inlist
        # descendants attach their lists to the right owner.
        #
        # Plain elements change nothing in the evaluation context, so
        # an entire plain subtree shares ``ctx`` — walk it with one
        # iterative pre-order DFS instead of one Python frame per
        # element (the walker's #1 hotspot at corpus scale).  Document
        # order is preserved: bnode numbering depends on it.
        if self._plain_cfg_ok and el.parent is not None \
                and (ctx.parent_object is None
                     or ctx.parent_object == ctx.parent_subject) \
                and self._is_plain_element(el):
            flag = False
            consume = self._consume_element
            relevant = self._RELEVANT_ATTRS
            excluded = self._PLAIN_EXCLUDED_TAGS
            stack = [iter(el.children)]
            pop = stack.pop
            push = stack.append
            while stack:
                for kid in stack[-1]:
                    if kid.__class__ is Element:
                        # inlined _is_plain_element (hot: once per
                        # DOM element at corpus scale)
                        for k in kid.attrs:
                            if k in relevant or k.startswith("xml"):
                                flag = consume(kid, ctx) or flag
                                break
                        else:
                            if kid.localname in excluded:
                                flag = consume(kid, ctx) or flag
                            else:
                                push(iter(kid.children))
                                break
                else:
                    pop()
            return flag
        self._cur_element = el
        if el.parent is not None and self._plain_cfg_ok \
                and self._is_leaf_link(el, ctx):
            return False    # bare leaf link: nothing observable

        # hot path: RDFa attributes are unprefixed unless the host
        # sets a namespace (ODF); bind the lookup once per element
        if cfg.ns is None:
            _ga = el.attrs.get
        else:
            def _ga(name, _el=el):
                return self._attr_ns(_el, cfg.ns, name)

        base = ctx.base
        parent_subject = ctx.parent_subject
        parent_object = ctx.parent_object
        uri_mappings: Mappings = ctx.uri_mappings
        term_mappings: TermMap = ctx.term_mappings
        incomplete_triples = ctx.incomplete_triples
        list_mappings = ctx.list_mappings
        language = ctx.language
        graph = ctx.graph
        xml_base = ctx.xml_base

        recurse = True
        skip_element = False
        new_subject = None
        current_object_resource = None
        typed_resource = None

        # copy-on-write mapping layers (the reference dclones per
        # element, Parser.pm:605-608; we copy only on first mutation)
        local_uri_mappings = uri_mappings
        local_term_mappings = term_mappings
        _uri_copied = False

        def mutable_uri_mappings() -> Mappings:
            nonlocal local_uri_mappings, _uri_copied
            if not _uri_copied:
                local_uri_mappings = local_uri_mappings.copy()
                _uri_copied = True
            return local_uri_mappings

        local_incomplete_triples: list = []
        current_language = language

        activity = 0

        # ---- language (Parser.pm:641-676)
        if cfg.xhtml_lang and el.has("lang"):
            v = el.get("lang")
            if valid_lang(v):
                current_language = v
            else:
                self.log_error(ERR_WARNING, "lang-invalid",
                               f'Language code "{v}" is not valid.')
        xlang = el.attrs.get("xml:lang")
        if cfg.xml_lang and xlang is not None:
            if valid_lang(xlang):
                current_language = xlang
            else:
                self.log_error(ERR_WARNING, "lang-invalid",
                               f'Language code "{xlang}" is not valid.')

        # ---- xml:base (Parser.pm:680-692)
        xb_attr = el.attrs.get("xml:base")
        if xb_attr is not None:
            old = xml_base
            xb = xb_attr.split("#", 1)[0]
            xml_base = self.uri(xb, xml_base=old)
        hrefsrc_base = base
        if cfg.xml_base == 2 and xml_base is not None:
            hrefsrc_base = xml_base

        # ---- embedded RDF/XML (Parser.pm:697-785)
        if el.localname == "RDF" and el.namespace_uri == RDF_NS:
            if cfg.embedded_rdfxml:
                if cfg.embedded_rdfxml == 2:
                    return True
                return self._consume_rdfxml(
                    el, base, xml_base, graph, current_language)
            self.log_error(ERR_WARNING, "rdfxml-muddle",
                           "Encountered embedded RDF/XML content, but "
                           "not configured to parse or skip it.")

        # ---- @xmlns:* prefix mappings (Parser.pm:798-852)
        if cfg.xmlns_attr:
            for raw, uri_val in el.attrs.items():
                low = raw.lower()
                if not low.startswith("xmlns:"):
                    continue
                pfx_raw = raw[6:]
                pfx = pfx_raw.lower() if cfg.prefix_nocase_xmlns else pfx_raw
                if pfx.lower() in ("xml", "xmlns", "_"):
                    self.log_error(ERR_ERROR, "prefix-builtin",
                                   "Attempt to redefine built-in CURIE "
                                   f"prefix '{pfx}' not allowed.")
                elif not curie_mod.NCNAME_RE.match(pfx):
                    self.log_error(ERR_ERROR, "prefix-illegal",
                                   "Attempt to define non-NCName CURIE "
                                   f"prefix '{pfx}' not allowed.")
                elif uri_val in (XML_NS,
                                 "http://www.w3.org/2000/xmlns/"):
                    self.log_error(ERR_ERROR, "prefix-builtin",
                                   "Attempt to define any CURIE prefix "
                                   f"for '{uri_val}' not allowed using "
                                   "@xmlns.")
                else:
                    m = mutable_uri_mappings()
                    if cfg.prefix_nocase_xmlns:
                        m.insensitive[pfx] = uri_val
                    else:
                        m.sensitive[pfx] = uri_val

        # ---- RDFa 1.1 @prefix (Parser.pm:856-897)
        prefix_attr = _ga("prefix")
        if prefix_attr is not None:
            if cfg.prefix_attr:
                bits = [b for b in re.split(r"[\s\r\n]+", prefix_attr)
                        if b]
                for i in range(0, len(bits) - 1, 2):
                    pfx_raw = bits[i].rstrip(":")
                    uri_val = bits[i + 1]
                    pfx = (pfx_raw.lower() if cfg.prefix_nocase_attr
                           else pfx_raw)
                    if not curie_mod.NCNAME_RE.match(pfx):
                        self.log_error(
                            ERR_ERROR, "prefix-illegal",
                            "Attempt to define non-NCName CURIE prefix "
                            f"'{pfx}' not allowed.")
                        continue
                    m = mutable_uri_mappings()
                    if cfg.prefix_nocase_attr:
                        m.insensitive[pfx] = uri_val
                    else:
                        m.sensitive[pfx] = uri_val
            else:
                self.log_error(ERR_WARNING, "prefix-disabled",
                               "@prefix found, but support disabled.")

        # ---- @vocab (Parser.pm:900-925)
        vocab_attr = _ga("vocab")
        if vocab_attr is not None:
            if cfg.vocab_attr:
                m = mutable_uri_mappings()
                if vocab_attr == "":
                    m.vocab = cfg.vocab_default
                else:
                    m.vocab = self.uri(vocab_attr, xml_base=xml_base)
            else:
                self.log_error(ERR_WARNING, "vocab-disabled",
                               "@vocab found, but support disabled.")

        # ---- named graphs (KjetilK extension, Parser.pm:929-957)
        if cfg.graph:
            m = re.match(r"^(?:\{(.+)\})?(.+)$", cfg.graph_attr)
            g_ns, g_attr = (m.group(1), m.group(2)) if m else (None, None)
            if not g_attr:
                g_ns, g_attr = cfg.ns, "graph"
            g_val = self._attr_ns(el, g_ns, g_attr)
            if g_val is not None:
                if cfg.graph_type == "id":
                    graph = self.uri("#" + g_val, xml_base=hrefsrc_base)
                else:
                    graph = self.expand_curie(
                        g_val, "graph", local_uri_mappings,
                        local_term_mappings, xml_base)
                    if graph is None:
                        graph = cfg.graph_default

        # ---- rdfa:usesVocabulary triple (Parser.pm:960-976)
        if (cfg.vocab_triple and cfg.vocab_attr
                and vocab_attr is not None
                and local_uri_mappings.vocab is not None):
            self._emit(base, "http://www.w3.org/ns/rdfa#usesVocabulary",
                       local_uri_mappings.vocab, is_literal=False,
                       graph=graph)
            activity += 1

        # ---- @role extension (Parser.pm:980-1027)
        role_attr = _ga("role")
        if cfg.role_attr and role_attr is not None:
            roles = [
                r for r in (self.expand_curie(
                    t, "role", local_uri_mappings,
                    local_term_mappings, xml_base)
                    for t in _split_tokens(role_attr))
                if r is not None]
            if roles:
                subj = self._element_subject(el, hrefsrc_base)
                for r in roles:
                    self._emit(subj,
                               "http://www.w3.org/1999/xhtml/vocab#role",
                               r, is_literal=False, graph=graph)
                    activity += 1

        # ---- @cite extension (Parser.pm:1030-1056)
        cite_attr_v = _ga("cite")
        if cfg.cite_attr and cite_attr_v is not None:
            citation = self.uri(cite_attr_v, xml_base=hrefsrc_base)
            if citation is not None:
                subj = self._element_subject(el, hrefsrc_base)
                self._emit(subj,
                           "http://www.w3.org/1999/xhtml/vocab#cite",
                           citation, is_literal=False, graph=graph)
                activity += 1

        # ---- @rel/@rev tokens (Parser.pm:1058-1088)
        rel_tokens = _split_tokens(_ga("rel"))
        rev_tokens = _split_tokens(_ga("rev"))
        if cfg.alt_stylesheet \
                and any(t.lower() == "alternate" for t in rel_tokens) \
                and any(t.lower() == "stylesheet" for t in rel_tokens):
            rel_tokens = [t for t in rel_tokens
                          if t.lower() not in ("alternate", "stylesheet")]
            rel_tokens.append(":ALTERNATE-STYLESHEET")

        def _expand_list(tokens, attr):
            out = []
            for t in tokens:
                x = self.expand_curie(t, attr, local_uri_mappings,
                                      local_term_mappings, xml_base)
                if x is not None:
                    out.append(x)
            return out

        REL = _expand_list(rel_tokens, "rel")
        REV = _expand_list(rev_tokens, "rev")

        has_rel = (_ga("rel") is not None)
        has_rev = (_ga("rev") is not None)
        has_prop = (_ga("property") is not None)
        has_typeof = (_ga("typeof") is not None) or (_ga("instanceof") is not None)
        has_inlist = cfg.inlist_attr and (_ga("inlist") is not None)

        # ---- subject-resolution closures (Parser.pm:1090-1211)
        def ns_about():
            v = _ga("about")
            if v is not None:
                return self.expand_curie(v, "about",
                                         local_uri_mappings,
                                         local_term_mappings, xml_base)
            return None

        def ns_src():
            v = _ga("src")
            if v is not None:
                return self.uri(v, xml_base=hrefsrc_base)
            return None

        def ns_resource():
            v = _ga("resource")
            if v is not None:
                return self.expand_curie(v, "resource",
                                         local_uri_mappings,
                                         local_term_mappings, xml_base)
            return None

        def ns_href():
            v = _ga("href")
            if v is not None:
                return self.uri(v, xml_base=hrefsrc_base)
            return None

        def ns_typeof():
            if has_typeof:
                return self.bnode(el)
            return None

        is_root = el is self.doc.root

        def ns_defaults():
            if is_root:
                return self.uri("", xml_base=hrefsrc_base)
            if cfg.xhtml_elements and el.localname in ("head", "body") \
                    and el.namespace_uri == XHTML_NS:
                if cfg.xhtml_elements == 2:
                    return parent_object
                return self.uri("", xml_base=hrefsrc_base)
            if cfg.atom_elements \
                    and el.namespace_uri == "http://www.w3.org/2005/Atom" \
                    and el.localname in ("feed", "entry"):
                return self.bnode(el, save_me=True)
            return None

        def ns_inherit(set_skip=False):
            nonlocal skip_element
            if set_skip and not has_prop:
                skip_element = True
            return parent_object if parent_object else None

        src_first = [] if cfg.src_sets_object else [ns_src]
        src_last = [ns_src] if cfg.src_sets_object else []

        if not has_rel and not has_rev and has_prop \
                and not (_ga("datatype") is not None) \
                and not (_ga("content") is not None) \
                and cfg.property_resources:
            # property-without-content/datatype branch
            # (Parser.pm:1220-1306)
            for code in [ns_about, *src_first, ns_defaults, ns_inherit]:
                if new_subject:
                    break
                new_subject = code()
            if has_typeof:
                for code in [ns_about, *src_first, ns_defaults]:
                    if typed_resource:
                        break
                    typed_resource = code()
                if not typed_resource:
                    for code in [ns_resource, ns_href, *src_last]:
                        if typed_resource:
                            break
                        typed_resource = code()
                    if not typed_resource:
                        typed_resource = self.bnode(el)
                    current_object_resource = typed_resource

        elif not has_rel and not has_rev:
            # no rel/rev branch (Parser.pm:1309-1378)
            for code in [ns_about, *src_first, ns_resource, ns_href,
                         *src_last, ns_defaults, ns_typeof,
                         lambda: ns_inherit(True)]:
                if new_subject:
                    break
                new_subject = code()
            if has_typeof:
                typed_resource = new_subject

        else:
            # rel/rev present (Parser.pm:1380-1414)
            typeof_chain = [] if cfg.typeof_resources else [ns_typeof]
            for code in [ns_about, *src_first, *typeof_chain,
                         ns_defaults, ns_inherit]:
                if new_subject:
                    break
                new_subject = code()
            for code in [ns_resource, ns_href, *src_last]:
                if current_object_resource:
                    break
                current_object_resource = code()
            if has_typeof:
                if (_ga("about") is not None):
                    typed_resource = new_subject
                elif cfg.typeof_resources:
                    if not current_object_resource:
                        current_object_resource = self.bnode(el)
                    typed_resource = current_object_resource
                else:
                    typed_resource = new_subject

        # ---- rdf:type emission (Parser.pm:1427-1490)
        if typed_resource and has_typeof:
            tokens = _split_tokens(_ga("typeof")
                                   or _ga("instanceof"))
            for t in tokens:
                rdftype = self.expand_curie(
                    t, "typeof", local_uri_mappings,
                    local_term_mappings, xml_base)
                if rdftype is None:
                    continue
                self._emit(typed_resource, RDF_TYPE, rdftype,
                           is_literal=False, graph=graph)
                activity += 1

        # ---- @longdesc extension (Parser.pm:1493-1514)
        if cfg.longdesc_attr and (_ga("longdesc") is not None):
            longdesc = self.uri(_ga("longdesc"),
                                xml_base=hrefsrc_base)
            if longdesc is not None and new_subject:
                self._emit(new_subject,
                           "http://www.w3.org/2007/05/powder-s#describedby",
                           longdesc, is_literal=False, graph=graph)
                activity += 1

        # ---- list-mapping reset (Parser.pm:1517-1526)
        if new_subject is not None and (
                new_subject != parent_subject or not list_mappings):
            list_mappings = {"::meta": {"owner": el}}

        # ---- current object resource triples (Parser.pm:1530-1624)
        if current_object_resource:
            if has_inlist and has_rel:
                for r in REL:
                    list_mappings.setdefault(r, []).append(
                        ("resource", current_object_resource))
                    activity += 1
            elif not has_inlist:
                for r in REL:
                    self._emit(new_subject, r, current_object_resource,
                               is_literal=False, graph=graph)
                    activity += 1
            for r in REV:
                self._emit(current_object_resource, r, new_subject,
                           is_literal=False, graph=graph)
                activity += 1
        elif REL or REV:
            # incomplete triples (Parser.pm:1631-1691)
            for r in REL:
                if has_inlist:
                    lst = list_mappings.setdefault(r, [])
                    local_incomplete_triples.append(
                        {"direction": "none", "list": lst})
                else:
                    local_incomplete_triples.append(
                        {"direction": "forward", "predicate": r,
                         "graph": graph})
            for r in REV:
                local_incomplete_triples.append(
                    {"direction": "reverse", "predicate": r,
                     "graph": graph})
            current_object_resource = self.bnode()

        # ---- current property value (Parser.pm:1694-1953)
        prop_tokens = _split_tokens(_ga("property"))
        has_datatype = (_ga("datatype") is not None)
        datatype = None
        if has_datatype:
            datatype = self.expand_curie(
                _ga("datatype"), "datatype",
                local_uri_mappings, local_term_mappings, xml_base)

        cpv = None          # (value, datatype, lang) literal
        cpv_resource = None  # IRI object (property-resources)
        if prop_tokens:
            content_v = _ga("content")
            datetime_v = _ga("datetime")
            is_time_el = (el.localname.lower() == "time"
                          and el.namespace_uri == XHTML_NS)
            if cfg.datetime_attr and (datetime_v is not None or is_time_el):
                value = (datetime_v if datetime_v is not None
                         else el.text_content())
                dt = datatype if has_datatype else _sniff_datetime(value)
                cpv = (value, dt, current_language)
            elif cfg.value_attr and (_ga("value") is not None):
                cpv = (_ga("value"),
                       datatype if has_datatype else None,
                       current_language)
            elif content_v is not None:
                cpv = (content_v, datatype if has_datatype else None,
                       current_language)
            elif has_datatype and not datatype:
                # empty/unexpandable @datatype -> plain literal
                cpv = (el.text_content(), None, current_language)
            elif datatype == RDF_XMLLIT:
                cpv = (element_to_xml(el, current_language), RDF_XMLLIT,
                       current_language)
                recurse = cfg.xmllit_recurse
            elif has_datatype:
                cpv = (el.text_content(), datatype, current_language)
            elif (cfg.bookmark_start and cfg.bookmark_end
                  and cfg.bookmark_name
                  and _clark(el) in (cfg.bookmark_start,
                                     "{}" + cfg.bookmark_start)):
                # OpenDocument 1.2 bookmarked-range extension (F3,
                # Parser.pm:1787-1797): the literal is the text
                # between this bookmark-start and the bookmark-end
                # carrying the same name, crossing element boundaries
                cpv = (self._bookmarked_string(el),
                       datatype if has_datatype else None,
                       current_language)
            elif (cfg.property_resources and not has_rel and not has_rev
                  and ((_ga("resource") is not None) or (_ga("href") is not None)
                       or ((_ga("src") is not None)
                           and cfg.src_sets_object))):
                for attr in ("resource", "href", "src"):
                    v = _ga(attr)
                    if v is None:
                        continue
                    if attr == "resource":
                        # @resource is a CURIEorURI…
                        cpv_resource = self.expand_curie(
                            v, attr, local_uri_mappings,
                            local_term_mappings, xml_base)
                    else:
                        # …but @href/@src are plain URIs
                        # (Parser.pm:1860-1905 property_resources)
                        cpv_resource = self.uri(
                            v, xml_base=hrefsrc_base)
                    if cpv_resource is not None:
                        break
            elif (cfg.property_resources and typed_resource is not None
                  and (_ga("typeof") is not None)
                  and not (_ga("about") is not None)):
                cpv_resource = typed_resource
            elif not el.has_descendant_elements():
                cpv = (el.text_content(),
                       datatype if has_datatype else None,
                       current_language)
            elif not has_datatype:
                if cfg.xmllit_default:
                    cpv = (element_to_xml(el, current_language),
                           RDF_XMLLIT, current_language)
                    recurse = cfg.xmllit_recurse
                else:
                    cpv = (el.text_content(), None, current_language)

        for prop in prop_tokens:
            if cpv is None and cpv_resource is None:
                break
            p = self.expand_curie(prop, "property",
                                  local_uri_mappings,
                                  local_term_mappings, xml_base)
            if p is None:
                continue
            if cpv_resource is not None:
                if has_inlist:
                    list_mappings.setdefault(p, []).append(
                        ("resource", cpv_resource))
                else:
                    self._emit(new_subject, p, cpv_resource,
                               is_literal=False, graph=graph)
                    activity += 1
            else:
                value, dt, lng = cpv
                if has_inlist:
                    list_mappings.setdefault(p, []).append(
                        ("literal", value, dt, lng))
                else:
                    self._emit(new_subject, p, value, is_literal=True,
                               datatype=dt, lang=lng, graph=graph)
                    activity += 1

        # ---- incomplete-triple completion (Parser.pm:2006-2050)
        if not skip_element and new_subject is not None:
            for it in incomplete_triples:
                d = it["direction"]
                if d == "none":
                    it["list"].append(("resource", new_subject))
                elif d == "forward":
                    self._emit(parent_subject, it["predicate"],
                               new_subject, is_literal=False,
                               graph=it["graph"])
                    activity += 1
                else:
                    self._emit(new_subject, it["predicate"],
                               parent_subject, is_literal=False,
                               graph=it["graph"])
                    activity += 1

        # ---- recursion (Parser.pm:2055-2109)
        flag = False
        if recurse:
            if skip_element:
                child_ctx = _Ctx(
                    base=base,
                    parent_subject=parent_subject,
                    parent_object=parent_object,
                    uri_mappings=local_uri_mappings,
                    term_mappings=local_term_mappings,
                    incomplete_triples=incomplete_triples,
                    list_mappings=list_mappings,
                    language=current_language,
                    graph=graph,
                    xml_base=xml_base,
                )
            else:
                child_ctx = _Ctx(
                    base=base,
                    parent_subject=(new_subject if new_subject is not None
                                    else parent_subject),
                    parent_object=(
                        current_object_resource
                        if current_object_resource is not None
                        else (new_subject if new_subject is not None
                              else parent_subject)),
                    uri_mappings=local_uri_mappings,
                    term_mappings=local_term_mappings,
                    incomplete_triples=local_incomplete_triples,
                    list_mappings=list_mappings,
                    language=current_language,
                    graph=graph,
                    xml_base=xml_base,
                )
            for kid in el.children:
                if kid.__class__ is Element:
                    flag = self._consume_element(kid, child_ctx) \
                        or flag

        # ---- rdf:List emission (Parser.pm:2114-2188)
        meta = list_mappings.get("::meta")
        if meta is not None and meta.get("owner") is el:
            for iri, items in list_mappings.items():
                if iri == "::meta":
                    continue
                bnodes = [self.bnode() for _ in items]
                first = bnodes[0] if bnodes else None
                for i, bn in enumerate(bnodes):
                    item = items[i]
                    if item[0] == "literal":
                        _, value, dt, lng = item
                        self._emit(bn, RDF_FIRST, value, is_literal=True,
                                   datatype=dt, lang=lng, graph=graph)
                    else:
                        self._emit(bn, RDF_FIRST, item[1],
                                   is_literal=False, graph=graph)
                    nxt = bnodes[i + 1] if i + 1 < len(bnodes) else RDF_NIL
                    self._emit(bn, RDF_REST, nxt, is_literal=False,
                               graph=graph)
                self._emit(new_subject, iri,
                           first if first is not None else RDF_NIL,
                           is_literal=False, graph=graph)
                activity += 1

        return bool(activity or new_subject or flag)

    # ------------------------------------------------------------------
    def _element_subject(self, el: Element, hrefsrc_base: str) -> str:
        """Stable per-element subject for @role/@cite
        (Parser.pm:996-1006,1032-1042)."""
        key = id(el)
        if key not in self.element_subjects:
            if el.has("id"):
                self.element_subjects[key] = self.uri(
                    "#" + el.get("id"), xml_base=hrefsrc_base)
            else:
                self.element_subjects[key] = self.bnode()
        return self.element_subjects[key]

    # ------------------------------------------------------------------
    def _consume_rdfxml(self, el: Element, base: str,
                        xml_base: str | None, graph: str | None,
                        current_language: str | None) -> bool:
        """Embedded RDF/XML subtrees (Parser.pm:697-785)."""
        from .rdfxml import parse_rdfxml_element

        cfg = self.config
        g = graph
        if cfg.embedded_rdfxml != 3:
            g = self.bnode()
        rdfxml_base = self.orig_base
        if cfg.xhtml_base == 2:
            rdfxml_base = base
        if xml_base is not None:
            rdfxml_base = xml_base

        bnode_map: dict[str, str] = {}

        def mapped(label: str) -> str:
            if label not in bnode_map:
                bnode_map[label] = self.bnode()
            return bnode_map[label]

        try:
            for t in parse_rdfxml_element(el, rdfxml_base,
                                          current_language):
                subj = mapped(t.subj) if t.subj.startswith("_:") else t.subj
                obj = t.obj
                if not t.is_literal and obj.startswith("_:"):
                    obj = mapped(obj)
                self._emit(subj, t.pred, obj, is_literal=t.is_literal,
                           datatype=t.datatype, lang=t.lang,
                           graph=(g if cfg.graph else None))
        except Exception as exc:  # parity: ERR_CODE_RDFXML_MESS
            self.log_error(ERR_ERROR, "rdfxml-mess",
                           f"Could not parse embedded RDF/XML content: "
                           f"{exc}")
        return True


# ---------------------------------------------------------------------------
# top-level API
# ---------------------------------------------------------------------------

def parse_rdfa(markup: bytes | str, base: str,
               config: Config | None = None,
               token_rewrites: dict[str, str] | None = None) -> Walker:
    """Parse a document and run the RDFa processing model.

    The analogue of ``RDF::RDFa::Parser->new(...)->consume``
    (Parser.pm:91-202,489-544).
    """
    cfg = config or make_config()
    if cfg.dom_parser == "opendocument":
        from .odf import parse_opendocument
        if isinstance(markup, str):
            markup = markup.encode("utf-8", "surrogateescape")
        doc = parse_opendocument(markup, base)
    else:
        doc = parse_markup(markup, cfg.dom_parser)
    return Walker(doc, base, cfg, token_rewrites).consume()


def extract_text(markup: bytes | str, dom_parser: str = "xml") -> str:
    """Byte-identical text extraction per the reference's
    ``_element_to_string`` concatenation rule (Parser.pm:2541-2559):
    all descendant text nodes of the root, document order."""
    doc = parse_markup(markup, dom_parser)
    return doc.root.text_content() if doc.root is not None else ""
