"""Host-language × RDFa-version configuration.

Re-expresses the reference's Config layering
(lib/RDF/RDFa/Parser/Config.pm:36-292): rdfa-version defaults <-
host overrides <- (host+version) combination overrides <- user opts.

The resolved config is a frozen dataclass: cheap to hash, safe to
broadcast to Spark executors once per job.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, fields, replace

HOST_ATOM = "atom"
HOST_DATARSS = "datarss"
HOST_HTML32 = "html32"
HOST_HTML4 = "html4"
HOST_HTML5 = "html5"
HOST_OPENDOCUMENT_XML = "opendocument-xml"
HOST_OPENDOCUMENT_ZIP = "opendocument-zip"
HOST_SVG = "svg"
HOST_XHTML = "xhtml"
HOST_XHTML5 = "xhtml5"
HOST_XML = "xml"

# OpenDocument namespaces (Config.pm:81-96)
_ODT_TEXT_NS = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
_OD_WRAPPER_NS = ("http://purl.org/NET/cpan-uri/dist/RDF-RDFa-Parser/"
                  "opendocument-dom-wrapper")

RDFA_10 = "1.0"
RDFA_11 = "1.1"
RDFA_LATEST = RDFA_11
RDFA_GUESS = "guess"


@dataclass(frozen=True)
class Config:
    host: str = HOST_XHTML
    rdfa_version: str = RDFA_11

    alt_stylesheet: bool = False
    atom_elements: bool = False
    atom_parser: bool = False
    auto_config: bool = False
    bookmark_end: str | None = None
    bookmark_name: str | None = None
    bookmark_start: str | None = None
    cite_attr: bool = False
    datetime_attr: bool = False
    dom_parser: str = "xml"
    embedded_rdfxml: int = 1
    full_uris: bool = False
    graph: int = 0
    graph_attr: str = "graph"
    graph_type: str = "about"
    graph_default: str | None = None
    initial_context: str = ""
    inlist_attr: bool = False
    longdesc_attr: bool = False
    ns: str | None = None
    prefix_attr: bool = False
    prefix_bare: bool = False
    prefix_default: str | None = "http://www.w3.org/1999/xhtml/vocab#"
    prefix_nocase_attr: bool = False
    prefix_nocase_xmlns: bool = False
    property_resources: bool = False
    role_attr: bool = False
    safe_anywhere: bool = False
    safe_optional: bool = False
    skolemize: bool = False
    src_sets_object: bool = False
    typeof_resources: bool = False
    value_attr: bool = False
    vocab_attr: bool = False
    vocab_default: str | None = None
    vocab_triple: bool = False
    xhtml_base: int = 0
    xhtml_elements: int = 0
    xhtml_lang: bool = False
    xml_base: int = 2
    xml_lang: bool = True
    xmllit_default: bool = True
    xmllit_recurse: bool = False
    xmlns_attr: bool = True
    guess_rdfa_version: bool = False


# RDFa-version defaults (Config.pm:116-225)
_RDFA_DEFAULTS: dict[str, dict] = {
    RDFA_10: dict(
        dom_parser="xml",
        embedded_rdfxml=1,
        full_uris=False,
        initial_context="tag:buzzword.org.uk,2010:rdfa:profile:rdfa-1.0",
        inlist_attr=False,
        prefix_attr=False,
        prefix_default="http://www.w3.org/1999/xhtml/vocab#",
        prefix_nocase_attr=False,
        prefix_nocase_xmlns=False,
        property_resources=False,
        safe_anywhere=False,
        safe_optional=False,
        src_sets_object=False,
        typeof_resources=False,
        vocab_attr=False,
        vocab_triple=False,
        xml_base=2,
        xml_lang=True,
        xmllit_default=True,
        xmllit_recurse=False,
        xmlns_attr=True,
    ),
    RDFA_11: dict(
        dom_parser="xml",
        embedded_rdfxml=1,
        full_uris=True,
        initial_context="http://www.w3.org/2011/rdfa-context/rdfa-1.1",
        inlist_attr=True,
        prefix_attr=True,
        prefix_default="http://www.w3.org/1999/xhtml/vocab#",
        prefix_nocase_attr=True,
        prefix_nocase_xmlns=True,
        property_resources=True,
        safe_anywhere=True,
        safe_optional=True,
        src_sets_object=True,
        typeof_resources=True,
        vocab_attr=True,
        vocab_triple=True,
        xml_base=2,
        xml_lang=True,
        xmllit_default=False,
        xmllit_recurse=True,
        xmlns_attr=True,
    ),
}

# Host overrides (Config.pm:37-114)
_HOST_OVERRIDES: dict[str, dict] = {
    HOST_ATOM: dict(
        atom_elements=True,
        initial_context="",
        vocab_default="http://www.iana.org/assignments/relation/",
    ),
    HOST_DATARSS: dict(
        atom_elements=True,
        initial_context="http://search.yahoo.com/searchmonkey-profile",
        vocab_default="http://www.iana.org/assignments/relation/",
    ),
    HOST_HTML32: dict(
        dom_parser="html", embedded_rdfxml=0,
        prefix_nocase_xmlns=True, xhtml_base=1, xhtml_elements=1,
        xhtml_lang=True, xml_base=0, xml_lang=False,
    ),
    HOST_HTML4: dict(
        dom_parser="html", embedded_rdfxml=0,
        initial_context=("tag:buzzword.org.uk,2010:rdfa:profile:html4 "
                         "http://www.w3.org/2011/rdfa-context/html-rdfa-1.1"),
        prefix_nocase_xmlns=True, xhtml_base=1, xhtml_elements=1,
        xhtml_lang=True, xml_base=0, xml_lang=False,
    ),
    HOST_HTML5: dict(
        dom_parser="html", embedded_rdfxml=0,
        initial_context=("tag:buzzword.org.uk,2010:rdfa:profile:html5 "
                         "http://www.w3.org/2011/rdfa-context/html-rdfa-1.1"),
        prefix_nocase_xmlns=True, xhtml_base=1, xhtml_elements=1,
        xhtml_lang=True, xml_base=0, xml_lang=True,
    ),
    HOST_OPENDOCUMENT_XML: dict(
        bookmark_end="{%s}bookmark-end" % _ODT_TEXT_NS,
        bookmark_name="{%s}name" % _ODT_TEXT_NS,
        bookmark_start="{%s}bookmark-start" % _ODT_TEXT_NS,
        ns="http://www.w3.org/1999/xhtml",
    ),
    HOST_OPENDOCUMENT_ZIP: dict(
        bookmark_end="{%s}bookmark-end" % _ODT_TEXT_NS,
        bookmark_name="{%s}name" % _ODT_TEXT_NS,
        bookmark_start="{%s}bookmark-start" % _ODT_TEXT_NS,
        dom_parser="opendocument",
        graph=3,
        graph_attr="{%s}graph" % _OD_WRAPPER_NS,
        graph_type="about",
        ns="http://www.w3.org/1999/xhtml",
    ),
    HOST_SVG: {},
    HOST_XHTML: dict(
        embedded_rdfxml=0, xhtml_base=1, xhtml_elements=1, xml_base=0,
    ),
    HOST_XHTML5: dict(
        embedded_rdfxml=0, xhtml_base=1, xhtml_elements=1, xml_base=2,
    ),
    HOST_XML: {},
}

# Combination overrides (Config.pm:228-251)
_COMBO_OVERRIDES: dict[str, dict] = {
    "xhtml+1.1": dict(
        initial_context=("http://www.w3.org/2011/rdfa-context/xhtml-rdfa-1.1 "
                         "http://www.w3.org/2011/rdfa-context/rdfa-1.1"),
        xhtml_elements=2,
        xhtml_lang=True,
    ),
    "html32+1.1": dict(datetime_attr=True, value_attr=True,
                       xhtml_elements=2),
    "html4+1.1": dict(datetime_attr=True, value_attr=True,
                      xhtml_elements=2),
    "html5+1.1": dict(datetime_attr=True, value_attr=True,
                      xhtml_elements=2),
    "xhtml5+1.1": dict(
        datetime_attr=True,
        initial_context=(
            "tag:buzzword.org.uk,2010:rdfa:profile:html5 "
            "http://www.w3.org/2011/rdfa-context/html-rdfa-1.1 "
            "http://www.w3.org/2011/rdfa-context/xhtml-rdfa-1.1"),
        value_attr=True, xhtml_elements=2, xhtml_lang=True,
    ),
}

_FIELD_NAMES = {f.name for f in fields(Config)}


def make_config(host: str = HOST_XHTML, version: str = RDFA_11,
                **options) -> Config:
    """Layered config resolution (Config.pm:253-292)."""
    host = host or HOST_XHTML
    version = version or RDFA_11
    if version == RDFA_GUESS:
        version = RDFA_11
        options["guess_rdfa_version"] = True
    if "/" in host:
        host = host_from_media_type(host) or HOST_XML

    merged: dict = dict(host=host, rdfa_version=version)
    for layer in (_RDFA_DEFAULTS.get(version),
                  _HOST_OVERRIDES.get(host),
                  _COMBO_OVERRIDES.get(f"{host}+{version}"),
                  options or None):
        if not layer:
            continue
        for k, v in layer.items():
            if k not in _FIELD_NAMES:
                continue
            # initial_context concatenates instead of overwriting
            # (Config.pm:462-485)
            if k == "initial_context" and merged.get(k) and v:
                merged[k] = f"{v} {merged[k]}"
            else:
                merged[k] = v
    if version not in _RDFA_DEFAULTS:
        raise ValueError(f"Unsupported RDFa version: {version}")
    return Config(**merged)


def tagsoup_config(**options) -> Config:
    """Everything-on tag-soup profile (Config.pm:294-304)."""
    opts = dict(cite_attr=True, role_attr=True, longdesc_attr=True)
    opts.update(options)
    return make_config(HOST_HTML5, RDFA_LATEST, **opts)


# OpenDocumentObjectModel.pm:8-23 @Types
ODF_MEDIA_TYPES = tuple(
    "application/vnd.oasis.opendocument." + t for t in (
        "chart database formula graphics graphics-template image "
        "presentation presentation-template spreadsheet "
        "spreadsheet-template text text-master text-template "
        "text-web").split())

_MEDIA_TYPES = {
    "application/atom+xml": HOST_ATOM,
    "application/vnd.wap.xhtml+xml": HOST_XHTML,
    "application/xhtml+xml": HOST_XHTML,
    "application/xml": HOST_XML,
    "application/zip": HOST_OPENDOCUMENT_ZIP,
    "image/svg+xml": HOST_SVG,
    "text/html": HOST_HTML5,
    "text/xml": HOST_XML,
}


def host_from_media_type(mediatype: str) -> str | None:
    """Media-type -> host language (Config.pm:306-331)."""
    host = _MEDIA_TYPES.get(mediatype)
    if host:
        return host
    if mediatype in ODF_MEDIA_TYPES:
        return HOST_OPENDOCUMENT_ZIP
    if "+xml" in mediatype:
        return HOST_XML
    return None


_VERSION_RE = re.compile(r"\bRDFa\s+(\d+\.\d+)\b", re.I)


def guess_version_from_root(version_attr: str | None) -> str | None:
    """@version sniffing (Config.pm:342-367)."""
    if not version_attr:
        return None
    m = _VERSION_RE.search(version_attr)
    if m and m.group(1) in _RDFA_DEFAULTS:
        return m.group(1)
    return None


AUTO_CONFIG_META_NAME = \
    "http://search.cpan.org/dist/RDF-RDFa-Parser/#auto_config"

_FIELD_TYPES = {f.name: f.type for f in fields(Config)}


def parse_auto_config(opt_strings: list[str], cfg: Config) -> Config:
    """F7 — auto-config from ``<meta>`` content
    (Config.pm:405-459): application/x-www-form-urlencoded option
    pairs; ``dom_parser``/``auto_config`` ignored; initial_context
    concatenates."""
    from urllib.parse import unquote

    merged: dict = {}
    for optstr in opt_strings:
        s = optstr.replace(";", "&").replace("+", "%20")
        for part in s.split("&"):
            if not part:
                continue
            k, _, v = part.partition("=")
            k, v = unquote(k).lower(), unquote(v)
            if not k or k in ("use_rtnlx", "dom_parser", "auto_config"):
                continue
            if k not in _FIELD_NAMES:
                continue
            ftype = str(_FIELD_TYPES.get(k, "str"))
            val: object = v
            if "bool" in ftype:
                val = v not in ("", "0", "false")
            elif "int" in ftype:
                try:
                    val = int(v)
                except ValueError:
                    continue
            if k == "initial_context":
                val = (getattr(cfg, k, "") + " " + v).strip()
            merged[k] = val
    return replace(cfg, **merged) if merged else cfg
