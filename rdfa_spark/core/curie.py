"""CURIE / SafeCURIE / term expansion.

Branch-for-branch re-expression of the reference's ``__expand_curie``
(lib/RDF/RDFa/Parser.pm:2756-2907) — the highest parity-risk function
(t/02curie.t pins 11 behaviours).  Precedence order:

  1. blank-node syntax (``_:x``, ``[_:x]``)
  2. default-vocab NCName (@role gets the XHTML vocab)
  3. term dictionaries (sensitive/insensitive, per-attr then ``*``)
  4. prefixed CURIE (incl. default prefix ``:x``)
  5. bare prefix (flag-gated)
  6. absolute URI
  7. relative URI (only for about/resource/graph)
  8. fall through -> None + warning
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .uri import is_absolute

# Safe/unsafe attribute classes from the reference's regexes.
_CURIE_ATTRS = frozenset(
    ("rel", "rev", "property", "typeof", "datatype", "role"))
_BNODE_FORBIDDEN_ATTRS = frozenset(("rel", "rev", "property", "datatype"))
_URI_ATTRS = frozenset(("about", "resource", "graph"))

# NCName (XML namespaces production, BMP approximation)
NCNAME_RE = re.compile(
    r"^[A-Za-z_À-˿Ͱ-῿Ⰰ-�]"
    r"[A-Za-z0-9._\-·À-˿̀-῿‿⁀"
    r"Ⰰ-�]*$"
)
_PREFIXED_RE = re.compile(r"^([^\s:]*):(\S*)$")

_BNODE_RE = re.compile(r"^_:(.+)$", re.I | re.S)
_SAFE_BNODE_RE = re.compile(r"^\[_:(.+)\]$", re.I | re.S)

ERR_WARNING = "warning"
ERR_ERROR = "error"
ERR_CODE_BNODE_WRONGPLACE = "bnode-wrongplace"
ERR_CODE_CURIE_UNDEFINED = "curie-undefined"
ERR_CODE_CURIE_FELLTHROUGH = "curie-fellthrough"


@dataclass
class Mappings:
    """In-scope prefix mappings: the reference's ``uri_mappings``
    hashref with its ``sensitive``/``insensitive``/``(VOCAB)``/
    ``(DEFAULT PREFIX)`` slots (Parser.pm:569-598)."""
    sensitive: dict[str, str] = field(default_factory=dict)
    insensitive: dict[str, str] = field(default_factory=dict)
    vocab: str | None = None
    default_prefix: str | None = None

    def copy(self) -> "Mappings":
        return Mappings(dict(self.sensitive), dict(self.insensitive),
                        self.vocab, self.default_prefix)


@dataclass
class TermMap:
    sensitive: dict[str, dict[str, str]] = field(default_factory=dict)
    insensitive: dict[str, dict[str, str]] = field(default_factory=dict)

    def copy(self) -> "TermMap":
        return TermMap({k: dict(v) for k, v in self.sensitive.items()},
                       {k: dict(v) for k, v in self.insensitive.items()})

    def lookup(self, attr: str, token: str) -> str | None:
        for cls, key in ((self.sensitive, token),
                         (self.insensitive, token.lower())):
            for a in (attr, "*"):
                m = cls.get(a)
                if m is not None and key in m:
                    return m[key]
        return None


def expand_curie(token: str, attribute: str, prefixes: Mappings,
                 terms: TermMap, *,
                 bnode,            # callable(ident|None) -> '_:...'
                 resolve_uri,      # callable(token) -> abs URI
                 log_error,        # callable(level, code, message)
                 prefix_bare: bool = False,
                 safe_optional: bool = False,
                 full_uris: bool = False) -> str | None:
    # 1. Blank nodes (only tokens starting "_:" or "[_" can match)
    if token.startswith("_:") or token.startswith("[_"):
        bn = None
        if token in ("_:", "[_:]"):
            bn = bnode("_:")
        else:
            m = _BNODE_RE.match(token) or _SAFE_BNODE_RE.match(token)
            if m:
                bn = bnode("_:" + m.group(1))
        if bn is not None:
            if attribute in _BNODE_FORBIDDEN_ATTRS:
                log_error(ERR_ERROR, ERR_CODE_BNODE_WRONGPLACE,
                          f"Blank node found in {attribute} where URIs "
                          "are expected as values.")
                m = _SAFE_BNODE_RE.match(token)
                return m.group(1) if m else token
            return bn

    is_safe = False
    if token.startswith("[") and token.endswith("]"):
        is_safe = True
        token = token[1:-1]

    is_ncname = bool(NCNAME_RE.match(token))
    in_curie_attr = attribute in _CURIE_ATTRS

    # 2. default vocab
    if is_ncname and (is_safe or in_curie_attr):
        if attribute == "role":
            return "http://www.w3.org/1999/xhtml/vocab#" + token
        if prefixes.vocab is not None:
            return prefixes.vocab + token
        if is_safe:
            return None

    # 3. terms
    if is_ncname and (is_safe or in_curie_attr):
        hit = terms.lookup(attribute, token)
        if hit is not None:
            return hit

    # 4. prefixed CURIE
    m = _PREFIXED_RE.match(token)
    if m and (not m.group(1) or NCNAME_RE.match(m.group(1))) \
            and (is_safe or in_curie_attr or safe_optional):
        prefix = m.group(1) or None
        suffix = m.group(2)
        if prefix is None:
            if prefixes.default_prefix is not None:
                return prefixes.default_prefix + suffix
        elif prefix in prefixes.sensitive:
            return prefixes.sensitive[prefix] + suffix
        elif prefix.lower() in prefixes.insensitive:
            return prefixes.insensitive[prefix.lower()] + suffix
        if is_safe:
            log_error(ERR_WARNING, ERR_CODE_CURIE_UNDEFINED,
                      f"CURIE '{token}' used in safe CURIE, but "
                      f"'{prefix or ''}' is undefined.")
            return None

    # 5. bare prefix
    if prefix_bare and is_ncname and (is_safe or in_curie_attr
                                      or safe_optional):
        if token in prefixes.sensitive:
            return prefixes.sensitive[token]
        if token.lower() in prefixes.insensitive:
            return prefixes.insensitive[token.lower()]

    # 6. absolute URIs
    if not is_safe and is_absolute(token) \
            and (full_uris or attribute in _URI_ATTRS):
        return token

    # 7. relative URIs
    if not is_safe and attribute in _URI_ATTRS:
        return resolve_uri(token)

    log_error(ERR_WARNING, ERR_CODE_CURIE_FELLTHROUGH,
              f"Couldn't make sense of token '{token}'.")
    return None
