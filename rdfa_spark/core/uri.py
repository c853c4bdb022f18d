"""URI resolution (reference: lib/RDF/RDFa/Parser.pm:336-366).

Perl's URI->new_abs is an RFC-3986 reference resolver; Python's
``urllib.parse.urljoin`` implements the same algorithm.  The one
reference quirk kept: a token matching ``^[a-z][a-z0-9+.-]*:`` is
returned verbatim (no normalization), everything else resolves
against the effective base.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin

_ABS_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def is_absolute(token: str) -> bool:
    return bool(_ABS_RE.match(token or ""))


# (ref, base) -> resolved memo.  Crawl pages repeat the same handful
# of relative refs (nav links, fragment subjects) many times per
# page, and urljoin's parse/unparse machinery is ~18% of walker time;
# the cache is a pure memo over urljoin so the resolve == urljoin
# property is preserved by construction.  Bounded: cleared when full
# (per-process; workers process pages in batches so locality is
# high and a clear just re-warms).
_RESOLVE_CACHE: dict[tuple[str, str], str] = {}
_RESOLVE_CACHE_MAX = 65_536


def resolve(token: str | None, base: str) -> str | None:
    token = token or ""
    if _ABS_RE.match(token):
        return token
    if token == "":
        # empty reference -> base minus fragment (RFC 3986 §5.1)
        return base.split("#", 1)[0] if "#" in base else base
    if token[0] == "#" and base.startswith(("http://", "https://")):
        # fragment-only ref against a hierarchical base: replace the
        # base's fragment (identical to urljoin for http(s) bases,
        # pinned by the property suite) without the parse round-trip;
        # a bare '#' collapses to the fragment-less base, exactly as
        # urlunparse drops an empty fragment
        if "#" in base:
            base = base.split("#", 1)[0]
        return base if token == "#" else base + token
    key = (token, base)
    hit = _RESOLVE_CACHE.get(key)
    if hit is None:
        if len(_RESOLVE_CACHE) >= _RESOLVE_CACHE_MAX:
            _RESOLVE_CACHE.clear()
        hit = urljoin(base, token)
        _RESOLVE_CACHE[key] = hit
    return hit
