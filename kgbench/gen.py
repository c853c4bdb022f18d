"""Seeded inputs for the KG-pipeline benchmark, with their planted
answers.

Everything here is plain Python driven by one ``random.Random(seed)``:
the same seed gives byte-identical pages and expected outputs.  The
expected triples are written down by the generator itself (it knows
what each template plants), never by running the extractor, so the
correctness check is independent of the code under test.

Pages follow the three host languages the extractor dispatches on
(XHTML 1.1 + RDFa 1.1, HTML5 tag soup + RDFa 1.1, XHTML + RDFa 1.0).
Their shape is fitted to the repository's own sf0.1 pages (the pages
``rdfa_spark.pages`` renders from the sf0.1 ``documents`` table, see
TESTDATA.md): the same nav/grid/footer chrome with no RDFa attributes
and description texts whose lengths follow the sf0.1 text-length
quantiles.  A small share of the HTML5 pages end in malformed soup
(unclosed and mis-nested tags), and a fixed number of pages carry a
megabyte-scale footer of chrome: the huge-page case of ROADMAP.md.
Both are placed after the RDFa content, so they change the parse work
but not the planted triples.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

DC = "http://purl.org/dc/terms/"
OG = "http://ogp.me/ns#"
SCHEMA = "http://schema.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
URL_PREFIX = "http://crawl.example/"

LANGS = ["en", "en", "en", "de", "fr", "es", ""]
SYLLABLES = ["ka", "lo", "men", "dez", "vi", "ta", "ro", "sa", "ne",
             "tor", "bel", "ix", "qu", "an", "mor", "du", "le", "fi",
             "gra", "po", "zen", "wu", "hal", "cy", "ber", "ot"]
OG_TYPE = ("article", "website", "profile")
# template weights: XHTML 1.1, HTML5 soup, XHTML+RDFa 1.0
TEMPLATE_WEIGHTS = (0.35, 0.45, 0.20)
MALFORMED_SHARE = 0.06
# sf0.1 page chrome: nav items, grid cells and footer items per page
NAV_ITEMS, GRID_CELLS, FOOTER_ITEMS = 8, 6, 6
# Description lengths (characters) of the sf0.1 documents table at the
# 0 %, 5 %, ..., 100 % quantiles; rendered sf0.1 pages are 1.79 KB at
# the minimum, 2.08 KB at the median and 2.41 KB at the maximum.
SF01_TEXT_CHARS = (44, 78, 103, 127, 150, 176, 201, 222, 245, 270, 295,
                   320, 346, 370, 394, 418, 444, 468, 493, 519, 577)
# ROADMAP.md asks that memory stay bounded on huge pages.  Each huge
# page gets a footer of this many bytes of chrome (a 1 MB page parses
# in about 1 s in one process, so a run can afford a few).
HUGE_BYTES = 1 << 20


def esc(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(SYLLABLES)
                   for _ in range(rng.randint(2, 3)))


def _words(rng: random.Random, n: int) -> str:
    return " ".join(_word(rng) for _ in range(n))


# ---------------------------------------------------------------------------
# Planted entities: Zipf popularity, formatting variants
# ---------------------------------------------------------------------------

VARIANT_STYLES = (
    lambda w: " ".join(x.capitalize() for x in w),
    lambda w: " ".join(w),
    lambda w: " ".join(w).upper(),
    lambda w: "-".join(x.capitalize() for x in w),
    lambda w: "_".join(w),
    lambda w: " ".join(x.capitalize() for x in w) + ".",
)


@dataclass
class Entities:
    words: list[list[str]]
    weights: list[float]

    def label(self, rng: random.Random, e: int) -> str:
        return rng.choice(VARIANT_STYLES)(self.words[e])

    def draw(self, rng: random.Random, k: int) -> list[int]:
        return rng.choices(range(len(self.words)), self.weights, k=k)


def make_entities(rng: random.Random, n: int,
                  zipf_s: float = 1.1) -> Entities:
    """``n`` entities whose labels never share a blocking key or a
    lower-cased word sequence with another entity, so a correct linker
    gives each entity it sees exactly one canonical id."""
    words, keys = [], set()
    while len(words) < n:
        w = [_word(rng) for _ in range(rng.randint(2, 3))]
        k = "".join(w)
        if k not in keys:
            keys.add(k)
            words.append(w)
    return Entities(words, [1.0 / (r + 1) ** zipf_s for r in range(n)])


# ---------------------------------------------------------------------------
# Pages
# ---------------------------------------------------------------------------

def _stratified(rng: random.Random, n: int,
                quantiles: tuple[int, ...]) -> list[int]:
    """``n`` values taken at evenly spaced quantiles of the table
    ``quantiles`` (evenly spaced probabilities from 0 to 1, linear in
    between), then shuffled: every seed gets the same multiset of
    values, so the work per run does not drift with the seed."""
    steps = len(quantiles) - 1
    out = []
    for i in range(n):
        x = (i + 0.5) / n * steps
        j = min(int(x), steps - 1)
        lo, hi = quantiles[j], quantiles[j + 1]
        out.append(round(lo + (hi - lo) * (x - j)))
    rng.shuffle(out)
    return out


def _text(rng: random.Random, n_chars: int) -> str:
    """Words up to ``n_chars`` characters (at least one word)."""
    out = _word(rng)
    while True:
        w = _word(rng)
        if len(out) + 1 + len(w) > n_chars:
            return out
        out += " " + w


def _shares(rng: random.Random, n: int, values, weights) -> list:
    """``n`` values in fixed proportions, shuffled."""
    out = []
    for v, w in zip(values, weights):
        out += [v] * round(n * w)
    out = (out + [values[0]] * n)[:n]
    rng.shuffle(out)
    return out


CHROME = ('<div class="nav"><ul class="menu">'
          + '<li class="mi"><a class="lnk"><span class="ic"></span>'
            '</a></li>' * NAV_ITEMS
          + '</ul></div><div class="hero"><img class="b"/>'
            '<div class="grid">'
          + '<div class="cell"><span class="badge"></span></div>'
          * GRID_CELLS
          + "</div></div>")
FOOTER_ITEM = '<li class="col"><span class="s"></span></li>'


def _footer(n: int, malformed: bool) -> str:
    if not malformed:
        return ('<div class="footer"><ul class="cols">'
                + FOOTER_ITEM * n + "</ul></div>")
    # tag soup: implied </li> and </p>, mis-nested formatting,
    # unquoted attributes, stray end tags, an unclosed div
    return ('<div class=footer data-n=' + str(n) + '><ul class=cols>'
            + '<li class=col><span class=s>x<li><b><i>y</b></i>' * n
            + '</ul><div class=legal><p>z<p>w</span></span><br>'
              '<table><tr><td>t<td>u</table>')


@dataclass
class Pages:
    """Generated pages plus what extraction must return for them."""
    rows: dict[str, list]            # column -> values (pages table)
    n_pages: int
    n_triples: int
    digest: int                      # multiset digest of all triples
    entities_planted: int            # distinct entities mentioned
    triples: list[list[tuple]]       # per page, in planted order


def make_pages(seed: int, n_pages: int, persons: tuple[int, int],
               ents: Entities, rng: random.Random, huge: int) -> Pages:
    """``n_pages`` pages; each names ``persons`` (inclusive range)
    schema:Person mentions whose labels are Zipf draws from ``ents``.
    ``huge`` of them, evenly spaced (so each input file of contiguous
    rows gets the same number), end in ``HUGE_BYTES`` of footer."""
    cols: dict[str, list] = {k: [] for k in
                             ("url", "warc_ts", "html", "text", "lang")}
    planted: list[list[tuple]] = []
    used: set[int] = set()
    n_trip = 0
    n = n_pages
    urls = [f"{URL_PREFIX}s{seed}/{i:06d}" for i in range(n)]
    # page shapes in fixed proportions, shuffled per seed
    tpls = _shares(rng, n, (0, 1, 2), TEMPLATE_WEIGHTS)
    chars = _stratified(rng, n, SF01_TEXT_CHARS)
    big = {i * n // huge for i in range(huge)}
    big_footer = _footer(HUGE_BYTES // len(FOOTER_ITEM), False)
    k = persons[1] - persons[0] + 1
    n_persons = _shares(rng, n, list(range(persons[0], persons[1] + 1)),
                        [1 / k] * k)
    odd = _shares(rng, n, (True, False), (MALFORMED_SHARE,
                                          1 - MALFORMED_SHARE))
    # The parse cost of a huge page depends on its host language, so
    # every huge page is well-formed HTML5, whatever the seed: it swaps
    # shape with the nearest such page, which keeps the shares exact.
    for b in sorted(big):
        j = next(j for j in range(b, n) if tpls[j] == 1 and not odd[j]
                 and (j == b or j not in big))
        tpls[b], tpls[j] = tpls[j], tpls[b]
        odd[b], odd[j] = odd[j], odd[b]
    for i in range(n):
        url = urls[i]
        tpl = tpls[i]
        lang = rng.choice(LANGS)
        lng = lang or None
        title = _words(rng, rng.randint(2, 6)).capitalize()
        source = _words(rng, rng.randint(1, 3))
        text = _text(rng, chars[i])
        if rng.random() < 0.1:
            text += " & <more> \"quoted\""
        rel = urls[rng.randrange(n)]
        ids = ents.draw(rng, n_persons[i])
        used.update(ids)
        labels = [ents.label(rng, e) for e in ids]
        malformed = tpl == 1 and odd[i]

        trip = [(url, DC + "title", title, True, None, lng),
                (url, OG + "title", title, True, None, lng),
                (url, OG + "type", OG_TYPE[tpl], True, None, lng)]
        main = url + "#main"
        if tpl != 2:
            trip.append((main, RDF_TYPE, SCHEMA + "Article", False,
                         None, None))
        trip.append((main, DC + "source", source, True, None, lng))
        person_html = []
        for j, label in enumerate(labels):
            subj = f"{url}#p{j}"
            trip.append((subj, RDF_TYPE, SCHEMA + "Person", False,
                         None, None))
            trip.append((subj, SCHEMA + "name", label, True, None, lng))
            person_html.append(
                f'<span about="#p{j}" typeof="schema:Person" '
                f'property="schema:name" content="{esc(label)}">who'
                f"</span>")
        trip.append((main, DC + "relation", rel, False, None, None))
        trip.append((main, DC + "description", text, True, None, lng))

        body = ("<body>" + CHROME
                + ('<div about="#main" typeof="schema:Article">'
                   if tpl != 2 else '<div about="#main">')
                + f'<span property="dc:source">{esc(source)}</span>'
                + "".join(person_html)
                + f'<a rel="dc:relation" href="{rel}">rel</a>'
                + f'<p property="dc:description">{esc(text)}</p></div>'
                + _footer(FOOTER_ITEMS, malformed)
                + (big_footer if i in big else "") + "</body></html>")
        t = esc(title)
        if tpl == 0:
            html = ('<?xml version="1.0" encoding="UTF-8"?>'
                    '<html xmlns="http://www.w3.org/1999/xhtml" '
                    f'xml:lang="{lang}"><head>'
                    f'<title property="dc:title">{t}</title>'
                    f'<meta property="og:title" content="{t}" />'
                    '<meta property="og:type" content="article" />'
                    "</head>" + body)
        elif tpl == 1:
            html = (f'<!DOCTYPE html><html lang="{lang}"><head>'
                    f'<title property="dc:title">{t}</title>'
                    f'<meta property="og:title" content="{t}">'
                    '<meta property="og:type" content="website">'
                    '<meta property="!!bad" content=""></head>' + body)
        else:
            html = ('<html xmlns="http://www.w3.org/1999/xhtml" '
                    'version="XHTML+RDFa 1.0" '
                    f'xmlns:dc="{DC}" xmlns:og="{OG}" '
                    f'xmlns:schema="{SCHEMA}" xml:lang="{lang}"><head>'
                    f'<title property="dc:title">{t}</title>'
                    f'<meta property="og:title" content="{t}" />'
                    '<meta property="og:type" content="profile" />'
                    "</head>" + body)
        raw = html.encode("utf-8")
        cols["url"].append(url)
        cols["warc_ts"].append(1_704_067_200_000_000 + i * 1_000_000)
        cols["html"].append(raw)
        cols["text"].append(text)
        cols["lang"].append(lang)
        planted.append([(url,) + tr for tr in trip])
        n_trip += len(trip)
    return Pages(cols, n_pages, n_trip,
                 multiset_digest(t for p in planted for t in p),
                 len(used), planted)


# ---------------------------------------------------------------------------
# Multiset digest (mirrored in Spark by stages.spark_digest)
# ---------------------------------------------------------------------------

SEP = "\x1f"
NULL = "\x00"


def triple_key(url, subj, pred, obj, is_lit, dt, lang) -> str:
    return SEP.join((url, subj, pred, NULL if obj is None else obj,
                     "true" if is_lit else "false",
                     NULL if dt is None else dt,
                     NULL if lang is None else lang))


def multiset_digest(triples) -> int:
    """Order-independent, duplicate-sensitive digest: the sum of the
    first 60 bits of each triple's md5."""
    return sum(int(hashlib.md5(triple_key(*t).encode()).hexdigest()[:15],
                   16) for t in triples)


def write_pages(pages: Pages, out_dir: str, n_files: int) -> None:
    """Pages as ``n_files`` parquet files of contiguous rows; the
    benchmark reads one input split per file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()),
                        ("text", pa.string()),
                        ("lang", pa.string())])
    table = pa.table({k: pages.rows[k] for k in schema.names},
                     schema=schema)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-pages.n_pages // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * step, step),
                       os.path.join(out_dir, f"part-{f:03d}.parquet"))
