"""DuckDB oracle SQL for the driver's correctness gate.

Because pages are rendered deterministically from the documents table
(rdfa_spark/pages.py), the *expected* output of the whole extraction
pipeline is expressible in ANSI SQL over ``documents`` — every query
in __spark_entry__.py pairs a Spark implementation with one of these
oracle strings.  Keep the constants in sync with pages.py (single
source of truth for the template geometry lives there; this module
re-states it in SQL).
"""

from __future__ import annotations

DC = "http://purl.org/dc/terms/"
OG = "http://ogp.me/ns#"
SCHEMA = "http://schema.org/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
URL_PREFIX = "http://example.org/doc/"

# Shared CTE: one row per document with all derived template fields.
DOCS_CTE = f"""
WITH d AS (
  SELECT doc_id,
         text,
         source,
         NULLIF(lang, '') AS lng,
         '{URL_PREFIX}' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS url,
         'Doc ' || CAST(doc_id AS VARCHAR) AS title,
         CAST(doc_id % 3 AS INTEGER) AS t,
         (CASE CAST(doc_id % 3 AS INTEGER)
            WHEN 0 THEN 'Entity ' WHEN 1 THEN 'entity '
            ELSE 'Entity-' END)
           || lpad(CAST(doc_id % 40 AS VARCHAR), 3, '0') AS entity,
         '{URL_PREFIX}' || lpad(CAST((doc_id * 7 + 1) %
             (SELECT count(*) FROM documents) AS VARCHAR), 6, '0')
           AS rel_url
  FROM documents
)
"""

TRIPLES_CTE = DOCS_CTE + f""",
trip AS (
  SELECT url, url AS subj, '{DC}title' AS pred, title AS obj,
         TRUE AS obj_is_literal, CAST(NULL AS VARCHAR) AS obj_datatype,
         lng AS obj_lang
  FROM d
  UNION ALL SELECT url, url, '{OG}title', title, TRUE, NULL, lng FROM d
  UNION ALL SELECT url, url, '{OG}type',
         CASE t WHEN 0 THEN 'article' WHEN 1 THEN 'website'
                ELSE 'profile' END, TRUE, NULL, lng FROM d
  UNION ALL SELECT url, url || '#main', '{RDF}type',
         '{SCHEMA}Article', FALSE, NULL, NULL FROM d WHERE t IN (0, 1)
  UNION ALL SELECT url, url || '#main', '{DC}source', source,
         TRUE, NULL, lng FROM d
  UNION ALL SELECT url, url || '#person', '{RDF}type',
         '{SCHEMA}Person', FALSE, NULL, NULL FROM d
  UNION ALL SELECT url, url || '#person', '{SCHEMA}name', entity,
         TRUE, NULL, lng FROM d
  UNION ALL SELECT url, url || '#main', '{DC}relation', rel_url,
         FALSE, NULL, NULL FROM d
  UNION ALL SELECT url, url || '#main', '{DC}description', text,
         TRUE, NULL, lng FROM d
)
"""

RDFA_TRIPLES_SQL = TRIPLES_CTE + """
SELECT url, subj, pred, obj, obj_is_literal, obj_datatype, obj_lang
FROM trip
"""

RDFA_OG_TITLE_SQL = DOCS_CTE + """
SELECT url, 'title' AS property, title AS value FROM d
"""

RDFA_PRED_COUNTS_SQL = TRIPLES_CTE + """
SELECT pred, CAST(count(*) AS BIGINT) AS n_triples
FROM trip GROUP BY pred
"""

RDFA_TEXT_SQL = DOCS_CTE + """
SELECT url, title || source || 'who' || 'rel' || text AS text FROM d
"""

ENTITY_MENTIONS_SQL = DOCS_CTE + """
SELECT url || '#person' AS mention,
       entity AS label,
       'entity' || lpad(CAST(doc_id % 40 AS VARCHAR), 3, '0')
         AS entity_key
FROM d
"""

# Canonicalization: the three surface variants of entity k share one
# component; min-string label is 'Entity kkk' (space < dash, 'E' < 'e')
ENTITY_CANONICAL_SQL = DOCS_CTE + """
SELECT url || '#person' AS mention,
       entity AS label,
       'Entity ' || lpad(CAST(doc_id % 40 AS VARCHAR), 3, '0')
         AS canonical_id
FROM d
"""

# Processor-graph errors: exactly one curie-fellthrough warning per
# template-1 page (the deliberate undefined-prefix @property).
RDFA_ERRORS_SQL = """
SELECT 'warning' AS level,
       'curie-fellthrough' AS code,
       CAST(count(*) AS BIGINT) AS n
FROM documents WHERE doc_id % 3 = 1
GROUP BY 1, 2
"""

# A3 opengraph collect: per (url, property) sorted value list.
OG_COLLECT_SQL = DOCS_CTE + """
SELECT url, 'title' AS property, title AS values FROM d
UNION ALL
SELECT url, 'type' AS property,
       CASE t WHEN 0 THEN 'article' WHEN 1 THEN 'website'
              ELSE 'profile' END AS values
FROM d
"""

# Connected components on the deterministic chain graph
# (i <-> i-1 unless i % 10 == 0): component = decade leader.
CC_CHAIN_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS node,
       CAST(doc_id - doc_id % 10 AS VARCHAR) AS component
FROM documents
"""

# Hot-hub graph for the SALTED CC path: four hubs 'h0'..'h3', one per
# doc_id%4 class, each spoke-connected to every doc in its class
# (degree N/4 >> the query's max_degree, so every hub is salted),
# plus intra-class chains.  Components are exactly the residue
# classes; the representative is the string-min node, which is always
# a numeric doc_id (ASCII digits sort below 'h').  min(VARCHAR) in
# DuckDB is the same binary/lexicographic order Spark uses.
CC_HOT_HUB_SQL = """
WITH nodes AS (SELECT doc_id, doc_id % 4 AS grp FROM documents),
mins AS (SELECT grp, min(CAST(doc_id AS VARCHAR)) AS component
         FROM nodes GROUP BY grp)
SELECT CAST(n.doc_id AS VARCHAR) AS node, m.component AS component
FROM nodes n JOIN mins m ON n.grp = m.grp
UNION ALL
SELECT 'h' || CAST(m.grp AS VARCHAR) AS node, m.component
FROM mins m
"""

# Single-pass multi-output extraction: triples (kind 't') + processor
# errors ('e') + text/lineage ('x') from ONE parse —
# rdfa_spark.extract.extract_all projected to SQL-expressible columns.
EXTRACT_ALL_SQL = TRIPLES_CTE + """
SELECT url, 't' AS kind, subj, pred, obj, obj_is_literal,
       obj_datatype, obj_lang,
       CAST(NULL AS VARCHAR) AS code, CAST(NULL AS VARCHAR) AS text,
       CAST(NULL AS INTEGER) AS n_triples
FROM trip
UNION ALL
SELECT url, 'e', NULL, NULL, NULL, NULL, NULL, NULL,
       'curie-fellthrough', NULL, NULL
FROM d WHERE t = 1
UNION ALL
SELECT url, 'x', NULL, NULL, NULL, NULL, NULL, NULL, NULL,
       title || source || 'who' || 'rel' || text,
       CAST(CASE WHEN t IN (0, 1) THEN 9 ELSE 8 END AS INTEGER)
FROM d
"""

# N-Triples sink lines over the extracted KG — mirror of
# rdfa_spark.sinks.ntriples_lines (escaping chain \\ \n \r \t \")
# over the same trip CTE.  DuckDB single-quoted strings take
# backslashes literally, so '\n' below is the two-character escape
# sequence N-Triples wants.  Terms mirror sinks._term exactly: blank
# nodes ('_:...') stay bare, IRIs get angle brackets — the current
# corpus emits no bnode triples, but the oracle must not silently
# depend on that.
_NT_TERM = ("CASE WHEN {t} LIKE '\\_:%' ESCAPE '\\' THEN {t} "
            "ELSE '<' || {t} || '>' END")
NT_LINES_SQL = TRIPLES_CTE + f"""
SELECT {_NT_TERM.format(t='subj')} || ' ' ||
  {_NT_TERM.format(t='pred')} || ' ' ||
  CASE WHEN obj_is_literal THEN
    '"' || replace(replace(replace(replace(replace(obj,
          '\\', '\\\\'), chr(10), '\\n'), chr(13), '\\r'),
          chr(9), '\\t'), '"', '\\"') || '"'
    || CASE WHEN obj_datatype IS NOT NULL
            THEN '^^<' || obj_datatype || '>'
            WHEN obj_lang IS NOT NULL THEN '@' || obj_lang
            ELSE '' END
  ELSE {_NT_TERM.format(t='obj')} END || ' .' AS value
FROM trip
"""

# Conjunctive BGP over the extracted KG: ?m a schema:Article ;
# ?m dct:relation ?o . ?o dct:title ?title — two triple-pattern
# subjects joined through the shared ?o variable (the reference's
# SPARQL-ASK surface, t/08atom.t:113-124, as relational algebra).
BGP_ARTICLE_SQL = TRIPLES_CTE + f"""
SELECT DISTINCT a.subj AS m, r.obj AS o, t.obj AS title
FROM trip a
JOIN trip r ON r.subj = a.subj AND r.pred = '{DC}relation'
JOIN trip t ON t.subj = r.obj AND t.pred = '{DC}title'
WHERE a.pred = '{RDF}type' AND a.obj = '{SCHEMA}Article'
"""

# ---------------------------------------------------------------------------
# Relational surface: window functions + multi-way join coverage
# (classic operators the engine gets from Catalyst; oracled in DuckDB)
# ---------------------------------------------------------------------------

EVENT_SESSIONS_SQL = """
WITH e AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
), gaps AS (
  SELECT user_id, event_id, sec,
         CASE WHEN lag(sec) OVER (PARTITION BY user_id
                                  ORDER BY sec, event_id) IS NULL
                OR sec - lag(sec) OVER (PARTITION BY user_id
                                        ORDER BY sec, event_id) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM e
), sess AS (
  SELECT user_id, event_id, sec,
         sum(new_session) OVER (PARTITION BY user_id
                                ORDER BY sec, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       min(sec) AS start_sec, max(sec) AS end_sec
FROM sess GROUP BY user_id, session_id
"""

# decimal arithmetic end-to-end: exact + associative, so shuffle
# order can't perturb the cross-engine comparison
REVENUE_BY_NATION_SQL = """
SELECT n.n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(floor(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * CAST(1 - l.l_discount AS DECIMAL(18,6)))
                  * 100) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""

# ---------------------------------------------------------------------------
# Training-data ops over the documents table
# ---------------------------------------------------------------------------

TOKEN_STATS_SQL = """
SELECT doc_id,
       CAST(len(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+')) AS BIGINT)
         AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""

# BPE-ish pre-tokenizer token counts — lookahead-free pattern shared
# verbatim with functions.text.BPE_TOKEN_RE (Java regex and RE2 agree
# on it).
TOKEN_BPE_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(
                regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g'),
                ' ?\p{L}+| ?\p{N}+| ?[^\p{L}\p{N} ]+')) AS BIGINT)
         AS n_bpe_tokens
FROM documents
"""

FINGERPRINT_SQL = """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))
         AS fingerprint
FROM documents
"""


def _langid_cases() -> str:
    """Char-trigram language-ID — exact mirror of the numpy kernel of
    rdfa_spark.functions.text.with_language_id: the same profile
    table (generated from the same seeds) as a VALUES list, the same
    padded trigram windows, integer sums, and the same
    (score DESC, lang_rank ASC) argmax with 'unknown' fallback."""
    from .functions.text import TRIGRAM_LANGS, trigram_profiles

    profs = trigram_profiles()
    rows = []
    for rank, lang in enumerate(TRIGRAM_LANGS):
        for tri, w in profs[lang].items():
            t = tri.replace("'", "''")
            rows.append(f"('{lang}', {rank}, '{t}', {w})")
    values = ",\n    ".join(rows)
    return f"""
WITH prof(lang, lang_rank, tri, w) AS (
  VALUES
    {values}
), pad AS (
  SELECT doc_id,
         ' ' || regexp_replace(lower(coalesce(text, '')), '[ \\t\\n\\x0b\\f\\r]+', ' ',
                               'g') || ' ' AS p
  FROM documents
), tris AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(p) - 1, 1)),
                               i -> substr(p, CAST(i AS INTEGER), 3)))
           AS tri
  FROM pad
), sc AS (
  SELECT doc_id, lang, lang_rank, CAST(sum(w) AS BIGINT) AS score
  FROM tris JOIN prof USING (tri)
  GROUP BY doc_id, lang, lang_rank
), best AS (
  SELECT doc_id, lang FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, lang_rank ASC)
             AS rn
    FROM sc WHERE score > 0) WHERE rn = 1
)
SELECT d.doc_id, coalesce(b.lang, 'unknown') AS lang_pred
FROM documents d LEFT JOIN best b USING (doc_id)
"""


QUALITY_SQL_TEMPLATE = """
WITH tok AS (
  SELECT doc_id, text,
         string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+') AS toks
  FROM documents
)
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS q_n_chars,
  CAST(len(toks) AS BIGINT) AS q_n_tokens,
  CAST(floor(list_sum(list_transform(toks, t -> length(t))) * 1000.0
       / greatest(len(toks), 1)) AS BIGINT) AS q_mean_token_len_pm,
  CAST(floor(len(list_filter(toks, t -> list_contains([{en_words}], t)))
       * 1000.0 / greatest(len(toks), 1)) AS BIGINT) AS q_stopword_pm,
  CAST(floor(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
       * 1000.0 / greatest(length(text), 1)) AS BIGINT) AS q_alpha_pm
FROM tok
"""

# Derived dedup corpus: originals plus a copy that is exact-identical
# for doc_id % 5 == 0 and perturbed otherwise.
DUP_CORPUS_CTE = """
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS id,
         CASE WHEN doc_id % 5 = 0 THEN text
              ELSE text || ' extra' END AS text
  FROM documents
)
"""

DEDUP_EXACT_SQL = DUP_CORPUS_CTE + """
SELECT md5(text) AS fingerprint,
       CAST(count(*) AS BIGINT) AS n_dups,
       min(id) AS keeper
FROM corpus GROUP BY md5(text) HAVING count(*) > 1
"""


# MinHash over word shingles, as one CTE chain over ``table``'s
# ``text`` keyed by ``id_col``: tok -> sh (the distinct SHINGLE_N-word
# shingles) -> vals (one md5 per shingle) -> mh (NUM_HASHES
# universal-hash minima) -> banded (LSH_BANDS band hashes) -> cand (the
# id pairs that share a band bucket).  Byte-identical mirror of
# rdfa_spark.pipeline.linking's ``minhash_signatures`` kernel and
# ``lsh_candidate_pairs`` banding, reading the same constants.  The
# chain is returned without its ``WITH``; DuckDB skips the CTEs a
# statement never reads.
def _minhash_ctes(table: str, id_col: str) -> str:
    from .pipeline.linking import (LSH_BANDS, MINHASH_PRIME, NUM_HASHES,
                                   SHINGLE_N, minhash_params)
    params = minhash_params(NUM_HASHES)
    a_list = ", ".join(str(a) for a, _ in params)
    b_list = ", ".join(str(b) for _, b in params)
    rows = NUM_HASHES // LSH_BANDS
    return f"""tok AS (
  SELECT {id_col}, string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+') AS toks
  FROM {table}
), sh AS (
  SELECT {id_col},
         list_distinct(list_transform(
             range(0, greatest(len(toks) - {SHINGLE_N}, 0) + 1),
             j -> array_to_string(list_slice(toks, j + 1, j + {SHINGLE_N}),
                                  ' ')))
           AS shingles
  FROM tok
), vals AS (
  SELECT {id_col},
         list_transform(shingles,
             s -> ('0x' || substr(md5(s), 1, 15))::BIGINT
                  % {MINHASH_PRIME}) AS vs
  FROM sh
), mh AS (
  SELECT {id_col},
         list_transform(range(0, {NUM_HASHES}), i ->
             list_min(list_transform(vs, v ->
                 (([{a_list}])[i + 1] * v + ([{b_list}])[i + 1])
                 % {MINHASH_PRIME})))
           AS minhash
  FROM vals
), banded AS (
  SELECT {id_col}, b.b AS band_id,
         md5(array_to_string(list_slice(minhash, b.b * {rows} + 1,
                                        b.b * {rows} + {rows}), '|'))
           AS band_hash
  FROM mh, (SELECT unnest(range(0, {LSH_BANDS})) AS b) b
), cand AS (
  SELECT DISTINCT x.{id_col} AS id_a, y.{id_col} AS id_b
  FROM banded x JOIN banded y USING (band_id, band_hash)
  WHERE x.{id_col} < y.{id_col}
)"""


def minhash_signature_sql() -> str:
    return "\nWITH " + _minhash_ctes("documents", "doc_id") + """
SELECT doc_id, md5(array_to_string(minhash, '|')) AS signature
FROM mh
"""


def minhash_band_pairs_sql() -> str:
    return "\nWITH " + _minhash_ctes("documents", "doc_id") + """
SELECT id_a, id_b FROM cand
"""


# Full near-dup dedup pipeline over the dup corpus: the MinHash chain's
# banded LSH candidates -> exact shingle-set Jaccard verification
# (mirror of pipeline.dedup.minhash_dedup_pairs, keeping the pairs at
# or above its JACCARD_THRESHOLD); jaccard reported as floor(j*1000)
# so the cross-engine hash compares integers.
def _dedup_minhash_sql() -> str:
    from .pipeline.dedup import JACCARD_THRESHOLD
    return DUP_CORPUS_CTE + ",\n" + _minhash_ctes("corpus", "id") + f""",
verified AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_filter(sa.shingles,
                              s -> list_contains(sb.shingles, s)))
              AS DOUBLE)
         / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
           AS jaccard
  FROM cand c
  JOIN sh sa ON sa.id = c.id_a
  JOIN sh sb ON sb.id = c.id_b
)
SELECT id_a, id_b,
       CAST(floor(jaccard * 1000) AS BIGINT) AS jaccard_pm
FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# SimHash near-dup end-to-end over the dup corpus: 64-bit signatures
# (same md5 bit votes as SIMHASH_SIGNATURE_SQL), pigeonhole blocking on
# BLOCK_BITS-bit words, Hamming verification on candidates only, keeping
# the pairs within MAX_HAMMING — mirror of
# pipeline.dedup.simhash_near_dup_pairs, reading its constants.
def _dedup_simhash_sql() -> str:
    from .pipeline.dedup import BLOCK_BITS, MAX_HAMMING
    ham = ("len(list_filter(range(0, 64), "
           "i -> substr(sa, CAST(i + 1 AS INTEGER), 1) <> "
           "substr(sb, CAST(i + 1 AS INTEGER), 1)))")
    return DUP_CORPUS_CTE + f""",
tok AS (
  SELECT id,
         unnest(list_distinct(string_split_regex(lower(text),
                                                 '[ \\t\\n\\x0b\\f\\r]+'))) AS t
  FROM corpus
), bits AS (
  SELECT id, i.i AS pos,
         CASE WHEN i.i < 32
           THEN (('0x' || substr(md5(t), 1, 8))::BIGINT
                 >> (31 - i.i)) & 1
           ELSE (('0x' || substr(md5(t), 9, 8))::BIGINT
                 >> (63 - i.i)) & 1
         END AS bit
  FROM tok, (SELECT unnest(range(0, 64)) AS i) i
), votes AS (
  SELECT id, pos,
         sum(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS v
  FROM bits GROUP BY id, pos
), sh AS (
  SELECT id, string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
                        ORDER BY pos) AS simhash
  FROM votes GROUP BY id
), blocked AS (
  SELECT id, simhash, w.w AS word_id,
         substr(simhash, CAST(w.w * {BLOCK_BITS} + 1 AS INTEGER),
                {BLOCK_BITS}) AS word
  FROM sh, (SELECT unnest(range(0, {64 // BLOCK_BITS})) AS w) w
), cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b,
         x.simhash AS sa, y.simhash AS sb
  FROM blocked x JOIN blocked y USING (word_id, word)
  WHERE x.id < y.id
)
SELECT id_a, id_b, CAST({ham} AS BIGINT) AS hamming
FROM cand WHERE {ham} <= {MAX_HAMMING}
"""


# Embedding near-dup over a doubled corpus: identical vectors always
# share an LSH bucket (identical signatures) and cosine(v,v) rounds
# to 1.0; random 64-dim pairs can't reach
# similarity.NEAR_DUP_THRESHOLD.
EMBEDDING_NEAR_DUP_SQL = """
SELECT vec_id AS id_a,
       vec_id + 10000 AS id_b,
       CAST(1.0 AS DOUBLE) AS score
FROM embeddings
"""

# SimHash 64-bit signatures: per-token md5-derived ±1 bit votes,
# majority per bit — byte-identical mirror of
# rdfa_spark.pipeline.dedup.simhash64 (bit i<32 comes from the first
# 8 md5 hex digits, bit i>=32 from digits 9-16; '1' iff vote sum > 0).
SIMHASH_SIGNATURE_SQL = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_distinct(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+')))
           AS t
  FROM documents
), bits AS (
  SELECT doc_id, i.i AS pos,
         CASE WHEN i.i < 32
           THEN (('0x' || substr(md5(t), 1, 8))::BIGINT
                 >> (31 - i.i)) & 1
           ELSE (('0x' || substr(md5(t), 9, 8))::BIGINT
                 >> (63 - i.i)) & 1
         END AS bit
  FROM tok, (SELECT unnest(range(0, 64)) AS i) i
), votes AS (
  SELECT doc_id, pos,
         sum(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS v
  FROM bits GROUP BY doc_id, pos
)
SELECT doc_id,
       string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
                  ORDER BY pos) AS simhash
FROM votes GROUP BY doc_id
"""


def _cos(a: str, b: str) -> str:
    """DuckDB cosine between two DOUBLE[] columns with the same
    left-to-right fold the similarity kernels use (bit-identical)."""
    def _sum(expr: str) -> str:
        return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
                f"{expr}), (x, y) -> x + y)")
    dot = _sum(f"list_transform(list_zip({a}, {b}), p -> p[1] * p[2])")
    na = _sum(f"list_transform({a}, v -> v * v)")
    nb = _sum(f"list_transform({b}, v -> v * v)")
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


def _ranked_topk() -> str:
    """The tail of every top-k oracle: rank the ``cand`` CTE's
    (query_id, neighbor_id, score) rows by (score desc, id asc) per
    query and keep the first ``similarity.TOP_K``."""
    from .functions.similarity import TOP_K
    return f"""ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id ASC)
           AS rank
  FROM cand
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
       round(score, 4) AS score
FROM ranked WHERE rank <= {TOP_K}
"""


# Hyperplane-LSH ANN: the same deterministic md5-derived plane signs
# as similarity._plane_signs_py, embedded as literal arrays; bucket =
# concat of the LSH_PLANES sign bits; candidates restricted to the
# query's probe buckets (signature + its 1..LSH_MULTIPROBE-bit flips,
# fixed order) — mirror of lsh_cosine_topk, reading its constants,
# over ``dim``-wide vectors (the SQL embeds the planes, so it takes
# the width of the data).
def _lsh_topk_sql(dim: int = 64) -> str:
    from .functions.similarity import (LSH_MULTIPROBE, LSH_PLANES,
                                       _plane_signs_py, multiprobe_flips)

    def sig(col: str) -> str:
        bits = []
        for p in range(LSH_PLANES):
            arr = ", ".join(str(s) for s in _plane_signs_py(p, dim))
            dot = (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
                   f"list_transform(list_zip({col}, [{arr}]), "
                   f"x -> x[1] * x[2])), (a, b) -> a + b)")
            bits.append(f"(CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END)")
        return " || ".join(bits)

    def probe(combo: tuple) -> str:
        if not combo:
            return "sig"
        parts = []
        for i in range(LSH_PLANES):
            c = f"substr(sig, {i + 1}, 1)"
            if i in combo:
                c = f"(CASE WHEN {c} = '1' THEN '0' ELSE '1' END)"
            parts.append(c)
        return " || ".join(parts)

    probes = ", ".join(probe(c) for c in
                       multiprobe_flips(LSH_PLANES, LSH_MULTIPROBE))
    return f"""
WITH it AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS iv
  FROM embeddings
), its AS (
  SELECT neighbor_id, iv, {sig('iv')} AS sig FROM it
), q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 50 = 0
), qs AS (
  SELECT query_id, qv, {sig('qv')} AS sig FROM q
), qp AS (
  SELECT query_id, qv, unnest([{probes}]) AS sig FROM qs
), cand AS (
  SELECT query_id, neighbor_id, {_cos('iv', 'qv')} AS score
  FROM its JOIN qp USING (sig)
  WHERE neighbor_id <> query_id
), {_ranked_topk()}"""


# IVF ANN: deterministic farthest-first centroids over an md5-ordered
# sample (mirror of similarity.farthest_first_centroids — identical
# left-to-right float folds, so the selected set is bit-identical),
# argmax cell assignment, each query probing its IVF_NPROBE nearest
# cells, exact rerank — mirror of ivf_cosine_topk, reading its
# IVF_SAMPLE_SIZE, IVF_CENTROIDS and IVF_NPROBE.  The traversal
# unrolls to one CTE pair per centroid: n_k picks the point whose
# max-cosine-to-chosen is smallest (ties by sample order), s_k folds
# the new centroid into the running best array.
def _ivf_topk_sql() -> str:
    from .functions.similarity import (IVF_CENTROIDS, IVF_NPROBE,
                                       IVF_SAMPLE_SIZE)
    parts = [f"""
WITH samp AS MATERIALIZED (
  SELECT ord, sv FROM (
    SELECT CAST(embedding AS DOUBLE[]) AS sv,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))
                              ASC, vec_id ASC) AS ord
    FROM embeddings) WHERE ord <= {IVF_SAMPLE_SIZE}
), s1 AS MATERIALIZED (
  SELECT s.ord, s.sv, {_cos('s.sv', 'c.cv')} AS best,
         (s.ord = 1) AS chosen
  FROM samp s, (SELECT sv AS cv FROM samp WHERE ord = 1) c
)"""]
    for j in range(2, IVF_CENTROIDS + 1):
        prev = f"s{j - 1}"
        cos_new = _cos("s.sv", "c.cv")
        parts.append(f""",
n{j} AS MATERIALIZED (
  SELECT ord AS pick FROM {prev} WHERE NOT chosen
  ORDER BY best ASC, ord ASC LIMIT 1
), s{j} AS MATERIALIZED (
  SELECT s.ord, s.sv,
         CASE WHEN {cos_new} > s.best THEN {cos_new}
              ELSE s.best END AS best,
         s.chosen OR s.ord = (SELECT pick FROM n{j}) AS chosen
  FROM {prev} s,
       (SELECT sv AS cv FROM {prev}
        WHERE ord = (SELECT pick FROM n{j})) c
)""")
    cent_rows = ["SELECT 1 AS cell, sv AS cv FROM samp WHERE ord = 1"]
    for j in range(2, IVF_CENTROIDS + 1):
        cent_rows.append(f"SELECT {j}, sv FROM samp "
                         f"WHERE ord = (SELECT pick FROM n{j})")
    cent = "\n  UNION ALL ".join(cent_rows)
    parts.append(f""",
cent AS MATERIALIZED (
  {cent}
), it AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS iv
  FROM embeddings
), cells AS (
  SELECT neighbor_id, iv, cell FROM (
    SELECT neighbor_id, iv, cell,
           row_number() OVER (PARTITION BY neighbor_id
                              ORDER BY {_cos('iv', 'cv')} DESC,
                                       cell ASC) AS cr
    FROM it, cent) WHERE cr = 1
), q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 50 = 0
), probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT query_id, qv, cell,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {_cos('qv', 'cv')} DESC,
                                       cell ASC) AS cr
    FROM q, cent) WHERE cr <= {IVF_NPROBE}
), cand AS (
  SELECT query_id, neighbor_id, {_cos('iv', 'qv')} AS score
  FROM cells JOIN probes USING (cell)
  WHERE neighbor_id <> query_id
), {_ranked_topk()}""")
    return "".join(parts)


def ann_topk_sql() -> str:
    """Exact top-k: every item scored against every query — mirror of
    similarity.cosine_topk."""
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 50 = 0
), it AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS iv
  FROM embeddings
), cand AS (
  SELECT query_id, neighbor_id, {_cos('iv', 'qv')} AS score
  FROM it, q WHERE neighbor_id <> query_id
), {_ranked_topk()}"""


def langid_sql() -> str:
    return _langid_cases()


def turtle_lines_sql() -> str:
    """Mirror of sinks.turtle_lines over the trip CTE: same
    longest-prefix pname compression (generated from the SAME
    DEFAULT_PREFIXES table), same conservative PN_LOCAL gate, same
    N-Triples escaping chain, bnodes pass through."""
    from .sinks import DEFAULT_PREFIXES, _PN_LOCAL_RE

    def term(col: str) -> str:
        branches = [f"WHEN {col} LIKE '\\_:%' ESCAPE '\\' THEN {col}"]
        for pfx, uri in sorted(DEFAULT_PREFIXES.items(),
                               key=lambda kv: -len(kv[1])):
            u = uri.replace("'", "''")
            n = len(uri)
            branches.append(
                f"WHEN starts_with({col}, '{u}') AND "
                f"regexp_matches(substr({col}, {n + 1}), "
                f"'{_PN_LOCAL_RE}') "
                f"THEN '{pfx}:' || substr({col}, {n + 1})")
        return ("CASE " + " ".join(branches)
                + f" ELSE '<' || {col} || '>' END")

    esc = ("replace(replace(replace(replace(replace(obj, '\\', "
           "'\\\\'), chr(10), '\\n'), chr(13), '\\r'), chr(9), "
           "'\\t'), '\"', '\\\"')")
    return TRIPLES_CTE + f"""
SELECT {term('subj')} || ' ' || {term('pred')} || ' ' ||
  CASE WHEN obj_is_literal THEN
    '"' || {esc} || '"'
    || CASE WHEN obj_datatype IS NOT NULL
            THEN '^^' || {term('obj_datatype')}
            WHEN obj_lang IS NOT NULL THEN '@' || obj_lang
            ELSE '' END
  ELSE {term('obj')} END || ' .' AS value
FROM trip
"""


def filter_corpus_sql() -> str:
    """End-to-end mirror of pipeline.dedup.filter_corpus: quality
    gate (its MIN_SCORE_PM) -> language allowlist (its LANGUAGES) ->
    exact dedup (min doc_id per md5(text) group).  Language-ID runs
    per-doc independently, so computing it over all documents and
    joining the quality
    survivors is equivalent to running it on survivors only (which
    is what the Spark plan does for cost reasons)."""
    from .functions.text import STOPWORDS
    from .pipeline.dedup import LANGUAGES, MIN_SCORE_PM
    en_words = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    langs = ", ".join(f"'{x}'" for x in LANGUAGES)
    lang_cte = _langid_cases()
    # reuse the langid statement's CTE chain; splice its final SELECT
    # into a named CTE and continue the pipeline
    head, final = lang_cte.rsplit("SELECT d.doc_id", 1)
    return (head
            + f""", lid AS (
  SELECT d.doc_id{final}
), tokq AS (
  SELECT doc_id, text,
         string_split_regex(lower(text),
                            '[ \\t\\n\\x0b\\f\\r]+') AS toks
  FROM documents
), q AS (
  SELECT doc_id, text,
    CAST(floor(len(list_filter(toks,
                               t -> list_contains([{en_words}], t)))
         * 1000.0 / greatest(len(toks), 1)) AS BIGINT)
      + CAST(floor(length(regexp_replace(lower(text), '[^a-z]', '',
                                         'g'))
           * 1000.0 / greatest(length(text), 1)) AS BIGINT)
      + least(CAST(len(toks) AS BIGINT), 100) * 10 AS q_score_pm
  FROM tokq
), kept AS (
  SELECT q.doc_id, q.text, q.q_score_pm, lid.lang_pred
  FROM q JOIN lid USING (doc_id)
  WHERE q.q_score_pm >= {MIN_SCORE_PM}
    AND lid.lang_pred IN ({langs})
), dedup AS (
  SELECT doc_id, lang_pred, q_score_pm,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY doc_id) AS rn
  FROM kept
)
SELECT doc_id, lang_pred, q_score_pm FROM dedup WHERE rn = 1
""")


def quality_sql() -> str:
    from .functions.text import STOPWORDS
    en_words = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return QUALITY_SQL_TEMPLATE.format(en_words=en_words)
