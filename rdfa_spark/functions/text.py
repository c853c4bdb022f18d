"""Text-analysis operators for training-data pipelines.

Language-ID (char-trigram Cavnar-Trenkle model, one numpy kernel
over mapInArrow), quality scoring, token counting, document
fingerprinting — the relational operators are pure Spark built-ins
(JVM-side, whole-stage codegen) with integer-scaled arithmetic so
the DuckDB oracle reproduces results exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword lists (public common words); order of
# LANGS is the deterministic tie-break order for language_id
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "a", "that"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht", "mit"],
    "es": ["el", "la", "los", "que", "y", "es", "una", "para"],
    "fr": ["le", "la", "les", "et", "est", "une", "pour", "dans"],
    "zh": ["de", "shi", "le", "zai", "you", "wo", "ta", "men"],
}
LANGS = list(STOPWORDS)


def tokens_col(text_col: str) -> Column:
    return F.split(F.lower(F.col(text_col)), r"\s+")


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("n_tokens", F.size(tokens_col(text_col)))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase
    text (portable to any engine with md5)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                            r"\s+", " ")
    return df.withColumn("fingerprint", F.md5(norm))


def _stopword_hits(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


# ---------------------------------------------------------------------------
# Language-ID: character-trigram profiles (Cavnar-Trenkle style)
# ---------------------------------------------------------------------------
# Seed paragraphs are self-composed sentences dense in each language's
# function words (deterministic, license-free; no external data).
# Char trigrams work on whitespace-free scripts (zh/ja/ko) where the
# old stopword heuristic structurally could not.

TRIGRAM_SEEDS = {
    "en": ("the quick brown fox jumps over the lazy dog. this is the "
           "house that we have seen and it was not there when they "
           "came from the city with their friends. what do you think "
           "about the people who said that there would be more time "
           "for all of these things in the morning. i have a question "
           "and an answer for you and for them."),
    "de": ("der schnelle braune fuchs springt über den faulen hund. "
           "das ist das haus das wir gesehen haben und es war nicht "
           "da als sie mit ihren freunden aus der stadt kamen. was "
           "denkst du über die leute die gesagt haben dass es morgen "
           "mehr zeit für alle diese dinge geben würde. ich habe eine "
           "frage und eine antwort für dich und für sie."),
    "es": ("el rápido zorro marrón salta sobre el perro perezoso. "
           "esta es la casa que hemos visto y no estaba allí cuando "
           "vinieron de la ciudad con sus amigos. qué piensas de la "
           "gente que dijo que habría más tiempo para todas estas "
           "cosas por la mañana. tengo una pregunta y una respuesta "
           "para ti y para ellos."),
    "fr": ("le rapide renard brun saute par dessus le chien "
           "paresseux. c'est la maison que nous avons vue et elle "
           "n'était pas là quand ils sont venus de la ville avec "
           "leurs amis. que pensez vous des gens qui ont dit qu'il y "
           "aurait plus de temps pour toutes ces choses le matin. "
           "j'ai une question et une réponse pour toi et pour eux."),
    "pt": ("a rápida raposa marrom salta sobre o cão preguiçoso. "
           "esta é a casa que vimos e não estava lá quando eles "
           "vieram da cidade com os seus amigos. o que você acha das "
           "pessoas que disseram que haveria mais tempo para todas "
           "essas coisas pela manhã. eu tenho uma pergunta e uma "
           "resposta para você e para eles."),
    "it": ("la veloce volpe marrone salta sopra il cane pigro. "
           "questa è la casa che abbiamo visto e non era lì quando "
           "sono venuti dalla città con i loro amici. cosa pensi "
           "delle persone che hanno detto che ci sarebbe stato più "
           "tempo per tutte queste cose al mattino. ho una domanda e "
           "una risposta per te e per loro."),
    "ru": ("быстрая коричневая лиса прыгает через ленивую собаку. "
           "это дом который мы видели и его не было там когда они "
           "приехали из города со своими друзьями. что ты думаешь о "
           "людях которые сказали что утром будет больше времени для "
           "всех этих дел. у меня есть вопрос и ответ для тебя и для "
           "них."),
    "zh": ("敏捷的棕色狐狸跳过了懒惰的狗。这是我们看到的那座房子,"
           "他们和朋友从城里来的时候它不在那里。你觉得那些说早上会"
           "有更多时间做这些事情的人怎么样。我有一个问题和一个答案"
           "要告诉你。我们的时间不多了,因为他们已经到了。"),
    "ja": ("すばやい茶色の狐はなまけものの犬を飛び越えます。これは"
           "私たちが見た家で、彼らが友達と町から来たときそこには"
           "ありませんでした。朝にはこれらのことをするための時間が"
           "もっとあると言った人たちについてどう思いますか。私は"
           "あなたに質問と答えがあります。"),
    "ko": ("빠른 갈색 여우가 게으른 개를 뛰어넘는다. 이것은 우리가 "
           "본 집이고 그들이 친구들과 도시에서 왔을 때 거기에 "
           "없었다. 아침에 이 모든 일을 할 시간이 더 있을 거라고 "
           "말한 사람들에 대해 어떻게 생각하니. 나는 너에게 질문과 "
           "대답이 있다."),
}
TRIGRAM_LANGS = list(TRIGRAM_SEEDS)       # tie-break priority order
PROFILE_SIZE = 200


def trigram_profiles() -> dict[str, dict[str, int]]:
    """Per-language {trigram: integer weight}: the top
    ``PROFILE_SIZE`` trigrams of the padded, whitespace-collapsed,
    lowercased seed, weighted PROFILE_SIZE - rank (rank by count desc,
    trigram asc — fully deterministic).
    Identical tables back the kernel's lookup tables and the DuckDB
    oracle VALUES list."""
    import re

    out = {}
    for lang, seed in TRIGRAM_SEEDS.items():
        norm = " " + re.sub(r"\s+", " ", seed.lower()).strip() + " "
        counts: dict[str, int] = {}
        for i in range(len(norm) - 2):
            t = norm[i:i + 3]
            counts[t] = counts.get(t, 0) + 1
        top = sorted(counts.items(),
                     key=lambda kv: (-kv[1], kv[0]))[:PROFILE_SIZE]
        out[lang] = {t: PROFILE_SIZE - i for i, (t, _) in enumerate(top)}
    return out


_LANGID_TABLES = None
_LANGID_ASCII_TABLE = None
_WS_RE = None
_ASCII_NORM = None

import re as _re_mod

_MULTISPACE_RE = _re_mod.compile(rb"  +")


def _ws_re():
    global _WS_RE
    if _WS_RE is None:
        _WS_RE = _re_mod.compile(r"[ \t\n\x0b\f\r]+")
    return _WS_RE


def _ascii_norm_table() -> bytes:
    """256-byte translate table: A-Z -> a-z, each ws-class byte
    (\\t \\n \\x0b \\f \\r) -> space, everything else identity."""
    global _ASCII_NORM
    if _ASCII_NORM is None:
        tbl = bytearray(range(256))
        for ch in range(ord("A"), ord("Z") + 1):
            tbl[ch] = ch + 32
        for ch in b"\t\n\x0b\f\r":
            tbl[ch] = 0x20
        _ASCII_NORM = bytes(tbl)
    return _ASCII_NORM


def _langid_tables():
    """(sorted int64 trigram keys, aligned weight matrix) for the
    numpy kernel, built once per process.  A trigram packs into one
    int64 as three 21-bit code points (Unicode tops out at 0x10FFFF
    < 2^21) — injective, so key equality == trigram equality."""
    global _LANGID_TABLES
    if _LANGID_TABLES is not None:
        return _LANGID_TABLES
    import numpy as np

    profs = trigram_profiles()
    langs = TRIGRAM_LANGS
    combined: dict[str, list[int]] = {}
    for li, lang in enumerate(langs):
        for tri, w in profs[lang].items():
            combined.setdefault(tri, [0] * len(langs))[li] = w

    def pack(tri: str) -> int:
        a, b, c = (ord(ch) for ch in tri)
        return a | (b << 21) | (c << 42)

    items = sorted((pack(t), ws) for t, ws in combined.items())
    keys = np.array([k for k, _ in items], dtype=np.int64)
    # int32 is exact here: weights <= PROFILE_SIZE and per-doc sums
    # are bounded by n_windows * PROFILE_SIZE, far below 2^31
    weights = np.array([ws for _, ws in items], dtype=np.int32)
    # CSR view of the (mostly single-language) weight rows: scoring
    # expands each matched window to its ~1.3 nonzero (lang, w)
    # entries instead of touching all 10 columns
    nnz = (weights != 0).sum(axis=1).astype(np.int64)
    row_ptr = np.zeros(len(weights) + 1, dtype=np.int64)
    np.cumsum(nnz, out=row_ptr[1:])
    lang_idx = np.nonzero(weights)[1].astype(np.int64)  # row-major
    w_val = weights[weights != 0].astype(np.float64)
    _LANGID_TABLES = (keys, weights, nnz, row_ptr, lang_idx, w_val)
    return _LANGID_TABLES


def _langid_ascii_table():
    """(charmap, table) for all-ASCII trigram windows, built once per
    process.  ``charmap`` (128 x uint8) maps an ASCII byte to a 6-bit
    alphabet code (63 = not in any profile trigram); ``table``
    (2^18 x int32, 1 MB — L2-resident, unlike a naive 2^21 x int32
    direct map that thrashes cache at 8 MB) maps the packed 18-bit
    window key to a profile row, -1 = no trigram.  Any window with an
    unmapped char packs a 63 and lands on -1 by construction."""
    global _LANGID_ASCII_TABLE
    if _LANGID_ASCII_TABLE is not None:
        return _LANGID_ASCII_TABLE
    import numpy as np

    keys = _langid_tables()[0]
    tris = []
    for k in keys.tolist():
        c0, c1, c2 = k & 0x1FFFFF, (k >> 21) & 0x1FFFFF, k >> 42
        tris.append((c0, c1, c2))
    ascii_chars = sorted({c for t in tris for c in t
                          if all(ch < 128 for ch in t)})
    assert len(ascii_chars) <= 63, "alphabet exceeds 6-bit codes"
    charmap = np.full(128, 63, dtype=np.uint8)
    for i, ch in enumerate(ascii_chars):
        charmap[ch] = i
    table = np.full(1 << 18, -1, dtype=np.int32)
    for row, (c0, c1, c2) in enumerate(tris):
        if c0 < 128 and c1 < 128 and c2 < 128:
            key = (int(charmap[c0]) | (int(charmap[c1]) << 6)
                   | (int(charmap[c2]) << 12))
            table[key] = row
    _LANGID_ASCII_TABLE = (charmap, table)
    return _LANGID_ASCII_TABLE


def _trigram_rows(codes, keys, is_ascii: bool):
    """(window positions, profile row indices) of every trigram
    window in ``codes`` that matches a profile trigram.  ASCII
    buffers (uint8 codes) take the dense-table gather; anything else
    takes the packed-int64 binary search.  vpos sorted ascending."""
    import numpy as np

    if is_ascii:
        charmap, table = _langid_ascii_table()
        m = charmap[codes]
        k = m[2:].astype(np.int32)
        np.left_shift(k, 6, out=k)
        k |= m[1:-1]
        np.left_shift(k, 6, out=k)
        k |= m[:-2]
        rows = table[k]
        vpos = np.nonzero(rows >= 0)[0]
        return vpos, rows[vpos]
    a, b, c = codes[:-2], codes[1:-1], codes[2:]
    packed = np.left_shift(c, 42)
    packed |= np.left_shift(b, 21)
    packed |= a
    idx = np.searchsorted(keys, packed)
    np.minimum(idx, len(keys) - 1, out=idx)
    vpos = np.nonzero(keys[idx] == packed)[0]
    return vpos, idx[vpos]


def _langid_numpy(texts: list) -> list[str]:
    """Vectorized language-ID over a batch of documents: one numpy
    pass instead of a per-char Python loop, bit-identical to
    ``_langid_scalar`` (integer arithmetic throughout).

    Batch layout: docs joined as NUL <doc> NUL SOH NUL <doc> NUL —
    lowercase and whitespace-collapse run ONCE over the joined buffer
    (neither touches NUL/SOH, and the ws class excludes them, so runs
    never cross a boundary; final-sigma context at boundaries matches
    the per-doc path because NUL is uncased like end-of-string).  In
    code space NUL becomes the pad space each doc needs, and SOH is
    the gap: no profile trigram contains SOH, so straddling windows
    score zero.  Texts that themselves contain NUL/SOH (never valid
    web text) take the per-doc fallback for the whole batch."""
    import numpy as np

    keys, _, nnz, row_ptr, lang_idx, w_val = _langid_tables()
    langs = TRIGRAM_LANGS
    n = len(langs)
    ndocs = len(texts)
    if ndocs == 0:
        return []
    safe = [(t or "") for t in texts]
    ws = _ws_re()
    is_ascii = False
    if any("\x00" in t or "\x01" in t for t in safe):
        # correctness-only fallback (NUL/SOH never appear in real
        # web text): per-doc normalization, generic int64 windows
        padded = [" " + ws.sub(" ", t.lower()) + " " for t in safe]
        big = "\x01".join(padded)
        codes = np.frombuffer(big.encode("utf-32-le"),
                              dtype="<u4").astype(np.int64)
        lens = np.fromiter((len(p) for p in padded),
                           dtype=np.int64, count=ndocs)
        starts = np.zeros(ndocs, dtype=np.int64)
        np.cumsum(lens[:-1] + 1, out=starts[1:])
    else:
        big = "\x00" + "\x00\x01\x00".join(safe) + "\x00"
        is_ascii = big.isascii()               # O(1): CPython flag
        if is_ascii:
            # bytes path: one translate (A-Z -> a-z, every ws-class
            # byte -> space) + one run-collapse sub — C speed, no
            # per-doc Python and no 4-byte/char UTF-32 blowup
            bb = big.encode("ascii").translate(_ascii_norm_table())
            bb = _MULTISPACE_RE.sub(b" ", bb)
            codes = np.frombuffer(bb, dtype=np.uint8).copy()
        else:
            big = ws.sub(" ", big.lower())
            codes = np.frombuffer(big.encode("utf-32-le"),
                                  dtype="<u4").astype(np.int64)
        np.place(codes, codes == 0, 32)        # NUL -> pad space
        starts = np.zeros(ndocs, dtype=np.int64)
        starts[1:] = np.nonzero(codes == 1)[0] + 1
    if len(codes) < 3:
        return ["unknown"] * ndocs
    vpos, vrow = _trigram_rows(codes, keys, is_ascii)
    if len(vrow) == 0:
        return ["unknown"] * ndocs
    # Scoring: expand each matched window through the CSR weight rows
    # (~1.3 nonzero languages per trigram) and accumulate with ONE
    # flat bincount keyed doc*n + lang.  float64 weights are exact
    # for these integer magnitudes (per-doc sums << 2^53), so the
    # result is bit-identical to the scalar integer loop.
    seg = np.searchsorted(starts, vpos, side="right") - 1
    cnt = nnz[vrow]
    total = int(cnt.sum())
    csum = np.zeros(len(cnt), dtype=np.int64)
    np.cumsum(cnt[:-1], out=csum[1:])
    flat = np.repeat(row_ptr[vrow] - csum, cnt) + np.arange(total)
    scores = np.bincount(
        np.repeat(seg * n, cnt) + lang_idx[flat],
        weights=w_val[flat], minlength=ndocs * n
    ).reshape(ndocs, n).astype(np.int64)
    best = scores.max(axis=1)
    arg = scores.argmax(axis=1)   # first max == TRIGRAM_LANGS order
    return [langs[a] if b > 0 else "unknown"
            for a, b in zip(arg, best)]


def _langid_scalar(texts: list) -> list[str]:
    """The original per-char scalar loop, kept as the A/B oracle for
    ``_langid_numpy`` (tests/test_functions.py pins bit-equality on
    adversarial and fuzzed inputs)."""
    import re as _re

    profs = trigram_profiles()
    langs = TRIGRAM_LANGS
    n = len(langs)
    combined: dict[str, list[int]] = {}
    for li, lang in enumerate(langs):
        for tri, w in profs[lang].items():
            combined.setdefault(tri, [0] * n)[li] = w
    ws = _re.compile(r"[ \t\n\x0b\f\r]+")
    get = combined.get
    preds = []
    for text in texts:
        p = " " + ws.sub(" ", (text or "").lower()) + " "
        scores = [0] * n
        for i in range(len(p) - 2):
            v = get(p[i:i + 3])
            if v is not None:
                for j in range(n):
                    scores[j] += v[j]
        best = max(scores)
        preds.append(langs[scores.index(best)]
                     if best > 0 else "unknown")
    return preds


def with_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-trigram language-ID (Cavnar-Trenkle out-of-place
    profiles, integer-scaled): every doc trigram occurrence scores
    its language-profile weight; argmax wins, tie-broken by
    TRIGRAM_LANGS order; all-zero scores -> 'unknown'.  Handles
    zh/ja/ko (no whitespace tokens) because trigrams are
    character-level.

    One ``mapInArrow`` pass runs ``_langid_numpy`` over each batch:
    no shuffle and no per-trigram rows.  Every column of ``df``
    passes through unchanged and ``lang_pred`` is appended (replacing
    a column of that name).  Whitespace collapse uses the ASCII class
    [ \\t\\n\\x0b\\f\\r] — exactly Java regex / RE2 ``\\s`` — so
    the kernel and the DuckDB oracle normalize identically."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StringType, StructField, StructType

    from .similarity import _typed_batch

    df = df.drop("lang_pred")
    out_schema = StructType(df.schema.fields
                            + [StructField("lang_pred", StringType(),
                                           True)])
    arrow_schema = to_arrow_schema(out_schema)
    ti = df.columns.index(text_col)

    def batches(it):
        for rb in it:
            yield _typed_batch(
                arrow_schema, *rb.columns,
                _langid_numpy(rb.column(ti).to_pylist()))

    return df.mapInArrow(batches, out_schema)


# BPE-ish pre-tokenization pattern (GPT-2 style, lookahead-free so
# both Java regex and RE2/DuckDB agree): a token is an optional
# leading space plus a run of letters, digits, or other non-space
# symbols.  Counting these approximates subword-tokenizer token
# counts far better than whitespace splitting on punctuation-dense
# web text.
BPE_TOKEN_RE = r" ?\p{L}+| ?\p{N}+| ?[^\p{L}\p{N} ]+"


def with_bpe_token_count(df: DataFrame,
                         text_col: str = "text") -> DataFrame:
    """Token count under the BPE-ish pre-tokenizer regex — one
    JVM-side regexp_extract_all, no Python."""
    toks = F.regexp_extract_all(
        F.regexp_replace(F.col(text_col), r"\s+", " "),
        F.lit(BPE_TOKEN_RE), 0)
    return df.withColumn("n_bpe_tokens", F.size(toks))


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality features, integer-scaled (per-mille) so every engine
    computes identical values:

    * ``q_n_chars`` / ``q_n_tokens``
    * ``q_mean_token_len_pm``  — 1000 * chars-in-tokens / tokens
    * ``q_stopword_pm``        — 1000 * english-stopword hits / tokens
    * ``q_alpha_pm``           — 1000 * [a-z] chars / chars
    * ``q_score_pm``           — composite gate used for filtering
    """
    toks = tokens_col(text_col)
    n_chars = F.length(F.col(text_col)).cast("bigint")
    n_tokens = F.size(toks).cast("bigint")
    tok_chars = F.aggregate(toks, F.lit(0).cast("bigint"),
                            lambda acc, t: acc + F.length(t))
    stop_hits = _stopword_hits(toks, STOPWORDS["en"]).cast("bigint")
    alpha = F.length(F.regexp_replace(F.lower(F.col(text_col)),
                                      "[^a-z]", "")).cast("bigint")
    # floor() is mirrored in the oracle SQL (DuckDB CAST rounds, so
    # an explicit floor keeps both engines identical)
    pm = lambda num, den: F.floor(  # noqa: E731
        (num * 1000) / F.greatest(den, F.lit(1))).cast("bigint")
    out = (df.withColumn("q_n_chars", n_chars)
             .withColumn("q_n_tokens", n_tokens)
             .withColumn("q_mean_token_len_pm", pm(tok_chars, n_tokens))
             .withColumn("q_stopword_pm", pm(stop_hits, n_tokens))
             .withColumn("q_alpha_pm", pm(alpha, n_chars)))
    score = (F.col("q_alpha_pm") + F.col("q_stopword_pm")
             + F.least(F.col("q_n_tokens"), F.lit(100)) * 10)
    return out.withColumn("q_score_pm", score.cast("bigint"))
