"""URL normalization corner cases, pattern-filter Python-re semantics,
chunker branch coverage, md_clean bug-for-bug behavior, and the
text-features kernel against its Column-expression oracle."""

from hypothesis import Phase, given, settings
from hypothesis import strategies as st

from eget_crawler_for_overflow_spark.functions.text import clean_markdown
from eget_crawler_for_overflow_spark.functions.urls import (
    extract_links,
    normalize_url,
)
from eget_crawler_for_overflow_spark.operators.chunker import (
    chunk_markdown,
    sentence_chunks,
)

BASE = "https://a.example/x/y"


def test_normalize_reference_semantics():
    # urljoin + strip fragment/params/query (link_extractor.py:48-67)
    assert normalize_url("b", BASE) == "https://a.example/x/b"
    assert normalize_url("/b", BASE) == "https://a.example/b"
    assert normalize_url("../b", BASE) == "https://a.example/b"
    assert normalize_url("#frag", BASE) == BASE
    assert normalize_url("?q=1", BASE) == BASE
    assert normalize_url("//other.example/z", BASE) == "https://other.example/z"
    assert normalize_url("https://b.example/p?x=1#y", BASE) == "https://b.example/p"
    assert normalize_url("mailto:a@b.c", BASE) == "mailto:a@b.c"
    assert normalize_url("javascript:void(0)", BASE) == "javascript:void(0)"


def test_extract_links_filters_and_order():
    html = (
        '<a href="/one">1</a><a href="#top">t</a><a href="https://b.example/z">x</a>'
        '<a href="/one#dup">d</a><a href="mailto:m@x.y">m</a><a href="/two">2</a>'
    )
    links = extract_links(html, "https://a.example/p")
    assert links == [
        "https://a.example/one",
        "https://a.example/p",
        "https://a.example/two",
    ]


def test_extract_links_patterns_python_re():
    import re

    html = '<a href="/Blog/A">a</a><a href="/blog/b">b</a><a href="/api/c">c</a>'
    links = extract_links(
        html,
        "https://a.example/",
        exclude=[re.compile(r"/api/")],
        include=[re.compile(r"(?i)/blog/")],  # inline flag: Python-re-only
    )
    assert links == ["https://a.example/Blog/A", "https://a.example/blog/b"]


# ---------------------------------------------------------------------------
# chunker (reference semantic_chunker.py quirks)
# ---------------------------------------------------------------------------


def test_chunker_preamble_only_emitted_when_header_found():
    # preamble becomes a chunk when a header follows (:90-96)
    md = "intro text\nmore intro\n\n# H\n\nbody here\n"
    chunks = chunk_markdown(md)
    assert chunks[0]["content"] == "intro text\nmore intro"
    assert [c["position"] for c in chunks] == list(range(len(chunks)))
    # without any header, everything stays preamble and nothing is emitted
    assert chunk_markdown("no headers at all\njust text\n") == []


def test_chunker_blank_lines_do_not_flush():
    # blank-line elif is dead code (:101-110): paragraphs coalesce
    md = "# H\n\npara one\n\npara two\n"
    chunks = chunk_markdown(md)
    assert len(chunks) == 1
    assert chunks[0]["content"] == "para one\n\npara two"


def test_chunker_code_fence_swallows_pending_content():
    md = "# H\n\nlead\n\n```js\nlet x;\n```\n"
    chunks = chunk_markdown(md)
    assert len(chunks) == 1
    c = chunks[0]
    assert c["type"] == "code"
    assert c["code_language"] == "js"
    assert c["content"] == "lead\n\n```js\nlet x;\n```"


def test_chunker_type_heuristics_and_flags():
    md = "# H\n\n- a\n- b\n"
    assert chunk_markdown(md)[0]["type"] == "list"
    md = "# H\n\n| a | b |\n|---|---|\n| 1 | 2 |\n"
    assert chunk_markdown(md)[0]["type"] == "table"
    md = "# H\n\n" + "w " * 1501 + "\n"
    c = chunk_markdown(md)[0]
    assert c["needs_split"] and not c["needs_merge"]
    md = "# H\n\nshort\n"
    c = chunk_markdown(md)[0]
    assert c["needs_merge"] and not c["needs_split"]


def test_sentence_chunker_packs_and_overlaps():
    text = " ".join(f"Sentence number {i} is here." for i in range(200))
    chunks = sentence_chunks(text, chunk_size=50, overlap=5)
    assert len(chunks) > 1
    assert all(c["token_count"] <= 60 for c in chunks)
    assert [c["position"] for c in chunks] == list(range(len(chunks)))


# ---------------------------------------------------------------------------
# md_clean (chunk_service.py:27-64, bug-for-bug)
# ---------------------------------------------------------------------------


def test_md_clean_reference_chain():
    # \s+ collapse destroys newlines BEFORE the newline fixes (SURVEY §2.3)
    assert clean_markdown("a\n\n\n\nb") == "a b"
    assert clean_markdown("##Header") == "## Header"
    assert clean_markdown("x <!-- hidden --> y") == "x  y"
    assert clean_markdown("a&nbsp;b\xa0c") == "a b c"
    assert clean_markdown("line   \t end") == "line end"


def test_lang_id_top20_matrix(spark):
    """lang_id over the widened 20-language stopword matrix: each language
    detected from a sentence of its own function words; tie-break by
    language-code order; no markers -> 'und'."""
    from pyspark.sql import functions as F

    from eget_crawler_for_overflow_spark.functions.text import (
        LANG_MARKERS,
        lang_id,
    )

    assert len(LANG_MARKERS) == 20
    rows = [(lang, " ".join(ms)) for lang, ms in LANG_MARKERS.items()]
    rows.append(("und", "zzz qqq xxx"))
    df = spark.createDataFrame(rows, "expected string, text string")
    got = {
        r["expected"]: r["pred"]
        for r in df.select(
            "expected", lang_id(F.col("text")).alias("pred")
        ).collect()
    }
    assert got["und"] == "und"
    assert got["en"] == "en" and got["ru"] == "ru" and got["zh"] == "zh"

    # true differential: replicate the scoring contract in Python
    # (marker-token count per language, argmax, alphabetical tie-break,
    # all-zero -> 'und') and require the engine to match it EXACTLY for
    # every language's own marker sentence — overlapping stopword sets
    # (da/no/sv, ru/uk) tie-break deterministically, not arbitrarily
    def expected_pred(text):
        toks = text.lower().split()
        scores = {
            lang: sum(toks.count(m) for m in ms)
            for lang, ms in LANG_MARKERS.items()
        }
        best = max(sorted(scores), key=lambda lg: scores[lg])
        return best if scores[best] > 0 else "und"

    for lang, ms in LANG_MARKERS.items():
        assert got[lang] == expected_pred(" ".join(ms)), (lang, got[lang])


def test_lang_id_zh_ja_unsegmented(spark):
    """zh/ja character-bigram path (VERDICT r3 item 8): UNSEGMENTED text in
    non-space-delimited scripts must fire (the whitespace-token matrix
    never can), and the engine must match the DuckDB oracle — both sides
    generated from the same single-sourced marker matrices."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from eget_crawler_for_overflow_spark.functions.text import lang_id
    from eget_crawler_for_overflow_spark.oracles import ORACLES

    rows = [
        (0, "これはテストです。日本語の文章ですが、単語の区切りはありません。そして続きます。"),
        (1, "我们今天去公园，这个地方没有什么人，他们自己可以决定。"),
        (2, "the quick brown fox and the lazy dog is in the yard"),
        (3, "zzz qqq"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["lang_pred"]
        for r in df.select(
            "doc_id", lang_id(F.col("text")).alias("lang_pred")
        ).collect()
    }
    assert got[0] == "ja" and got[1] == "zh"
    assert got[2] == "en" and got[3] == "und"
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = dict(con.execute(ORACLES["lang_id"]).fetchall())
    assert got == want


def test_lang_id_short_text_and_mixed_script(spark):
    """VERDICT r4 item 8: short real-world zh/ja texts (titles, tweets)
    must score >0 via the single-char function markers, and kanji shared
    between the scripts must not flip Japanese text to zh (kana markers
    dominate). Engine stays value-exact vs the generated oracle."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from eget_crawler_for_overflow_spark.functions.text import lang_id
    from eget_crawler_for_overflow_spark.oracles import ORACLES

    rows = [
        (0, "日本語のページ"),                      # ja title: particle の only
        (1, "今天的天气"),                          # zh title: particle 的 only
        (2, "自己の目的を持つことが大事です"),      # ja with zh-marker kanji 自己/的
        (3, "他们在公园里"),                        # zh tweet-length
        (4, "猫"),                                  # single CJK char, no marker
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["lang_pred"]
        for r in df.select(
            "doc_id", lang_id(F.col("text")).alias("lang_pred")
        ).collect()
    }
    assert got[0] == "ja" and got[1] == "zh"
    assert got[2] == "ja"  # mixed-script tie-break: kana beat stray kanji
    assert got[3] == "zh" and got[4] == "und"
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = dict(con.execute(ORACLES["lang_id"]).fetchall())
    assert got == want


# ---------------------------------------------------------------------------
# text_features_udf against the Column-expression forms it replaced: the
# Catalyst-lambda lang_id / quality scoring, kept here as the differential
# oracle (Spark's own split/lower/replace semantics, row by row).
# ---------------------------------------------------------------------------


def _oracle_lang_id(text_col):
    from pyspark.sql import functions as F

    from eget_crawler_for_overflow_spark.functions.text import (
        LANG_CHAR_MARKERS,
        LANG_MARKERS,
    )

    def score(lang):
        words = F.split(F.lower(text_col), r"\s+")
        s = F.lit(0)
        for marker in LANG_MARKERS[lang]:
            s = s + F.size(F.filter(words, lambda w: w == F.lit(marker)))
        for m in LANG_CHAR_MARKERS.get(lang, ()):
            occ = (
                F.length(text_col)
                - F.length(F.replace(text_col, F.lit(m), F.lit("")))
            ) / F.lit(len(m))
            s = s + occ.cast("int")
        return s

    pairs = [
        F.struct(score(lang).alias("score"), F.lit(lang).alias("lang"))
        for lang in sorted(LANG_MARKERS)
    ]
    best = F.aggregate(
        F.array(*pairs),
        F.struct(F.lit(-1).alias("score"), F.lit("und").alias("lang")),
        lambda acc, x: F.when(x["score"] > acc["score"], x).otherwise(acc),
    )
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def _oracle_quality(text_col):
    """(n_words, n_stopwords, quality_bucket) as Column expressions."""
    from pyspark.sql import functions as F

    words = F.split(text_col, r"\s+")
    stop = F.array(*[F.lit(w) for w in ("the", "a", "and", "of", "to", "is", "in")])
    n_words = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop, F.lower(w))))
    bucket = (
        F.when((n_words >= 20) & (n_stop * 100 >= n_words * 5), F.lit(2))
        .when(n_words >= 5, F.lit(1))
        .otherwise(F.lit(0))
    )
    return n_words, n_stop, bucket


_FEATURES = ("lang", "n_words", "n_stopwords", "quality_bucket")


def _kernel_vs_oracle(spark, texts):
    """Rows (i, text, kernel features, oracle features) that disagree."""
    from pyspark.sql import functions as F

    from eget_crawler_for_overflow_spark.functions.text import (
        lang_id,
        quality_features,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    t = F.col("text")
    oracle = [_oracle_lang_id(t), *_oracle_quality(t)]
    rows = df.select(
        "i",
        "text",
        lang_id(t).alias("lang"),
        *quality_features(t),
        *[c.alias("o_" + name) for c, name in zip(oracle, _FEATURES)],
    ).collect()
    assert len(rows) == len(texts)
    out = []
    for r in rows:
        got = tuple(r[c] for c in _FEATURES)
        want = tuple(r["o_" + c] for c in _FEATURES)
        if got != want:
            out.append((r["i"], r["text"], got, want))
    return out


HOSTILE_TEXTS = [
    None,
    "",
    "   ",
    "\x0b\f",
    "  the cat and the dog  ",
    "\tthe\nof\rto\x0bis\fin ",
    # whitespace to Python's \s but not to Java's: no split, one word
    "the\x1cand\x1dof\x1eto\x1fis",
    "the\x85and\xa0of\u2028to\u2029in \u3000 the",
    # case folds: U+0130 lowers to two chars, final sigma, sharp s, ligatures
    "İn İS THE İ the",
    "ΣΑΣ ΟΔΟΣ the Σ",
    "ẞ ß STRASSE der DIE",
    "ﬁ ﬂ ﬀ the of and",
    "\u212a the \u0131s is",
    # all-caps markers
    "THE AND OF TO IS IN THAT IT",
    "DER DIE UND DAS IST NICHT MIT EIN",
    "И В НЕ НА ЧТО С КАК ЭТО",
    # repeated zh/ja char markers: non-overlapping counts
    "のの",
    "ですです",
    "ですですです のののの",
    "的的的 我们们 我们我们",
    "日本語のページ 今天的天气",
    "the 的 の and です 是",
    # ties between languages: code order decides
    "de la",
    "og det",
    "в не",
    "la",
    "det",
    # quality bucket boundaries
    " ".join(["w"] * 4),
    " ".join(["w"] * 5),
    " ".join(["w"] * 19 + ["the"]),
    " ".join(["w"] * 20),
    " ".join(["w"] * 39 + ["The"]),
    " ".join(["w"] * 40 + ["the"]),
]


def test_text_features_kernel_matches_column_form_on_hostile_input(spark):
    assert _kernel_vs_oracle(spark, HOSTILE_TEXTS) == []


def test_text_features_null_and_empty():
    """Null text keeps what the Column form gives under ANSI (size(NULL)
    is NULL): lang 'und', bucket 0, null word counts."""
    from eget_crawler_for_overflow_spark.functions.text import page_text_features

    assert page_text_features(None) == ("und", None, None, 0)
    assert page_text_features("") == ("und", 1, 0, 0)
    assert page_text_features(" the ") == ("en", 3, 1, 0)


_MIXED_PIECES = [
    "the", "THE", "and", "de", "la", "og", "det", "и", "В", "的", "の", "です",
    "我们", "İ", "Σ", "ß", "ﬁ", "x", "abc", "日本", "ある", "ない",
]
_SEPS = [" ", "  ", "\t", "\n", "\x0b", "\f", "\r", "\xa0", "\x85",
         "\x1c", "\u2028", "\u3000", ""]


# no shrink phase: every example is a Spark query, and the assertion already
# names the disagreeing rows
@settings(
    max_examples=8,
    deadline=None,
    phases=(Phase.explicit, Phase.reuse, Phase.generate),
)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(st.sampled_from(_MIXED_PIECES), st.sampled_from(_SEPS)),
                max_size=60,
            ).map("".join),
            st.text(max_size=30),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_text_features_kernel_matches_column_form_mixed_script(spark, texts):
    assert _kernel_vs_oracle(spark, texts) == []
