"""Property-based fuzz: the fast tokenizer must agree with stdlib
html.parser on the extraction surface for arbitrary tag soup."""

from hypothesis import given, settings
from hypothesis import strategies as st

from eget_crawler_for_overflow_spark.functions import extract as E
from eget_crawler_for_overflow_spark.functions.htmllib import (
    parse_html_fast,
    parse_html_stdlib,
)

TAGS = ["div", "p", "a", "main", "article", "span", "ul", "li", "h1", "h2",
        "pre", "code", "table", "tr", "td", "meta", "script", "nav", "em"]
WORDS = ["alpha", "beta", "gamma", "x", "1", "&amp;", "a b", "<", ">"]

piece = st.one_of(
    st.sampled_from(WORDS),
    st.sampled_from(TAGS).map(lambda t: f"<{t}>"),
    st.sampled_from(TAGS).map(lambda t: f"</{t}>"),
    st.sampled_from(TAGS).map(lambda t: f'<{t} id="i1" class="c-{t}">'),
    st.sampled_from(TAGS).map(
        lambda t: f'<{t} href="/p/{t}" content="v" name="n">'
    ),
    st.just("<!-- comment -->"),
    st.just("<!DOCTYPE html>"),
    st.just("<br/>"),
)

soup = st.lists(piece, min_size=0, max_size=40).map("".join)


@settings(max_examples=300, deadline=None)
@given(soup)
def test_fast_parser_matches_stdlib_on_tag_soup(html):
    fast = E._extract_from_root(parse_html_fast(html))
    slow = E._extract_from_root(parse_html_stdlib(html))
    assert fast == slow


md_piece = st.one_of(
    st.sampled_from(["# H", "## Sub", "text line", "", "- item", "| a | b |",
                     "|---|---|", "```", "```py", "print(x)", "   spaced"]),
)
md_soup = st.lists(md_piece, min_size=0, max_size=30).map("\n".join)


@settings(max_examples=200, deadline=None)
@given(md_soup)
def test_chunker_invariants_on_random_markdown(md):
    from eget_crawler_for_overflow_spark.operators.chunker import chunk_markdown

    chunks = chunk_markdown(md)
    # positions contiguous from 0
    assert [c["position"] for c in chunks] == list(range(len(chunks)))
    for c in chunks:
        # content is non-empty, stripped, with per-line rstrip applied
        assert c["content"] == "\n".join(
            line.rstrip() for line in c["content"].splitlines()
        ).strip()
        assert c["content"]
        assert c["word_count"] == len(c["content"].split())
        assert c["type"] in ("text", "header", "code", "list", "table")
        # chunking is deterministic
    assert chunks == chunk_markdown(md)


# U+0130 'İ' lowercases to two chars: rawtext close tags must still be found
# at the right offset after any number of them.
fold_piece = st.one_of(
    st.sampled_from(["İ", "İİİİİİİİİİİİ", "İstanbul", "ΣΑΣ", "ß", "ﬁ", "x", "a b"]),
    st.sampled_from(["<p>", "</p>", "<div>", "</div>", "<em>", "</em>"]),
    st.tuples(
        st.sampled_from(["script", "style", "textarea", "SCRIPT", "Style"]),
        st.sampled_from(["", "x", "a b", "İ", "var İ=1;", "p{}"]),
    ).map(lambda tb: f"<{tb[0]}>{tb[1]}</{tb[0]}>"),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(fold_piece, min_size=0, max_size=30).map("".join))
def test_fast_parser_rawtext_after_length_changing_case_fold(html):
    fast = E._extract_from_root(parse_html_fast(html))
    slow = E._extract_from_root(parse_html_stdlib(html))
    assert fast == slow
