"""Batch /scrape envelope (operators/scrape.py): per-row options, the
ScrapeData response shape, the error envelope for fetch misses, and the
cleaned-HTML serializer.

Reference: api/v1/endpoints/scraper.py (options dict), models/request.py
(ScrapeRequest), models/response.py (ScrapeData), scraper.py:773-855
(success/error envelope assembly).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from eget_crawler_for_overflow_spark import pagemodel as pm
from eget_crawler_for_overflow_spark.fixtures import load_pages
from eget_crawler_for_overflow_spark.functions.extract import (
    extract_page,
    make_scrape_udf,
)
from eget_crawler_for_overflow_spark.functions.htmllib import parse_html, to_html
from eget_crawler_for_overflow_spark.operators.scrape import scrape_batch


def _requests(spark, pages, **opts):
    req = pages.select("url")
    for k, v in opts.items():
        req = req.withColumn(k, v)
    return req


# ---------------------------------------------------------------------------
# serializer
# ---------------------------------------------------------------------------


def _merged_children(n):
    """Children with consecutive text nodes coalesced (parsers may split
    text at entity boundaries; the split is not semantically meaningful)."""
    out = []
    for c in n.children:
        if c.is_text:
            if not c.text_content:
                continue
            if out and isinstance(out[-1], str):
                out[-1] += c.text_content
            else:
                out.append(c.text_content)
        else:
            out.append(c)
    return out


def _tree_equal(a, b) -> bool:
    if a.is_text != b.is_text:
        return False
    if a.is_text:
        return a.text_content == b.text_content
    if a.tag != b.tag or dict(a.attrs) != dict(b.attrs):
        return False
    ka, kb = _merged_children(a), _merged_children(b)
    if len(ka) != len(kb):
        return False
    for x, y in zip(ka, kb):
        if isinstance(x, str) or isinstance(y, str):
            if x != y:
                return False
        elif not _tree_equal(x, y):
            return False
    return True


def test_to_html_roundtrip_on_corpus(spark, sf001):
    rows = load_pages(spark, sf001).select("html").limit(40).collect()
    for r in rows:
        t1 = parse_html(bytes(r.html).decode("utf-8"))
        s1 = to_html(t1)
        t2 = parse_html(s1)
        assert _tree_equal(t1, t2)
        # serialization is deterministic / idempotent through a reparse
        assert to_html(t2) == s1


def test_to_html_escaping_and_void_elements():
    t = parse_html('<p title="a&quot;b">x &amp; y &lt;z&gt;<br><img src="u"></p>')
    s = to_html(t)
    assert "x &amp; y &lt;z&gt;" in s
    assert 'title="a&quot;b"' in s
    assert "<br>" in s and "</br>" not in s
    assert '<img src="u">' in s and "</img>" not in s
    t2 = parse_html(s)
    assert _tree_equal(t, t2)


# ---------------------------------------------------------------------------
# per-row options == the per-job bound variants
# ---------------------------------------------------------------------------


def test_per_row_options_match_per_job_udfs(spark, sf001):
    pages = load_pages(spark, sf001).limit(60).cache()

    # default options == make_scrape_udf() defaults (onlyMainContent=True)
    out = scrape_batch(pages.select("url"), pages)
    base = pages.select(
        "url", make_scrape_udf()(F.col("html")).alias("md")
    )
    j = out.join(base, "url").select("markdown", "md").collect()
    assert j and all(r.markdown == r.md for r in j)

    # only_main_content=False per row == make_scrape_udf(only_main=False)
    req = _requests(spark, pages, only_main_content=F.lit(False))
    out = scrape_batch(req, pages)
    off = pages.select(
        "url", make_scrape_udf(only_main=False)(F.col("html")).alias("md")
    )
    j = out.join(off, "url").select("markdown", "md").collect()
    assert j and all(r.markdown == r.md for r in j)

    # per-row include/exclude tags == the bound variants
    req = _requests(
        spark,
        pages,
        include_tags=F.array(F.lit("h1"), F.lit("h2")),
    )
    out = scrape_batch(req, pages)
    inc = pages.select(
        "url",
        make_scrape_udf(include_tags=["h1", "h2"])(F.col("html")).alias("md"),
    )
    j = out.join(inc, "url").select("markdown", "md").collect()
    assert j and all(r.markdown == r.md for r in j)

    req = _requests(
        spark,
        pages,
        exclude_tags=F.array(F.lit("pre"), F.lit("ul"), F.lit("table")),
    )
    out = scrape_batch(req, pages)
    exc = pages.select(
        "url",
        make_scrape_udf(exclude_tags=["pre", "ul", "table"])(
            F.col("html")
        ).alias("md"),
    )
    j = out.join(exc, "url").select("markdown", "md").collect()
    assert j and all(r.markdown == r.md for r in j)
    pages.unpersist()


def test_mixed_options_in_one_batch(spark, sf001):
    """Rows with different options in the SAME batch each get their own
    treatment — the point of the per-row surface."""
    pages = load_pages(spark, sf001).limit(40)
    i_expr = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("int")
    req = pages.select(
        "url",
        (i_expr % 2 == 0).alias("only_main_content"),
        F.when(i_expr % 3 == 0, F.array(F.lit("h1"))).alias("include_tags"),
    )
    out = scrape_batch(req, pages).collect()
    raw = {
        r.url: bytes(r.html).decode("utf-8")
        for r in pages.select("url", "html").collect()
    }
    assert out
    for r in out:
        i = int(r.url.rsplit("/p/", 1)[1])
        expected = extract_page(
            raw[r.url],
            only_main=(i % 2 == 0),
            include_tags=["h1"] if i % 3 == 0 else None,
        )["markdown"]
        assert r.markdown == expected, r.url


# ---------------------------------------------------------------------------
# envelope shape
# ---------------------------------------------------------------------------


def test_envelope_success_fields(spark, sf001):
    pages = load_pages(spark, sf001).limit(30).cache()
    req = _requests(
        spark,
        pages,
        include_raw_html=F.lit(True),
        include_screenshot=F.lit(True),
    )
    rows = scrape_batch(req, pages).collect()
    raw = {
        r.url: bytes(r.html).decode("utf-8")
        for r in pages.select("url", "html").collect()
    }
    assert rows
    for r in rows:
        assert r.success is True
        assert r.status_code == 200
        assert r.error is None
        assert r.source_url == r.url
        # rawHtml echoes the exact fetched bytes when requested
        assert r.raw_html == raw[r.url]
        # screenshot/actions: ALWAYS null in batch (reference shape when
        # capture fails, scraper.py:451-459) + explicit warning
        assert r.screenshot is None
        assert r.actions_screenshots is None
        assert r.warning is not None and "screenshot" in r.warning
        # llm_extraction: declared by the reference model, never populated
        assert r.llm_extraction is None
        # cleaned html serializes the SAME content markdown came from
        assert r.html and r.markdown
        i = int(r.url.rsplit("/p/", 1)[1])
        assert f"<h1>Doc {i}</h1>" in r.html
        assert "<script" not in r.html and "<nav" not in r.html
        assert r.links  # resolved raw-page anchors, document order
    pages.unpersist()


def test_envelope_raw_html_off_by_default(spark, sf001):
    pages = load_pages(spark, sf001).limit(10)
    rows = scrape_batch(pages.select("url"), pages).collect()
    for r in rows:
        assert r.raw_html is None
        assert r.warning is None  # no screenshot requested -> no warning


def test_links_match_links_all_model(spark, sf001):
    n_pages, n_hosts = pm.sizing(sf001)
    pages = load_pages(spark, sf001).limit(25)
    rows = scrape_batch(pages.select("url"), pages).collect()
    for r in rows:
        i = int(r.url.rsplit("/p/", 1)[1])
        assert list(r.links) == pm.expected_links_all(i, n_pages, n_hosts)


def test_miss_rows_get_reference_error_envelope(spark, sf001):
    pages = load_pages(spark, sf001)
    req = spark.createDataFrame(
        [("https://host0.example/nav",), ("https://host1.example/nav",)],
        "url string",
    )
    rows = scrape_batch(req, pages).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.success is False
        assert r.status_code == 500
        # error == warning == str(e), every data field null
        # (scraper.py:773-797)
        assert r.error and r.error == r.warning
        assert r.url in r.error
        assert r.markdown is None and r.html is None and r.raw_html is None
        assert r.links is None and r.screenshot is None
        assert r.title is None and r.language is None
        assert r.source_url == r.url


def test_mixed_hits_and_misses_in_one_batch(spark, sf001):
    """A batch mixing resolvable and unresolvable urls yields per-row
    success/error envelopes — one row's failure never fails the job (the
    reference catches per-scrape exceptions, scraper.py:773)."""
    pages = load_pages(spark, sf001).limit(5)
    req = pages.select("url").withColumn("include_tags", F.array(F.lit("h1")))
    bad = spark.createDataFrame(
        [("https://host0.example/nav",)], "url string"
    ).withColumn("include_tags", F.array(F.lit("h1")))
    rows = scrape_batch(req.unionByName(bad), pages).collect()
    misses = [r for r in rows if not r.success]
    hits = [r for r in rows if r.success]
    assert len(misses) == 1 and len(hits) == 5
    for r in hits:
        i = int(r.url.rsplit("/p/", 1)[1])
        assert r.markdown == f"# Doc {i}\n"


def test_requests_broadcast_pages_never_shuffled(spark, sf001):
    """Plan shape: with broadcast_requests=True the pages side is scanned
    and broadcast-joined — no Exchange on the pages scan (the J3 shape)."""
    from eget_crawler_for_overflow_spark.plans.explain import plan_text

    pages = load_pages(spark, sf001)
    out = scrape_batch(pages.select("url").limit(50), pages)
    plan = plan_text(out)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_scrape_batch_bucketed_pages_no_exchange(spark, sf001):
    """100 TB shape for huge request sets: broadcast_requests=False over a
    url-bucketed pages table must read pages straight from its buckets —
    exactly one Exchange (the requests side), never a pages shuffle
    (the same storage-partitioned shape as the crawl fetch join)."""
    import re as _re

    from eget_crawler_for_overflow_spark.plans.explain import plan_text

    pages = load_pages(spark, sf001)
    tbl = "pages_bucketed_scrape_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        pages.select("url", "html")
        .repartition(8, F.col("url"))
        .write.bucketBy(8, "url")
        .sortBy("url")
        .mode("overwrite")
        .saveAsTable(tbl)
    )
    req = spark.range(200).select(
        F.concat(F.lit("https://host0.example/p/"), F.col("id")).alias("url")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = scrape_batch(req, spark.table(tbl), broadcast_requests=False)
        txt = plan_text(out)
        assert "Bucketed: true" in txt, txt
        shuffles = _re.findall(r"\(\d+\) Exchange\b", txt)
        assert len(shuffles) == 1, txt
        # join semantics intact: in-corpus urls succeed, others error
        rows = out.collect()
        ok = [r for r in rows if r.success]
        assert ok and all(r.status_code == 200 for r in ok)
        assert any(r.status_code == 500 for r in rows if not r.success)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


# ---------------------------------------------------------------------------
# fuzz: hostile inputs must always yield an envelope, never a crash
# ---------------------------------------------------------------------------


def test_null_option_flags_give_default_envelope_without_warnings():
    """Nullable booleans arrive from Arrow as object dtype holding None:
    a null includeRawHtml / includeScreenshot means False, and mapping it
    must not trip pandas' object-dtype downcasting warning."""
    import warnings

    from eget_crawler_for_overflow_spark.functions.extract import scrape_envelope_udf

    html = pd.Series([b"<html><head><title>T</title></head><body><p>hi</p></body></html>"])
    url = pd.Series(["https://h.example/x"])
    nulls = pd.Series([None], dtype=object)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = scrape_envelope_udf.func(html, url, nulls, nulls, nulls, nulls, nulls)
    want = scrape_envelope_udf.func(
        html, url, pd.Series([True]), nulls, nulls,
        pd.Series([False]), pd.Series([False]),
    )
    pd.testing.assert_frame_equal(got, want)
    assert got["success"][0] and got["raw_html"][0] is None
    assert got["warning"][0] is None


def test_scrape_one_never_raises_on_hostile_inputs():
    """Driver-side fuzz of the per-row worker: arbitrary tag soup, raw
    binary, and hostile option values must produce a success or error
    envelope — _scrape_one is the reference's per-scrape try/except
    (scraper.py:773) and a raise here would kill a whole Arrow batch."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from eget_crawler_for_overflow_spark.functions.extract import (
        SCRAPE_DATA_SCHEMA,
        _scrape_one,
    )

    names = set(f.name for f in SCRAPE_DATA_SCHEMA.fields)

    payload = st.one_of(
        st.binary(max_size=400),
        st.text(max_size=400).map(lambda s: s.encode("utf-8", "ignore")),
        st.none(),
    )
    tags = st.one_of(
        st.none(), st.lists(st.sampled_from(["h1", "pre", "", "  ", "ZZZ"]),
                            max_size=3)
    )

    @settings(max_examples=200, deadline=None)
    @given(payload, tags, tags, st.booleans(), st.booleans(),
           st.one_of(st.none(), st.booleans()))
    def run(html, inc, exc, raw, shot, om):
        r = _scrape_one(html, "https://h.example/x", om, inc, exc, raw, shot)
        assert set(r.keys()) == names
        assert r["success"] in (True, False)
        if r["success"]:
            assert r["status_code"] == 200 and r["markdown"] is not None
        else:
            assert r["status_code"] == 500 and r["error"] == r["warning"]

    run()


def test_scrape_roundtrip_serializer_on_tag_soup():
    """to_html(parse(x)) must reparse to an equal tree for arbitrary tag
    soup (same corpus shape as the parser fuzz suite)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    TAGS = ["div", "p", "a", "main", "span", "ul", "li", "h1", "pre",
            "code", "table", "tr", "td", "br", "img"]
    WORDS = ["alpha", "a b", "&amp;", "<", ">", '"q"', "x&y"]
    piece = st.one_of(
        st.sampled_from(WORDS),
        st.sampled_from(TAGS).map(lambda t: f"<{t}>"),
        st.sampled_from(TAGS).map(lambda t: f"</{t}>"),
        st.sampled_from(TAGS).map(lambda t: f'<{t} href="/p?a=1&b=2" alt="x<y">'),
    )
    soup = st.lists(piece, min_size=0, max_size=30).map("".join)

    @settings(max_examples=200, deadline=None)
    @given(soup)
    def run(html):
        t1 = parse_html(html)
        s1 = to_html(t1)
        t2 = parse_html(s1)
        assert _tree_equal(t1, t2), (html, s1)
        assert to_html(t2) == s1

    run()
