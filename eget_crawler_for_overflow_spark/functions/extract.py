"""HTML → markdown / metadata / structured-data / links extraction.

From-scratch reimplementation of the reference's extraction semantics:

* content pipeline — metadata from the *full* document, then main-content
  swap, then element/attribute cleaning, then markdown conversion, in that
  exact order (/root/reference/services/scraper/scraper.py:177-198);
* main-content detection pattern order: ``main`` → ``article`` →
  ``div[id~content|main|article]`` → ``div[class~...]`` →
  ``div[role=main]`` → largest-text ``div``/``section``
  (scraper.py:155-175);
* cleaning: decompose script/style/iframe/nav/footer/noscript/meta/link,
  whitelist attrs href/src/alt/title (scraper.py:97-120);
* metadata: og:title → <title>; prioritized meta mappings
  (scraper.py:122-153);
* structured data: JSON-LD / OpenGraph / TwitterCard / other metas +
  language fallback chain (structured_data.py:8-143);
* links: all <a href>, urljoin+strip(fragment,params,query), same-domain,
  exclude/include regex (Python ``re`` — Java regex is NOT semantics-
  compatible), robots (link_extractor.py:42-126).

The markdown dialect is this engine's own (html2text is unavailable here);
it is pinned byte-exactly by pagemodel.expected_markdown and the pytest
golden suite — that pair is the "byte-identical extracted text per url"
contract of BASELINE.json.

Everything is exposed as Arrow-vectorized pandas UDFs; no per-row Python
ever crosses the JVM boundary row-at-a-time.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .htmllib import REMOVE_TAGS, Node, parse_html, to_html

# ---------------------------------------------------------------------------
# markdown conversion (this engine's pinned dialect)
# ---------------------------------------------------------------------------

_BLOCK_TAGS = frozenset(
    "h1 h2 h3 h4 h5 h6 p pre ul ol table blockquote hr div section article "
    "main header aside figure html head body".split()
)
_CONTAINER_TAGS = frozenset(
    "[document] html body div section article main header aside figure".split()
)
_HEADING_LEVEL = {f"h{i}": i for i in range(1, 7)}
_LANG_CLASS_RE = re.compile(r"language-([\w+-]+)")


def _inline_one(c: Node) -> str:
    """Render a single node (tag dispatch included) as inline markdown."""
    if c.is_text:
        return c.text_content
    t = c.tag
    if t == "a":
        return f"[{_inline(c)}]({c.get('href', '')})"
    if t == "code":
        return f"`{_inline(c)}`"
    if t in ("strong", "b"):
        return f"**{_inline(c)}**"
    if t in ("em", "i"):
        return f"*{_inline(c)}*"
    if t == "img":
        return f"![{c.get('alt', '')}]({c.get('src', '')})"
    if t == "br":
        return "\n"
    return _inline(c)


def _inline(node: Node) -> str:
    """Render a node's content as inline markdown."""
    if node.is_text:
        return node.text_content
    return "".join(_inline_one(c) for c in node.children)


def _table_md(node: Node) -> str:
    rows = node.find_all("tr")
    lines: list[str] = []
    for ri, tr in enumerate(rows):
        cells = [c for c in tr.children if not c.is_text and c.tag in ("th", "td")]
        texts = [_inline(c).strip() for c in cells]
        lines.append("| " + " | ".join(texts) + " |")
        if ri == 0 and cells and cells[0].tag == "th":
            lines.append("|" + "---|" * len(cells))
    return "\n".join(lines)


def _list_md(node: Node, ordered: bool) -> str:
    lines = []
    idx = 0
    for c in node.children:
        if c.is_text or c.tag != "li":
            continue
        idx += 1
        marker = f"{idx}. " if ordered else "- "
        lines.append(marker + _inline(c).strip())
    return "\n".join(lines)


def _pre_md(node: Node) -> str:
    code = node.find("code")
    lang = ""
    if code is not None:
        m = _LANG_CLASS_RE.search(code.get("class", "") or "")
        if m:
            lang = m.group(1)
        body = code.get_text()
    else:
        body = node.get_text()
    return f"```{lang}\n{body}\n```"


def _blocks(node: Node, out: list[str]) -> None:
    """Walk a container's children, emitting markdown blocks; consecutive
    inline content coalesces into one block."""
    pending: list[str] = []

    def flush() -> None:
        if pending:
            text = "".join(pending).strip()
            if text:
                out.append(text)
            pending.clear()

    for c in node.children:
        if c.is_text or c.tag not in _BLOCK_TAGS:
            pending.append(_inline_one(c))
            continue
        flush()
        t = c.tag
        if t in _HEADING_LEVEL:
            text = _inline(c).strip()
            out.append("#" * _HEADING_LEVEL[t] + " " + text)
        elif t == "p":
            text = _inline(c).strip()
            if text:
                out.append(text)
        elif t == "pre":
            out.append(_pre_md(c))
        elif t in ("ul", "ol"):
            md = _list_md(c, ordered=(t == "ol"))
            if md:
                out.append(md)
        elif t == "table":
            md = _table_md(c)
            if md:
                out.append(md)
        elif t == "blockquote":
            inner: list[str] = []
            _blocks(c, inner)
            out.append("\n".join("> " + line for b in inner for line in b.split("\n")))
        elif t == "hr":
            out.append("---")
        else:  # nested container
            _blocks(c, out)
    flush()


def to_markdown(node: Node) -> str:
    out: list[str] = []
    _blocks(node, out)
    return "\n\n".join(out) + "\n" if out else ""


# ---------------------------------------------------------------------------
# main-content detection + cleaning (scraper.py:97-175)
# ---------------------------------------------------------------------------

_CONTENT_RE = re.compile(r"content|main|article", re.I)


def find_main_content(root: Node) -> Node | None:
    n = root.find("main")
    if n is not None:
        return n
    n = root.find("article")
    if n is not None:
        return n
    n = root.find("div", pred=lambda x: bool(_CONTENT_RE.search(x.get("id") or "")))
    if n is not None:
        return n
    n = root.find("div", pred=lambda x: bool(_CONTENT_RE.search(x.get("class") or "")))
    if n is not None:
        return n
    n = root.find("div", pred=lambda x: x.get("role") == "main")
    if n is not None:
        return n
    containers = root.find_all(("div", "section"))
    if containers:
        return max(containers, key=lambda x: len(x.get_text()))
    return None


def clean_tree(node: Node) -> Node:
    node.decompose_all(REMOVE_TAGS)
    node.prune_attrs(("href", "src", "alt", "title"))
    return node


# ---------------------------------------------------------------------------
# metadata (scraper.py:122-153)
# ---------------------------------------------------------------------------

_META_MAPPINGS = {
    "description": ("description", "og:description"),
    "language": ("language", "og:locale"),
    "author": ("author", "article:author"),
    "published_date": ("article:published_time", "publisheddate"),
    "keywords": ("keywords",),
    "image": ("og:image",),
}


def extract_metadata(root: Node) -> dict[str, str]:
    metadata: dict[str, str] = {}
    og_title = root.find("meta", pred=lambda x: x.get("property") == "og:title")
    if og_title is not None:
        metadata["title"] = og_title.get("content", "") or ""
    else:
        title = root.find("title")
        if title is not None:
            metadata["title"] = title.get_text()
    for meta in root.find_all("meta"):
        name = meta.get("name") or meta.get("property")
        content = meta.get("content")
        if name and content:
            low = name.lower()
            for key, possible in _META_MAPPINGS.items():
                if low in possible:
                    metadata[key] = content.strip()
    return metadata


# ---------------------------------------------------------------------------
# structured data (structured_data.py:8-143)
# ---------------------------------------------------------------------------


def extract_language(root: Node) -> str:
    html_tag = root.find("html")
    if html_tag is not None and html_tag.get("lang"):
        return html_tag.get("lang").split("-")[0]
    for pred in (
        lambda x: x.get("http-equiv") == "content-language",
        lambda x: x.get("name") == "language",
        lambda x: x.get("property") == "og:locale",
    ):
        meta = root.find("meta", pred=pred)
        if meta is not None and meta.get("content"):
            lang = meta.get("content").split("_")[0]
            if lang:
                return lang
    return ""


def extract_structured(root: Node) -> dict:
    json_ld: list[str] = []
    for script in root.find_all(
        "script", pred=lambda x: x.get("type") == "application/ld+json"
    ):
        try:
            data = json.loads(script.get_text())
        except (json.JSONDecodeError, TypeError):
            continue  # invalid JSON-LD skipped (structured_data.py:49-50)
        json_ld.append(json.dumps(data, sort_keys=True, separators=(",", ":")))

    og: dict[str, str] = {}
    twitter: dict[str, str] = {}
    meta_data: dict[str, str] = {}
    for meta in root.find_all("meta"):
        prop = meta.get("property") or ""
        name_attr = meta.get("name") or ""
        content = meta.get("content")
        if content is None:
            continue
        if prop.startswith("og:"):
            key = prop[3:]
            if key:
                og[key] = content
        if name_attr.startswith("twitter:"):
            key = name_attr[8:]
            if key:
                twitter[key] = content
        name = name_attr or prop
        if name and not name.startswith(("og:", "twitter:")):
            meta_data[name] = content
    meta_data["language"] = extract_language(root) or ""
    return {
        "jsonLd": json_ld,
        "openGraph": og,
        "twitterCard": twitter,
        "metaData": meta_data,
    }


# ---------------------------------------------------------------------------
# full-page extraction bundle
# ---------------------------------------------------------------------------


def _collect_topmost(node: Node, tags: frozenset[str], out: list[Node]) -> None:
    """Document-order top-most nodes whose tag is in ``tags`` (a matched
    node's descendants are not re-collected)."""
    for c in node.children:
        if c.is_text:
            continue
        if c.tag in tags:
            out.append(c)
        else:
            _collect_topmost(c, tags, out)


def _extract_from_root(
    root: Node,
    only_main: bool = True,
    include_tags: list[str] | None = None,
    exclude_tags: list[str] | None = None,
    include_html: bool = False,
) -> dict:
    """Extraction bundle over an already-parsed tree (parse shared with
    link extraction in the crawl hot path). NOTE: mutates the tree (clean),
    so run any other tree readers before calling.

    Scrape options mirror the reference request surface
    (models/request.py:21-27): ``only_main`` is threaded exactly as
    scraper.py:177/811 does; ``includeTags``/``excludeTags`` are accepted
    by the reference API but never consumed (no reader anywhere in the
    codebase) — here they get the natural semantics: exclude_tags are
    decomposed before cleaning, include_tags restricts conversion to the
    top-most matching elements (documented extension beyond the
    reference's accepted-but-ignored fields)."""
    metadata = extract_metadata(root)  # full soup, BEFORE main swap
    structured = extract_structured(root)
    content: Node = root
    if only_main:
        main = find_main_content(root)
        if main is not None:
            content = main
    if exclude_tags:
        content.decompose_all(frozenset(exclude_tags))
    if include_tags:
        picked: list[Node] = []
        _collect_topmost(content, frozenset(include_tags), picked)
        wrapper = Node("div")
        for n in picked:
            wrapper.append(n)
        content = wrapper
    clean_tree(content)
    markdown = to_markdown(content)
    return {
        # cleaned-HTML serialization only when the caller asked for it:
        # the crawl hot path never pays the serializer (the reference's
        # extract_content always builds clean_html, scraper.py:188-192;
        # here the envelope UDF requests it, the bundle UDF does not)
        "html": to_html(content) if include_html else None,
        "markdown": markdown,
        "title": metadata.get("title", ""),
        "description": metadata.get("description", ""),
        "language": structured["metaData"]["language"],
        "metadata": metadata,  # full T4 mapping (author/keywords/image/...)
        "open_graph": structured["openGraph"],
        "twitter_card": structured["twitterCard"],
        "meta_data": structured["metaData"],
        "json_ld": structured["jsonLd"],
    }


def extract_page(
    html: str,
    only_main: bool = True,
    include_tags: list[str] | None = None,
    exclude_tags: list[str] | None = None,
) -> dict:
    """Reference ``ContentExtractor.extract_content`` +
    ``StructuredDataExtractor.extract_all`` in one parse-shared pass."""
    return _extract_from_root(parse_html(html), only_main, include_tags, exclude_tags)


def make_scrape_udf(
    only_main: bool = True,
    include_tags: list[str] | None = None,
    exclude_tags: list[str] | None = None,
):
    """Markdown extraction with the full scrape-options surface bound at
    construction (onlyMainContent / includeTags / excludeTags,
    models/request.py:21-27)."""

    @F.pandas_udf(T.StringType())
    def udf(html: pd.Series) -> pd.Series:
        return pd.Series(
            [
                extract_page(_decode(h), only_main, include_tags, exclude_tags)[
                    "markdown"
                ]
                for h in html
            ]
        )

    return udf


EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("markdown", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType())),
        T.StructField("open_graph", T.MapType(T.StringType(), T.StringType())),
        T.StructField("twitter_card", T.MapType(T.StringType(), T.StringType())),
        T.StructField("meta_data", T.MapType(T.StringType(), T.StringType())),
        T.StructField("json_ld", T.ArrayType(T.StringType())),
    ]
)


def _decode(h) -> str:
    if h is None:
        return ""
    if isinstance(h, (bytes, bytearray, memoryview)):
        return bytes(h).decode("utf-8", errors="replace")
    return str(h)


@F.pandas_udf(EXTRACTED_SCHEMA)
def extract_page_udf(html: pd.Series) -> pd.DataFrame:
    """Arrow-vectorized full extraction bundle: html binary → struct."""
    rows = [extract_page(_decode(h)) for h in html]
    return pd.DataFrame(
        {
            "markdown": [r["markdown"] for r in rows],
            "title": [r["title"] for r in rows],
            "description": [r["description"] for r in rows],
            "language": [r["language"] for r in rows],
            "metadata": [r["metadata"] for r in rows],
            "open_graph": [r["open_graph"] for r in rows],
            "twitter_card": [r["twitter_card"] for r in rows],
            "meta_data": [r["meta_data"] for r in rows],
            "json_ld": [r["json_ld"] for r in rows],
        }
    )


def make_extract_bundle_udf(
    base_domain: str | None = None,
    exclude: list[str] | None = None,
    include: list[str] | None = None,
    same_domain: bool = True,
    only_main: bool = True,
    include_tags: list[str] | None = None,
    exclude_tags: list[str] | None = None,
):
    """Full extraction + link extraction sharing ONE parse per page — the
    crawl loop's hot path (a separate links UDF would parse every page
    twice). Config (crawl base domain, Python-re patterns) binds at UDF
    construction, compiled once per executor."""
    import re as _re

    from .urls import extract_links_from_root

    exc = [_re.compile(p) for p in (exclude or [])]
    inc = [_re.compile(p) for p in (include or [])]

    schema = T.StructType(
        list(EXTRACTED_SCHEMA.fields)
        + [T.StructField("links", T.ArrayType(T.StringType()))]
    )

    @F.pandas_udf(schema)
    def bundle_udf(html: pd.Series, base_url: pd.Series) -> pd.DataFrame:
        from .htmllib import parse_html as _parse

        rows = []
        for h, b in zip(html, base_url):
            text = _decode(h)
            root = _parse(text)
            # links FIRST: reference extracts links from the raw page,
            # and _extract_from_root's clean pass mutates the tree
            links = extract_links_from_root(
                root,
                b or "",
                base_domain=base_domain,
                exclude=exc,
                include=inc,
                same_domain=same_domain,
            )
            r = _extract_from_root(root, only_main, include_tags, exclude_tags)
            # per-page response envelope (models/response.py:4-10): the
            # fetch join only routes hits here, so statusCode is 200;
            # misses carry status='missing' in the frontier row instead
            r["metadata"] = {
                **r["metadata"],
                "sourceURL": b or "",
                "statusCode": "200",
            }
            r["links"] = links
            rows.append(r)
        return pd.DataFrame(
            {f.name: [r[_FIELD_KEYS[f.name]] for r in rows] for f in schema.fields}
        )

    return bundle_udf


_FIELD_KEYS = {
    "markdown": "markdown",
    "metadata": "metadata",
    "title": "title",
    "description": "description",
    "language": "language",
    "open_graph": "open_graph",
    "twitter_card": "twitter_card",
    "meta_data": "meta_data",
    "json_ld": "json_ld",
    "links": "links",
}


@F.pandas_udf(T.StringType())
def markdown_udf(html: pd.Series) -> pd.Series:
    """Markdown-only extraction (cheaper projection when the caller prunes
    the other columns — UDFs are split so Catalyst can drop unused ones,
    SURVEY.md §4.1)."""
    return pd.Series([extract_page(_decode(h))["markdown"] for h in html])


@F.pandas_udf(T.StringType())
def language_udf(html: pd.Series) -> pd.Series:
    out = []
    for h in html:
        out.append(extract_language(parse_html(_decode(h))) or "")
    return pd.Series(out)


@F.pandas_udf(T.StringType())
def title_udf(html: pd.Series) -> pd.Series:
    out = []
    for h in html:
        out.append(extract_metadata(parse_html(_decode(h))).get("title", ""))
    return pd.Series(out)


# ---------------------------------------------------------------------------
# /scrape batch envelope (models/response.py ScrapeData, per-row options)
# ---------------------------------------------------------------------------

# Flattened ScrapeData (models/response.py:20-31). `screenshot` and
# `actions_screenshots` exist so the reference's response shape round-trips:
# both are ALWAYS null in batch — the reference's take_screenshot returns
# None on any failure (scraper.py:451-459) and a batch engine over
# pre-fetched HTML has no browser, so includeScreenshot degrades exactly
# like a failed capture, plus an explicit `warning` (the reference degrades
# silently; surfacing it in the documented warning field is the one
# deliberate divergence). `llm_extraction` is declared by the reference
# model but never populated anywhere in its codebase — null here too.
SCRAPE_DATA_SCHEMA = T.StructType(
    [
        T.StructField("success", T.BooleanType()),
        T.StructField("markdown", T.StringType()),
        T.StructField("html", T.StringType()),
        T.StructField("raw_html", T.StringType()),
        T.StructField("screenshot", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("actions_screenshots", T.ArrayType(T.StringType())),
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("source_url", T.StringType()),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("error", T.StringType()),
        T.StructField("open_graph", T.MapType(T.StringType(), T.StringType())),
        T.StructField("twitter_card", T.MapType(T.StringType(), T.StringType())),
        T.StructField("meta_data", T.MapType(T.StringType(), T.StringType())),
        T.StructField("json_ld", T.ArrayType(T.StringType())),
        T.StructField("llm_extraction", T.StringType()),
        T.StructField("warning", T.StringType()),
    ]
)

_SCREENSHOT_WARNING = (
    "screenshot unavailable: batch engine has no live browser"
)


def _scrape_one(
    html,
    url: str,
    only_main,
    include_tags,
    exclude_tags,
    include_raw,
    include_screenshot,
) -> dict:
    """One ScrapeRequest → flattened ScrapeData dict.

    Success path mirrors scraper.py:806-855 (_process_page_data); any
    failure — including a URL absent from the pages corpus, the batch
    analog of a failed browser fetch — produces the reference's error
    envelope bug-for-bug: every data field None, statusCode 500,
    error == warning == str(e) (scraper.py:773-797)."""
    from .urls import extract_links_from_root

    nulls = {f.name: None for f in SCRAPE_DATA_SCHEMA.fields}
    try:
        if html is None:
            raise ValueError(f"fetch failed: {url} not in pages corpus")
        only_main = True if only_main is None else bool(only_main)
        include_tags = list(include_tags) if include_tags is not None else None
        exclude_tags = list(exclude_tags) if exclude_tags is not None else None
        text = _decode(html)
        root = parse_html(text)
        # links first: the envelope's links are every resolved anchor in
        # the raw page (the reference reads them from the live DOM before
        # extraction), and _extract_from_root's clean pass mutates the tree
        links = extract_links_from_root(root, url or "", same_domain=False)
        r = _extract_from_root(
            root, only_main, include_tags, exclude_tags, include_html=True
        )
        return {
            **nulls,
            "success": True,
            "markdown": r["markdown"],
            "html": r["html"],
            "raw_html": text if include_raw else None,
            "links": links,
            "title": r["title"],
            "description": r["description"],
            "language": r["language"],
            "source_url": url or "",
            "status_code": 200,
            "open_graph": r["open_graph"],
            "twitter_card": r["twitter_card"],
            "meta_data": r["meta_data"],
            "json_ld": r["json_ld"],
            "warning": _SCREENSHOT_WARNING if include_screenshot else None,
        }
    except Exception as e:  # reference error envelope (scraper.py:773-797)
        msg = str(e)
        return {
            **nulls,
            "success": False,
            "source_url": url or "",
            "status_code": 500,
            "error": msg,
            "warning": msg,
        }


@F.pandas_udf(SCRAPE_DATA_SCHEMA)
def scrape_envelope_udf(
    html: pd.Series,
    url: pd.Series,
    only_main: pd.Series,
    include_tags: pd.Series,
    exclude_tags: pd.Series,
    include_raw: pd.Series,
    include_screenshot: pd.Series,
) -> pd.DataFrame:
    """Arrow-vectorized per-row-options scrape: each row carries its OWN
    onlyMainContent / includeTags / excludeTags / includeRawHtml /
    includeScreenshot (models/request.py:18-34) — the batch analog of one
    POST /scrape per row, where make_scrape_udf binds one option set for
    the whole job."""
    # a nullable boolean arrives from Arrow as object dtype holding None;
    # bool(None) is False, the request model's default for both flags
    rows = [
        _scrape_one(h, u, om, it, et, bool(ir), bool(sc))
        for h, u, om, it, et, ir, sc in zip(
            html, url, only_main, include_tags, exclude_tags,
            include_raw, include_screenshot,
        )
    ]
    return pd.DataFrame(
        {f.name: [r[f.name] for r in rows] for f in SCRAPE_DATA_SCHEMA.fields}
    )
