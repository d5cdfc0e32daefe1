"""Batch ``/scrape`` — the reference's main API endpoint over a DataFrame
of requests.

Reference surface (/root/reference/api/v1/endpoints/scraper.py:21-64,
models/request.py:18-34, models/response.py:20-34): one POST /scrape takes
a ScrapeRequest (url + per-request options) and returns a ScrapeResponse
envelope. The batch analog is one REQUEST ROW per scrape, each carrying its
own options; the engine resolves every row against the pre-fetched pages
corpus in one job.

Option mapping (every ScrapeRequest field accounted for):

* ``only_main_content`` / ``include_tags`` / ``exclude_tags`` /
  ``include_raw_html`` / ``include_screenshot`` — honored per row (the
  extraction knobs thread through scrape_envelope_udf).
* ``formats`` — accepted and ignored: the reference endpoint never reads
  ``request.formats`` (scraper.py endpoint builds its options dict from
  the other fields only).
* ``actions`` — accepted and never executed: the reference declares the
  field but contains no action executor; its output sets ``actions`` from
  captured screenshots only (scraper.py:849-850), so batch output is null.
* ``headers`` / ``waitFor`` / ``mobile`` / ``timeout`` /
  ``skipTlsVerification`` / ``location`` — live-fetch knobs with no batch
  meaning (they configure the browser session before the HTML exists);
  documented no-ops here.

A request URL absent from the corpus is the batch analog of a failed
browser fetch and produces the reference's error envelope
(scraper.py:773-797): success=false, all data fields null, statusCode 500,
error == warning == the failure message.

Scale shape: requests are the SMALL side (a user's batch of scrapes vs the
10^10-row pages store) — broadcast inner join + broadcast anti-join for
misses, so pages is only ever scanned, never shuffled (same J3 shape the
crawl fetch uses, operators/frontier.py:583-607). For request batches too
large to broadcast, ``broadcast_requests=False`` emits a plain left join:
with a url-bucketed pages table that is a storage-partitioned join that
shuffles only the requests side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.extract import SCRAPE_DATA_SCHEMA, scrape_envelope_udf

# option column name -> (spark type ddl, default literal)
OPTION_COLUMNS: dict[str, tuple[str, object]] = {
    "only_main_content": ("boolean", True),
    "include_tags": ("array<string>", None),
    "exclude_tags": ("array<string>", None),
    "include_raw_html": ("boolean", False),
    "include_screenshot": ("boolean", False),
}


def resolve_requests(
    requests: DataFrame,
    pages: DataFrame,
    options: dict[str, tuple[str, object]],
    broadcast_requests: bool,
) -> DataFrame:
    """Each request row with its ``options`` columns cast (a missing column
    gets its default) and the page's ``html``, null for a url absent from
    ``pages``. Broadcast: hits ∪ null-html misses, so pages is only
    scanned; otherwise a plain left join."""
    req = requests
    for col, (ddl, default) in options.items():
        if col not in req.columns:
            req = req.withColumn(col, F.lit(default).cast(ddl))
        else:
            req = req.withColumn(col, F.col(col).cast(ddl))

    psel = pages.select("url", "html")
    if not broadcast_requests:
        return req.join(psel, on="url", how="left")
    hits = psel.join(F.broadcast(req), on="url", how="inner")
    missed = req.join(
        F.broadcast(hits.select("url")), on="url", how="left_anti"
    ).withColumn("html", F.lit(None).cast("binary"))
    return hits.select(*missed.columns).unionByName(missed)


def scrape_batch(
    requests: DataFrame,
    pages: DataFrame,
    broadcast_requests: bool = True,
) -> DataFrame:
    """Resolve a DataFrame of ScrapeRequests against the pages corpus.

    ``requests`` needs a ``url`` column; the OPTION_COLUMNS are optional
    and default to the reference request model's defaults
    (models/request.py:21-34: onlyMainContent=True, includeRawHtml=False,
    includeScreenshot=False, tags unset). Returns one flattened ScrapeData
    row per request (SCRAPE_DATA_SCHEMA) keyed by url.
    """
    joined = resolve_requests(requests, pages, OPTION_COLUMNS, broadcast_requests)
    e = joined.select(
        "url",
        scrape_envelope_udf(
            F.col("html"),
            F.col("url"),
            F.col("only_main_content"),
            F.col("include_tags"),
            F.col("exclude_tags"),
            F.col("include_raw_html"),
            F.col("include_screenshot"),
        ).alias("e"),
    )
    return e.select(
        "url", *[F.col(f"e.{f.name}").alias(f.name) for f in SCRAPE_DATA_SCHEMA.fields]
    )
