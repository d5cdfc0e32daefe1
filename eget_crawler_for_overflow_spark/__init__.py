"""eget_crawler_for_overflow_spark — a from-scratch PySpark-native batch
crawl-and-extract engine with the capabilities of
jarnold84/eGet-Crawler-for-Overflow (reference at /root/reference, read-only).

Architecture (SURVEY.md §7): an offline, set-oriented batch engine over
DataFrames of Common-Crawl-style pages
``(url string, warc_ts timestamp, html binary, text string, lang string)``.
The reference's asyncio crawl loop becomes a driver-side generation (BFS
wave) loop; its mutable ``seen_urls`` set becomes a hash-partitioned table
with per-shard Bloom filters; its per-page Selenium fetch becomes an
equi-join of the frontier against the pages table; its BeautifulSoup/
html2text extraction becomes Arrow-vectorized pandas UDFs.

Nothing here is a port: every module is written Spark-first, with the
reference cited (file:line) only to pin down *semantics*.
"""

# imported for its side effect: Python workers that unpickle an engine UDF
# stop re-reading every zip import's directory on each task (see the module)
from . import worker_imports  # noqa: F401

__version__ = "0.1.0"
