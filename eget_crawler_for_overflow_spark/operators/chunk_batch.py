"""Batch ``/chunk`` — the reference's chunking endpoint over a DataFrame
of requests, completing per-row batch parity for all four reference
endpoints (/scrape → operators/scrape.py, /crawl → operators/frontier.py,
/convert → functions/convert.py, /chunk → here).

Reference surface (/root/reference/api/v1/endpoints/chunker.py:9-10,
models/chunk_request.py:5-14, models/chunk_response.py:35-48,
services/chunker/chunk_service.py:66-215): one POST /chunk scrapes a URL
(onlyMainContent=True, chunk_service.py:72-79), cleans the markdown
(``_clean_markdown``, :27-64 — the T13 pass in functions/text.py), picks a
chunker by ``chunker_type`` and returns a ChunkResponse envelope. The
batch analog is one REQUEST ROW per chunk call, each carrying its own
knobs; the engine resolves every row against the pages corpus in one job.

Option mapping (every ChunkRequest field accounted for):

* ``chunker_type`` — honored per row. The service dispatches on the exact
  string ``== "sentence"`` (chunk_service.py:97); ANY other value —
  including garbage — silently selects the semantic chunker while the
  stats still echo the raw value (``request.chunker_type or "semantic"``,
  :207). Pinned bug-for-bug.
* ``max_chunk_size`` / ``min_chunk_size`` / ``chunk_overlap`` — honored
  per row with the reference's two-layer defaulting pinned exactly:
  pydantic fills omitted fields (512 / 128 / 0, chunk_request.py:7-13),
  then the service applies ``or`` fallbacks that fire on None AND 0
  (:101-106 sentence → 512/50; :148-152 semantic → 1500/200). So an
  omitted ``max_chunk_size`` gives the semantic chunker 512 (the pydantic
  default), while an explicit null gives it 1500 — and an explicit
  ``chunk_overlap=0`` yields overlap 50, never 0.
* ``preserve_code_blocks`` / ``include_metadata`` — accepted and ignored:
  the service never reads either field (grep of chunk_service.py).
* ``min_characters_per_sentence`` is hardwired to 12 and
  ``min_sentences_per_chunk`` to 1 (:104-105) — not request-settable.

A request URL absent from the corpus is the batch analog of a failed
scrape and produces the reference's error envelope (chunk_service.py:81-88):
success=false, markdown='', zero chunks, error='Failed to scrape URL',
default-factory stats (total_chunks=0, avg_chunk_size=0). ``processed_at``
and the uuid4 chunk ids are nondeterministic server stamps and are
replaced by the deterministic position key (SURVEY.md §1.2);
``processing_time`` is a wall-clock stat with no batch meaning.

Observable endpoint quirk pinned here rather than papered over: because
``_clean_markdown``'s first regex collapses ALL whitespace — newlines
included — to single spaces (chunk_service.py:39, the documented T13
behavior), the semantic chunker always receives a ONE-LINE document. Its
line scanner therefore emits at most one chunk: zero when the line starts
with a header marker (the header line itself is dropped,
semantic_chunker.py:99) or contains none at all (eternal preamble), one
whole-document text chunk when a ``#{n} `` marker appears mid-line. The
sentence chunker is unaffected (it splits on punctuation, not lines).

Scale shape: identical to scrape_batch — requests are the SMALL side vs
the 10^10-row pages store, so broadcast inner join + broadcast anti-join
for misses (pages only scanned, never shuffled); ``broadcast_requests=
False`` emits a plain left join for over-threshold request batches, a
storage-partitioned join against a url-bucketed pages table.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.extract import _decode, extract_page
from ..functions.text import clean_markdown
from .chunker import chunk_markdown, sentence_chunks
from .scrape import resolve_requests

# option column name -> (spark type ddl, pydantic default literal,
# chunk_request.py:7-13)
OPTION_COLUMNS: dict[str, tuple[str, object]] = {
    "chunker_type": ("string", "semantic"),
    "max_chunk_size": ("int", 512),
    "min_chunk_size": ("int", 128),
    "chunk_overlap": ("int", 0),
    "preserve_code_blocks": ("boolean", True),  # accepted-and-ignored
    "include_metadata": ("boolean", True),  # accepted-and-ignored
}

CHUNK_ROW_SCHEMA = T.StructType(
    [
        T.StructField("content", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("heading", T.StringType()),
        T.StructField("code_language", T.StringType()),
        T.StructField("word_count", T.IntegerType()),
        T.StructField("position", T.IntegerType()),
        T.StructField("level", T.IntegerType()),
        T.StructField("path", T.ArrayType(T.StringType())),
        T.StructField("needs_merge", T.BooleanType()),
        T.StructField("needs_split", T.BooleanType()),
    ]
)

CHUNK_RESPONSE_SCHEMA = T.StructType(
    [
        T.StructField("success", T.BooleanType()),
        T.StructField("markdown", T.StringType()),
        T.StructField("chunks", T.ArrayType(CHUNK_ROW_SCHEMA)),
        T.StructField("total_chunks", T.IntegerType()),
        T.StructField("avg_chunk_size", T.DoubleType()),
        T.StructField("chunker_type", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def _knob(v, fallback: int) -> int:
    """Service-layer ``x or fallback`` — fires on null AND zero
    (chunk_service.py:101-106,148-152)."""
    if v is None or pd.isna(v) or int(v) == 0:
        return fallback
    return int(v)


def chunk_response(
    html, chunker_type, max_chunk_size, min_chunk_size, chunk_overlap
) -> dict:
    """One ChunkResponse envelope (chunk_service.py:66-215), flattened:
    stats dict → total_chunks / avg_chunk_size / chunker_type columns."""
    if html is None:
        return {
            "success": False,
            "markdown": "",
            "chunks": [],
            "total_chunks": 0,
            "avg_chunk_size": 0.0,
            "chunker_type": None,
            "error": "Failed to scrape URL",
        }
    md = extract_page(_decode(html), True, None, None)["markdown"]
    cleaned = clean_markdown(md)
    if chunker_type == "sentence":
        rows = [
            {
                "content": c["content"],
                "type": "text",
                "heading": None,
                "code_language": None,
                # metadata.word_count = len(text.split()) (:126-132);
                # equals the chunk's token_count since units join on ' '
                "word_count": len(c["content"].split()),
                "position": c["position"],
                "level": 0,
                "path": [],
                "needs_merge": None,
                "needs_split": None,
            }
            for c in sentence_chunks(
                cleaned,
                _knob(max_chunk_size, 512),
                _knob(chunk_overlap, 50),
                12,
            )
        ]
    else:
        rows = [
            {
                "content": c["content"],
                "type": c["type"],
                "heading": c["heading"],
                "code_language": c["code_language"],
                "word_count": c["word_count"],
                "position": c["position"],
                "level": c["level"],
                "path": c["path"],
                "needs_merge": c["needs_merge"],
                "needs_split": c["needs_split"],
            }
            for c in chunk_markdown(
                cleaned,
                min_words=_knob(min_chunk_size, 200),
                max_words=_knob(max_chunk_size, 1500),
            )
        ]
    total_words = sum(r["word_count"] for r in rows)
    ct = None if (chunker_type is None or pd.isna(chunker_type)) else chunker_type
    return {
        "success": True,
        "markdown": cleaned,
        "chunks": rows,
        "total_chunks": len(rows),
        "avg_chunk_size": (total_words / len(rows)) if rows else 0.0,
        "chunker_type": ct or "semantic",
        "error": None,
    }


@F.pandas_udf(CHUNK_RESPONSE_SCHEMA)
def chunk_response_udf(
    html: pd.Series,
    chunker_type: pd.Series,
    max_chunk_size: pd.Series,
    min_chunk_size: pd.Series,
    chunk_overlap: pd.Series,
) -> pd.DataFrame:
    rows = [
        chunk_response(h, ct, mx, mn, ov)
        for h, ct, mx, mn, ov in zip(
            html, chunker_type, max_chunk_size, min_chunk_size, chunk_overlap
        )
    ]
    # build columns from the schema (ADVICE r6): pd.DataFrame(rows) on a
    # ZERO-row batch yields a column-less frame that fails the
    # struct-schema mapping; this shape matches scrape_envelope_udf
    return pd.DataFrame(
        {f.name: [r[f.name] for r in rows] for f in CHUNK_RESPONSE_SCHEMA.fields}
    )


def chunk_batch(
    requests: DataFrame,
    pages: DataFrame,
    broadcast_requests: bool = True,
) -> DataFrame:
    """Resolve a DataFrame of ChunkRequests against the pages corpus.

    ``requests`` needs a ``url`` column; OPTION_COLUMNS are optional and
    default to the pydantic request-model defaults. Returns one nested
    ChunkResponse row per request keyed by url (use
    ``chunk_response_rows`` for the exploded per-chunk shape).
    """
    joined = resolve_requests(requests, pages, OPTION_COLUMNS, broadcast_requests)
    e = joined.select(
        "url",
        chunk_response_udf(
            F.col("html"),
            F.col("chunker_type"),
            F.col("max_chunk_size"),
            F.col("min_chunk_size"),
            F.col("chunk_overlap"),
        ).alias("r"),
    )
    return e.select(
        "url",
        *[F.col(f"r.{f.name}").alias(f.name) for f in CHUNK_RESPONSE_SCHEMA.fields],
    )


def website_chunks(responses: DataFrame) -> DataFrame:
    """Flatten ChunkResponse envelopes into the reference cookbook's
    ``WebsiteChunk`` Kafka record (cookbook/flink_app_2/kafka_utils.py:
    17-93 Avro schema; :231-247 field mapping) — the downstream RAG-feed
    contract consumers of the /chunk endpoint actually stream.

    Mapping notes (mirroring the cookbook's producer loop exactly):
    failed or zero-chunk responses emit NOTHING (the loop iterates
    ``result["chunks"]``); chunk_number is 1-based enumerate order
    (== position + 1, list order is position order); content_type copies
    metadata.type which equals the top-level chunk type in both chunkers;
    chunk_id is the deterministic ``url#position`` (SURVEY.md §1.2 —
    replaces uuid4); timestamp is the reference's ``processed_at`` server
    wall-clock stamp, emitted as '' here so batch output stays
    deterministic (stamp at send time, as the producer does)."""
    ex = responses.filter(F.col("success") & (F.col("total_chunks") > 0)).select(
        "url",
        "total_chunks",
        F.explode("chunks").alias("c"),
    )
    return ex.select(
        F.concat_ws("#", F.col("url"), F.col("c.position")).alias("chunk_id"),
        "url",
        (F.col("c.position") + 1).alias("chunk_number"),
        "total_chunks",
        F.col("c.content").alias("chunk_content"),
        F.col("c.type").alias("chunk_type"),
        F.lit("").alias("timestamp"),
        F.col("c.word_count").alias("word_count"),
        F.col("c.position").alias("position"),
        F.col("c.type").alias("content_type"),
        F.col("c.heading").alias("heading"),
        F.col("c.code_language").alias("code_language"),
    )


def chunk_response_rows(responses: DataFrame) -> DataFrame:
    """Explode the envelope into one row per chunk; zero-chunk and error
    envelopes survive as a single row with null chunk fields (the flat
    shape driver oracles compare)."""
    ex = responses.select(
        "url",
        "success",
        "error",
        "chunker_type",
        "total_chunks",
        "avg_chunk_size",
        "markdown",
        F.explode_outer("chunks").alias("c"),
    )
    return ex.select(
        "url",
        "success",
        "error",
        "chunker_type",
        "total_chunks",
        "avg_chunk_size",
        "markdown",
        F.col("c.position").alias("position"),
        F.col("c.content").alias("content"),
        F.col("c.type").alias("chunk_type"),
        F.col("c.word_count").alias("word_count"),
        F.col("c.needs_merge").alias("needs_merge"),
        F.col("c.needs_split").alias("needs_split"),
    )
