"""The benchmark workloads: inputs, one timed operation, and checks.

Every workload is a class with the same steps:

* ``prepare(spark)`` - scan and persist the inputs (part of set-up time);
* ``warm(spark)`` - start the Python workers (part of set-up time);
* ``warm_op(spark)`` - pay JIT and codegen for the operation's plans, untimed;
* ``op(spark)`` - the timed operation; returns an ``Outcome``;
* ``check(spark, outcome)`` - correctness, outside the timed region.

The workload seed picks seed URLs or the page slice; the engine only ever
sees the generated inputs. Sizes are chosen so one operation takes 15-30 s
at local[3] and a whole run stays near a minute.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import shutil
import time
import warnings
from collections import Counter
from dataclasses import dataclass, field
from urllib.parse import urlsplit

from pyspark.sql import functions as F

import corpus
from tracing import Tracer
from eget_crawler_for_overflow_spark import pagemodel as pm
from eget_crawler_for_overflow_spark.functions import robots as robots_fn
from eget_crawler_for_overflow_spark.functions.extract import extract_page_udf
from eget_crawler_for_overflow_spark.functions.text import LANG_MARKERS, lang_id, quality_bucket
from eget_crawler_for_overflow_spark.operators import dedup, frontier
from eget_crawler_for_overflow_spark.operators.chunker import chunk_markdown, chunks_table
from eget_crawler_for_overflow_spark.queries import robots_rules_df

N_PAGES, N_HOSTS = pm.TIERS[corpus.TIER]["n_pages"], pm.TIERS[corpus.TIER]["n_hosts"]
_URL_RE = re.compile(r"^https://host(\d+)\.example/p/(\d+)$")


@dataclass
class Outcome:
    wall_s: float
    pages: int  # extracted pages in the complete result
    result: object = None
    stages: dict = field(default_factory=dict)  # stage name -> seconds
    crawls: list = field(default_factory=list)  # CrawlResults of the operation


def page_index(url: str) -> int | None:
    """Corpus index of a url, or None when no page has that url."""
    m = _URL_RE.match(url)
    if m is None:
        return None
    h, i = int(m.group(1)), int(m.group(2))
    return i if i < N_PAGES and pm.host_of(i, N_HOSTS) == h else None


def _fingerprint(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _markdown_failures(extracted, pages) -> tuple[int, int]:
    """(rows, failures) of a crawl's extracted frame against pages.text:
    an extracted row must carry the page's exact text; a 'missing' row
    must be a url no page has (a dead link)."""
    j = extracted.select("url", "status", "markdown").join(
        pages.select("url", "text"), on="url", how="left"
    )
    bad = (
        ((F.col("status") == "extracted") & ~F.col("markdown").eqNullSafe(F.col("text")))
        | ((F.col("status") == "missing") & F.col("text").isNotNull())
    )
    r = j.agg(F.count("*").alias("n"), F.sum(bad.cast("int")).alias("bad")).collect()[0]
    return r["n"], int(r["bad"] or 0)


def warm_workers(pages) -> None:
    """Start the Python workers: one small extract on every core."""
    cores = pages.sparkSession.sparkContext.defaultParallelism
    pages.limit(50 * cores).repartition(cores).select(
        extract_page_udf("html").alias("e")
    ).agg(F.count("e.markdown")).collect()


class Crawl:
    """A polite multi-host crawl over the whole pages table (persisted:
    every generation probes it): 500 seed-chosen pages, robots rules,
    crawl-delay windows, a priority frontier and a per-host budget,
    checkpointed, stopped after the first generation and resumed.

    Per-generation fixed cost in the ordering, seen-set, politeness and
    checkpoint code, the fetch join and the extract UDF, background seen-set
    maintenance, and a bulk seen-set rebuild on resume all sit in one
    operation. The admitted list is checked against ``reference()``.
    """

    SEEDS = 500
    HOST_BUDGET = 256
    STOP_AT = 1
    CFG = dict(
        max_depth=1,
        max_pages=5000,
        same_domain=False,
        use_bloom=True,
        respect_robots=True,
        # wide enough that no url ever waits: a (host, salt) group holds at
        # most host_budget urls, and the last of 256 with 8 salts and a 2 s
        # delay is scheduled at 4094 s. A deferral would add a generation
        # for some seeds and not others.
        crawl_delay_window=4096.0,
        priority_depth_weight=0.25,
        priority_host_weight=1.0,
        host_budget=HOST_BUDGET,
    )

    def __init__(self, root: str, seed: int):
        self.root = root
        rng = random.Random(seed)
        self.seeds = [pm.url_of(i, N_HOSTS) for i in rng.sample(range(N_PAGES), self.SEEDS)]
        self.ckpt_dir = os.path.join(corpus.work_dir(root), "checkpoint")
        self.pages = self.robots = None

    def prepare(self, spark) -> None:
        self.pages = spark.read.parquet(corpus.pages_path(self.root)).persist()
        self.pages.count()
        self.robots = robots_rules_df(spark, corpus.sf_dir(self.root)).persist()
        self.robots.count()

    def warm(self, spark) -> None:
        warm_workers(self.pages)

    def _stopped_crawl(self, spark) -> None:
        """The crawl up to its checkpointed stop, from an empty checkpoint."""
        shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        with warnings.catch_warnings():
            # the first run stops at max_generations by design
            warnings.simplefilter("ignore")
            frontier.run_crawl(
                spark,
                self.pages,
                self.seeds,
                frontier.CrawlConfig(max_generations=self.STOP_AT, **self.CFG),
                robots=self.robots,
                checkpoint_dir=self.ckpt_dir,
            )

    def warm_op(self, spark) -> None:
        """The first generation, untimed. A cold crawl pays JIT and codegen
        (~28 s against ~23 s warm at local[3]), and that part stretches
        with the machine's load: over five seeds cold operations spread
        0.32, warm ones 0.13. One generation runs every per-generation
        plan at half the cost of a whole operation."""
        self._stopped_crawl(spark)

    def op(self, spark) -> Outcome:
        cfg = frontier.CrawlConfig(**self.CFG)
        t0 = time.perf_counter()
        self._stopped_crawl(spark)
        res = frontier.run_crawl(
            spark,
            self.pages,
            self.seeds,
            cfg,
            robots=self.robots,
            checkpoint_dir=self.ckpt_dir,
            resume=True,
        )
        n = res.extracted.filter(F.col("status") == "extracted").count()
        return Outcome(time.perf_counter() - t0, n, res, crawls=[res])

    def reference(self) -> list[tuple[str, int]]:
        """(url, depth) in admission order under the crawl's policy, built
        from ``pagemodel``'s link lists (``max_depth=1``, nothing deferred).
        Per generation: http(s) urls; robots rules for all but seeds;
        first-wins by (parent_seq, link_pos); unseen; at most HOST_BUDGET
        per host by (parent_seq, link_pos); then ordered by priority =
        depth * 0.25 + urls admitted on the host so far, parent_seq,
        link_pos; cut at max_pages."""
        admitted: list[tuple[str, int]] = []
        seen: set[str] = set()
        host_seen: Counter = Counter()
        w_depth, w_host = self.CFG["priority_depth_weight"], self.CFG["priority_host_weight"]
        cand = [(u, -1, j) for j, u in enumerate(self.seeds)]  # url, parent_seq, link_pos
        for depth in range(self.CFG["max_depth"] + 1):
            first: dict[str, tuple[int, int, str]] = {}
            for u, ps, lp in cand:
                host = urlsplit(u).hostname if u.startswith(("http://", "https://")) else None
                if not host or u in seen:
                    continue
                if depth > 0 and not robots_fn.robots_allowed(u, _robots_text(host)):
                    continue
                if u not in first or (ps, lp) < first[u][:2]:
                    first[u] = (ps, lp, host)
            by_host: dict[str, list] = {}
            for u, (ps, lp, host) in first.items():
                by_host.setdefault(host, []).append((ps, lp, u))
            kept = []
            for host, rows in by_host.items():
                for ps, lp, u in sorted(rows)[: self.HOST_BUDGET]:
                    kept.append((depth * w_depth + host_seen[host] * w_host, ps, lp, u, host))
            kept.sort()
            kept = kept[: self.CFG["max_pages"] - len(admitted)]
            start = len(admitted)
            admitted += [(u, depth) for _, _, _, u, _ in kept]
            seen.update(u for _, _, _, u, _ in kept)
            host_seen.update(host for *_, host in kept)
            cand = []
            for k, (_, _, _, u, _) in enumerate(kept):
                i = page_index(u)
                if i is not None:
                    links = pm.expected_links_all(i, N_PAGES, N_HOSTS)
                    cand += [(v, start + k, pos) for pos, v in enumerate(links)]
        return admitted

    def check(self, spark, outcome: Outcome) -> tuple[int, int, list[str], str]:
        res = outcome.result
        rows = (
            res.admitted.select("url", "host", "depth", "enqueue_seq", "generation")
            .orderBy("enqueue_seq")
            .collect()
        )
        want = self.reference()
        order_bad = sum(
            1
            for k, r in enumerate(rows)
            if k >= len(want) or (r["url"], r["depth"]) != want[k]
        ) + max(0, len(want) - len(rows))
        violations = []
        if [r["enqueue_seq"] for r in rows] != list(range(len(rows))):
            violations.append("enqueue_seq is not dense and unique")
        for r in rows:
            if r["depth"] > 0 and not robots_fn.robots_allowed(r["url"], _robots_text(r["host"])):
                violations.append(f"robots-disallowed url admitted: {r['url']}")
                break
        per_host = Counter((r["host"], r["generation"]) for r in rows)
        over = [k for k, v in per_host.items() if v > self.HOST_BUDGET]
        if over:
            violations.append(f"host budget exceeded for {over[:3]}")
        n_rows, md_bad = _markdown_failures(res.extracted, self.pages)
        if n_rows != len(rows):
            violations.append(f"{n_rows} extracted rows for {len(rows)} admitted urls")
        fp = _fingerprint(
            f"{r['enqueue_seq']}\t{r['url']}\t{r['depth']}\t{r['generation']}" for r in rows
        )
        return len(want), order_bad + md_bad, violations, fp


def _robots_text(host: str) -> str:
    """robots.txt of a host as queries.robots_rules_df gives it (variant =
    host id % 4); hosts outside the corpus have none."""
    m = re.fullmatch(r"host(\d+)\.example", host)
    if m is None or int(m.group(1)) >= N_HOSTS:
        return ""
    return {
        1: "User-agent: *\nDisallow: /private/",
        2: "User-agent: *\nDisallow: /p/1",
        3: "User-agent: *\nCrawl-delay: 2\nDisallow: /p/*7$",
    }.get(int(m.group(1)) % 4, "")


class PagePipeline:
    """A seed-chosen slice of pages (a seeded url-hash quarter of the
    table, ~1.25k pages) through extract, chunking, text features,
    simhash and MinHash dedup: no frontier, so the Python kernels and
    Catalyst higher-order functions carry everything."""

    THRESHOLD_PCT = 80
    PARTITIONS = 12  # a whole number of tasks per core at 1, 2, 3 and 4 cores

    def __init__(self, root: str, seed: int):
        self.root = root
        self.seed = seed
        self.slice = None

    def prepare(self, spark) -> None:
        self.slice = (
            spark.read.parquet(corpus.pages_path(self.root))
            .filter(F.pmod(F.xxhash64("url", F.lit(self.seed)), F.lit(4)) == 0)
            .select("url", "html", "text")
            .repartition(self.PARTITIONS)
            .persist()
        )
        self.slice.count()

    def warm(self, spark) -> None:
        warm_workers(self.slice)

    def warm_op(self, spark) -> None:
        """Nothing: a warm-up would cost a whole operation (the stages are
        bound by per-job fixed cost), and cold operations spread 0.07-0.12
        over ten seeds."""

    def op(self, spark, span=None) -> Outcome:
        span = span or Tracer().span
        stages: dict[str, float] = {}
        t0 = time.perf_counter()
        with span("stage.extract") as s:
            ext = (
                self.slice.select("url", extract_page_udf("html").alias("e"))
                .select(
                    "url",
                    F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long").alias("doc_id"),
                    F.col("e.markdown").alias("markdown"),
                )
                .persist()
            )
            n = ext.count()
        stages["extract"] = s.dur
        with span("stage.chunker") as s:
            chunks = (
                chunks_table(ext.select("url", "markdown"))
                .groupBy("url")
                .agg(F.count("*").alias("n"), F.sum("word_count").alias("words"))
                .collect()
            )
        stages["chunker"] = s.dur
        with span("stage.text_features") as s:
            feats = (
                ext.select(
                    lang_id(F.col("markdown")).alias("lang"),
                    quality_bucket(F.col("markdown")).alias("q"),
                )
                .groupBy("lang", "q")
                .count()
                .collect()
            )
        stages["text_features"] = s.dur
        with span("stage.simhash") as s:
            sims = (
                ext.select(dedup.simhash32(F.col("markdown")).alias("h"))
                .agg(
                    F.count("h").alias("n"),
                    F.sum(F.col("h") % 1_000_003).alias("checksum"),
                )
                .collect()[0]
            )
        stages["simhash"] = s.dur
        with span("stage.minhash") as s:
            pairs = (
                dedup.minhash_dedup(
                    ext.select("doc_id", F.col("markdown").alias("text")),
                    threshold_pct=self.THRESHOLD_PCT,
                )
                .orderBy("id_a", "id_b")
                .collect()
            )
        stages["minhash"] = s.dur
        wall = time.perf_counter() - t0
        texts = {r["doc_id"]: r["markdown"] for r in ext.collect()}
        ext.unpersist()
        result = dict(n=n, chunks=chunks, feats=feats, sims=sims, pairs=pairs, texts=texts)
        return Outcome(wall, n, result, stages)

    def check(self, spark, outcome: Outcome) -> tuple[int, int, list[str], str]:
        r = outcome.result
        want = {
            row["url"]: row["text"] for row in self.slice.select("url", "text").collect()
        }
        by_id = {int(u.rsplit("/", 1)[1]): t for u, t in want.items()}
        md_bad = sum(1 for i, t in by_id.items() if r["texts"].get(i) != t)
        chunk_bad = 0
        got_chunks = {row["url"]: (row["n"], row["words"]) for row in r["chunks"]}
        for url, text in want.items():
            cs = chunk_markdown(text)
            exp = (len(cs), sum(c["word_count"] for c in cs)) if cs else None
            if got_chunks.get(url) != exp:
                chunk_bad += 1
        violations = []
        if r["n"] != len(want):
            violations.append(f"extract stage saw {r['n']} of {len(want)} pages")
        langs = set(LANG_MARKERS) | {"und"}
        if sum(row["count"] for row in r["feats"]) != len(want) or any(
            row["lang"] not in langs or row["q"] not in (0, 1, 2) for row in r["feats"]
        ):
            violations.append(f"text features out of range: {r['feats']}")
        if r["sims"]["n"] != len(want):
            violations.append("simhash missing for some pages")
        for p in r["pairs"]:
            a = set(dedup._shingle_hash_one(r["texts"][p["id_a"]], 3)[0])
            b = set(dedup._shingle_hash_one(r["texts"][p["id_b"]], 3)[0])
            inter, union = len(a & b), len(a | b)
            if (inter, union) != (p["n_intersect"], p["n_union"]) or (
                inter * 100 < self.THRESHOLD_PCT * union
            ):
                violations.append(f"minhash pair {p['id_a']},{p['id_b']} fails exact Jaccard")
                break
        fp = _fingerprint(
            [f"{row['lang']}\t{row['q']}\t{row['count']}" for row in sorted(r["feats"])]
            + [f"{r['sims']['checksum']}"]
            + [f"{p['id_a']}\t{p['id_b']}" for p in r["pairs"]]
        )
        return len(want), md_bad + chunk_bad, violations, fp


WORKLOADS = {"crawl": Crawl, "page_pipeline": PagePipeline}
