"""Batch URL-frontier crawl engine: the driver-side generation (BFS wave)
loop that replaces the reference's asyncio queue loop
(/root/reference/services/crawler/crawler_service.py:97-175).

Semantics preserved (SURVEY.md §3.1):

* admission predicate per URL: not-seen ∧ depth ≤ max_depth ∧ budget left
  (queue_manager.py:47-49), first-wins on duplicates;
* deterministic canonical order: the reference's *admission* (FIFO put)
  order, which for wave processing is ``(generation, parent_seq,
  link_pos)`` — the reference's result order is async-completion order and
  nondeterministic, so the admission order is the testable contract
  (SURVEY.md §2.6 W1);
* "fetch" = equi-join frontier ⋈ pages on url (J3); misses are recorded
  with status='missing' (the reference's failed scrape, crawler_service
  .py:77-80);
* link expansion skipped at depth == max_depth (crawler_service.py:61) —
  saves the UDF cost, Catalyst can't do this for us;
* robots checked before admission (J4 broadcast join + pandas UDF);
* politeness: logical crawl-delay windows with salted per-host slots,
  deferring overflow to later generations (politeness.py).

Scale posture: every per-generation step is a DataFrame op — anti-join
(Bloom-prefiltered, hash-sharded), TakeOrdered budget top-k, two-pass
range-partitioned sequence assignment, salted windows. The only driver
state is counters and the generation loop itself; per-generation tables
are checkpointed (parquet commit protocol standing in for Iceberg
snapshots) so a crawl resumes from the last committed generation.

Each generation runs the phases ``_admit`` → ``_schedule_politeness`` →
``_fetch_extract`` → ``_expand`` → ``_commit``; ``_resume`` runs before the
first generation and ``_assemble`` after the last.
"""

from __future__ import annotations

import warnings
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.extract import make_extract_bundle_udf
from ..functions.robots import crawl_delay_udf, robots_allowed_udf
from ..functions.urls import host_of_url
from ..sources.checkpoint import CheckpointManager
from .background import BackgroundJob
from .ordering import assign_seq_counted, top_k
from .politeness import salted_fetch_schedule, salted_host_budget_cap
from .seen import SeenSet

CAND_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("parent_url", T.StringType()),
        T.StructField("parent_seq", T.LongType()),
        T.StructField("link_pos", T.IntegerType()),
    ]
)


@dataclass
class CrawlConfig:
    max_depth: int = 3  # reference default (crawler_request.py:20)
    max_pages: int | None = 100  # reference default (crawler_request.py:21)
    same_domain: bool = True
    exclude: tuple[str, ...] = ()
    include: tuple[str, ...] = ()
    respect_robots: bool = False
    host_budget: int | None = None  # per-generation per-host admission cap
    # Fetch-join strategy: below this frontier-wave size, the wave is
    # broadcast against the pages scan (hits) + anti-joined (misses), so the
    # big table is never shuffled. Above it — or on a real cluster — the
    # Iceberg answer is bucket(url) on both sides (storage-partitioned
    # join); the plain shuffle join is the fallback here.
    broadcast_fetch_threshold: int = 2_000_000
    crawl_delay_window: float | None = None  # logical seconds per generation
    # Priority frontier (north-rule W2): admission order key becomes
    # (depth*w_depth + host_seen_count*w_host, parent_seq, link_pos).
    # Both 0.0 (default) == exact reference FIFO parity.
    priority_depth_weight: float = 0.0
    priority_host_weight: float = 0.0
    n_salts: int = 8
    n_shards: int = 32
    use_bloom: bool = True
    # Rewrite the seen table to 1 file/bucket every K generations
    # (Iceberg rewrite_data_files analog); None = never (sandbox scale).
    # Decision rule: the seen set accumulates n_shards files per
    # generation, and every membership anti-join opens all of them — so
    # compact when expected generations × n_shards outgrows a healthy
    # open-file count per task (~a few hundred files per bucket). Concretely:
    # crawls ≤ 64 generations → None (≤ 64 files/bucket is harmless);
    # unbounded drains / the 10^10-URL design point (hundreds-thousands of
    # generations) → set K so K+1 bounds files/bucket, e.g. K=4-16.
    # Compaction runs on the async maintenance thread (overlaps
    # fetch/extract) and rewrites O(accumulated) bytes every K generations
    # — amortized cost O(seen/K) per generation, the standard LSM trade.
    seen_compact_every: int | None = None
    # Small-wave admission fast path: when a wave's RAW candidate count
    # (known before admission runs) is at most this, the sequence
    # assigner skips range partitioning — the sampling job and the
    # per-partition count job are pure overhead for a wave that fits one
    # partition — and sorts locally inside the pinned pass instead
    # (identical output; ordering.assign_seq_counted single_partition).
    # This bounds the per-generation fixed cost on small/early waves; big
    # drain waves keep the scalable two-pass shape. 0 disables.
    # Default sizing: the bound is on RAW candidate EDGES (pre-dedup,
    # pre-seen — typically 5-10x the post-filter wave), and what actually
    # lands in the one partition is the post-filter wave: ≤1M admitted
    # rows ≈ 100-300 MB, a normal Spark partition and a sub-second local
    # sort. Raised from 65,536 in round 6: the range path's hidden
    # sampling job re-executes the admission pipeline, so the fast path
    # won the interleaved sf0.1 A/B on EVERY wave size this sandbox can
    # produce (19.0 s best vs 22.0 s best at the old default, identical
    # output). Design-point drain waves (10^8+ edges) still exceed this
    # and keep the two-pass range shape.
    seq_single_partition_max: int = 1_048_576
    max_generations: int = 64


@dataclass
class CrawlResult:
    admitted: DataFrame  # url, url_hash, host, depth, parent_url, enqueue_seq, generation
    extracted: DataFrame  # + status, markdown, title, ..., links
    metrics: DataFrame  # crawl_id, generation, name, value
    generations: int = 0
    stats: dict = field(default_factory=dict)


def _empty(spark: SparkSession, schema: T.StructType) -> DataFrame:
    return spark.createDataFrame([], schema)


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: list[str],
    cfg: CrawlConfig | None = None,
    robots: DataFrame | None = None,  # (host, rules_text)
    checkpoint_dir: str | None = None,
    resume: bool = False,
    crawl_id: str = "crawl",
) -> CrawlResult:
    cfg = cfg or CrawlConfig()
    seen = SeenSet(
        spark,
        n_shards=cfg.n_shards,
        use_bloom=cfg.use_bloom,
        compact_every=cfg.seen_compact_every,
    )
    try:
        return _run_crawl(
            spark, pages, seeds, cfg, robots, checkpoint_dir, resume, crawl_id, seen
        )
    finally:
        # the bucketed working table is crawl-local; resumable crawls
        # rebuild it from the per-generation admitted checkpoint tables
        seen.drop()


@dataclass
class _CrawlState:
    """What one generation hands the next; the phases below read and
    update it in place."""

    cand: DataFrame  # the next wave's candidates, before admission
    n_cand: int
    deferred: DataFrame | None = None  # politeness overflow, None when empty
    n_deferred: int = 0
    next_seq: int = 0
    admitted_count: int = 0
    n_generations: int = 0  # generations that produced an extracted frame
    admitted_gens: list[DataFrame] = field(default_factory=list)
    extracted_gens: list[DataFrame] = field(default_factory=list)
    metrics_rows: list[tuple] = field(default_factory=list)
    # Priority frontier (W2): per-host admitted counts, maintained
    # INCREMENTALLY — one O(wave)+O(hosts-touched) grouped agg per
    # generation, pinned by localCheckpoint. The naive alternative
    # (seen.df.groupBy("host").count() each wave) rescans the whole
    # accumulated seen table every generation and broadcasts one row per
    # distinct host — a growing cost at the 10^10-URL design point
    # (~10^7-10^8 hosts). This table's size is bounded by hosts *touched*,
    # its per-generation update cost by the wave, independent of seen size
    # (structural test: test_engine.py priority-path seen-access parity).
    host_counts: DataFrame | None = None


@dataclass(frozen=True)
class _Crawl:
    """One crawl's fixed inputs, shared by the phases below."""

    spark: SparkSession
    pages: DataFrame
    cfg: CrawlConfig
    crawl_id: str
    seen: SeenSet
    ckpt: CheckpointManager | None
    robots_b: DataFrame | None  # broadcast (host, rules_text), if given
    bundle_udf: Callable  # one parse per page: content + links share the tree
    host_job: BackgroundJob  # the priority path's host-count merges


def _run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: list[str],
    cfg: CrawlConfig,
    robots: DataFrame | None,
    checkpoint_dir: str | None,
    resume: bool,
    crawl_id: str,
    seen: SeenSet,
) -> CrawlResult:
    ckpt = CheckpointManager(checkpoint_dir) if checkpoint_dir else None
    if ckpt is not None and not resume:
        # a fresh crawl invalidates any prior chain in this directory —
        # stale committed generations would pollute read_all and hijack a
        # later resume with a higher-generation snapshot
        ckpt.reset()
    seed_host = host_of_url(seeds[0]) if cfg.same_domain else None
    cx = _Crawl(
        spark,
        pages,
        cfg,
        crawl_id,
        seen,
        ckpt,
        robots_b=F.broadcast(robots) if robots is not None else None,
        bundle_udf=make_extract_bundle_udf(
            base_domain=seed_host,
            exclude=list(cfg.exclude),
            include=list(cfg.include),
            same_domain=cfg.same_domain,
        ),
        host_job=BackgroundJob(spark),
    )
    st = _CrawlState(
        cand=spark.createDataFrame(
            [(u, 0, None, -1, j) for j, u in enumerate(seeds)], CAND_SCHEMA
        ),
        n_cand=len(seeds),
    )
    g0 = _resume(cx, st) if ckpt is not None and resume else 0

    for g in range(g0, cfg.max_generations):
        if st.n_cand == 0 and st.n_deferred == 0:
            break
        admitted_g, n_adm = None, 0
        if st.n_cand > 0:
            admitted_g, n_adm = _admit(cx, st, g)
        # fetch set (J3): this wave's admissions + earlier politeness overflow
        fetchable = admitted_g if n_adm > 0 else None
        if st.n_deferred > 0:
            d = st.deferred
            fetchable = d if fetchable is None else fetchable.unionByName(d)
        n_fetchable = n_adm + st.n_deferred
        st.deferred, st.n_deferred = None, 0
        if n_fetchable == 0:
            # nothing admitted and nothing deferred → the crawl ends; the
            # commit has no admitted table (n_adm == 0)
            st.cand, st.n_cand = _empty(spark, CAND_SCHEMA), 0
            _commit(cx, st, g, None, None)
            break
        eligible = _schedule_politeness(cx, st, g, fetchable)
        ext = _fetch_extract(cx, g, eligible, n_fetchable)
        st.extracted_gens.append(ext)
        st.n_generations += 1
        _expand(st, ext)
        _commit(cx, st, g, admitted_g, ext)

    # F-gate: the loop exits with work left only when max_generations ran
    # out (e.g. a long politeness-deferred tail). The reference's asyncio
    # loop cannot hit this (it drains the queue); a batch engine must not
    # drop the tail silently (VERDICT r1 §wrong-5).
    n_left = st.n_cand + st.n_deferred
    if n_left > 0:
        warnings.warn(
            f"crawl '{crawl_id}' stopped at max_generations="
            f"{cfg.max_generations} with {n_left} PRE-ADMISSION candidates "
            "still pending (some may be already-seen/invalid/over-depth — "
            "the count is taken before the dedup/depth filters run)",
            stacklevel=2,
        )
        st.metrics_rows.append(
            (crawl_id, cfg.max_generations, "truncated", float(n_left))
        )

    # surface any failure from the last generation's overlapped counts
    # merge (its result is never read again, but a died maintenance
    # thread must not vanish silently)
    cx.host_job.join()
    return _assemble(cx, st)


def _uses_priority(cfg: CrawlConfig) -> bool:
    # both weights 0.0 (the default) is exact reference FIFO order
    return cfg.priority_depth_weight != 0.0 or cfg.priority_host_weight != 0.0


def _bump_host_counts(st: _CrawlState, admitted_g: DataFrame) -> None:
    delta = admitted_g.groupBy("host").agg(F.count("*").alias("__host_seen"))
    if st.host_counts is not None:
        delta = (
            st.host_counts.unionByName(delta)
            .groupBy("host")
            .agg(F.sum("__host_seen").alias("__host_seen"))
        )
    st.host_counts = delta.localCheckpoint(eager=True)


def _resume(cx: _Crawl, st: _CrawlState) -> int:
    """Restore ``st`` and the seen set from the last committed generation;
    returns the generation to run next (0 when none was committed)."""
    spark, ckpt = cx.spark, cx.ckpt
    last = ckpt.last_committed()
    if last is None:
        return 0
    state = ckpt.state(last)
    st.next_seq = state["next_seq"]
    st.admitted_count = state["admitted_count"]
    # Prometheus-style metric rows survive the restart too
    st.metrics_rows = [tuple(m) for m in state.get("metrics", [])]
    st.cand = (
        ckpt.read(spark, last, "next_candidates")
        if ckpt.has_table(last, "next_candidates")
        else _empty(spark, CAND_SCHEMA)
    )
    st.n_cand = st.cand.count()
    if ckpt.has_table(last, "deferred"):
        st.deferred = ckpt.read(spark, last, "deferred")
        st.n_deferred = st.deferred.count()
    # State rebuild as ONE multi-root scan over every committed
    # generation (same shape as the final assembly, VERDICT r5
    # watch #1): a design-point resume lands after hundreds-to-
    # thousands of generations, and a per-generation read + N-ary
    # union would pay an N-deep lineage at startup. The gen lists
    # get the single-scan frame — with a checkpoint the final
    # assembly re-reads read_all anyway, so they only serve the
    # has-rows gates and the checkpoint-less in-memory path.
    st.n_generations = sum(
        1 for gg in range(last + 1) if ckpt.has_table(gg, "extracted")
    )
    prior_admitted = ckpt.read_all(spark, "admitted")
    prior_extracted = ckpt.read_all(spark, "extracted")
    if prior_admitted is not None:
        st.admitted_gens.append(prior_admitted)
        # seen set = exactly the committed admitted rows; one bulk
        # rebuild (bucketed write + distributive bloom build)
        # replaces the old per-generation seen-table checkpoint
        cx.seen.add(prior_admitted)
        if _uses_priority(cx.cfg):
            _bump_host_counts(st, prior_admitted)
    if prior_extracted is not None:
        st.extracted_gens.append(prior_extracted)
    return last + 1


def _admission_candidates(cx: _Crawl, st: _CrawlState, g: int) -> DataFrame:
    """The wave's candidates that pass the URL, depth, robots, first-wins,
    seen and host-budget gates; not yet ordered, sequenced or truncated."""
    cfg = cx.cfg
    # F8 invalid-URL guard: the reference validates every URL before
    # enqueue (pydantic HttpUrl on seeds, urlparse on links) — and
    # Spark 4's parse_url THROWS on malformed input, so an un-guarded
    # bad seed would kill the whole job. try_parse_url + scheme check
    # drops invalid rows instead (first probed via submit_crawl.py
    # with a 'not a url' seed).
    c = st.cand.filter(F.col("url").isNotNull() & F.col("url").rlike(r"^https?://"))
    c = c.filter(F.col("depth") <= F.lit(cfg.max_depth))
    c = c.withColumn(
        "host",
        F.coalesce(F.try_parse_url(F.col("url"), F.lit("HOST")), F.lit("")),
    ).filter(F.col("host") != "")
    if cfg.respect_robots and cx.robots_b is not None:
        # seeds bypass robots: the reference seeds via add_url
        # directly (crawler_service.py:117); robots gate only
        # extracted links (link_extractor.py:119-120)
        if g == 0:
            # the wave is the seed list (a resume starts at g ≥ 1):
            # skip the join and the UDF whose verdict every seed
            # ignores, keeping the join's column order
            c = c.select("host", *[x for x in c.columns if x != "host"])
        else:
            c = c.join(cx.robots_b, on="host", how="left")
            c = c.filter(
                (F.col("depth") == 0)
                | robots_allowed_udf(F.col("url"), F.col("rules_text"))
            )
            c = c.drop("rules_text")
    # first-wins inside the wave (queue_manager.py:47 under lock):
    # min-struct aggregation, NOT a row_number window — a hash agg
    # gets map-side partial aggregation, so the many duplicate
    # edges into a popular url collapse BEFORE the shuffle (a
    # window must shuffle every candidate row first). The struct
    # leads with (parent_seq, link_pos) — unique per row — so the
    # min is exactly the window's first row.
    other_cols = [f.name for f in c.schema.fields if f.name != "url"]
    c = (
        c.groupBy("url")
        .agg(
            F.min(
                F.struct(
                    "parent_seq",
                    "link_pos",
                    *[x for x in other_cols if x not in ("parent_seq", "link_pos")],
                )
            ).alias("__m")
        )
        .select("url", *[F.col(f"__m.{x}").alias(x) for x in other_cols])
    )
    c = c.withColumn("url_hash", F.xxhash64(F.col("url")))
    c = cx.seen.filter_unseen(c)
    if cfg.host_budget is not None:
        # salted two-phase cap: phase-1 ranks within (host, salt)
        # so no task sorts the mega-host's full candidate set;
        # phase-2 re-ranks the ≤ n_salts×budget survivors per host
        # (config-bounded partition). Exact vs the single-window
        # rank — politeness.py salted_host_budget_cap.
        c = salted_host_budget_cap(
            c,
            ["parent_seq", "link_pos"],
            cfg.host_budget,
            n_salts=cfg.n_salts,
        )
    return c


def _admit(cx: _Crawl, st: _CrawlState, g: int) -> tuple[DataFrame, int]:
    """Admission (F1/F2/F3/W1/W3): the gated wave, sequenced in admission
    order and truncated to the page budget, with its row count. Starts
    the seen-set (and priority host-count) maintenance for the admitted
    rows in the background."""
    cfg = cx.cfg
    # A2 queue stats: candidates entering admission this wave (the
    # batch analog of the reference's queued gauge,
    # queue_manager.py get_stats)
    st.metrics_rows.append((cx.crawl_id, g, "queued", float(st.n_cand)))
    c = _admission_candidates(cx, st, g)
    order_cols = ["parent_seq", "link_pos"]
    use_priority = _uses_priority(cfg)
    if use_priority:
        # plain equi-join on host: both sides shuffle by host —
        # O(wave + hosts touched), never a rescan of the seen set
        # and never a broadcast of ALL hosts. At sandbox scale AQE
        # auto-broadcasts the tiny counts side; at 10^8 hosts it
        # stays a shuffle join with AQE skew-split as the mega-host
        # backstop.
        cx.host_job.join()  # join the overlapped counts merge, if any
        if st.host_counts is not None:
            c = c.join(st.host_counts, on="host", how="left")
        else:
            c = c.withColumn("__host_seen", F.lit(None).cast("long"))
        c = c.withColumn(
            "priority",
            F.col("depth") * F.lit(cfg.priority_depth_weight)
            + F.coalesce(F.col("__host_seen"), F.lit(0))
            * F.lit(cfg.priority_host_weight),
        ).drop("__host_seen")
        order_cols = ["priority", *order_cols]
    remaining = None
    if cfg.max_pages is not None:
        # clamp at 0: a resume with a SMALLER max_pages than the
        # checkpoint already admitted must truncate to nothing,
        # never drive n_adm/next_seq negative
        remaining = max(0, cfg.max_pages - st.admitted_count)
        if remaining == 0:
            c = _empty(cx.spark, c.schema)
        elif remaining <= 10_000:
            # small-budget fast path: TakeOrdered truncates the
            # wave to ≤ remaining rows BEFORE the seq assigner's
            # sort+pin (a wave can exceed the budget many-fold —
            # e.g. a huge seed list with a tiny max_pages); its
            # p×k single-point merge is harmless at this k
            c = top_k(c, order_cols, remaining)
    # Budget truncation rides the sequence assigner (W3): seqs are
    # assigned to the WHOLE wave by the range-partitioned two-pass
    # sort, then `enqueue_seq < start + remaining` keeps exactly
    # the top-`remaining` in admission order — the same rows
    # orderBy+limit would keep, but as a distributed narrow filter.
    # TakeOrderedAndProject (ordering.top_k, still the right
    # primitive for small per-query top-k) funnels min(k, rows)
    # per partition through ONE merge point — at the design point
    # a 10^9-page budget would collect ~p×10^9 rows; this shape
    # never does. The per-partition count pass inside assign_seq_counted
    # doubles as the admitted-count metric — no row ever reaches
    # the driver.
    seq_df, n_all = assign_seq_counted(
        c,
        order_cols,
        start=st.next_seq,
        # n_cand bounds the post-filter wave from above; when the
        # small-budget top_k actually truncated (remaining ≤ 10k),
        # `remaining` is the tighter bound
        single_partition=(
            min(
                st.n_cand,
                remaining
                if remaining is not None and remaining <= 10_000
                else st.n_cand,
            )
            <= cfg.seq_single_partition_max
        ),
    )
    if remaining is not None and n_all > remaining:
        seq_df = seq_df.filter(F.col("enqueue_seq") < F.lit(st.next_seq + remaining))
        n_adm = remaining
    else:
        n_adm = n_all
    admitted_g = seq_df.withColumn("generation", F.lit(g))
    if use_priority:
        admitted_g = admitted_g.drop("priority")
    # no extra checkpoint: assign_seq_counted already pinned its sorted
    # parent (ordering.py localCheckpoint), so every downstream
    # consumer (seen add, fetch join, final union, commit) re-runs
    # only the cheap deterministic offset-add pandas pass — one
    # materialization job per generation instead of two
    st.next_seq += n_adm
    st.admitted_count += n_adm
    st.metrics_rows.append((cx.crawl_id, g, "admitted", float(n_adm)))
    if n_adm > 0:
        # bucketed O(delta) append + distributive bloom-delta build,
        # overlapped with this generation's fetch/extract/expand
        # (nothing below reads the seen set; the next generation's
        # filter_unseen barriers first)
        cx.seen.add_async(admitted_g)
        if use_priority:
            # the merged-counts checkpoint is an O(wave)+O(hosts-touched)
            # job, but it sat on the admission critical path — ~0.5-1 s
            # of job latency per generation that FIFO doesn't pay
            # (measured: priority 34.3 s vs FIFO 28.5 s at the sf0.1
            # bench config with the sync bump). Nothing reads host_counts
            # until the NEXT generation's admission join (behind
            # cx.host_job.join()), so it overlaps this generation's
            # fetch/extract/expand. admitted_g is already pinned
            # (assign_seq_counted localCheckpoint), so the thread re-runs only
            # the narrow offset-add pass, not the sort.
            cx.host_job.start(_bump_host_counts, st, admitted_g)
        st.admitted_gens.append(admitted_g)
        # admitted_hosts / extracted / missing metric rows are
        # computed once post-loop (single grouped agg over the
        # checkpointed unions) instead of one job per generation
    return admitted_g, n_adm


def _schedule_politeness(
    cx: _Crawl, st: _CrawlState, g: int, fetchable: DataFrame
) -> DataFrame:
    """The rows of the fetch set whose logical crawl-delay slot falls in
    this generation's window; the rest become ``st.deferred``. Without a
    window (or robots rules) every row is eligible."""
    cfg = cx.cfg
    if cfg.crawl_delay_window is None or cx.robots_b is None:
        return fetchable
    fj = fetchable.join(cx.robots_b, on="host", how="left")
    fj = fj.withColumn("crawl_delay", crawl_delay_udf(F.col("rules_text")))
    # drop rules_text BEFORE the schedule + pin (r7, VERDICT r6
    # watch #1): nothing below reads it, and carrying a per-host
    # robots body copied onto every URL through the wave-sized
    # localCheckpoint was the largest remaining per-generation
    # materialization in the politeness regime
    fj = fj.drop("rules_text")
    fj = salted_fetch_schedule(
        fj, order_cols=["depth", "enqueue_seq"], n_salts=cfg.n_salts
    )
    fj = fj.localCheckpoint(eager=True)
    eligible = fj.filter(F.col("fetch_time") < F.lit(cfg.crawl_delay_window)).drop(
        "crawl_delay", "fetch_time"
    )
    deferred = fj.filter(F.col("fetch_time") >= F.lit(cfg.crawl_delay_window)).drop(
        "crawl_delay", "fetch_time"
    )
    st.n_deferred = deferred.count()
    if st.n_deferred > 0:
        st.deferred = deferred
        st.metrics_rows.append((cx.crawl_id, g, "deferred", float(st.n_deferred)))
    return eligible


def _fetch_join(
    spark: SparkSession, pages: DataFrame, eligible: DataFrame, broadcast: bool
) -> DataFrame:
    """The frame the extraction reads: the eligible wave joined to its
    pages (hits only when ``broadcast``, else every row with a null
    ``html`` on a miss).

    A naive LEFT join cannot broadcast the (preserved) frontier side, so
    Spark would shuffle the whole pages table EVERY generation — measured
    ~15s/gen at sf0.1. The broadcast shape instead broadcasts the wave
    into an inner join (pages is only scanned, never shuffled);
    ``_fetch_extract`` recovers fetch-misses with an anti-join against
    the url column. Above the threshold — or on a real cluster — the
    answer is bucket(url) on both sides (storage-partitioned join); the
    plain shuffle join is the fallback here."""
    if not broadcast:
        return eligible.join(pages.select("url", "html"), on="url", how="left")
    hits = pages.select("url", "html").join(
        F.broadcast(eligible), on="url", how="inner"
    )
    # the inner join inherits the pages SCAN's partitioning (one
    # per input split — 128 at sf0.1), so a 20k-row wave smears
    # ~150 rows per task and the extract pass pays 128 Arrow/
    # Python-worker round-trips. Coalesce (no shuffle) to core
    # count before pinning: same scan parallelism, 4× fewer
    # extract tasks. Harmless for big waves (rows/partition stays
    # bounded by wave/cores).
    return hits.coalesce(max(2, spark.sparkContext.defaultParallelism))


def _extract_select(src: DataFrame, g: int, max_depth: int, bundle_udf) -> DataFrame:
    expand = F.col("depth") < F.lit(max_depth)
    return (
        src.withColumn(
            "e",
            F.when(
                F.col("html").isNotNull(),
                bundle_udf(F.col("html"), F.col("url")),
            ),
        )
        .withColumn(
            "links",
            F.when(expand, F.col("e.links")).otherwise(
                F.array().cast("array<string>")
            ),
        )
        .withColumn("links", F.coalesce(F.col("links"), F.array()))
        .withColumn(
            "status",
            F.when(F.col("html").isNotNull(), F.lit("extracted")).otherwise(
                F.lit("missing")
            ),
        )
        .withColumn("fetch_generation", F.lit(g))
        .select(
            "url",
            "url_hash",
            "host",
            "depth",
            "parent_url",
            "enqueue_seq",
            "generation",
            "fetch_generation",
            "status",
            F.col("e.markdown").alias("markdown"),
            F.col("e.title").alias("title"),
            F.col("e.description").alias("description"),
            F.col("e.language").alias("language"),
            F.col("e.metadata").alias("metadata"),
            F.col("e.open_graph").alias("open_graph"),
            F.col("e.twitter_card").alias("twitter_card"),
            F.col("e.meta_data").alias("meta_data"),
            F.col("e.json_ld").alias("json_ld"),
            "links",
        )
    )


def _fetch_extract(
    cx: _Crawl, g: int, eligible: DataFrame, n_fetchable: int
) -> DataFrame:
    """Fetch (J3) and extract generation ``g``'s eligible rows; the
    result is pinned and holds one row per eligible url."""
    broadcast = n_fetchable <= cx.cfg.broadcast_fetch_threshold
    src = _fetch_join(cx.spark, cx.pages, eligible, broadcast)
    # extract STRAIGHT off the join and pin only the extraction output
    # (r6): the wave's raw HTML is never materialized (it exists only
    # inside the Arrow batches of this one pass), and pages is still
    # scanned exactly once per generation.
    ext = _extract_select(src, g, cx.cfg.max_depth, cx.bundle_udf)
    ext = ext.localCheckpoint(eager=True)
    if not broadcast:
        return ext
    # Fetch-misses are recovered from the PINNED extraction output (urls
    # only), with the reference miss envelope (null bundle, empty links,
    # status='missing') built as literals.
    missed = eligible.join(F.broadcast(ext.select("url")), on="url", how="left_anti")
    _null_e = {
        "markdown": "string",
        "title": "string",
        "description": "string",
        "language": "string",
        "metadata": "map<string,string>",
        "open_graph": "map<string,string>",
        "twitter_card": "map<string,string>",
        "meta_data": "map<string,string>",
        "json_ld": "array<string>",
    }
    ext_m = missed.select(
        "url",
        "url_hash",
        "host",
        "depth",
        "parent_url",
        "enqueue_seq",
        "generation",
        F.lit(g).alias("fetch_generation"),
        F.lit("missing").alias("status"),
        *[F.lit(None).cast(t).alias(c) for c, t in _null_e.items()],
        F.array().cast("array<string>").alias("links"),
    )
    # no pin: ext_m is a cheap broadcast anti-join over pinned
    # parents; consumers re-run it narrowly
    return ext.unionByName(ext_m)


def _expand(st: _CrawlState, ext: DataFrame) -> None:
    """Link expansion: the next wave's candidates and their count."""
    st.cand = (
        ext.filter(F.size("links") > 0)
        .select(
            F.col("url").alias("parent_url"),
            F.col("enqueue_seq").alias("parent_seq"),
            (F.col("depth") + 1).alias("depth"),
            F.posexplode("links").alias("link_pos", "url"),
        )
        .select("url", "depth", "parent_url", "parent_seq", "link_pos")
    )
    # No localCheckpoint here (r4): cand's lineage is a deterministic
    # posexplode over the ALREADY-pinned ext, so every consumer (the
    # count below, the admission pipeline, a checkpoint commit) re-runs
    # only the cheap narrow explode instead of paying a wave-sized
    # materialization write+read per generation — measured 5-8% off the
    # sf0.1 crawl headline, byte-identical output (interleaved A/B,
    # 3 pairs). filter_unseen's determinism contract is satisfied by
    # the pinned parent.
    st.n_cand = st.cand.count()


def _commit(
    cx: _Crawl,
    st: _CrawlState,
    g: int,
    admitted_g: DataFrame | None,
    ext: DataFrame | None,
) -> None:
    """Snapshot generation ``g`` (no-op without a checkpoint dir): the
    next wave, this generation's admitted and extracted rows, the
    deferred tail, and the counters a resume restarts from."""
    if cx.ckpt is None:
        return
    tables = {"next_candidates": st.cand}
    if ext is not None:
        tables["extracted"] = ext
    if admitted_g is not None:
        tables["admitted"] = admitted_g
    if st.deferred is not None:
        tables["deferred"] = st.deferred
    cx.ckpt.commit(
        g,
        tables,
        {
            "next_seq": st.next_seq,
            "admitted_count": st.admitted_count,
            "metrics": st.metrics_rows,
        },
    )


def _assemble(cx: _Crawl, st: _CrawlState) -> CrawlResult:
    # Final assembly (VERDICT r4 watch #1): with a checkpoint dir the
    # committed per-generation tables already hold every admitted/extracted
    # row, so read them back as ONE partitioned scan instead of unioning N
    # localCheckpointed frames — at the 10^10-URL design point a crawl runs
    # hundreds-to-thousands of generations and an N-ary union lineage (plus
    # N live checkpoint RDD chains) is the wrong shape. The in-memory union
    # remains the checkpoint-less path (identical output, tested).
    spark, ckpt, crawl_id = cx.spark, cx.ckpt, cx.crawl_id
    admitted = extracted = None
    if ckpt is not None:
        admitted = ckpt.read_all(spark, "admitted")
        extracted = ckpt.read_all(spark, "extracted")
    if admitted is None:
        admitted = (
            _union_all(st.admitted_gens)
            if st.admitted_gens
            else _empty(
                spark,
                T.StructType(
                    list(CAND_SCHEMA.fields)
                    + [
                        T.StructField("host", T.StringType()),
                        T.StructField("url_hash", T.LongType()),
                        T.StructField("enqueue_seq", T.LongType()),
                        T.StructField("generation", T.IntegerType()),
                    ]
                ),
            )
        )
    if extracted is None:
        extracted = _union_all(st.extracted_gens) if st.extracted_gens else None

    # per-generation host/outcome metrics in ONE grouped agg each (the
    # driver sees ≤ generations×statuses scalar rows, never URL rows);
    # LAZY since r7: the aggs scan every admitted/extracted row, and a
    # caller that never reads ``metrics`` (the bench's crawl loop, any
    # pure-crawl invocation) paid ~1.5-2 s per run for rows it discarded.
    # Content and (generation, name) ordering are identical to the old
    # eager collect-and-append construction; consumers that do read
    # metrics pay the same two aggs on first action.
    metrics_schema = "crawl_id string, generation int, name string, value double"
    metrics = spark.createDataFrame(
        _metrics_rows(crawl_id, st.metrics_rows, st.admitted_gens, extracted),
        metrics_schema,
    )
    if st.admitted_gens:
        hosts_m = (
            admitted.groupBy("generation")
            .agg(F.countDistinct("host").alias("h"))
            .select(
                F.lit(crawl_id).alias("crawl_id"),
                F.col("generation").cast("int").alias("generation"),
                F.lit("admitted_hosts").alias("name"),
                F.col("h").cast("double").alias("value"),
            )
        )
        metrics = metrics.unionByName(hosts_m)
    if extracted is not None:
        status = extracted.groupBy("fetch_generation", "status").count()
        status_m = status.select(
            F.lit(crawl_id).alias("crawl_id"),
            F.col("fetch_generation").cast("int").alias("generation"),
            F.col("status").alias("name"),
            F.col("count").cast("double").alias("value"),
        )
        # A2: cumulative processed pages through each generation (the
        # reference's completed counter) — a running sum over ≤
        # max_generations scalar rows (single tiny window partition)
        completed_m = (
            status.groupBy("fetch_generation")
            .agg(F.sum("count").alias("done"))
            .select(
                F.lit(crawl_id).alias("crawl_id"),
                F.col("fetch_generation").cast("int").alias("generation"),
                F.lit("completed").alias("name"),
                F.sum("done")
                .over(Window.orderBy("fetch_generation"))
                .cast("double")
                .alias("value"),
            )
        )
        metrics = metrics.unionByName(status_m).unionByName(completed_m)
    metrics = metrics.orderBy("generation", "name")
    return CrawlResult(
        admitted=admitted,
        extracted=extracted,
        metrics=metrics,
        generations=st.n_generations,
        stats={"admitted": st.admitted_count, "next_seq": st.next_seq},
    )


def _metrics_rows(
    crawl_id: str,
    metrics_rows: list[tuple],
    admitted_gens: list[DataFrame],
    extracted: DataFrame | None,
) -> list[tuple]:
    """The driver-side metrics rows in (generation, name) order. A crawl
    with no metrics at all gets the one sentinel row (crawl_id, -1,
    'admitted', 0.0); the sentinel never sits next to real rows, including
    the admitted_hosts/status/completed rows aggregated from
    ``admitted_gens`` and ``extracted``."""
    rows = sorted(metrics_rows, key=lambda m: (m[1], m[2]))
    if not rows and not admitted_gens and extracted is None:
        rows = [(crawl_id, -1, "admitted", 0.0)]
    return rows


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out
