"""End-to-end engine equivalence vs the pure-Python reference simulator
(SURVEY.md §5.3), plus checkpoint/resume, politeness, and Bloom-filter
behavior. Runs on the sf0.001 corpus (500 pages, 8 hosts)."""

import re

import pytest
from pyspark.sql import functions as F

from eget_crawler_for_overflow_spark import pagemodel as pm
from eget_crawler_for_overflow_spark.fixtures import load_pages
from eget_crawler_for_overflow_spark.functions.robots import robots_allowed
from eget_crawler_for_overflow_spark.operators.frontier import (
    CrawlConfig,
    run_crawl,
)
from tests.reference_sim import simulate_crawl

SF = "/root/testdata/sf0.001"
N_PAGES, N_HOSTS = 500, 8


def make_links_of(exclude=(), include=(), robots_rules=None):
    url2i = {pm.url_of(i, N_HOSTS): i for i in range(N_PAGES)}
    exc = [re.compile(p) for p in exclude]
    inc = [re.compile(p) for p in include]

    def links_of(u):
        i = url2i.get(u)
        if i is None:
            return []
        out = []
        for v in pm.expected_links(i, N_PAGES, N_HOSTS):
            if exc and any(p.search(v) for p in exc):
                continue
            if inc and not any(p.search(v) for p in inc):
                continue
            if robots_rules is not None:
                host = v.split("/")[2]
                if not robots_allowed(v, robots_rules.get(host)):
                    continue
            out.append(v)
        return out

    return links_of


def seeds_host0(n=3):
    return [pm.url_of(i, N_HOSTS) for i in (0, 2, 4, 5, 7)][:n]


def run_and_order(spark, pages, seeds, cfg, **kw):
    res = run_crawl(spark, pages, seeds, cfg, **kw)
    rows = res.admitted.orderBy("enqueue_seq").collect()
    return res, [(r["url"], r["depth"], r["enqueue_seq"]) for r in rows]


def expect(seeds, links_of, max_depth, max_pages=None):
    sim = simulate_crawl(seeds, links_of, max_depth, max_pages)
    return [(u, d, s) for s, (u, d) in enumerate(sim)]


@pytest.fixture(scope="module")
def pages(spark):
    return load_pages(spark, SF)


def test_bfs_order_matches_reference(spark, pages):
    cfg = CrawlConfig(max_depth=4, max_pages=None)
    _, got = run_and_order(spark, pages, seeds_host0(), cfg)
    assert got == expect(seeds_host0(), make_links_of(), 4)
    assert len(got) > 20


def test_budget_truncation_first_wins(spark, pages):
    cfg = CrawlConfig(max_depth=6, max_pages=15)
    _, got = run_and_order(spark, pages, seeds_host0(), cfg)
    assert got == expect(seeds_host0(), make_links_of(), 6, 15)
    assert len(got) == 15


def test_duplicate_seeds_deduped(spark, pages):
    seeds = [seeds_host0(1)[0]] * 3 + seeds_host0(2)
    cfg = CrawlConfig(max_depth=2, max_pages=None)
    _, got = run_and_order(spark, pages, seeds, cfg)
    assert got == expect(seeds, make_links_of(), 2)


def test_exclude_include_patterns(spark, pages):
    exclude = (r"/p/\d*[02468]$",)
    cfg = CrawlConfig(max_depth=5, max_pages=None, exclude=exclude)
    _, got = run_and_order(spark, pages, seeds_host0(), cfg)
    assert got == expect(seeds_host0(), make_links_of(exclude=exclude), 5)


def test_depth_zero_and_one(spark, pages):
    for d in (0, 1):
        cfg = CrawlConfig(max_depth=d, max_pages=None)
        _, got = run_and_order(spark, pages, seeds_host0(), cfg)
        assert got == expect(seeds_host0(), make_links_of(), d), f"depth {d}"


ROBOTS = {
    "host0.example": "User-agent: *\nDisallow: /nav\nCrawl-delay: 2",
    "host1.example": "User-agent: *\nDisallow: /",
}


def test_robots_filtering(spark, pages):
    robots_df = spark.createDataFrame(
        list(ROBOTS.items()), "host string, rules_text string"
    )
    cfg = CrawlConfig(max_depth=4, max_pages=None, respect_robots=True)
    _, got = run_and_order(spark, pages, seeds_host0(), cfg, robots=robots_df)
    assert got == expect(seeds_host0(), make_links_of(robots_rules=ROBOTS), 4)
    assert all("/nav" not in u for u, _, _ in got)


def test_politeness_defers_but_preserves_set(spark, pages):
    robots_df = spark.createDataFrame(
        list(ROBOTS.items()), "host string, rules_text string"
    )
    base = CrawlConfig(max_depth=3, max_pages=None, respect_robots=True)
    res_plain = run_crawl(spark, pages, seeds_host0(), base, robots=robots_df)
    polite = CrawlConfig(
        max_depth=3,
        max_pages=None,
        respect_robots=True,
        crawl_delay_window=8.0,  # host0 delay=2 → ≤4 fetches/host/generation
        n_salts=2,
        max_generations=64,
    )
    res_pol = run_crawl(spark, pages, seeds_host0(), polite, robots=robots_df)
    plain_set = {(r["url"], r["depth"]) for r in res_plain.admitted.collect()}
    pol_set = {(r["url"], r["depth"]) for r in res_pol.admitted.collect()}
    assert plain_set == pol_set  # politeness reschedules, never drops
    per_gen_host = (
        res_pol.extracted.groupBy("fetch_generation", "host").count().collect()
    )
    host0 = [r for r in per_gen_host if r["host"] == "host0.example"]
    assert host0 and all(r["count"] <= 4 for r in host0)
    assert res_pol.generations > res_plain.generations  # deferral happened


def test_checkpoint_resume_identical(spark, pages, tmp_path):
    cfg_full = CrawlConfig(max_depth=4, max_pages=None)
    full = run_crawl(spark, pages, seeds_host0(), cfg_full)
    want = sorted(
        (r["url"], r["depth"], r["enqueue_seq"]) for r in full.admitted.collect()
    )

    ck = str(tmp_path / "ckpt")
    cfg_half = CrawlConfig(max_depth=4, max_pages=None, max_generations=2)
    run_crawl(spark, pages, seeds_host0(), cfg_half, checkpoint_dir=ck)
    resumed = run_crawl(
        spark,
        pages,
        seeds_host0(),
        CrawlConfig(max_depth=4, max_pages=None),
        checkpoint_dir=ck,
        resume=True,
    )
    got = sorted(
        (r["url"], r["depth"], r["enqueue_seq"]) for r in resumed.admitted.collect()
    )
    assert got == want


def test_bloom_and_exact_paths_agree(spark, pages):
    got = {}
    for bloom in (True, False):
        cfg = CrawlConfig(max_depth=4, max_pages=None, use_bloom=bloom)
        _, order = run_and_order(spark, pages, seeds_host0(), cfg)
        got[bloom] = order
    assert got[True] == got[False]


def test_extracted_markdown_byte_identical_to_pages(spark, pages):
    cfg = CrawlConfig(max_depth=3, max_pages=None)
    res = run_crawl(spark, pages, seeds_host0(), cfg)
    joined = res.extracted.filter(F.col("status") == "extracted").join(
        pages.select("url", "text"), on="url"
    )
    n_bad = joined.filter(F.col("markdown") != F.col("text")).count()
    assert n_bad == 0
    assert joined.count() > 10


def test_combined_config_matches_reference(spark, pages):
    """Everything at once: robots + exclude pattern + budget + depth —
    the admitted sequence must still equal the reference loop's."""
    robots_df = spark.createDataFrame(
        list(ROBOTS.items()), "host string, rules_text string"
    )
    exclude = (r"/p/\d*7$",)
    cfg = CrawlConfig(
        max_depth=5, max_pages=25, respect_robots=True, exclude=exclude
    )
    _, got = run_and_order(spark, pages, seeds_host0(), cfg, robots=robots_df)
    assert got == expect(
        seeds_host0(),
        make_links_of(exclude=exclude, robots_rules=ROBOTS),
        5,
        25,
    )


def test_resume_with_politeness_deferred(spark, pages, tmp_path):
    """Kill mid-crawl while fetches are deferred; the resumed crawl must
    land on the same admitted set and extract everything eventually, with
    metrics rows surviving the restart."""
    robots_df = spark.createDataFrame(
        list(ROBOTS.items()), "host string, rules_text string"
    )

    def mk(max_gens):
        return CrawlConfig(
            max_depth=3,
            max_pages=None,
            respect_robots=True,
            crawl_delay_window=8.0,
            n_salts=2,
            max_generations=max_gens,
        )

    uninterrupted = run_crawl(
        spark, pages, seeds_host0(), mk(64), robots=robots_df
    )
    want = sorted((r["url"], r["depth"]) for r in uninterrupted.admitted.collect())
    want_extracted = uninterrupted.extracted.filter(
        F.col("status") == "extracted"
    ).count()

    ck = str(tmp_path / "ckpt_polite")
    partial = run_crawl(
        spark, pages, seeds_host0(), mk(3), robots=robots_df, checkpoint_dir=ck
    )
    assert partial.generations == 3  # stopped early, deferred rows pending
    resumed = run_crawl(
        spark,
        pages,
        seeds_host0(),
        mk(64),
        robots=robots_df,
        checkpoint_dir=ck,
        resume=True,
    )
    got = sorted((r["url"], r["depth"]) for r in resumed.admitted.collect())
    assert got == want
    assert (
        resumed.extracted.filter(F.col("status") == "extracted").count()
        == want_extracted
    )
    # metrics from pre-restart generations are still present
    gens_in_metrics = {
        r["generation"]
        for r in resumed.metrics.filter(F.col("name") == "admitted").collect()
    }
    assert 0 in gens_in_metrics and 1 in gens_in_metrics


def test_priority_with_politeness_preserves_set(spark, pages):
    """Priority weights combined with crawl-delay windows: priority only
    REORDERS admission within waves and politeness only DEFERS fetches —
    neither may change the admitted (url, depth) SET of the plain crawl
    (VERDICT r2 §next-8 follow-on / ROADMAP r3 §gap-5)."""
    robots_df = spark.createDataFrame(
        [("host0.example", "User-agent: *\nCrawl-delay: 2")],
        "host string, rules_text string",
    )
    seeds = seeds_host0()
    plain = CrawlConfig(max_depth=3, max_pages=None, same_domain=False)
    combo = CrawlConfig(
        max_depth=3,
        max_pages=None,
        same_domain=False,
        respect_robots=True,
        crawl_delay_window=8.0,
        n_salts=2,
        max_generations=64,
        priority_depth_weight=0.25,
        priority_host_weight=1.0,
    )
    res_plain = run_crawl(spark, pages, seeds, plain)
    res_combo = run_crawl(spark, pages, seeds, combo, robots=robots_df)
    plain_set = {(r["url"], r["depth"]) for r in res_plain.admitted.collect()}
    combo_set = {(r["url"], r["depth"]) for r in res_combo.admitted.collect()}
    assert plain_set == combo_set
    # the deferral actually engaged (host0 carries ~50% of pages)
    assert res_combo.generations >= res_plain.generations
    # and priority actually reordered at least one wave: within some
    # generation the enqueue_seq order must differ from plain FIFO order
    plain_order = [
        r["url"]
        for r in res_plain.admitted.orderBy("enqueue_seq").collect()
    ]
    combo_order = [
        r["url"]
        for r in res_combo.admitted.orderBy("enqueue_seq").collect()
    ]
    assert plain_order != combo_order


def test_priority_path_never_rescans_seen(spark, pages, monkeypatch):
    """VERDICT r3 'weak' item: the priority frontier must not aggregate the
    accumulated seen table per generation (its per-host counts are
    maintained incrementally from each wave's admitted rows). Structural
    proof: the number of seen-table reads (``SeenSet.df`` accesses) during
    a priority crawl EQUALS the FIFO crawl's — priority adds zero reads of
    the accumulated set, so its cost is independent of seen size."""
    from eget_crawler_for_overflow_spark.operators import seen as seen_mod

    counts = {"n": 0}
    orig = seen_mod.SeenSet.df.fget

    def counting_df(self):
        counts["n"] += 1
        return orig(self)

    monkeypatch.setattr(seen_mod.SeenSet, "df", property(counting_df))
    seeds = seeds_host0()
    fifo = CrawlConfig(max_depth=2, max_pages=None, same_domain=False)
    res_f = run_crawl(spark, pages, seeds, fifo)
    n_fifo_rows = res_f.admitted.count()
    fifo_reads = counts["n"]
    counts["n"] = 0
    prio = CrawlConfig(
        max_depth=2,
        max_pages=None,
        same_domain=False,
        priority_depth_weight=0.25,
        priority_host_weight=1.0,
    )
    res_p = run_crawl(spark, pages, seeds, prio)
    assert res_p.admitted.count() == n_fifo_rows
    assert counts["n"] == fifo_reads, (
        f"priority path read seen.df {counts['n']}x vs FIFO {fifo_reads}x"
    )


def test_salted_host_budget_exact_and_bounded(spark, pages):
    """VERDICT r3 item 2: the host-budget cap must (a) equal the single
    per-host window rank exactly and (b) never hand one task more than
    ~1/n_salts of the mega-host's candidates (host0 owns ~50% of the
    corpus by construction)."""
    from pyspark.sql import Window

    from eget_crawler_for_overflow_spark.operators.politeness import (
        salted_host_budget_cap,
    )

    cand = (
        pages.select(
            F.col("url"),
            F.coalesce(
                F.try_parse_url(F.col("url"), F.lit("HOST")), F.lit("")
            ).alias("host"),
            F.xxhash64("url").alias("parent_seq"),
            (F.xxhash64("url", F.lit(1)) % 100).alias("link_pos"),
        )
    )
    budget, n_salts = 7, 4
    got = salted_host_budget_cap(
        cand, ["parent_seq", "link_pos"], budget, n_salts=n_salts
    )
    w = Window.partitionBy("host").orderBy("parent_seq", "link_pos")
    want = (
        cand.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= budget)
        .drop("__r")
    )
    assert sorted(got.collect()) == sorted(want.collect())
    # skew bound: phase-1 groups are (host, salt); the biggest group of
    # the mega-host must hold well under its full candidate set
    salt = F.pmod(F.xxhash64(F.col("url")), F.lit(n_salts))
    sizes = (
        cand.groupBy("host", salt.alias("salt"))
        .count()
        .groupBy("host")
        .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
        .orderBy(F.desc("tot"))
        .first()
    )
    assert sizes["mx"] <= 2 * sizes["tot"] / n_salts


def test_host_budget_through_engine_on_skewed_corpus(spark, pages):
    """Engine-level: a crawl with host_budget set on the skewed corpus
    stays deterministic and honors the per-wave per-host cap."""
    seeds = seeds_host0()
    cfg = CrawlConfig(
        max_depth=2,
        max_pages=None,
        same_domain=False,
        host_budget=5,
        n_salts=4,
    )
    res = run_crawl(spark, pages, seeds, cfg)
    per = (
        res.admitted.groupBy("generation", "host")
        .count()
        .agg(F.max("count").alias("mx"))
        .first()
    )
    assert per["mx"] <= 5
    # deterministic across runs
    res2 = run_crawl(spark, pages, seeds, cfg)
    a = sorted(res.admitted.select("url", "enqueue_seq").collect())
    b = sorted(res2.admitted.select("url", "enqueue_seq").collect())
    assert a == b


def test_resume_priority_preserves_order(spark, pages, tmp_path):
    """Resume path for the priority frontier (r4): the incremental
    per-host counts are rebuilt from the committed admitted generations,
    so a killed-and-resumed priority crawl must reproduce the
    uninterrupted run's admission ORDER exactly (seqs, not just the set)."""

    def mk(max_gens):
        return CrawlConfig(
            max_depth=3,
            max_pages=None,
            same_domain=False,
            priority_depth_weight=0.25,
            priority_host_weight=1.0,
            max_generations=max_gens,
        )

    want_res = run_crawl(spark, pages, seeds_host0(), mk(64))
    want = sorted(
        (r["url"], r["depth"], r["enqueue_seq"])
        for r in want_res.admitted.collect()
    )
    ck = str(tmp_path / "ckpt_prio")
    partial = run_crawl(spark, pages, seeds_host0(), mk(2), checkpoint_dir=ck)
    assert partial.generations == 2  # stopped before the depth-3 wave
    resumed = run_crawl(
        spark, pages, seeds_host0(), mk(64), checkpoint_dir=ck, resume=True
    )
    got = sorted(
        (r["url"], r["depth"], r["enqueue_seq"])
        for r in resumed.admitted.collect()
    )
    assert got == want


def test_resume_with_smaller_budget_never_goes_negative(spark, pages, tmp_path):
    """Resuming a checkpointed crawl with a SMALLER max_pages than the
    checkpoint already admitted must truncate to nothing — never drive
    n_adm/next_seq negative (checkpoint-state corruption, seq reuse)."""
    ck = str(tmp_path / "ckpt_shrink")
    big = CrawlConfig(max_depth=3, max_pages=20, max_generations=2)
    first = run_crawl(spark, pages, seeds_host0(), big, checkpoint_dir=ck)
    n_first = first.admitted.count()
    assert n_first > 5  # enough committed rows to shrink below
    small = CrawlConfig(
        max_depth=3, max_pages=n_first - 5, max_generations=64
    )
    resumed = run_crawl(
        spark, pages, seeds_host0(), small, checkpoint_dir=ck, resume=True
    )
    # nothing new admitted; the committed rows are untouched
    assert resumed.admitted.count() == n_first
    assert resumed.stats["admitted"] == n_first
    assert resumed.stats["next_seq"] == n_first
    neg = resumed.metrics.filter(
        (F.col("name") == "admitted") & (F.col("value") < 0)
    ).count()
    assert neg == 0
    seqs = sorted(r["enqueue_seq"] for r in resumed.admitted.collect())
    assert seqs == list(range(n_first))  # no seq reuse


def test_huge_seed_list_tiny_budget_exact(spark, pages):
    """Budget fast path (wave ≫ remaining): a seed list far larger than
    max_pages truncates to exactly the first max_pages seeds in order."""
    seeds = [pm.url_of(i, N_HOSTS) for i in range(400)]
    cfg = CrawlConfig(max_depth=1, max_pages=7, same_domain=False)
    res = run_crawl(spark, pages, seeds, cfg)
    got = [
        r["url"]
        for r in res.admitted.orderBy("enqueue_seq").collect()
    ]
    assert got == seeds[:7]


def test_checkpointed_final_union_is_one_scan(spark, pages, tmp_path):
    """Design-point final assembly (VERDICT r4 watch #1): with a checkpoint
    dir, the final admitted/extracted frames come from ONE partitioned read
    of the committed per-generation tables — not an N-ary in-memory union
    holding N localCheckpoint chains. A 70-leaf single-host star with
    Crawl-delay 2 / window 2 / 1 salt drains ONE fetch per generation, so
    the crawl runs 70+ generations; output must be identical to the
    checkpoint-less path."""
    from eget_crawler_for_overflow_spark.plans.explain import plan_text

    n_leaves = 70
    seed_url = "https://host0.example/p/0"
    leaf = "<html><body>leaf</body></html>".encode()
    hub = (
        "<html><body>"
        + "".join(
            f'<a href="https://host0.example/p/{i}">x</a>'
            for i in range(1, n_leaves + 1)
        )
        + "</body></html>"
    ).encode()
    star = spark.createDataFrame(
        [(seed_url, bytearray(hub))]
        + [
            (f"https://host0.example/p/{i}", bytearray(leaf))
            for i in range(1, n_leaves + 1)
        ],
        "url string, html binary",
    )
    robots_df = spark.createDataFrame(
        [("host0.example", "User-agent: *\nCrawl-delay: 2")],
        "host string, rules_text string",
    )
    cfg = CrawlConfig(
        max_depth=1,
        max_pages=None,
        respect_robots=True,
        crawl_delay_window=2.0,
        n_salts=1,
        max_generations=256,
    )
    mem = run_crawl(spark, star, [seed_url], cfg, robots=robots_df)
    ck = str(tmp_path / "ckpt_scan")
    cpt = run_crawl(
        spark, star, [seed_url], cfg, robots=robots_df, checkpoint_dir=ck
    )
    assert cpt.generations >= 64, cpt.generations

    for df in (cpt.admitted, cpt.extracted):
        txt = plan_text(df, mode="simple")
        assert txt.count("Scan parquet") == 1, txt
        assert "Union" not in txt, txt

    want = sorted(
        (r["url"], r["depth"], r["enqueue_seq"])
        for r in mem.admitted.collect()
    )
    got = sorted(
        (r["url"], r["depth"], r["enqueue_seq"])
        for r in cpt.admitted.collect()
    )
    assert got == want
    assert sorted(
        (r["url"], r["status"]) for r in cpt.extracted.collect()
    ) == sorted((r["url"], r["status"]) for r in mem.extracted.collect())

    # a FRESH (non-resume) crawl in the same dir wipes the stale chain:
    # no generations from the 64-gen run may leak into this 2-gen one
    cfg2 = CrawlConfig(max_depth=1, max_pages=None)
    fresh = run_crawl(
        spark, pages, seeds_host0(1), cfg2, checkpoint_dir=ck
    )
    mem2 = run_crawl(spark, pages, seeds_host0(1), cfg2)
    assert sorted(
        (r["url"], r["depth"]) for r in fresh.admitted.collect()
    ) == sorted((r["url"], r["depth"]) for r in mem2.admitted.collect())


def test_priority_counts_merge_failure_surfaces(spark, pages, monkeypatch):
    """The priority host-counts merge runs on a maintenance thread
    overlapped with fetch/extract (round 5); a failure there must
    surface at the next host_job.join(), never vanish with the daemon
    thread. Induce one deterministically: the counts frame is the only
    localCheckpoint target carrying the __host_seen column. (Patch the
    RUNTIME class — pyspark.sql.classic.dataframe.DataFrame — not the
    pyspark.sql.DataFrame base, whose method Spark 4 overrides.)"""
    cls = type(pages)

    orig = cls.localCheckpoint

    def failing(self, eager=True):
        if "__host_seen" in self.columns:
            raise RuntimeError("induced counts-merge failure")
        return orig(self, eager=eager)

    monkeypatch.setattr(cls, "localCheckpoint", failing)
    prio = CrawlConfig(
        max_depth=2,
        max_pages=None,
        same_domain=False,
        priority_depth_weight=0.25,
        priority_host_weight=1.0,
    )
    with pytest.raises(RuntimeError, match="induced counts-merge"):
        run_crawl(spark, pages, seeds_host0(), prio)


def test_seen_append_failure_surfaces(spark, pages, monkeypatch):
    """The seen set's append runs on a maintenance thread overlapped with
    fetch/extract; a failure there must surface at the next generation's
    barrier (filter_unseen), stopping the crawl, never vanish with the
    daemon thread. Induced in the bucketed append's writer, which only
    the seen set uses (``saveAsTable`` on an ``eget_seen_*`` table)."""
    writer_cls = type(pages.write)
    orig = writer_cls.saveAsTable
    appends = []

    def failing(self, name, *args, **kwargs):
        if name.startswith("eget_seen_"):
            appends.append(name)
            raise RuntimeError("induced seen-append failure")
        return orig(self, name, *args, **kwargs)

    monkeypatch.setattr(writer_cls, "saveAsTable", failing)
    cfg = CrawlConfig(max_depth=2, max_pages=None)
    with pytest.raises(RuntimeError, match="induced seen-append"):
        run_crawl(spark, pages, seeds_host0(), cfg)
    # raised at generation 1's barrier: no later generation appended
    assert len(appends) == 1


def test_background_job_joins_previous_and_reraises_once(spark):
    import time

    from eget_crawler_for_overflow_spark.operators.background import (
        BackgroundJob,
    )

    job = BackgroundJob(spark)
    events = []

    def slow():
        time.sleep(0.2)
        events.append("slow")

    def fast():
        events.append("fast")

    def boom():
        raise RuntimeError("induced job failure")

    # start() waits for the running job before launching the next
    job.start(slow)
    job.start(fast)
    job.join()
    assert events == ["slow", "fast"]

    # join() re-raises a failure once, then it is cleared
    job.start(boom)
    with pytest.raises(RuntimeError, match="induced job failure"):
        job.join()
    job.join()

    # start() surfaces the previous job's failure instead of starting
    job.start(boom)
    with pytest.raises(RuntimeError, match="induced job failure"):
        job.start(fast)
    job.join()
    assert events == ["slow", "fast"]

    # the job thread inherits the caller's Spark local properties
    sc = spark.sparkContext
    sc.setLocalProperty("eget.test.prop", "inherited")
    try:
        seen_prop = []
        job.start(lambda: seen_prop.append(sc.getLocalProperty("eget.test.prop")))
        job.join()
    finally:
        sc.setLocalProperty("eget.test.prop", None)
    assert seen_prop == ["inherited"]


def test_many_generation_resume_rebuilds_state_in_one_scan(
    spark, pages, tmp_path, monkeypatch
):
    """Design-point resume (VERDICT r5 watch #1): after many committed
    generations, the resume path must rebuild the seen set / gen frames
    from ONE multi-root scan over the committed admitted/extracted tables
    — never a per-generation read + N-ary union (the shape the final
    assembly already eliminated). Same 70-leaf politeness-stretched star
    as test_checkpointed_final_union_is_one_scan, interrupted at
    generation 40 and resumed; output must equal the uninterrupted run.
    The plans are taken from every frame ``CheckpointManager.read_all``
    hands the resumed run."""
    from eget_crawler_for_overflow_spark.plans.explain import plan_text
    from eget_crawler_for_overflow_spark.sources.checkpoint import (
        CheckpointManager,
    )

    n_leaves = 70
    seed_url = "https://host0.example/p/0"
    leaf = b"<html><body>leaf</body></html>"
    hub = (
        "<html><body>"
        + "".join(
            f'<a href="https://host0.example/p/{i}">x</a>'
            for i in range(1, n_leaves + 1)
        )
        + "</body></html>"
    ).encode()
    star = spark.createDataFrame(
        [(seed_url, bytearray(hub))]
        + [
            (f"https://host0.example/p/{i}", bytearray(leaf))
            for i in range(1, n_leaves + 1)
        ],
        "url string, html binary",
    )
    robots_df = spark.createDataFrame(
        [("host0.example", "User-agent: *\nCrawl-delay: 2")],
        "host string, rules_text string",
    )

    def cfg(max_gens):
        return CrawlConfig(
            max_depth=1,
            max_pages=None,
            respect_robots=True,
            crawl_delay_window=2.0,
            n_salts=1,
            max_generations=max_gens,
        )

    full = run_crawl(spark, star, [seed_url], cfg(256), robots=robots_df)
    want = sorted(
        (r["url"], r["depth"], r["enqueue_seq"])
        for r in full.admitted.collect()
    )

    ck = str(tmp_path / "ckpt_resume_scan")
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # truncated-crawl warning expected
        run_crawl(
            spark, star, [seed_url], cfg(40), robots=robots_df,
            checkpoint_dir=ck,
        )
    plans = []
    read_all = CheckpointManager.read_all

    def recording_read_all(self, spark_, name):
        df = read_all(self, spark_, name)
        if df is not None:
            plans.append(plan_text(df, mode="simple"))
        return df

    monkeypatch.setattr(CheckpointManager, "read_all", recording_read_all)
    resumed = run_crawl(
        spark, star, [seed_url], cfg(256), robots=robots_df,
        checkpoint_dir=ck, resume=True,
    )

    # admitted + extracted, once for the resume rebuild and once for the
    # final assembly
    assert len(plans) == 4
    for txt in plans:
        assert txt.count("Scan parquet") == 1, txt
        assert "Union" not in txt, txt

    got = sorted(
        (r["url"], r["depth"], r["enqueue_seq"])
        for r in resumed.admitted.collect()
    )
    assert got == want
    assert resumed.generations == full.generations


def test_seq_single_partition_fastpath_identical(spark, pages):
    """The small-wave admission fast path (ordering.assign_seq_counted
    single_partition) must produce byte-identical admission order to the
    range-partitioned two-pass — forced ON vs forced OFF over the same
    multi-host crawl, plain FIFO and priority keys."""
    seeds = seeds_host0()
    for prio in (0.0, 1.0):
        got = {}
        for thresh in (0, 1 << 30):
            cfg = CrawlConfig(
                max_depth=4,
                max_pages=None,
                same_domain=False,
                priority_host_weight=prio,
                seq_single_partition_max=thresh,
            )
            res = run_crawl(spark, pages, seeds, cfg)
            got[thresh] = sorted(
                (r["url"], r["depth"], r["enqueue_seq"])
                for r in res.admitted.collect()
            )
        assert got[0] == got[1 << 30]


def test_assign_seq_single_partition_matches_two_pass(spark):
    """Unit-level A/B on the assigner itself: the fast path's JVM position
    over one sorted partition against the two-pass path's Arrow batches
    (batch-boundary pos accumulation), rows and schema."""
    from eget_crawler_for_overflow_spark.operators.ordering import (
        assign_seq_counted,
    )

    rows = [((i * 2654435761) % 100003, i) for i in range(25_000)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(16)
    a, na = assign_seq_counted(df, ["k"], start=7, single_partition=False)
    b, nb = assign_seq_counted(df, ["k"], start=7, single_partition=True)
    assert na == nb == 25_000
    assert a.schema == b.schema
    ra = sorted((r["k"], r["v"], r["enqueue_seq"]) for r in a.collect())
    rb = sorted((r["k"], r["v"], r["enqueue_seq"]) for r in b.collect())
    assert ra == rb
    assert b.rdd.getNumPartitions() == 1


def test_fetch_extract_single_pin_identical(spark, pages):
    """Fetch shape: extract straight off the broadcast join, pin only the
    extraction output and rebuild the misses from it. Every ``missing`` row
    carries the reference miss envelope (null bundle, empty links) for a url
    no page has; every ``extracted`` row's markdown is its page's text."""
    cfg = CrawlConfig(max_depth=4, max_pages=None, same_domain=False)
    res = run_crawl(spark, pages, seeds_host0(), cfg)
    bundle = (
        "markdown title description language metadata open_graph "
        "twitter_card meta_data json_ld"
    ).split()
    texts = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    rows = res.extracted.collect()
    missing = [r for r in rows if r["status"] == "missing"]
    extracted = [r for r in rows if r["status"] == "extracted"]
    assert missing and extracted
    assert len(missing) + len(extracted) == len(rows)
    for r in missing:
        assert r["url"] not in texts, r["url"]
        assert all(r[c] is None for c in bundle), r
        assert r["links"] == [], r
    for r in extracted:
        assert r["markdown"] == texts[r["url"]], r["url"]


def test_metrics_sentinel_only_when_crawl_has_no_metrics():
    """The (crawl_id, -1, 'admitted', 0.0) sentinel stands in for an empty
    metrics frame only: never next to driver-side rows, nor next to the
    rows aggregated later from admitted or extracted pages."""
    from eget_crawler_for_overflow_spark.operators.frontier import _metrics_rows

    sentinel = [("c", -1, "admitted", 0.0)]
    assert _metrics_rows("c", [], [], None) == sentinel
    some_frame = object()  # only its presence matters to the gate
    assert _metrics_rows("c", [], [some_frame], None) == []
    assert _metrics_rows("c", [], [], some_frame) == []
    rows = [("c", 1, "queued", 3.0), ("c", 0, "queued", 1.0), ("c", 0, "admitted", 1.0)]
    assert _metrics_rows("c", rows, [], None) == sorted(rows, key=lambda m: (m[1], m[2]))
