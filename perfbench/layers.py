"""Per-layer metrics for the traced run.

``install`` puts spans around the engine's public functions (module and
class attributes, replaced from here); ``layer_metrics`` turns the spans of
one traced operation into the per-layer numbers. A layer the workload never
calls reports 0. ``kernel_metrics`` times the Python kernels in this process
without Spark, and ``scaling_pair`` times the extract stage at local[1]
against local[<cores>].
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from tracing import Tracer, sum_dur

CAND_COLS = {"url", "depth", "parent_url", "parent_seq", "link_pos"}


def install(tracer: Tracer) -> None:
    from eget_crawler_for_overflow_spark.operators import frontier, seen
    from eget_crawler_for_overflow_spark.sources import checkpoint

    tracer.wrap(
        frontier, "run_crawl", "frontier.run_crawl",
        lambda args, kw: {"resume": bool(kw.get("resume"))},
    )
    tracer.wrap(frontier, "assign_seq_counted", "ordering.assign_seq_counted")
    # the politeness functions as the crawl loop imported them
    tracer.wrap(frontier, "salted_fetch_schedule", "politeness.salted_fetch_schedule")
    tracer.wrap(frontier, "salted_host_budget_cap", "politeness.salted_host_budget_cap")
    for m in ("filter_unseen", "add", "barrier"):
        tracer.wrap(seen.SeenSet, m, f"seen.{m}")
    for m in ("commit", "read_all", "state"):
        tracer.wrap(checkpoint.CheckpointManager, m, f"checkpoint.{m}")
    tracer.wrap_actions()


def _metric_sum(results, name: str) -> float:
    """Sum of one row name of the crawls' ``metrics`` frames."""
    total = 0.0
    for res in results:
        r = res.metrics.filter(F.col("name") == name).agg(F.sum("value")).collect()[0][0]
        total += float(r or 0.0)
    return total


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def layer_metrics(tr: Tracer, op_span, out, jc: dict, wl) -> dict[str, tuple[float, str]]:
    m: dict[str, tuple[float, str]] = {}
    runs = tr.named("frontier.run_crawl")
    main = op_span.thread

    def actions(kind: str, has_col: str | None = None, cols: set | None = None):
        return [
            s
            for s in tr.named(f"action.{kind}@operators.frontier")
            if (has_col is None or has_col in s.attrs.get("cols", ()))
            and (cols is None or set(s.attrs.get("cols", ())) == cols)
        ]

    crawl_s = sum_dur(runs)
    self_s = sum(tr.self_time(s) for s in runs)
    gens = sum(r.generations for r in out.crawls)
    m["frontier.gens"] = (gens, "count")
    for k in ("jobs", "stages", "tasks"):
        m[f"frontier.{k}"] = (jc[k] if runs else 0, "count")
        m[f"pipeline.{k}"] = (0 if runs else jc[k], "count")
    m["frontier.jobs_per_gen"] = (jc["jobs"] / gens if gens else 0.0, "count")
    m["frontier.fetch_extract_s"] = (sum_dur(actions("localCheckpoint", "markdown")), "s")
    m["frontier.politeness_pin_s"] = (sum_dur(actions("localCheckpoint", "fetch_time")), "s")
    m["frontier.expand_s"] = (sum_dur(actions("count", cols=CAND_COLS)), "s")
    m["frontier.self_s"] = (self_s, "s")
    if runs:
        queued = _metric_sum(out.crawls, "queued")
        m["frontier.admit_ratio"] = (_metric_sum(out.crawls, "admitted") / queued, "ratio")
        m["politeness.deferred_rows"] = (_metric_sum(out.crawls, "deferred"), "rows")
        # main-thread share of run_crawl time inside a traced child span
        m["trace.coverage"] = (1.0 - self_s / crawl_s, "ratio")
    else:
        m["frontier.admit_ratio"] = (0.0, "ratio")
        m["politeness.deferred_rows"] = (0.0, "rows")
        stages = [s for s in tr.spans if s.name.startswith("stage.")]
        m["trace.coverage"] = (sum_dur(stages) / out.wall_s, "ratio")

    m["ordering.assign_s"] = (sum_dur(tr.named("ordering.assign_seq_counted")), "s")
    add_s = sum_dur(tr.named("seen.add"))
    wait_s = sum_dur([s for s in tr.named("seen.barrier") if s.thread == main])
    m["seen.filter_s"] = (sum(tr.self_time(s) for s in tr.named("seen.filter_unseen")), "s")
    m["seen.add_s"] = (add_s, "s")
    m["seen.barrier_wait_s"] = (wait_s, "s")
    m["seen.overlap_frac"] = (1.0 - wait_s / add_s if add_s else 0.0, "ratio")

    commits = tr.named("checkpoint.commit")
    m["checkpoint.commit_s"] = (sum_dur(commits), "s")
    m["checkpoint.commits"] = (len(commits), "count")
    ckpt_dir = getattr(wl, "ckpt_dir", None)
    m["checkpoint.bytes_written"] = (
        _dir_bytes(ckpt_dir) if commits and ckpt_dir else 0,
        "bytes",
    )
    resumed = [s for s in runs if s.attrs.get("resume")]
    resume_s = 0.0
    if resumed:
        first = min(
            (s.start for s in tr.named("ordering.assign_seq_counted", within=resumed[0])),
            default=resumed[0].end,
        )
        resume_s = first - resumed[0].start
    m["checkpoint.resume_s"] = (resume_s, "s")

    st = out.stages
    m["extract.stage_s"] = (st.get("extract", 0.0), "s")
    m["chunker.stage_s"] = (st.get("chunker", 0.0), "s")
    m["text.features_s"] = (st.get("text_features", 0.0), "s")
    m["dedup.simhash_s"] = (st.get("simhash", 0.0), "s")
    m["dedup.minhash_s"] = (st.get("minhash", 0.0), "s")
    m["dedup.pairs_out"] = (0 if runs else len(out.result["pairs"]), "count")
    return m


def kernel_metrics(root: str, n: int = 1000, reps: int = 3) -> dict[str, tuple[float, str]]:
    """Single-process µs/page of the parse, extract and chunk kernels over
    the first ``n`` corpus pages (no Spark, no Arrow)."""
    import pyarrow.parquet as pq

    import corpus
    from eget_crawler_for_overflow_spark.functions.extract import _decode, extract_page
    from eget_crawler_for_overflow_spark.functions.htmllib import parse_html
    from eget_crawler_for_overflow_spark.operators.chunker import chunk_markdown

    t = pq.read_table(corpus.pages_path(root), columns=["html", "text"]).slice(0, n).to_pydict()
    htmls = [_decode(h) for h in t["html"]]
    texts = t["text"]

    def us_per_page(fn, items) -> float:
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for x in items:
                fn(x)
            times.append(time.perf_counter() - t0)
        return statistics.median(times) / len(items) * 1e6

    return {
        "extract.us_per_page": (us_per_page(extract_page, htmls), "us"),
        "htmllib.parse_us_per_page": (us_per_page(parse_html, htmls), "us"),
        "chunker.us_per_page": (us_per_page(chunk_markdown, texts), "us"),
    }


def _extract_agg_s(df) -> float:
    from eget_crawler_for_overflow_spark.functions.extract import extract_page_udf

    t0 = time.perf_counter()
    df.select(extract_page_udf("html").alias("e")).agg(
        F.sum(F.length("e.markdown"))
    ).collect()
    return time.perf_counter() - t0


def scaling_pair(spark, wl, cores: int, start_session, reps: int = 3):
    """(local[1] session, (T1/Tn)/n) for the extract stage over the
    workload's page slice, the sandbox stand-in for N -> 4N executors."""
    tn = statistics.median(_extract_agg_s(wl.slice) for _ in range(reps))
    spark.stop()
    spark = start_session(1)
    wl.prepare(spark)
    wl.warm(spark)
    t1 = statistics.median(_extract_agg_s(wl.slice) for _ in range(2))
    return spark, (t1 / tn) / cores
