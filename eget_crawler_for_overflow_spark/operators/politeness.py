"""Per-host politeness scheduling with salted keys (north-rule skew-breaker).

The reference serializes requests through one global ``rate_limit_delay``
(default 0.0 — queue_manager.py:30-31,72-76); per-host crawl-delay comes
from robots.txt. A batch engine cannot sleep, so politeness is *logical*
(SURVEY.md §7.4.7): each admitted URL gets a deterministic fetch slot time
and a generation fetches only slots inside its logical window; the rest are
deferred to later generations.

Skew: one mega-host can own half the frontier (our corpus makes host0 own
50% by construction). Hash-partitioning by ``host`` would put half the wave
in one task. Instead each URL gets a salt in ``[0, n_salts)`` and ranking
runs per ``(host, salt)`` — n_salts-way parallel even for the mega-host.
The fetch schedule's salt is the first byte of ``md5(url)`` mod
``n_salts`` (so at most 256 salt groups), which ANSI SQL can compute too, so a DuckDB oracle replays
the deferral loop exactly (oracles.py). Slot times interleave the salt
groups round-robin:

    fetch_time = ((rank_within_salt - 1) * n_salts + salt) * crawl_delay

so consecutive global slots of one host are spaced exactly ``crawl_delay``
apart while no single task ever sees more than 1/n_salts of the host. This
is pure built-in window machinery (JVM, whole-stage codegen) — no Python in
the loop; AQE skew-join splitting stays as the second line of defense.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_fetch_schedule(
    df: DataFrame,
    order_cols: list[str],
    host_col: str = "host",
    delay_col: str = "crawl_delay",
    url_col: str = "url",
    n_salts: int = 8,
    time_col: str = "fetch_time",
) -> DataFrame:
    salt = F.pmod(
        F.conv(F.substring(F.md5(F.col(url_col)), 1, 2), 16, 10).cast("long"),
        F.lit(n_salts),
    )
    w = Window.partitionBy(F.col(host_col), salt).orderBy(
        *[F.col(c) for c in order_cols]
    )
    rank = F.row_number().over(w)
    return df.withColumn(
        time_col,
        ((rank - F.lit(1)) * F.lit(n_salts) + salt).cast("double")
        * F.coalesce(F.col(delay_col), F.lit(0.0)),
    )


def host_budget_rank(
    df: DataFrame,
    order_cols: list[str],
    host_col: str = "host",
    rank_col: str = "host_rank",
) -> DataFrame:
    """Per-host admission rank for host-budget capping (SURVEY.md §2.6 W2).
    Unsalted — used for small per-wave caps where the cap itself bounds the
    partition size the task must hold."""
    w = Window.partitionBy(host_col).orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(rank_col, F.row_number().over(w))


def salted_host_budget_cap(
    df: DataFrame,
    order_cols: list[str],
    budget: int,
    host_col: str = "host",
    url_col: str = "url",
    n_salts: int = 8,
) -> DataFrame:
    """Exact per-host top-``budget`` by ``order_cols`` without any task
    ever sorting one host's full candidate set (the corpus's mega-host
    owns ~50% of a wave by construction).

    Two phases, both exact:

    1. rank within ``(host, salt)`` (salt = pmod(xxhash64(url), n_salts))
       and keep rank ≤ budget. A row's within-salt rank is ≤ its global
       per-host rank (the salt group is a subset of the host's rows), so
       nothing that belongs in the final top-budget is dropped; each task
       sorts only ~1/n_salts of a host's candidates.
    2. rank within ``host`` over the survivors — now ≤ n_salts × budget
       rows per host, a CONFIG-bounded partition regardless of wave skew —
       and keep rank ≤ budget.

    Equals the single ``Window.partitionBy(host)`` rank exactly (property
    test: tests/test_engine.py::test_salted_host_budget_exact_and_bounded);
    costs one extra (host, salt) shuffle, the price of skew immunity at
    scale.
    """
    salt = F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_salts))
    w1 = Window.partitionBy(F.col(host_col), salt).orderBy(
        *[F.col(c) for c in order_cols]
    )
    pre = df.withColumn("__sr", F.row_number().over(w1)).filter(
        F.col("__sr") <= budget
    ).drop("__sr")
    w2 = Window.partitionBy(host_col).orderBy(*[F.col(c) for c in order_cols])
    return pre.withColumn("__hr", F.row_number().over(w2)).filter(
        F.col("__hr") <= budget
    ).drop("__hr")
