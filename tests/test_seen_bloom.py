"""Bloom shard unit behavior: no false negatives ever; fpp sane."""

import numpy as np

from eget_crawler_for_overflow_spark.operators.seen import (
    _bloom_m,
    _bloom_set,
    _bloom_test,
)


def _filter(expected_n):
    m = _bloom_m(expected_n)
    return np.zeros((m + 7) // 8, dtype=np.uint8), m


def test_no_false_negatives():
    bits, m = _filter(10_000)
    rng = np.random.default_rng(42)
    keys = rng.integers(0, 2**63, 10_000, dtype=np.int64).view(np.uint64)
    _bloom_set(bits, keys, m)
    assert _bloom_test(bits, keys, m).all()


def test_false_positive_rate_reasonable():
    bits, m = _filter(10_000)
    rng = np.random.default_rng(7)
    keys = rng.integers(0, 2**62, 10_000, dtype=np.int64).view(np.uint64)
    _bloom_set(bits, keys, m)
    probe = (
        rng.integers(2**62, 2**63, 20_000, dtype=np.int64).view(np.uint64)
    )
    fpp = _bloom_test(bits, probe, m).mean()
    assert fpp < 0.01  # 13 bits/key, k=7 → ~1e-3 theoretical


def test_empty_shard():
    bits, m = _filter(100)
    assert not _bloom_test(bits, np.array([1, 2, 3], dtype=np.uint64), m).any()
    assert _bloom_test(bits, np.array([], dtype=np.uint64), m).shape == (0,)


# ---------------------------------------------------------------------------
# file-backed bloom storage (the 10^10-URL design point, VERDICT r2 §next-2)
# ---------------------------------------------------------------------------

import pytest  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from eget_crawler_for_overflow_spark import pagemodel as pm  # noqa: E402
from eget_crawler_for_overflow_spark.fixtures import load_pages  # noqa: E402
from eget_crawler_for_overflow_spark.operators.frontier import (  # noqa: E402
    CrawlConfig,
    run_crawl,
)
from eget_crawler_for_overflow_spark.operators import seen as seen_mod  # noqa: E402
from eget_crawler_for_overflow_spark.operators.seen import SeenSet  # noqa: E402

SF = "/root/testdata/sf0.001"


def _files_seen(spark, monkeypatch, **kw):
    """A SeenSet whose filters take the files path: the broadcast budget
    is 0 bytes while it is built."""
    with monkeypatch.context() as mp:
        mp.setattr(seen_mod, "_BROADCAST_BLOOM_BYTES", 0)
        s = SeenSet(spark, **kw)
    assert s.bloom_storage == "files" and s.bits is None
    return s


@pytest.fixture(scope="module")
def pages(spark):
    return load_pages(spark, SF)


def test_file_bits_equal_broadcast_bits(spark, pages, monkeypatch):
    """Same deltas through both storage mechanisms -> identical bitmaps
    (the files are just the un-merged broadcast, relocated executor-side)."""
    delta = (
        pages.select("url")
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host", F.lit("h"))
    )
    bc = SeenSet(spark, n_shards=8, use_bloom=True)
    fi = _files_seen(spark, monkeypatch, n_shards=8, use_bloom=True)
    try:
        half = delta.filter(F.col("url_hash") % 2 == 0)
        rest = delta.filter(F.col("url_hash") % 2 != 0)
        for part in (half, rest):  # two generations of appends
            bc.add(part)
            fi.add(part)
        assert (fi.merged_file_bits() == bc.bits).all()
        assert fi.count == bc.count
    finally:
        bc.drop()
        fi.drop()


def test_files_mode_membership_equals_broadcast(spark, pages, monkeypatch):
    cand = (
        pages.select("url")
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host", F.lit("h"))
    )
    seenpart = cand.filter(F.col("url_hash") % 3 == 0)
    bc = SeenSet(spark, n_shards=8, use_bloom=True)
    fi = _files_seen(spark, monkeypatch, n_shards=8, use_bloom=True)
    try:
        bc.add(seenpart)
        fi.add(seenpart)
        got_bc = sorted(r["url"] for r in bc.filter_unseen(cand).collect())
        got_fi = sorted(r["url"] for r in fi.filter_unseen(cand).collect())
        assert got_bc == got_fi
        expect = sorted(
            r["url"] for r in cand.join(seenpart.select("url_hash"),
                                        on="url_hash", how="left_anti").collect()
        )
        assert got_fi == expect
    finally:
        bc.drop()
        fi.drop()


def test_crawl_identical_under_file_blooms(spark, pages, monkeypatch):
    """Full engine crawl: file-backed blooms must not change one admitted
    row or seq (bloom is a pure prefilter; the anti-join is the truth)."""
    _, n_hosts = pm.sizing(SF)
    seeds = [pm.url_of(i, n_hosts) for i in (0, 2, 4)]

    def admitted(broadcast_bytes):
        cfg = CrawlConfig(max_depth=3, max_pages=None, use_bloom=True)
        with monkeypatch.context() as mp:
            mp.setattr(seen_mod, "_BROADCAST_BLOOM_BYTES", broadcast_bytes)
            res = run_crawl(spark, pages, seeds, cfg)
            return sorted(
                (r["url"], r["depth"], r["enqueue_seq"])
                for r in res.admitted.collect()
            )

    assert admitted(0) == admitted(seen_mod._BROADCAST_BLOOM_BYTES)


def test_storage_follows_filter_size(spark):
    """The stacked filters pick the mechanism: 32 shards (~3 MB) are
    broadcast; 1024 shards (~109 MB) go to files, and the driver never
    allocates their bitmaps."""
    small = SeenSet(spark, n_shards=32)
    big = SeenSet(spark, n_shards=1024)
    try:
        assert small.bloom_storage == "broadcast"
        assert small.bits.shape == (32, (small.m + 7) // 8)
        assert big.bloom_storage == "files"
        assert big.bits is None
    finally:
        small.drop()
        big.drop()


def test_default_bloom_dir_is_under_the_warehouse(spark, pages, monkeypatch):
    """Filter files sit next to the seen table, in the warehouse every
    executor reads the table from — not in the driver's temp dir."""
    import glob

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    s = _files_seen(spark, monkeypatch, n_shards=4)
    try:
        assert s.bloom_dir == f"{wh.rstrip('/')}/{s.table}_bloom"
        s.add(
            pages.select("url")
            .withColumn("url_hash", F.xxhash64("url"))
            .withColumn("host", F.lit("h"))
            .limit(50)
        )
        assert glob.glob(f"{s.bloom_dir}/shard=*/*.parquet")
    finally:
        s.drop()


def test_bloom_paths_keep_file_uris_off_local_sessions():
    """A ``file:`` warehouse stays a URI on a cluster (a shared mount) and
    pyarrow opens it as a local file system; a local session gets a plain
    path."""
    from types import SimpleNamespace

    from pyarrow import fs as pafs

    def session(master):
        return SimpleNamespace(
            conf=SimpleNamespace(get=lambda key: "file:/mnt/wh/"),
            sparkContext=SimpleNamespace(master=master),
        )

    assert seen_mod._bloom_home(session("local[4]"), "t") == "/mnt/wh/t_bloom"
    cluster = seen_mod._bloom_home(session("spark://h:7077"), "t")
    assert cluster == "file:/mnt/wh/t_bloom"
    fsys, base = seen_mod._bloom_fs(cluster)
    assert isinstance(fsys, pafs.LocalFileSystem)
    assert base == "/mnt/wh/t_bloom"


# ---------------------------------------------------------------------------
# compaction (Iceberg rewrite_data_files analog, VERDICT r2 §next-3)
# ---------------------------------------------------------------------------


def _table_files(spark, table):
    import glob
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    return [
        f
        for f in glob.glob(os.path.join(wh, table, "**", "*"), recursive=True)
        if os.path.isfile(f)
        and not os.path.basename(f).startswith(("_", "."))  # _SUCCESS, .crc
    ]


def test_compaction_bounds_file_count_and_preserves_membership(
    spark, pages, monkeypatch
):
    n_shards, every = 4, 3
    delta = (
        pages.select("url")
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host", F.lit("h"))
    )
    s = _files_seen(
        spark, monkeypatch, n_shards=n_shards, use_bloom=True, compact_every=every
    )
    tables, file_counts = [], []
    try:
        for gen in range(7):  # 7 appends -> compactions after gens 3 and 6
            s.add(delta.filter(F.col("url_hash") % 7 == gen))
            tables.append(s.table)
            file_counts.append(len(_table_files(spark, s.table)))
        assert len(set(tables)) == 3  # base, _c1, _c2
        assert max(file_counts) <= n_shards * (every + 1)
        assert file_counts[-1] <= n_shards * 2  # compacted + 1 append
        # bloom deltas compacted too: exactly one parquet per shard + 1 gen
        import glob

        bloom_files = glob.glob(f"{s.bloom_dir}/shard=*/*.parquet")
        assert len(bloom_files) <= n_shards * 2
        # membership is untouched by compaction (note: Spark % on a
        # negative hash yields a NEGATIVE residue, so gens 0..6 covered
        # only the non-negative residues — the rest must still be unseen)
        got = sorted(r["url"] for r in s.filter_unseen(delta).collect())
        expect = sorted(
            r["url"]
            for r in delta.filter(F.col("url_hash") % 7 < 0).collect()
        )
        assert expect  # the negative-residue remainder is non-empty
        assert got == expect
    finally:
        s.drop()


def test_crawl_identical_under_compaction(spark, pages):
    """Engine-level: compaction every 2 generations changes no admitted
    row/seq and keeps the politeness-deferred multi-generation drain
    intact."""
    _, n_hosts = pm.sizing(SF)
    seeds = [pm.url_of(i, n_hosts) for i in (0, 2, 4)]

    def admitted(compact_every):
        cfg = CrawlConfig(
            max_depth=3,
            max_pages=None,
            use_bloom=True,
            seen_compact_every=compact_every,
        )
        res = run_crawl(spark, pages, seeds, cfg)
        return sorted(
            (r["url"], r["depth"], r["enqueue_seq"])
            for r in res.admitted.collect()
        )

    assert admitted(2) == admitted(None)


def test_files_mode_fails_loud_on_unreadable_manifest_file(spark, pages, monkeypatch):
    """ADVICE r3: the per-shard file manifest is enumerated on the DRIVER
    and closed over into the membership task; a manifest file an executor
    cannot read must raise — never degrade to an all-zero bitmap that
    marks seen URLs 'definitely new' and bypasses the exact anti-join."""
    import os

    import pytest

    cand = (
        pages.select("url")
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host", F.lit("h"))
    )
    s = _files_seen(spark, monkeypatch, n_shards=4, use_bloom=True)
    try:
        s.add(cand.limit(200))
        out = s.filter_unseen(cand)  # manifest captured at plan time
        import glob

        victim = sorted(glob.glob(f"{s.bloom_dir}/shard=*/*.parquet"))[0]
        os.remove(victim)
        with pytest.raises(Exception, match="(?i)parquet|no such file|error"):
            out.collect()
    finally:
        s.drop()


def test_long_crawl_compaction_24_generations(spark, pages, monkeypatch):
    """Design-point generation count (VERDICT r3 item 7): 24 files-mode
    appends with compact_every=4 — file count stays bounded by
    n_shards × (compact_every + 1) throughout, bloom delta files stay
    bounded, and membership is byte-identical to an uncompacted
    broadcast-mode set fed the same deltas."""
    n_shards, every, gens = 4, 4, 24
    delta = (
        pages.select("url")
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host", F.lit("h"))
    )
    fi = _files_seen(
        spark, monkeypatch, n_shards=n_shards, use_bloom=True, compact_every=every
    )
    bc = SeenSet(spark, n_shards=n_shards, use_bloom=True)
    try:
        import glob

        for g in range(gens):
            part = delta.filter(F.pmod(F.col("url_hash"), F.lit(gens)) == g)
            fi.add(part)
            bc.add(part)
            assert len(_table_files(spark, fi.table)) <= n_shards * (every + 1)
            bloom_files = glob.glob(f"{fi.bloom_dir}/shard=*/*.parquet")
            assert len(bloom_files) <= n_shards * (every + 1)
        assert fi._compactions == gens // every
        assert fi.count == bc.count
        # every URL was admitted across the 24 residues -> nothing unseen
        assert fi.filter_unseen(delta).count() == 0
        # and on a fresh candidate set both mechanisms agree row-for-row
        probe = delta.withColumn(
            "url", F.concat(F.col("url"), F.lit("?x"))
        ).withColumn("url_hash", F.xxhash64("url"))
        got_fi = sorted(r["url"] for r in fi.filter_unseen(probe).collect())
        got_bc = sorted(r["url"] for r in bc.filter_unseen(probe).collect())
        assert got_fi == got_bc
    finally:
        fi.drop()
        bc.drop()


# ---------------------------------------------------------------------------
# shard-keyed shuffles run in k = _shard_tasks(n_shards, parallelism) tasks
# ---------------------------------------------------------------------------

def test_shard_tasks_is_largest_divisor_within_parallelism():
    assert seen_mod._shard_tasks(32, 3) == 2
    assert seen_mod._shard_tasks(32, 8) == 8
    assert seen_mod._shard_tasks(32, 64) == 32
    assert seen_mod._shard_tasks(8, 3) == 2
    assert seen_mod._shard_tasks(7, 3) == 1  # prime: one task
    assert seen_mod._shard_tasks(7, 8) == 7
    assert seen_mod._shard_tasks(12, 5) == 4
    assert seen_mod._shard_tasks(5, 0) == 1


def _job_group_tasks(spark, group):
    """Tasks that ran in the jobs of one job group (skipped stages run
    none)."""
    st = spark.sparkContext.statusTracker()
    stages = set()
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        si = st.getStageInfo(s)
        if si is not None:
            tasks += si.numCompletedTasks
    return tasks


@pytest.mark.parametrize("parallelism", [None, 3], ids=["session", "local3"])
@pytest.mark.parametrize("n_shards", [32, 8, 7])
def test_shard_fanout_layout_bits_and_task_count(
    spark, n_shards, parallelism, monkeypatch
):
    """Both storage modes over two appends: the broadcast bitmaps equal a
    numpy reference, each append writes one bucket file per non-empty
    bucket and (files mode) one bloom file per touched shard, and one add
    runs O(parallelism) tasks, not O(n_shards). ``local3`` sizes the
    fan-out as a 3-core session would (k = 2, 2, 1)."""
    import glob
    import re

    if parallelism is not None:
        real = seen_mod._shard_tasks
        monkeypatch.setattr(
            seen_mod, "_shard_tasks", lambda n, _p: real(n, parallelism)
        )
    dp = spark.sparkContext.defaultParallelism
    urls = [f"https://h{i % 13}.example/p/{i}" for i in range(600)]
    rows = (
        spark.createDataFrame([(u,) for u in urls], "url string")
        .coalesce(1)
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host", F.lit("h"))
        .withColumn("bucket", F.pmod(F.hash("url_hash"), F.lit(n_shards)))
        .localCheckpoint(eager=True)
    )
    parts = [
        rows.filter(F.col("url_hash") % 3 == 0),
        rows.filter(F.col("url_hash") % 3 != 0),
    ]
    bc = SeenSet(spark, n_shards=n_shards)
    fi = _files_seen(spark, monkeypatch, n_shards=n_shards)
    try:
        ref = np.zeros_like(bc.bits)
        for gen, part in enumerate(parts):
            local = part.select("url_hash", "bucket").collect()
            hashes = np.array([r["url_hash"] for r in local], dtype=np.int64)
            shards = np.mod(hashes, n_shards)
            buckets = {r["bucket"] for r in local}
            for s in np.unique(shards):
                seen_mod._bloom_set(ref[s], hashes[shards == s].view(np.uint64), bc.m)
            bloom_before = glob.glob(f"{fi.bloom_dir}/shard=*/*.parquet")
            for s in (bc, fi):
                tbl_before = _table_files(spark, s.table) if s._created else []
                group = f"seen-fanout-{n_shards}-{parallelism}-{s.bloom_storage}-{gen}"
                spark.sparkContext.setJobGroup(group, group)
                try:
                    s.add(part.drop("bucket"))
                finally:
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                assert _job_group_tasks(spark, group) <= 2 * dp + 4
                new = set(_table_files(spark, s.table)) - set(tbl_before)
                got_buckets = [int(re.search(r"_(\d{5})\.", f).group(1)) for f in new]
                assert sorted(got_buckets) == sorted(buckets)  # one file each
            new_bloom = set(glob.glob(f"{fi.bloom_dir}/shard=*/*.parquet")) - set(
                bloom_before
            )
            got_shards = [int(re.search(r"/shard=(\d+)/", f).group(1)) for f in new_bloom]
            assert sorted(got_shards) == sorted(int(x) for x in np.unique(shards))
            assert (bc.bits == ref).all()
            assert (fi.merged_file_bits() == ref).all()
        assert bc.count == fi.count == len(urls)
        probe = rows.drop("bucket").union(
            rows.drop("bucket")
            .withColumn("url", F.concat("url", F.lit("?new")))
            .withColumn("url_hash", F.xxhash64("url"))
        )
        want = sorted(f"{u}?new" for u in urls)
        assert sorted(r["url"] for r in bc.filter_unseen(probe).collect()) == want
        assert sorted(r["url"] for r in fi.filter_unseen(probe).collect()) == want
    finally:
        bc.drop()
        fi.drop()
