"""URL-seen set: append-only bucketed table + distributively-built
per-shard Bloom filters.

Reference semantics: an exact in-memory ``Set[str]`` membership test with
first-wins admission (queue_manager.py:27,47,52). At 10^10 URLs that set is
~1 TB of strings, so the engine splits identity from storage:

* identity = ``xxhash64(canonical_url)`` (JVM built-in, SURVEY.md §2.3 T2);
* exact membership = LEFT ANTI JOIN against a **bucketed table**
  (``bucketBy(n_shards, url_hash)``). Each generation's delta is APPENDED
  (one O(delta) write — the accumulated set is never rewritten or
  re-shuffled), and the anti-join needs no exchange on the seen side: the
  bucketed scan already satisfies HashPartitioning(url_hash, n_shards).
  This is the vanilla-Spark analog of Iceberg ``bucket(url_hash)`` +
  storage-partitioned joins; swapping in Iceberg changes only the writer.
* fast path = one Bloom filter per shard (~13 bits/URL, fpp ≈ 1e-3).
  Candidates whose shard filter says "definitely new" skip the anti-join
  entirely; "maybe seen" candidates fall through to the exact join. The
  filters are a pure scan/shuffle-reduction device — correctness always
  comes from the anti-join (SURVEY.md §4.3.2).

Bloom maintenance is fully distributive: a ``mapInPandas`` pass over the
delta emits one (shard, bitmap, n) row per touched shard (the delta is
hash-partitioned by shard id, so each shard lands in exactly one task —
never URL rows), the driver OR-merges them and re-broadcasts the merged
bitmaps (torrent distribution, one copy per executor). The driver therefore
handles O(n_shards × bitmap_bytes) per generation regardless of wave size.

Task count: every repartition keyed by shard (bucketed append, bloom-delta
build, files-mode membership routing, compaction rewrite) runs in ``k``
tasks, the largest divisor of ``n_shards`` that is ≤ the session's default
parallelism (``_shard_tasks``), not in ``n_shards`` tasks. Each task then
owns ``n_shards / k`` whole buckets/shards, so the file layout and the bits
are the same as with one task per shard. On a few cores the task count
matters more than the data: a Python task has a fixed start-up cost of
~0.3 s, and 32 of them per append queued the crawl's main thread behind
the maintenance thread.

The filters' size picks their storage (``SeenSet.bloom_storage``); the
bits are the same either way:

* ``broadcast`` while the stacked filters (``n_shards × ⌈m/8⌉`` bytes) fit
  ``_BROADCAST_BLOOM_BYTES`` (~100 MB, n_shards ≤ 984): the driver
  OR-merges the per-shard delta rows and broadcasts the stacked bitmaps —
  no extra shuffle on the membership path.
* ``files`` above it, e.g. the 10^10-URL design point (~15 GB of filters,
  BASELINE.md). The same build pass writes the per-shard bitmap deltas as
  parquet partitioned by shard id, next to the seen table in the
  warehouse; membership routes the wave by shard and each task loads only
  its own shards' files. The driver never holds a bitmap. Costs one
  wave-sized shuffle per generation — forced where broadcast is
  physically impossible.

Either way membership is one path (``filter_unseen``): a Bloom mark, a
fresh/maybe split and one anti-join of the "maybe seen" rows; only where
the mark's bitmaps come from (``_bloom_loader``) differs.

``test_seen_bloom.py`` proves bitmap equality between the two mechanisms
and crawl-output equality through the full engine.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from urllib.parse import urlsplit

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .background import BackgroundJob

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
    ]
)

_BLOOM_K = 7
_BITS_PER_KEY = 13
# largest stacked filter set (bytes) the driver merges and broadcasts;
# beyond it each task loads its own shards' filter files
_BROADCAST_BLOOM_BYTES = 100 << 20


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x ^= x >> np.uint64(27)
    x = (x * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    return x ^ (x >> np.uint64(31))


def _bloom_m(expected_n: int) -> int:
    return max(1 << 13, int(expected_n) * _BITS_PER_KEY)


def _bloom_idx(hashes: np.ndarray, m: int) -> np.ndarray:
    h = hashes.astype(np.uint64)
    h1 = _splitmix64(h)
    h2 = _splitmix64(h ^ np.uint64(0xA5A5A5A5A5A5A5A5)) | np.uint64(1)
    mm = np.uint64(m)
    return np.stack([((h1 + np.uint64(j) * h2) % mm) for j in range(_BLOOM_K)])


def _bloom_set(bits: np.ndarray, hashes: np.ndarray, m: int) -> None:
    if len(hashes) == 0:
        return
    idx = _bloom_idx(hashes, m).ravel()
    np.bitwise_or.at(bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))


def _bloom_test(bits: np.ndarray, hashes: np.ndarray, m: int) -> np.ndarray:
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    idx = _bloom_idx(hashes, m)
    byte = bits[idx >> 3]
    bit = (byte >> (idx & 7).astype(np.uint8)) & 1
    return bit.all(axis=0)


_DELTA_SCHEMA = "shard int, bitmap binary, n long"


def _shard_tasks(n_shards: int, parallelism: int) -> int:
    """Tasks for a shuffle keyed by shard: the largest divisor of
    ``n_shards`` that is ≤ ``parallelism`` (1 at the least). A divisor,
    because the bucketed writer places a row in bucket
    ``pmod(murmur3(url_hash), n_shards)`` and ``repartition(k, url_hash)``
    in task ``pmod(murmur3(url_hash), k)``: with ``k | n_shards`` bucket
    ``b`` always lands in task ``b mod k``, so each bucket is written by
    one task, as one file."""
    top = max(1, min(n_shards, parallelism))
    return max(d for d in range(1, top + 1) if n_shards % d == 0)


def _hash_and_shard(col: pd.Series, n_shards: int) -> tuple[np.ndarray, np.ndarray]:
    """(uint64 hashes, shard ids) of a url_hash column. The shard is
    ``pmod(url_hash, n_shards)`` of the SIGNED hash, the key the shard-keyed
    repartitions route by, so all of a shard's rows meet in one task for any
    ``n_shards`` (an unsigned modulo agrees with it only for powers of two)."""
    signed = col.to_numpy(dtype=np.int64)
    return signed.view(np.uint64), np.mod(signed, n_shards)


def _bloom_fs(bloom_dir: str):
    """(pyarrow FileSystem, base path) for the bloom dir — handles DFS
    URIs (s3://, hdfs://, ...), ``file:/...`` URIs (a warehouse on a
    shared mount) and plain local paths, so file-mode bloom reads work
    wherever the Spark writer could put the files."""
    from pyarrow import fs as pafs

    if "://" in bloom_dir or bloom_dir.startswith("file:"):
        return pafs.FileSystem.from_uri(bloom_dir)
    return pafs.LocalFileSystem(), bloom_dir


def _bloom_home(spark: SparkSession, table: str) -> str:
    """``<spark.sql.warehouse.dir>/<table>_bloom``: the filter files sit
    next to the seen table, so every executor that can read the table can
    read them. A local session gets a plain path."""
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    if spark.sparkContext.master.startswith("local") and wh.startswith("file:"):
        wh = urlsplit(wh).path
    return f"{wh}/{table}_bloom"


def _list_bloom_files(bloom_dir: str, shard: int | None = None):
    """Sorted parquet file paths under the bloom dir (one shard's
    partition, or all of it). Missing dirs list as empty, never raise."""
    from pyarrow import fs as pafs

    fsys, base = _bloom_fs(bloom_dir)
    sel = pafs.FileSelector(
        f"{base}/shard={shard}" if shard is not None else base,
        recursive=shard is None,
        allow_not_found=True,
    )
    files = sorted(
        i.path
        for i in fsys.get_file_info(sel)
        if i.type == pafs.FileType.File and i.path.endswith(".parquet")
    )
    return fsys, files


def _delete_bloom_dir(bloom_dir: str) -> None:
    try:
        fsys, base = _bloom_fs(bloom_dir)
        fsys.delete_dir(base)
    except Exception:
        pass  # best-effort cleanup of a temp artifact


class SeenSet:
    def __init__(
        self,
        spark: SparkSession,
        n_shards: int = 32,
        use_bloom: bool = True,
        compact_every: int | None = None,
    ):
        """``bloom_storage`` follows the filters' size (module docstring):
        ``"broadcast"`` while ``n_shards`` filters of ``m`` bits fit
        ``_BROADCAST_BLOOM_BYTES``, ``"files"`` above it, with the filter
        files under ``bloom_dir``, next to the seen table in the warehouse.

        ``compact_every``: after this many appends, rewrite the bucketed
        table (and, in files mode, the bloom delta files) into one file
        per bucket — the vanilla-Spark analog of Iceberg's
        ``rewrite_data_files``. Bounds the file count of a long crawl at
        n_shards × (compact_every + 1) instead of n_shards × generations.
        ``None`` = never compact (sandbox default; a 64-generation crawl
        accumulates ≤ 64 × n_shards small files, which is harmless here).
        """
        self.spark = spark
        self.n_shards = n_shards
        # tasks per shard-keyed shuffle; n_shards stays the bucket and
        # bloom-shard count
        self.n_tasks = _shard_tasks(n_shards, spark.sparkContext.defaultParallelism)
        self.use_bloom = use_bloom
        self.m = _bloom_m(1 << 16)
        nbytes = n_shards * ((self.m + 7) // 8)
        self.bloom_storage = "broadcast" if nbytes <= _BROADCAST_BLOOM_BYTES else "files"
        self.table = f"eget_seen_{uuid.uuid4().hex[:12]}"
        self._created = False
        self.bloom_dir = _bloom_home(spark, self.table)
        self._bloom_written = False
        # cached post-append file listing (files mode): the next append's
        # "before" snapshot, so count maintenance lists the dir once per
        # append instead of twice — O(shards) steady-state metadata ops,
        # not O(total accumulated files) twice per append
        self._bloom_files: list[str] | None = None
        # stacked per-shard bitmaps: row s = shard s's filter
        # (broadcast mode only; files mode never materializes them here)
        self.bits: np.ndarray | None = (
            np.zeros((n_shards, (self.m + 7) // 8), dtype=np.uint8)
            if use_bloom and self.bloom_storage == "broadcast"
            else None
        )
        self._bc = None  # current broadcast of self.bits
        self.count = 0  # URLs added to the filters (bloom mode only)
        self.compact_every = compact_every
        self._appends = 0  # appends since the last compaction
        self._compactions = 0
        self._base_table = self.table
        self._job = BackgroundJob(spark)

    # -- async update pipeline --------------------------------------------
    # The generation loop overlaps seen maintenance (bucketed append +
    # bitmap build: two O(delta) jobs) with the fetch/extract/expand phase
    # of the SAME generation — nothing in between reads the seen set.
    # barrier() re-raises any failure before the next membership check.

    def add_async(self, admitted: DataFrame) -> None:
        self._job.start(self.add, admitted)

    def barrier(self) -> None:
        self._job.join()

    # -- storage ----------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        self.barrier()
        if not self._created:
            return self.spark.createDataFrame([], SEEN_SCHEMA)
        return self.spark.table(self.table).select("url_hash", "url", "host")

    def drop(self) -> None:
        """Release catalog state (the crawl's working set; resumable crawls
        rebuild it from the per-generation admitted checkpoint tables)."""
        try:
            self.barrier()
        except BaseException as e:
            # don't let teardown mask a real write failure silently
            # (harmless for results — correctness never depends on the
            # final generation's seen-append — but it must be visible)
            import warnings

            warnings.warn(
                f"seen-set final append failed during drop(): {e!r}",
                stacklevel=2,
            )
        if self._created:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
            self._created = False
        if self._bc is not None:
            self._bc.unpersist()
            self._bc = None
        if self._bloom_written:
            _delete_bloom_dir(self.bloom_dir)
            self._bloom_written = False

    # -- update -----------------------------------------------------------
    def add(self, admitted: DataFrame) -> None:
        """Merge newly admitted rows (url_hash, url, host): one O(delta)
        bucketed append + one O(delta) distributive bitmap build. No row
        ever reaches the driver."""
        delta = admitted.select("url_hash", "url", "host")
        # repartition(k, url_hash) uses the same murmur3-pmod placement as
        # bucketBy and k divides n_shards, so each bucket sits in exactly one
        # task and an append writes one file per non-empty bucket
        writer = (
            delta.repartition(self.n_tasks, F.col("url_hash"))
            .write.bucketBy(self.n_shards, "url_hash")
            .sortBy("url_hash")
        )
        writer.mode("append" if self._created else "overwrite").saveAsTable(
            self.table
        )
        self._created = True

        if self.use_bloom:
            n_shards, m = self.n_shards, self.m
            nbytes = (m + 7) // 8

            def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                acc: dict[int, np.ndarray] = {}
                counts: dict[int, int] = {}
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    h, shard = _hash_and_shard(pdf["url_hash"], n_shards)
                    for s in np.unique(shard):
                        bm = acc.get(int(s))
                        if bm is None:
                            bm = acc[int(s)] = np.zeros(nbytes, dtype=np.uint8)
                        sel = h[shard == s]
                        _bloom_set(bm, sel, m)
                        counts[int(s)] = counts.get(int(s), 0) + len(sel)
                if acc:
                    yield pd.DataFrame(
                        {
                            "shard": list(acc),
                            "bitmap": [acc[s].tobytes() for s in acc],
                            "n": [counts[s] for s in acc],
                        }
                    )

            # keyed by shard id, so each shard sits in one task and build()
            # emits one (shard, bitmap, n) row per touched shard
            deltas = (
                delta.select("url_hash")
                .repartition(self.n_tasks, F.pmod(F.col("url_hash"), F.lit(n_shards)))
                .mapInPandas(build, _DELTA_SCHEMA)
            )
            if self.bloom_storage == "files":
                # design-point path: bitmap deltas land NEXT TO the table,
                # partitioned by shard id; no bitmap ever reaches the
                # driver. Membership tasks (_bloom_loader) load exactly
                # their shards' files.
                before = self._bloom_files
                if before is None:
                    _, before = (
                        _list_bloom_files(self.bloom_dir)
                        if self._bloom_written
                        else (None, [])
                    )
                deltas.write.partitionBy("shard").mode("append").parquet(
                    self.bloom_dir
                )
                self._bloom_written = True
                # every admitted url appears in exactly one delta row's n
                # (admission is first-wins + unseen), so count maintenance
                # reads only the files THIS append just wrote (one tiny row
                # per touched shard — ADVICE r3: not a rescan of every delta
                # file written so far, whose cumulative cost is O(gens×shards))
                import pyarrow.parquet as pq

                seen_before = set(before)
                fsys, after = _list_bloom_files(self.bloom_dir)
                for f in after:
                    if f in seen_before:
                        continue
                    t = pq.read_table(f, columns=["n"], filesystem=fsys)
                    self.count += sum(t.column("n").to_pylist())
                self._bloom_files = after
            else:
                rows = deltas.collect()
                # ≤ n_shards rows × ~100 KB bitmaps — bounded, never URL rows
                for r in rows:
                    self.bits[r["shard"]] |= np.frombuffer(r["bitmap"], dtype=np.uint8)
                    self.count += r["n"]
                if self._bc is not None:
                    self._bc.unpersist()
                self._bc = self.spark.sparkContext.broadcast(self.bits)

        self._appends += 1
        if self.compact_every is not None and self._appends >= self.compact_every:
            self._compact()

    def _compact(self) -> None:
        """Rewrite the accumulated set into one file per bucket (Iceberg
        ``rewrite_data_files`` analog). Runs on the async add thread, so
        it overlaps the crawl's fetch/extract phase like any other seen
        maintenance; the next ``filter_unseen`` barriers on it. Bucketing
        is preserved, so the anti-join scan stays exchange-free."""
        self._compactions += 1
        new_table = f"{self._base_table}_c{self._compactions}"
        # read the table's files as PLAIN parquet: reading through the
        # catalog keeps the bucketing metadata and the planner then elides
        # the repartition exchange as redundant — tasks end up holding
        # mixed buckets and the writer splits them back into many files
        # (measured: 10 files instead of n_shards)
        loc = (
            self.spark.sql(f"DESC FORMATTED {self.table}")
            .filter(F.col("col_name") == "Location")
            .collect()[0]["data_type"]
        )
        (
            self.spark.read.parquet(loc)
            .select("url_hash", "url", "host")
            .repartition(self.n_tasks, F.col("url_hash"))
            .write.bucketBy(self.n_shards, "url_hash")
            .sortBy("url_hash")
            .mode("overwrite")
            .saveAsTable(new_table)
        )
        # swap the pointer FIRST: if the drop of the old table fails, the
        # stale OLD table leaks (best-effort warned below) but the live
        # pointer — and drop()'s eventual cleanup — always tracks the
        # table that actually holds the data
        old_table, self.table = self.table, new_table
        try:
            self.spark.sql(f"DROP TABLE IF EXISTS {old_table}")
        except Exception as e:  # pragma: no cover - warehouse hiccup
            import warnings

            warnings.warn(
                f"compaction could not drop old seen table {old_table}: {e!r}",
                stacklevel=2,
            )
        if self._bloom_written:
            # merge each shard's bitmap delta files into one row
            nbytes = (self.m + 7) // 8

            def merge(pdf: pd.DataFrame) -> pd.DataFrame:
                bm = np.zeros(nbytes, dtype=np.uint8)
                for buf in pdf["bitmap"]:
                    bm |= np.frombuffer(buf, dtype=np.uint8)
                return pd.DataFrame(
                    {
                        "shard": [int(pdf["shard"].iloc[0])],
                        "bitmap": [bm.tobytes()],
                        "n": [int(pdf["n"].sum())],
                    }
                )

            new_dir = f"{self.bloom_dir}_c{self._compactions}"
            (
                self.spark.read.parquet(self.bloom_dir)
                .groupBy("shard")
                .applyInPandas(merge, _DELTA_SCHEMA)
                .write.partitionBy("shard")
                .mode("overwrite")
                .parquet(new_dir)
            )
            _delete_bloom_dir(self.bloom_dir)
            self.bloom_dir = new_dir
            self._bloom_files = None  # dir rewritten; next append re-lists
        self._appends = 0

    # -- membership ---------------------------------------------------------
    def filter_unseen(self, cand: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        """Rows of ``cand`` whose url_hash is NOT in the seen set.

        Bloom prefilter splits candidates into definitely-new (bypass the
        join) and maybe-seen (exact anti-join); the union is exact. The
        anti-join's right side is the bucketed table scan — no exchange on
        the accumulated set. Without usable filters (``_bloom_loader``
        gives None) every candidate takes the anti-join.

        CONTRACT: ``cand``'s lineage must be DETERMINISTIC (or already
        materialized — the crawl loop always passes a localCheckpoint'ed
        frame). The two union branches re-execute ``cand`` independently
        (no checkpoint here, by design: the bloom mark is cheap pure-numpy
        and a wave-sized materialization barrier per generation is not);
        a nondeterministic input could send a row down both or neither
        branch."""
        self.barrier()
        if not self._created:
            return cand  # nothing seen yet
        # no distinct(): anti-join semantics ignore right-side dups
        seen_side = self.df.select(hash_col)
        load = self._bloom_loader()
        if load is None:
            return cand.join(seen_side, on=hash_col, how="left_anti")

        n_shards, m = self.n_shards, self.m
        if self.bloom_storage == "files":
            # route each row to its shard's task (same pmod key the build
            # pass used, so each shard's file set is loaded by one task)
            cand = cand.repartition(
                self.n_tasks, F.pmod(F.col(hash_col), F.lit(n_shards))
            )
        maybe_schema = T.StructType(
            list(cand.schema.fields) + [T.StructField("__maybe_seen", T.BooleanType())]
        )

        def mark(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            bits_for = load()
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                h, shard = _hash_and_shard(pdf[hash_col], n_shards)
                res = np.zeros(len(pdf), dtype=bool)
                for s in np.unique(shard):
                    msk = shard == s
                    res[msk] = _bloom_test(bits_for(int(s)), h[msk], m)
                # shallow column-add (no deep copy of the url/html
                # payload columns — they can dominate memory bandwidth)
                yield pdf.assign(__maybe_seen=res)

        marked = cand.mapInPandas(mark, maybe_schema)
        fresh = marked.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
        maybe = marked.filter(F.col("__maybe_seen")).drop("__maybe_seen")
        checked = maybe.join(seen_side, on=hash_col, how="left_anti")
        return fresh.unionByName(checked)

    def _bloom_loader(self):
        """A task-side factory: called once per membership task, it returns
        ``bits_for(shard)``, that shard's filter. None when there is no
        filter to trust: Bloom off, nothing added yet, or (files mode) no
        filter file visible to the driver.

        Broadcast mode reads the broadcast stacked bitmaps. Files mode
        loads and OR-merges a shard's bitmap delta files (parquet under
        ``bloom_dir/shard=<s>/``) the first time the task meets the shard
        — one ~100 KB-scale read per shard per wave, independent of total
        filter size."""
        if not self.use_bloom or self.count == 0:
            return None
        if self.bloom_storage == "broadcast":
            bc = self._bc

            def load_broadcast():
                bits = bc.value
                return lambda s: bits[s]

            return load_broadcast

        bloom_dir = self.bloom_dir
        nbytes = (self.m + 7) // 8

        # fail-safe: a zero bitmap marks everything "definitely new" and
        # BYPASSES the exact join — the one direction a bloom must never
        # be wrong in. If the driver cannot see a single delta file under
        # bloom_dir (wrong/unreachable path), don't trust empty bitmaps:
        # warn and fall back to the plain exact anti-join.
        _, any_files = _list_bloom_files(bloom_dir)
        if not any_files:
            import warnings

            warnings.warn(
                f"bloom files unreadable under {bloom_dir!r}; falling back "
                "to the exact anti-join for this wave",
                stacklevel=2,
            )
            return None

        # ADVICE r3: enumerate the per-shard file manifest ON THE DRIVER and
        # close over it — an executor that cannot read the dir (mis-mounted
        # DFS, driver-local temp path on a real cluster) must FAIL LOUDLY,
        # not list zero files, build an all-zero bitmap, and silently
        # re-admit seen URLs. bits_for below raises on any manifest file it
        # cannot read; a shard absent from the manifest is genuinely empty
        # (the driver saw the dir — no URL has hashed to it yet).
        import re as _re

        shard_manifest: dict[int, list[str]] = {}
        for p in any_files:
            mt = _re.search(r"/shard=(\d+)/", p)
            if mt:
                shard_manifest.setdefault(int(mt.group(1)), []).append(p)

        def load_files():
            import pyarrow.parquet as pq

            loaded: dict[int, np.ndarray] = {}

            def bits_for(s: int) -> np.ndarray:
                bm = loaded.get(s)
                if bm is None:
                    bm = np.zeros(nbytes, dtype=np.uint8)
                    fsys, _ = _bloom_fs(bloom_dir)
                    for f in shard_manifest.get(s, ()):
                        # manifest file unreadable here => this executor
                        # cannot see the filter storage — raise (a silent
                        # empty bitmap would bypass the exact anti-join)
                        t = pq.read_table(f, columns=["bitmap"], filesystem=fsys)
                        for buf in t.column("bitmap").to_pylist():
                            bm |= np.frombuffer(buf, dtype=np.uint8)
                    loaded[s] = bm
                return bm

            return bits_for

        return load_files

    def merged_file_bits(self) -> np.ndarray:
        """Driver-side OR-merge of every written bitmap delta file —
        TEST/AUDIT surface only (the engine path never does this)."""
        self.barrier()
        import pyarrow.parquet as pq

        nbytes = (self.m + 7) // 8
        out = np.zeros((self.n_shards, nbytes), dtype=np.uint8)
        for s in range(self.n_shards):
            fsys, files = _list_bloom_files(self.bloom_dir, s)
            for f in files:
                t = pq.read_table(f, columns=["bitmap"], filesystem=fsys)
                for buf in t.column("bitmap").to_pylist():
                    out[s] |= np.frombuffer(buf, dtype=np.uint8)
        return out
