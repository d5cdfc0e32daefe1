"""The zip-import backport (``worker_imports``): ``importlib.invalidate_caches()``
re-reads a zip archive's directory only when the archive changed, on the
driver and inside reused Python workers."""

import importlib
import sys
import zipfile
import zipimport

import eget_crawler_for_overflow_spark  # noqa: F401  (installs the backport)


def _write_zip(path, body):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zmod.py", body)


def test_unchanged_zip_not_reread_changed_zip_reloaded(tmp_path, monkeypatch):
    archive = str(tmp_path / "z.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zmod", raising=False)
    import zmod

    assert zmod.VALUE == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert reads == []

    # a different body AND size, so the stamp differs even on a coarse clock
    _write_zip(archive, "VALUE = 22222\n")
    importlib.invalidate_caches()
    if sys.version_info < (3, 13):
        assert reads.count(archive) == 1
    del sys.modules["zmod"]
    import zmod

    assert zmod.VALUE == 22222


def test_reused_workers_skip_zip_rereads(spark):
    """An engine-referring ``mapInPandas`` hooks each worker's
    ``importlib.invalidate_caches`` on its first task to count the
    directory reads of every later call. A worker that runs it again
    reports the counts of its own per-task calls since, which must be zero:
    importing the engine package patched it during the first task."""
    import json

    import pandas as pd

    from eget_crawler_for_overflow_spark.functions import htmllib

    def probe(batches):
        import importlib
        import os
        import zipimport

        htmllib.parse_html  # the pickled function refers to an engine module
        log = getattr(importlib, "_probe_zip_reads", None)
        hooked_now = log is None
        if hooked_now:
            log = importlib._probe_zip_reads = []
            reads = [0]
            read_directory = zipimport._read_directory
            invalidate = importlib.invalidate_caches

            def counting_read(archive):
                reads[0] += 1
                return read_directory(archive)

            def counting_invalidate():
                before = reads[0]
                invalidate()
                log.append(reads[0] - before)

            zipimport._read_directory = counting_read
            importlib.invalidate_caches = counting_invalidate
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"pid": [os.getpid()], "hooked_now": [hooked_now], "log": [json.dumps(log)]}
        )

    df = spark.range(0, 8, 1, 8)
    schema = "pid long, hooked_now boolean, log string"
    reused = []
    # idle workers left by earlier tests may take this job's first tasks,
    # so run until some worker comes back for a second probe task
    for _ in range(6):
        rows = df.mapInPandas(probe, schema).collect()
        reused += [r for r in rows if not r["hooked_now"]]
        if reused:
            break
    assert reused
    for r in reused:
        counts = json.loads(r["log"])
        assert counts, r  # the task's own invalidate_caches() ran hooked
        assert all(c == 0 for c in counts), (r["pid"], counts)
