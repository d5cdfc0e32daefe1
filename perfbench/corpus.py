"""The benchmark's input corpus, built inside the checkout from source.

The engine's synthetic ``pages`` table is derived by ``fixtures.build_pages``
from a ``documents`` table. The benchmark may read nothing outside its
checkout, so it generates that table itself: 2,500 rows of word-salad text
(30-word vocabulary, 44-577 chars, five language labels). The pages table
is the engine's sf0.01 tier: 5,000 pages on 64 hosts, each document on two
pages, so that MinHash dedup has duplicate pairs to find.
The corpus is fixed; the workload seed only picks seed URLs or page slices
from it.

Everything lands under ``<checkout>/.perfbench/``:

* ``sf0.01/documents.parquet`` - the generated documents;
* ``pages_sf0.01.parquet`` - the pages table (16 uncompressed files),
  built once per checkout.
"""

from __future__ import annotations

import os
import random
import shutil

CORPUS_SEED = 20251016
TIER = "sf0.01"
N_DOCS = 2500
N_FILES = 16
VOCAB = (
    "a the batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector customer join"
).split()
LANGS = ("en", "en", "en", "fr", "es", "zh", "de")


def work_dir(root: str) -> str:
    return os.path.join(root, ".perfbench")


def sf_dir(root: str) -> str:
    # the directory name selects the engine's sizing (pagemodel.TIERS)
    return os.path.join(work_dir(root), TIER)


def pages_path(root: str) -> str:
    return os.path.join(work_dir(root), f"pages_{TIER}.parquet")


def _documents() -> dict[str, list]:
    rng = random.Random(CORPUS_SEED)
    ids, texts, langs = [], [], []
    for i in range(N_DOCS):
        target = rng.randint(44, 577)
        words: list[str] = []
        n = -1
        while n < target:
            w = rng.choice(VOCAB)
            words.append(w)
            n += len(w) + 1
        ids.append(i)
        texts.append(" ".join(words))
        langs.append(rng.choice(LANGS))
    return {"doc_id": ids, "text": texts, "lang": langs}


def write_documents(root: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir(root), "documents.parquet")
    if not os.path.exists(path):
        os.makedirs(sf_dir(root), exist_ok=True)
        tmp = path + ".tmp"
        pq.write_table(pa.table(_documents()), tmp)
        os.rename(tmp, path)
    return path


def ensure_pages(spark, root: str) -> bool:
    """Build the pages table once; True when this call built it."""
    from eget_crawler_for_overflow_spark.fixtures import build_pages

    path = pages_path(root)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return False
    write_documents(root)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        build_pages(spark, sf_dir(root))
        .repartition(N_FILES)
        .write.option("compression", "none")
        .parquet(tmp)
    )
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return True
