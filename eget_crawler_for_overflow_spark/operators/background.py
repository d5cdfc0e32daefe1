"""One background Spark job at a time, with its failure surfaced later.

The crawl loop overlaps maintenance work (the seen set's append, the
priority frontier's host-count merge) with the fetch/extract of the same
generation. Spark job submission is thread-safe; what the loop needs is
that the next reader waits for the job and sees its failure.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


class BackgroundJob:
    """Runs ``fn(*args)`` on a daemon thread that inherits the session's
    thread-local properties (job group, scheduler pool). ``start`` joins
    the previous job first, so at most one runs; ``join`` waits for the
    current one and re-raises its failure once."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._thread: threading.Thread | None = None
        self._err: BaseException | None = None

    def start(self, fn: Callable[..., object], *args: object) -> None:
        self.join()

        def run() -> None:
            try:
                fn(*args)
            except BaseException as e:  # re-raised by join()
                self._err = e

        self._thread = threading.Thread(
            target=inheritable_thread_target(self._spark)(run), daemon=True
        )
        self._thread.start()

    def join(self) -> None:
        if self._thread is not None:
            self._thread.join()
            self._thread = None
        if self._err is not None:
            err, self._err = self._err, None
            raise err
