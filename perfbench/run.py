"""Repository benchmark: crawl and extraction workloads at local[<cores>].

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the 5,000-page corpus
under ``.perfbench/`` (reported as ``corpus_build_s``, never in set-up).

``--trace 0`` (timed run): set-up (``setup``) is repeated ``SETUP_REPS``
times and its median reported as ``setup_s``. The workload's untimed
warm-up (``warm_op``) runs; then its operation repeats until ``--seconds``
of operations have run (at least once), every result is checked, and the
medians are reported.

``--trace 1`` (traced run): one set-up, an untraced operation to warm up,
another as the overhead baseline, then one operation with spans around
the engine's public functions and DataFrame actions (tracing.py, layers.py).
Prints the per-layer metrics; spans go to
``.perfbench/trace-<workload>-<seed>.jsonl``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit). The line before it is
a fuller report (``fail_frac``, job counts, every repetition, load).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "eget_crawler_for_overflow_spark"
SETUP_REPS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(cores: int) -> None:
    """Box-fit Spark settings; everything the JVM and Python workers write
    stays inside the checkout."""
    import corpus

    tmp = os.path.join(corpus.work_dir(ROOT), "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            # every JVM, the spark-submit launcher included; no hsperfdata,
            # which the JVM writes to /tmp whatever java.io.tmpdir says
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # the persisted inputs are ~10 MB; a small heap fills and is
            # collected the same way every run, which steadies peak memory
            "SPARK_DRIVER_MEM": "1g",
            "SPARK_GRAFT_CPUS": str(cores),
        }
    )


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc. Each process
    counts its proportional share (Pss) of pages it shares, so forked
    Python workers do not count their parent's pages again."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.interval)


def job_counts(spark, group: str) -> dict[str, int]:
    """Exact jobs, executed stages and tasks of one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0 and s not in stages:
                stages.add(s)
                tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def session_state(spark) -> dict[str, float]:
    """What a session still holds after an operation: persisted RDDs
    (persist and localCheckpoint pins) and their cached bytes."""
    jsc = spark.sparkContext._jsc
    cached = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
    return {"persisted_rdds": jsc.getPersistentRDDs().size(), "cached_mb": cached / 2**20}


def start_session(cores: int):
    from eget_crawler_for_overflow_spark.session import get_spark

    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(cores: int, wl, reps: int) -> tuple[object, list[float], float]:
    """(session, set-up seconds per repetition, corpus build seconds).

    Set-up is session start, input scan and persist, and Python-worker
    warm-up. The session starts once per process; scan, persist and warm-up
    repeat ``reps`` times with the cache cleared in between, and each
    repetition counts the session start too. A corpus build on the first
    run of a checkout is timed apart."""
    import corpus

    t0 = time.perf_counter()
    spark = start_session(cores)
    session_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    built = corpus.ensure_pages(spark, ROOT)
    build_s = time.perf_counter() - t1 if built else 0.0
    times = []
    for k in range(reps):
        if k:
            spark.catalog.clearCache()
        t = time.perf_counter()
        wl.prepare(spark)
        wl.warm(spark)
        times.append(session_s + time.perf_counter() - t)
    return spark, times, build_s


def check_fingerprint(workload: str, seed: int, fp: str) -> str | None:
    """The same seed must give the same result on every run in a checkout."""
    import corpus

    d = os.path.join(corpus.work_dir(ROOT), "fingerprints")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-{seed}")
    if os.path.exists(path):
        with open(path) as f:
            old = f.read().strip()
        return None if old == fp else f"result differs from an earlier run of seed {seed}"
    with open(path, "w") as f:
        f.write(fp)
    return None


def run_op(spark, wl, group: str, **kw):
    spark.sparkContext.setJobGroup(group, group)
    out = wl.op(spark, **kw)
    spark.sparkContext.setJobGroup("bench-check", "bench-check")
    return out, job_counts(spark, group)


def warm_op(spark, wl) -> None:
    spark.sparkContext.setJobGroup("op-warm", "op-warm")
    wl.warm_op(spark)


def stop_jvm() -> None:
    """Stop the driver JVM this process launched (its Python workers go
    with it) and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # one core is left to the driver: JIT compiler and GC threads, the
    # driver's Python, the crawl's seen-set thread
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    configure_env(cores)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload](ROOT, args.seed)
    try:
        with RssSampler() as rss:
            if args.trace:
                report, result = traced_run(args, cores, wl)
            else:
                report, result = timed_run(args, cores, wl)
            report["peak_rss_mb"] = rss.peak / 2**20
    finally:
        stop_jvm()
    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": rss.peak / 2**20, "unit": "MB"}
    report["loadavg_1m"] = os.getloadavg()[0]
    print("report " + json.dumps(report, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _verify(args, spark, wl, outcome) -> tuple[int, int, list[str]]:
    attempted, failed, violations, fp = wl.check(spark, outcome)
    bad = check_fingerprint(args.workload, args.seed, fp)
    return attempted, failed, violations + ([bad] if bad else [])


def timed_run(args, cores: int, wl) -> tuple[dict, dict]:
    spark, setups, build_s = setup(cores, wl, SETUP_REPS)
    walls, rates, counts, check_s, stages, states = [], [], [], [], [], []
    attempted = failed = 0
    violations: list[str] = []
    try:
        warm_op(spark, wl)
        while not walls or sum(walls) < args.seconds:
            out, jc = run_op(spark, wl, f"op-{len(walls)}")
            walls.append(out.wall_s)
            rates.append(out.pages / out.wall_s)
            counts.append(jc)
            stages.append(out.stages)
            states.append(session_state(spark))
            t0 = time.perf_counter()
            a, f, v = _verify(args, spark, wl, out)
            check_s.append(time.perf_counter() - t0)
            attempted, failed, violations = attempted + a, failed + f, violations + v
    finally:
        spark.stop()
    correct = failed == 0 and not violations
    metrics = {
        "pages_per_s": {"value": statistics.median(rates), "unit": "1/s"},
        "wall_s": {"value": statistics.median(walls), "unit": "s"},
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "driver_memory": os.environ["SPARK_DRIVER_MEM"],
        "corpus_build_s": build_s,
        "setup_reps_s": setups,
        "op_wall_s": walls,
        "op_pages_per_s": rates,
        "op_spark_counts": counts,
        "check_s": check_s,
        "op_stages_s": stages,
        "session_after_op": states,
        "fail_frac": failed / max(1, attempted),
        "violations": violations,
    }
    return report, {
        "correct": correct,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": metrics,
    }


def traced_run(args, cores: int, wl) -> tuple[dict, dict]:
    import corpus
    import layers
    from tracing import Tracer

    spark, (setup_s,), build_s = setup(cores, wl, 1)
    try:
        # a whole untraced operation first, so that the baseline and the
        # traced operation both run warm
        run_op(spark, wl, "op-warm")
        base, _ = run_op(spark, wl, "op-untraced")
        tracer = Tracer()
        layers.install(tracer)
        try:
            kw = {"span": tracer.span} if args.workload == "page_pipeline" else {}
            with tracer.span("op") as op_span:
                out, jc = run_op(spark, wl, "op-traced", **kw)
        finally:
            tracer.restore()
        attempted, failed, violations = _verify(args, spark, wl, out)
        per_layer = layers.layer_metrics(tracer, op_span, out, jc, wl)
        per_layer["trace.overhead_s"] = (out.wall_s - base.wall_s, "s")
        per_layer.update(layers.kernel_metrics(wl.root))
        eff = 0.0
        if args.workload == "page_pipeline":
            spark, eff = layers.scaling_pair(spark, wl, cores, start_session)
        per_layer["extract.scaling_eff"] = (eff, "ratio")
    finally:
        spark.stop()
    path = os.path.join(corpus.work_dir(ROOT), f"trace-{args.workload}-{args.seed}.jsonl")
    tracer.write(path)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "corpus_build_s": build_s,
        "setup_s": setup_s,
        "untraced_wall_s": base.wall_s,
        "traced_wall_s": out.wall_s,
        "spans": len(tracer.spans),
        "span_file": path,
        "fail_frac": failed / max(1, attempted),
        "violations": violations,
    }
    return report, {
        "correct": failed == 0 and not violations,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(per_layer.items())},
    }


if __name__ == "__main__":
    sys.exit(main())
