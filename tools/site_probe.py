"""Spark jobs and wall time per package call site, for the three
``lake_writes`` operations (two near-dup ingest batches and one daily
DAG run).

    python tools/site_probe.py [seed] [passes]

Run it from the repository root. It builds the benchmark's inputs for
``seed`` (default 7) with ``perfbench/gen.py``, then replays the
operations ``passes`` times (default 2) in one JVM: each pass ingests
into a fresh corpus lake and runs the DAG into a fresh lake root, so
the first pass shows the cold cost and the later ones the warm cost.

Every DataFrame action, reader and writer is wrapped. The outermost
wrapped call of a thread sets the Spark job description to its call
site (the innermost frame inside the package, plus the first caller
outside ``sources/`` when that differs), and after each operation the
jobs in the driver's status store are billed by description; jobs
launched outside a wrapped call bill to ``(unwrapped)``. Per
operation it prints the wall time, then one line per call site: jobs,
calls and the wall time spent inside those calls (summed over
threads, so concurrent calls can add up to more than the operation).
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import tempfile
import threading
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import gen  # noqa: E402  (perfbench/gen.py)
from py4j.protocol import Py4JJavaError  # noqa: E402
from pyspark.sql import DataFrameReader, DataFrameWriter  # noqa: E402
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from projet_big_data_boutin_danre_spark import corpus_pipeline as cp  # noqa: E402
from projet_big_data_boutin_danre_spark import pipeline  # noqa: E402
from projet_big_data_boutin_danre_spark.session import get_spark  # noqa: E402

PKG = os.path.join(ROOT, "projet_big_data_boutin_danre_spark")
# the lake_writes settings (perfbench/run.py)
RUN_DAY = "20250115"
BATCH_DOCS = 300
COMPACT_ABOVE_FILES = 3
WRAPPED = {
    DataFrame: ("count", "collect", "first", "head", "take", "toPandas",
                "foreachPartition", "localCheckpoint", "checkpoint",
                "isEmpty"),
    DataFrameReader: ("parquet", "json", "csv", "orc", "load", "table"),
    DataFrameWriter: ("parquet", "json", "csv", "orc", "save",
                      "saveAsTable", "insertInto"),
}
DESC = "spark.job.description"

_local = threading.local()
_calls: dict[str, list] = defaultdict(lambda: [0, 0.0])  # site -> [n, s]


def _site() -> str:
    inner = caller = None
    frame = sys._getframe(2)
    while frame is not None:
        fn = frame.f_code.co_filename
        if fn.startswith(PKG):
            here = (f"{os.path.relpath(fn, PKG)}:{frame.f_code.co_name}"
                    f":{frame.f_lineno}")
            inner = inner or here
            if not fn.startswith(os.path.join(PKG, "sources")):
                caller = here
                break
        frame = frame.f_back
    if inner is None:
        return "(outside the package)"
    return inner if caller in (None, inner) else f"{inner} < {caller}"


def _wrap(cls, name, sc):
    real = getattr(cls, name)

    @functools.wraps(real)
    def wrapper(*args, **kwargs):
        if getattr(_local, "busy", False):
            return real(*args, **kwargs)
        site = _site()
        prev = sc.getLocalProperty(DESC)
        sc.setLocalProperty(DESC, site)
        _local.busy = True
        t0 = time.perf_counter()
        try:
            return real(*args, **kwargs)
        finally:
            _calls[site][0] += 1
            _calls[site][1] += time.perf_counter() - t0
            _local.busy = False
            sc.setLocalProperty(DESC, prev)

    setattr(cls, name, wrapper)


def _bill(spark, first_job: int) -> dict[str, int]:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    jobs: dict[str, int] = defaultdict(int)
    for jid in range(first_job, sc.dagScheduler().nextJobId()):
        try:
            desc = store.job(jid).description()
        except Py4JJavaError:  # a job the store has already evicted
            desc = None
        jobs[desc.get() if desc is not None and desc.isDefined()
             else "(unwrapped)"] += 1
    return jobs


def _report(label: str, wall: float, jobs: dict[str, int]) -> None:
    print(f"\n{label}: {wall:.2f} s, {sum(jobs.values())} jobs")
    for site in sorted(set(jobs) | set(_calls),
                       key=lambda s: (-jobs.get(s, 0), s)):
        n, s = _calls.get(site, (0, 0.0))
        print(f"  {jobs.get(site, 0):3d} jobs {n:3d} calls {s:6.2f} s  {site}")


def main(argv: list[str]) -> None:
    seed = int(argv[0]) if argv else 7
    passes = int(argv[1]) if len(argv) > 1 else 2
    work = tempfile.mkdtemp(prefix="site_probe_")
    try:
        template = os.path.join(work, "dag_template")
        gen.write_dag_inputs(seed, template, RUN_DAY)
        plan = gen.ingest_plan(seed, 2 * passes, BATCH_DOCS)
        batches = []
        for i, b in enumerate(plan):
            batches.append(os.path.join(work, f"b{i:03d}.parquet"))
            gen.write_batch(b, batches[-1])
        # the benchmark's session sizing
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        spark = get_spark("site_probe")
        spark.sparkContext.setLogLevel("ERROR")
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        for cls, names in WRAPPED.items():
            for name in names:
                _wrap(cls, name, spark.sparkContext)
        for p in range(passes):
            lake = os.path.join(work, f"lake{p}")
            ops = [(f"ingest batch{2 * p + k:03d}", 2 * p + k)
                   for k in range(2)] + [("dag", None)]
            for label, i in ops:
                _calls.clear()
                first = dag.nextJobId()
                t0 = time.perf_counter()
                if i is not None:
                    df = spark.read.parquet(batches[i])
                    res = cp.incremental_ingest(
                        spark, df, lake, near_dup=True,
                        compact_above_files=COMPACT_ABOVE_FILES,
                    )
                    if res.get("compact_due"):
                        cp.maintain_lake(
                            spark, lake,
                            compact_above_files=COMPACT_ABOVE_FILES,
                        )
                else:
                    root = os.path.join(work, f"dag{p}")
                    shutil.copytree(template, root)
                    lay = pipeline.DatalakeLayout(root, RUN_DAY)
                    pipeline.transform_dvf(spark, lay, force=True)
                    pipeline.transform_lbc(spark, lay)
                    pipeline.compute_usage(spark, lay)
                    pipeline.index_fan_out(spark, lay)
                wall = time.perf_counter() - t0
                _report(f"pass {p} {label}", wall, _bill(spark, first))
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
