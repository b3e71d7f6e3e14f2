"""Benchmark runner: one seeded workload, closed loop, one JSON result.

    python3 perfbench/run.py --workload read_queries --seed 1 \
        --seconds 15 --trace 0

Run it from the repository root. It generates its inputs from ``--seed``
(``perfbench/gen.py``), starts a ``local[<nproc>]`` session, warms it up
the way ``bench.py`` does, and then issues operations from one client
thread, each only when the previous one has completed, for at least
``--seconds`` seconds and in whole passes (see ``at_boundary``). Every operation's output is checked; a wrong or raising
operation counts in ``failed`` and the run goes on.

Workloads (see ``perfbench/METRICS.md``):

- ``read_queries``: the 33 relational ``queries()`` slots plus three
  corpus slots, in seed-permuted passes; one operation is one slot
  call plus ``count()``.
- ``lake_writes``: the write side. Operations cycle through two
  incremental-ingest batches (near-dup guard on, lake compaction when
  due) and one daily run of the paper's DAG into a fresh lake root.

Output: a detail JSON line (every figure, checks, host canaries), then
as the LAST line ``{"correct", "attempted", "failed", "metrics"}`` with
the end-to-end metrics (``--trace 0``) or the per-layer metrics of the
traced run (``--trace 1``). All files live under
``.perfbench_work/`` in the working directory; all but the traced run's
spans (``.perfbench_work/spans/<workload>-<seed>.json``) are removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "projet_big_data_boutin_danre_spark"

WORKLOADS = ("read_queries", "lake_writes")
# corpus slots ridden along in read_queries: one or more per corpus
# layer (text + lm, similarity, multimodal, dedup) at ~1-2 s warm each
CORPUS_SLOTS = ("text_profile", "cosine_topk", "multimodal_features")
TRACED_SLOTS = (
    "text_profile", "cosine_topk", "multimodal_features", "search_spec",
    "sessionize", "grouping_sets",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# tables whose pages the warm-up reads: the ones the workload scans
WARM_TABLES = {"read_queries": TABLES, "lake_writes": ("documents",)}
LAKE_CYCLE = ("ingest", "ingest", "dag")
SETUPS = 2             # session + warm-up repetitions; setup_s is their median
DIGEST_SLOTS = 1       # slots whose full output is compared with DuckDB per run
INGEST_BATCHES = 60    # planned batches (a run uses a prefix)
INGEST_BATCH_DOCS = 300
COMPACT_ABOVE_FILES = 3
RUN_DAY = "20250115"
END_TO_END = ("setup_s", "op_p50_s", "ops_per_s", "peak_rss_mb")
DEDUP_METRICS = ("dedup.candidate_pairs", "dedup.cc_rounds",
                 "dedup.verified_per_candidate")


def read_slots() -> list[str]:
    """The 33 relational slots (``market_stats`` .. ``price_regression``
    in ``queries()`` order) plus ``CORPUS_SLOTS``."""
    import __spark_entry__ as entry

    names = list(entry.queries())
    return names[: names.index("price_regression") + 1] + list(CORPUS_SLOTS)


def oracle_counts(data_dir: str, names: list[str]) -> dict[str, int]:
    """Expected row counts from the DuckDB twins, in a child process."""
    import subprocess

    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "oracle.py"), data_dir, *names],
        cwd=ROOT, check=True, capture_output=True, text=True, timeout=120,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ------------------------------------------------------------------ session


def start_session():
    from projet_big_data_boutin_danre_spark.session import get_spark

    work = os.environ["PERFBENCH_WORK"]
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.local.dir": f"{work}/spark-local",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session AND its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def warm_up(spark, data_dir: str, tables) -> None:
    """bench.py's warm-up: JVM/codegen bootstrap, Python worker spawn
    (one single-group applyInPandas, then one cores-wide mapInPandas),
    and a full column read of every table (page-cache fill)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    entry.queries()["market_stats"](spark, data_dir).limit(1).count()
    spark.createDataFrame([(1,)], "k int").groupBy("k").applyInPandas(
        lambda pdf: pdf, "k int"
    ).count()
    n = spark.sparkContext.defaultParallelism
    spark.range(n).repartition(n).mapInPandas(
        lambda it: it, "id long"
    ).count()
    for t in tables:
        df = load_table(spark, data_dir, t)
        df.select(
            [F.count(c).alias(f"c{i}") for i, c in enumerate(df.columns)]
        ).collect()


def jvm_pid():
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# --------------------------------------------------------------- workloads


class Op:
    """One timed operation's record."""

    __slots__ = ("kind", "name", "latency", "error", "mismatch", "span",
                 "info")

    def __init__(self, kind, name):
        self.kind, self.name = kind, name
        self.latency = 0.0
        self.error = None      # exception class name if it raised
        self.mismatch = None   # what the output check found wrong
        self.span = None       # index of the op span when traced
        self.info: dict = {}


def run_timed(tracer, op: Op, op_id: int, body) -> Op:
    t0 = time.perf_counter()
    with tracer.span("op", op.kind, op_id=op_id) as sp:
        if sp is not None:
            op.span = len(tracer.spans) - 1
            sp.attrs["op"] = op.name
        try:
            body(op)
        except Exception as e:  # counted in failed, the run goes on
            op.error = type(e).__name__
    op.latency = time.perf_counter() - t0
    return op


class ReadQueries:
    def __init__(self, spark, tracer, data_dir, seed, expected):
        import __spark_entry__ as entry

        self.spark, self.tracer, self.data = spark, tracer, data_dir
        self.qs = entry.queries()
        self.oracles = entry.oracle_sql()
        self.slots = read_slots()
        self.seed = seed
        self.expected = expected
        self._order: list[str] = []
        self._pass = 0

    def at_boundary(self) -> bool:
        return not self._order

    def next_op(self) -> Op:
        if not self._order:
            self._order = list(self.slots)
            random.Random(self.seed * 1000 + self._pass).shuffle(self._order)
            self._pass += 1
        return Op("slot", self._order.pop(0))

    def body(self, op: Op) -> None:
        fn = self.qs[op.name]
        with self.tracer.span("plan", "__spark_entry__"):
            df = fn(self.spark, self.data)
        with self.tracer.span("action", "__spark_entry__"):
            n = df.count()
        op.info["rows"] = n
        if n != self.expected[op.name]:
            op.mismatch = f"rows {n} != {self.expected[op.name]}"

    def final_checks(self) -> list[dict]:
        """Full-output comparison with the DuckDB oracle for a
        seed-chosen sample of slots, outside the timed region."""
        from oracle import load_verify_local

        verify_local = load_verify_local()
        pick = random.Random(self.seed).sample(self.slots, DIGEST_SLOTS)
        out = []
        for name in pick:
            rec = {"check": "oracle_digest", "slot": name}
            try:
                sdf = self.qs[name](self.spark, self.data).toPandas()
                con = verify_local.duck_conn(self.data)
                ddf = con.execute(self.oracles[name]).df()
                problems = [
                    p for p in verify_local.compare(name, sdf, ddf)
                    if "CLOSE (float noise)" not in p
                ]
                rec["ok"] = not problems
                if problems:
                    rec["problems"] = problems[:3]
            except Exception as e:
                rec["ok"], rec["error"] = False, type(e).__name__
            out.append(rec)
        return out

    def after(self, op: Op) -> None:
        pass

    def lake_figures(self) -> dict:
        return {}


class LakeWrites:
    def __init__(self, spark, tracer, work, seed):
        import gen

        self.spark, self.tracer, self.work = spark, tracer, work
        self.template = os.path.join(work, "dag_template")
        self.dag = gen.write_dag_inputs(seed, self.template, RUN_DAY)
        self.plan = gen.ingest_plan(seed, INGEST_BATCHES, INGEST_BATCH_DOCS)
        self.batch_files, self.batch_bytes = [], []
        os.makedirs(os.path.join(work, "batches"), exist_ok=True)
        for i, b in enumerate(self.plan):
            path = os.path.join(work, "batches", f"b{i:03d}.parquet")
            self.batch_bytes.append(gen.write_batch(b, path))
            self.batch_files.append(path)
        self.lake = os.path.join(work, "corpus_lake")
        self.n_ops = self.n_batches = self.n_dag = self.admitted = 0
        self.dag_root = None

    def at_boundary(self) -> bool:
        return self.n_ops % len(LAKE_CYCLE) == 0

    def next_op(self) -> Op:
        """Pick the next operation and prepare its inputs; runs before
        the operation's timer starts."""
        import gen

        kind = LAKE_CYCLE[self.n_ops % len(LAKE_CYCLE)]
        self.n_ops += 1
        if kind == "ingest":
            if self.n_batches >= len(self.plan):
                raise RuntimeError("ingest batch plan exhausted")
            op = Op("ingest", f"batch{self.n_batches:03d}")
            op.info.update(batch=self.n_batches, root=self.lake,
                           files_before=gen.file_sizes(self.lake))
            self.n_batches += 1
            return op
        op = Op("dag", f"dag{self.n_dag:03d}")
        # a fresh lake root holding only the raw layer
        root = os.path.join(self.work, f"dag_lake_{self.n_dag:03d}")
        shutil.copytree(self.template, root)
        op.info.update(root=root, files_before=gen.file_sizes(root))
        self.n_dag += 1
        return op

    def body(self, op: Op) -> None:
        (self._ingest if op.kind == "ingest" else self._dag)(op)

    def after(self, op: Op) -> None:
        """Write accounting of a finished operation, outside its timer:
        bytes and files that are new or rewritten under its lake root."""
        import gen

        written = gen.new_bytes(op.info.pop("files_before"),
                                gen.file_sizes(op.info["root"]))
        op.info["bytes_written"], op.info["files_written"] = written
        if op.kind == "dag":
            # keep only the newest DAG lake on disk
            if self.dag_root and os.path.isdir(self.dag_root):
                shutil.rmtree(self.dag_root)
            self.dag_root = op.info["root"]

    def _ingest(self, op: Op) -> None:
        import gen
        from projet_big_data_boutin_danre_spark import corpus_pipeline as cp
        from projet_big_data_boutin_danre_spark.sources import readers

        i = op.info["batch"]
        batch = self.plan[i]
        op.info.update(rows=len(batch["docs"]),
                       input_bytes=self.batch_bytes[i])
        with self.tracer.span("read_batch", "sources.readers"):
            df = readers.read_parquet_lake(self.spark, self.batch_files[i])
        with self.tracer.span("incremental_ingest", "corpus_pipeline"):
            res = cp.incremental_ingest(
                self.spark, df, self.lake, near_dup=True,
                compact_above_files=COMPACT_ABOVE_FILES,
            )
        op.info.update(arrived=res["arrived"], admitted=res["admitted"])
        self.admitted += res["admitted"]
        if res["arrived"] != len(batch["docs"]) or \
                not 0 <= res["admitted"] <= res["arrived"]:
            op.mismatch = (f"arrived {res['arrived']} of "
                           f"{len(batch['docs'])}, admitted {res['admitted']}")
        if res.get("compact_due"):
            snap = gen.file_sizes(self.lake)
            with self.tracer.span("maintain_lake", "corpus_pipeline"):
                cp.maintain_lake(self.spark, self.lake,
                                 compact_above_files=COMPACT_ABOVE_FILES)
            op.info["rewritten_bytes"] = gen.new_bytes(
                snap, gen.file_sizes(self.lake)
            )[0]

    def _dag(self, op: Op) -> None:
        from projet_big_data_boutin_danre_spark import pipeline

        lay = pipeline.DatalakeLayout(op.info["root"], RUN_DAY)
        op.info.update(rows=self.dag["input_rows"],
                       input_bytes=self.dag["input_bytes"])
        with self.tracer.span("transform_dvf", "pipeline"):
            pipeline.transform_dvf(self.spark, lay, force=True)
        with self.tracer.span("transform_lbc", "pipeline"):
            pipeline.transform_lbc(self.spark, lay)
        with self.tracer.span("compute_usage", "pipeline"):
            pipeline.compute_usage(self.spark, lay)
        with self.tracer.span("index_fan_out", "pipeline"):
            counts = pipeline.index_fan_out(self.spark, lay)
        if counts != self.dag["expected"]:
            op.mismatch = f"index counts {counts} != {self.dag['expected']}"

    def final_checks(self) -> list[dict]:
        """Every planted replay was blocked, and the lake's recount
        equals the admitted total. Outside the timed region."""
        from pyspark.sql import functions as F

        from projet_big_data_boutin_danre_spark import corpus_pipeline as cp

        out = []
        if not self.n_batches:
            return out
        replays = [r for b in self.plan[: self.n_batches]
                   for r in b["replays"]]
        try:
            docs = self.spark.read.parquet(f"{self.lake}/docs")
            ids = {r.doc_id for r in docs.filter(F.col("doc_id").isin(
                [x for pair in replays for x in pair]
            )).select("doc_id").collect()}
            # a replay of an admitted document must have been blocked
            live = [rid for rid, src in replays if src in ids]
            leaked = sum(rid in ids for rid in live)
            out.append({"check": "replays_blocked", "ok": leaked == 0,
                        "replays": len(live), "leaked": leaked})
        except Exception as e:
            out.append({"check": "replays_blocked", "ok": False,
                        "error": type(e).__name__})
        try:
            n = cp.recount_lake_docs(self.spark, self.lake)
            out.append({"check": "recount", "ok": n == self.admitted,
                        "recount": n, "admitted": self.admitted})
        except Exception as e:
            out.append({"check": "recount", "ok": False,
                        "error": type(e).__name__})
        return out

    def lake_figures(self) -> dict:
        import gen

        on_disk = gen.dir_bytes(self.lake) if os.path.isdir(self.lake) else 0
        if self.dag_root and os.path.isdir(self.dag_root):
            on_disk += gen.dir_bytes(self.dag_root)
        return {"on_disk_bytes": on_disk}


# ---------------------------------------------------------------- metrics


def end_to_end(ops, wall, setup_s, rss_mb, lake) -> dict:
    from spans import failed_frac, median, percentile

    lat = [o.latency for o in ops]
    out = {
        "setup_s": setup_s,
        "op_p50_s": median(lat),
        "ops_per_s": len(ops) / wall,
        "peak_rss_mb": rss_mb,
    }
    extra = {
        "op_count": len(ops),
        "op_p90_s": percentile(lat, 0.9),
        # the highest percentile with ten samples beyond it
        "op_tail_q": tail_q(len(ops)),
        "op_tail_s": percentile(lat, tail_q(len(ops))),
        "failed_frac": failed_frac(
            len(ops), sum(o.error is not None for o in ops),
            sum(o.mismatch is not None for o in ops),
        ),
    }
    lake_ops = [o for o in ops if "input_bytes" in o.info]
    if lake_ops:
        in_bytes = sum(o.info["input_bytes"] for o in lake_ops)
        extra["input_rows_per_s"] = sum(o.info["rows"] for o in lake_ops) / wall
        extra["write_amp"] = sum(
            o.info["bytes_written"] for o in lake_ops
        ) / in_bytes
        extra["space_amp"] = lake.get("on_disk_bytes", 0) / in_bytes
        extra["compactions"] = sum("rewritten_bytes" in o.info for o in ops)
    for kind in sorted({o.kind for o in ops}):
        kl = [o.latency for o in ops if o.kind == kind]
        extra[f"{kind}_count"] = len(kl)
        extra[f"{kind}_p50_s"] = median(kl)
    return out, extra


def tail_q(n: int) -> float:
    return max(0.5, math.floor(100 * (n - 10) / n) / 100) if n else 0.5


def per_layer(tracer, ops, session_start_s, probes) -> dict:
    """The per-layer metrics of a traced run. A metric whose layer the
    workload never calls reads 0."""
    from spans import SPAN_METRICS, median

    m: dict[str, float] = {"session.start_s": session_start_s}
    spans = tracer.spans
    op_metrics = [tracer.span_metrics(o.span) for o in ops if o.span is not None]
    for k in SPAN_METRICS:
        m[f"op.{k}"] = (sum(x[k] for x in op_metrics) / len(op_metrics)
                        if op_metrics else 0.0)
    # stage input bytes read by every job of an operation
    m["readers.bytes_read"] = (
        sum(j.get("input_bytes", 0.0)
            for o in ops if o.span is not None
            for j in tracer.subtree_jobs(o.span)) / max(1, len(ops))
    )
    lake_ops = [o for o in ops if "bytes_written" in o.info]
    m["sinks.bytes_written"] = median([o.info["bytes_written"] for o in lake_ops])
    m["sinks.files_written"] = median([o.info["files_written"] for o in lake_ops])

    def named(name):
        return [i for i, s in enumerate(spans) if s.name == name]

    def dur(i):
        return spans[i].end - spans[i].start

    m["search.plan_s"] = median([dur(i) for i in named("plan")])
    for stage in ("transform_dvf", "transform_lbc", "compute_usage",
                  "index_fan_out"):
        m[f"pipeline.{stage}_s"] = median([dur(i) for i in named(stage)])
    ingest = [o for o in ops if o.kind == "ingest" and o.span is not None]
    m["ingest.batch_s"] = median([o.latency for o in ingest])
    offered = sum(o.info.get("arrived", 0) for o in ingest)
    m["ingest.admitted_per_offered"] = (
        sum(o.info.get("admitted", 0) for o in ingest) / offered
        if offered else 0.0
    )
    m["ingest.jobs_per_batch"] = (
        sum(len(tracer.subtree_jobs(o.span)) for o in ingest) / len(ingest)
        if ingest else 0.0
    )
    compact = named("maintain_lake")
    m["ingest.compact_s"] = median([dur(i) for i in compact])
    m["ingest.compactions"] = float(len(compact))
    m["ingest.bytes_rewritten"] = median([
        o.info["rewritten_bytes"] for o in ingest if "rewritten_bytes" in o.info
    ])
    for slot in TRACED_SLOTS:
        mine = [o for o in ops if o.name == slot and o.span is not None]
        plans = [c for o in mine for c in tracer.children(o.span)
                 if spans[c].name == "plan"]
        sm = [tracer.span_metrics(o.span) for o in mine]
        m[f"slot.{slot}.p50_s"] = median([o.latency for o in mine])
        m[f"slot.{slot}.plan_s"] = median([dur(c) for c in plans])
        m[f"slot.{slot}.jobs"] = median([x["jobs"] for x in sm])
        m[f"slot.{slot}.driver_gap_s"] = median([x["driver_gap_s"] for x in sm])
    m.update(probes)
    m["trace.overhead_s"] = tracer.accounting_s / max(1, len(ops))
    return m


def dedup_probe(spark, data_dir: str) -> dict:
    """Operator counters of the dedup layer on the generated documents:
    LSH candidate pairs, connected-component rounds, and the share of
    candidates that levenshtein verification confirms (similarity
    >= 0.8). Outside the timed region, traced runs only."""
    from pyspark.sql import functions as F

    from projet_big_data_boutin_danre_spark.operators import dedup as dd
    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    docs = load_table(spark, data_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", hash_family="fast"
    ).localCheckpoint()
    n_pairs = pairs.count()
    stats: dict = {}
    dd.connected_components(
        pairs, stats=stats, small_graph_threshold=None
    ).count()
    ver = dd.verify_pairs_levenshtein(docs, "doc_id", "text", pairs)
    ok = ver.filter(
        1 - F.col("lev_dist") / F.greatest(F.col("lev_len"), F.lit(1)) >= 0.8
    ).count()
    return {
        "dedup.candidate_pairs": float(n_pairs),
        "dedup.cc_rounds": float(stats.get("rounds", 0)),
        "dedup.verified_per_candidate": ok / n_pairs if n_pairs else 0.0,
    }


def canaries() -> dict:
    """bench.py's host canaries (small file size), or the exception
    class when the probe itself fails. A canary value of -1.0 means the
    probe swallowed an error for that canary."""
    try:
        import bench

        return bench.env_canary_probe(size_mb=8)
    except Exception as e:
        return {"error": type(e).__name__}


# -------------------------------------------------------------------- main


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, PACKAGE))):
        fail("run from the repository root: __spark_entry__.py and the "
             f"{PACKAGE} package are missing here")

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(
        PERFBENCH_WORK=work,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
    )
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    sys.path[:0] = [HERE, ROOT]

    import gen
    from spans import Tracer, median

    spark = None
    try:
        phases = {}
        t_phase = time.perf_counter()
        data_dir = os.path.join(work, "tables")
        gen.write_tables(args.seed, data_dir)
        expected = (oracle_counts(data_dir, read_slots())
                    if args.workload == "read_queries" else None)
        phases["generate_s"] = time.perf_counter() - t_phase

        # the first set-up launches the JVM; the second restarts the
        # Spark context inside it (a second cold JVM launch would not
        # fit the run budget)
        setups, session_starts = [], []
        for _rep in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session()
            session_starts.append(time.perf_counter() - t0)
            warm_up(spark, data_dir, WARM_TABLES[args.workload])
            setups.append(time.perf_counter() - t0)
        phases["setups_s"] = sum(setups)
        t_phase = time.perf_counter()
        tracer = Tracer(bool(args.trace))
        wl = (ReadQueries(spark, tracer, data_dir, args.seed, expected)
              if args.workload == "read_queries"
              else LakeWrites(spark, tracer, work, args.seed))
        tracer.skip_jobs(spark)
        phases["prepare_s"] = time.perf_counter() - t_phase

        ops: list = []
        t_start = time.perf_counter()
        deadline = t_start + args.seconds
        t_end = t_start
        # whole passes: every run measures the same multiset of
        # operations, only their order and inputs follow the seed
        while time.perf_counter() < deadline or not wl.at_boundary():
            op = wl.next_op()
            run_timed(tracer, op, len(ops), wl.body)
            t_end = time.perf_counter()
            ops.append(op)
            wl.after(op)
            tracer.account(spark)
        wall = t_end - t_start

        # peak RSS before the checks, whose collects are benchmark work
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid())
        t_phase = time.perf_counter()
        checks = wl.final_checks()
        phases["checks_s"] = time.perf_counter() - t_phase
        e2e, extra = end_to_end(ops, wall, median(setups), rss,
                                wl.lake_figures())
        failed = (sum(o.error is not None or o.mismatch is not None
                      for o in ops)
                  + sum(not c["ok"] for c in checks))
        probes = {}
        if args.trace:
            try:
                probes = dedup_probe(spark, data_dir)
            except Exception as e:
                probes = dict.fromkeys(DEDUP_METRICS, 0.0)
                extra["dedup_probe_error"] = type(e).__name__
            metrics = per_layer(tracer, ops, median(session_starts), probes)
            keep = os.path.join(ROOT, ".perfbench_work", "spans")
            os.makedirs(keep, exist_ok=True)
            with open(os.path.join(
                keep, f"{args.workload}-{args.seed}.json"
            ), "w") as f:
                json.dump(tracer.dump(), f)
        else:
            metrics = e2e
        detail = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "end_to_end": e2e, "extra": extra, "setups_s": setups,
            "session_start_s": session_starts, "checks": checks,
            "failures": [
                {"op": o.name, "error": o.error, "mismatch": o.mismatch}
                for o in ops if o.error or o.mismatch
            ][:20],
            "env": canaries(),
            "phases": phases,
        }
        if args.trace:
            detail["per_layer"] = metrics
        print(json.dumps(detail))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(ops) + len(checks),
            "failed": failed,
            "metrics": {
                k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()
            },
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name: str) -> str:
    """Unit of every metric this benchmark emits."""
    special = {"ops_per_s": "1/s", "peak_rss_mb": "MB"}
    if name in special:
        return special[name]
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_per_offered", "_per_candidate")):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    from spans import Tracer

    return list(per_layer(Tracer(True), [], 0.0,
                          dict.fromkeys(DEDUP_METRICS, 0.0)))


if __name__ == "__main__":
    sys.exit(main())
