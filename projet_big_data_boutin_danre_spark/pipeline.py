"""End-to-end pipeline runner — the reference's one "program".

Mirrors the Airflow DAG topology (``/root/reference/dags/DAG_Project.py:76-83``)::

    extract_dvf  → transform_dvf ─┐                ┌→ index_raw_dvf (2 indexes)
                                  ├→ compute_usage ┤
    extract_lbc  → transform_lbc ─┘                ├→ index_opportunities
                                                   └→ index_market_stats
                     (plus transform_lbc → index_lbc_raw)

re-expressed as ONE Spark driver program over a layer-contract
datalake (``raw/`` → ``formatted/`` → ``usage/`` → index fan-out),
with each layer boundary persisted as Parquet exactly like the
reference's Datalake directories (``raw_to_fmt_dvf.py:11-15``,
``compute_usage.py:25-26``).

Differences from the reference, all deliberate and Spark-first:

- The DVF extract stage (S1) is available as ``extract_dvf`` /
  ``sources/fetcher.py`` (pluggable transport, offline-testable); the
  runner fetches only when given a URL — by default it starts from the
  raw layer so scheduled runs never hide a network dependency. The LBC
  scrape stays out-of-engine (no public endpoint to re-express).
- Every per-row Python loop becomes a DataFrame transform; the four
  index tasks deliver reference-shaped bulk actions through a
  pluggable transport (``sources/sinks.py``) — with no transport the
  documents land as an offline JSON index layer, so the program runs
  (and is tested) without an Elasticsearch server.
- The reference's pandas stages materialize whole tables in driver
  memory; here every stage is executor-parallel and the only driver
  data is counters.

The index tasks run as parallel branches in the reference; here the
five index deliveries run concurrently on one driver pool. Layers pass
between stages only through the lake, and each read-back opens with
the schema its write recorded (``sources/readers.read_parquet``), so it
launches no inference job.

Scale: each stage is a scan→narrow-map→(agg|join)→write plan.
``market_stats`` is one partial-aggregated shuffle on ``code_commune``;
the opportunities join broadcasts the per-commune aggregate
(operators/usage.py J1); the fan-out writes reuse one formatted scan.
At 100 TB the only change is the datalake root and partition counts —
day-partitioned layers prune by ``run_day`` at the scan.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .operators import cleaning, documents, usage
from .schemas import DVF_SCHEMA
from .sources.readers import path_exists, read_csv_gz, read_layer, read_parquet
from .sources.sinks import index_documents, write_json, write_parquet

# Index names, verbatim from the reference indexers
# (``index_to_es.py:112,183,217-218,319``).
IDX_OPPORTUNITIES = "usage-opportunities"
IDX_MARKET_STATS = "usage-market-stats"
IDX_DVF = "gov-dvf"
IDX_DVF_PARIS = "gov-dvf-paris"
IDX_LBC = "lbc-annonces"

# The reference flushes its bulk buffer at a per-index threshold:
# 1000 docs for opportunities and lbc (index_to_es.py:128,331), 5000
# for market-stats and dvf/dvf-paris (index_to_es.py:184,271).
IDX_BATCH_SIZES = {
    IDX_OPPORTUNITIES: 1000,
    IDX_MARKET_STATS: 5000,
    IDX_DVF: 5000,
    IDX_DVF_PARIS: 5000,
    IDX_LBC: 1000,
}


@dataclass(frozen=True)
class DatalakeLayout:
    """Layer-contract paths, mirroring the reference Datalake tree
    (``raw_to_fmt_dvf.py:11-15``, ``raw_to_fmt_lbc.py:13-20``,
    ``compute_usage.py:25-26``, ``index_to_es.py:88,156,222,293``)."""

    root: str
    run_day: str = field(
        default_factory=lambda: dt.date.today().strftime("%Y%m%d")
    )

    @property
    def raw_dvf(self) -> str:
        return f"{self.root}/raw/gov/dvf_full.csv.gz"

    @property
    def raw_lbc(self) -> str:
        return f"{self.root}/raw/leboncoin/annonces/{self.run_day}"

    @property
    def fmt_dvf(self) -> str:
        return f"{self.root}/formatted/gov/dvf_cleaned.parquet"

    @property
    def fmt_lbc(self) -> str:
        return (
            f"{self.root}/formatted/leboncoin/annonces/"
            f"{self.run_day}/annonces_cleaned.parquet"
        )

    @property
    def usage_market(self) -> str:
        return f"{self.root}/usage/market_analysis"

    @property
    def usage_opportunities(self) -> str:
        return f"{self.root}/usage/opportunities/{self.run_day}"

    def offline_index(self, index_name: str) -> str:
        return f"{self.root}/index/{index_name}/{self.run_day}"


# CSV arrives with the date as text; the reference coerces it after the
# pandas read (``raw_to_fmt_dvf.py:28-29``) — same here, so the read
# schema swaps the pinned timestamp field for a string one.
_DVF_CSV_SCHEMA = StructType(
    [
        StructField(f.name, StringType(), f.nullable)
        if f.name == "date_mutation"
        else f
        for f in DVF_SCHEMA.fields
    ]
)


def transform_dvf(
    spark: SparkSession, lay: DatalakeLayout, force: bool = False
) -> DataFrame:
    """raw→formatted DVF (``raw_to_fmt_dvf.py``): CSV.gz with the
    pinned schema, coercing date parse (P7), snappy Parquet out.

    Idempotency: the reference skips when the target exists
    (``raw_to_fmt_dvf.py:19-21``); same here unless ``force``.
    Returns the formatted DataFrame (reading the layer just written).
    """
    fmt = None if force else read_layer(spark, lay.fmt_dvf)
    if fmt is None:
        df = read_csv_gz(spark, lay.raw_dvf, schema=_DVF_CSV_SCHEMA)
        df = df.withColumn(
            "date_mutation", cleaning.coerce_timestamp("date_mutation")
        )
        write_parquet(df, lay.fmt_dvf)
        fmt = read_parquet(spark, lay.fmt_dvf)
    return fmt


def transform_lbc(spark: SparkSession, lay: DatalakeLayout) -> DataFrame:
    """raw→formatted LBC (``raw_to_fmt_lbc.py``): multi-file JSON-array
    scan (S3/U1) → typed projection (P7/P11/P12/P13/P14 + location
    normalization) → deterministic keep-last dedup on ``id`` in
    file-concatenation order (A2; the reference's
    ``drop_duplicates(keep='last')`` on pandas concat order — the
    within-file half of that order is the element position
    ``__file_pos`` carried by the raw read, so duplicates of an id
    INSIDE one file resolve exactly as the reference does, as a pure
    function of the data) → coerced price (P6,
    ``to_numeric(errors='coerce').fillna(0)``) → snappy Parquet."""
    raw = cleaning.read_raw_ad_files(spark, f"{lay.raw_lbc}/*.json")
    fmt = cleaning.format_ads_from_files(raw)
    deduped = cleaning.keep_last_dedup(
        fmt, ["id"], "__ingest_file", tiebreak=["__file_pos"]
    ).drop("__ingest_file", "__file_pos")
    # the reference coerces price AFTER dedup (raw_to_fmt_lbc.py:53):
    # unparseable and missing both → 0.0
    deduped = deduped.withColumn("price", cleaning.coerce_numeric("price"))
    write_parquet(deduped, lay.fmt_lbc)
    return read_parquet(spark, lay.fmt_lbc)


def compute_usage(
    spark: SparkSession, lay: DatalakeLayout
) -> tuple[DataFrame, DataFrame]:
    """formatted→usage (``compute_usage.py:42-77``): market stats per
    commune (P1→P2→A1) and the opportunities enrichment join (P3+J1,
    stats side broadcast). Both persisted as usage-layer Parquet.

    The schema presence guard (P10) mirrors the reference's
    ``has_cols`` driver check — metadata-only, no job."""
    dvf = read_parquet(spark, lay.fmt_dvf)
    required = ["valeur_fonciere", "surface_reelle_bati", "code_commune"]
    if not cleaning.has_cols(dvf, required):
        raise ValueError(
            f"DVF layer at {lay.fmt_dvf} is missing columns "
            f"{sorted(set(required) - set(dvf.columns))} required for "
            "market analysis"
        )
    stats = usage.market_stats(dvf)
    write_parquet(stats, lay.usage_market)
    stats = read_parquet(spark, lay.usage_market)

    lbc = read_parquet(spark, lay.fmt_lbc)
    # formatted LBC carries city/zipcode as top-level columns; the
    # usage join key is the zipcode (P3 extract in the reference is on
    # the still-nested frame, compute_usage.py:73)
    opp = usage.enrich_left_join(
        lbc.withColumn("zip", F.col("zipcode")), stats, "zip", "code_commune"
    )
    write_parquet(opp, lay.usage_opportunities)
    return stats, read_parquet(spark, lay.usage_opportunities)


def index_fan_out(
    spark: SparkSession,
    lay: DatalakeLayout,
    send_actions: Callable[[list[dict]], None] | None = None,
) -> dict[str, int]:
    """usage/formatted → the four index tasks
    (``DAG_Project.py:56-74``, bodies in ``index_to_es.py``):

    - opportunities → ``usage-opportunities`` (no ``_id``)
    - market stats → ``usage-market-stats`` (no ``_id``)
    - formatted DVF → quality gate (P4) + geo pin (P9) →
      ``gov-dvf`` keyed by ``id_mutation``, plus the Paris-prefix
      fan-out (P5) → ``gov-dvf-paris``
    - formatted LBC → ``lbc-annonces`` keyed by ``id`` when present

    With a transport the documents go out as reference-shaped bulk
    actions (executor-side batching); without one each index lands as
    newline-JSON under ``index/<name>/<day>`` — the offline form of
    the same documents. Returns per-index document counts (the
    reference's per-run tallies, A4).

    The five deliveries run concurrently on one pool, one thread per
    index, like the reference's parallel index tasks. Offline, each
    count rides its index's write as an ``Observation``; through a
    transport it is a ``count()`` first (an ``Observation`` on the
    sink's ``foreachPartition`` is never filled). Every delivery has
    finished before the call returns or raises its first failure."""
    opp = read_parquet(spark, lay.usage_opportunities)
    stats = read_parquet(spark, lay.usage_market)
    dvf = read_parquet(spark, lay.fmt_dvf)
    lbc = read_parquet(spark, lay.fmt_lbc)

    dvf_docs = documents.quality_filter(dvf).withColumn(
        "pin", documents.geo_pin()
    )
    dvf_all, dvf_paris = documents.fan_out_prefix(dvf_docs, "code_commune")

    plan: list[tuple[str, DataFrame, str | None]] = [
        (IDX_OPPORTUNITIES, opp, None),
        (IDX_MARKET_STATS, stats, None),
        (IDX_DVF, dvf_all, "id_mutation"),
        (IDX_DVF_PARIS, dvf_paris, "id_mutation"),
        (IDX_LBC, lbc, "id"),
    ]

    def deliver(index_name: str, df: DataFrame, id_key: str | None) -> int:
        if send_actions is None:
            obs = Observation()
            write_json(
                df.observe(obs, F.count(F.lit(1)).alias("n")),
                lay.offline_index(index_name),
            )
            return obs.get["n"]
        n = df.count()
        index_documents(
            df,
            index_name,
            send_actions,
            id_key=id_key,
            batch_size=IDX_BATCH_SIZES[index_name],
        )
        return n

    with ThreadPoolExecutor(max_workers=len(plan)) as pool:
        futures = [(name, pool.submit(deliver, name, df, key))
                   for name, df, key in plan]
        # read inside the block: on a failure, leaving it waits for
        # the other deliveries before the error propagates
        return {name: f.result() for name, f in futures}


def compact_usage_layers(spark: SparkSession, lay: DatalakeLayout) -> dict[str, int]:
    """Maintenance stage: compact the append-heavy usage layers
    (corpus_pipeline.compact_layer's verified swap) — run
    periodically, not per DAG run; hourly runs otherwise accrete
    thousands of small files. A layer whose last swap crashed (only
    ``__compact`` left) is resumed. Returns {layer path: new file
    count}."""
    from .corpus_pipeline import compact_layer

    out = {}
    for path in (lay.usage_market, lay.usage_opportunities):
        if read_layer(spark, path) is not None or path_exists(
            spark, path + "__compact"
        ):
            out[path] = compact_layer(spark, path)["files_after"]
    return out


def extract_dvf(
    lay: DatalakeLayout,
    url: str | None = None,
    opener=None,
    force: bool = False,
):
    """S1: land the public DVF archive in the raw layer
    (``dvf_fetcher.py:16-35`` → ``sources/fetcher.fetch_dvf``).
    Driver-side by nature (one upstream stream); idempotent via the
    non-empty-target guard, atomic via ``.part``+rename."""
    from .sources.fetcher import DVF_URL, fetch_dvf

    return fetch_dvf(lay, url or DVF_URL, opener=opener, force=force)


def run_pipeline(
    spark: SparkSession,
    datalake_root: str,
    run_day: str | None = None,
    send_actions: Callable[[list[dict]], None] | None = None,
    force: bool = False,
    dvf_url: str | None = None,
    fetch_opener=None,
) -> dict[str, int]:
    """The whole DAG in dependency order (``DAG_Project.py:76-83``):
    transform both sources, compute the usage layer, then the four-way
    index fan-out. Stage ordering is the topology's only constraint —
    within a stage Spark parallelizes across executors.

    Returns the per-index document counts. Raises (rather than
    silently returning like the reference, ``compute_usage.py:18-23``)
    when a required upstream layer is missing — a scheduled run must
    fail loudly so the orchestrator retries."""
    lay = (
        DatalakeLayout(datalake_root, run_day)
        if run_day
        else DatalakeLayout(datalake_root)
    )
    if dvf_url is not None:                  # opt-in S1 fetch
        extract_dvf(lay, dvf_url, opener=fetch_opener, force=force)
    transform_dvf(spark, lay, force=force)   # extract→transform (DVF)
    transform_lbc(spark, lay)                # extract→transform (LBC)
    compute_usage(spark, lay)                # [both] → usage
    return index_fan_out(spark, lay, send_actions)  # usage → 4 indexes


# Individually runnable stages — the CLI analog of the reference's
# per-task Airflow operators (DAG_Project.py:31-74), for re-running one
# layer without the whole DAG.
STAGES = {
    "extract_dvf": lambda spark, lay, force: extract_dvf(
        lay, force=force
    ),
    "transform_dvf": lambda spark, lay, force: transform_dvf(
        spark, lay, force=force
    ),
    "transform_lbc": lambda spark, lay, force: transform_lbc(spark, lay),
    "compute_usage": lambda spark, lay, force: compute_usage(spark, lay),
    "index": lambda spark, lay, force: index_fan_out(spark, lay),
    "compact": lambda spark, lay, force: compact_usage_layers(spark, lay),
}


def main() -> None:  # pragma: no cover - thin CLI wrapper
    import argparse

    from .session import get_spark

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("datalake_root", help="datalake root directory")
    p.add_argument("--run-day", default=None, help="YYYYMMDD partition")
    p.add_argument(
        "--force", action="store_true", help="rebuild existing layers"
    )
    p.add_argument(
        "--stage",
        choices=sorted(STAGES),
        default=None,
        help="run one stage only (upstream layers must already exist)",
    )
    args = p.parse_args()
    spark = get_spark("pipeline")
    if args.stage:
        lay = (
            DatalakeLayout(args.datalake_root, args.run_day)
            if args.run_day
            else DatalakeLayout(args.datalake_root)
        )
        out = STAGES[args.stage](spark, lay, args.force)
        if isinstance(out, dict):
            for idx, n in out.items():
                print(f"{idx}: {n} documents")
        else:
            print(f"{args.stage}: done")
        return
    counts = run_pipeline(
        spark, args.datalake_root, run_day=args.run_day, force=args.force
    )
    for idx, n in counts.items():
        print(f"{idx}: {n} documents")


if __name__ == "__main__":  # pragma: no cover
    main()
