"""End-to-end test of the pipeline runner (VERDICT r3 #1): the whole
reference DAG topology (``DAG_Project.py:76-83``) on a synthetic raw
datalake, with golden asserts at every layer boundary and
reference-shape assertions on the bulk actions (VERDICT r3 #6) —
no Elasticsearch server involved."""

from __future__ import annotations

import csv
import gzip
import json
import os

import pytest

from projet_big_data_boutin_danre_spark import pipeline
from projet_big_data_boutin_danre_spark.sources.sinks import es_actions

from conftest import _jobs_launched

RUN_DAY = "20250115"

DVF_HEADER = [
    "id_mutation", "date_mutation", "nature_mutation", "valeur_fonciere",
    "code_commune", "nom_commune", "code_postal", "type_local",
    "surface_reelle_bati", "nombre_pieces_principales", "latitude",
    "longitude",
]

DVF_ROWS = [
    # Paris sales driving market stats: 75101 avg = (10000+9000)/2
    ["m1", "2025-01-10 09:00:00", "Vente", "500000.0", "75101", "Paris 1er",
     "75001", "Appartement", "50.0", "2", "48.86", "2.34"],
    ["m2", "2025-01-11 10:00:00", "Vente", "900000.0", "75101", "Paris 1er",
     "75001", "Appartement", "100.0", "4", "48.86", "2.35"],
    ["m3", "2025-01-12 11:00:00", "Vente", "300000.0", "75102", "Paris 2e",
     "75002", "Maison", "30.0", "3", "48.87", "2.34"],
    # below the strict >1000 market filter AND the >=5000 index gate
    ["m4", "2025-01-13 12:00:00", "Vente", "1000.0", "75101", "Paris 1er",
     "75001", "Appartement", "50.0", "2", "48.86", "2.34"],
    # not Paris: excluded from market stats, indexed in gov-dvf only
    ["m5", "2025-01-14 13:00:00", "Vente", "400000.0", "69001", "Lyon 1er",
     "69001", "Maison", "40.0", "3", "45.76", "4.83"],
    # unparseable date -> null after coerce (row still flows through)
    ["m6", "not-a-date", "Vente", "250000.0", "69002", "Lyon 2e",
     "69002", "Maison", "60.0", "3", "45.75", "4.82"],
    # missing latitude -> dropped by the index quality gate
    ["m7", "2025-01-14 14:00:00", "Vente", "350000.0", "75103", "Paris 3e",
     "75003", "Appartement", "45.0", "2", "", "2.36"],
]

ADS_FILE_1 = [
    {"list_id": 1, "subject": "old title", "price_cents": [100000],
     "date": "2025-01-15 09:00:00",
     "location": {"city": "Paris", "zipcode": "75101",
                  "lat": 48.86, "lng": 2.34},
     "attributes": []},
    {"list_id": 2, "subject": "maison", "price_cents": [30000000],
     "date": "2025-01-15 09:05:00", "location": "N/A", "attributes": []},
]

ADS_FILE_2 = [
    # re-scrape of ad 1: later file must win (keep-last dedup)
    {"list_id": 1, "subject": "appart centre", "price_cents": [50000000],
     "date": "2025-01-15 10:00:00",
     "location": {"city": "Paris", "zipcode": "75101",
                  "lat": 48.86, "lng": 2.34},
     "attributes": []},
    {"list_id": 3, "subject": "studio", "price_cents": None,
     "date": "bad-date",
     "location": {"city": "Paris", "zipcode": "75002",
                  "lat": 48.87, "lng": 2.34},
     "attributes": [{"key": "seg", "value": "pro"}]},
]


@pytest.fixture(scope="module")
def datalake(tmp_path_factory):
    root = tmp_path_factory.mktemp("datalake")
    gov = root / "raw" / "gov"
    gov.mkdir(parents=True)
    with gzip.open(gov / "dvf_full.csv.gz", "wt", newline="") as f:
        w = csv.writer(f)
        w.writerow(DVF_HEADER)
        w.writerows(DVF_ROWS)
    lbc = root / "raw" / "leboncoin" / "annonces" / RUN_DAY
    lbc.mkdir(parents=True)
    # file names carry the fetch timestamp: lexicographic == ingest order
    (lbc / "annonces_090000.json").write_text(json.dumps(ADS_FILE_1))
    (lbc / "annonces_100000.json").write_text(json.dumps(ADS_FILE_2))
    return str(root)


@pytest.fixture(scope="module")
def pipeline_run(spark, datalake, tmp_path_factory):
    """Run the whole DAG once with a spool-file transport (the
    send_actions callable runs executor-side, so it records to files,
    not driver memory) and hand the layers + captured actions to the
    assertions."""
    spool = str(tmp_path_factory.mktemp("spool"))

    def send(actions):
        import json as _json
        import os as _os
        import uuid as _uuid

        p = _os.path.join(spool, f"{_uuid.uuid4().hex}.json")
        with open(p, "w") as f:
            _json.dump(actions, f)

    counts = pipeline.run_pipeline(
        spark, datalake, run_day=RUN_DAY, send_actions=send
    )
    by_index: dict[str, list[dict]] = {}
    for fn in os.listdir(spool):
        with open(os.path.join(spool, fn)) as f:
            for action in json.load(f):
                by_index.setdefault(action["_index"], []).append(action)
    return counts, by_index


def test_formatted_layers(spark, datalake, pipeline_run):
    lay = pipeline.DatalakeLayout(datalake, RUN_DAY)
    dvf = spark.read.parquet(lay.fmt_dvf)
    assert dvf.count() == 7
    dates = {r["id_mutation"]: r["date_mutation"] for r in dvf.collect()}
    assert dates["m6"] is None  # coercing date parse
    assert dates["m1"] is not None

    lbc = {r["id"]: r for r in spark.read.parquet(lay.fmt_lbc).collect()}
    assert set(lbc) == {1, 2, 3}          # keep-last dedup on id
    assert lbc[1]["title"] == "appart centre"  # later file won
    assert lbc[1]["price"] == 500000.0
    assert lbc[2]["zipcode"] is None      # "N/A" location -> null struct
    assert lbc[3]["price"] == 0.0         # missing price -> fillna(0)
    assert lbc[3]["date"] is None         # coercing timestamp
    assert lbc[3]["seg"] == "pro"         # attribute map extract


def test_usage_layer_goldens(spark, datalake, pipeline_run):
    lay = pipeline.DatalakeLayout(datalake, RUN_DAY)
    stats = {
        r["code_commune"]: (r["avg_price_m2_commune"], r["nb_ventes"])
        for r in spark.read.parquet(lay.usage_market).collect()
    }
    # m4 (value not strictly > 1000) and m5/m6 (not 75*) excluded;
    # m7 has no latitude but the market filter doesn't check geo
    assert stats == {
        "75101": (9500.0, 2),
        "75102": (10000.0, 1),
        "75103": (350000.0 / 45.0, 1),
    }

    opp = {r["id"]: r
           for r in spark.read.parquet(lay.usage_opportunities).collect()}
    assert opp[1]["avg_price_m2_commune"] == 9500.0  # zip 75101 joined
    assert opp[2]["avg_price_m2_commune"] is None    # null zip joins nothing
    assert opp[3]["avg_price_m2_commune"] is None    # 75002 has no stats


def test_index_fan_out_counts(pipeline_run):
    counts, _ = pipeline_run
    # gov-dvf: m4 fails the >=5000 value gate, m7 has no latitude
    assert counts == {
        pipeline.IDX_OPPORTUNITIES: 3,
        pipeline.IDX_MARKET_STATS: 3,
        pipeline.IDX_DVF: 5,
        pipeline.IDX_DVF_PARIS: 3,
        pipeline.IDX_LBC: 3,
    }


def test_bulk_action_wire_shape(pipeline_run):
    """VERDICT r3 #6: _index/_id/_source parity with the reference
    indexers (index_to_es.py:117-127,246-269,320-327), asserted on
    the actual actions the transport received."""
    counts, by_index = pipeline_run
    assert {k: len(v) for k, v in by_index.items()} == counts

    # gov-dvf: _id = str(id_mutation); pin geo struct present
    dvf = {a["_id"]: a["_source"] for a in by_index[pipeline.IDX_DVF]}
    assert set(dvf) == {"m1", "m2", "m3", "m5", "m6"}
    assert dvf["m1"]["pin"] == {"location": {"lat": 48.86, "lon": 2.34}}
    # Paris subset: same docs, same ids, 75* only
    paris = {a["_id"] for a in by_index[pipeline.IDX_DVF_PARIS]}
    assert paris == {"m1", "m2", "m3"}

    # lbc-annonces: _id = str(id); null fields omitted from _source
    lbc = {a["_id"]: a["_source"] for a in by_index[pipeline.IDX_LBC]}
    assert set(lbc) == {"1", "2", "3"}
    assert "zipcode" not in lbc["2"]       # null -> omitted (clean_doc)
    assert "date" not in lbc["3"]
    # timestamps ISO-8601 serialized (clean_doc datetime -> isoformat)
    assert lbc["1"]["date"] == "2025-01-15T10:00:00"

    # aggregate indexes carry no _id (reference sets none)
    assert all("_id" not in a for a in by_index[pipeline.IDX_OPPORTUNITIES])
    assert all("_id" not in a for a in by_index[pipeline.IDX_MARKET_STATS])
    stats = {a["_source"]["code_commune"]: a["_source"]
             for a in by_index[pipeline.IDX_MARKET_STATS]}
    assert stats["75101"]["avg_price_m2_commune"] == 9500.0

    # no None values anywhere in any _source (sparse documents)
    for actions in by_index.values():
        for a in actions:
            assert None not in a["_source"].values()


def test_pipeline_idempotent_rerun(spark, datalake, pipeline_run):
    """Re-running the DAG overwrites each layer in place (the
    reference's skip-if-exists for DVF, mode=overwrite elsewhere) —
    same outputs, no duplication."""
    counts2 = pipeline.run_pipeline(spark, datalake, run_day=RUN_DAY)
    assert counts2 == pipeline_run[0]
    lay = pipeline.DatalakeLayout(datalake, RUN_DAY)
    assert spark.read.parquet(lay.fmt_lbc).count() == 3
    # offline JSON index written on the transportless path
    offline = spark.read.json(lay.offline_index(pipeline.IDX_MARKET_STATS))
    assert offline.count() == 3


def test_missing_upstream_layer_fails_loudly(spark, tmp_path):
    """A scheduled run with no raw data must raise (the reference
    silently returns, compute_usage.py:18-23 — a DAG that 'succeeds'
    with nothing done), so the orchestrator can retry."""
    with pytest.raises(Exception):
        pipeline.run_pipeline(spark, str(tmp_path / "empty_lake"))


def test_es_actions_id_rules():
    """Unit-level wire shape: the per-doc _id rules of each reference
    indexer, without Spark."""
    batch = [
        {"id": 42, "title": "x", "price": None},
        {"id": None, "title": "y"},
        {"title": "no id field at all"},
    ]
    out = es_actions(batch, "lbc-annonces", id_key="id")
    assert out[0]["_id"] == "42" and out[0]["_index"] == "lbc-annonces"
    assert out[0]["_source"] == {"id": 42, "title": "x"}  # null dropped
    assert "_id" not in out[1]  # None id -> no _id (if lbc_id: guard)
    assert "_id" not in out[2]
    # no id_key at all (usage indexers): never an _id
    assert all("_id" not in a for a in es_actions(batch, "usage-market-stats"))
    # falsy-but-non-null ids (0, "") get NO _id — the reference's
    # `if lbc_id:` truthiness guard, so replay identity matches
    falsy = [{"id": 0, "t": "zero"}, {"id": "", "t": "empty"}]
    assert all(
        "_id" not in a for a in es_actions(falsy, "lbc-annonces", id_key="id")
    )


def test_per_index_batch_size_parity(spark, datalake, pipeline_run, monkeypatch):
    """VERDICT r4 #5: each index flushes its bulk buffer at the
    reference's per-index threshold — 1000 docs for opportunities/lbc
    (index_to_es.py:128,331), 5000 for market-stats and dvf/dvf-paris
    (index_to_es.py:184,271) — and index_fan_out actually wires those
    sizes through to the sink."""
    assert pipeline.IDX_BATCH_SIZES == {
        pipeline.IDX_OPPORTUNITIES: 1000,
        pipeline.IDX_MARKET_STATS: 5000,
        pipeline.IDX_DVF: 5000,
        pipeline.IDX_DVF_PARIS: 5000,
        pipeline.IDX_LBC: 1000,
    }
    sizes_seen: dict[str, int] = {}

    def capture(df, index, send, id_key=None, batch_size=1000):
        sizes_seen[index] = batch_size

    monkeypatch.setattr(pipeline, "index_documents", capture)
    lay = pipeline.DatalakeLayout(datalake, RUN_DAY)
    pipeline.index_fan_out(spark, lay, send_actions=lambda a: None)
    assert sizes_seen == pipeline.IDX_BATCH_SIZES


def test_bulk_sink_flush_boundaries(spark, tmp_path):
    """The sink flushes exactly at batch_size and once more for the
    remainder (the reference's `if len(documents) >= N: bulk(...)` +
    trailing flush): 8 rows in one partition at batch_size=3 must
    arrive as batches of 3, 3, 2."""
    from projet_big_data_boutin_danre_spark.sources.sinks import bulk_sink

    spool = str(tmp_path)

    def send(batch):
        import json as _json
        import os as _os
        import uuid as _uuid

        with open(_os.path.join(spool, f"{_uuid.uuid4().hex}.json"), "w") as f:
            _json.dump(batch, f)

    bulk_sink(spark.range(8).repartition(1), send, batch_size=3)
    sizes = sorted(
        len(json.load(open(os.path.join(spool, fn)))) for fn in os.listdir(spool)
    )
    assert sizes == [2, 3, 3]


def test_compact_stage_preserves_usage_layers(spark, datalake, pipeline_run):
    """The maintenance stage compacts usage layers in place with
    identical rows."""
    lay = pipeline.DatalakeLayout(datalake, RUN_DAY)
    before = {
        r["code_commune"]: r["nb_ventes"]
        for r in spark.read.parquet(lay.usage_market).collect()
    }
    out = pipeline.compact_usage_layers(spark, lay)
    assert set(out) == {lay.usage_market, lay.usage_opportunities}
    after = {
        r["code_commune"]: r["nb_ventes"]
        for r in spark.read.parquet(lay.usage_market).collect()
    }
    assert after == before
    assert len(spark.read.parquet(lay.usage_market).inputFiles()) == out[lay.usage_market]


def test_compact_stage_resumes_crashed_swap(
    spark, datalake, pipeline_run, tmp_path
):
    """A compaction that crashed between its renames — the live
    usage_market moved aside to ``__old``, the verified rewrite left
    at ``__compact`` — is finished by the next compact stage instead
    of skipped: the layer is back with its rows and no residue."""
    import shutil

    lake = str(tmp_path / "lake")
    shutil.copytree(datalake, lake)
    lay = pipeline.DatalakeLayout(lake, RUN_DAY)
    live = lay.usage_market

    def market():
        return {
            r["code_commune"]: r["nb_ventes"]
            for r in spark.read.parquet(live).collect()
        }

    before = market()
    shutil.copytree(live, live + "__compact")
    os.rename(live, live + "__old")
    out = pipeline.compact_usage_layers(spark, lay)
    assert set(out) == {lay.usage_market, lay.usage_opportunities}
    assert market() == before
    assert not os.path.exists(live + "__old")
    assert not os.path.exists(live + "__compact")


def test_extract_dvf_feeds_transform(spark, datalake, tmp_path):
    """S1 end-to-end: fetch the archive from a file:// source into a
    FRESH lake's raw layer, then transform_dvf reads what the fetcher
    landed — the extract→transform edge of the DAG
    (DAG_Project.py: extract_dvf >> transform_dvf)."""
    src_url = "file://" + os.path.join(
        datalake, "raw", "gov", "dvf_full.csv.gz"
    )
    lake2 = str(tmp_path / "lake2")
    lay2 = pipeline.DatalakeLayout(lake2, RUN_DAY)
    res = pipeline.extract_dvf(lay2, src_url)
    assert res.path == lay2.raw_dvf and res.bytes_written > 0
    # idempotent re-extract (the reference's skip-if-exists guard)
    assert pipeline.extract_dvf(lay2, src_url).skipped
    fmt = pipeline.transform_dvf(spark, lay2)
    assert fmt.count() == 7


def test_dag_layers_reopen_as_inferred(spark, datalake, pipeline_run):
    """The four Parquet layers of a DAG run reopen with no Spark job,
    with the schema inference would give."""
    from projet_big_data_boutin_danre_spark.sources.readers import (
        read_parquet,
    )

    # a fresh run: other tests compact these layers in place
    pipeline.run_pipeline(spark, datalake, run_day=RUN_DAY)
    lay = pipeline.DatalakeLayout(datalake, RUN_DAY)
    for path in (lay.fmt_dvf, lay.fmt_lbc, lay.usage_market,
                 lay.usage_opportunities):
        df, jobs = _jobs_launched(spark, lambda: read_parquet(spark, path))
        assert jobs == 0, path
        assert df.schema == spark.read.parquet(path).schema, path


def _pool_threads():
    import threading

    return {t for t in threading.enumerate()
            if t.name.startswith("ThreadPoolExecutor")}


def test_index_fan_out_counts_equal_each_index(
    spark, datalake, pipeline_run, tmp_path
):
    """Offline counts come from the writes, transport counts from a
    count(); both equal what each index holds, the transport path
    returns, and no pool thread outlives either call."""
    from concurrent.futures import ThreadPoolExecutor

    lay = pipeline.DatalakeLayout(datalake, RUN_DAY)
    before = _pool_threads()
    offline = pipeline.index_fan_out(spark, lay)
    assert list(offline) == list(pipeline.IDX_BATCH_SIZES)
    assert offline == {
        name: spark.read.json(lay.offline_index(name)).count()
        for name in offline
    }
    spool = str(tmp_path)

    def send(actions):
        import json as _json
        import os as _os
        import uuid as _uuid

        with open(_os.path.join(spool, f"{_uuid.uuid4().hex}.json"), "w") as f:
            _json.dump([a["_index"] for a in actions], f)

    with ThreadPoolExecutor(1) as runner:
        sent = runner.submit(
            pipeline.index_fan_out, spark, lay, send
        ).result(timeout=300)
    delivered: dict[str, int] = {}
    for fn in os.listdir(spool):
        with open(os.path.join(spool, fn)) as f:
            for name in json.load(f):
                delivered[name] = delivered.get(name, 0) + 1
    assert sent == offline
    assert delivered == {k: v for k, v in offline.items() if v}
    assert _pool_threads() <= before


def test_index_fan_out_failure_waits_for_other_writes(
    spark, datalake, pipeline_run, monkeypatch
):
    import time

    lay = pipeline.DatalakeLayout(datalake, RUN_DAY)
    real = pipeline.write_json
    finished = []

    def flaky(df, path, mode="overwrite"):
        if pipeline.IDX_MARKET_STATS in path:
            raise RuntimeError("index write failed")
        time.sleep(1.0)
        real(df, path, mode)
        finished.append(path)

    monkeypatch.setattr(pipeline, "write_json", flaky)
    before = _pool_threads()
    with pytest.raises(RuntimeError, match="index write failed"):
        pipeline.index_fan_out(spark, lay)
    assert len(finished) == 4
    assert _pool_threads() <= before
