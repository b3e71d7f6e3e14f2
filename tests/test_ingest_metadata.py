"""The per-batch metadata path of ``incremental_ingest``: the
``_lake_stats`` marker is written and read on the driver (no Spark
job), a marker it cannot parse degrades to the one recount, and the
near-dup history probe does not materialize the batch's bands twice."""

from __future__ import annotations

import shutil

import pytest

from projet_big_data_boutin_danre_spark.corpus_pipeline import (
    _data_file_count,
    _read_lake_stats,
    _write_lake_stats,
    incremental_ingest,
)
from projet_big_data_boutin_danre_spark.functions.localdf import tiny_df
from projet_big_data_boutin_danre_spark.operators import dedup

from conftest import _jobs_launched


def _docs(spark, lo, n):
    return spark.createDataFrame(
        [(lo + i, " ".join(f"md{lo + i}w{j}" for j in range(12)))
         for i in range(n)],
        "doc_id long, text string",
    )


@pytest.mark.parametrize(
    "marker",
    [
        (5, None, None, {}),
        (7, -(2**63), 3, {"docs": 4, "band_buckets": 12}),
    ],
)
def test_lake_stats_round_trip_launches_no_job(spark, tmp_path, marker):
    path = str(tmp_path / "_lake_stats")
    total, digest, n, files = marker

    def round_trip():
        _write_lake_stats(spark, path, total, digest, n, files=files)
        return _read_lake_stats(spark, path)

    back, jobs = _jobs_launched(spark, round_trip)
    assert back == marker and jobs == 0
    # a second write replaces the first
    _write_lake_stats(spark, path, total + 1, None, None)
    assert _read_lake_stats(spark, path) == (total + 1, None, None, {})


@pytest.mark.parametrize(
    "raw", [b"\x00\xffnot json", b'{"total_docs": 3', b"[1, 2]", b"{}"]
)
def test_lake_stats_unparsable_reads_none(spark, tmp_path, raw):
    marker = tmp_path / "_lake_stats"
    marker.mkdir()
    (marker / "stats.json").write_bytes(raw)
    assert _read_lake_stats(spark, str(marker)) is None
    # bytes changed under an existing marker (its checksum no longer
    # matches) read as None too
    _write_lake_stats(spark, str(marker), 3, None, None)
    (marker / "stats.json").write_bytes(raw)
    assert _read_lake_stats(spark, str(marker)) is None


def test_parquet_marker_reads_none_and_ingest_recounts(spark, tmp_path):
    """A lake whose marker is the older 1-row Parquet layer: the marker
    reads as None, and the next batch re-measures the total and the
    per-layer file counts instead of trusting or zeroing them."""
    root = str(tmp_path / "lake")
    incremental_ingest(spark, _docs(spark, 0, 5), root)
    shutil.rmtree(f"{root}/_lake_stats")
    tiny_df(
        spark,
        [(1000, None, None, {"docs": 0})],
        "total_docs long, last_digest long, last_n long, "
        "files_appended map<string,long>",
    ).write.parquet(f"{root}/_lake_stats")
    assert _read_lake_stats(spark, f"{root}/_lake_stats") is None
    phys_docs = _data_file_count(spark, f"{root}/docs")
    r = incremental_ingest(spark, _docs(spark, 100, 2), root)
    assert r["total_docs"] == 7  # recounted, not 1000 + 2
    st = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert st[0] == 7 and st[3]["docs"] >= phys_docs + 1


def test_near_dup_probe_does_not_rematerialize_bands(
    spark, tmp_path, monkeypatch
):
    """``batch_bands`` is checkpointed once by ``incremental_ingest``:
    a batch whose band rows are bounded under the probe's limit skips
    the probe's second checkpoint + count, and a batch over the limit
    is still chunked, admitting the same ids."""
    kw = dict(near_dup=True)
    base = tmp_path / "base"
    incremental_ingest(spark, _docs(spark, 0, 4), str(base), **kw)
    near = spark.createDataFrame(
        [(50, " ".join(f"md0w{j}" for j in range(12)) + " extra")],
        "doc_id long, text string",
    )
    batch = near.unionByName(_docs(spark, 60, 3))
    real = dedup.lsh_seen_ids

    def ingest(arm):
        root = str(tmp_path / arm)
        shutil.copytree(base, root)
        report, jobs = _jobs_launched(
            spark, lambda: incremental_ingest(spark, batch, root, **kw)
        )
        ids = sorted(
            r["doc_id"] for r in spark.read.parquet(f"{root}/docs").collect()
        )
        return report, ids, jobs

    report, ids, jobs = ingest("bounded")
    assert report["near_dup_blocked"] >= 1  # the probe found history
    with monkeypatch.context() as m:
        # the call as it was made before: always the default limit
        m.setattr(
            dedup, "lsh_seen_ids",
            lambda *a, **k: real(*a, **{
                **k, "max_broadcast_rows": dedup.PROBE_MAX_BROADCAST_ROWS,
            }),
        )
        guarded = ingest("guarded")
    assert guarded[:2] == (report, ids)
    assert jobs <= guarded[2] - 2
    limits = []
    with monkeypatch.context() as m:
        # 4 arrived docs x 4 bands > 4: the mega-batch guard must chunk
        m.setattr(dedup, "PROBE_MAX_BROADCAST_ROWS", 4)
        m.setattr(
            dedup, "lsh_seen_ids",
            lambda *a, **k: limits.append(k["max_broadcast_rows"])
            or real(*a, **k),
        )
        chunked = ingest("chunked")
    assert limits == [4]
    assert chunked[:2] == (report, ids)


def test_steady_near_dup_batch_job_ceiling(spark, tmp_path):
    """A near-dup batch on a lake with history, carrying one near copy
    of its own doc, bills every refusal from one aggregate over each
    of the two flag passes' checkpoints: at most 35 Spark jobs.
    Before the keepers became flags it took 39 jobs: ``arrived``
    and the window's non-keepers were counted by jobs of their own."""
    root = str(tmp_path / "lake")
    incremental_ingest(spark, _docs(spark, 0, 6), root, near_dup=True)
    twin = spark.createDataFrame(
        [(200, " ".join(f"md100w{j}" for j in range(12)) + " extra")],
        "doc_id long, text string",
    )
    batch = _docs(spark, 100, 3).unionByName(twin)
    report, jobs = _jobs_launched(
        spark, lambda: incremental_ingest(spark, batch, root, near_dup=True)
    )
    assert {k: report[k] for k in (
        "arrived", "admitted", "total_docs", "near_dup_blocked",
        "near_dup_rescued",
    )} == {
        "arrived": 4, "admitted": 3, "total_docs": 9,
        "near_dup_blocked": 1, "near_dup_rescued": 0,
    }
    assert jobs <= 35
