"""Unit tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402
from spans import (  # noqa: E402
    Tracer, driver_gap, failed_frac, percentile, self_time, union_length,
)


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dp, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for fn in sorted(files):
            path = os.path.join(dp, fn)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


# ------------------------------------------------------------- generator


def test_tables_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_tables(5, a, scale=0.001)
    gen.write_tables(5, b, scale=0.001)
    gen.write_tables(6, c, scale=0.001)
    assert _tree_digest(a) == _tree_digest(b)
    assert _tree_digest(a) != _tree_digest(c)


def test_dag_inputs_same_seed_same_bytes(tmp_path):
    runs = [
        gen.write_dag_inputs(s, str(tmp_path / f"{i}"), "20250115",
                             n_dvf=500, n_ads=200)
        for i, s in enumerate((5, 5, 6))
    ]
    digests = [_tree_digest(str(tmp_path / f"{i}")) for i in range(3)]
    assert digests[0] == digests[1] != digests[2]
    assert runs[0] == runs[1]


def test_dag_inputs_plant_duplicate_ids(tmp_path):
    info = gen.write_dag_inputs(1, str(tmp_path), "20250115",
                                n_dvf=200, n_ads=1000)
    lbc = tmp_path / "raw" / "leboncoin" / "annonces" / "20250115"
    ids = [ad["list_id"] for fn in sorted(os.listdir(lbc))
           for ad in json.loads((lbc / fn).read_text())]
    share = 1 - len(set(ids)) / len(ids)
    # LBC_DUP_SHARE of the ads in every file after the first
    expect = gen.LBC_DUP_SHARE * (gen.LBC_FILES - 1) / gen.LBC_FILES
    assert abs(share - expect) < 0.05
    assert info["expected"]["lbc-annonces"] == len(set(ids))
    assert info["input_rows"] == 200 + len(ids)


def test_ingest_plan_deterministic_with_planted_shares():
    a = gen.ingest_plan(3, 4, 100)
    assert a == gen.ingest_plan(3, 4, 100)
    assert a != gen.ingest_plan(4, 4, 100)
    assert a[0]["replays"] == [] and a[0]["near_ids"] == []
    seen = {d["doc_id"]: d["text"] for d in a[0]["docs"]}
    for batch in a[1:]:
        assert len(batch["docs"]) == 100
        assert len(batch["replays"]) == int(100 * gen.REPLAY_SHARE)
        assert len(batch["near_ids"]) == int(100 * gen.NEAR_SHARE)
        by_id = {d["doc_id"]: d["text"] for d in batch["docs"]}
        for rid, src in batch["replays"]:
            assert by_id[rid] == seen[src]  # exact copy of an earlier doc
        for nid in batch["near_ids"]:
            assert by_id[nid] not in seen.values()
        seen.update(by_id)


def test_new_bytes_counts_new_and_changed_files():
    before = {"a": 1, "b": 2}
    assert gen.new_bytes(before, {"a": 1, "b": 5, "c": 7}) == (12, 2)
    assert gen.new_bytes(before, {"a": 1}) == (0, 0)


# ------------------------------------------------------------ arithmetic


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(99)), 0.9) is None
    assert percentile([1.0] * 5, 0.9) is None
    vals = [float(i) for i in range(1, 101)]
    assert percentile(vals, 0.9) == 90.0  # nearest rank: 10 samples above
    assert percentile(vals, 0.5) == 50.0
    assert percentile(vals[:19], 0.5) is None  # 9 beyond the median
    assert percentile(vals[:20], 0.5) == 10.0


def test_union_length_merges_overlaps_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_length([(11, 12)], 0, 10) == 0


def test_self_time_counts_overlapping_children_once():
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(1, 4), (6, 7)]) == 6
    assert self_time(0, 10, [(1, 4), (3, 6)]) == 5  # overlap [3, 4] once
    assert self_time(0, 10, [(0, 10), (2, 3)]) == 0


def test_driver_gap_is_time_without_a_running_job():
    assert driver_gap(0, 10, []) == 10
    assert driver_gap(0, 10, [(2, 4), (3, 5), (8, 12)]) == 5
    assert driver_gap(0, 10, [(-1, 11)]) == 0


def test_failed_frac_counts_a_raise_as_attempted():
    assert failed_frac(10, 0, 0) == 0
    assert failed_frac(4, 1, 1) == 0.5
    assert failed_frac(1, 1, 0) == 1.0
    with pytest.raises(ValueError):
        failed_frac(0, 0, 0)


def test_span_metrics_bill_jobs_to_innermost_span(monkeypatch):
    tr = Tracer(True)
    with tr.span("op", "slot", op_id=0):
        with tr.span("plan", "x"):
            pass
        with tr.span("action", "x"):
            pass
    op, plan, action = tr.spans
    # fixed times: op [0, 10], plan [1, 3], action [4, 9]
    op.start, op.end = 0.0, 10.0
    plan.start, plan.end = 1.0, 3.0
    action.start, action.end = 4.0, 9.0

    def job(jid, a, b):
        return {"id": jid, "submit": a, "end": b, "stages": 2.0,
                "tasks": 4.0, "executor_run_s": 1.0, "executor_cpu_s": 0.5,
                "shuffle_read_bytes": 10.0, "shuffle_write_bytes": 20.0,
                "spill_bytes": 0.0, "input_bytes": 100.0}

    jobs = {0: job(0, 2.0, 2.5), 1: job(1, 4.5, 6.0), 2: job(2, 5.0, 8.0)}
    monkeypatch.setattr(spans, "_job_count", lambda spark: 3)
    monkeypatch.setattr(spans, "_read_job", lambda store, jid: jobs[jid])

    class _Sc:
        def listenerBus(self):
            return type("B", (), {"waitUntilEmpty": lambda s: None})()

        def statusStore(self):
            return None

    class _Spark:
        sparkContext = type("C", (), {"_jsc": type(
            "J", (), {"sc": lambda s: _Sc()})()})()

    tr.account(_Spark())
    assert [j["id"] for j in plan.jobs] == [0]
    assert [j["id"] for j in action.jobs] == [1, 2]
    m = tr.span_metrics(0)
    assert m["jobs"] == 3 and m["stages"] == 6 and m["shuffle_write_bytes"] == 60
    assert m["self_s"] == pytest.approx(10 - 2 - 5)
    # jobs cover [2, 2.5] and [4.5, 8]
    assert m["driver_gap_s"] == pytest.approx(10 - 0.5 - 3.5)
    assert tr.span_metrics(1)["driver_gap_s"] == pytest.approx(1.5)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op", "slot") as sp:
        assert sp is None
    tr.account(None)
    assert tr.spans == []


# ------------------------------------------------------ benchmark contract


def test_benchmark_json_names_every_emitted_metric():
    import run

    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == run.per_layer_names()
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"])


def test_tail_percentile_keeps_ten_samples_beyond():
    import run

    for n in (20, 36, 100, 150):
        q = run.tail_q(n)
        assert percentile(list(range(n)), q) is not None
        assert percentile(list(range(n)), q + 0.01) is None
