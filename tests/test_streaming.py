"""Streaming/incremental tests (SURVEY.md §2.9): watermark state table
round-trip + monotonicity, late-drop semantics, and a Structured
Streaming file-source run driven to completion."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from projet_big_data_boutin_danre_spark.schemas import EVENTS_SCHEMA
from projet_big_data_boutin_danre_spark.sources.readers import load_table
from projet_big_data_boutin_danre_spark.streaming import (
    incremental_batch,
    read_watermark,
    write_watermark,
)
from projet_big_data_boutin_danre_spark.streaming.stream_dedup import (
    dedup_stream,
    read_stream,
    run_to_completion,
    windowed_counts,
)


def test_watermark_roundtrip_and_incremental(spark, tmp_path):
    state = str(tmp_path / "state")
    assert read_watermark(spark, state) is None  # first run: no state

    batch1 = spark.createDataFrame(
        [
            Row(id=1, ts=dt.datetime(2025, 1, 1, 10, 0)),
            Row(id=2, ts=dt.datetime(2025, 1, 1, 11, 0)),
        ]
    )
    write_watermark(batch1, "ts", state)
    wm = read_watermark(spark, state)
    # session-TZ wall-time string — OS-TZ-independent round trip
    assert wm == "2025-01-01 11:00:00.000000"

    batch2 = spark.createDataFrame(
        [
            Row(id=2, ts=dt.datetime(2025, 1, 1, 11, 0)),   # == wm → dropped
            Row(id=3, ts=dt.datetime(2025, 1, 1, 12, 0)),   # new
            Row(id=0, ts=dt.datetime(2025, 1, 1, 9, 0)),    # late → dropped
        ]
    )
    fresh = incremental_batch(batch2, "ts", wm)
    assert [r["id"] for r in fresh.collect()] == [3]

    # watermark only advances (monotonic)
    write_watermark(fresh, "ts", state)
    assert read_watermark(spark, state) == "2025-01-01 12:00:00.000000"


def test_corrupt_watermark_state_fails_loudly(spark, tmp_path):
    """VERDICT r3 #4: a corrupt state file must raise, not silently
    yield an empty incremental batch (to_timestamp(NULL) semantics)."""
    import pytest

    # state file exists but 'last_fetched' is garbage → NULL after parse
    state = str(tmp_path / "bad_state")
    spark.createDataFrame(
        [Row(last_fetched="not-a-timestamp")]
    ).write.parquet(state)
    with pytest.raises(ValueError, match="corrupt|unparseable|NULL"):
        read_watermark(spark, state)

    # state file exists but the column is missing entirely
    state2 = str(tmp_path / "wrong_col")
    spark.createDataFrame([Row(other=1)]).write.parquet(state2)
    with pytest.raises(ValueError, match="last_fetched"):
        read_watermark(spark, state2)

    # an unparseable string literal is rejected before entering the plan
    df = spark.createDataFrame([Row(id=1, ts=dt.datetime(2025, 1, 1))])
    with pytest.raises(ValueError, match="unparseable watermark"):
        incremental_batch(df, "ts", "garbage")
    # ...while a valid short-form literal still works
    assert incremental_batch(df, "ts", "2024-12-31").count() == 1
    # ISO-8601 forms external callers hand in are accepted (ADVICE
    # r4): 'T'-separated, with or without fraction / Z / ±HH:MM —
    # all shapes Spark's to_timestamp parses
    for iso in (
        "2024-12-31T00:00:00",
        "2024-12-31T00:00:00.000000",
        "2024-12-31T00:00:00Z",
        "2024-12-31T00:00:00+00:00",
        "2024-12-31 00:00:00+00:00",
    ):
        assert incremental_batch(df, "ts", iso).count() == 1, iso
    # a no-colon offset is NOT accepted (Spark would parse it to NULL
    # and silently drop every row — the exact hole this guard closes)
    with pytest.raises(ValueError, match="unparseable watermark"):
        incremental_batch(df, "ts", "2024-12-31T00:00:00+0100")
    # offsets outside Java's ZoneOffset range (±18:00, minutes<60)
    # would ALSO parse to NULL — rejected, not stripped
    for bad in ("+19:00", "-19:00", "+01:99", "+18:01"):
        with pytest.raises(ValueError, match="offset|unparseable"):
            incremental_batch(df, "ts", f"2024-12-31T00:00:00{bad}")
    # ±18:00 exactly is the ZoneOffset maximum and still valid
    assert incremental_batch(df, "ts", "2024-12-31T00:00:00+18:00").count() == 1


def test_unreadable_watermark_state_is_not_a_first_run(spark, tmp_path):
    """A state dir holding a file Spark cannot open (garbage footer)
    raises naming the path; only a state with nothing committed
    (missing path, empty dir) is the first run."""
    import pytest

    torn = tmp_path / "torn_state"
    torn.mkdir()
    (torn / "part-00000.parquet").write_bytes(b"not parquet at all")
    with pytest.raises(ValueError, match="torn_state"):
        read_watermark(spark, str(torn))
    assert read_watermark(spark, str(tmp_path / "missing")) is None
    (tmp_path / "empty").mkdir()
    assert read_watermark(spark, str(tmp_path / "empty")) is None


def test_empty_batch_keeps_watermark_state_readable(spark, tmp_path):
    """An empty batch writes zero-row state (not a NULL row), so NULL
    in state is unambiguously corruption."""
    state = str(tmp_path / "state_empty")
    empty = spark.createDataFrame([], "id long, ts timestamp")
    write_watermark(empty, "ts", state)
    assert read_watermark(spark, state) is None  # no watermark yet, no error


def test_structured_streaming_dedup_and_window(spark, tmp_path, sf0001):
    # stage a bounded file-source stream from the events table
    src = str(tmp_path / "stream_src")
    load_table(spark, sf0001, "events").limit(500).write.parquet(src)

    stream = read_stream(spark, src, EVENTS_SCHEMA)

    deduped = dedup_stream(stream, "event_id", "ts")
    out = run_to_completion(
        deduped.groupBy().agg(F.count(F.lit(1)).alias("n")), "dedup_smoke"
    )
    # run_to_completion uses complete mode → need aggregation; counts match input
    assert out.collect()[0]["n"] == 500

    windowed = windowed_counts(
        read_stream(spark, src, EVENTS_SCHEMA), "ts", "event_type", "1 hour"
    )
    wout = run_to_completion(windowed, "window_smoke")
    rows = wout.collect()
    assert len(rows) > 0
    # total across windows = input count
    assert sum(r["n"] for r in rows) == 500


def test_stream_keep_last_matches_batch_dedup(spark, tmp_path):
    """VERDICT r3 #5: the streaming dedup must agree with batch A2
    (deterministic keep-last) on a duplicated fixture, regardless of
    which file/batch a duplicate arrives in."""
    from projet_big_data_boutin_danre_spark.operators.cleaning import (
        keep_last_dedup,
    )
    from projet_big_data_boutin_danre_spark.streaming.stream_dedup import (
        dedup_stream_keep_last,
    )

    t0 = dt.datetime(2025, 1, 1, 10, 0)
    file1 = [
        (1, t0, "v1-old"),
        (2, t0 + dt.timedelta(minutes=30), "v2-final"),  # later ts FIRST
        (3, t0 + dt.timedelta(minutes=2), "v3-final"),
    ]
    file2 = [
        (1, t0 + dt.timedelta(minutes=10), "v1-final"),  # beats file1's
        (2, t0 + dt.timedelta(minutes=5), "v2-stale"),   # older: must lose
    ]
    schema = "id long, ts timestamp, payload string"

    def run_stream(order):
        src = tmp_path / f"kl_src_{order[0][1][0][2]}"
        src.mkdir()
        for i, (name, rows) in enumerate(order):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(src / f"f{i}_{name}"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        name = f"kl_out_{abs(hash(str(order))) % 10**8}"
        q = (
            dedup_stream_keep_last(stream, "id", "ts")
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # the last update per id = max-(ts) update (updates are
        # monotone in the order key) — extract it with the batch
        # operator itself
        return {
            (r["id"], r["ts"], r["payload"])
            for r in keep_last_dedup(
                spark.sql(f"SELECT * FROM {name}"), ["id"], "ts"
            ).collect()
        }

    batch_all = spark.createDataFrame(file1 + file2, schema)
    expected = {
        (r["id"], r["ts"], r["payload"])
        for r in keep_last_dedup(batch_all, ["id"], "ts").collect()
    }
    assert {p for (_, _, p) in expected} == {"v1-final", "v2-final", "v3-final"}

    # stream agrees with batch in BOTH arrival orders (dropDuplicates
    # would keep the first arrival and flip with the order)
    assert run_stream([("a", file1), ("b", file2)]) == expected
    assert run_stream([("a", file2), ("b", file1)]) == expected


def test_stream_keep_last_final_mode_emits_once(spark, tmp_path):
    """emit='final': each id's winner appears exactly once, after the
    watermark passes best_ts + lateness (event-time timeout)."""
    import time

    from projet_big_data_boutin_danre_spark.streaming.stream_dedup import (
        dedup_stream_keep_last,
    )

    src = tmp_path / "klf_src"
    src.mkdir()
    schema = "id long, ts timestamp, payload string"
    t0 = dt.datetime(2025, 1, 1, 10, 0)

    def emit(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    emit("f1", [(1, t0, "old"), (1, t0 + dt.timedelta(minutes=5), "new")])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        dedup_stream_keep_last(stream, "id", "ts", lateness="10 minutes",
                               emit="final")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("klf_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # far-future event pushes the watermark past id 1's timeout
        emit("f2", [(99, t0 + dt.timedelta(hours=2), "flush")])
        q.processAllAvailable()
        rows = []
        for _ in range(30):
            q.processAllAvailable()
            rows = spark.sql(
                "SELECT * FROM klf_out WHERE id = 1"
            ).collect()
            if rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(rows) == 1
    assert rows[0]["payload"] == "new"
    assert rows[0]["ts"] == t0 + dt.timedelta(minutes=5)


def test_stateful_sessionize_emits_closed_sessions(spark, tmp_path):
    import time

    from projet_big_data_boutin_danre_spark.streaming.sessionize import (
        sessionize_stateful,
    )

    src = tmp_path / "sess_src"
    src.mkdir()

    def emit(name, rows):
        spark.createDataFrame(
            rows, "user_id long, ts timestamp"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    t = dt.datetime(2025, 1, 1, 10, 0)
    emit("f1", [(1, t), (1, t + dt.timedelta(minutes=5))])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    sessions = sessionize_stateful(
        stream, "user_id", "ts", gap_sec=1800, lateness="30 minutes"
    )
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: 13:00 event -> watermark reaches 12:30, which is past
        # the first session's close point (10:05 + 30 min gap)
        emit("f2", [(1, t + dt.timedelta(hours=3))])
        q.processAllAvailable()
        # the timeout fires in a no-data micro-batch after the
        # watermark advance; poll instead of a fixed sleep (loaded
        # hosts delay the trigger)
        rows = []
        for _ in range(30):
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM sess_out").collect()
            if rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()

    assert len(rows) == 1
    r = rows[0]
    assert r["user_id"] == 1 and r["n_events"] == 2
    assert r["session_start"] == t
    assert r["session_end"] == t + dt.timedelta(minutes=5)


def test_sliding_windowed_counts_stream(spark, tmp_path):
    """Hopping windows on a stream: each event lands in window/slide
    windows, totals match the batch time_windows sliding semantics."""
    src = str(tmp_path / "slide_src")
    rows = [(i, dt.datetime(2025, 1, 1, 10, 7 * i), "a", 1.0) for i in range(4)]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    ).write.parquet(src)
    stream = read_stream(
        spark, src,
        "event_id long, ts timestamp, event_type string, value double",
    )
    out = run_to_completion(
        windowed_counts(stream, "ts", "event_type",
                        window="10 minutes", slide="5 minutes"),
        "slide_smoke",
    ).collect()
    # 4 events x 2 windows each (10min window, 5min slide)
    assert sum(r["n"] for r in out) == 8


def test_stream_index_documents_wire_shape(spark, tmp_path):
    """foreachBatch streaming indexer delivers the same action shape
    as the batch fan-out, across micro-batches."""
    import json
    import os

    from projet_big_data_boutin_danre_spark.streaming.stream_dedup import (
        stream_index_documents,
    )

    src = tmp_path / "idx_src"
    src.mkdir()
    spool = tmp_path / "idx_spool"
    spool.mkdir()
    spark.createDataFrame(
        [(1, "a", None), (2, None, 5.0)], "id long, title string, v double"
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(3, "c", 7.0)], "id long, title string, v double"
    ).coalesce(1).write.parquet(str(src / "f2"))

    spool_path = str(spool)

    def send(actions):
        import json as _json
        import os as _os
        import uuid as _uuid

        with open(_os.path.join(spool_path, f"{_uuid.uuid4().hex}.json"), "w") as f:
            _json.dump(actions, f)

    stream = (
        spark.readStream.schema("id long, title string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = stream_index_documents(
        stream, "test-index", send, id_key="id",
        checkpoint=str(tmp_path / "idx_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    actions = []
    for fn in os.listdir(spool_path):
        with open(os.path.join(spool_path, fn)) as f:
            actions.extend(json.load(f))
    by_id = {a["_id"]: a for a in actions}
    assert set(by_id) == {"1", "2", "3"}
    assert all(a["_index"] == "test-index" for a in actions)
    assert "v" not in by_id["1"]["_source"]      # null dropped
    assert "title" not in by_id["2"]["_source"]
    assert by_id["3"]["_source"] == {"id": 3, "title": "c", "v": 7.0}


def test_stream_keep_last_rejects_nested_columns(spark, tmp_path):
    import pytest

    from projet_big_data_boutin_danre_spark.streaming.stream_dedup import (
        dedup_stream_keep_last,
    )

    stream = (
        spark.readStream.schema(
            "id long, ts timestamp, loc struct<city:string>"
        ).parquet(str(tmp_path))
    )
    with pytest.raises(ValueError, match="nested columns"):
        dedup_stream_keep_last(stream, "id", "ts")


def test_stateful_sessionize_non_utc_session_tz(spark, tmp_path):
    """The custom stateful operators anchor Arrow's naive session-TZ
    wall times to TRUE epoch ms before comparing with GroupState's
    watermark/timeout (streaming/epoch.py): under a non-UTC session
    timezone the session must still close exactly when the watermark
    passes its close point — not hours early/late."""
    import time

    from projet_big_data_boutin_danre_spark.streaming.sessionize import (
        sessionize_stateful,
    )

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    # east-of-UTC is the DISCRIMINATING case: un-anchored wall-as-epoch
    # ms sit 9h AHEAD of the true watermark, so the session would never
    # close in this scenario (west-of-UTC merely closes early)
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        src = tmp_path / "sess_tz_src"
        src.mkdir()

        def emit(name, rows):
            spark.createDataFrame(
                rows, "user_id long, ts timestamp"
            ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

        t = dt.datetime(2025, 1, 1, 10, 0)
        emit("f1", [(7, t), (7, t + dt.timedelta(minutes=5))])

        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        sessions = sessionize_stateful(
            stream, "user_id", "ts", gap_sec=1800, lateness="30 minutes"
        )
        q = (
            sessions.writeStream.outputMode("append")
            .format("memory")
            .queryName("sess_tz_out")
            .start()
        )
        try:
            q.processAllAvailable()
            emit("f2", [(7, t + dt.timedelta(hours=3))])
            q.processAllAvailable()
            rows = []
            for _ in range(30):
                q.processAllAvailable()
                rows = spark.sql("SELECT * FROM sess_tz_out").collect()
                if rows:
                    break
                time.sleep(0.5)
        finally:
            q.stop()

        assert len(rows) == 1
        r = rows[0]
        assert r["user_id"] == 7 and r["n_events"] == 2
        # boundaries round-trip exactly in the non-UTC session
        assert r["session_start"] == t
        assert r["session_end"] == t + dt.timedelta(minutes=5)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_decontaminate_stream_matches_batch(spark, tmp_path):
    """The streaming decontamination variant is fully stateless (row-
    local gram array + arrays_overlap against the collected probe
    set), so it runs under append mode with no watermark and keeps
    exactly the docs the batch operator keeps."""
    from projet_big_data_boutin_danre_spark.operators import text as text_ops

    probes = spark.createDataFrame(
        [(100, "the held out benchmark answer is exactly forty two")],
        "pid long, ptext string",
    )
    rows = [
        (1, "prefix the held out benchmark answer is exactly forty two suffix", "en"),
        (2, "a clean document with entirely original phrasing inside", "en"),
        (3, "another clean one that matches nothing from the probe set", "fr"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    grams = text_ops.probe_gram_set(probes, "pid", "ptext", n=8)
    assert grams and all(len(g.split(" ")) == 8 for g in grams)

    # batch: stateless variant == aggregation-based operator
    via_stream_op = {
        r.doc_id
        for r in text_ops.decontaminate_stream(
            docs, "doc_id", "text", grams, n=8
        ).collect()
    }
    via_batch_op = {
        r.doc_id
        for r in text_ops.decontaminate(
            docs, "doc_id", "text", probes, "pid", "ptext", n=8
        ).collect()
    }
    assert via_stream_op == via_batch_op == {2, 3}

    # streaming: same call, append mode, no watermark, no state store
    src = tmp_path / "decon_src"
    docs.coalesce(2).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        text_ops.decontaminate_stream(stream, "doc_id", "text", grams, n=8)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("decon_stream_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]
        for r in spark.sql("SELECT doc_id FROM decon_stream_out").collect()
    }
    assert got == {2, 3}


def test_decontaminate_stream_empty_probe_set_keeps_all(spark):
    from projet_big_data_boutin_danre_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "anything at all works here fine today now yes")],
        "doc_id long, text string",
    )
    out = text_ops.decontaminate_stream(docs, "doc_id", "text", [], n=8)
    assert out.count() == 1
    # and the helper column never leaks into the output schema
    assert out.columns == ["doc_id", "text"]


def test_ppl_gate_stream_matches_batch(spark, tmp_path):
    """The stateless streaming perplexity gate (literal-map model +
    row-local fold) keeps EXACTLY the docs the batch
    perplexity_filter keeps, and runs under append mode with no
    watermark and no state store."""
    from projet_big_data_boutin_danre_spark.operators import lm

    fluent = "the cat sat on the mat again and again"
    rows = [
        (1, fluent, "en"),
        (2, fluent, "en"),
        (3, "zq xv wk jm qp vt lz rk mw pq xz vj", "en"),
        (4, "x", "en"),     # 1 token: unscorable, dropped by both
        (5, None, "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    model = lm.ngram_counts(docs, "text", n=2, min_count=2)
    ctx = lm.context_totals(docs, "text", n=2)
    ppls = {
        r.doc_id: r.ppl
        for r in lm.score_documents(docs, "doc_id", "text", model, ctx).collect()
    }
    cut = (ppls[1] + ppls[3]) / 2

    batch_kept = {
        r.doc_id
        for r in lm.perplexity_filter(
            docs, "doc_id", "text", model, ctx, max_ppl=cut
        ).collect()
    }
    m, c = lm.collect_model(model, ctx)
    stateless_kept_df = lm.ppl_gate_stream(
        docs, "doc_id", "text", m, c, max_ppl=cut
    )
    stateless_kept = {r.doc_id for r in stateless_kept_df.collect()}
    assert stateless_kept == batch_kept == {1, 2}
    # helper columns never leak
    assert stateless_kept_df.columns == ["doc_id", "text", "lang"]

    # real stream: same call, append mode
    src = tmp_path / "ppl_src"
    docs.coalesce(2).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        lm.ppl_gate_stream(stream, "doc_id", "text", m, c, max_ppl=cut)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ppl_stream_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]
        for r in spark.sql("SELECT doc_id FROM ppl_stream_out").collect()
    }
    assert got == {1, 2}


def test_ppl_gate_stream_empty_model_smooths_everything(spark):
    """An empty model (nothing survived pruning) still scores: every
    gram gets the uniform add-k probability — docs pass any cutoff
    above that uniform perplexity, none below."""
    from projet_big_data_boutin_danre_spark.operators import lm

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    # k/(0 + k*1) = 1 -> logp 0 -> ppl exactly 1.0
    out = lm.ppl_gate_stream(docs, "doc_id", "text", {}, {}, max_ppl=1.5)
    assert out.count() == 1
    out2 = lm.ppl_gate_stream(docs, "doc_id", "text", {}, {}, max_ppl=0.5)
    assert out2.count() == 0
