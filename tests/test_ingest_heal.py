"""Ingest crash-replay heals, the knob surface of the lake's entry
points and the ``_lake_mode`` string a fresh lake stamps: the sidecar
lifecycle of ``incremental_ingest`` that the default test run covers
(the rest of the ingest battery is marked slow)."""

from __future__ import annotations

import pytest
from ingest_docs import _BASE, _av_docs, _av_payloads, _near_docs


def test_ingest_heal_ignores_changed_content_under_reused_id(spark, tmp_path):
    """The backfill's proof obligation: 'fingerprint absent + id
    present' is NOT enough — a re-crawl can ship CHANGED content
    under a stable id, and appending that content's fingerprint
    (content never admitted!) would permanently block it under any
    future id. The heal must key on the id's absence from the
    sidecar's own id column."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    root = str(tmp_path / "lake_recrawl")
    b1 = spark.createDataFrame(
        [(1, "alpha content")], "doc_id long, text string"
    )
    r1 = incremental_ingest(spark, b1, root)
    assert r1["admitted"] == 1
    # re-crawl: same id, NEW content — doc row is correctly skipped
    # (id already admitted) and, critically, NOT treated as a heal
    b2 = spark.createDataFrame(
        [(1, "omega content")], "doc_id long, text string"
    )
    r2 = incremental_ingest(spark, b2, root)
    assert r2["admitted"] == 0
    assert r2["healed_fingerprints"] == 0
    # the new content later arrives under a fresh id: must be ADMITTED
    # (its fingerprint never legitimately entered the sidecar)
    b3 = spark.createDataFrame(
        [(50, "omega content")], "doc_id long, text string"
    )
    r3 = incremental_ingest(spark, b3, root)
    assert r3["admitted"] == 1
    assert r3["total_docs"] == 2


def test_maintain_lake_ignores_id_sidecar_swap_residue(spark, tmp_path):
    """An interrupted id-sidecar compaction leaves
    ``text_index_b4_ids__compact``. On a lake with no live index the
    orphan scan for a crashed index swap must not take it for an
    index layer (its bucket count would parse from ``4_ids``)."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
        maintain_lake,
    )

    root = str(tmp_path / "lake_ids_residue")
    incremental_ingest(spark, spark.createDataFrame(
        [(1, "alpha content")], "doc_id long, text string"
    ), root)
    spark.range(3).withColumnRenamed("id", "doc_id").write.parquet(
        f"{root}/text_index_b4_ids__compact"
    )
    res = maintain_lake(spark, root, compact_above_files=1)
    assert res["compacted_layers"] == 0
    assert res["text_index_built"] == 0


def test_near_dup_ingest_heals_missing_bands_on_replay(spark, tmp_path):
    """Crash window: docs/fingerprints landed, bands append did not.
    The replay must backfill the bands (healed_bands) so the near-dup
    guard regains sight of the batch — and a perturbed copy arriving
    after the heal is blocked."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    root = str(tmp_path / "lake_nd_heal")
    incremental_ingest(
        spark, _near_docs(spark, [(1, _BASE)]), root, near_dup=True
    )
    # simulate the crash: bands append lost
    shutil.rmtree(f"{root}/band_buckets")
    # before the heal, the guard is blind — but the exact guards
    # still hold, so the replay admits nothing AND rebuilds the bands
    r = incremental_ingest(
        spark, _near_docs(spark, [(1, _BASE)]), root, near_dup=True
    )
    assert r["admitted"] == 0
    assert r["healed_bands"] == 1
    # sight restored: the perturbed copy is blocked again
    r2 = incremental_ingest(
        spark,
        _near_docs(spark, [(9, _BASE.replace("fox", "wolf"))]),
        root,
        near_dup=True,
    )
    assert r2["admitted"] == 0 and r2["near_dup_blocked"] == 1


def test_streaming_ingest_exposes_full_batch_knob_surface():
    """r12 advisor: the two faces of the same pipeline must expose
    the same knob surface — a batch-face knob missing from
    streaming_ingest (bloom_max_fill was, pre-r13) means streaming
    lakes silently run defaults they cannot tune. Locks names AND
    defaults, so the next knob cannot ship half-surfaced. The exact
    parameter names of the lake's entry points are pinned too, so a
    new knob shows up here as a reviewed diff: the lake's column
    names, its LSH recipe parts, the url filter's fill target and the
    rewrite file size are module constants, not knobs."""
    import inspect

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        build_text_index,
        incremental_ingest,
        maintain_lake,
        streaming_ingest,
        update_line_census,
    )

    batch = inspect.signature(incremental_ingest).parameters
    stream = inspect.signature(streaming_ingest).parameters
    batch_knobs = {
        n: p.default for n, p in batch.items() if n not in ("spark", "new_docs")
    }
    stream_knobs = {
        n: p.default
        for n, p in stream.items()
        # stream_df/checkpoint/on_report are the streaming face's
        # source + delivery mechanisms, not pipeline knobs;
        # maintain_due (r17) / maintain_max_layers_per_batch (r18) /
        # index_compact_above_files (r19) are the on_report-side
        # maintenance POLICY — they change when (and how much of)
        # maintain_lake runs, never what any batch admits, so they
        # are delivery-side by the same rule
        if n not in ("stream_df", "checkpoint", "on_report",
                     "maintain_due", "maintain_max_layers_per_batch",
                     "index_compact_above_files")
    }
    assert batch_knobs == stream_knobs
    assert list(batch) == [
        "spark", "new_docs", "out_root", "catalog_prefix", "near_dup",
        "lsh_bands", "lsh_max_bucket", "near_dup_verify",
        "verify_max_broadcast_chars", "line_census",
        "decontaminate_probes", "gopher_gate", "max_top_ngram_frac",
        "max_dup_ngram_frac", "bloom_guard", "bloom_max_fill",
        "bloom_rebuild_mode", "media_guard", "media_video_every_ms",
        "media_max_bucket", "url_guard", "url_blocklist",
        "url_extra_suffixes", "url_psl_rules", "url_bloom",
        "compact_above_files",
    ]
    assert list(inspect.signature(maintain_lake).parameters) == [
        "spark", "out_root", "catalog_prefix", "bloom_max_fill",
        "compact_above_files", "trust_marker", "text_index_buckets",
        "max_layers", "index_compact_above_files",
    ]
    assert list(inspect.signature(build_text_index).parameters) == [
        "spark", "out_root", "buckets",
    ]
    assert list(inspect.signature(update_line_census).parameters) == [
        "spark", "census_path", "batch",
    ]


@pytest.mark.parametrize("face", ["near_dup", "routed_media", "url"])
def test_lake_mode_marker_spells_the_fixed_recipe(spark, tmp_path, face):
    """The ``_lake_mode`` string a fresh lake stamps is lake identity:
    an existing lake refuses any call whose mode differs. Lakes
    already on disk carry these literals, so a change to the recipe
    constants that would lock them out fails here."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    if face == "near_dup":
        batch = _near_docs(spark, [(1, _BASE)])
        knobs, mode = {"near_dup": True}, "path+lsh:8x4x8:fast"
    elif face == "routed_media":
        vid = _av_payloads()[0]
        batch = _av_docs(spark, [(1, "video alpha", vid, "video", 5000)])
        knobs = {"media_guard": True}
        mode = "path+media:dhash+vframes:1000:dur+awins:64/32"
    else:
        batch = spark.createDataFrame(
            [(1, _BASE, "https://a.ex/1")],
            "doc_id long, text string, url string",
        )
        knobs, mode = {"url_guard": True}, "path+url"
    root = str(tmp_path / "lake")
    incremental_ingest(spark, batch, root, **knobs)
    stamped = spark.read.parquet(f"{root}/_lake_mode").first()["mode"]
    assert stamped == mode


@pytest.mark.parametrize(
    "knobs", [{"bloom_rebuild_mode": "bogus"}, {"url_bloom": True}]
)
def test_streaming_ingest_rejects_bad_knobs_before_start(
    spark, tmp_path, knobs
):
    """A knob value no batch can run with fails the streaming call
    itself: no query is started that would only fail inside its first
    micro-batch."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        streaming_ingest,
    )

    stream = spark.readStream.format("rate").load()
    try:
        with pytest.raises(ValueError):
            streaming_ingest(stream, str(tmp_path / "lake"), **knobs)
        assert spark.streams.active == []
    finally:
        for q in spark.streams.active:
            q.stop()


def test_media_guard_video_audio_heal_on_replay(spark, tmp_path):
    """Crash window per modality: docs landed but the video/audio
    sidecar append did not — the replay backfills (healed_video /
    healed_audio) and each guard regains sight."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    vid, aud, img, fresh = _av_payloads()
    root = str(tmp_path / "lake_av_heal")
    b1 = [
        (1, "video alpha", vid, "video", 5000),
        (2, "audio alpha", aud, "audio", None),
    ]
    incremental_ingest(spark, _av_docs(spark, b1), root, media_guard=True)
    shutil.rmtree(f"{root}/media_vframes")
    shutil.rmtree(f"{root}/media_awins")
    rep = incremental_ingest(
        spark, _av_docs(spark, b1), root, media_guard=True
    )
    assert rep["admitted"] == 0
    assert rep["healed_video"] == 1 and rep["healed_audio"] == 1
    r2 = incremental_ingest(
        spark,
        _av_docs(spark, [
            (10, "video omega", vid[:100] + b"~" + vid[101:], "video", 5000),
            (11, "audio omega", aud[64:], "audio", None),
        ]),
        root,
        media_guard=True,
    )
    assert r2["admitted"] == 0 and r2["media_skipped"] == 2
