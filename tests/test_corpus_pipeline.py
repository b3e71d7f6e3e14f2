"""End-to-end LLM-corpus pipeline: the operators composed the way a
training-data job would actually chain them — profile → PII scrub →
quality filter → exact dedup → near-dup dedup (LSH, production
profile) → stratified sample → domain mix → token-window chunking →
interleave → corpus budget — with invariants asserted at every stage
boundary on the driver testdata. No operator is re-tested here; the
subject is the COMPOSITION (schemas line up, keepers propagate, counts
are monotone)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from projet_big_data_boutin_danre_spark.operators import (
    corpus_prep,
    dedup,
    text,
)
from projet_big_data_boutin_danre_spark.sources.readers import load_table

from ingest_docs import _BASE, _av_docs, _av_payloads, _near_docs

# Long-running lake-lifecycle / maintenance / property battery
# (r20): excluded from the default pytest run so the driver's
# verification window fits; opt in with `-m slow` (the round-close
# protocol runs fast + slow green). See pytest.ini.
pytestmark = pytest.mark.slow


def test_llm_corpus_pipeline_end_to_end(spark, sf0001):
    docs = load_table(spark, sf0001, "documents")
    n_raw = docs.count()

    # 1. profile + quality gate (keep well-formed docs with enough text)
    prof = text.text_profile(docs, "doc_id", "text")
    kept_ids = prof.filter(
        (F.col("quality") >= 0.05) & (F.col("n_tokens") >= 5)
    ).select("doc_id")
    gated = docs.join(kept_ids, "doc_id", "left_semi")
    n_gated = gated.count()
    assert 0 < n_gated <= n_raw

    # 2. exact dedup (normalized content hash, deterministic keeper)
    exact = dedup.exact_dedup(gated, "doc_id", "text")
    n_exact = exact.count()
    assert 0 < n_exact <= n_gated

    # 3. near-dup removal: LSH candidates at production scale profile;
    # drop every id_b (id_a < id_b, so the smallest id of each
    # connected pair-set survives as the keeper)
    pairs = dedup.minhash_lsh_pairs(
        exact, "doc_id", "text", scale_profile="production"
    )
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    deduped = exact.join(losers, "doc_id", "left_anti")
    n_deduped = deduped.count()
    assert 0 < n_deduped <= n_exact
    # keepers survive: every id_a that never appears as id_b is kept
    keepers = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .distinct()
        .join(losers, "doc_id", "left_anti")
    )
    assert keepers.join(deduped, "doc_id", "left_semi").count() == keepers.count()

    # 3b. PII scrub audit rides the same corpus (counts only here; the
    # scrubbed text itself is what a real pipeline would carry forward)
    scrub = text.pii_scrub(deduped, "doc_id", "text")
    assert scrub.count() == n_deduped
    assert scrub.filter(F.col("n_emails") < 0).count() == 0

    # 3c. deterministic stratified sample by lang, then an exact-count
    # domain mix on the survivors — the "data recipe" stages
    sampled = corpus_prep.stratified_sample(
        deduped, "doc_id", "lang",
        {"en": 1.0, "fr": 1.0}, default_fraction=0.5, seed=13,
    )
    n_sampled = sampled.count()
    assert 0 < n_sampled <= n_deduped
    # en/fr fully kept: sampling never drops a fraction-1.0 stratum
    assert (
        sampled.filter(F.col("lang").isin("en", "fr")).count()
        == deduped.filter(F.col("lang").isin("en", "fr")).count()
    )
    mixed = corpus_prep.domain_mix(
        sampled, "doc_id", "lang",
        {"en": 10, "fr": 10, "de": 5, "es": 5, "und": 5}, seed=13,
    )
    n_mixed = mixed.count()
    assert 0 < n_mixed <= min(n_sampled, 35)
    deduped = mixed  # the recipe output feeds chunking
    n_deduped = n_mixed

    # 4. chunk the surviving corpus into token windows
    chunks = text.chunk_tokens(
        deduped, "doc_id", "text", chunk_tokens=64, overlap=8
    )
    n_chunks = chunks.count()
    assert n_chunks >= n_deduped  # every doc yields >= 1 chunk
    assert chunks.filter(F.col("n_tokens") > 64).count() == 0
    # every surviving doc is represented in the chunk set
    assert chunks.select("doc_id").distinct().count() == n_deduped

    # 5. corpus budget: chunk-token total is bounded below by the raw
    # token total of surviving docs (overlap duplicates tokens, so the
    # chunked corpus can only be >= the unchunked one)
    doc_tokens = (
        deduped.select(text.token_count("text").alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    chunk_tokens_total = chunks.agg(F.sum("n_tokens")).collect()[0][0]
    assert chunk_tokens_total >= doc_tokens

    # 6. interleave the chunk stream for training readers: a
    # deterministic permutation of the full chunk set
    shuffled = corpus_prep.interleave(
        chunks.withColumn(
            "chunk_key",
            F.concat_ws(":", F.col("doc_id"), F.col("chunk_id")),
        ),
        "chunk_key",
        seed=17,
    )
    assert shuffled.count() == n_chunks

    # the whole chain is one lazy plan culminating in counts — no
    # operator broke the DataFrame contract along the way
    assert {"doc_id", "chunk_id", "chunk", "n_tokens"} == set(chunks.columns)


def test_corpus_pipeline_runner_layers_and_resume(spark, sf0001, tmp_path):
    """The runnable corpus program: layers land as parquet with
    monotone counts, a re-run resumes from existing layers without
    recomputing (byte-stable), and the recipe stages apply."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        CorpusRecipe,
        run_corpus_pipeline,
    )
    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    docs = load_table(spark, sf0001, "documents")
    root = str(tmp_path / "corpus_lake")
    recipe = CorpusRecipe(
        sample_fractions={"en": 1.0, "fr": 1.0},
        sample_default=0.5,
        mix_counts={"en": 10, "fr": 10, "de": 5, "es": 5, "und": 5},
        n_shards=4,
    )
    counts = run_corpus_pipeline(spark, docs, root, recipe)
    assert list(counts) == [
        "profiled", "gated", "deduped", "recipe", "chunks", "shards"
    ]
    assert counts["profiled"] >= counts["gated"] >= counts["deduped"]
    assert counts["recipe"] <= min(counts["deduped"], 35)
    assert counts["chunks"] == counts["shards"] >= counts["recipe"]

    # resume: deleting ONE downstream layer re-runs only that stage;
    # the upstream layers are reused and totals are unchanged
    import shutil

    shutil.rmtree(f"{root}/recipe")
    again = run_corpus_pipeline(spark, docs, root, recipe)
    assert again == counts
    # shard layer replays the interleave order of the chunk keys
    shards = spark.read.parquet(f"{root}/shards")
    assert {"__shard", "__key", "chunk_key"} <= set(shards.columns)


def test_incremental_ingest_is_idempotent_and_content_keyed(spark, tmp_path):
    """At-least-once ingestion: replays admit nothing, content dupes
    across batches admit once, within-batch dupes admit once."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    root = str(tmp_path / "inc_lake")
    schema = "doc_id long, text string, lang string"
    b1 = spark.createDataFrame(
        [(1, "alpha beta", "en"), (2, "gamma delta", "en"),
         (3, "ALPHA   beta!", "en")],  # normalized dup of 1
        schema,
    )
    r1 = incremental_ingest(spark, b1, root)
    assert r1 == {
        "arrived": 3, "admitted": 2, "healed_fingerprints": 0,
        "total_docs": 2,
    }

    # replay the same batch: nothing admitted
    r1b = incremental_ingest(spark, b1, root)
    assert r1b["admitted"] == 0 and r1b["total_docs"] == 2

    # new batch: one genuinely new doc, one cross-batch content dup
    b2 = spark.createDataFrame(
        [(10, "epsilon zeta", "fr"), (11, "gamma DELTA", "en")],
        schema,
    )
    r2 = incremental_ingest(spark, b2, root)
    assert r2 == {
        "arrived": 2, "admitted": 1, "healed_fingerprints": 0,
        "total_docs": 3,
    }
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{root}/docs").collect()
    }
    assert set(texts) == {1, 2, 10}


def test_bloom_guard_same_admissions_plus_fastpath(spark, tmp_path):
    """bloom_guard=True must admit EXACTLY the same set as the plain
    exact guard (the filter has no false negatives; false positives
    only route through the exact join), while proving most of a novel
    batch new WITHOUT the fingerprint join (bloom_fastpath)."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    schema = "doc_id long, text string, lang string"
    b1 = spark.createDataFrame(
        [(i, f"doc number {i} alpha", "en") for i in range(20)], schema
    )
    b2 = spark.createDataFrame(
        # 10 novel + 2 cross-batch content dups + 1 replayed id
        [(100 + i, f"fresh content {i} beta", "en") for i in range(10)]
        + [(200, "doc number 3 alpha", "en"), (201, "DOC Number 4 ALPHA", "en")]
        + [(5, "doc number 5 alpha", "en")],
        schema,
    )
    roots = {}
    for name, guard in (("plain", False), ("bloom", True)):
        root = str(tmp_path / f"lake_{name}")
        r1 = incremental_ingest(spark, b1, root, bloom_guard=guard)
        r2 = incremental_ingest(spark, b2, root, bloom_guard=guard)
        roots[name] = (root, r1, r2)
    # identical admission decisions
    assert roots["plain"][1]["admitted"] == roots["bloom"][1]["admitted"]
    assert roots["plain"][2]["admitted"] == roots["bloom"][2]["admitted"]
    ids = lambda root: sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{root}/docs").select("doc_id").collect()
    )
    assert ids(roots["plain"][0]) == ids(roots["bloom"][0])
    # the 10 novel docs took the fast path (dups must NOT — they are
    # bloom hits routed to the exact join; fpp could steal a novel
    # one in principle, so assert the guaranteed floor: all true
    # members probed maybe_seen)
    assert roots["bloom"][2]["bloom_fastpath"] >= 1
    assert roots["bloom"][2]["bloom_fastpath"] <= 10
    # replay with the guard on: nothing admitted, nothing fast-pathed
    # as new-and-admitted twice
    r2b = incremental_ingest(
        spark, b2, roots["bloom"][0], bloom_guard=True
    )
    assert r2b["admitted"] == 0


def test_bloom_guard_crash_windows_are_safe(spark, tmp_path):
    """The two crash windows around the bloom write degrade safely:
    (a) bloom written but docs/fingerprints never landed — replay
    routes those keys through the exact join (they probe maybe_seen)
    and admits them correctly; (b) bloom layer unreadable — admission
    rebuilds from the fingerprint layer and proceeds."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _read_bloom_layer,
        incremental_ingest,
    )
    from projet_big_data_boutin_danre_spark.functions.hashing import (
        stable_fingerprint,
    )
    from projet_big_data_boutin_danre_spark.operators import bloom as bl

    schema = "doc_id long, text string, lang string"
    root = str(tmp_path / "lake_crash")
    blp = f"{root}/bloom_k{bl.K_DEFAULT}h{bl.HEX_CHARS_DEFAULT}"
    b1 = spark.createDataFrame(
        [(1, "first content here", "en"), (2, "second content here", "en")],
        schema,
    )
    incremental_ingest(spark, b1, root, bloom_guard=True)

    # (a) simulate the bloom-written/docs-crashed window for batch 2:
    # merge b2's bits into the sidecar WITHOUT appending docs/fps
    b2 = spark.createDataFrame(
        [(10, "third content here", "en")], schema
    )
    b2fp = b2.select(stable_fingerprint("text").alias("fingerprint"))
    merged = bl.bloom_merge(
        spark.read.parquet(blp), bl.bloom_build(b2fp, "fingerprint")
    ).localCheckpoint()
    merged.write.mode("overwrite").parquet(blp)
    r = incremental_ingest(spark, b2, root, bloom_guard=True)
    # the key probes maybe_seen (its bits are set) → exact join →
    # genuinely new → ADMITTED: no lost batch
    assert r["admitted"] == 1
    assert r["bloom_fastpath"] == 0

    # (b) corrupt the bloom layer: a read must degrade to None and
    # ingest must rebuild + proceed
    import pathlib
    import shutil

    bloom_dir = pathlib.Path(blp)
    shutil.rmtree(bloom_dir)
    bloom_dir.mkdir()
    (bloom_dir / "garbage.parquet").write_text("not parquet")
    assert _read_bloom_layer(spark, str(bloom_dir)) is None
    b3 = spark.createDataFrame(
        [(20, "fourth content here", "en"),
         (21, "first CONTENT here!", "en")],  # normalized dup of doc 1
        schema,
    )
    r3 = incremental_ingest(spark, b3, root, bloom_guard=True)
    assert r3["admitted"] == 1  # dup rejected via rebuilt filter + exact join
    # the overwrite healed the layer
    assert _read_bloom_layer(spark, str(bloom_dir)) is not None


def test_bloom_heal_preserves_historical_bits(spark, tmp_path):
    """A missing/corrupt sidecar must heal to a filter that still
    carries EVERY historical fingerprint's bits. The healing ingest
    rebuilds the filter from the fingerprint layer at probe time; the
    write path must persist THAT filter merged with the batch's bits
    — not re-read the (absent) disk layer and overwrite the sidecar
    with the batch's bits alone. Otherwise the NEXT ingest probes
    maybe_seen=false for historical keys and admits duplicates via
    the fastpath — a false negative the guard's whole design forbids."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )
    from projet_big_data_boutin_danre_spark.operators import bloom as bl

    schema = "doc_id long, text string, lang string"
    root = str(tmp_path / "lake_heal")
    blp = f"{root}/bloom_k{bl.K_DEFAULT}h{bl.HEX_CHARS_DEFAULT}"
    b1 = spark.createDataFrame(
        [(1, "historic alpha text", "en"), (2, "historic beta text", "en")],
        schema,
    )
    incremental_ingest(spark, b1, root, bloom_guard=True)

    # lose the sidecar entirely (crash during its overwrite)
    shutil.rmtree(blp)

    # healing ingest: a novel batch rebuilds the filter from the
    # fingerprint layer and must write back history ∪ batch
    b2 = spark.createDataFrame(
        [(10, "novel gamma text", "en")], schema
    )
    r2 = incremental_ingest(spark, b2, root, bloom_guard=True)
    assert r2["admitted"] == 1

    # the next ingest carries a normalized duplicate of HISTORICAL
    # doc 1 (pre-heal content) plus one novel doc: the duplicate must
    # be rejected on the exact path (maybe_seen=true), never admitted
    # via the fastpath
    b3 = spark.createDataFrame(
        [(20, "Historic ALPHA text!", "en"), (21, "novel delta text", "en")],
        schema,
    )
    r3 = incremental_ingest(spark, b3, root, bloom_guard=True)
    assert r3["admitted"] == 1
    assert r3["bloom_fastpath"] <= 1  # the dup probed maybe_seen
    ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{root}/docs").select("doc_id").collect()
    }
    assert ids == {1, 2, 10, 21}


def test_bloom_rebuild_on_fill_restores_fastpath(spark, tmp_path):
    """Saturation lifecycle: a filter past bloom_max_fill is rebuilt
    one hex_chars step larger from the fingerprint layer (new layer
    written before the old is deleted; geometry discovered from the
    layer name), and the fastpath recovers — novel keys prove new
    again instead of all probing "maybe"."""
    import os

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _discover_bloom_geometry,
        bloom_rebuild,
        incremental_ingest,
    )

    schema = "doc_id long, text string, lang string"
    root = str(tmp_path / "lake_fill")
    b1 = spark.createDataFrame(
        [(i, f"seed document number {i} alpha", "en") for i in range(8)],
        schema,
    )
    incremental_ingest(spark, b1, root, bloom_guard=True)
    # shrink the lake's filter to a toy geometry (16 bits): the next
    # batch saturates it immediately
    stats = bloom_rebuild(spark, root, hex_chars=1)
    assert stats["hex_chars"] == 1 and stats["fill_frac"] > 0.5
    assert _discover_bloom_geometry(spark, root) == 1
    assert not os.path.exists(f"{root}/bloom_k4h6")  # old layer swept
    b2 = spark.createDataFrame(
        [(100 + i, f"fresh content {i} beta", "en") for i in range(4)],
        schema,
    )
    r2 = incremental_ingest(spark, b2, root, bloom_guard=True)
    # all 4 admitted (saturation causes extra exact-join work, never
    # wrong admission) and the auto-check grew the geometry one step
    assert r2["admitted"] == 4
    assert r2["bloom_rebuilt_hex"] == 2
    assert _discover_bloom_geometry(spark, root) == 2
    assert not os.path.exists(f"{root}/bloom_k4h1")
    # keep growing until the fill drops under the threshold, then the
    # fastpath proves novel keys new again
    for step in range(3, 8):
        b = spark.createDataFrame(
            [(1000 * step + i, f"wave {step} doc {i} gamma", "en")
             for i in range(4)],
            schema,
        )
        r = incremental_ingest(spark, b, root, bloom_guard=True)
        assert r["admitted"] == 4
        if r["bloom_rebuilt_hex"] == 0:
            break
    assert r["bloom_fill_pct"] <= 50
    rn = incremental_ingest(
        spark,
        spark.createDataFrame(
            [(90001, "totally novel delta text", "en"),
             (90002, "another novel epsilon text", "en")],
            schema,
        ),
        root,
        bloom_guard=True,
    )
    assert rn["admitted"] == 2
    assert rn["bloom_fastpath"] >= 1  # the fastpath is back
    # replaying an admitted batch still rejects everything (the grown
    # filter was rebuilt from the authoritative layer — no false
    # negatives across rebuilds)
    r1b = incremental_ingest(spark, b1, root, bloom_guard=True)
    assert r1b["admitted"] == 0


def test_repetition_gate_drops_boilerplate(spark, tmp_path):
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        CorpusRecipe,
        run_corpus_pipeline,
    )

    rows = [
        (1, "buy now buy now buy now buy now buy now buy now", "en"),
        (2, "a genuinely varied document about several distinct topics "
            "with no repeated phrasing anywhere inside it at all", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    root = str(tmp_path / "lake")
    try:
        counts = run_corpus_pipeline(
            spark, docs, root,
            CorpusRecipe(min_tokens=2, max_top_bigram_frac=0.5),
            force=True,
        )
        gated = spark.read.parquet(f"{root}/gated")
        kept = sorted(r.doc_id for r in gated.select("doc_id").collect())
        assert kept == [2]  # the buy-now spam is gated out
        assert counts["gated"] == 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_perplexity_gate_drops_least_fluent_tail(spark, tmp_path):
    """max_ppl gates on the self-trained bigram LM: the doc whose
    bigrams never repeat in the corpus scores highest perplexity and
    is dropped; in-distribution docs pass."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        CorpusRecipe,
        run_corpus_pipeline,
    )
    from projet_big_data_boutin_danre_spark.operators import lm

    fluent = "the cat sat on the mat again and again"
    rows = [
        (1, fluent, "en"),
        (2, fluent, "en"),
        (3, "zq xv wk jm qp vt lz rk mw pq xz vj", "en"),  # gibberish
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    # pick the cutoff from the actual scores so the test pins the
    # gate's plumbing, not a magic constant
    model = lm.ngram_counts(docs, "text", n=2, min_count=2)
    ctx = lm.context_totals(docs, "text", n=2)
    ppls = {
        r.doc_id: r.ppl
        for r in lm.score_documents(
            docs, "doc_id", "text", model, ctx
        ).collect()
    }
    assert ppls[3] > ppls[1]  # gibberish is less fluent
    cut = (ppls[1] + ppls[3]) / 2
    root = str(tmp_path / "lake")
    try:
        run_corpus_pipeline(
            spark, docs, root,
            CorpusRecipe(min_tokens=2, max_ppl=cut),
            force=True,
        )
        gated = spark.read.parquet(f"{root}/gated")
        kept = sorted(r.doc_id for r in gated.select("doc_id").collect())
        assert kept == [1, 2]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_incremental_ingest_bucketed_catalog_mode(spark, tmp_path):
    """catalog_prefix mode: same admit semantics as the path-only
    lake, guard sidecars maintained as bucketed catalog tables, and
    the corpus-sized side of each guard anti-join reads WITHOUT an
    Exchange (only the small batch shuffles into bucket layout)."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    root = str(tmp_path / "inc_lake_b")
    prefix = "t_r6_ing"
    schema = "doc_id long, text string, lang string"
    try:
        b1 = spark.createDataFrame(
            [(1, "alpha beta", "en"), (2, "gamma delta", "en"),
             (3, "ALPHA   beta!", "en")],
            schema,
        )
        r1 = incremental_ingest(spark, b1, root, catalog_prefix=prefix)
        assert r1 == {
            "arrived": 3, "admitted": 2, "healed_fingerprints": 0,
            "total_docs": 2,
        }
        # replay: id guard + fingerprint guard both hold
        r1b = incremental_ingest(spark, b1, root, catalog_prefix=prefix)
        assert r1b["admitted"] == 0 and r1b["total_docs"] == 2
        assert r1b["healed_fingerprints"] == 0
        # crash between the ids append and the fingerprints append
        # (the documented residual window of the docs→ids→fps order):
        # replay must admit nothing AND backfill the missing
        # fingerprints from the batch in hand
        spark.sql(f"DROP TABLE {prefix}_fingerprints")
        r1c = incremental_ingest(spark, b1, root, catalog_prefix=prefix)
        assert r1c["admitted"] == 0
        assert r1c["healed_fingerprints"] == 2
        assert spark.table(f"{prefix}_fingerprints").count() == 2
        # cross-batch content dup admits once — running off the HEALED
        # sidecar proves the backfill restored content-level dedup
        b2 = spark.createDataFrame(
            [(10, "epsilon zeta", "fr"), (11, "gamma DELTA", "en")],
            schema,
        )
        r2 = incremental_ingest(spark, b2, root, catalog_prefix=prefix)
        assert r2 == {
            "arrived": 2, "admitted": 1, "healed_fingerprints": 0,
            "total_docs": 3,
        }
        # both sidecars exist, bucketed: an anti-join against them
        # needs exactly ONE Exchange (the probe side), never one on
        # the bucketed scan
        probe = spark.createDataFrame([(99,)], "doc_id long")
        j = probe.join(
            spark.table(f"{prefix}_ids"), "doc_id", "left_anti"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") <= 1
        assert "SELECT" not in plan  # sanity: it's a physical plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_ids")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_fingerprints")


def test_streaming_ingest_file_source_dedups_across_batches(spark, tmp_path):
    """A real readStream over an arrival directory, ingesting through
    the lake's content-fingerprint admission: cross-file content dups
    admit once, and late-arriving files only add genuinely new
    content (the batch contract, proven under the streaming engine)."""
    import json

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        streaming_ingest,
    )

    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    root = str(tmp_path / "stream_lake")

    def drop(name, rows):
        (arrivals / name).write_text(
            "\n".join(json.dumps(r) for r in rows)
        )

    drop("b1.json", [
        {"doc_id": 1, "text": "alpha beta"},
        {"doc_id": 2, "text": "gamma delta"},
        {"doc_id": 3, "text": "ALPHA   beta!"},  # normalized dup of 1
    ])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(str(arrivals))
    )
    q = streaming_ingest(
        stream, root, checkpoint=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        docs = spark.read.parquet(f"{root}/docs")
        assert {r.doc_id for r in docs.collect()} == {1, 2}
        # second arrival: one new doc, one cross-batch content dup
        drop("b2.json", [
            {"doc_id": 10, "text": "epsilon zeta"},
            {"doc_id": 11, "text": "gamma DELTA"},
        ])
        q.processAllAvailable()
        docs = spark.read.parquet(f"{root}/docs")
        assert {r.doc_id for r in docs.collect()} == {1, 2, 10}
    finally:
        q.stop()


def test_ingest_mode_switch_refuses_loudly(spark, tmp_path):
    """Flipping an existing lake between path mode and catalog mode
    would silently re-admit the whole corpus (each mode reads only
    its own guard sidecars) — the guard must refuse instead."""
    import pytest as _pytest

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")],
        "doc_id long, text string",
    )
    root = str(tmp_path / "lake")
    incremental_ingest(spark, docs, root)  # path mode, stamps marker
    with _pytest.raises(ValueError, match="created in mode"):
        incremental_ingest(spark, docs, root, catalog_prefix="t_modeswitch")
    # crashed-first-batch replay: docs landed, fingerprints didn't.
    # WITH the mode marker this is provably a path-mode lake, so the
    # replay proceeds and the id guard admits nothing twice — the
    # self-heal a streaming checkpoint needs (it retries the same
    # batch forever).
    import shutil

    shutil.rmtree(f"{root}/fingerprints")
    out = incremental_ingest(spark, docs, root)
    assert out["admitted"] == 0
    assert spark.read.parquet(f"{root}/docs").count() == 2
    # ...and the replay BACKFILLS the missing fingerprint sidecar from
    # the batch in hand (id-guarded rows recompute their fingerprints)
    # — without it, content dedup for the crashed batch is silently
    # lost: identical content under a NEW id would be re-admitted.
    assert out["healed_fingerprints"] == 2
    fps = spark.read.parquet(f"{root}/fingerprints")
    assert fps.count() == 2
    dup_new_id = spark.createDataFrame(
        [(99, "ALPHA   beta!")], "doc_id long, text string"
    )  # normalized dup of doc 1 under a fresh id
    out2 = incremental_ingest(spark, dup_new_id, root)
    assert out2["admitted"] == 0
    assert out2["healed_fingerprints"] == 0  # healthy batch: no heal
    assert spark.read.parquet(f"{root}/docs").count() == 2
    # empty marker layer (interrupted overwrite): refuse with the
    # repair message, not a None-subscript TypeError
    spark.createDataFrame([], "mode string").write.mode(
        "overwrite"
    ).parquet(f"{root}/_lake_mode")
    with _pytest.raises(ValueError, match="EMPTY _lake_mode marker"):
        incremental_ingest(spark, docs, root)
    # legacy lake (no marker at all, no fingerprint sidecar — the
    # heal above restored it, so remove it again): ambiguous between
    # a catalog-mode lake and a pre-marker crashed first batch —
    # refuse loudly
    shutil.rmtree(f"{root}/_lake_mode")
    shutil.rmtree(f"{root}/fingerprints")
    with _pytest.raises(ValueError, match="no mode marker"):
        incremental_ingest(spark, docs, root)


def test_quality_model_gate_is_deterministic_and_monotone(spark, tmp_path, sf0001):
    """quality_model_min_p: the learned-filter leg of the gate stage.
    The classifier gate must (a) only ever REMOVE docs relative to the
    heuristic gates, (b) be deterministic across re-runs (md5 split +
    LBFGS on identical data — no RNG), (c) keep the pipeline green
    end-to-end."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        CorpusRecipe,
        run_corpus_pipeline,
    )
    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    docs = load_table(spark, sf0001, "documents")
    recipe = CorpusRecipe(
        min_tokens=1, min_quality=0.0, quality_model_min_p=0.5,
    )
    root = str(tmp_path / "lake_qm")
    try:
        c1 = run_corpus_pipeline(spark, docs, root, recipe, force=True)
        assert 0 < c1["gated"] <= c1["profiled"]
        c2 = run_corpus_pipeline(spark, docs, root, recipe, force=True)
        assert c2["gated"] == c1["gated"]
        # the gate only removes: every gated id came from the input
        gated_ids = {
            r.doc_id
            for r in spark.read.parquet(f"{root}/gated").collect()
        }
        all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
        assert gated_ids <= all_ids
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_cut_spans_stage_removes_shared_boilerplate(spark, tmp_path):
    """cut_spans=True: the deduped layer carries the normalized text
    with cross-doc duplicated substrings REMOVED (Lee et al. cut, not
    drop) — the unique payload survives, the shared header doesn't."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        CorpusRecipe,
        run_corpus_pipeline,
    )

    header = "this exact license header repeats across documents"
    rows = [
        (1, f"{header} unique payload one about spark windows "
            "partition pruning codegen exchange reuse broadcast "
            "thresholds adaptive execution and columnar batches", "en"),
        (2, f"{header} a different second payload on joins here "
            "bucketing sort merge shuffle hash skew salting "
            "statistics cardinality estimation and cost models", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    root = str(tmp_path / "lake")
    try:
        run_corpus_pipeline(
            spark, docs, root,
            CorpusRecipe(min_tokens=2, cut_spans=True, cut_span_min_len=20),
            force=True,
        )
        deduped = {
            r.doc_id: r.text
            for r in spark.read.parquet(f"{root}/deduped").collect()
        }
        assert set(deduped) == {1, 2}  # both docs survive (cut, not drop)
        for t in deduped.values():
            assert "license header" not in t
        assert "unique payload one" in deduped[1]
        assert "second payload" in deduped[2]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_clean_lines_stage_gates_text_before_profiling(spark, tmp_path):
    """clean_min_words wires clean_lines in as the FIRST layer: short
    and blocklisted lines are gone from the text every later gate
    sees, a doc with no surviving line is dropped, passthrough
    columns (lang) ride along, and the corpus line drop-rate shows up
    in the returned stage counts."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        CorpusRecipe,
        run_corpus_pipeline,
    )

    rows = [
        (1, "this first line is a proper keeper sentence\nok\n"
            "enable javascript to continue reading this page\n"
            "another keeper line with plenty of words here", "en"),
        (2, "tiny\nalso tiny", "en"),  # no surviving line -> dropped
        (3, "one single good line with enough words inside", "fr"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    root = str(tmp_path / "lake")
    try:
        counts = run_corpus_pipeline(
            spark, docs, root,
            CorpusRecipe(
                min_tokens=2,
                clean_min_words=4,
                clean_blocklist=("javascript",),
            ),
            force=True,
        )
        cleaned = {
            r.doc_id: r.asDict()
            for r in spark.read.parquet(f"{root}/cleaned").collect()
        }
        # the layer is the AUDIT: doc 2's all-dropped result is there
        assert set(cleaned) == {1, 2, 3}
        assert cleaned[1]["text"] == (
            "this first line is a proper keeper sentence\n"
            "another keeper line with plenty of words here"
        )
        assert cleaned[1]["lang"] == "en"  # passthrough column rides
        assert (cleaned[1]["n_lines_total"], cleaned[1]["n_lines_kept"]) \
            == (4, 2)
        assert cleaned[2]["n_lines_kept"] == 0
        # drop-rate surfaced: 7 lines in (4+2+1), 3 kept (2+0+1)
        assert counts["cleaned"] == 3
        assert counts["clean_docs_kept"] == 2
        assert counts["clean_lines_total"] == 7
        assert counts["clean_lines_kept"] == 3
        # the dropped boilerplate never reaches the profiled layer
        prof_ids = {
            r.doc_id
            for r in spark.read.parquet(f"{root}/profiled").collect()
        }
        assert prof_ids == {1, 3}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_line_dedup_stage_cuts_adaptive_boilerplate(spark, tmp_path):
    """line_dedup_min_df wires drop_common_lines in after the clean
    stage: the corpus-common banner line is deleted from every doc
    (no keeper), unique prose survives, both stages' audit columns
    ride the layer, and the corpus drop total ships in the counts."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        CorpusRecipe,
        run_corpus_pipeline,
    )

    banner = "SUBSCRIBE TO OUR NEWSLETTER FOR UPDATES TODAY"
    rows = [
        (1, f"{banner}\nsome unique alpha prose with enough words",
         "en"),
        (2, f"{banner}\ncompletely different beta content here now",
         "en"),
        (3, "no boilerplate in this one just regular text", "fr"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    root = str(tmp_path / "lake")
    try:
        counts = run_corpus_pipeline(
            spark, docs, root,
            CorpusRecipe(
                min_tokens=2,
                clean_min_words=3,
                line_dedup_min_df=2,
            ),
            force=True,
        )
        ld = {
            r.doc_id: r.asDict()
            for r in spark.read.parquet(f"{root}/line_deduped").collect()
        }
        assert set(ld) == {1, 2, 3}
        assert ld[1]["text"] == "some unique alpha prose with enough words"
        assert banner not in ld[2]["text"]
        assert ld[3]["text"].startswith("no boilerplate")
        assert (ld[1]["n_lines_dropped"], ld[3]["n_lines_dropped"]) == (1, 0)
        # clean-stage audit columns ride through as extra cols
        assert ld[1]["n_lines_kept"] == 2 and ld[1]["lang"] == "en"
        assert counts["line_dedup_dropped_lines"] == 2
        # the banner never reaches profiling/gating
        gated_text = {
            r.text
            for r in spark.read.parquet(f"{root}/gated").collect()
        }
        assert all(banner not in t for t in gated_text)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_gopher_gate_drops_rule_violators(spark, tmp_path):
    """gopher=True: the gated layer requires the full Table A1
    verdict — a symbol-spam doc and a word-floor doc die at the gate,
    healthy prose survives."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        CorpusRecipe,
        run_corpus_pipeline,
    )

    good = (
        "the quick brown fox jumps over that lazy dog with great "
        "energy and style of movement be have done well here today "
    ) * 3
    rows = [
        (1, good, "en"),
        (2, ("# " * 40) + good, "en"),   # symbol ratio > 0.1
        (3, "way too short to pass the gopher floor", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    root = str(tmp_path / "lake")
    try:
        run_corpus_pipeline(
            spark, docs, root,
            CorpusRecipe(min_tokens=2, gopher=True),
            force=True,
        )
        gated_ids = {
            r.doc_id
            for r in spark.read.parquet(f"{root}/gated").collect()
        }
        assert gated_ids == {1}
        # off by default: all three survive the heuristic gates
        shutil.rmtree(root, ignore_errors=True)
        run_corpus_pipeline(
            spark, docs, root, CorpusRecipe(min_tokens=2), force=True
        )
        assert (
            spark.read.parquet(f"{root}/gated").count() == 3
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_recipe_cap_split_and_shard_split(spark, sf0001, tmp_path):
    """r8 recipe additions end-to-end: the per-source cap bounds every
    source in the recipe layer, split_fractions adds a total `split`
    column, shard_split chunks ONLY the named split, and a resumed run
    reproduces the same counts byte-stably."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        CorpusRecipe,
        run_corpus_pipeline,
    )
    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    docs = load_table(spark, sf0001, "documents")
    root = str(tmp_path / "corpus_lake_split")
    recipe = CorpusRecipe(
        cap_max_per_group=2,
        cap_group_col="source",
        split_fractions={"train": 0.7, "val": 0.15, "test": 0.15},
        shard_split="train",
        n_shards=2,
    )
    counts = run_corpus_pipeline(spark, docs, root, recipe)
    rec = spark.read.parquet(f"{root}/recipe")
    per_src = rec.groupBy("source").count().collect()
    assert per_src and all(r["count"] <= 2 for r in per_src)
    splits = {r["split"] for r in rec.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}
    assert rec.filter(F.col("split").isNull()).count() == 0
    # only train docs were chunked/sharded
    n_train = rec.filter(F.col("split") == "train").count()
    chunk_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{root}/chunks")
        .select("doc_id").distinct().collect()
    }
    train_ids = {
        r["doc_id"]
        for r in rec.filter(F.col("split") == "train").collect()
    }
    assert chunk_ids == train_ids and len(train_ids) == n_train
    assert 0 < n_train < counts["recipe"]  # val/test exist too
    # resume is byte-stable
    assert run_corpus_pipeline(spark, docs, root, recipe) == counts
    # a shard_split not among the declared splits is refused BEFORE
    # any stage runs (no layers written — at scale the alternative is
    # burning the full gate+dedup before the error)
    import os

    import pytest as _pytest

    bad_root = str(tmp_path / "bad_lake")
    bad = CorpusRecipe(
        split_fractions={"train": 0.5, "test": 0.5}, shard_split="dev"
    )
    with _pytest.raises(ValueError, match="shard_split"):
        run_corpus_pipeline(spark, docs, bad_root, bad)
    with _pytest.raises(ValueError, match="shard_split"):
        run_corpus_pipeline(
            spark, docs, bad_root, CorpusRecipe(shard_split="train")
        )
    assert not os.path.exists(bad_root)


def test_near_dup_ingest_blocks_perturbed_recrawls(spark, tmp_path):
    """near_dup=True closes the exact-guard gap: a trivially-perturbed
    copy of admitted content is blocked in a LATER batch (history band
    probe) and within ONE batch (batch-internal clustering), while
    genuinely new content still lands; counters account for both."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    root = str(tmp_path / "lake_nd")
    r1 = incremental_ingest(
        spark, _near_docs(spark, [(1, _BASE)]), root, near_dup=True
    )
    assert r1["admitted"] == 1 and r1["near_dup_blocked"] == 0
    # batch 2: a one-word perturbation (near-dup of history), plus an
    # unrelated doc, plus TWO near-identical new docs (within-batch)
    other = (
        "completely different material about parquet row groups and "
        "columnar page encodings with dictionary and run length "
        "compression schemes layered over snappy block transforms"
    )
    r2 = incremental_ingest(
        spark,
        _near_docs(
            spark,
            [
                (10, _BASE.replace("lazy", "sleepy")),
                (11, other),
                (12, other.replace("snappy", "zstd")),
            ],
        ),
        root,
        near_dup=True,
    )
    # 10 blocked against history; 11/12 cluster within the batch and
    # admit one keeper
    assert r2["admitted"] == 1
    assert r2["near_dup_blocked"] == 2
    assert r2["total_docs"] == 2
    # replay of batch 2 admits nothing and heals nothing
    r2b = incremental_ingest(
        spark,
        _near_docs(spark, [(10, _BASE.replace("lazy", "sleepy")),
                           (11, other),
                           (12, other.replace("snappy", "zstd"))]),
        root,
        near_dup=True,
    )
    assert r2b["admitted"] == 0 and r2b["healed_bands"] == 0


def test_near_dup_ingest_recipe_is_lake_identity(spark, tmp_path):
    """The LSH recipe is stamped into the mode marker: an unguarded
    call on a guarded lake (or a different banding) is refused loudly
    — silently mixing would leave blind spots in the band layer."""
    import pytest as _pytest

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    root = str(tmp_path / "lake_nd_mode")
    incremental_ingest(
        spark, _near_docs(spark, [(1, _BASE)]), root, near_dup=True
    )
    with _pytest.raises(ValueError, match="mode"):
        incremental_ingest(
            spark, _near_docs(spark, [(2, _BASE)]), root, near_dup=False
        )
    with _pytest.raises(ValueError, match="mode"):
        incremental_ingest(
            spark, _near_docs(spark, [(2, _BASE)]), root,
            near_dup=True, lsh_bands=2,
        )


def test_bands_heal_covers_within_batch_keeper_losers(spark, tmp_path):
    """r17 (ADVICE medium): a prior id whose bands append crashed can
    re-arrive with UNCHANGED content in a later, NON-identical batch
    and lose within-batch near-dup keeper selection to a smaller-id
    near-dup arriving alongside it — keeper choice depends on batch
    composition, not content. The heal base must therefore include
    pre-keeper-drop ids: deriving it from the post-drop batch alone
    leaves the doc invisible to the near-dup guard forever (its bands
    are never backfilled), which is exactly what this scenario pinned
    before the fix (healed_bands was 0)."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    root = str(tmp_path / "lake_nd_loser_heal")
    incremental_ingest(
        spark, _near_docs(spark, [(5, _BASE)]), root, near_dup=True
    )
    # crash window: docs + fingerprints landed, bands append did not
    shutil.rmtree(f"{root}/band_buckets")
    # replay batch: the prior doc (id 5, unchanged) arrives WITH a
    # near-dup under a smaller id — within-batch clustering keeps
    # id 1 and drops id 5 before the id guard ever sees it. The
    # guard is blind (bands lost), so the near-dup IS admitted —
    # the documented blindness cost the heal exists to end.
    r = incremental_ingest(
        spark,
        _near_docs(
            spark, [(1, _BASE.replace("fox", "wolf")), (5, _BASE)]
        ),
        root,
        near_dup=True,
    )
    assert r["admitted"] == 1  # the wolf near-dup, via the blind window
    assert r["near_dup_blocked"] == 1  # id 5 lost keeper selection
    assert r["healed_bands"] == 1  # id 5 bands backfilled anyway
    # sight restored: a third perturbation is blocked by the healed
    # layer (id 5 bands) without needing the id-1 bands to match
    r2 = incremental_ingest(
        spark,
        _near_docs(spark, [(9, _BASE.replace("fox", "cat"))]),
        root,
        near_dup=True,
    )
    assert r2["admitted"] == 0 and r2["near_dup_blocked"] == 1


def _media_docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, payload binary"
    )


def _media_payloads():
    import random

    rng = random.Random(5)
    p = bytes(rng.randrange(256) for _ in range(600))
    q = bytes(rng.randrange(256) for _ in range(600))
    r = bytes(rng.randrange(256) for _ in range(600))
    flip = lambda b: b[:300] + b"~" + b[301:]
    return p, q, r, flip


def test_media_guard_blocks_perceptual_recrawls(spark, tmp_path):
    """media_guard=True closes the media gap the text guards can't
    see: a re-encoded copy of an admitted image (1-byte payload edit,
    different caption) is blocked in a LATER batch (sidecar probe)
    and within ONE batch (perceptual clustering); genuinely new media
    still lands; replay is idempotent."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    p, q, r, flip = _media_payloads()
    root = str(tmp_path / "lake_media")
    r1 = incremental_ingest(
        spark,
        _media_docs(spark, [(1, "caption alpha", p)]),
        root,
        media_guard=True,
    )
    assert r1["admitted"] == 1 and r1["media_skipped"] == 0
    b2 = [
        (10, "caption beta entirely different", flip(p)),  # re-encode of 1
        (11, "caption gamma", q),  # genuinely new
        (12, "caption delta", r),  # within-batch perceptual pair ...
        (13, "caption epsilon", flip(r)),  # ... admits one keeper
    ]
    r2 = incremental_ingest(
        spark, _media_docs(spark, b2), root, media_guard=True
    )
    assert r2["admitted"] == 2
    assert r2["media_skipped"] == 2
    assert r2["total_docs"] == 3
    r2b = incremental_ingest(
        spark, _media_docs(spark, b2), root, media_guard=True
    )
    assert r2b["admitted"] == 0 and r2b["healed_media"] == 0
    # the sidecar is constant-width: id + 4 bands + hex, one row per
    # admitted image
    side = spark.read.parquet(f"{root}/media_bands")
    assert side.count() == 3
    assert {"doc_id", "band0", "band1", "band2", "band3"} <= set(
        side.columns
    )


def test_media_guard_is_lake_identity_and_handles_null_payloads(
    spark, tmp_path
):
    """The perceptual kernel is stamped into the mode marker (an
    unguarded call on a media-guarded lake is refused loudly), and a
    NULL payload is admitted but leaves no sidecar row (no perceptual
    evidence either way)."""
    import pytest as _pytest

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    p, q, r, flip = _media_payloads()
    root = str(tmp_path / "lake_media_mode")
    res = incremental_ingest(
        spark,
        _media_docs(spark, [(1, "caption alpha", p), (2, "no image", None)]),
        root,
        media_guard=True,
    )
    assert res["admitted"] == 2
    assert spark.read.parquet(f"{root}/media_bands").count() == 1
    with _pytest.raises(ValueError, match="mode"):
        incremental_ingest(
            spark, _media_docs(spark, [(3, "caption", q)]), root
        )
    with _pytest.raises(ValueError, match="payload"):
        incremental_ingest(
            spark,
            spark.createDataFrame(
                [(3, "caption")], "doc_id long, text string"
            ),
            root,
            media_guard=True,
        )


def test_media_guard_heals_missing_sidecar_on_replay(spark, tmp_path):
    """Crash window: docs landed, media-hash append did not. The
    replay backfills the sidecar (healed_media) so the perceptual
    guard regains sight — and a re-encoded copy arriving after the
    heal is blocked again."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    p, q, r, flip = _media_payloads()
    root = str(tmp_path / "lake_media_heal")
    incremental_ingest(
        spark,
        _media_docs(spark, [(1, "caption alpha", p)]),
        root,
        media_guard=True,
    )
    shutil.rmtree(f"{root}/media_bands")
    rep = incremental_ingest(
        spark,
        _media_docs(spark, [(1, "caption alpha", p)]),
        root,
        media_guard=True,
    )
    assert rep["admitted"] == 0
    assert rep["healed_media"] == 1
    r2 = incremental_ingest(
        spark,
        _media_docs(spark, [(9, "caption omega new", flip(p))]),
        root,
        media_guard=True,
    )
    assert r2["admitted"] == 0 and r2["media_skipped"] == 1


def test_all_three_admission_guards_compose(spark, tmp_path):
    """bloom_guard + near_dup + media_guard on ONE lake: each guard
    blocks its own duplicate class in the same batch, counters
    account independently, genuinely new docs land, and replay admits
    nothing — the guards' flag-joins and sidecars don't interfere."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    p, q, r, flip = _media_payloads()
    kw = dict(near_dup=True, bloom_guard=True, media_guard=True)
    root = str(tmp_path / "lake_all_guards")
    b1 = spark.createDataFrame(
        [(1, _BASE, p)], "doc_id long, text string, payload binary"
    )
    r1 = incremental_ingest(spark, b1, root, **kw)
    assert r1["admitted"] == 1
    other = (
        "completely different material about parquet row groups and "
        "columnar page encodings with dictionary and run length "
        "compression schemes layered over snappy block transforms"
    )
    b2 = spark.createDataFrame(
        [
            # text near-dup of history, novel payload
            (10, _BASE.replace("lazy", "sleepy"), q),
            # novel text, perceptual re-encode of history's image
            (11, other, flip(p)),
            # novel on every axis
            (12, other + " plus a genuinely novel tail section", r),
            # exact content duplicate of 12 (exact guard, same batch)
            (13, other + " plus a genuinely novel tail section", None),
        ],
        "doc_id long, text string, payload binary",
    )
    r2 = incremental_ingest(spark, b2, root, **kw)
    assert r2["admitted"] == 1  # only doc 12
    assert r2["near_dup_blocked"] == 1  # doc 10
    assert r2["media_skipped"] == 1  # doc 11
    docs = {
        row["doc_id"]
        for row in spark.read.parquet(f"{root}/docs")
        .select("doc_id")
        .collect()
    }
    assert docs == {1, 12}
    r2b = incremental_ingest(spark, b2, root, **kw)
    assert r2b["admitted"] == 0
    assert r2b["healed_bands"] == 0 and r2b["healed_media"] == 0


def test_streaming_ingest_media_guard_blocks_reencodes(spark, tmp_path):
    """The streaming face forwards media_guard: a re-encoded copy
    arriving in a later micro-batch file is blocked by the sidecar
    probe, exactly like the batch path."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        streaming_ingest,
    )

    p, q, r, flip = _media_payloads()
    root = str(tmp_path / "lake_media_stream")
    src = tmp_path / "incoming"
    src.mkdir()
    _media_docs(spark, [(1, "caption alpha", p)]).write.mode(
        "overwrite"
    ).parquet(str(src / "b1"))
    schema = "doc_id long, text string, payload binary"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    qy = streaming_ingest(stream, root, media_guard=True)
    try:
        qy.processAllAvailable()
        _media_docs(
            spark,
            [(10, "caption beta other", flip(p)), (11, "caption gamma", q)],
        ).write.mode("overwrite").parquet(str(src / "b2"))
        qy.processAllAvailable()
    finally:
        qy.stop()
    docs = spark.read.parquet(f"{root}/docs")
    assert {row["doc_id"] for row in docs.select("doc_id").collect()} == {
        1,
        11,
    }


def test_streaming_ingest_near_dup_blocks_perturbed_files(spark, tmp_path):
    """near_dup=True under the real streaming engine: a later file
    carrying a perturbed copy of admitted content admits nothing — the
    band-bucket guard holds across micro-batches through foreachBatch."""
    import json

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        streaming_ingest,
    )

    arrivals = tmp_path / "nd_arrivals"
    arrivals.mkdir()
    root = str(tmp_path / "nd_stream_lake")

    def drop(name, rows):
        (arrivals / name).write_text(
            "\n".join(json.dumps(r) for r in rows)
        )

    drop("b1.json", [{"doc_id": 1, "text": _BASE}])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(str(arrivals))
    )
    q = streaming_ingest(
        stream, root, checkpoint=str(tmp_path / "nd_ckpt"), near_dup=True
    )
    try:
        q.processAllAvailable()
        drop("b2.json", [
            {"doc_id": 20, "text": _BASE.replace("fox", "wolf")},
        ])
        q.processAllAvailable()
        docs = spark.read.parquet(f"{root}/docs")
        assert {r.doc_id for r in docs.collect()} == {1}
        # the band layer carries only the admitted doc's buckets
        bands = spark.read.parquet(f"{root}/band_buckets")
        assert {r.id for r in bands.select("id").distinct().collect()} == {1}
    finally:
        q.stop()


def test_compact_layer_preserves_content_and_heals_crashes(spark, tmp_path):
    """Lake maintenance: compaction reduces the per-batch file litter
    without changing a single row, the guards still hold afterwards,
    and the two crash states of the swap protocol self-heal on the
    next call."""
    import os
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        compact_layer,
        incremental_ingest,
    )

    root = str(tmp_path / "compact_lake")
    for b in range(5):  # five appends → five file sets
        incremental_ingest(
            spark,
            _near_docs(spark, [(b * 10 + i, f"doc body {b} {i} unique")
                               for i in range(3)]),
            root,
        )
    docs_path = f"{root}/docs"
    before = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(docs_path).collect()
    }
    stats = compact_layer(spark, docs_path)
    assert stats["rows"] == 15 == len(before)
    assert stats["files_after"] < stats["files_before"]
    after = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(docs_path).collect()
    }
    assert after == before
    # the fingerprint guard still works on the compacted lake
    r = incremental_ingest(
        spark,
        _near_docs(spark, [(99, "doc body 0 0 unique")]),
        root,
    )
    assert r["admitted"] == 0
    # crash state A: live renamed away, __compact complete (_SUCCESS)
    fp_path = f"{root}/fingerprints"
    fp_before = {
        tuple(r) for r in spark.read.parquet(fp_path).collect()
    }
    shutil.copytree(fp_path, f"{fp_path}__compact")
    shutil.move(fp_path, f"{fp_path}__old")
    stats2 = compact_layer(spark, fp_path)
    assert {
        tuple(r) for r in spark.read.parquet(fp_path).collect()
    } == fp_before
    assert stats2["rows"] == len(fp_before)
    # crash state B: __compact incomplete (no _SUCCESS), live gone —
    # refuse loudly instead of swapping in a torn write
    import pytest as _pytest

    shutil.copytree(docs_path, f"{docs_path}__compact")
    os.remove(f"{docs_path}__compact/_SUCCESS")
    shutil.move(docs_path, f"{docs_path}__old")
    with _pytest.raises(ValueError, match="crashed mid-write"):
        compact_layer(spark, docs_path)
    # manual restore path the error message points at
    shutil.move(f"{docs_path}__old", docs_path)
    shutil.rmtree(f"{docs_path}__compact")
    assert compact_layer(spark, docs_path)["rows"] == 15


def test_near_dup_ingest_composes_with_catalog_mode(spark, tmp_path):
    """near_dup=True and catalog_prefix= compose: exact guards run
    against the bucketed catalog sidecars, the band layer stays a
    path sidecar (its probe never shuffles, bucketing buys nothing),
    and the mode marker records BOTH choices."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    root = str(tmp_path / "lake_nd_cat")
    px = "ndcat_t1"
    try:
        r1 = incremental_ingest(
            spark, _near_docs(spark, [(1, _BASE)]), root,
            catalog_prefix=px, near_dup=True,
        )
        assert r1["admitted"] == 1
        r2 = incremental_ingest(
            spark,
            _near_docs(spark, [(2, _BASE.replace("dog", "cat")),
                               (3, "something else entirely new here "
                                   "about columnar storage layouts")]),
            root,
            catalog_prefix=px,
            near_dup=True,
        )
        assert r2["admitted"] == 1 and r2["near_dup_blocked"] == 1
        mode = spark.read.parquet(f"{root}/_lake_mode").head()["mode"]
        assert mode.startswith("catalog:") and "+lsh:" in mode
    finally:
        for t in (f"{px}_fingerprints", f"{px}_ids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_layer_refuses_ordered_shard_layers(spark, tmp_path):
    """Compacting a write_training_shards layer would scramble the
    within-shard order its manifest certifies — refused loudly."""
    import pytest as _pytest

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        compact_layer,
    )
    from projet_big_data_boutin_danre_spark.operators import corpus_prep

    docs = spark.range(100).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    )
    path = str(tmp_path / "ordered_shards")
    corpus_prep.write_training_shards(
        docs, "doc_id", path, n_shards=2, manifest=True
    )
    with _pytest.raises(ValueError, match="ORDERED shard layer"):
        compact_layer(spark, path)


def test_line_census_accumulates_across_batches_and_survives_replay(
    spark, tmp_path
):
    """The census sidecar: a banner appearing ONCE PER BATCH is
    invisible to any single batch's own census but crosses min_df
    lake-wide; a replayed batch is digest-skipped so document
    frequency never double-counts; the aggregated census feeds
    drop_common_lines(common=...) directly."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        read_line_census,
        update_line_census,
    )
    from projet_big_data_boutin_danre_spark.operators import dedup

    path = str(tmp_path / "line_census")
    banner = "FOLLOW US ON SOCIAL MEDIA FOR MORE"
    b1 = spark.createDataFrame(
        [(1, f"{banner}\nunique one-off alpha prose content")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(2, f"{banner}\ndifferent beta content entirely here")],
        "doc_id long, text string",
    )
    c1 = update_line_census(spark, path, b1)
    assert c1["new_batch"] == 1 and c1["batch_lines"] == 2
    # within batch 1 alone the banner has df=1 -> below min_df
    assert read_line_census(spark, path, min_df=2).count() == 0
    c2 = update_line_census(spark, path, b2)
    assert c2["new_batch"] == 1
    census = read_line_census(spark, path, min_df=2)
    assert census.count() == 1  # the banner crossed batches
    # replay of batch 2: digest-skipped, census unchanged
    c2r = update_line_census(spark, path, b2)
    assert c2r["new_batch"] == 0 and c2r["batch_digest"] == c2["batch_digest"]
    assert read_line_census(spark, path, min_df=2).count() == 1
    # the census plugs into the removal pass: batch 2 loses its
    # banner even though batch-locally it was unique
    out = {
        r["doc_id"]: r["kept_text"]
        for r in dedup.drop_common_lines(
            b2, "doc_id", "text", min_df=2, common=census
        ).collect()
    }
    assert out[2] == "different beta content entirely here"


def test_c4_dedup_stage_keeps_one_span_occurrence(spark, tmp_path):
    """c4_sentence_window=3: the deduped layer carries text with
    duplicated three-sentence spans cut everywhere but the
    globally-first doc — near-dup doc removal can't catch a shared
    quote inside otherwise-distinct docs; this stage does."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        CorpusRecipe,
        run_corpus_pipeline,
    )

    quote = (
        "To be or not to be. That is the question here! "
        "Whether tis nobler in the mind? "
    )
    rows = [
        (1, quote + "Doc one then diverges into spark tuning talk "
            "about partitions and shuffles and broadcast joins.", "en"),
        (2, quote + "Doc two instead discusses storage formats "
            "like parquet orc and avro with compression notes.", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    root = str(tmp_path / "lake")
    try:
        run_corpus_pipeline(
            spark, docs, root,
            CorpusRecipe(min_tokens=2, c4_sentence_window=3),
            force=True,
        )
        deduped = {
            r.doc_id: r.text
            for r in spark.read.parquet(f"{root}/deduped").collect()
        }
        assert set(deduped) == {1, 2}
        assert deduped[1].startswith("To be or not to be.")
        assert "not to be" not in deduped[2]
        assert "parquet orc and avro" in deduped[2]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ingest_maintains_line_census_idempotently(spark, tmp_path):
    """line_census=True: each admitted batch feeds the lake's census
    sidecar; replays (blocked by the guards) add nothing; a
    cross-batch banner becomes cuttable via read_line_census even
    though each batch alone never saw it twice."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
        read_line_census,
    )
    from projet_big_data_boutin_danre_spark.operators import dedup

    root = str(tmp_path / "census_lake")
    banner = "COPYRIGHT FOOTER APPEARS EVERYWHERE"
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(
        [(1, f"{banner}\nfirst document body text")], schema
    )
    b2 = spark.createDataFrame(
        [(2, f"{banner}\nsecond document other body")], schema
    )
    r1 = incremental_ingest(spark, b1, root, line_census=True)
    assert r1["admitted"] == 1 and r1["census_lines"] == 2
    r2 = incremental_ingest(spark, b2, root, line_census=True)
    assert r2["census_lines"] == 2
    # replay: guards admit nothing, census untouched
    r2b = incremental_ingest(spark, b2, root, line_census=True)
    assert r2b["admitted"] == 0 and r2b["census_lines"] == 0
    census = read_line_census(spark, f"{root}/line_census", min_df=2)
    assert census.count() == 1
    # the accumulated census cuts the banner from the lake's docs
    docs = spark.read.parquet(f"{root}/docs")
    out = {
        r["doc_id"]: r["kept_text"]
        for r in dedup.drop_common_lines(
            docs, "doc_id", "text", min_df=2, common=census
        ).collect()
    }
    assert out == {
        1: "first document body text",
        2: "second document other body",
    }


def test_compacting_the_line_census_preserves_reads(spark, tmp_path):
    """The census sidecar grows one file set per batch — compact_layer
    is its small-files antidote, and a compacted census must answer
    read_line_census identically (the layer is unordered, so
    compaction is legal, unlike the shards layer)."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        compact_layer,
        read_line_census,
        update_line_census,
    )

    path = str(tmp_path / "census")
    banner = "REPEATED BOILERPLATE LINE ACROSS BATCHES"
    for i in range(4):
        b = spark.createDataFrame(
            [(i, f"{banner}\nunique body number {i} here")],
            "doc_id long, text string",
        )
        update_line_census(spark, path, b)
    before = {
        (r["line_key"], r["line_df"])
        for r in read_line_census(spark, path, min_df=2).collect()
    }
    assert before and max(df for _, df in before) == 4
    stats = compact_layer(spark, path, target_file_mb=128)
    assert stats["files_after"] <= stats["files_before"]
    after = {
        (r["line_key"], r["line_df"])
        for r in read_line_census(spark, path, min_df=2).collect()
    }
    assert after == before
    # replay guard still works against the compacted layer
    b0 = spark.createDataFrame(
        [(0, f"{banner}\nunique body number 0 here")],
        "doc_id long, text string",
    )
    assert update_line_census(spark, path, b0)["new_batch"] == 0


def test_ngram_repetition_gate_drops_gram_spam(spark, tmp_path):
    """max_top_ngram_frac / max_dup_ngram_frac generalize the bigram
    caps to the paper's n=3/4 thresholds: a trigram-looping doc dies
    at the gate, varied prose survives, and gram-less short docs pass
    (0 coverage, 0 dup mass)."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        CorpusRecipe,
        run_corpus_pipeline,
    )

    # long enough that one quadgram's inherent coverage (4/n_tokens)
    # sits under the 0.16 cap — the paper's thresholds assume real
    # doc lengths
    varied = " ".join(f"word{i}" for i in range(60))
    spam = "buy now cheap " * 20  # one trigram covers everything
    rows = [(1, varied, "en"), (2, spam, "en"), (3, "tiny doc", "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    root = str(tmp_path / "lake")
    try:
        run_corpus_pipeline(
            spark, docs, root,
            CorpusRecipe(
                min_tokens=2,
                max_top_ngram_frac={3: 0.18, 4: 0.16},
                max_dup_ngram_frac={3: 0.5},
            ),
            force=True,
        )
        gated = {
            r.doc_id
            for r in spark.read.parquet(f"{root}/gated").collect()
        }
        assert gated == {1, 3}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_decontamination_stage_drops_benchmark_leaks(spark, tmp_path):
    """decontaminate_probes: a training doc quoting a benchmark
    prompt's 8-gram dies at the gate; clean docs survive — the
    GPT-3-style eval-leak guard wired into the standard build."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        CorpusRecipe,
        run_corpus_pipeline,
    )

    prompt = (
        "what is the capital city of france answer with one word only"
    )
    rows = [
        (1, f"some article that quotes: {prompt} verbatim inside", "en"),
        (2, "a perfectly ordinary training document about spark "
            "partitions and shuffles and broadcast joins", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    probes = spark.createDataFrame(
        [(100, prompt)], "doc_id long, text string"
    )
    root = str(tmp_path / "lake")
    try:
        run_corpus_pipeline(
            spark, docs, root, CorpusRecipe(min_tokens=2),
            force=True, decontaminate_probes=probes,
        )
        gated = {
            r.doc_id
            for r in spark.read.parquet(f"{root}/gated").collect()
        }
        assert gated == {2}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ingest_decontamination_rejects_at_admission(spark, tmp_path):
    """decontaminate_probes on ingest: a doc quoting a benchmark
    8-gram never enters the lake OR its sidecars (no fingerprint), so
    if the probe set later shrinks the same content can still be
    admitted — the content guard owns identity, the gate owns leaks."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    root = str(tmp_path / "lake")
    prompt = "name the seven wonders of the ancient world in order"
    b = spark.createDataFrame(
        [(1, f"article quoting {prompt} for context"),
         (2, "a clean training document about joins")],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame([(9, prompt)], "doc_id long, text string")
    r = incremental_ingest(
        spark, b, root, decontaminate_probes=probes
    )
    assert r["admitted"] == 1 and r["contaminated_skipped"] == 1
    assert {
        x.doc_id for x in spark.read.parquet(f"{root}/docs").collect()
    } == {2}
    # no fingerprint landed for the rejected doc: with the probe gone,
    # the same content is admissible
    r2 = incremental_ingest(spark, b, root)
    assert r2["admitted"] == 1
    assert spark.read.parquet(f"{root}/docs").count() == 2


def test_ingest_gopher_gate_rejects_at_admission(spark, tmp_path):
    """r10: the Gopher Table A1 verdict at ingest admission — a
    stop-word-free spam doc is rejected before any sidecar sees it
    (no fingerprint), prose is admitted, and loosening the gate later
    admits the previously-rejected content (identity stays with the
    content guard). Streaming face: the same knobs thread through
    streaming_ingest's foreachBatch to the identical gate."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )
    from tests.test_gopher_prose_gate import GOPHER_STOPS, _VOCAB

    import random as _random

    rng = _random.Random(3)
    prose_words = []
    for i in range(60):
        w = rng.choice(_VOCAB)
        prose_words.append(rng.choice(GOPHER_STOPS) if i % 6 == 0 else w)
    prose = " ".join(prose_words)
    spam = " ".join(rng.choice(_VOCAB) for _ in range(60))  # 0 stops
    root = str(tmp_path / "lake_gopher")
    b = spark.createDataFrame(
        [(1, prose), (2, spam)], "doc_id long, text string"
    )
    r = incremental_ingest(spark, b, root, gopher_gate=True)
    assert r["admitted"] == 1 and r["quality_rejected"] == 1
    assert {
        x.doc_id for x in spark.read.parquet(f"{root}/docs").collect()
    } == {1}
    # no fingerprint landed for the rejected doc: gate off -> in
    r2 = incremental_ingest(spark, b, root)
    assert r2["admitted"] == 1
    assert spark.read.parquet(f"{root}/docs").count() == 2


def test_ingest_ngram_caps_reject_at_admission(spark, tmp_path):
    """r10: the n-gram repetition caps at ingest admission — a doc
    whose hottest trigram covers most of its tokens is rejected; a
    varied doc passes; the count surfaces as quality_rejected."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    import random as _random

    from tests.test_gopher_prose_gate import _VOCAB

    root = str(tmp_path / "lake_caps")
    spammy = "buy cheap stuff " * 30  # one trigram covers ~everything
    rng = _random.Random(11)
    varied = " ".join(rng.choice(_VOCAB) for _ in range(90))
    b = spark.createDataFrame(
        [(1, spammy), (2, varied)], "doc_id long, text string"
    )
    r = incremental_ingest(
        spark, b, root, max_top_ngram_frac={3: 0.18}
    )
    assert r["admitted"] == 1 and r["quality_rejected"] == 1
    assert {
        x.doc_id for x in spark.read.parquet(f"{root}/docs").collect()
    } == {2}


def test_streaming_ingest_forwards_quality_gates(spark, tmp_path):
    """The streaming face carries the r10 quality gates: a micro-batch
    arriving through streaming_ingest is gated identically to the
    batch call (stop-word-free doc never lands)."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        streaming_ingest,
    )
    from tests.test_gopher_prose_gate import GOPHER_STOPS, _VOCAB

    import random as _random

    rng = _random.Random(5)
    prose = " ".join(
        rng.choice(GOPHER_STOPS) if i % 6 == 0 else rng.choice(_VOCAB)
        for i in range(60)
    )
    spam = " ".join(rng.choice(_VOCAB) for _ in range(60))
    src = str(tmp_path / "arrivals")
    root = str(tmp_path / "stream_lake_gopher")
    spark.createDataFrame(
        [(1, prose), (2, spam)], "doc_id long, text string"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).parquet(src)
    q = streaming_ingest(stream, root, gopher_gate=True)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert {
        x.doc_id for x in spark.read.parquet(f"{root}/docs").collect()
    } == {1}


def test_update_line_census_refuses_duplicate_ids(spark, tmp_path):
    """r10 ADVICE fix: duplicate ids cancel pairwise out of the XOR
    replay digest (two materially different batches could share a
    stamp), so the census enforces the documented uniqueness
    precondition loudly instead of trusting an unsound skip."""
    import pytest

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        update_line_census,
    )

    path = str(tmp_path / "census_dup")
    bad = spark.createDataFrame(
        [
            (1, "first version of the duplicated-id document"),
            (1, "second conflicting version with the same id"),
        ],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="duplicate doc_id"):
        update_line_census(spark, path, bad)
    # a clean batch is unaffected
    ok = spark.createDataFrame(
        [(1, "one clean line of content"), (2, "another clean line")],
        "doc_id long, text string",
    )
    assert update_line_census(spark, path, ok)["new_batch"] == 1


def test_bloom_defer_mode_and_maintain_lake(spark, tmp_path):
    """r13 verdict #5: with bloom_rebuild_mode="defer" no admitting
    batch ever pays the saturation rescan — the batch only reports
    bloom_rebuild_due while admission stays exactly correct (the
    saturated filter degrades to "maybe", never to wrong answers) —
    and an out-of-band maintain_lake() run rebuilds once, at a
    fill-sized geometry, after which the fastpath recovers."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _discover_bloom_geometry,
        bloom_rebuild,
        incremental_ingest,
        maintain_lake,
    )

    schema = "doc_id long, text string, lang string"
    root = str(tmp_path / "lake_defer")
    b1 = spark.createDataFrame(
        [(i, f"seed document number {i} alpha", "en") for i in range(8)],
        schema,
    )
    incremental_ingest(spark, b1, root, bloom_guard=True)
    # shrink to a toy geometry (16 bits) to force saturation
    bloom_rebuild(spark, root, hex_chars=1)
    results = []
    for wave in range(3):
        b = spark.createDataFrame(
            [(100 * (wave + 1) + i, f"wave {wave} doc {i} beta", "en")
             for i in range(4)],
            schema,
        )
        r = incremental_ingest(
            spark, b, root, bloom_guard=True, bloom_rebuild_mode="defer"
        )
        results.append(r)
        # every batch admits correctly and NONE pays a rebuild
        assert r["admitted"] == 4
        assert r["bloom_rebuilt_hex"] == 0
        assert r["bloom_rebuild_due"] >= 2  # saturation reported
    assert _discover_bloom_geometry(spark, root) == 1  # untouched
    # duplicates still rejected through the saturated filter (the
    # guard degrades to extra exact-join work, never wrong admission)
    r_dup = incremental_ingest(
        spark, b1, root, bloom_guard=True, bloom_rebuild_mode="defer"
    )
    assert r_dup["admitted"] == 0
    # r13 advisor: the saturation check runs on ZERO-admission batches
    # too — an all-duplicate stream on a saturated lake is exactly the
    # traffic the deferred rebuild relieves, so an operator scheduling
    # maintain_lake off this counter must see the owed rebuild here
    assert r_dup["bloom_rebuild_due"] >= 2
    assert r_dup["bloom_fill_pct"] > 50
    # out-of-band maintenance: ONE rebuild sized from the measured
    # fill (×16 bits per hex step is a big jump, so one step suffices
    # here; the point under test is steps==1 — one rescan, off the
    # admission path)
    m = maintain_lake(spark, root)
    assert m["bloom_steps"] == 1
    assert m["bloom_rebuilt_hex"] >= 2
    assert m["bloom_fill_pct"] <= 50
    assert _discover_bloom_geometry(spark, root) == m["bloom_rebuilt_hex"]
    # fastpath recovered: novel keys prove new without the exact join
    rn = incremental_ingest(
        spark,
        spark.createDataFrame(
            [(90001, "totally novel gamma text", "en"),
             (90002, "another novel delta text", "en")],
            schema,
        ),
        root,
        bloom_guard=True,
        bloom_rebuild_mode="defer",
    )
    assert rn["admitted"] == 2
    assert rn["bloom_fastpath"] >= 1
    assert rn["bloom_rebuild_due"] == 0
    # replay of the original batch still rejects everything across
    # the rebuild (no false negatives)
    r1b = incremental_ingest(spark, b1, root, bloom_guard=True)
    assert r1b["admitted"] == 0
    # a lake with no bloom layer is a no-op for maintenance
    root2 = str(tmp_path / "lake_nobloom")
    incremental_ingest(
        spark,
        spark.createDataFrame([(1, "x y z", "en")], schema),
        root2,
    )
    assert maintain_lake(spark, root2)["bloom_steps"] == 0
    import pytest

    with pytest.raises(ValueError, match="bloom_rebuild_mode"):
        incremental_ingest(
            spark, b1, root, bloom_guard=True, bloom_rebuild_mode="async"
        )


def test_maintain_lake_compaction_catalog_mode(spark, tmp_path):
    """r15: on a CATALOG-mode lake the compaction sweep rewrites the
    path layers (docs — plain parquet in both modes) and leaves the
    bucketed catalog sidecars untouched (a repartition would destroy
    the bucket layout the exchange-free guard joins depend on);
    guards hold across the sweep."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _data_file_count,
        incremental_ingest,
        maintain_lake,
    )

    root = str(tmp_path / "lake_cat_sweep")
    prefix = "t_r15_sweep"
    schema = "doc_id long, text string, lang string"
    try:
        for b in range(5):
            batch = spark.createDataFrame(
                [(b * 10 + i, f"cat sweep body {b} {i} unique", "en")
                 for i in range(3)],
                schema,
            )
            r = incremental_ingest(
                spark, batch, root, catalog_prefix=prefix
            )
            assert r["admitted"] == 3
        files0 = _data_file_count(spark, f"{root}/docs")
        assert files0 > 4
        before_docs = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{root}/docs").collect()
        )
        fp_before = spark.table(f"{prefix}_fingerprints").count()
        m = maintain_lake(spark, root, compact_above_files=4)
        # only the docs path layer swept; the bucketed sidecars are
        # not path layers under the root, so the sweep cannot see them
        assert m["compacted_layers"] == 1
        assert _data_file_count(spark, f"{root}/docs") < files0
        assert sorted(
            tuple(r)
            for r in spark.read.parquet(f"{root}/docs").collect()
        ) == before_docs
        assert spark.table(f"{prefix}_fingerprints").count() == fp_before
        # guards hold: replay admits nothing, novel admits
        rr = incremental_ingest(
            spark,
            spark.createDataFrame(
                [(0, "cat sweep body 0 0 unique", "en"),
                 (990, "a novel catalog doc", "en")],
                schema,
            ),
            root,
            catalog_prefix=prefix,
        )
        assert rr["admitted"] == 1 and rr["total_docs"] == 16
    finally:
        for t in (f"{prefix}_fingerprints", f"{prefix}_ids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_near_dup_verify_before_block(spark, tmp_path):
    """r15 verdict #2: the text admission gate drops on band
    collision alone by default — with ``near_dup_verify`` it rescores
    candidates with exact char-shingle Jaccard against the docs layer
    first, so a NON-duplicate that merely band-collides is ADMITTED
    (with verify off it is silently, permanently blocked) while a
    true near-duplicate is blocked either way. The collider is found
    deterministically by replaying the recipe's own banding over
    candidate texts."""
    import re as _re

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )
    from projet_big_data_boutin_danre_spark.operators import dedup

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliett kilo lima mike november oscar papa quebec romeo "
        "sierra tango uniform victor whiskey xray yankee zulu one "
        "two three four five six seven eight nine ten eleven twelve"
    )

    def _norm(s):
        return _re.sub(" +", " ", _re.sub("[^a-z0-9]+", " ", s.lower())).strip()

    def _sh(s, k=8):
        t = _norm(s)
        return {t[i:i + k] for i in range(max(len(t) - k + 1, 1))}

    def _jac(a, b):
        sa, sb = _sh(a), _sh(b)
        return len(sa & sb) / len(sa | sb)

    # candidate NON-duplicates: a prefix slice of the base plus mostly
    # fresh material -> low true jaccard, but ~25% band-collision
    # odds each under the 8x4 'fast' recipe, so 60 candidates
    # deterministically contain colliders
    cands = [
        (100 + j,
         base[: len(base) // 3]
         + " " + " ".join(f"fresh{j}w{i}v{(j * 13 + i) % 83}"
                          for i in range(16)))
        for j in range(60)
    ]
    cdf = spark.createDataFrame(cands, "doc_id long, text string")
    hist = spark.createDataFrame([(1, base)], "doc_id long, text string")
    hb = dedup.lsh_bands(
        dedup.minhash_signatures(hist, "doc_id", "text",
                                 hash_family="fast"),
        hash_family="fast",
    ).select("band", "band_key")
    colliding = {
        r["id"]
        for r in dedup.lsh_bands(
            dedup.minhash_signatures(cdf, "doc_id", "text",
                                     hash_family="fast"),
            hash_family="fast",
        ).join(hb, ["band", "band_key"]).select("id").distinct().collect()
    }
    by_id = dict(cands)
    false_pos = [
        i for i in sorted(colliding) if _jac(base, by_id[i]) < 0.35
    ]
    assert false_pos, (
        "no low-jaccard band collider among 60 candidates — "
        "recipe/corpus changed, re-tune the candidate generator"
    )
    doc = false_pos[0]
    assert _jac(base, by_id[doc]) < 0.35
    probe = spark.createDataFrame(
        [(doc, by_id[doc])], "doc_id long, text string"
    )
    kw = dict(near_dup=True)
    # verify OFF: the band collision alone blocks the non-duplicate
    lake0 = str(tmp_path / "lake_noverify")
    incremental_ingest(spark, hist, lake0, **kw)
    r0 = incremental_ingest(spark, probe, lake0, **kw)
    assert r0["admitted"] == 0
    # nothing can be rescued with the verify knob off
    assert r0["near_dup_blocked"] == 1 and r0["near_dup_rescued"] == 0
    # verify ON: the same doc is rescored against the real text and
    # ADMITTED; a true near-duplicate is still blocked
    lake1 = str(tmp_path / "lake_verify")
    kwv = dict(kw, near_dup_verify=0.5)
    incremental_ingest(spark, hist, lake1, **kwv)
    r1 = incremental_ingest(spark, probe, lake1, **kwv)
    assert r1["admitted"] == 1
    # r16 verdict #2: the admitted collider is counted as RESCUED —
    # a band-collision candidate that verification cleared
    assert r1["near_dup_blocked"] == 0 and r1["near_dup_rescued"] == 1
    true_dup = spark.createDataFrame(
        [(500, base + " thirteen")], "doc_id long, text string"
    )
    assert _jac(base, base + " thirteen") >= 0.5
    r2 = incremental_ingest(spark, true_dup, lake1, **kwv)
    assert r2["admitted"] == 0
    # a verified true block is blocked, not rescued
    assert r2["near_dup_blocked"] == 1 and r2["near_dup_rescued"] == 0
    # replay stays idempotent through the verify path
    r1b = incremental_ingest(spark, probe, lake1, **kwv)
    assert r1b["admitted"] == 0
    # the replay's collider is caught by the EXACT guard upstream, so
    # the near-dup stage neither blocks nor rescues anything
    assert r1b["near_dup_blocked"] == 0 and r1b["near_dup_rescued"] == 0
    # WITHIN-BATCH arm (r15): the same collider pair arriving in ONE
    # batch — verify off merges their components and drops one;
    # verify on admits both (and still dedups a true near-dup pair)
    wb = spark.createDataFrame(
        [(600, base), (601, by_id[doc]),
         (700, base + " fourteen")],
        "doc_id long, text string",
    )
    r_off = incremental_ingest(
        spark, wb, str(tmp_path / "lake_wb_off"), **kw
    )
    assert r_off["near_dup_blocked"] >= 2  # collider AND true dup drop
    assert r_off["near_dup_rescued"] == 0
    r_on = incremental_ingest(
        spark, wb, str(tmp_path / "lake_wb_on"), **kwv
    )
    assert r_on["admitted"] == 2  # base + collider; true dup dropped
    # within-batch split (r16, verdict #2): the true dup is the one
    # verified block; the collider — a raw-graph non-keeper that the
    # verified graph keeps — is the one rescue
    assert r_on["near_dup_blocked"] == 1
    assert r_on["near_dup_rescued"] == 1


def test_maintain_lake_compaction_sweep(spark, tmp_path):
    """r15 verdict #1: maintain_lake(compact_above_files=N) sweeps
    EVERY per-batch append layer of a lake — docs and all guard
    sidecars — back to few files, with content (and therefore every
    guard decision and the running total) identical across the sweep;
    a layer left live-less by a compaction crash is swept regardless
    of the threshold; layers at or under the threshold are untouched."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _data_file_count,
        incremental_ingest,
        maintain_lake,
    )

    schema = "doc_id long, text string, url string"
    root = str(tmp_path / "lake_sweep")
    kw = dict(near_dup=True, url_guard=True, line_census=True,
              bloom_guard=True)
    def _text(n):
        # per-doc DISTINCT word material (texts that share most of
        # their 8-char shingles would near-dup-block each other)
        return " ".join(f"w{n}x{j}y{(n * 7 + j) % 97}" for j in range(12))

    for b in range(5):  # five appends -> five file sets per layer
        batch = spark.createDataFrame(
            [
                (b * 10 + i, _text(b * 10 + i),
                 f"https://site{b}{i}.ex1.com/p/{b}/{i}")
                for i in range(3)
            ],
            schema,
        )
        assert incremental_ingest(spark, batch, root, **kw)["admitted"] == 3
    layers = ("docs", "fingerprints", "band_buckets", "url_keys",
              "line_census")
    files0 = {l: _data_file_count(spark, f"{root}/{l}") for l in layers}
    assert all(n > 4 for n in files0.values()), files0
    before = {
        l: sorted(
            tuple(r) for r in spark.read.parquet(f"{root}/{l}").collect()
        )
        for l in layers
    }
    m = maintain_lake(spark, root, compact_above_files=4)
    assert m["compacted_layers"] == len(layers)
    assert m["files_after"] < m["files_before"]
    for l in layers:
        assert _data_file_count(spark, f"{root}/{l}") < files0[l], l
        got = sorted(
            tuple(r) for r in spark.read.parquet(f"{root}/{l}").collect()
        )
        assert got == before[l], l
    # guards intact across the sweep: an exact replay admits nothing,
    # a url re-crawl and a near-dup perturbation are blocked, a novel
    # doc admits, and the running total never drifted
    replay = spark.createDataFrame(
        [(0, _text(0), "https://site00.ex1.com/p/0/0")],
        schema,
    )
    r = incremental_ingest(spark, replay, root, **kw)
    assert r["admitted"] == 0
    r2 = incremental_ingest(
        spark,
        spark.createDataFrame(
            [(901, "recrawl DIFFERENT content entirely",
              "https://site00.ex1.com/p/0/0"),
             # alphanumeric perturbation: "!!"-style punctuation
             # would normalize away and hit the EXACT guard instead
             (902, _text(0) + " zz9",
              "https://novel902.ex2.com/q"),
             (903, "a genuinely novel body of words after compaction",
              "https://novel903.ex2.com/r")],
            schema,
        ),
        root,
        **kw,
    )
    assert r2["url_skipped"] == 1 and r2["near_dup_blocked"] >= 1
    assert r2["admitted"] == 1 and r2["total_docs"] == 16
    # idempotent: a second sweep finds nothing over the threshold
    m2 = maintain_lake(spark, root, compact_above_files=64)
    assert m2["compacted_layers"] == 0
    # crash state: live layer renamed away mid-swap with a complete
    # __compact (_SUCCESS present) — swept (and repaired) even though
    # the missing layer counts 0 files, i.e. under any threshold
    ukeys = f"{root}/url_keys"
    ukeys_rows = sorted(
        tuple(r) for r in spark.read.parquet(ukeys).collect()
    )
    shutil.move(ukeys, f"{ukeys}__compact")
    # plus a crash-after-step-4 leftover on another (healthy,
    # under-threshold) layer: the sweep deletes it without compacting
    shutil.copytree(f"{root}/docs", f"{root}/docs__old")
    m3 = maintain_lake(spark, root, compact_above_files=1000)
    assert m3["compacted_layers"] == 1
    assert sorted(
        tuple(r) for r in spark.read.parquet(ukeys).collect()
    ) == ukeys_rows
    import os as _os

    assert not _os.path.exists(f"{root}/docs__old")


def test_discover_bloom_geometry_fails_loud(spark, tmp_path):
    """r12 advisor (medium): a listing failure during geometry
    discovery must RAISE, not silently fall back to the default
    geometry — a silent fallback after a rebuild has grown the layer
    would split the filter lineage across geometries and admit
    duplicates through maybe_seen=false false negatives. Only a
    genuinely absent lake root returns None."""
    import pytest

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _discover_bloom_geometry,
    )

    assert _discover_bloom_geometry(spark, str(tmp_path / "nope")) is None
    with pytest.raises(Exception):
        _discover_bloom_geometry(spark, "bogus-scheme://not/a/lake")


def test_media_guard_routes_video_and_audio(spark, tmp_path):
    """r13 verdict #2: with a kind column, media_guard blocks
    re-encoded duplicate VIDEOS (frame-set Jaccard vs the
    media_vframes sidecar) and trimmed duplicate AUDIO (offset voting
    vs media_awins) — not just images — while genuinely new media of
    every kind still lands; replay is idempotent; within-batch
    near-dup videos/audio admit one keeper."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    vid, aud, img, fresh = _av_payloads()
    root = str(tmp_path / "lake_av")
    r1 = incremental_ingest(
        spark,
        _av_docs(spark, [
            (1, "video alpha", vid, "video", 5000),
            (2, "audio alpha", aud, "audio", None),
            (3, "image alpha", img, "image", None),
        ]),
        root,
        media_guard=True,
    )
    assert r1["admitted"] == 3 and r1["media_skipped"] == 0
    # re-encodes: one byte flipped in one video frame slice (4/5
    # frames still shared -> Jaccard 2/3); audio trimmed by two hops
    # (15 windows still vote at one offset); image 1-byte flip
    reenc_vid = vid[:100] + b"~" + vid[101:]
    trim_aud = aud[64:]
    flip_img = img[:300] + b"~" + img[301:]
    b2 = [
        (10, "video beta different caption", reenc_vid, "video", 5000),
        (11, "audio beta", trim_aud, "audio", None),
        (12, "image beta", flip_img, "image", None),
        (13, "video gamma new", fresh(1000), "video", 5000),
        (14, "audio gamma new", fresh(600), "audio", None),
        (15, "image gamma new", fresh(600), "image", None),
    ]
    r2 = incremental_ingest(
        spark, _av_docs(spark, b2), root, media_guard=True
    )
    assert r2["admitted"] == 3
    assert r2["media_skipped"] == 3
    assert r2["total_docs"] == 6
    # replay: nothing re-admits, nothing to heal
    r2b = incremental_ingest(
        spark, _av_docs(spark, b2), root, media_guard=True
    )
    assert r2b["admitted"] == 0
    assert r2b["healed_media"] == 0
    assert r2b["healed_video"] == 0 and r2b["healed_audio"] == 0
    # sidecar shapes: frames carry the stamped per-video count (the
    # probe never aggregates history), windows carry their index
    vside = spark.read.parquet(f"{root}/media_vframes")
    assert {"doc_id", "hash64", "n_frames"} <= set(vside.columns)
    assert {r["doc_id"] for r in vside.select("doc_id").collect()} == {1, 13}
    aside = spark.read.parquet(f"{root}/media_awins")
    assert {"doc_id", "win_idx", "hash32"} <= set(aside.columns)
    assert {r["doc_id"] for r in aside.select("doc_id").collect()} == {2, 14}
    # within-batch: a video pair and an audio pair arriving together
    # each admit one keeper (union CC across modalities)
    v2 = fresh(1000)
    a2 = fresh(600)
    b3 = [
        (20, "video delta", v2, "video", 5000),
        (21, "video delta re-encode", v2[:500] + b"~" + v2[501:],
         "video", 5000),
        (22, "audio delta", a2, "audio", None),
        (23, "audio delta trim", a2[32:], "audio", None),
    ]
    r3 = incremental_ingest(
        spark, _av_docs(spark, b3), root, media_guard=True
    )
    assert r3["admitted"] == 2 and r3["media_skipped"] == 2


def test_media_guard_routing_is_lake_identity(spark, tmp_path):
    """The routing decision (and the video frame cadence) is part of
    the lake's mode marker: a kind-less media_guard call on a routed
    lake — or a routed call on a legacy lake — is refused loudly,
    because each face reads only its own sidecars."""
    import pytest as _pytest

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    vid, aud, img, fresh = _av_payloads()
    routed = str(tmp_path / "lake_routed")
    incremental_ingest(
        spark,
        _av_docs(spark, [(1, "video alpha", vid, "video", 5000)]),
        routed,
        media_guard=True,
    )
    with _pytest.raises(ValueError, match="mode"):
        incremental_ingest(
            spark,
            _media_docs(spark, [(2, "caption", img)]),
            routed,
            media_guard=True,
        )
    # a different video cadence is a different key recipe -> refused
    with _pytest.raises(ValueError, match="mode"):
        incremental_ingest(
            spark,
            _av_docs(spark, [(3, "video beta", fresh(1000), "video", 5000)]),
            routed,
            media_guard=True,
            media_video_every_ms=500,
        )
    legacy = str(tmp_path / "lake_legacy")
    incremental_ingest(
        spark,
        _media_docs(spark, [(1, "caption alpha", img)]),
        legacy,
        media_guard=True,
    )
    with _pytest.raises(ValueError, match="mode"):
        incremental_ingest(
            spark,
            _av_docs(spark, [(2, "video alpha", vid, "video", 5000)]),
            legacy,
            media_guard=True,
        )


def test_media_guard_duration_presence_is_lake_identity(spark, tmp_path):
    """r13 advisor: the video frame plan depends on duration_ms — a
    batch WITHOUT the column hashes every video into ONE whole-stream
    frame, so the same video lands in a different frame set than a
    duration-carrying batch produces, and frame-set Jaccard against
    the sidecar silently collapses (duplicates re-admit). Duration
    PRESENCE is therefore stamped into the routed mode string and a
    flip is refused loudly, mirroring the cadence check. Per-ROW NULL
    durations still run the degraded one-frame plan, surfaced by the
    video_no_duration counter (r13 verdict note)."""
    import pytest as _pytest

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    vid, aud, img, fresh = _av_payloads()
    root = str(tmp_path / "lake_dur")
    r1 = incremental_ingest(
        spark,
        _av_docs(spark, [
            (1, "video alpha", vid, "video", 5000),
            (2, "video beta nodur", fresh(1000), "video", None),
            (3, "audio alpha", aud, "audio", None),
        ]),
        root,
        media_guard=True,
    )
    assert r1["admitted"] == 3
    # one routed video row ran the degraded whole-stream-frame plan
    assert r1["video_no_duration"] == 1
    # a batch that DROPS the duration column is a different frame-key
    # recipe -> refused loudly, like a cadence change
    nodur = spark.createDataFrame(
        [(10, "video gamma", fresh(1000), "video")],
        "doc_id long, text string, payload binary, kind string",
    )
    with _pytest.raises(ValueError, match="mode"):
        incremental_ingest(spark, nodur, root, media_guard=True)
    # a lake CREATED without the column stamps :nodur and keeps
    # accepting that face; its whole video stream runs degraded and
    # the counter says so
    root2 = str(tmp_path / "lake_nodur")
    r2 = incremental_ingest(
        spark,
        spark.createDataFrame(
            [(1, "video alpha", vid, "video")],
            "doc_id long, text string, payload binary, kind string",
        ),
        root2,
        media_guard=True,
    )
    assert r2["admitted"] == 1 and r2["video_no_duration"] == 1
    with _pytest.raises(ValueError, match="mode"):
        incremental_ingest(
            spark,
            _av_docs(spark, [(5, "video dur", fresh(1000), "video", 5000)]),
            root2,
            media_guard=True,
        )


def test_url_guard_admission(spark, tmp_path):
    """r14: the RefinedWeb-order URL gate at admission — a re-crawl
    of an already-admitted page (same canonical url, DIFFERENT
    content, so only the URL guard can catch it) is blocked;
    within-batch messy variants of one page admit one keeper; NULL
    urls carry no evidence; replay is idempotent and the url_keys
    sidecar heals by id-absence; the guard is lake identity."""
    import shutil

    import pytest as _pytest

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    schema = "doc_id long, text string, url string"
    root = str(tmp_path / "lake_url")
    b1 = spark.createDataFrame(
        [
            # two messy variants of ONE page (distinct content): the
            # canonicalizer merges them -> min-id keeper admits
            (10, "page one crawl alpha",
             "https://www.site1.ex1.com/p?id=1&utm_source=a"),
            (11, "page one crawl beta",
             "HTTPS://SITE1.EX1.COM:443/p/?id=1"),
            (12, "page two crawl alpha", "https://site2.ex1.com/q"),
            (13, "no url evidence", None),
        ],
        schema,
    )
    r1 = incremental_ingest(spark, b1, root, url_guard=True)
    assert r1["admitted"] == 3 and r1["url_skipped"] == 1
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{root}/docs").select("doc_id").collect()
    }
    assert kept == {10, 12, 13}
    ukeys = spark.read.parquet(f"{root}/url_keys")
    assert {r["doc_id"] for r in ukeys.collect()} == {10, 12}  # no NULL row
    # re-crawl: same canonical url, new id, NEW CONTENT — only the
    # URL guard can block it; a genuinely new url admits
    b2 = spark.createDataFrame(
        [
            (20, "page one recrawl DIFFERENT text",
             "https://site1.ex1.com/p?id=1&gclid=zz"),
            (21, "page three", "https://site3.ex2.com/r"),
        ],
        schema,
    )
    r2 = incremental_ingest(spark, b2, root, url_guard=True)
    assert r2["admitted"] == 1 and r2["url_skipped"] == 1
    # replay: nothing admits, nothing to heal
    r2b = incremental_ingest(spark, b2, root, url_guard=True)
    assert r2b["admitted"] == 0 and r2b["healed_urls"] == 0
    # crash window: docs landed, url keys lost -> replay backfills
    shutil.rmtree(f"{root}/url_keys")
    rh = incremental_ingest(spark, b1, root, url_guard=True)
    assert rh["admitted"] == 0 and rh["healed_urls"] >= 2
    r3 = incremental_ingest(
        spark,
        spark.createDataFrame(
            [(30, "page one recrawl again",
              "https://www.site1.ex1.com/p?id=1")],
            schema,
        ),
        root,
        url_guard=True,
    )
    assert r3["admitted"] == 0 and r3["url_skipped"] == 1
    # lake identity: unguarded call on a guarded lake refused (and
    # vice versa)
    with _pytest.raises(ValueError, match="mode"):
        incremental_ingest(spark, b1, root)
    root2 = str(tmp_path / "lake_nourl")
    incremental_ingest(spark, b1, root2)
    with _pytest.raises(ValueError, match="mode"):
        incremental_ingest(spark, b1, root2, url_guard=True)
    # knob hygiene
    with _pytest.raises(ValueError, match="url_guard"):
        incremental_ingest(
            spark,
            spark.createDataFrame([(1, "x")], "doc_id long, text string"),
            str(tmp_path / "lake_nocol"),
            url_guard=True,
        )


def test_url_blocklist_gate(spark, tmp_path):
    """r14: the C4-style domain blocklist at admission follows the
    quality-gate precedent — blocked docs leave NO fingerprint, so
    removing the domain from the blocklist later admits the same
    content; NULL urls pass (no domain evidence); the knob is per
    call, not lake identity."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    schema = "doc_id long, text string, url string"
    root = str(tmp_path / "lake_block")
    b1 = spark.createDataFrame(
        [
            (1, "spam farm page", "https://www.spam1.bad.com/x"),
            (2, "good page", "https://site1.ex1.com/p"),
            (3, "null url page", None),
        ],
        schema,
    )
    r1 = incremental_ingest(
        spark, b1, root, url_blocklist=("bad.com",)
    )
    assert r1["admitted"] == 2 and r1["domain_blocked"] == 1
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{root}/docs").select("doc_id").collect()
    }
    assert kept == {2, 3}
    # blocked content left no fingerprint: with the blocklist lifted,
    # the SAME content admits (the content guard owns identity)
    r2 = incremental_ingest(
        spark,
        spark.createDataFrame(
            [(9, "spam farm page", "https://www.spam1.bad.com/x")],
            schema,
        ),
        root,
    )
    assert r2["admitted"] == 1


def test_url_blocklist_cctld_extra_suffixes(spark, tmp_path):
    """r15 advisor: without ``url_extra_suffixes`` a ccTLD site is
    unblockable (the two-label extract yields ``co.uk``, which the
    blocklist entry ``bbc.co.uk`` never matches); with the suffix
    listed, exactly that site is blocked and its ccTLD neighbours
    still admit."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    schema = "doc_id long, text string, url string"
    rows = [
        (1, "bbc article", "https://news.bbc.co.uk/politics"),
        (2, "other uk site", "https://www.guardian.co.uk/news"),
        (3, "generic site", "https://site1.ex1.com/p"),
    ]
    b = spark.createDataFrame(rows, schema)
    # two-label default: 'bbc.co.uk' never matches -> nothing blocked
    r0 = incremental_ingest(
        spark, b, str(tmp_path / "lake_cc0"),
        url_blocklist=("bbc.co.uk",),
    )
    assert r0["admitted"] == 3 and r0["domain_blocked"] == 0
    # with the suffix: only the named site is blocked
    r1 = incremental_ingest(
        spark, b, str(tmp_path / "lake_cc1"),
        url_blocklist=("bbc.co.uk",),
        url_extra_suffixes=("co.uk",),
    )
    assert r1["admitted"] == 2 and r1["domain_blocked"] == 1
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(
            str(tmp_path / "lake_cc1") + "/docs"
        ).select("doc_id").collect()
    }
    assert kept == {2, 3}


def test_legacy_media_marker_auto_upgrade(spark, tmp_path):
    """r15 advisor: a routed lake stamped by pre-r14 code (no
    ':dur'/':nodur' token in the marker) is auto-upgraded in place on
    the next ingest instead of refusing forever with the generic
    mode-mismatch error; a genuine duration-presence FLIP after the
    upgrade is still refused loudly."""
    import pytest as _pytest

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    vid, aud, img, fresh = _av_payloads()
    root = str(tmp_path / "lake_legacy_dur")
    b1 = _av_docs(
        spark,
        [
            (1, "video one", vid, "video", 3000),
            (2, "image one", img, "image", None),
        ],
    )
    r1 = incremental_ingest(spark, b1, root, media_guard=True)
    assert r1["admitted"] == 2
    marker_path = f"{root}/_lake_mode"
    stamped = spark.read.parquet(marker_path).head()["mode"]
    assert ":dur" in stamped
    # simulate the pre-r14 marker: same recipe, no duration token
    legacy = stamped.replace(":dur", "", 1)
    spark.createDataFrame([(legacy,)], "mode string").coalesce(
        1
    ).write.mode("overwrite").parquet(marker_path)
    # next ingest auto-upgrades and proceeds (new doc admits, the
    # replayed video stays out via the vframes guard)
    b2 = _av_docs(
        spark,
        [
            (1, "video one", vid, "video", 3000),
            (3, "video two", fresh(1000), "video", 2500),
        ],
    )
    r2 = incremental_ingest(spark, b2, root, media_guard=True)
    assert r2["admitted"] == 1
    assert spark.read.parquet(marker_path).head()["mode"] == stamped
    # a duration-presence flip is NOT a legacy marker: refused
    b3 = spark.createDataFrame(
        [(4, "video three", fresh(1000), "video")],
        "doc_id long, text string, payload binary, kind string",
    )
    with _pytest.raises(ValueError, match="mode"):
        incremental_ingest(spark, b3, root, media_guard=True)


def test_streaming_face_defer_and_maintain_lake(spark, tmp_path):
    """r13 stretch / r14: exercise maintain_lake FROM THE STREAMING
    FACE — a saturated lake streams micro-batches in defer mode
    without any of them paying the rebuild (geometry untouched
    in-stream), out-of-band maintenance rebuilds between stream runs,
    and a resumed stream on the same lake keeps admission exact
    (novel keys land, replayed duplicates stay out)."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _discover_bloom_geometry,
        bloom_rebuild,
        incremental_ingest,
        maintain_lake,
        streaming_ingest,
    )

    schema = "doc_id long, text string, lang string"
    root = str(tmp_path / "lake_stream_defer")
    src = tmp_path / "defer_incoming"
    src.mkdir()
    seed = spark.createDataFrame(
        [(i, f"stream seed doc {i} alpha", "en") for i in range(8)],
        schema,
    )
    incremental_ingest(spark, seed, root, bloom_guard=True)
    bloom_rebuild(spark, root, hex_chars=1)  # toy geometry -> saturated

    def wave(path, lo, n, tag):
        spark.createDataFrame(
            [(lo + i, f"wave {tag} doc {lo + i} beta", "en")
             for i in range(n)],
            schema,
        ).write.mode("overwrite").parquet(str(src / path))

    wave("w1", 100, 4, "one")
    wave("w2", 200, 4, "two")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    qy = streaming_ingest(
        stream, root, bloom_guard=True, bloom_rebuild_mode="defer"
    )
    try:
        qy.processAllAvailable()
    finally:
        qy.stop()
    # no micro-batch grew the filter (the defer contract held
    # in-stream) and every wave admitted exactly
    assert _discover_bloom_geometry(spark, root) == 1
    assert spark.read.parquet(f"{root}/docs").count() == 16
    # out-of-band maintenance between stream runs: one fill-sized
    # rebuild restores the fastpath
    m = maintain_lake(spark, root)
    assert m["bloom_steps"] == 1 and m["bloom_rebuilt_hex"] >= 2
    assert _discover_bloom_geometry(spark, root) == m["bloom_rebuilt_hex"]
    # resume streaming on the SAME lake: a duplicate replay wave (the
    # seed docs under the same ids) admits nothing, a novel wave lands
    seed.write.mode("overwrite").parquet(str(src / "w3_dup"))
    wave("w4", 300, 3, "four")
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    qy2 = streaming_ingest(
        stream2,
        root,
        bloom_guard=True,
        bloom_rebuild_mode="defer",
        checkpoint=f"{root}/_checkpoints/ingest",
    )
    try:
        qy2.processAllAvailable()
    finally:
        qy2.stop()
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{root}/docs").select("doc_id").collect()
    }
    assert kept == set(range(8)) | {100 + i for i in range(4)} | {
        200 + i for i in range(4)
    } | {300 + i for i in range(3)}


def test_url_bloom_fastpath(spark, tmp_path):
    """r15: the url guard's Bloom front — novel urls prove
    "definitely new" map-side and skip the url_keys sidecar scan
    (the one guard whose per-batch cost grew with lake size);
    duplicates still block exactly through the confirmed join; the
    filter is a rebuildable cache (deleting it changes nothing);
    saturation defers to maintain_lake, which maintains the url
    lineage alongside the fingerprint one."""
    import glob
    import shutil

    import pytest as _pytest

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _discover_bloom_geometry,
        bloom_rebuild,
        incremental_ingest,
        maintain_lake,
    )

    schema = "doc_id long, text string, url string"
    root = str(tmp_path / "lake_ubloom")
    kw = dict(url_guard=True, url_bloom=True)
    with _pytest.raises(ValueError, match="url_bloom"):
        incremental_ingest(
            spark,
            spark.createDataFrame([(1, "x", "https://a.ex1.com/")], schema),
            root,
            url_bloom=True,
        )
    b1 = spark.createDataFrame(
        [(1, "first page body", "https://site1.ex1.com/p"),
         (2, "second page body", "https://site2.ex1.com/q")],
        schema,
    )
    r1 = incremental_ingest(spark, b1, root, **kw)
    assert r1["admitted"] == 2
    assert "url_bloom_fastpath" in r1  # counters present from batch 1
    # filter landed (merge-before-docs): geometry discoverable
    assert _discover_bloom_geometry(spark, root, layer="url_bloom") is not None
    # novel urls ride the fastpath; a re-crawl of an admitted url is
    # confirmed against the sidecar and blocked
    b2 = spark.createDataFrame(
        [(10, "recrawl body totally new", "https://site1.ex1.com/p"),
         (11, "third page body", "https://site3.ex2.com/r"),
         (12, "fourth page body", "https://site4.ex2.com/s")],
        schema,
    )
    r2 = incremental_ingest(spark, b2, root, **kw)
    assert r2["admitted"] == 2 and r2["url_skipped"] == 1
    assert r2["url_bloom_fastpath"] == 2  # the two novel urls
    # cache contract: delete the filter layer — admission is
    # unchanged (rebuilt from url_keys on the next probe)
    for d in glob.glob(f"{root}/url_bloom_k*"):
        shutil.rmtree(d)
    b3 = spark.createDataFrame(
        [(20, "recrawl again different body", "https://site3.ex2.com/r"),
         (21, "fifth page body", "https://site5.ex3.com/t")],
        schema,
    )
    r3 = incremental_ingest(spark, b3, root, **kw)
    assert r3["admitted"] == 1 and r3["url_skipped"] == 1
    assert r3["url_bloom_fastpath"] == 1
    # replay: idempotent through the bloom front
    r3b = incremental_ingest(spark, b3, root, **kw)
    assert r3b["admitted"] == 0
    # saturation at a toy geometry: defer mode reports the owed
    # rebuild without paying it in-batch; maintain_lake pays it for
    # BOTH filter lineages and the fastpath recovers
    bloom_rebuild(spark, root, hex_chars=1, layer="url_bloom")
    b4 = spark.createDataFrame(
        [(30, "sixth page body", "https://site6.ex3.com/u")],
        schema,
    )
    r4 = incremental_ingest(
        spark, b4, root, bloom_rebuild_mode="defer", **kw
    )
    assert r4["admitted"] == 1
    assert r4["url_bloom_rebuild_due"] >= 2
    assert _discover_bloom_geometry(spark, root, layer="url_bloom") == 1
    m = maintain_lake(spark, root)
    assert m["url_bloom_steps"] == 1
    assert m["url_bloom_rebuilt_hex"] >= 2
    assert m["url_bloom_fill_pct"] <= 50
    r5 = incremental_ingest(
        spark,
        spark.createDataFrame(
            [(40, "seventh page body", "https://site7.ex4.com/v")],
            schema,
        ),
        root,
        **kw,
    )
    assert r5["admitted"] == 1 and r5["url_bloom_fastpath"] == 1
    # every admitted url still blocks its re-crawl across the rebuild
    r6 = incremental_ingest(
        spark,
        spark.createDataFrame(
            [(50, "recrawl of six", "https://site6.ex3.com/u"),
             (51, "recrawl of seven", "https://site7.ex4.com/v")],
            schema,
        ),
        root,
        **kw,
    )
    assert r6["admitted"] == 0 and r6["url_skipped"] == 2


def test_bloom_filter_stays_fresh_across_knob_toggle(spark, tmp_path):
    """r15 freshness rule: a filter layer present in the lake is
    merged into by every admitting batch even when its guard knob is
    OFF — otherwise a knob-off window leaves the filter readable but
    stale, and on re-enable the stale filter PROVES the off-window
    keys new, letting re-sends of their content ride the fastpath
    past the exact join (false negatives = duplicate admission).
    Proven for BOTH lineages."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    # fingerprint lineage
    schema = "doc_id long, text string, lang string"
    root = str(tmp_path / "lake_fresh_fp")
    incremental_ingest(
        spark,
        spark.createDataFrame([(1, "alpha content", "en")], schema),
        root,
        bloom_guard=True,
    )
    # knob OFF: a new doc admits; its bits must still merge
    r_off = incremental_ingest(
        spark,
        spark.createDataFrame([(2, "beta content", "en")], schema),
        root,
    )
    assert r_off["admitted"] == 1
    # knob ON again: a re-send of the off-window CONTENT under a new
    # id must be blocked (stale filter would fastpath-admit it)
    r_on = incremental_ingest(
        spark,
        spark.createDataFrame([(3, "beta content", "en")], schema),
        root,
        bloom_guard=True,
    )
    assert r_on["admitted"] == 0
    # and the filter did not go stale: the duplicate was NOT proven
    # new by the fastpath (it rode the maybe → exact-join path)
    assert r_on["bloom_fastpath"] == 0

    # url lineage
    uschema = "doc_id long, text string, url string"
    uroot = str(tmp_path / "lake_fresh_url")
    ukw = dict(url_guard=True)
    incremental_ingest(
        spark,
        spark.createDataFrame(
            [(1, "page one", "https://s1.ex1.com/a")], uschema
        ),
        uroot,
        url_bloom=True,
        **ukw,
    )
    r_off = incremental_ingest(
        spark,
        spark.createDataFrame(
            [(2, "page two", "https://s2.ex1.com/b")], uschema
        ),
        uroot,
        **ukw,
    )
    assert r_off["admitted"] == 1
    r_on = incremental_ingest(
        spark,
        spark.createDataFrame(
            [(3, "recrawl of two NEW text", "https://s2.ex1.com/b")],
            uschema,
        ),
        uroot,
        url_bloom=True,
        **ukw,
    )
    assert r_on["admitted"] == 0 and r_on["url_skipped"] == 1
    assert r_on["url_bloom_fastpath"] == 0


def test_streaming_face_compaction_battery(spark, tmp_path):
    """r15 stretch: the streaming twin of the maintain_lake
    compaction battery — per-trigger micro-batches fragment every
    lake layer into one file set each; an out-of-band
    maintain_lake(compact_above_files=...) run between stream runs
    compacts them all; a RESUMED stream on the same checkpoint then
    still admits exactly (duplicate replays blocked across the
    compaction, novel docs land) and the running total never
    drifts."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _data_file_count,
        _read_lake_stats,
        incremental_ingest,
        maintain_lake,
        streaming_ingest,
    )

    schema = "doc_id long, text string, url string"
    root = str(tmp_path / "lake_stream_compact")
    src = tmp_path / "compact_incoming"
    src.mkdir()
    kw = dict(near_dup=True, url_guard=True)

    def _text(n):
        return " ".join(f"s{n}q{j}r{(n * 11 + j) % 89}" for j in range(12))

    def wave(path, lo, n):
        spark.createDataFrame(
            [(lo + i, _text(lo + i),
              f"https://s{lo + i}.ex1.com/p/{lo + i}")
             for i in range(n)],
            schema,
        ).coalesce(1).write.mode("overwrite").parquet(str(src / path))

    for w in range(6):
        wave(f"w{w}", w * 10, 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    qy = streaming_ingest(stream, root, **kw)
    try:
        qy.processAllAvailable()
    finally:
        qy.stop()
    assert spark.read.parquet(f"{root}/docs").count() == 12
    layers = ("docs", "fingerprints", "band_buckets", "url_keys")
    files0 = {l: _data_file_count(spark, f"{root}/{l}") for l in layers}
    assert all(n >= 6 for n in files0.values()), files0
    m = maintain_lake(spark, root, compact_above_files=4)
    assert m["compacted_layers"] == len(layers)
    for l in layers:
        assert _data_file_count(spark, f"{root}/{l}") < files0[l], l
    # resume on the SAME checkpoint across the compaction: a replayed
    # wave (same ids+content), a re-crawled url, a near-dup body, and
    # a novel doc — admission must behave as if nothing happened
    wave("w0_replay", 0, 2)
    spark.createDataFrame(
        [
            (900, "recrawl body entirely different", f"https://s0.ex1.com/p/0"),
            (901, _text(10) + " zz9", "https://n901.ex2.com/a"),
            (902, "a clean novel streaming document body", "https://n902.ex2.com/b"),
        ],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "w_probe"))
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    qy2 = streaming_ingest(
        stream2, root, checkpoint=f"{root}/_checkpoints/ingest", **kw
    )
    try:
        qy2.processAllAvailable()
    finally:
        qy2.stop()
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{root}/docs").select("doc_id").collect()
    }
    assert kept == {w * 10 + i for w in range(6) for i in range(2)} | {902}
    # the running total tracked the physical layer across compaction
    total, _, _, _ = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert total == 13


def test_keeper_stability_under_incremental_cluster_growth(spark, tmp_path):
    """r14 verdict #1 (carried from r12): the keeper contract under
    cluster growth, on both faces.

    INGEST face — keepers are APPEND-ONLY STABLE by construction:
    admission blocks (never admits) any doc that would join or bridge
    an existing cluster, so the admitted set — and therefore every
    keeper — never changes once written, even when a LOWER id
    near-copy arrives later (offline min-id re-clustering would have
    flipped to it).

    OFFLINE face — recomputing dedup clusters after corpus growth
    follows the DETERMINISTIC RE-KEEPER RULE keeper = cluster-min id:
    untouched clusters and clusters grown by higher ids keep their
    keeper; a merge (bridge doc) or a lower-id arrival flips the
    keeper to the new minimum — deterministically, never randomly.
    The two faces differ BY DESIGN; SCALE.md §keeper documents which
    to use when downstream stability matters."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )
    from projet_big_data_boutin_danre_spark.operators import dedup

    schema = "doc_id long, text string, lang string"
    text_a = (
        "the quick brown fox jumps over the lazy dog while the "
        "rain in spain stays mainly in the plain again and again"
    )
    text_b = (
        "colorless green ideas sleep furiously beneath a silver "
        "moon that hums a completely different tune every night"
    )
    root = str(tmp_path / "lake_keeper")
    r1 = incremental_ingest(
        spark,
        spark.createDataFrame([(10, text_a, "en")], schema),
        root,
        near_dup=True,
    )
    r2 = incremental_ingest(
        spark,
        spark.createDataFrame([(20, text_b, "en")], schema),
        root,
        near_dup=True,
    )
    assert r1["admitted"] == 1 and r2["admitted"] == 1
    # a LOWER-id near-copy of A arrives later: blocked, so the
    # admitted keeper stays 10 — offline re-clustering of {5, 10}
    # would have re-keepered to 5, the ingest face never does
    r3 = incremental_ingest(
        spark,
        spark.createDataFrame(
            [(5, text_a.replace("fox", "cat"), "en")], schema
        ),
        root,
        near_dup=True,
    )
    assert r3["admitted"] == 0 and r3["near_dup_blocked"] == 1
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{root}/docs").select("doc_id").collect()
    }
    assert kept == {10, 20}
    # the bridge argument, a fortiori: a doc that would MERGE two
    # admitted clusters must band-collide with members of BOTH — but
    # admission blocks on the FIRST collision, so the admitted set can
    # never gain a cluster-merging element (here: one doc near A, one
    # near B, both blocked; a doc near both is blocked even sooner)
    r4 = incremental_ingest(
        spark,
        spark.createDataFrame(
            [(2, text_a.replace("dog", "pig"), "en"),
             (3, text_b.replace("moon", "star"), "en")],
            schema,
        ),
        root,
        near_dup=True,
    )
    assert r4["admitted"] == 0 and r4["near_dup_blocked"] == 2
    assert {
        r["doc_id"]
        for r in spark.read.parquet(f"{root}/docs").select("doc_id").collect()
    } == {10, 20}

    # ---- offline face: deterministic re-keeper on recompute ----
    edges = "a long, b long"
    v1 = spark.createDataFrame([(10, 11), (20, 21), (30, 31)], edges)
    m1 = {
        r["node"]: r["component"]
        for r in dedup.connected_components(v1, "a", "b").collect()
    }
    assert m1 == {10: 10, 11: 10, 20: 20, 21: 20, 30: 30, 31: 30}
    # growth by a HIGHER id: keeper unchanged
    v2 = v1.union(spark.createDataFrame([(21, 22)], edges))
    m2 = {
        r["node"]: r["component"]
        for r in dedup.connected_components(v2, "a", "b").collect()
    }
    assert m2[22] == 20 and m2[20] == 20 and m2[10] == 10
    # a BRIDGE merges two clusters: every member re-keepers to the
    # merged minimum (20 -> 10 flips); untouched cluster 30 stays
    v3 = v2.union(spark.createDataFrame([(11, 20)], edges))
    m3 = {
        r["node"]: r["component"]
        for r in dedup.connected_components(v3, "a", "b").collect()
    }
    assert m3[20] == 10 and m3[21] == 10 and m3[22] == 10
    assert m3[10] == 10 and m3[30] == 30 and m3[31] == 30
    # a LOWER-id arrival flips its cluster's keeper to the new min
    v4 = v3.union(spark.createDataFrame([(5, 10)], edges))
    m4 = {
        r["node"]: r["component"]
        for r in dedup.connected_components(v4, "a", "b").collect()
    }
    assert m4[10] == 5 and m4[20] == 5 and m4[30] == 30


def test_leakage_safe_split_follows_merged_representative(spark):
    """r14 verdict #1, the split interaction: leakage_safe_split
    hashes the cluster REPRESENTATIVE, so (a) clusters whose
    representative is unchanged keep their split assignment across
    corpus growth, (b) a MERGED cluster lands entirely in the merged
    representative's split — the flipped side MOVES ACROSS THE SPLIT
    WITH ITS CLUSTER, because leakage-safety (near-dups never
    straddle) dominates assignment stability by design."""
    from projet_big_data_boutin_danre_spark.operators import corpus_prep

    ids = [(i,) for i in (10, 11, 20, 21, 30, 31, 40)]
    df = spark.createDataFrame(ids, "doc_id long")
    splits = {"train": 0.5, "eval": 0.5}
    mschema = "member long, rep long"
    m_v1 = spark.createDataFrame(
        [(10, 10), (11, 10), (20, 20), (21, 20), (30, 30), (31, 30)],
        mschema,
    )
    s1 = {
        r["doc_id"]: r["split"]
        for r in corpus_prep.leakage_safe_split(
            df, "doc_id", splits, seed=7, members=m_v1
        ).collect()
    }
    # clusters are atomic already in v1
    assert s1[10] == s1[11] and s1[20] == s1[21] and s1[30] == s1[31]
    # v2: clusters {10,11} and {20,21} merged (bridge found in a
    # later dedup recompute) — canonical map sends all four to 10
    m_v2 = spark.createDataFrame(
        [(10, 10), (11, 10), (20, 10), (21, 10), (30, 30), (31, 30)],
        mschema,
    )
    s2 = {
        r["doc_id"]: r["split"]
        for r in corpus_prep.leakage_safe_split(
            df, "doc_id", splits, seed=7, members=m_v2
        ).collect()
    }
    # merged cluster is atomic, in the surviving representative's
    # (unchanged) split
    assert len({s2[i] for i in (10, 11, 20, 21)}) == 1
    assert s2[10] == s1[10]
    # untouched cluster and singleton keep their assignment
    assert s2[30] == s1[30] and s2[31] == s1[31] and s2[40] == s1[40]
    # the documented churn: IF the two old clusters sat in different
    # splits, the absorbed side moved (leakage-safety over stability)
    if s1[20] != s1[10]:
        assert s2[20] != s1[20]


def test_lake_stats_running_total(spark, tmp_path):
    """r14 verdict #3: total_docs comes from the 1-row _lake_stats
    running-total marker, not a per-batch count of the corpus-sized
    docs layer. The increment is digest-idempotent (a replay of the
    crash window between the stats write and the docs append does
    not double-count), a missing/corrupt marker degrades to one
    authoritative recount, and recount_lake_docs re-syncs
    explicitly."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _lake_docs_digest,
        _read_lake_stats,
        _write_lake_stats,
        incremental_ingest,
        recount_lake_docs,
    )

    schema = "doc_id long, text string, lang string"
    root = str(tmp_path / "lake_stats")

    def docs(lo, n):
        return spark.createDataFrame(
            [(lo + i, f"stats doc {lo + i} body", "en") for i in range(n)],
            schema,
        )

    b1 = docs(0, 5)
    r1 = incremental_ingest(spark, b1, root)
    assert r1["total_docs"] == 5
    # replay adds nothing
    r1b = incremental_ingest(spark, b1, root)
    assert r1b["admitted"] == 0 and r1b["total_docs"] == 5
    r2 = incremental_ingest(spark, docs(100, 3), root)
    assert r2["total_docs"] == 8
    assert spark.read.parquet(f"{root}/docs").count() == 8
    # the marker, not the layer, is the source on the normal path:
    # plant a WRONG total and watch the next batch extend it — proof
    # the corpus was not re-counted
    _write_lake_stats(spark, f"{root}/_lake_stats", 1000, None, None)
    r3 = incremental_ingest(spark, docs(200, 2), root)
    assert r3["total_docs"] == 1002
    # explicit re-sync
    assert recount_lake_docs(spark, root) == 10
    r4 = incremental_ingest(spark, docs(300, 1), root)
    assert r4["total_docs"] == 11
    # crash window (stats written, docs append lost): simulate the
    # REPLAY of a batch whose first attempt wrote the stats increment
    # but crashed before the docs append — the digest match makes the
    # re-increment a no-op and the totals reconcile
    b5 = docs(400, 4)
    adm_digest = _lake_docs_digest(b5, "doc_id")
    _write_lake_stats(
        spark, f"{root}/_lake_stats", 11 + 4, adm_digest, 4
    )
    r5 = incremental_ingest(spark, b5, root)
    assert r5["admitted"] == 4
    assert r5["total_docs"] == 15  # not 19: replay increment skipped
    assert spark.read.parquet(f"{root}/docs").count() == 15
    # a later batch resumes normal accumulation
    r6 = incremental_ingest(spark, docs(500, 2), root)
    assert r6["total_docs"] == 17
    # torn marker overwrite -> one authoritative recount, persisted
    shutil.rmtree(f"{root}/_lake_stats")
    r7 = incremental_ingest(spark, docs(600, 1), root)
    assert r7["total_docs"] == 18
    st = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert st is not None and st[0] == 18


def test_media_max_bucket_prevents_silence_false_block(spark, tmp_path):
    """r13 advisor (medium) + r14 verdict #4: without a cap, two
    UNRELATED recordings sharing >= min_votes hops of silence (zero
    padding) at aligned offsets vote past the threshold and the new
    audio is falsely blocked at admission — permanently. With
    media_max_bucket the over-common hash is capped at sidecar-append
    time AND at the probe, the degenerate corpus stays bounded, and
    only TRUE duplicates are blocked."""
    import random

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    rng = random.Random(77)
    silence = bytes(256)
    tail_a = bytes(rng.randrange(1, 256) for _ in range(600))
    tail_b = bytes(rng.randrange(1, 256) for _ in range(600))
    rec_a = silence + tail_a
    rec_b = silence + tail_b  # unrelated content, same zero padding
    # uncapped lake: the false block happens (documents the hazard)
    root0 = str(tmp_path / "lake_nocap")
    incremental_ingest(
        spark,
        _av_docs(spark, [(1, "rec a", rec_a, "audio", None)]),
        root0,
        media_guard=True,
    )
    r0 = incremental_ingest(
        spark,
        _av_docs(spark, [(2, "rec b", rec_b, "audio", None)]),
        root0,
        media_guard=True,
    )
    assert r0["admitted"] == 0 and r0["media_skipped"] == 1
    # capped lake: B admits, A's true trimmed copy still blocks
    root = str(tmp_path / "lake_cap")
    incremental_ingest(
        spark,
        _av_docs(spark, [(1, "rec a", rec_a, "audio", None)]),
        root,
        media_guard=True,
        media_max_bucket=5,
    )
    # append-time cap: the silence hash (7 windows of hash 0 in one
    # batch) never entered the sidecar
    aside = spark.read.parquet(f"{root}/media_awins")
    assert aside.filter("hash32 = 0").count() == 0
    r1 = incremental_ingest(
        spark,
        _av_docs(spark, [(2, "rec b", rec_b, "audio", None)]),
        root,
        media_guard=True,
        media_max_bucket=5,
    )
    assert r1["admitted"] == 1 and r1["media_skipped"] == 0
    r2 = incremental_ingest(
        spark,
        _av_docs(spark, [(3, "rec a trimmed", rec_a[64:], "audio", None)]),
        root,
        media_guard=True,
        media_max_bucket=5,
    )
    assert r2["admitted"] == 0 and r2["media_skipped"] == 1
    # within-batch: two unrelated silence-padded recordings arriving
    # TOGETHER both admit under the cap (audio_match_pairs bucket
    # dropped), where uncapped they would collapse to one keeper
    tail_c = bytes(rng.randrange(1, 256) for _ in range(600))
    tail_d = bytes(rng.randrange(1, 256) for _ in range(600))
    both = [
        (10, "rec c", silence + tail_c, "audio", None),
        (11, "rec d", silence + tail_d, "audio", None),
    ]
    r3 = incremental_ingest(
        spark, _av_docs(spark, both), root,
        media_guard=True, media_max_bucket=5,
    )
    assert r3["admitted"] == 2 and r3["media_skipped"] == 0


def test_media_max_bucket_bounds_black_frame_sidecar(spark, tmp_path):
    """r14 verdict #4, video face: a frame hash shared by more than
    media_max_bucket videos in a batch (all-black frames) never
    enters media_vframes — the history bucket stays bounded on a
    degenerate corpus — while per-video n_frames keeps the FULL set
    size so similarity can only be lowered, and distinct-tail videos
    all admit."""
    import random

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    rng = random.Random(78)
    black = bytes(800)

    def vid(tail_seed):
        r = random.Random(tail_seed)
        return black + bytes(r.randrange(1, 256) for _ in range(200))

    batch = [
        (i, f"video {i}", vid(i), "video", 5000) for i in range(1, 4)
    ]
    root = str(tmp_path / "lake_black")
    r1 = incremental_ingest(
        spark, _av_docs(spark, batch), root,
        media_guard=True, media_max_bucket=2,
    )
    # pairwise J = 1/(2+2-1) = 1/3 < 0.5 -> not near-dups; all land
    assert r1["admitted"] == 3 and r1["media_skipped"] == 0
    vside = spark.read.parquet(f"{root}/media_vframes")
    # black-frame hash (shared by 3 > cap 2) capped out of the
    # sidecar: each video keeps exactly its ONE unique frame row,
    # stamped with the FULL distinct-set size (2)
    assert vside.count() == 3
    assert vside.filter("n_frames = 2").count() == 3
    rows = vside.groupBy("doc_id").count().collect()
    assert all(r["count"] == 1 for r in rows)
    # replay: heals append the same capped view (nothing to heal,
    # nothing smuggled past the cap)
    rb = incremental_ingest(
        spark, _av_docs(spark, batch), root,
        media_guard=True, media_max_bucket=2,
    )
    assert rb["admitted"] == 0 and rb["healed_video"] == 0
    assert spark.read.parquet(f"{root}/media_vframes").count() == 3


def test_streaming_ingest_routed_media_guard(spark, tmp_path):
    """The streaming face forwards the kind-routed media guard: a
    re-encoded video and a trimmed audio arriving in a later
    micro-batch file are blocked by their sidecar probes."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        streaming_ingest,
    )

    vid, aud, img, fresh = _av_payloads()
    root = str(tmp_path / "lake_av_stream")
    src = tmp_path / "av_incoming"
    src.mkdir()
    _av_docs(spark, [
        (1, "video alpha", vid, "video", 5000),
        (2, "audio alpha", aud, "audio", None),
    ]).write.mode("overwrite").parquet(str(src / "b1"))
    schema = (
        "doc_id long, text string, payload binary, kind string, "
        "duration_ms long"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    qy = streaming_ingest(stream, root, media_guard=True)
    try:
        qy.processAllAvailable()
        _av_docs(spark, [
            (10, "video beta", vid[:100] + b"~" + vid[101:], "video", 5000),
            (11, "audio beta", aud[64:], "audio", None),
            (12, "video gamma", fresh(1000), "video", 5000),
        ]).write.mode("overwrite").parquet(str(src / "b2"))
        qy.processAllAvailable()
    finally:
        qy.stop()
    docs = spark.read.parquet(f"{root}/docs")
    assert {row["doc_id"] for row in docs.select("doc_id").collect()} == {
        1, 2, 12,
    }


def test_compact_due_append_accounting(spark, tmp_path):
    """r16 verdict #1: the compaction sweep gets a trigger signal.
    Each admitting batch increments a per-layer
    files-appended-since-compaction accounting inside the SAME
    digest-guarded 1-row ``_lake_stats`` write as the running total
    (write-time task count — never a listing); ``compact_above_files``
    on the ingest faces surfaces ``compact_due`` like
    ``bloom_rebuild_due``; :func:`compact_layer` (hence
    ``maintain_lake``) resets the swept layer's entry; the increment
    is digest-idempotent across the crash-replay window."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _read_lake_stats,
        _write_lake_stats,
        incremental_ingest,
        maintain_lake,
    )

    root = str(tmp_path / "lake_cdue")
    schema = "doc_id long, text string"

    def docs(lo, n):
        return spark.createDataFrame(
            [(lo + i, f"compact-due doc {lo + i} body words " * 4)
             for i in range(n)],
            schema,
        )

    r1 = incremental_ingest(
        spark, docs(0, 4), root, compact_above_files=10 ** 6
    )
    assert r1["compact_due"] == 0  # nothing exceeds a huge threshold
    st1 = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert st1 is not None
    fa1 = st1[3]
    # both append layers of an unguarded lake are being accounted
    assert fa1.get("docs", 0) >= 1 and fa1.get("fingerprints", 0) >= 1
    # guard sidecars this lake does not carry are not invented
    assert "band_buckets" not in fa1 and "url_keys" not in fa1

    r2 = incremental_ingest(
        spark, docs(100, 4), root, compact_above_files=10 ** 6
    )
    st2 = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert st2[3]["docs"] > fa1["docs"]  # grows per admitting batch

    # fires over threshold: the next batch pushes docs strictly past
    # the CURRENT accumulated count, so thresholding at that count
    # must report at least the docs layer due
    r3 = incremental_ingest(
        spark, docs(200, 4), root,
        compact_above_files=st2[3]["docs"],
    )
    assert r3["compact_due"] >= 1

    # replay idempotence (all-blocked re-send): no admission, no
    # marker write, counters unchanged — and the signal still reports
    st3 = _read_lake_stats(spark, f"{root}/_lake_stats")
    r3b = incremental_ingest(
        spark, docs(200, 4), root,
        compact_above_files=st3[3]["docs"] - 1,
    )
    assert r3b["admitted"] == 0 and r3b["compact_due"] >= 1
    assert _read_lake_stats(spark, f"{root}/_lake_stats")[3] == st3[3]

    # digest idempotence (the crash window between the marker write
    # and the docs append): pre-write the marker exactly as the
    # crashed attempt would have — total, digest and files already
    # incremented — then replay the batch: the increment is SKIPPED
    # while the appends land once
    nxt = docs(300, 3)
    dig = int(
        nxt.agg(
            F.coalesce(
                F.bit_xor(F.xxhash64(F.col("doc_id"))), F.lit(0)
            ).alias("d")
        ).first()["d"]
    )
    pre_files = dict(st3[3])
    pre_files["docs"] = pre_files["docs"] + 7  # the crashed attempt's bump
    _write_lake_stats(
        spark, f"{root}/_lake_stats", st3[0] + 3, dig, 3, files=pre_files
    )
    r4 = incremental_ingest(
        spark, nxt, root, compact_above_files=10 ** 6
    )
    assert r4["admitted"] == 3
    st4 = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert st4[3] == pre_files  # replay did NOT double-increment
    assert st4[0] == st3[0] + 3

    # resets after maintain_lake: the sweep compacts both append
    # layers (4 batches of physical appends each) and zeroes exactly
    # their accounting entries
    m = maintain_lake(spark, root, compact_above_files=3)
    assert m["compacted_layers"] == 2
    st5 = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert st5[3]["docs"] == 0 and st5[3]["fingerprints"] == 0
    # totals and replay digest survive the reset
    assert st5[0] == st4[0]
    # a fresh batch on the compacted lake starts the count over and
    # sits under a one-batch-sized threshold again
    r5 = incremental_ingest(
        spark, docs(400, 2), root,
        compact_above_files=10 * max(st3[3]["docs"], 1),
    )
    assert r5["compact_due"] == 0
    st6 = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert 0 < st6[3]["docs"] < st3[3]["docs"] + 1


def test_lake_lifecycle_soak(spark, tmp_path):
    """r16 stretch: composition coverage the per-feature batteries
    don't give — ONE lake driven through mixed batches on BOTH ingest
    faces with ALL lake-state guards on (exact + near-dup-with-verify
    + url + blocklist + media routed + both Bloom lineages + census),
    deferred rebuild mode, a crash injection, a guard-knob-off window
    and a compaction sweep interleaved — then the full invariant set
    asserted: running total == physical docs == recount, append-only
    keeper stability (every admitted id survives, nothing duplicates),
    filter freshness across the knob toggle, and every guard still
    blocking end-to-end after maintenance."""
    import random
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _read_lake_stats,
        build_text_index,
        incremental_ingest,
        maintain_lake,
        recount_lake_docs,
        streaming_ingest,
    )

    rng = random.Random(77)
    vid = bytes(rng.randrange(256) for _ in range(1000))
    aud = bytes(rng.randrange(256) for _ in range(600))
    img = bytes(rng.randrange(256) for _ in range(600))

    def fresh(n):
        return bytes(rng.randrange(256) for _ in range(n))

    def text(n, alpha="tx"):
        return " ".join(
            f"{alpha}{n}w{j}v{(n * 17 + j) % 97}" for j in range(12)
        )

    def url(n):
        return f"https://s{n}.soak-site.com/p/{n}"

    schema = (
        "doc_id long, text string, url string, payload binary, "
        "kind string, duration_ms long"
    )

    def frame(rows):
        return spark.createDataFrame(rows, schema)

    root = str(tmp_path / "lake_soak")
    base = dict(
        near_dup=True, near_dup_verify=0.5,
        url_guard=True, url_blocklist=("blocked.ex",),
        media_guard=True, line_census=True,
        bloom_rebuild_mode="defer", compact_above_files=2,
    )
    kw = dict(base, bloom_guard=True, url_bloom=True)
    kw_off = dict(base, bloom_guard=False, url_bloom=False)

    # --- B1: six mixed docs, every modality, all guards on ----------
    b1 = frame([
        (1, text(1), url(1), None, None, None),
        (2, text(2), url(2), None, None, None),
        (3, text(3), url(3), img, "image", None),
        (4, text(4), url(4), vid, "video", 5000),
        (5, text(5), url(5), aud, "audio", None),
        (6, text(6), None, None, None, None),   # no url evidence
    ])
    r1 = incremental_ingest(spark, b1, root, **kw)
    assert r1["admitted"] == 6 and r1["total_docs"] == 6
    assert r1["near_dup_blocked"] == 0 and r1["near_dup_rescued"] == 0

    # text index joins the soak from here (r16): every later batch on
    # either face must maintain it, the verify stage reads through it,
    # maintenance compacts it partition-preserving, and the final
    # invariant asserts index content == docs content exactly
    build_text_index(spark, root, buckets=8)

    # --- B2: one duplicate per guard face + two novels --------------
    b2 = frame([
        (10, text(1), url(10), None, None, None),          # exact dup
        (11, text(2).replace("w3", "q3"), url(11),
         None, None, None),                                # near-dup
        (12, text(12), url(1) + "?utm_source=x",
         None, None, None),                                # url re-crawl
        (13, text(13), "https://spam.blocked.ex/x",
         None, None, None),                                # blocklisted
        (14, text(14), None, img[:300] + b"~" + img[301:],
         "image", None),                                   # image flip
        (15, text(15), None, vid[:100] + b"~" + vid[101:],
         "video", 5000),                                   # video reenc
        (16, text(16), None, aud[64:], "audio", None),     # audio trim
        (17, text(17), url(17), None, None, None),         # novel
        (18, text(18), url(18), fresh(600), "image", None),  # novel
    ])
    r2 = incremental_ingest(spark, b2, root, **kw)
    assert r2["admitted"] == 2 and r2["total_docs"] == 8
    assert r2["near_dup_blocked"] == 1 and r2["near_dup_rescued"] == 0
    assert r2["url_skipped"] == 1 and r2["domain_blocked"] == 1
    assert r2["media_skipped"] == 3

    # --- crash injection: B2's bands append lost (docs landed, the
    # sidecar write did not — the real crash window; deleting the
    # whole layer would blind the guard to history, which no crash
    # does), replay heals --------------------------------------------
    bands_path = f"{root}/band_buckets"
    torn = (
        spark.read.parquet(bands_path)
        .filter(~F.col("id").isin(17, 18))
        .localCheckpoint()
    )
    shutil.rmtree(bands_path)
    torn.write.mode("overwrite").parquet(bands_path)
    r2b = incremental_ingest(spark, b2, root, **kw)
    assert r2b["admitted"] == 0 and r2b["total_docs"] == 8
    assert r2b["healed_bands"] == 2  # the two admitted novels

    # --- B3: knob-off window (filters must stay fresh) --------------
    b3 = frame([
        (20, text(20), url(20), None, None, None),
        (21, text(21), url(21), None, None, None),
    ])
    r3 = incremental_ingest(spark, b3, root, **kw_off)
    assert r3["admitted"] == 2 and r3["total_docs"] == 10

    # --- B4: knobs back on — off-window keys must still block -------
    b4 = frame([
        (30, text(20), None, None, None, None),     # fp of off-window
        (31, text(31), url(21), None, None, None),  # url of off-window
    ])
    r4 = incremental_ingest(spark, b4, root, **kw)
    assert r4["admitted"] == 0 and r4["total_docs"] == 10
    assert r4["url_skipped"] == 1
    # the append accounting of three admitting batches is past the
    # threshold by now (tiny batches append ~1 file per layer each)
    assert r4["compact_due"] >= 1

    # --- maintenance: compaction sweep + deferred bloom check -------
    m = maintain_lake(spark, root, compact_above_files=1)
    assert m["compacted_layers"] >= 4
    assert m["files_after"] < m["files_before"]

    # --- post-maintenance: every content guard still blocks ---------
    resend = frame([
        (40 + i, text(n), None, None, None, None)
        for i, n in enumerate([1, 2, 3, 4, 5, 6, 17, 18, 20, 21])
    ])
    r5 = incremental_ingest(spark, resend, root, **kw)
    assert r5["admitted"] == 0 and r5["total_docs"] == 10
    assert r5["compact_due"] == 0  # counters reset by the sweep

    # --- streaming face: one duplicate wave + one novel wave --------
    src = tmp_path / "soak_incoming"
    src.mkdir()
    frame([
        (50, text(17), url(50), None, None, None),   # dup content
        (51, text(51), url(1), None, None, None),    # dup url
    ]).coalesce(1).write.mode("overwrite").parquet(str(src / "w0"))
    frame([
        (60, text(60), url(60), None, None, None),
        (61, text(61), url(61), fresh(600), "image", None),
    ]).coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = streaming_ingest(
        stream, root,
        checkpoint=str(tmp_path / "soak_ckpt"), **kw,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # --- final invariant set -----------------------------------------
    docs = spark.read.parquet(f"{root}/docs")
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    # append-only keeper stability: every admitted id exactly once
    assert ids == [1, 2, 3, 4, 5, 6, 17, 18, 20, 21, 60, 61]
    # running total == physical == recount, through both faces
    st = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert st is not None and st[0] == 12
    assert recount_lake_docs(spark, root) == 12
    # every guard sidecar's ids are a subset of the admitted docs
    for layer, col in [
        ("fingerprints", "doc_id"), ("band_buckets", "id"),
        ("url_keys", "doc_id"), ("media_bands", "doc_id"),
    ]:
        side = {
            r[col]
            for r in spark.read.parquet(f"{root}/{layer}")
            .select(col).distinct().collect()
        }
        assert side <= set(ids), layer
    # the fingerprint sidecar sees EVERY admitted doc (guard complete)
    fp_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{root}/fingerprints")
        .select("doc_id").collect()
    }
    assert fp_ids == set(ids)
    # text index content == docs content EXACTLY, through both faces,
    # the crash replay, the knob-off window and the compaction sweep
    # (the heal sources text from the docs layer, so even a replayed
    # changed text cannot diverge them); partition layout survived.
    # r17: content = bucketed base ∪ append tail (distinct — a fold
    # interrupted between swap and tail delete may leave exact dups)
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        read_text_index,
    )

    idx = read_text_index(spark, root, 8).distinct()
    d2 = docs.select("doc_id", "text")
    assert idx.exceptAll(d2).count() == 0
    assert d2.exceptAll(idx).count() == 0
    assert any(
        p.name.startswith("tb=")
        for p in (tmp_path / "lake_soak" / "text_index_b8").iterdir()
    )


def test_streaming_ingest_on_report_delivers_batch_counters(
    spark, tmp_path
):
    """r16: the streaming face stops discarding its per-batch
    reports — ``on_report`` receives, per micro-batch, the same
    counter dict the batch face returns, so a deferred-mode streaming
    lake can actually consume the maintenance triggers
    (``bloom_rebuild_due``, ``compact_due``) it was built around."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        streaming_ingest,
    )

    schema = "doc_id long, text string"
    src = tmp_path / "rep_incoming"
    src.mkdir()

    def wave(name, lo, n):
        spark.createDataFrame(
            [(lo + i,
              " ".join(f"rp{lo + i}w{j}" for j in range(10)))
             for i in range(n)],
            schema,
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    wave("w0", 0, 3)
    wave("w1", 0, 3)    # pure replay of w0's content under same ids
    wave("w2", 100, 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    got = []
    q = streaming_ingest(
        stream,
        str(tmp_path / "lake_rep"),
        checkpoint=str(tmp_path / "rep_ckpt"),
        bloom_guard=True,
        compact_above_files=10 ** 6,
        on_report=lambda bid, rep: got.append((bid, rep)),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(got) == 3
    # every report carries the full batch-face counter surface,
    # including the maintenance triggers
    for _, rep in got:
        assert {"arrived", "admitted", "total_docs",
                "bloom_rebuild_due", "compact_due"} <= set(rep)
    admitted = sorted(rep["admitted"] for _, rep in got)
    assert admitted == [0, 2, 3]  # the replay wave admits nothing
    assert max(rep["total_docs"] for _, rep in got) == 5


def test_streaming_ingest_maintain_due_self_maintains(spark, tmp_path):
    """r17 (verdict #4): the signals the r16 round added
    (``compact_due`` / ``bloom_rebuild_due`` / ``on_report``) now
    close the loop — with ``maintain_due=1`` the streaming face
    invokes :func:`maintain_lake` ITSELF whenever a due counter is
    nonzero, so an unattended lake stays compacted across N
    micro-batches with ZERO manual maintenance calls. Asserts the
    policy fired in-stream (``maintain_*`` keys ride the report), the
    sweep actually compacted (files_after < files_before), the
    accounting reset (a later batch re-accumulates from zero rather
    than staying due forever), and the lake content stayed exact."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        streaming_ingest,
    )

    schema = "doc_id long, text string"
    src = tmp_path / "am_incoming"
    src.mkdir()
    n_waves, per_wave = 6, 3
    for w in range(n_waves):
        spark.createDataFrame(
            [(w * per_wave + i,
              " ".join(f"am{w * per_wave + i}w{j}" for j in range(10)))
             for i in range(per_wave)],
            schema,
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"w{w}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    got = []
    q = streaming_ingest(
        stream,
        str(tmp_path / "lake_am"),
        checkpoint=str(tmp_path / "am_ckpt"),
        bloom_guard=True,
        compact_above_files=2,
        maintain_due=1,
        on_report=lambda bid, rep: got.append((bid, rep)),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(got) == n_waves
    maintained = [rep for _, rep in got if "maintain_compacted_layers" in rep]
    assert maintained, "maintain_due never fired across 6 due batches"
    fired = [rep for rep in maintained
             if rep["maintain_compacted_layers"] > 0]
    assert fired, "policy fired but never compacted a layer"
    assert all(
        rep["maintain_files_after"] <= rep["maintain_files_before"]
        for rep in fired
    )
    # accounting reset: not every batch re-triggers — after a sweep
    # the next batches accumulate from zero until the threshold
    # crosses again (self-throttling, not once-due-always-due)
    assert len(maintained) < n_waves
    # zero manual maintain_lake calls, content still exact
    docs = spark.read.parquet(str(tmp_path / "lake_am" / "docs"))
    assert docs.count() == n_waves * per_wave
    assert docs.select("doc_id").distinct().count() == n_waves * per_wave


def test_maintain_lake_trust_marker_skips_listings(
    spark, tmp_path, monkeypatch
):
    """r16: with ``trust_marker=True`` the sweep consults the
    ``_lake_stats`` append accounting instead of LISTING every layer —
    under-threshold layers are skipped with no file-count call, a
    flagged layer is still listed (and swept, and reset), and a layer
    with no marker entry falls back to the listing path."""
    from projet_big_data_boutin_danre_spark import corpus_pipeline as cp

    root = str(tmp_path / "lake_trust")

    def docs(lo, n):
        return spark.createDataFrame(
            [(lo + i, " ".join(f"tm{lo + i}w{j}" for j in range(10)))
             for i in range(n)],
            "doc_id long, text string",
        )

    for b in range(4):
        cp.incremental_ingest(spark, docs(b * 10, 3), root)

    listed = []
    real_count = cp._data_file_count

    def counting(spark_, path):
        listed.append(path)
        return real_count(spark_, path)

    monkeypatch.setattr(cp, "_data_file_count", counting)

    def data_layers_listed():
        # layers the lake actually CARRIES (absent layers fall back to
        # _data_file_count, which for a missing path is a point
        # existence probe, not a listing)
        return {
            p.split("/")[-1]
            for p in listed
            if p.split("/")[-1] in ("docs", "fingerprints")
        }

    # high threshold: every marker entry is under it -> the existing
    # layers are never listed
    m0 = cp.maintain_lake(
        spark, root, compact_above_files=10 ** 6, trust_marker=True
    )
    assert m0["compacted_layers"] == 0
    assert data_layers_listed() == set()

    # low threshold: docs + fingerprints are flagged by the marker,
    # get listed, swept, and their accounting reset; layers absent
    # from the marker (this lake has no guards) are never listed
    # because they do not exist... except via the fallback, which
    # lists only what the marker cannot vouch for
    listed.clear()
    m1 = cp.maintain_lake(
        spark, root, compact_above_files=2, trust_marker=True
    )
    assert m1["compacted_layers"] == 2
    assert {p.split("/")[-1] for p in listed if not p.endswith("__compact")} >= {
        "docs", "fingerprints"
    }
    st = cp._read_lake_stats(spark, f"{root}/_lake_stats")
    assert st[3]["docs"] == 0 and st[3]["fingerprints"] == 0

    # next run: freshly reset accounting -> the data layers are not
    # listed again
    listed.clear()
    m2 = cp.maintain_lake(
        spark, root, compact_above_files=2, trust_marker=True
    )
    assert m2["compacted_layers"] == 0
    assert data_layers_listed() == set()

    # a lake with NO marker falls back to full listing mode
    import shutil

    shutil.rmtree(f"{root}/_lake_stats")
    listed.clear()
    m3 = cp.maintain_lake(
        spark, root, compact_above_files=10 ** 6, trust_marker=True
    )
    assert m3["compacted_layers"] == 0
    assert any(p.endswith("/docs") for p in listed)


def test_compact_accounting_survives_torn_marker_and_tracks_layers(
    spark, tmp_path
):
    """r16 review finds: (a) a torn ``_lake_stats`` marker must NOT
    restart the append accounting at zero — that silences
    ``compact_due`` on an already-overgrown lake, the unsafe
    direction; recovery re-MEASURES the per-layer file counts (the
    same one-authoritative-recount contract as the total). (b) each
    layer's increment is bound by ITS OWN write's source frame — a
    batch-sized guard sidecar must not be undercounted with the
    (possibly 1-partition) admitted frame's width."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _data_file_count,
        _read_lake_stats,
        incremental_ingest,
        recount_lake_docs,
    )

    root = str(tmp_path / "lake_torn")

    def docs(lo, n):
        return spark.createDataFrame(
            [(lo + i, " ".join(f"tn{lo + i}w{j}" for j in range(10)))
             for i in range(n)],
            "doc_id long, text string",
        )

    kw = dict(near_dup=True)
    for b in range(3):
        incremental_ingest(spark, docs(b * 10, 3), root, **kw)
    st = _read_lake_stats(spark, f"{root}/_lake_stats")
    # (b): the bands sidecar is written from the batch-sized band
    # frame (>= the shuffle width), never from the admitted frame's
    # possibly-collapsed partitioning
    p_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert st[3]["band_buckets"] >= 3 * p_shuffle
    assert st[3]["docs"] >= 3

    # (a): torn marker -> next admitting batch re-measures instead of
    # zeroing; the recovered counts are at least the physical reality
    shutil.rmtree(f"{root}/_lake_stats")
    phys_docs = _data_file_count(spark, f"{root}/docs")
    phys_bands = _data_file_count(spark, f"{root}/band_buckets")
    incremental_ingest(spark, docs(100, 2), root, **kw)
    st2 = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert st2[3]["docs"] >= phys_docs  # measured base + new batch
    assert st2[3]["band_buckets"] >= phys_bands
    # recount_lake_docs on a torn marker re-measures too
    shutil.rmtree(f"{root}/_lake_stats")
    recount_lake_docs(spark, root)
    st3 = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert st3[3].get("docs", 0) >= phys_docs


def test_verify_max_broadcast_chars_forwards_through_faces(
    spark, tmp_path, monkeypatch
):
    """r18 (verdict #4): the verify stage's broadcast guard threshold
    must be reachable through the ingest faces — a big-driver lake
    raises it, a paranoid one lowers it, nobody monkey-patches. Pin
    the forward by intercepting verify_candidates_jaccard at the
    call site and capturing the kwarg; the knob-parity signature
    test covers the streaming face carrying the same kwarg+default."""
    import inspect

    from projet_big_data_boutin_danre_spark import corpus_pipeline as cp
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
        streaming_ingest,
    )
    from projet_big_data_boutin_danre_spark.operators import dedup

    # default matches the operator's own default (one source of truth
    # would be better, but a drift here is exactly what to catch)
    assert (
        inspect.signature(incremental_ingest)
        .parameters["verify_max_broadcast_chars"]
        .default
        == inspect.signature(dedup.verify_candidates_jaccard)
        .parameters["max_broadcast_chars"]
        .default
    )
    assert (
        inspect.signature(streaming_ingest)
        .parameters["verify_max_broadcast_chars"]
        .default
        == 20_000_000
    )
    captured = {}
    real = dedup.verify_candidates_jaccard

    def spy(*a, **k):
        captured["max_broadcast_chars"] = k.get("max_broadcast_chars")
        return real(*a, **k)

    monkeypatch.setattr(
        cp.dedup, "verify_candidates_jaccard", spy
    )
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliett kilo lima mike november oscar papa quebec romeo "
        "sierra tango uniform victor whiskey xray yankee zulu"
    )
    hist = spark.createDataFrame([(1, base)], "doc_id long, text string")
    # a guaranteed candidate: a true near-duplicate of history
    probe = spark.createDataFrame(
        [(2, base + " thirteen")], "doc_id long, text string"
    )
    kw = dict(
        near_dup=True, near_dup_verify=0.5,
        verify_max_broadcast_chars=123_456,
    )
    root = str(tmp_path / "lake_bc")
    incremental_ingest(spark, hist, root, **kw)
    r = incremental_ingest(spark, probe, root, **kw)
    assert r["near_dup_blocked"] == 1  # the verify stage really ran
    assert captured["max_broadcast_chars"] == 123_456


def test_maintain_max_layers_staggers_and_converges(spark, tmp_path):
    """r18 (verdict #3): ``maintain_lake(max_layers=N)`` performs at
    most N maintenance units per call and DEFERS the rest — the
    signals only reset on completion, so repeated staggered calls
    drain the backlog and converge to the same lake state as one
    unbounded sweep. Pinned on two identically-built lakes."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _APPEND_LAYERS,
        _data_file_count,
        incremental_ingest,
        maintain_lake,
    )

    roots = [str(tmp_path / "lake_big"), str(tmp_path / "lake_stag")]
    for root in roots:
        for w in range(3):
            incremental_ingest(
                spark,
                spark.createDataFrame(
                    [(w * 10 + i,
                      " ".join(f"mx{w * 10 + i}w{j}" for j in range(12)))
                     for i in range(4)],
                    "doc_id long, text string",
                ),
                root,
                near_dup=True,
            )
    # max_layers=0: everything due is deferred, nothing moves
    r0 = maintain_lake(spark, roots[1], compact_above_files=1,
                       max_layers=0)
    assert r0["compacted_layers"] == 0 and r0["deferred_units"] >= 3
    # one unbounded sweep vs. staggered 1-unit sweeps
    big = maintain_lake(spark, roots[0], compact_above_files=1)
    assert big["compacted_layers"] >= 3 and big["deferred_units"] == 0
    steps = 0
    while True:
        r = maintain_lake(spark, roots[1], compact_above_files=1,
                          max_layers=1)
        assert r["compacted_layers"] <= 1
        steps += 1
        assert steps < 20, "staggered maintenance never converged"
        if r["deferred_units"] == 0 and r["compacted_layers"] == 0:
            break
    assert steps >= big["compacted_layers"]
    # converged to the same physical state as the unbounded sweep
    for layer in _APPEND_LAYERS:
        a = _data_file_count(spark, f"{roots[0]}/{layer}")
        b = _data_file_count(spark, f"{roots[1]}/{layer}")
        assert a == b, (layer, a, b)
    da = spark.read.parquet(f"{roots[0]}/docs")
    db = spark.read.parquet(f"{roots[1]}/docs")
    assert da.count() == db.count() == 12
    assert da.exceptAll(db).count() == 0


def test_stream_maintain_failure_replays_idempotently(
    spark, tmp_path, monkeypatch
):
    """r18 (verdict #3, the retry shape): ``maintain_due`` runs
    maintain_lake INSIDE foreachBatch, so a mid-sweep failure fails
    that micro-batch and Structured Streaming surfaces it as a query
    error; a RESTART from the same checkpoint replays the batch —
    safe because admission is idempotent (the replay admits nothing
    twice) and maintenance signals only reset on completion (the
    retried sweep finds the same backlog). Pinned end-to-end with an
    injected one-shot maintain_lake failure."""
    from projet_big_data_boutin_danre_spark import corpus_pipeline as cp
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        streaming_ingest,
    )

    schema = "doc_id long, text string"
    src = tmp_path / "rt_incoming"
    src.mkdir()
    for w in range(3):
        spark.createDataFrame(
            [(w * 4 + i,
              " ".join(f"rt{w * 4 + i}w{j}" for j in range(12)))
             for i in range(4)],
            schema,
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"w{w}"))
    root = str(tmp_path / "lake_rt")
    real = cp.maintain_lake
    boom = {"armed": True}

    def flaky(*a, **k):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected mid-sweep crash")
        return real(*a, **k)

    monkeypatch.setattr(cp, "maintain_lake", flaky)
    kw = dict(
        near_dup=True,
        compact_above_files=1,
        maintain_due=1,
        checkpoint=str(tmp_path / "rt_ckpt"),
    )

    def _start():
        return streaming_ingest(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*")),
            root,
            **kw,
        )

    import pytest as _pt

    q = _start()
    with _pt.raises(Exception):
        try:
            q.processAllAvailable()
            # surface the async failure deterministically
            q.awaitTermination(5)
            assert q.exception() is not None
            raise q.exception()
        finally:
            q.stop()
    # the failed micro-batch's ADMISSION already landed (maintenance
    # runs after the appends); restart replays it: nothing admits
    # twice, the sweep retries on the same still-standing signals
    q2 = _start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    docs = spark.read.parquet(f"{root}/docs")
    assert docs.count() == 12
    assert docs.select("doc_id").distinct().count() == 12
