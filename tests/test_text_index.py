"""Text index (r16): a bucket-partitioned (id, text) cache of the
docs layer that turns the ``near_dup_verify`` stage's history read
from a per-candidate-batch corpus scan into a partition-pruned lookup
of the candidate buckets only — with an exact per-id fallback to the
docs layer, so a stale, torn, or missing-row index can only cost
speed, never admit a duplicate.

Batteries: behavior equivalence with/without the index on the
deterministic band-collider scenario, the fallback's exactness when
index rows are physically removed, maintain-if-present append
freshness, the id-absence heal (backfilled from the docs layer, not
the batch), partition-preserving compaction through maintain_lake,
and the append accounting rows."""

import re as _re

import pytest
from pyspark.sql import functions as F

from projet_big_data_boutin_danre_spark.corpus_pipeline import (
    _discover_text_index,
    build_text_index,
    incremental_ingest,
    maintain_lake,
)
from projet_big_data_boutin_danre_spark.operators import dedup

# Long-running lake-lifecycle / maintenance / property battery
# (r20): excluded from the default pytest run so the driver's
# verification window fits; opt in with `-m slow` (the round-close
# protocol runs fast + slow green). See pytest.ini.
pytestmark = pytest.mark.slow


def _norm(s):
    return _re.sub(" +", " ", _re.sub("[^a-z0-9]+", " ", s.lower())).strip()


def _sh(s, k=8):
    t = _norm(s)
    return {t[i:i + k] for i in range(max(len(t) - k + 1, 1))}


def _jac(a, b):
    sa, sb = _sh(a), _sh(b)
    return len(sa & sb) / len(sa | sb)


BASE = (
    "alpha bravo charlie delta echo foxtrot golf hotel india "
    "juliett kilo lima mike november oscar papa quebec romeo "
    "sierra tango uniform victor whiskey xray yankee zulu one "
    "two three four five six seven eight nine ten eleven twelve"
)


def _find_collider(spark):
    """Deterministic low-Jaccard band collider against BASE under the
    8x4 'fast' recipe (the construction test_near_dup_verify_before_
    block uses)."""
    cands = [
        (100 + j,
         BASE[: len(BASE) // 3]
         + " " + " ".join(f"fresh{j}w{i}v{(j * 13 + i) % 83}"
                          for i in range(16)))
        for j in range(60)
    ]
    cdf = spark.createDataFrame(cands, "doc_id long, text string")
    hist = spark.createDataFrame([(1, BASE)], "doc_id long, text string")
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
    false_pos = [i for i in sorted(colliding) if _jac(BASE, by_id[i]) < 0.35]
    assert false_pos, "collider construction drifted — re-tune"
    return false_pos[0], by_id[false_pos[0]]


KW = dict(near_dup=True, near_dup_verify=0.5)


def _index_equals_docs(spark, root):
    """The heal/append contract: index (id, text) content — bucketed
    base ∪ append tail (r17) — is exactly the docs layer's. distinct
    on the index side: a fold interrupted between swap and tail
    delete legitimately leaves exact-duplicate rows."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        read_text_index,
    )

    docs = spark.read.parquet(f"{root}/docs").select("doc_id", "text")
    n = _discover_text_index(spark, root)
    idx = read_text_index(spark, root, n).distinct()
    assert docs.exceptAll(idx).count() == 0
    assert idx.exceptAll(docs).count() == 0


def test_build_and_verify_equivalence(spark, tmp_path):
    """With an index, the verify gate blocks/rescues the SAME sets as
    the indexless docs-scan plan: the collider is rescued, a true
    near-dup is blocked, replay is idempotent."""
    doc, text = _find_collider(spark)
    hist = spark.createDataFrame([(1, BASE)], "doc_id long, text string")
    probe = spark.createDataFrame([(doc, text)], "doc_id long, text string")
    true_dup = spark.createDataFrame(
        [(500, BASE + " thirteen")], "doc_id long, text string"
    )
    root = str(tmp_path / "lake")
    incremental_ingest(spark, hist, root, **KW)
    res = build_text_index(spark, root, buckets=8)
    assert res["rows"] == 1 and res["buckets"] == 8
    assert _discover_text_index(spark, root) == 8
    # partition layout present on disk
    assert any(
        p.name.startswith("tb=")
        for p in (tmp_path / "lake" / "text_index_b8").iterdir()
    )
    r1 = incremental_ingest(spark, probe, root, **KW)
    assert r1["admitted"] == 1
    assert r1["near_dup_blocked"] == 0 and r1["near_dup_rescued"] == 1
    r2 = incremental_ingest(spark, true_dup, root, **KW)
    assert r2["admitted"] == 0
    assert r2["near_dup_blocked"] == 1 and r2["near_dup_rescued"] == 0
    # replay through the indexed verify path stays idempotent
    r1b = incremental_ingest(spark, probe, root, **KW)
    assert r1b["admitted"] == 0
    assert r1b["near_dup_blocked"] == 0 and r1b["near_dup_rescued"] == 0
    _index_equals_docs(spark, root)


def test_fallback_covers_missing_index_rows(spark, tmp_path):
    """Exactness never depends on index completeness: with EVERY
    index row physically removed (bucket dirs deleted, layer left
    discoverable), a true near-dup is still BLOCKED — the per-id
    fallback reads the docs layer for the candidate ids the index
    cannot answer."""
    import shutil

    hist = spark.createDataFrame([(1, BASE)], "doc_id long, text string")
    root = str(tmp_path / "lake")
    incremental_ingest(spark, hist, root, **KW)
    build_text_index(spark, root, buckets=8)
    idx_dir = tmp_path / "lake" / "text_index_b8"
    for p in idx_dir.iterdir():
        if p.name.startswith("tb="):
            shutil.rmtree(p)
    assert _discover_text_index(spark, root) == 8  # still discovered
    true_dup = spark.createDataFrame(
        [(500, BASE + " thirteen")], "doc_id long, text string"
    )
    r = incremental_ingest(spark, true_dup, root, **KW)
    assert r["admitted"] == 0 and r["near_dup_blocked"] == 1


def test_maintain_if_present_and_heal(spark, tmp_path):
    """(a) every admitting batch appends to a discovered index even
    with near_dup_verify OFF (the freshness rule); (b) a crash
    between the docs and index appends (simulated by deleting the
    batch's index rows) is healed on replay by the id-absence
    backfill, sourced from the DOCS layer."""
    import shutil

    root = str(tmp_path / "lake")
    kw_off = dict(near_dup=True)  # verify off
    b1 = spark.createDataFrame([(1, BASE)], "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(2, "completely different words " * 6)],
        "doc_id long, text string",
    )
    incremental_ingest(spark, b1, root, **kw_off)
    build_text_index(spark, root, buckets=8)
    incremental_ingest(spark, b2, root, **kw_off)
    _index_equals_docs(spark, root)  # (a) batch 2 appended, no knob
    # (b) crash window: wipe the whole index content (all buckets),
    # replay batch 2 — the id guard flags it, the heal backfills the
    # missing rows from the docs layer
    idx_dir = tmp_path / "lake" / "text_index_b8"
    for p in idx_dir.iterdir():
        if p.name.startswith("tb="):
            shutil.rmtree(p)
    # batch 2's append lives in the TAIL (r17) — the crash window
    # this test simulates must lose it too, or there is nothing to
    # heal (the tail would still answer the completeness probe)
    tail_dir = tmp_path / "lake" / "text_index_b8_tail"
    if tail_dir.exists():
        shutil.rmtree(tail_dir)
    r = incremental_ingest(spark, b2, root, **kw_off)
    assert r["admitted"] == 0  # replay admits nothing
    n = _discover_text_index(spark, root)
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        read_text_index,
    )

    healed = read_text_index(spark, root, n)
    # only batch 2's row is healed (batch 1's id is not in the replay)
    assert [
        (r2["doc_id"],) for r2 in healed.select("doc_id").collect()
    ] == [(2,)]
    # and its text matches the docs layer exactly
    dtxt = (
        spark.read.parquet(f"{root}/docs")
        .filter(F.col("doc_id") == 2)
        .select("text")
        .first()["text"]
    )
    assert healed.first()["text"] == dtxt


def test_compaction_preserves_partition_layout(spark, tmp_path):
    """maintain_lake sweeps an over-threshold text index through the
    partition-preserving rewrite: content identical, tb= dirs still
    present, pruned verify still correct afterwards."""
    root = str(tmp_path / "lake")
    kw_off = dict(near_dup=True)
    words = ["red", "green", "blue", "amber", "violet", "teal"]
    for i, w in enumerate(words):
        df = spark.createDataFrame(
            [(10 + i, f"{w} " + " ".join(f"{w}tok{j}" for j in range(30)))],
            "doc_id long, text string",
        )
        incremental_ingest(spark, df, root, **kw_off)
        if i == 0:
            build_text_index(spark, root, buckets=4)
    _index_equals_docs(spark, root)
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        read_text_index,
    )

    before = set(
        (r["doc_id"], r["text"])
        for r in read_text_index(spark, root, 4).collect()
    )
    res = maintain_lake(spark, root, compact_above_files=2)
    assert res["compacted_layers"] >= 1
    idx_dir = tmp_path / "lake" / "text_index_b4"
    assert any(p.name.startswith("tb=") for p in idx_dir.iterdir())
    # the fold consumed the tail: every row is in the bucketed base
    assert not (tmp_path / "lake" / "text_index_b4_tail").exists()
    after = set(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(f"{root}/text_index_b4").collect()
    )
    assert after == before
    # the swept layer's accounting reset rides compact_layer
    rep = incremental_ingest(
        spark,
        spark.createDataFrame(
            [(99, "wholly novel closing doc " * 4)],
            "doc_id long, text string",
        ),
        root,
        compact_above_files=2,
        **kw_off,
    )
    # one batch after the sweep, the index layer cannot be over
    # threshold again — compact_due counts only genuinely grown layers
    assert rep["admitted"] == 1
    _index_equals_docs(spark, root)


def test_append_accounting_row(spark, tmp_path):
    """The marker carries a files-appended entry for the index layer,
    bounded by min(buckets, admitted)."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _read_lake_stats,
    )

    root = str(tmp_path / "lake")
    kw_off = dict(near_dup=True)
    incremental_ingest(
        spark,
        spark.createDataFrame([(1, BASE)], "doc_id long, text string"),
        root,
        **kw_off,
    )
    build_text_index(spark, root, buckets=8)
    st = _read_lake_stats(spark, f"{root}/_lake_stats")
    # seeded at 0 (r19): the marker is files-appended-SINCE-compaction
    # and the build IS a compaction event — seeding the base total
    # (the r16 choice) put the bucketed layer's structural floor into
    # the accounting, guaranteeing a no-op maintenance cycle (or,
    # pre-r19, a pinned compact_due) whenever the threshold sat below
    # the bucket count
    assert st is not None and st[3].get("text_index_b8") == 0
    incremental_ingest(
        spark,
        spark.createDataFrame(
            [(2, "fresh words " * 10)], "doc_id long, text string"
        ),
        root,
        **kw_off,
    )
    st2 = _read_lake_stats(spark, f"{root}/_lake_stats")
    # one admitted row -> at most min(8, 1) = 1 more file recorded
    assert st2[3]["text_index_b8"] == st[3]["text_index_b8"] + 1


def test_pruned_read_touches_candidate_buckets_only(spark, tmp_path):
    """Behavioral pruning proof: the helper builds its read from the
    candidate buckets' EXPLICIT paths (never a root listing), so (a)
    it returns exactly the candidate rows, and (b) a corrupted
    NON-candidate bucket — unreadable garbage where parquet should be
    — cannot even be seen by the probe."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _indexed_verify_history,
    )

    root = str(tmp_path / "lake")
    docs = spark.createDataFrame(
        [(i, f"text {i} " * 10) for i in range(40)],
        "doc_id long, text string",
    )
    docs.write.parquet(f"{root}/docs")
    build_text_index(spark, root, buckets=8)
    pairs = spark.createDataFrame(
        [(100, 3)], "doc_id long, seen_id long"
    )
    # candidate id 3's bucket
    cand_tb = spark.createDataFrame([(3,)], "seen_id long").select(
        F.pmod(F.xxhash64("seen_id"), F.lit(8)).alias("b")
    ).first()["b"]
    # vandalize every OTHER bucket: replace parquet with garbage
    import shutil

    idx_dir = tmp_path / "lake" / "text_index_b8"
    for p in idx_dir.iterdir():
        if p.name.startswith("tb=") and p.name != f"tb={cand_tb}":
            shutil.rmtree(p)
            p.mkdir()
            (p / "part-garbage.parquet").write_text("not parquet at all")
    hist = _indexed_verify_history(
        spark, f"{root}/docs", f"{root}/text_index_b8", 8, pairs,
        "doc_id", "text",
    )
    assert [r["doc_id"] for r in hist.collect()] == [3]


def test_build_refuses_docless_lake(spark, tmp_path):
    with pytest.raises(ValueError, match="docs layer"):
        build_text_index(spark, str(tmp_path / "empty"), buckets=4)


def test_torn_marker_recount_includes_index(spark, tmp_path):
    """r16 review #1: the authoritative recount after a lost/torn
    marker must re-measure the text index layer too — restarting its
    accounting at 0 is the undercount direction (compact_due goes
    silent and trust_marker then skips the very listing that could
    correct it)."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _data_file_count,
        _read_lake_stats,
        recount_lake_docs,
    )

    root = str(tmp_path / "lake")
    kw_off = dict(near_dup=True)
    incremental_ingest(
        spark,
        spark.createDataFrame([(1, BASE)], "doc_id long, text string"),
        root,
        **kw_off,
    )
    build_text_index(spark, root, buckets=8)
    incremental_ingest(
        spark,
        spark.createDataFrame(
            [(2, "other words " * 8)], "doc_id long, text string"
        ),
        root,
        **kw_off,
    )
    measured = _data_file_count(
        spark, f"{root}/text_index_b8"
    ) + _data_file_count(spark, f"{root}/text_index_b8_tail")
    assert measured >= 2  # build (base) + one append (tail)
    # torn marker: the next admitting batch recounts, and the recount
    # must carry a measured (nonzero) index entry
    shutil.rmtree(tmp_path / "lake" / "_lake_stats")
    incremental_ingest(
        spark,
        spark.createDataFrame(
            [(3, "third novel words " * 8)], "doc_id long, text string"
        ),
        root,
        **kw_off,
    )
    st = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert st is not None
    # measured-at-recount + this batch's upper-bound increment
    assert st[3].get("text_index_b8", 0) >= measured
    # the explicit re-sync entry point measures it too
    shutil.rmtree(tmp_path / "lake" / "_lake_stats")
    recount_lake_docs(spark, root)
    st2 = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert st2[3].get("text_index_b8", 0) >= measured


def test_build_refuses_zero_buckets(spark, tmp_path):
    """r16 review #3: pmod(x, 0) is NULL — a zero-bucket layer would
    crash every later candidate-carrying ingest, so the build refuses
    up front (and discovery ignores a malformed b0 dir)."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _discover_text_index,
    )

    root = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, "abc")], "doc_id long, text string"
    ).write.parquet(f"{root}/docs")
    with pytest.raises(ValueError, match="buckets"):
        build_text_index(spark, root, buckets=0)
    # a hand-made malformed dir is ignored by discovery
    (tmp_path / "lake" / "text_index_b0").mkdir()
    assert _discover_text_index(spark, root) is None


def test_maintain_lake_provisions_index(spark, tmp_path):
    """maintain_lake(text_index_buckets=N) builds the index when the
    lake has none (the deferred-Bloom contract: pay the corpus
    rewrite out-of-band), never rebuilds an existing one, and the
    next ingest discovers + maintains it."""
    root = str(tmp_path / "lake")
    kw_off = dict(near_dup=True)
    incremental_ingest(
        spark,
        spark.createDataFrame([(1, BASE)], "doc_id long, text string"),
        root,
        **kw_off,
    )
    m = maintain_lake(spark, root, text_index_buckets=8)
    assert m["text_index_built"] == 8
    assert _discover_text_index(spark, root) == 8
    # second run: existing index is left alone (no rebuild)
    import os

    mtimes = {
        p: os.path.getmtime(p)
        for p in map(
            str, (tmp_path / "lake" / "text_index_b8").rglob("*.parquet")
        )
    }
    m2 = maintain_lake(spark, root, text_index_buckets=8)
    assert m2["text_index_built"] == 0
    assert {
        p: os.path.getmtime(p)
        for p in map(
            str, (tmp_path / "lake" / "text_index_b8").rglob("*.parquet")
        )
    } == mtimes
    # the next admitting batch maintains the provisioned index
    incremental_ingest(
        spark,
        spark.createDataFrame(
            [(2, "more novel words " * 8)], "doc_id long, text string"
        ),
        root,
        **kw_off,
    )
    _index_equals_docs(spark, root)


def test_bucket_sliced_splits_oversized_buckets(spark, tmp_path):
    """The slices>1 branch: when the target file count exceeds the
    bucket count, each bucket splits into content-hashed slices —
    multiple files per tb= dir — while every row still lands under
    its own bucket dir (partition correctness is never traded for
    file sizing)."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _bucket_sliced,
    )

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).alias("tb"),
        F.md5(F.col("id").cast("string")).alias("text"),
    )
    out = str(tmp_path / "sliced")
    (
        _bucket_sliced(df, "tb", 8, n_values=2)
        .write.partitionBy("tb")
        .parquet(out)
    )
    import pathlib

    for b in (0, 1):
        files = list(
            (pathlib.Path(out) / f"tb={b}").glob("part-*.parquet")
        )
        assert len(files) >= 2, f"bucket {b} was not sliced: {files}"
    back = spark.read.parquet(out)
    assert back.count() == 2000
    # rows landed in their own bucket dirs
    assert (
        back.filter(F.col("tb") != (F.col("doc_id") % 2)).count() == 0
    )


def test_trust_marker_maintenance_covers_index(spark, tmp_path):
    """trust_marker=True composes with the index layer: an
    under-threshold index is skipped off its marker entry (no sweep),
    an over-threshold one is still listed and swept
    partition-preserving."""
    root = str(tmp_path / "lake")
    kw_off = dict(near_dup=True)
    for i in range(4):
        incremental_ingest(
            spark,
            spark.createDataFrame(
                [(10 + i, f"tmx doc {i} " + " ".join(
                    f"w{i}t{j}" for j in range(20)))],
                "doc_id long, text string",
            ),
            root,
            **kw_off,
        )
        if i == 0:
            build_text_index(spark, root, buckets=4)
    # under threshold: nothing swept, layer untouched
    m1 = maintain_lake(
        spark, root, compact_above_files=1000, trust_marker=True
    )
    assert m1["compacted_layers"] == 0
    # over threshold: the index is swept too, layout preserved
    m2 = maintain_lake(
        spark, root, compact_above_files=1, trust_marker=True
    )
    assert m2["compacted_layers"] >= 1
    idx_dir = tmp_path / "lake" / "text_index_b4"
    assert any(p.name.startswith("tb=") for p in idx_dir.iterdir())
    _index_equals_docs(spark, root)


def test_heal_quarter_coverage_skips_per_bucket_probes(
    spark, tmp_path, monkeypatch
):
    """r17 (ADVICE low): a corpus-wide replay (every batch id prior)
    maps to candidate buckets covering >= N/4 of the index — the heal
    must answer the id-absence check with ONE read of the layer root
    instead of up to N sequential per-bucket existence probes (HEADs
    on object stores). Pin it by poisoning _live_bucket_paths: at
    quarter coverage the heal must never call it, and the backfill
    must still restore every missing row from the docs layer."""
    import shutil

    from projet_big_data_boutin_danre_spark import corpus_pipeline as cp

    root = str(tmp_path / "lake_qc")
    kw_off = dict(near_dup=True)
    b1 = spark.createDataFrame(
        [(i, f"{BASE} tail marker {i} " + "pad words " * 3)
         for i in range(1, 9)],
        "doc_id long, text string",
    )
    incremental_ingest(spark, b1, root, **kw_off)
    build_text_index(spark, root, buckets=4)
    # crash window: the whole index content lost
    idx_dir = tmp_path / "lake_qc" / "text_index_b4"
    for p in idx_dir.iterdir():
        if p.name.startswith("tb="):
            shutil.rmtree(p)

    def _boom(*a, **k):
        raise AssertionError(
            "per-bucket existence probes must not run at quarter "
            "coverage — the heal should read the layer root once"
        )

    monkeypatch.setattr(cp, "_live_bucket_paths", _boom)
    r = incremental_ingest(spark, b1, root, **kw_off)
    assert r["admitted"] == 0  # pure replay
    _index_equals_docs(spark, root)  # all 8 rows healed from docs


def test_tail_append_is_sidecar_shaped(spark, tmp_path):
    """r17 (the index_ingest measurement): the per-batch index append
    must be a handful of tail files, NOT one file per touched bucket
    — the pre-r17 partitionBy append wrote ~min(buckets, rows) files
    per admitting batch (~2.9k at N=4096, +20-50 s/batch, SCALE.md
    §r17). Pin: after a 200-doc novel batch against a 512-bucket
    index, the base layer's data files are untouched and the tail
    holds the batch in ≤ 8 files; a second batch appends ≤ 8 more."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _data_file_count,
        read_text_index,
    )

    root = str(tmp_path / "lake_tail")
    kw_off = dict(near_dup=True)

    def batch(lo, n):
        return spark.createDataFrame(
            [(lo + i, " ".join(f"tl{lo + i}w{j}" for j in range(12)))
             for i in range(n)],
            "doc_id long, text string",
        )

    incremental_ingest(spark, batch(0, 50), root, **kw_off)
    build_text_index(spark, root, buckets=512)
    base_files = _data_file_count(spark, f"{root}/text_index_b512")
    incremental_ingest(spark, batch(1000, 200), root, **kw_off)
    assert _data_file_count(spark, f"{root}/text_index_b512") == base_files
    t1 = _data_file_count(spark, f"{root}/text_index_b512_tail")
    assert 1 <= t1 <= 8
    incremental_ingest(spark, batch(2000, 200), root, **kw_off)
    t2 = _data_file_count(spark, f"{root}/text_index_b512_tail")
    assert t1 < t2 <= t1 + 8
    # content exact through the union read (== docs; some batch rows
    # are within-batch near-dup losers, so no fixed-count claim)
    n_docs = spark.read.parquet(f"{root}/docs").count()
    assert read_text_index(spark, root, 512).distinct().count() == n_docs
    _index_equals_docs(spark, root)


def test_fold_crash_residue_deduped_on_next_fold(spark, tmp_path):
    """r17: a fold interrupted between the swap and the tail delete
    leaves the folded rows in BOTH base and tail — exact duplicates
    by construction. Readers tolerate them (distinct-ed consumers);
    the NEXT fold's full-row dropDuplicates must remove them so
    residue never accumulates. Simulated physically: re-create the
    tail with rows the previous fold already moved into the base."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _data_file_count,
        read_text_index,
    )

    root = str(tmp_path / "lake_fold")
    kw_off = dict(near_dup=True)
    b1 = spark.createDataFrame(
        [(i, " ".join(f"fd{i}w{j}" for j in range(12)))
         for i in range(20)],
        "doc_id long, text string",
    )
    incremental_ingest(spark, b1, root, **kw_off)
    build_text_index(spark, root, buckets=4)
    b2 = spark.createDataFrame(
        [(100 + i, " ".join(f"fe{100 + i}w{j}" for j in range(12)))
         for i in range(10)],
        "doc_id long, text string",
    )
    incremental_ingest(spark, b2, root, **kw_off)
    maintain_lake(spark, root, compact_above_files=1)  # first fold
    assert not (tmp_path / "lake_fold" / "text_index_b4_tail").exists()
    n_docs = spark.read.parquet(f"{root}/docs").count()
    base = spark.read.parquet(f"{root}/text_index_b4")
    assert base.count() == n_docs
    # crash residue: the tail reappears with rows the base already has
    base.filter(F.col("doc_id") >= 100).select(
        "doc_id", "text"
    ).coalesce(1).write.parquet(f"{root}/text_index_b4_tail")
    dup_read = read_text_index(spark, root, 4)
    assert dup_read.count() > n_docs  # duplicates visible pre-fold
    # the duplicate rows also must not be "healed" again on replay
    r = incremental_ingest(spark, b2, root, **kw_off)
    assert r["admitted"] == 0
    # second fold: residue gone, content exact, no distinct needed
    assert _data_file_count(spark, f"{root}/text_index_b4_tail") >= 1
    maintain_lake(spark, root, compact_above_files=1)
    assert not (tmp_path / "lake_fold" / "text_index_b4_tail").exists()
    after = spark.read.parquet(f"{root}/text_index_b4")
    assert after.count() == n_docs
    assert after.select("doc_id").distinct().count() == n_docs


def test_streaming_maintain_due_folds_tail_in_stream(spark, tmp_path):
    """r17 composition: an unattended STREAMING lake that carries a
    text index must fold the index tail with zero manual maintenance
    calls — `maintain_due` acts on `compact_due` (tail files count
    under the base layer's key), the in-stream `maintain_lake` run
    folds tail → buckets, and the index content stays exactly equal
    to docs through the whole run."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        streaming_ingest,
    )

    schema = "doc_id long, text string"
    src = tmp_path / "sf_incoming"
    src.mkdir()
    n_waves, per_wave = 5, 4
    for w in range(n_waves):
        spark.createDataFrame(
            [(w * per_wave + i,
              " ".join(f"sm{w * per_wave + i}w{j}" for j in range(12)))
             for i in range(per_wave)],
            schema,
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"w{w}"))
    root = str(tmp_path / "lake_sf")
    # seed the lake + index from wave 0's content, then stream
    incremental_ingest(
        spark,
        spark.read.parquet(str(src / "w0")),
        root,
        near_dup=True,
    )
    build_text_index(spark, root, buckets=8)
    got = []
    q = streaming_ingest(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*")),
        root,
        checkpoint=str(tmp_path / "sf_ckpt"),
        near_dup=True,
        compact_above_files=3,
        maintain_due=1,
        on_report=lambda bid, rep: got.append(rep),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(got) == n_waves
    folded = [r for r in got if r.get("maintain_compacted_layers", 0) > 0]
    assert folded, "maintain_due never folded in-stream"
    # after at least one in-stream fold the tail was consumed at that
    # point; content stayed exact through appends after the fold too
    _index_equals_docs(spark, root)
    docs_n = spark.read.parquet(f"{root}/docs").count()
    assert docs_n == n_waves * per_wave


def test_fold_rebuilds_gutted_base_from_tail(spark, tmp_path):
    """r17 edge: crash residue can leave the base dir present but
    data-less (tb= dirs gone) while the tail holds recent appends —
    an unattended maintain_lake must FOLD anyway (rebuilding a
    readable, partitioned base from the tail) instead of wedging in
    a failing read loop; older rows stay the heal/fallback paths'
    job (the cache contract). A plain compaction of a data-less
    layer WITHOUT a tail still fails loudly."""
    import shutil

    import pytest as _pytest

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        compact_layer,
    )

    root = str(tmp_path / "lake_gut")
    kw_off = dict(near_dup=True)
    incremental_ingest(
        spark,
        spark.createDataFrame(
            [(i, " ".join(f"gb{i}w{j}" for j in range(12)))
             for i in range(6)],
            "doc_id long, text string",
        ),
        root,
        **kw_off,
    )
    build_text_index(spark, root, buckets=4)
    for lo in (100, 200):  # two appends -> >= 2 tail files
        incremental_ingest(
            spark,
            spark.createDataFrame(
                [(lo + i, " ".join(f"gc{lo + i}w{j}" for j in range(12)))
                 for i in range(4)],
                "doc_id long, text string",
            ),
            root,
            **kw_off,
        )
    # gut the base, keep the tail
    idx_dir = tmp_path / "lake_gut" / "text_index_b4"
    for p in idx_dir.iterdir():
        if p.name.startswith("tb="):
            shutil.rmtree(p)
    assert (tmp_path / "lake_gut" / "text_index_b4_tail").exists()
    res = maintain_lake(spark, root, compact_above_files=1)
    assert res["compacted_layers"] >= 1
    assert not (tmp_path / "lake_gut" / "text_index_b4_tail").exists()
    rebuilt = spark.read.parquet(f"{root}/text_index_b4")
    got = {r["doc_id"] for r in rebuilt.select("doc_id").collect()}
    assert got == {100, 101, 102, 103, 200, 201, 202, 203}
    assert any(p.name.startswith("tb=") for p in idx_dir.iterdir())
    # data-less layer with NO tail: still a loud failure
    bare = tmp_path / "bare_layer"
    bare.mkdir()
    (bare / "_SUCCESS").touch()
    with _pytest.raises(Exception):
        compact_layer(spark, str(bare))


def _batch(spark, lo, n, pfx="cf"):
    return spark.createDataFrame(
        [(lo + i, " ".join(f"{pfx}{lo + i}w{j}" for j in range(12)))
         for i in range(n)],
        "doc_id long, text string",
    )


def _data_files(root_dir):
    import os

    out = []
    for d, _s, files in os.walk(root_dir):
        out.extend(
            os.path.join(d, f)
            for f in files
            if not f.startswith("_") and not f.startswith(".")
        )
    return sorted(out)


def test_cheap_fold_appends_tail_into_buckets(spark, tmp_path):
    """r18 (verdict #1): when the index layer trips the file
    threshold but the BASE's own file count is still under it — the
    tail's per-batch feed is what tripped it — maintain_lake must
    fold by partitioned-APPENDING just the tail rows into the live
    bucket dirs, NOT by rewriting the corpus-sized base. Pinned
    physically: every pre-fold base data file survives byte-for-byte
    under its original path (an rewrite would replace them all), the
    tail is consumed, content stays exact, and the id-presence
    sidecar gains the folded ids by APPEND (its pre-fold files also
    survive)."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _data_file_count,
    )

    root = str(tmp_path / "lake_cheap")
    kw_off = dict(near_dup=True)
    incremental_ingest(spark, _batch(spark, 0, 20), root, **kw_off)
    build_text_index(spark, root, buckets=4)
    ids_dir = tmp_path / "lake_cheap" / "text_index_b4_ids"
    assert ids_dir.exists()  # the build created the presence sidecar
    ids_files_before = _data_files(ids_dir)
    incremental_ingest(spark, _batch(spark, 100, 10), root, **kw_off)
    base_dir = tmp_path / "lake_cheap" / "text_index_b4"
    base_files = _data_file_count(spark, str(base_dir))
    tail_files = _data_file_count(
        spark, f"{root}/text_index_b4_tail"
    )
    assert tail_files >= 1
    base_paths_before = _data_files(base_dir)
    # total > T but base alone <= T: exactly the cheap-fold regime.
    # max_layers=1 isolates the FOLD: the follow-up per-bucket
    # reclaim (r18, which rewrites fold-touched buckets) is deferred
    # to a later call, so every pre-fold base file must survive here
    t = base_files + tail_files - 1
    res = maintain_lake(spark, root, compact_above_files=t,
                        max_layers=1)
    assert res["folded_tails"] == 1
    assert not (tmp_path / "lake_cheap" / "text_index_b4_tail").exists()
    # no rewrite: every pre-fold base file survives in place
    assert set(base_paths_before) <= set(_data_files(base_dir))
    assert len(_data_files(base_dir)) > len(base_paths_before)
    _index_equals_docs(spark, root)
    # sidecar: appended, not rewritten — old files survive, and the
    # id set now covers the whole base
    assert set(ids_files_before) <= set(_data_files(ids_dir))
    docs_n = spark.read.parquet(f"{root}/docs").count()
    sc = spark.read.parquet(str(ids_dir))
    assert sc.distinct().count() == docs_n
    # the completed fold is the compaction event (r19): an immediate
    # re-run finds no tail and must not fold again
    res2 = maintain_lake(spark, root, compact_above_files=t + 4)
    assert res2["folded_tails"] == 0


def test_bucket_compaction_clears_residue_and_sidecar_tracks(
    spark, tmp_path
):
    """r18 (verdict #1, the reclaim arm): when the BASE's own file
    count is over the threshold, maintain_lake folds the tail first
    (cheap, always) and then reclaims growth with PER-BUCKET
    compaction — duplicates share their id's bucket, so the
    per-bucket dropDuplicates clears cheap-fold crash residue
    (exact-duplicate rows INSIDE the base) exactly like the old
    whole-layer rewrite did, at bucket-sized units; the id-presence
    sidecar tracks through fold-append + hygiene."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        read_text_index,
    )

    root = str(tmp_path / "lake_full")
    kw_off = dict(near_dup=True)
    incremental_ingest(spark, _batch(spark, 0, 12, "ff"), root, **kw_off)
    build_text_index(spark, root, buckets=4)
    incremental_ingest(spark, _batch(spark, 100, 6, "fg"), root, **kw_off)
    # simulate cheap-fold crash residue: duplicate rows INSIDE the
    # base (append then re-append of the same tail rows) —
    # materialized driver-side first so the append never reads the
    # path it writes to
    base_n = spark.read.parquet(f"{root}/text_index_b4").count()
    dup_rows = (
        spark.read.parquet(f"{root}/text_index_b4")
        .filter(F.col("doc_id") < 3)
        .select("doc_id", "text")
        .collect()
    )
    assert len(dup_rows) == 3
    spark.createDataFrame(
        dup_rows, "doc_id long, text string"
    ).withColumn(
        "tb", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(4))
    ).repartition(F.col("tb")).write.mode("append").partitionBy(
        "tb"
    ).parquet(f"{root}/text_index_b4")
    n_docs = spark.read.parquet(f"{root}/docs").count()
    assert (
        spark.read.parquet(f"{root}/text_index_b4").count()
        == base_n + 3
    )
    # index_compact_above_files=1 (r19, verdict #5: the split knob)
    # forces the base-due reclaim with a per-bucket allowance of 1 —
    # under the derived floor-aware default (max(T, 2*buckets) = 8)
    # this small base would not be due and the residue would ride
    # until genuine growth; the explicit knob is the aggressive-
    # hygiene setting this test wants
    res = maintain_lake(spark, root, compact_above_files=1,
                        index_compact_above_files=1)
    assert res["folded_tails"] == 1 and res["compacted_layers"] >= 2
    after = spark.read.parquet(f"{root}/text_index_b4")
    # residue gone without any distinct on the read side
    assert after.count() == n_docs
    assert read_text_index(spark, root, 4).count() == n_docs
    # sidecar = build ids + fold-appended tail ids, deduped by the
    # hygiene pass: exactly the base's id set
    sc = spark.read.parquet(f"{root}/text_index_b4_ids")
    assert sc.count() == n_docs and sc.distinct().count() == n_docs
    _index_equals_docs(spark, root)


def test_quarter_coverage_heal_reads_ids_sidecar_not_root(
    spark, tmp_path
):
    """r18 (verdict #2): with the id-presence sidecar in place, the
    heal's quarter-coverage path must answer id-absence from the
    SIDECAR, never from the text-bearing index root. Pinned
    physically: the base's parquet files are replaced with garbage
    bytes (directories intact, so the sampled liveness probe passes)
    — a root read would throw, be swallowed, declare every id
    missing, and re-heal the whole batch into a fresh tail; the
    sidecar path heals nothing and leaves no tail."""
    root = str(tmp_path / "lake_sc")
    kw_off = dict(near_dup=True)
    b1 = _batch(spark, 0, 8, "sc")
    incremental_ingest(spark, b1, root, **kw_off)
    build_text_index(spark, root, buckets=4)
    base_dir = tmp_path / "lake_sc" / "text_index_b4"
    for f in _data_files(base_dir):
        with open(f, "wb") as fh:
            fh.write(b"not parquet")
    r = incremental_ingest(spark, b1, root, **kw_off)
    assert r["admitted"] == 0  # pure replay
    # 8 prior ids over 4 buckets = full coverage -> the quarter path
    # ran; the sidecar answered "all present" so nothing was healed
    assert not (tmp_path / "lake_sc" / "text_index_b4_tail").exists()


def test_streaming_maintain_stagger_bounds_per_batch_work(
    spark, tmp_path
):
    """r18 (verdict #3) composition: an unattended streaming lake
    with ``maintain_max_layers_per_batch=1`` absorbs at most ONE
    maintenance unit per micro-batch — the stall bound — while the
    deferred signals keep re-firing on later batches, so the lake
    still converges: by end of stream the backlog drains under the
    cap and index content stays exact."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        maintain_lake,
        streaming_ingest,
    )

    schema = "doc_id long, text string"
    src = tmp_path / "sg_incoming"
    src.mkdir()
    n_waves, per_wave = 6, 4
    for w in range(n_waves):
        spark.createDataFrame(
            [(w * per_wave + i,
              " ".join(f"sg{w * per_wave + i}w{j}" for j in range(12)))
             for i in range(per_wave)],
            schema,
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"w{w}"))
    root = str(tmp_path / "lake_sg")
    incremental_ingest(
        spark,
        spark.read.parquet(str(src / "w0")),
        root,
        near_dup=True,
    )
    build_text_index(spark, root, buckets=8)
    got = []
    q = streaming_ingest(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*")),
        root,
        checkpoint=str(tmp_path / "sg_ckpt"),
        near_dup=True,
        compact_above_files=3,
        maintain_due=1,
        maintain_max_layers_per_batch=1,
        on_report=lambda bid, rep: got.append(rep),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(got) == n_waves
    swept = [r for r in got if "maintain_compacted_layers" in r]
    assert swept, "maintain_due never fired in-stream"
    # the stall bound: no micro-batch ever absorbed more than 1 unit
    assert all(r["maintain_compacted_layers"] <= 1 for r in swept)
    # the cap really bit at least once (several layers come due
    # together at these thresholds)
    assert any(r.get("maintain_deferred_units", 0) >= 1 for r in swept)
    # convergence: content exact; finishing the drain out-of-band
    # with the same 1-unit stagger terminates. trust_marker=True like
    # the in-stream sweep: the LISTED file count of a bucketed layer
    # never drops below one file per non-empty bucket, so only the
    # marker accounting (reset by each compaction) can say "done"
    _index_equals_docs(spark, root)
    steps = 0
    while True:
        r = maintain_lake(spark, root, compact_above_files=3,
                          max_layers=1, trust_marker=True)
        steps += 1
        assert steps < 20
        if r["deferred_units"] == 0 and r["compacted_layers"] == 0:
            break
    _index_equals_docs(spark, root)
    docs_n = spark.read.parquet(f"{root}/docs").count()
    assert docs_n == n_waves * per_wave


def test_bucket_compaction_rewrites_only_overgrown_buckets(
    spark, tmp_path
):
    """r18 (the stall-floor fix): per-bucket compaction must leave
    buckets at their file allowance untouched IN PLACE and rewrite
    only the overgrown ones — the largest maintenance unit becomes
    bucket-sized, not corpus-sized. Built with 64 buckets so the
    batch only touches a subset; pinned physically on surviving file
    paths."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        compact_index_buckets,
    )

    root = str(tmp_path / "lake_pb")
    kw_off = dict(near_dup=True)
    incremental_ingest(spark, _batch(spark, 0, 40, "pb"), root, **kw_off)
    build_text_index(spark, root, buckets=64)
    incremental_ingest(spark, _batch(spark, 500, 10, "pq"), root,
                       **kw_off)
    base_dir = tmp_path / "lake_pb" / "text_index_b64"
    # fold the tail in (isolated via max_layers=1)
    r = maintain_lake(
        spark, root,
        compact_above_files=_tail_plus_base_minus_one(spark, root, 64),
        max_layers=1,
    )
    assert r["folded_tails"] == 1
    # buckets touched by the folded batch now hold 2 files; the rest 1
    per_bucket = {}
    for p in base_dir.iterdir():
        if p.name.startswith("tb="):
            per_bucket[p.name] = sorted(
                str(f) for f in p.iterdir()
                if not f.name.startswith("_") and not f.name.startswith(".")
            )
    multi = {k for k, v in per_bucket.items() if len(v) > 1}
    single = {k for k, v in per_bucket.items() if len(v) == 1}
    assert multi and single  # both regimes present
    res = compact_index_buckets(spark, str(base_dir), 64, files_above=1)
    assert res["buckets_compacted"] == len(multi)
    assert res["buckets_remaining"] == 0
    after = {}
    for p in base_dir.iterdir():
        if p.name.startswith("tb="):
            after[p.name] = sorted(
                str(f) for f in p.iterdir()
                if not f.name.startswith("_") and not f.name.startswith(".")
            )
    for k in single:  # untouched buckets: same files, same paths
        assert after[k] == per_bucket[k], k
    for k in multi:  # overgrown buckets: rewritten to one file
        assert len(after[k]) == 1 and after[k] != per_bucket[k], k
    assert not (tmp_path / "lake_pb" / "text_index_b64__bcompact").exists()
    assert not (tmp_path / "lake_pb" / "text_index_b64__bold").exists()
    _index_equals_docs(spark, root)
    # bounded reclaim: max_buckets=1 compacts exactly one bucket per
    # call and reports the remainder as still due
    incremental_ingest(spark, _batch(spark, 900, 10, "pr"), root,
                       **kw_off)
    maintain_lake(
        spark, root,
        compact_above_files=_tail_plus_base_minus_one(spark, root, 64),
        max_layers=1,
    )  # fold only
    multi2 = [
        p.name for p in base_dir.iterdir()
        if p.name.startswith("tb=")
        and sum(
            1 for f in p.iterdir()
            if not f.name.startswith("_") and not f.name.startswith(".")
        ) > 1
    ]
    assert len(multi2) >= 2
    res1 = compact_index_buckets(
        spark, str(base_dir), 64, files_above=1, max_buckets=1
    )
    assert res1["buckets_compacted"] == 1
    assert res1["buckets_remaining"] == len(multi2) - 1
    _index_equals_docs(spark, root)


def _tail_plus_base_minus_one(spark, root, nb):
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _data_file_count,
    )

    return (
        _data_file_count(spark, f"{root}/text_index_b{nb}")
        + _data_file_count(spark, f"{root}/text_index_b{nb}_tail")
        - 1
    )


def test_bucket_compaction_crash_repair(spark, tmp_path):
    """r18: every per-bucket swap crash shape self-heals on the next
    call — (a) verified staged bucket with live dir missing is
    renamed in; (b) un-verified staging is discarded and a live
    bucket missing its swap is restored from __bold; readers in the
    window only degrade (cache contract)."""
    import shutil

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        compact_index_buckets,
    )

    root = str(tmp_path / "lake_cr")
    kw_off = dict(near_dup=True)
    incremental_ingest(spark, _batch(spark, 0, 30, "cr"), root, **kw_off)
    build_text_index(spark, root, buckets=8)
    incremental_ingest(spark, _batch(spark, 500, 10, "cs"), root,
                       **kw_off)
    maintain_lake(
        spark, root,
        compact_above_files=_tail_plus_base_minus_one(spark, root, 8),
        max_layers=1,
    )  # fold only
    base_dir = tmp_path / "lake_cr" / "text_index_b8"
    n_docs = spark.read.parquet(f"{root}/docs").count()
    # (a) crash between rename-out and rename-in: simulate by moving
    # a live bucket into a VERIFIED staging
    victim = next(
        p for p in base_dir.iterdir() if p.name.startswith("tb=")
    )
    stage = tmp_path / "lake_cr" / "text_index_b8__bcompact"
    stage.mkdir()
    shutil.move(str(victim), str(stage / victim.name))
    (stage / "_VERIFIED").touch()
    res = compact_index_buckets(spark, str(base_dir), 8, files_above=1)
    assert res["repaired"] == 1
    assert not stage.exists()
    _index_equals_docs(spark, root)
    # (b) un-verified staging + live bucket parked in __bold
    victim2 = next(
        p for p in base_dir.iterdir() if p.name.startswith("tb=")
    )
    oldd = tmp_path / "lake_cr" / "text_index_b8__bold"
    oldd.mkdir()
    shutil.move(str(victim2), str(oldd / victim2.name))
    stage.mkdir()
    (stage / victim2.name).mkdir()
    (stage / victim2.name / "part-torn.parquet").write_bytes(b"torn")
    res2 = compact_index_buckets(spark, str(base_dir), 8, files_above=1)
    assert res2["repaired"] == 1
    assert not stage.exists() and not oldd.exists()
    assert spark.read.parquet(str(base_dir)).count() == n_docs
    _index_equals_docs(spark, root)


def test_bucket_floor_never_rewritten_and_signal_terminates(
    spark, tmp_path
):
    """r19 (verdict #1 — replaces the r18 misconfiguration-arm pin
    this same scenario used to carry): one file per non-empty bucket
    is the layer's structural FLOOR, so a threshold sized below the
    bucket count can never be "satisfied" by any rewrite — the r18
    code fell back to the whole-layer rewrite here and resynced the
    marker to the base TOTAL, pinning compact_due ≥ 1 and firing the
    corpus-scale rewrite every sweep (the soak regression). The r19
    contract: a layer AT its floor performs NO maintenance unit, the
    marker resets so the signal terminates, and even an EXPLICIT
    index threshold below the floor cannot force a rewrite (the
    fallback is gated on the measured non-empty-bucket floor)."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _read_lake_stats,
    )

    root = str(tmp_path / "lake_fb")
    kw_off = dict(near_dup=True)
    incremental_ingest(spark, _batch(spark, 0, 16, "fb"), root, **kw_off)
    build_text_index(spark, root, buckets=4)
    base_dir = tmp_path / "lake_fb" / "text_index_b4"
    base_files = sorted(_data_files(base_dir))
    # no tail, every bucket at exactly 1 file, total 4 > T=2: due by
    # the tail-trip wire, but the floor-aware base threshold
    # (max(2, 2*4) = 8) owes nothing — no unit on the index layer,
    # every base file survives byte-for-byte
    res = maintain_lake(spark, root, compact_above_files=2)
    assert res["folded_tails"] == 0
    assert sorted(_data_files(base_dir)) == base_files
    # explicit misconfiguration (index threshold 2 < 4 buckets):
    # nothing is individually overgrown and the layer is AT its
    # floor — the repair-arm gate (n_files > max(thr, floor)) must
    # refuse the whole-layer rewrite
    res_mis = maintain_lake(spark, root, compact_above_files=2,
                            index_compact_above_files=2)
    assert res_mis["folded_tails"] == 0
    assert res_mis["reclaim_files_before"] == 0
    assert sorted(_data_files(base_dir)) == base_files
    # the signal TERMINATED: marker reset to 0, so a trust_marker
    # re-run skips the layer without even listing it
    st = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert st is not None and st[3].get("text_index_b4") == 0
    res2 = maintain_lake(spark, root, compact_above_files=2,
                         trust_marker=True)
    assert res2["compacted_layers"] == 0
    assert res2["folded_tails"] == 0
    n_docs = spark.read.parquet(f"{root}/docs").count()
    base = spark.read.parquet(f"{root}/text_index_b4")
    assert base.count() == n_docs
    sc = spark.read.parquet(f"{root}/text_index_b4_ids")
    assert sc.count() == n_docs and sc.distinct().count() == n_docs
    _index_equals_docs(spark, root)


def test_completed_maintain_resets_marker_and_due_terminates(
    spark, tmp_path
):
    """r19 (verdict #1 — the prescribed regression pin): bucket count
    ABOVE the compaction threshold, ingest feeds the tail, one
    maintain_lake sweep — then the NEXT ingest must report
    ``compact_due == 0`` and a second sweep must perform NO
    maintenance unit on any layer. The r18 code resynced the index
    marker to the base file TOTAL (>= one file per non-empty bucket,
    so >= the bucket count), which pinned compact_due >= 1 forever
    whenever the threshold sat below the bucket count — under
    maintain_due streaming that fired maintenance (and the fallback's
    whole-layer rewrite) on every micro-batch."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _read_lake_stats,
    )

    root = str(tmp_path / "lake_mr")
    kw = dict(near_dup=True, compact_above_files=2)
    incremental_ingest(spark, _batch(spark, 0, 20, "mr"), root, **kw)
    build_text_index(spark, root, buckets=8)  # buckets > threshold 2
    incremental_ingest(spark, _batch(spark, 100, 6, "ms"), root, **kw)
    incremental_ingest(spark, _batch(spark, 200, 6, "mt"), root, **kw)
    r = incremental_ingest(spark, _batch(spark, 300, 6, "mu"), root,
                           **kw)
    assert r["compact_due"] >= 1  # the sweep is genuinely owed
    m = maintain_lake(spark, root, compact_above_files=2)
    assert m["folded_tails"] == 1
    # completed pass == compaction event: the index marker is 0
    st = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert st is not None and st[3].get("text_index_b8") == 0
    # a zero-admission resend reports the signal TERMINATED
    r2 = incremental_ingest(spark, _batch(spark, 100, 6, "ms"), root,
                            **kw)
    assert r2["admitted"] == 0
    assert r2["compact_due"] == 0
    # and a second sweep performs NO maintenance unit at all
    m2 = maintain_lake(spark, root, compact_above_files=2,
                       trust_marker=True)
    assert m2["compacted_layers"] == 0
    assert m2["folded_tails"] == 0
    assert m2["deferred_units"] == 0
    _index_equals_docs(spark, root)


def test_threshold_split_default_keeps_reclaim_off_small_base(
    spark, tmp_path
):
    """r19 (verdict #5): the fold/compaction threshold pair is split.
    Under the floor-aware derived default (max(compact_above_files,
    2 x buckets)) a freshly-folded small base owes NO per-bucket
    reclaim — every pre-fold base file survives the sweep — while an
    explicit ``index_compact_above_files`` below the base's count
    forces the reclaim in the same regime (the aggressive-hygiene
    setting). Without the split, compact_above_files=1 would fire
    per-bucket rewrites on every single fold."""
    root = str(tmp_path / "lake_ts")
    kw_off = dict(near_dup=True)
    incremental_ingest(spark, _batch(spark, 0, 20, "ts"), root,
                       **kw_off)
    build_text_index(spark, root, buckets=4)
    incremental_ingest(spark, _batch(spark, 100, 8, "tu"), root,
                       **kw_off)
    base_dir = tmp_path / "lake_ts" / "text_index_b4"
    base_paths_before = set(_data_files(base_dir))
    res = maintain_lake(spark, root, compact_above_files=1)
    assert res["folded_tails"] == 1
    # derived default: base (~<= 8 files) is under max(1, 2*4) — the
    # reclaim arm stayed off and the fold was append-only
    assert res["reclaim_files_before"] == 0
    assert base_paths_before <= set(_data_files(base_dir))
    # explicit low index threshold: same lake shape, reclaim fires
    # and returns the buckets to their floor
    incremental_ingest(spark, _batch(spark, 200, 8, "tv"), root,
                       **kw_off)
    res2 = maintain_lake(spark, root, compact_above_files=1,
                         index_compact_above_files=1)
    assert res2["folded_tails"] == 1
    assert res2["reclaim_files_before"] > 0
    for p in base_dir.iterdir():
        if p.name.startswith("tb="):
            n = sum(
                1 for f in p.iterdir()
                if not f.name.startswith("_")
                and not f.name.startswith(".")
            )
            assert n == 1, (p.name, n)
    _index_equals_docs(spark, root)


def test_fold_crosscheck_regenerates_overstating_sidecar(
    spark, tmp_path
):
    """r19 (verdict #4 — the partial-gut staleness window): a base
    bucket gutted OUT-OF-BAND after the sidecar was written leaves
    the sidecar over-stating presence (the one direction whose cost
    r18 deferred to the next full regen). The cheap fold's
    sidecar<->base row-count cross-check must catch it (ids rows >
    base rows is impossible in-band) and regenerate the sidecar from
    the live base at fold time — the gutted ids disappear from the
    sidecar, so the heal path stops skipping them."""
    import shutil

    root = str(tmp_path / "lake_cc")
    kw_off = dict(near_dup=True)
    incremental_ingest(spark, _batch(spark, 0, 16, "cc"), root,
                       **kw_off)
    build_text_index(spark, root, buckets=4)
    base_dir = tmp_path / "lake_cc" / "text_index_b4"
    ids_path = f"{root}/text_index_b4_ids"
    # out-of-band partial gut: one live bucket dir vanishes entirely
    victim = next(
        p for p in base_dir.iterdir() if p.name.startswith("tb=")
    )
    gutted_rows = spark.read.parquet(str(victim)).count()
    assert gutted_rows >= 1
    shutil.rmtree(victim)
    # sidecar still claims the gutted ids
    assert spark.read.parquet(ids_path).count() == 16
    incremental_ingest(spark, _batch(spark, 100, 6, "cd"), root,
                       **kw_off)
    m = maintain_lake(spark, root, compact_above_files=2)
    assert m["folded_tails"] == 1
    base = spark.read.parquet(f"{root}/text_index_b4")
    sc = spark.read.parquet(ids_path)
    # regenerated: the sidecar is exactly the live base's id set —
    # count-identical and set-identical (gutted ids gone)
    assert sc.count() == base.count()
    assert {r[0] for r in sc.collect()} == {
        r["doc_id"] for r in base.select("doc_id").collect()
    }
    assert sc.count() < 16 + 6  # strictly smaller: the gut is visible


def test_streaming_forwards_index_compact_threshold(
    spark, tmp_path, monkeypatch
):
    """r19 (verdict #5, streaming-face parity): the in-stream
    maintain_due sweep forwards ``index_compact_above_files`` to
    maintain_lake — a knob that only exists on the maintenance
    policy surface (delivery-side, like maintain_max_layers_per_
    batch) must still reach the sweep it tunes."""
    from projet_big_data_boutin_danre_spark import corpus_pipeline as cp

    captured = []
    real = cp.maintain_lake

    def spy(*a, **k):
        captured.append(dict(k))
        return real(*a, **k)

    monkeypatch.setattr(cp, "maintain_lake", spy)
    schema = "doc_id long, text string"
    src = tmp_path / "fw_incoming"
    src.mkdir()
    for w in range(3):
        spark.createDataFrame(
            [(w * 3 + i,
              " ".join(f"fw{w * 3 + i}w{j}" for j in range(10)))
             for i in range(3)],
            schema,
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"w{w}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = cp.streaming_ingest(
        stream,
        str(tmp_path / "lake_fw"),
        checkpoint=str(tmp_path / "fw_ckpt"),
        compact_above_files=1,
        maintain_due=1,
        index_compact_above_files=7,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert captured, "maintain_due never fired"
    assert all(
        k.get("index_compact_above_files") == 7 for k in captured
    )


def test_deferred_reclaim_keeps_signal_standing_until_drained(
    spark, tmp_path
):
    """r19 (verdict #1, the INCOMPLETE-pass arm): when the per-bucket
    reclaim hits its per-call cap (256) with overgrown buckets left,
    the pass is NOT the compaction event — the layer marker stays
    standing (so compact_due keeps signaling and maintain_due
    streaming re-fires) and only the call that drains the remainder
    resets it to 0. Built at 512 buckets with a fold touching ~500,
    so one capped call genuinely defers work."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _read_lake_stats,
    )

    root = str(tmp_path / "lake_dr")
    kw_off = dict(near_dup=True)
    incremental_ingest(spark, _batch(spark, 0, 2000, "dr"), root,
                       **kw_off)
    build_text_index(spark, root, buckets=512)
    incremental_ingest(spark, _batch(spark, 10000, 2000, "ds"), root,
                       **kw_off)
    st0 = _read_lake_stats(spark, f"{root}/_lake_stats")
    m0 = st0[3]["text_index_b512"]
    assert m0 >= 1  # the tail feed's append accounting
    r1 = maintain_lake(spark, root, compact_above_files=1,
                       index_compact_above_files=256)
    assert r1["folded_tails"] == 1
    assert r1["deferred_units"] >= 1  # reclaim capped, work left
    # marker STANDING, untouched: the signal must keep firing
    st1 = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert st1[3]["text_index_b512"] == m0
    # second call resumes exactly the remainder: no tail to fold,
    # reclaim drains the rest, and the COMPLETED pass resets
    r2 = maintain_lake(spark, root, compact_above_files=1,
                       index_compact_above_files=256)
    assert r2["folded_tails"] == 0
    assert r2["reclaim_files_before"] > 0
    assert r2["deferred_units"] == 0
    st2 = _read_lake_stats(spark, f"{root}/_lake_stats")
    assert st2[3]["text_index_b512"] == 0
    # terminated: a trust_marker sweep now performs zero units
    r3 = maintain_lake(spark, root, compact_above_files=1,
                       index_compact_above_files=256,
                       trust_marker=True)
    assert r3["compacted_layers"] == 0
    _index_equals_docs(spark, root)


def test_fold_lists_the_base_without_input_files(
    spark, tmp_path, monkeypatch
):
    """The cheap fold counts the bucketed base through the driver
    listing (`readers._list_files`) that `read_layer` walks anyway —
    a Spark file-index count (`inputFiles()`) pays that same walk and
    then more driver calls and jobs. Pin it over one maintain_lake
    fold, at 4 and at 40 buckets: the base listing is walked at most
    4 times and no frame's `inputFiles()` is called."""
    from projet_big_data_boutin_danre_spark.sources import readers

    kw_off = dict(near_dup=True)
    frame_cls = type(spark.range(1))  # the concrete (classic) frame
    real_list = readers._list_files
    real_input_files = frame_cls.inputFiles
    for buckets in (4, 40):
        root = str(tmp_path / f"lake_nl{buckets}")
        incremental_ingest(spark, _batch(spark, 0, 20, "nl"), root,
                           **kw_off)
        build_text_index(spark, root, buckets=buckets)
        incremental_ingest(spark, _batch(spark, 100, 8, "nm"), root,
                           **kw_off)
        base_path = f"{root}/text_index_b{buckets}"
        base_walks = []
        input_files_calls = []

        def list_spy(spark_, path):
            if path.rstrip("/") == base_path:
                base_walks.append(path)
            return real_list(spark_, path)

        def input_files_spy(df):
            input_files_calls.append(df)
            return real_input_files(df)

        monkeypatch.setattr(readers, "_list_files", list_spy)
        monkeypatch.setattr(frame_cls, "inputFiles", input_files_spy)
        res = maintain_lake(spark, root, compact_above_files=1)
        monkeypatch.undo()
        assert res["folded_tails"] == 1
        assert len(base_walks) <= 4, (buckets, base_walks)
        assert input_files_calls == [], buckets


def test_torn_build_leaves_sidecar_absent_not_stale(
    spark, tmp_path, monkeypatch
):
    """r19 (advisor, low): build_text_index regenerated the _ids
    sidecar only AFTER the in-place base overwrite — a crash in the
    window left the OLD sidecar over-stating presence against a
    torn base (in-band stale-PRESENT). Pin the fix ordering: crash
    the build right after the point where the old base would start
    being overwritten — the pre-existing sidecar must already be
    GONE (absent degrades the heal to the root read; stale would
    skip heals)."""
    from projet_big_data_boutin_danre_spark import corpus_pipeline as cp

    root = str(tmp_path / "lake_tb")
    kw_off = dict(near_dup=True)
    incremental_ingest(spark, _batch(spark, 0, 12, "tb"), root,
                       **kw_off)
    build_text_index(spark, root, buckets=4)
    ids_dir = tmp_path / "lake_tb" / "text_index_b4_ids"
    assert ids_dir.exists()
    incremental_ingest(spark, _batch(spark, 100, 4, "tc"), root,
                       **kw_off)

    def boom(*a, **k):
        raise RuntimeError("injected crash before the base overwrite")

    # _bucket_sliced is called to shape the overwrite job — crashing
    # there is the earliest instant of the torn-build window
    monkeypatch.setattr(cp, "_bucket_sliced", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        build_text_index(spark, root, buckets=4)
    assert not ids_dir.exists()  # deleted BEFORE the window opened
    # and admission still works end-to-end off the root-read path:
    # a replay of already-admitted content admits nothing
    monkeypatch.undo()
    r = incremental_ingest(spark, _batch(spark, 0, 12, "tb"), root,
                           **kw_off)
    assert r["admitted"] == 0
