"""Unit tests for the corpus-pipeline operators (dedup, text,
similarity, multimodal) on tiny in-memory frames — semantics-level
checks; cross-engine equivalence is covered by tools/verify_local.py."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from projet_big_data_boutin_danre_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog", "a"),
        (2, "The quick brown fox jumps over the lazy dog!", "a"),  # near-dup of 1
        (3, "the QUICK  brown fox jumps over the lazy dog", "a"),  # exact after norm
        (4, "completely different content with zero overlap", "b"),
        (5, "le chat et le chien et la maison des amis", "b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, src string")


def test_exact_dedup_normalized(spark, docs):
    out = dedup.exact_dedup(docs, "doc_id", "text").collect()
    ids = sorted(r.doc_id for r in out)
    # 1 and 3 normalize identically -> keeper is min id (1); 2 differs
    # only by '!' which normalization strips -> also collapses into 1.
    assert ids == [1, 4, 5]


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=8, bands=4
        ).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert all(a < b for a, b in pairs)
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_lsh_max_bucket_caps_pair_blowup(spark):
    # 6 identical docs -> one bucket per band; uncapped = C(6,2)=15
    # pairs. Capped at 3: all-pairs among the 3 smallest ids PLUS a
    # keeper star to every id past the cap — every member stays
    # chained to id 1's component.
    rows = [(i, "same boilerplate text everywhere") for i in range(1, 7)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            df, "doc_id", "text", num_hashes=8, bands=4, max_bucket=3
        ).collect()
    }
    assert capped == {(1, 2), (1, 3), (2, 3), (1, 4), (1, 5), (1, 6)}


def test_minhash_lsh_mega_bucket_stays_bounded(spark):
    # VERDICT r3 #4: synthetic mega-bucket (every doc identical). With
    # max_bucket=m the per-bucket pair count is C(m,2) + (n-m), NOT
    # C(n,2) — and every doc is still reachable from the keeper.
    n, m = 60, 5
    rows = [(i, "identical boilerplate page body") for i in range(1, n + 1)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            df, "doc_id", "text", num_hashes=8, bands=4, max_bucket=m
        ).collect()
    }
    assert len(pairs) == m * (m - 1) // 2 + (n - m)  # 10 + 55, not 1770
    members = {i for p in pairs for i in p}
    assert members == set(range(1, n + 1))  # nobody dropped
    assert all(a < b for a, b in pairs)
    # keeper star: everything past the cap pairs with id 1 directly
    assert {(1, i) for i in range(m + 1, n + 1)} <= pairs


def test_minhash_lsh_scale_profiles(spark):
    rows = [(i, f"unique document number {i}") for i in range(1, 5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # production preset wires in PRODUCTION_MAX_BUCKET; on a tiny
    # input (buckets << cap) it must agree with the exact profile
    exact = set(
        map(tuple, dedup.minhash_lsh_pairs(df, "doc_id", "text").collect())
    )
    prod = set(
        map(
            tuple,
            dedup.minhash_lsh_pairs(
                df, "doc_id", "text", scale_profile="production"
            ).collect(),
        )
    )
    assert prod == exact
    with pytest.raises(ValueError, match="scale_profile"):
        dedup.minhash_lsh_pairs(df, "doc_id", "text", scale_profile="bogus")


def test_regex_token_count_bpe_classes(spark):
    df = spark.createDataFrame(
        [("it's 42 km, ok!",)], "text string"
    )
    out = df.select(text.regex_token_count("text").alias("n")).collect()[0]
    # it | 's | ' 42' | ' km' | , | ' ok' | !  -> 7 matches
    assert out["n"] == 7


def test_asof_join_inclusive_and_null_semantics(spark):
    import datetime as dt

    from projet_big_data_boutin_danre_spark.operators.asof import asof_join

    t = dt.datetime(2025, 1, 1, 12, 0)
    left = spark.createDataFrame(
        [
            (1, 1, t),                              # equal ts -> inclusive match
            (2, 1, t + dt.timedelta(seconds=30)),   # later -> same match
            (3, 1, t - dt.timedelta(seconds=1)),    # before any right -> null
            (4, 2, t),                              # other key -> its own match
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, t, 10.0), (2, t - dt.timedelta(minutes=5), 99.0)],
        "user_id long, ts timestamp, v double",
    )
    out = {
        r["event_id"]: r["v"]
        for r in asof_join(left, right, "user_id", "ts", "ts", ["v"]).collect()
    }
    assert out == {1: 10.0, 2: 10.0, 3: None, 4: 99.0}


def test_interval_join_bounds_and_bin_spanning(spark):
    import datetime as dt

    from projet_big_data_boutin_danre_spark.operators.rangejoin import (
        interval_join,
    )

    t = dt.datetime(2025, 1, 1, 12, 0)
    points = spark.createDataFrame(
        [
            (1, 1, t),                                # == start: inclusive
            (2, 1, t + dt.timedelta(hours=1)),        # == end: inclusive
            (3, 1, t + dt.timedelta(hours=1, seconds=1)),  # past end
            (4, 1, t + dt.timedelta(minutes=59)),     # inside, later bin
            (5, 2, t),                                # other key: no interval
        ],
        "event_id long, user_id long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [(1, t, t + dt.timedelta(hours=1))],
        "user_id long, s timestamp, e timestamp",
    )
    # bin width (30 min) < interval length: interval spans 3 bins, and
    # each qualifying point must still appear exactly once
    out = sorted(
        r["event_id"]
        for r in interval_join(
            points, intervals, "user_id", "ts", "s", "e", bin_width_sec=1800
        ).collect()
    )
    assert out == [1, 2, 4]


def test_simhash_near_dups_close(spark, docs):
    rows = {r.id: r.simhash_bits for r in dedup.simhash(docs, "doc_id", "text").collect()}
    assert all(len(v) == 32 for v in rows.values())
    ham = lambda a, b: sum(x != y for x, y in zip(rows[a], rows[b]))
    assert ham(1, 3) == 0  # identical after normalization
    assert ham(1, 2) == 0
    assert ham(1, 4) > 4


def test_ngram_jaccard_blocked(spark, docs):
    out = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", "src", n=3).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert pairs[(1, 2)] == 1.0  # same tokens after normalization
    assert (1, 4) not in pairs  # different block
    assert (4, 5) not in pairs  # same block, zero shared grams


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=2
    ).collect()
    got = [(r.neighbor_id, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    assert got == [(1, 1), (2, 2)]
    top = next(r for r in out if r.rank == 1)
    assert abs(top.cosine - 0.9 / math.sqrt(0.81 + 0.01)) < 1e-6


def test_cosine_topk_cogroup_band_prereduce_parity(spark, monkeypatch):
    """The r20 per-slice top-k pre-reduce in cosine_topk_cogroup must
    be bit-identical to the closure path on a HOSTILE input: clusters
    of cosines within one rounding quantum of each other (so the band
    must keep every round-equal tie candidate for the neighbor_id
    tie-break) plus a zero vector whose cosines are NaN (which Spark's
    desc window ranks ABOVE every double — the band must keep them).
    On an input without such ties the cogroup stage must emit only the
    band — about k rows per (slice, query) — into the ranking window,
    never the full |slice|x|q| cross."""
    emitted = {}
    rank_topk = similarity._rank_topk

    def spy(scored, k, round_to):
        emitted["scored"] = scored
        return rank_topk(scored, k, round_to)

    monkeypatch.setattr(similarity, "_rank_topk", spy)
    rows = []
    for i in range(60):
        ang = 0.5 + (i % 7) * 1e-7  # near-identical cosine clusters
        rows.append((i, [math.cos(ang), math.sin(ang)] + [0.0] * 6))
    rows.append((60, [0.0] * 8))  # zero vector -> NaN cosine
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 3 == 0)
    cg = similarity.cosine_topk_cogroup(
        emb, q, "vec_id", "embedding", k=3, n_parts=4
    )
    cl = similarity.cosine_topk(
        emb, q, "vec_id", "embedding", k=3, mode="closure"
    )
    assert cg.exceptAll(cl).count() == 0
    assert cl.exceptAll(cg).count() == 0
    n_q = q.count()
    assert cg.count() == 3 * n_q  # k rows per query survived ranking
    # the pre-reduce must actually reduce: on distinct angles every
    # (slice, query) emits the k best rows plus at most one round-equal
    # tie (the mirror neighbor at the same angular distance)
    spread = spark.createDataFrame(
        [(i, [math.cos(i * 0.05), math.sin(i * 0.05)] + [0.0] * 6)
         for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    sq = spread.filter(F.col("vec_id") % 3 == 0)
    similarity.cosine_topk_cogroup(
        spread, sq, "vec_id", "embedding", k=3, n_parts=4
    )
    # bound: n_parts * (k + 1) rows per query; the cross is 59 per query
    assert emitted["scored"].count() <= 4 * (3 + 1) * sq.count()


def test_lang_id_and_quality(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in the house"),
            (2, "le chat et la maison des amis et les chiens"),
            (3, "xyzzy plugh qwerty"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.text_profile(df, "doc_id", "text").collect()}
    assert out[1].lang_detected == "en"
    assert out[2].lang_detected == "fr"
    assert out[3].lang_detected == "und"
    assert out[4].n_tokens == 0
    assert 0.0 <= out[1].quality <= 1.0


def test_multimodal_features_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "abc", "en", "s", 3), (2, "abc", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = multimodal.synth_media_from_documents(df)
    feats = multimodal.extract_features(media).collect()
    f = {r.media_id: list(r.feature) for r in feats}
    assert f[1] == f[2]  # same payload -> same stub features
    assert len(f[1]) == multimodal.FEATURE_DIM
    assert all(0.0 <= x <= 1.0 for x in f[1])


def test_extract_features_size_gate_reads_byte_strings(spark, tmp_path):
    """The size gate parses spark.sql.files.maxPartitionBytes the way
    Spark does: with Spark's default spelling "128MB", an input smaller
    than one scan partition keeps its partitioning (no round-robin
    exchange), and a bound below the input size still repartitions."""
    path = str(tmp_path / "media")
    spark.createDataFrame(
        [(1, "image", b"abc"), (2, "audio", b"defg")],
        "media_id long, kind string, payload binary",
    ).write.parquet(path)
    media = spark.read.parquet(path)

    def plan(bound: str) -> str:
        spark.conf.set("spark.sql.files.maxPartitionBytes", bound)
        out = multimodal.extract_features(media)
        return out._jdf.queryExecution().executedPlan().toString()

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        assert "RoundRobinPartitioning" not in plan("128MB")
        assert "RoundRobinPartitioning" in plan("16b")
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_perceptual_hash_properties(spark):
    """dHash semantics on the stub codec: identical payloads hash
    identically; a same-length single-byte edit stays within a couple
    of Hamming bits (locality — the property the resample stub exists
    to preserve); bands are 16-bit slices consistent with dhash_hex;
    NULL payloads yield NULL bands."""
    base = "the quick brown fox jumps over the lazy dog " * 4
    edited = base[:80] + "~" + base[81:]
    media = spark.createDataFrame(
        [(1, "image", base), (2, "image", base), (3, "image", edited),
         (4, "image", None), (5, "audio", base)],
        "media_id long, kind string, text string",
    ).select(
        "media_id", "kind",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    rows = {
        r["media_id"]: r
        for r in multimodal.perceptual_hash(media).collect()
    }
    assert set(rows) == {1, 2, 3, 4}  # audio filtered by kinds
    b1 = [rows[1][f"band{j}"] for j in range(4)]
    assert all(0 <= b <= 0xFFFF for b in b1)
    assert [rows[2][f"band{j}"] for j in range(4)] == b1
    assert rows[2]["dhash_hex"] == rows[1]["dhash_hex"]
    assert rows[1]["dhash_hex"] == "%04x%04x%04x%04x" % (
        b1[3], b1[2], b1[1], b1[0]
    )
    ham = sum(
        bin(rows[1][f"band{j}"] ^ rows[3][f"band{j}"]).count("1")
        for j in range(4)
    )
    assert ham <= 2
    assert rows[4]["band0"] is None and rows[4]["dhash_hex"] is None


def test_perceptual_phash_integer_dct(spark):
    """The r10 integer-DCT pHash kernel (method="phash"): identical
    payloads hash identically and match the pure-Python reference
    DCT computed outside Spark; a same-length single-byte edit stays
    within a few Hamming bits (DCT spreads a local edit across
    coefficients, so the band is wider than dHash's but still tiny);
    the DC bit (k=0) is forced 0; NULL payloads yield NULL bands."""
    base = "the quick brown fox jumps over the lazy dog " * 4
    edited = base[:80] + "~" + base[81:]
    media = spark.createDataFrame(
        [(1, "image", base), (2, "image", base), (3, "image", edited),
         (4, "image", None)],
        "media_id long, kind string, text string",
    ).select(
        "media_id", "kind",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    rows = {
        r["media_id"]: r
        for r in multimodal.perceptual_hash(media, method="phash").collect()
    }
    b1 = [rows[1][f"band{j}"] for j in range(4)]
    # driver-side reference: same kernel, no Spark in the loop
    ref = multimodal._phash_bands_py(
        multimodal._decode_gray32_stub(base.encode())
    )
    assert b1 == ref
    assert all(0 <= b <= 0xFFFF for b in b1)
    assert b1[0] & 1 == 0  # DC bit excluded
    assert [rows[2][f"band{j}"] for j in range(4)] == b1
    assert rows[2]["phash_hex"] == rows[1]["phash_hex"]
    ham = sum(
        bin(rows[1][f"band{j}"] ^ rows[3][f"band{j}"]).count("1")
        for j in range(4)
    )
    # DCT spreads a local edit across coefficients: wider band than
    # dHash's <=2 but far below the ~32 expected of unrelated images
    assert ham <= 10
    assert rows[4]["band0"] is None and rows[4]["phash_hex"] is None


def test_phash_brightness_shift_invariance():
    """What the DCT kernel buys over dHash: a global brightness shift
    (every pixel +c, clamped nowhere in this range) moves ONLY the DC
    coefficient — every AC coefficient and hence every hash bit is
    unchanged. Driver-side (the kernel is pure math)."""
    import random

    rng = random.Random(7)
    px = [rng.randrange(40, 200) for _ in range(32 * 32)]
    shifted = [p + 50 for p in px]
    assert multimodal._phash_bands_py(px) == multimodal._phash_bands_py(
        shifted
    )


def test_video_frame_hashes_and_near_dup_pairs(spark):
    """Video content dedup (r10): an exact copy shares every frame
    hash (Jaccard 1); a single-byte 're-encode' perturbs at most the
    one frame whose slice changed, so the pair still clears
    min_jaccard=0.5; an unrelated video is not paired. Frame cadence
    matches frame_sample (one per 1000 ms); empty payloads emit no
    frames."""
    import random

    rng = random.Random(11)
    base = bytes(rng.randrange(32, 127) for _ in range(600))
    edited = bytearray(base)
    edited[300] = ord("~")
    other = bytes(rng.randrange(32, 127) for _ in range(600))
    media = spark.createDataFrame(
        [
            (1, "video", base, 5000),
            (2, "video", base, 5000),  # exact copy
            (3, "video", bytes(edited), 5000),  # re-encode
            (4, "video", other, 5000),  # unrelated
            (5, "video", b"", 5000),  # empty payload
            (6, "image", base, 5000),  # filtered by kind
        ],
        "media_id long, kind string, payload binary, duration_ms long",
    )
    fh = multimodal.video_frame_hashes(media).localCheckpoint()
    per_vid = {
        r["media_id"]: r["cnt"]
        for r in fh.groupBy("media_id").agg(F.count("*").alias("cnt")).collect()
    }
    # 5000 ms at 1000 ms cadence = frames at 0..4000 → 5 per video
    assert per_vid == {1: 5, 2: 5, 3: 5, 4: 5}
    # hash64 packs the bands exactly
    r0 = fh.filter((F.col("media_id") == 1) & (F.col("frame_idx") == 0)).collect()[0]
    h = r0["band0"] | (r0["band1"] << 16) | (r0["band2"] << 32) | (
        r0["band3"] << 48
    )
    if h >= 1 << 63:
        h -= 1 << 64
    assert r0["hash64"] == h

    pairs = {
        (r["id_a"], r["id_b"]): (r["shared"], r["n_a"], r["n_b"])
        for r in multimodal.video_near_dup_pairs(fh, min_jaccard=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)][0] == 5  # exact copy: all shared
    assert (1, 3) in pairs and pairs[(1, 3)][0] >= 4  # re-encode: ≥4/5 frames
    assert not any(4 in p for p in pairs)  # unrelated video unpaired

    # hot-bucket cap: a hash shared by every video is dropped from
    # pair generation when the bucket exceeds the cap
    hot = spark.createDataFrame(
        [(i, 0, 1, 1, 1, 1, 7) for i in range(10)],
        "media_id long, frame_idx int, band0 int, band1 int, "
        "band2 int, band3 int, hash64 long",
    )
    assert multimodal.video_near_dup_pairs(hot, min_jaccard=0.1).count() == 45
    assert (
        multimodal.video_near_dup_pairs(hot, min_jaccard=0.1, max_bucket=5).count()
        == 0
    )


def test_audio_offset_voting_matches_trimmed_copy(spark):
    """Audio matching (r10): an exact copy votes at offset 0 with
    every window; a copy trimmed by a hop multiple matches at the
    corresponding positive offset (the shift-tolerance set-Jaccard
    lacks); an unrelated clip produces no pair at min_votes; the
    kernel skips NULL payloads and emits one hash per hop."""
    import random

    rng = random.Random(23)
    base = bytes(rng.randrange(256) for _ in range(1000))
    trimmed = base[6 * multimodal.AUDIO_HOP :]
    other = bytes(rng.randrange(256) for _ in range(1000))
    media = spark.createDataFrame(
        [
            (1, "audio", base),
            (2, "audio", base),
            (3, "audio", trimmed),
            (4, "audio", other),
            (5, "audio", None),
            (6, "video", base),  # filtered by kind
        ],
        "media_id long, kind string, payload binary",
    )
    wh = multimodal.audio_window_hashes(media).localCheckpoint()
    per = {
        r["media_id"]: r["c"]
        for r in wh.groupBy("media_id").agg(F.count("*").alias("c")).collect()
    }
    n_win = (1000 - multimodal.AUDIO_WINDOW) // multimodal.AUDIO_HOP + 1
    assert per[1] == per[2] == per[4] == n_win
    assert per[3] == n_win - 6
    assert 5 not in per and 6 not in per
    # driver-side reference for one window
    w0 = {r["media_id"]: r["hash32"] for r in wh.filter(F.col("win_idx") == 0).collect()}
    assert w0[1] == multimodal._audio_hash32_py(base[: multimodal.AUDIO_WINDOW])

    pairs = {
        (r["id_a"], r["id_b"]): (r["offset"], r["votes"])
        for r in multimodal.audio_match_pairs(wh, min_votes=4).collect()
    }
    assert pairs[(1, 2)] == (0, n_win)  # exact copy: all windows, offset 0
    off, votes = pairs[(1, 3)]
    assert off == 6 and votes == n_win - 6  # trimmed copy: shifted alignment
    assert not any(4 in p for p in pairs)

    # hot-bucket cap: a constant-byte 'silence' clip collides with
    # everything byte-identical; capped hashes generate no pairs
    silence = spark.createDataFrame(
        [(i, "audio", b"\x00" * 1000) for i in range(10, 20)],
        "media_id long, kind string, payload binary",
    )
    swh = multimodal.audio_window_hashes(silence)
    assert multimodal.audio_match_pairs(swh, min_votes=1).count() == 45
    assert (
        multimodal.audio_match_pairs(swh, min_votes=1, max_bucket=5).count()
        == 0
    )


def test_phash_near_dup_pairs_banding_contract(spark):
    """The pigeonhole recall contract, asserted at its boundary: a
    pair at Hamming d <= 3 always shares a band (found); a pair with
    one differing bit in EVERY band (d = 4) shares none (missed —
    the documented trade); max_bucket drops hot buckets from pair
    generation."""
    rows = [
        # 10-11: differ by 3 bits, all inside band0 -> found
        (10, 0b0111, 7, 7, 7, "x"),
        (11, 0b0000, 7, 7, 7, "x"),
        # 20-21: 1 bit per band (d=4, no shared band) -> missed
        (20, 1, 1, 1, 1, "x"),
        (21, 0, 0, 0, 0, "x"),
    ]
    hashes = spark.createDataFrame(
        rows,
        "media_id long, band0 int, band1 int, band2 int, band3 int, "
        "dhash_hex string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.phash_near_dup_pairs(
            hashes, max_hamming=4
        ).collect()
    }
    assert got == {(10, 11): 3}
    # hot-bucket cap: hashes sharing one band value across many rows
    hot = spark.createDataFrame(
        [(i, 5, 100 + i, 200 + i, 300 + i, "x") for i in range(10)],
        "media_id long, band0 int, band1 int, band2 int, band3 int, "
        "dhash_hex string",
    )
    assert (
        multimodal.phash_near_dup_pairs(
            hot, max_hamming=64, max_bucket=5
        ).count()
        == 0
    )
    assert (
        multimodal.phash_near_dup_pairs(hot, max_hamming=64).count()
        == 45
    )


def test_reencoded_variants_found_by_perceptual_dedup(spark):
    """End-to-end media dedup: synth media + re-encoded variants →
    perceptual_hash → banded Hamming pairs finds exactly the
    (original, variant) ground-truth pairs."""
    docs = spark.createDataFrame(
        [
            (i, f"word salad number {i} " * 12, "en", "s", 240)
            for i in (0, 12, 5, 7)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = multimodal.synth_media_from_documents(docs).unionByName(
        multimodal.synth_reencoded_variants(docs)
    )
    hashes = multimodal.perceptual_hash(media)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in multimodal.phash_near_dup_pairs(
            hashes, max_hamming=3
        ).collect()
    }
    # docs 0 and 12 are image-class (doc_id%3==0) and %12==0 -> each
    # has a variant at +1e9; docs 5/7 are not image/variant class
    assert pairs == {(0, 1_000_000_000), (12, 1_000_000_012)}


def test_reencoded_variant_of_empty_text_is_null_payload(spark):
    """The documented edge the kernel and the SQL twin must agree on:
    an EMPTY-text image has no content to re-encode, so its variant
    carries a NULL payload (not the bare midpoint byte) and both the
    original and the variant hash to NULL bands — excluded from
    pairing on both engines."""
    docs = spark.createDataFrame(
        [(24, "", "en", "s", 0), (36, "real words here " * 10, "en", "s", 160)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = multimodal.synth_media_from_documents(docs).unionByName(
        multimodal.synth_reencoded_variants(docs)
    )
    rows = {
        r["media_id"]: r["band0"]
        for r in multimodal.perceptual_hash(media).collect()
    }
    assert rows[24] is None and rows[1_000_000_024] is None
    assert rows[36] is not None and rows[1_000_000_036] is not None
    assert (
        multimodal.phash_near_dup_pairs(
            multimodal.perceptual_hash(media), max_hamming=3
        )
        .filter("id_a in (24) or id_b in (1000000024)")
        .count()
        == 0
    )


def test_media_clusters_and_keepers(spark):
    """Media dedup acts, not just detects (r12): the union of the
    three modality pair sets (image Hamming, video Jaccard, audio
    offset votes) feeds connected_components and each cluster gets a
    deterministic keeper (min media_id) — the same pairs → CC →
    keeper flow the text leg runs in dedup_clusters."""
    from projet_big_data_boutin_danre_spark.operators import dedup

    rows = [
        # image class (doc_id%3==0); %12==0 → re-encoded variant
        (0, "zero image salad words " * 12, "en", "s", 240),
        (12, "twelve image salad words " * 12, "en", "s", 240),
        # audio class (doc_id%3==1): 1 and 13 share content
        (1, "shared audio clip content " * 12, "en", "s", 240),
        (13, "shared audio clip content " * 12, "en", "s", 240),
        # video class (doc_id%3==2): 2 and 14 share content
        (2, "shared video reel content " * 12, "en", "s", 240),
        (14, "shared video reel content " * 12, "en", "s", 240),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = multimodal.synth_media_from_documents(docs).unionByName(
        multimodal.synth_reencoded_variants(docs)
    )
    clusters = multimodal.media_dedup_clusters(media)
    members = {r["node"]: r["component"] for r in clusters.collect()}
    # every synth variant collapses onto its original; the shared
    # audio/video content collapses onto the smaller id
    assert members == {
        0: 0,
        1_000_000_000: 0,
        12: 12,
        1_000_000_012: 12,
        1: 1,
        13: 1,
        2: 2,
        14: 2,
    }
    keepers = {n for n, c in members.items() if n == c}
    assert keepers == {0, 12, 1, 2}
    # applying the keeper decision drops exactly the non-keepers; the
    # apply join carries ids only (dedup.drop_near_duplicates)
    kept = dedup.drop_near_duplicates(media, "media_id", clusters)
    assert {r["media_id"] for r in kept.select("media_id").collect()} == {
        0, 1, 2, 12,
    }


def _phash_probe_case(spark):
    import random

    rng = random.Random(31)
    base = bytes(rng.randrange(256) for _ in range(600))
    other = bytes(rng.randrange(256) for _ in range(600))
    hist = spark.createDataFrame(
        [(1, "image", base), (2, "image", other)],
        "media_id long, kind string, payload binary",
    )
    flip = base[:300] + b"~" + base[301:]
    fresh = bytes(rng.randrange(256) for _ in range(600))
    batch = spark.createDataFrame(
        [(10, "image", flip), (11, "image", fresh), (12, "image", None)],
        "media_id long, kind string, payload binary",
    )
    seen_h = multimodal.perceptual_hash(hist).localCheckpoint()
    batch_h = multimodal.perceptual_hash(batch).localCheckpoint()
    # the re-encode hits; fresh + NULL payload pass
    return (
        lambda **kw: multimodal.phash_seen_ids(batch_h, seen_h, **kw),
        {10},
    )


def _vhash_probe_case(spark):
    H = 777  # a frame hash held by six admitted videos
    seen = spark.createDataFrame(
        [(v, H, 2) for v in range(1, 6)]
        + [(v, 100 + v, 2) for v in range(1, 6)]
        + [(6, 200, 3), (6, 201, 3), (6, H, 3)],
        "media_id long, hash64 long, n_frames long",
    )
    batch = spark.createDataFrame(
        [(9, H), (9, 101), (10, 200), (10, 201)],
        "media_id long, hash64 long",
    )
    return (
        lambda **kw: multimodal.vhash_seen_ids(
            batch, seen, min_jaccard=0.5, **kw
        ),
        {9, 10},
    )


def _audio_probe_case(spark):
    wschema = "media_id long, win_idx int, hash32 long"
    # recording 1: two silence hops (hash 0) + a unique tail
    seen = spark.createDataFrame(
        [(1, 0, 0), (1, 1, 0), (1, 2, 1000), (1, 3, 1001)], wschema
    )
    # 9 is the silence only; 8 is the tail alone, at another offset
    batch = spark.createDataFrame(
        [(9, 0, 0), (9, 1, 0), (8, 0, 1000), (8, 1, 1001)], wschema
    )
    return (
        lambda **kw: multimodal.audio_seen_ids(
            batch, seen, min_votes=2, **kw
        ),
        {8, 9},
    )


def _lsh_probe_case(spark):
    hist = spark.createDataFrame(
        [(i, f"history doc number {i} with some repeated body text")
         for i in range(20)],
        "doc_id long, text string",
    )
    # a 2-band recipe keeps the chunk count (one per band row) small
    recipe = {"num_hashes": 4, "bands": 2, "hash_family": "fast"}
    seen = dedup.lsh_bands(
        dedup.minhash_signatures(hist, "doc_id", "text", 4,
                                 hash_family="fast"),
        **recipe,
    ).localCheckpoint()
    batch = spark.createDataFrame(
        [(100, "history doc number 7 with some repeated body text"),
         (101, "completely fresh unseen payload")],
        "doc_id long, text string",
    )
    return (
        lambda **kw: dedup.lsh_seen_ids(
            batch, seen, "doc_id", "text", **recipe, **kw
        ),
        {100},
    )


@pytest.mark.parametrize(
    "case",
    [_phash_probe_case, _vhash_probe_case, _audio_probe_case,
     _lsh_probe_case],
    ids=["phash", "vhash", "audio", "lsh"],
)
def test_seen_ids_probe_and_chunking(spark, case):
    """Each history probe finds exactly the batch items that match
    history, and the mega-batch fallback (chunked broadcast, one row
    per chunk) returns the identical id set, with and without the
    hot-key cap — semantics are a set union over per-item chunks,
    never a shuffle of history."""
    probe, want = case(spark)

    def ids(max_broadcast_rows, **kw):
        return {
            r[0]
            for r in probe(
                max_broadcast_rows=max_broadcast_rows, **kw
            ).collect()
        }

    assert ids(None) == want == ids(1)
    assert ids(1, max_bucket=1) == ids(None, max_bucket=1)


def test_frame_sample_counts(spark):
    df = spark.createDataFrame(
        [(2, "t", "en", "s", 250)],  # doc_id%3==2 -> video, 2500ms
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = multimodal.synth_media_from_documents(df)
    out = multimodal.frame_sample(media, every_ms=1000).collect()
    assert sorted(r.frame_ms for r in out) == [0, 1000, 2000]


def test_chunk_text_overlap_and_coverage(spark):
    doc = "abcdefghijklmnopqrstuvwxyz" * 10  # 260 chars
    df = spark.createDataFrame([(1, doc), (2, "tiny"), (3, "")],
                               "doc_id long, text string")
    out = text.chunk_text(df, "doc_id", "text", chunk_chars=100, overlap=20)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    # doc 1: starts at 1, 81, 161, 241 (stride 80, until len-overlap=240)
    d1 = sorted(k[1] for k in rows if k[0] == 1)
    assert d1 == [0, 1, 2]
    assert rows[(1, 0)]["n_chars"] == 100
    # consecutive chunks overlap by exactly 20 chars
    assert rows[(1, 0)]["chunk"][-20:] == rows[(1, 1)]["chunk"][:20]
    # full reconstruction: chunk 0 + non-overlapping tails
    rebuilt = rows[(1, 0)]["chunk"] + rows[(1, 1)]["chunk"][20:] + rows[(1, 2)]["chunk"][20:]
    assert rebuilt == doc
    # short and empty docs -> exactly one chunk each
    assert rows[(2, 0)]["chunk"] == "tiny" and (2, 1) not in rows
    assert rows[(3, 0)]["n_chars"] == 0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="overlap"):
        text.chunk_text(df, "doc_id", "text", chunk_chars=10, overlap=10)


def test_chunk_tokens_windows(spark):
    words = " ".join(f"w{i}" for i in range(50))
    df = spark.createDataFrame([(1, words)], "doc_id long, text string")
    out = {r["chunk_id"]: r for r in text.chunk_tokens(
        df, "doc_id", "text", chunk_tokens=20, overlap=5
    ).collect()}
    # stride 15 over 50 tokens: starts 0, 15, 30 (until 50-5=45)
    assert sorted(out) == [0, 1, 2]
    assert out[0]["n_tokens"] == 20
    assert out[2]["n_tokens"] == 20
    # overlap: last 5 tokens of chunk 0 == first 5 of chunk 1
    assert out[0]["chunk"].split()[-5:] == out[1]["chunk"].split()[:5]
    # every token covered
    covered = set()
    for r in out.values():
        covered.update(r["chunk"].split())
    assert covered == set(words.split())


def test_np_bucket_kernel_matches_column_fold(spark, sf0001):
    """The Arrow/numpy bucket kernel (_bucketed_side, used by the ANN
    join paths AND near_dup_pairs_cosine_lsh since r5) must be
    BIT-identical to the Column-HOF fold (rh_lsh_buckets) — the fold
    is what the DuckDB oracle mirrors, so any divergence here is a
    silent correctness hole, not a perf detail."""
    import numpy as np

    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    emb = load_table(spark, sf0001, "embeddings")
    col_buckets = {
        r["id"]: r["bucket"]
        for r in similarity.rh_lsh_buckets(
            emb, "vec_id", "embedding", n_planes=8, dim=64, seed=7
        ).collect()
    }
    planes = np.asarray(similarity._lcg_planes(8, 64, seed=7), dtype=np.float64)
    np_buckets = {
        r["id"]: r["bucket"]
        for r in similarity._bucketed_side(
            emb, "vec_id", "embedding", "id", "v", [("", planes)]
        ).collect()
    }
    assert np_buckets == col_buckets


def test_assemble_chunks_round_trips_zero_overlap(spark, sf0001):
    """chunk_text(overlap=0) → assemble_chunks reproduces every
    document byte-for-byte — the chunker drops nothing and the
    assembler orders correctly regardless of shuffle arrival order."""
    from projet_big_data_boutin_danre_spark.operators.text import (
        assemble_chunks,
        chunk_text,
    )
    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    docs = load_table(spark, sf0001, "documents").filter(
        F.col("text").isNotNull()
    )
    chunks = chunk_text(docs, "doc_id", "text", chunk_chars=100, overlap=0)
    # scramble partitioning so assembly can't rely on arrival order
    back = assemble_chunks(chunks.repartition(16), "doc_id", "chunk_id")
    joined = back.join(
        docs.select("doc_id", F.col("text").alias("orig")), "doc_id"
    )
    assert joined.count() == docs.count()
    assert joined.filter(F.col("text") != F.col("orig")).count() == 0


def test_assemble_chunks_with_separator(spark):
    from projet_big_data_boutin_danre_spark.operators.text import (
        assemble_chunks,
    )

    df = spark.createDataFrame(
        [(1, 2, "c"), (1, 0, "a"), (1, 1, "b"), (2, 0, "solo")],
        "doc_id long, chunk_id int, chunk string",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_chunks"])
        for r in assemble_chunks(df, sep="|").collect()
    }
    assert got == {1: ("a|b|c", 3), 2: ("solo", 1)}


def test_balance_for_fanout_falls_back_only_without_a_context():
    """No Spark needed: a session without a driver-side SparkContext
    (Spark Connect raises PySparkAttributeError, an AttributeError)
    leaves the input as-is; any other failure propagates."""
    from pyspark.errors import PySparkAttributeError

    class _Frame:
        def __init__(self, exc):
            def _raise(_):
                raise exc

            self.sparkSession = type(
                "_Session", (), {"sparkContext": property(_raise)}
            )()

    connect = _Frame(
        PySparkAttributeError(
            errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED",
            messageParameters={"attr_name": "sparkContext"},
        )
    )
    assert dedup.balance_for_fanout(connect) is connect
    with pytest.raises(RuntimeError, match="boom"):
        dedup.balance_for_fanout(_Frame(RuntimeError("boom")))


def test_plan_probes_fall_back_only_without_a_jvm_plan():
    """No Spark needed: a frame with no ``_jdf`` and no ``rdd`` (Spark
    Connect) reports an unknown split count and frees nothing; any
    other failure propagates."""
    from pyspark.errors import PySparkNotImplementedError

    class _Connect:
        @property
        def rdd(self):
            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "rdd"},
            )

    class _Broken:
        @property
        def _jdf(self):
            raise RuntimeError("boom")

    assert dedup._plan_partitions(_Connect()) is None
    assert dedup._free_local_checkpoint(_Connect()) is None
    with pytest.raises(RuntimeError, match="boom"):
        dedup._plan_partitions(_Broken())
    with pytest.raises(RuntimeError, match="boom"):
        dedup._free_local_checkpoint(_Broken())


def test_fast_hash_family_dedup_parity(spark, docs):
    """hash_family="fast" (xxhash64 longs) must preserve dedup
    SEMANTICS: identical exact-dup groups (content-deterministic under
    any hash), near-dup recall on the same fixture, and LONG-typed
    signatures/band keys (the narrow-shuffle point of the fast path)."""
    g_md5 = {
        (r.keeper_id, r.n_copies)
        for r in dedup.exact_dedup_stats(docs, "doc_id", "text").collect()
    }
    g_fast = {
        (r.keeper_id, r.n_copies)
        for r in dedup.exact_dedup_stats(
            docs, "doc_id", "text", hash_family="fast"
        ).collect()
    }
    assert g_md5 == g_fast

    sigs = dedup.minhash_signatures(
        docs, "doc_id", "text", hash_family="fast"
    )
    assert all(
        f.dataType.simpleString() == "bigint"
        for f in sigs.schema.fields
        if f.name.startswith("sig_")
    )
    pairs_df = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=8, bands=4, hash_family="fast"
    )
    pairs = {(r.id_a, r.id_b) for r in pairs_df.collect()}
    # exact-after-normalization dups (1,2,3) always collide under any
    # hash family; 4 and 5 share no shingles with anything
    assert {(1, 2), (1, 3), (2, 3)} <= pairs
    assert not any(4 in p or 5 in p for p in pairs)

    bands_df = dedup.lsh_bands(sigs, hash_family="fast")
    assert dict(bands_df.dtypes)["band_key"] == "bigint"


def test_fast_hash_family_simhash(spark, docs):
    out = {
        r.id: r.simhash_bits
        for r in dedup.simhash(
            docs, "doc_id", "text", bits=32, hash_family="fast"
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert all(len(b) == 32 and set(b) <= {"0", "1"} for b in out.values())
    # normalized-identical docs hash identically; near-dups are close
    assert out[1] == out[3] == out[2]
    ham = sum(a != b for a, b in zip(out[1], out[4]))
    assert ham > 4  # different content is far

    with pytest.raises(ValueError, match="hash_family"):
        dedup.simhash(docs, "doc_id", "text", hash_family="sha9")


def test_repetition_profile_signals(spark):
    rows = [
        (1, "spam spam spam spam spam"),          # one bigram repeated
        (2, "all words here are fully distinct"),  # no repetition
        (3, "word"),                               # 1 token: no bigrams
        (4, ""),                                   # empty
        (5, "b a b a c c b a"),                    # tie + mixed
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.repetition_profile(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3, 4, 5}

    r1 = out[1]  # 5 tokens, 4 bigrams all "spam spam"
    assert (r1.n_tokens, r1.n_bigrams, r1.n_distinct_bigrams) == (5, 4, 1)
    assert r1.dup_bigram_frac == 0.75
    assert r1.top_bigram == "spam spam" and r1.top_bigram_n == 4
    assert r1.top_bigram_frac == 1.6  # 2*4/5: overlapping occurrences

    r2 = out[2]
    assert r2.dup_bigram_frac == 0.0 and r2.top_bigram_n == 1

    for short in (3, 4):
        r = out[short]
        assert (r.n_bigrams, r.top_bigram_n) == (0, 0)
        assert r.dup_bigram_frac == 0.0 and r.top_bigram_frac == 0.0
        assert r.top_bigram is None
    assert out[4].n_tokens == 0

    r5 = out[5]  # "b a" x3 is the hottest; tie-break is lexicographic
    assert r5.top_bigram == "b a" and r5.top_bigram_n == 3


def test_ngram_contamination_and_decontaminate(spark):
    probes = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two exactly")],
        "pid long, ptext string",
    )
    docs = spark.createDataFrame(
        [
            # contains a full 8-gram of the probe
            (1, "intro text the secret benchmark answer is forty two exactly and more"),
            # shares only a 3-token overlap -> clean at n=8
            (2, "the secret benchmark of something unrelated entirely here now"),
            (3, "completely clean document with no overlap at all whatsoever"),
            (4, "short doc"),  # < n tokens: never flagged
        ],
        "doc_id long, text string",
    )
    hits = {
        r.doc_id: (r.n_hit_grams, r.n_hit_probes)
        for r in text.ngram_contamination(
            docs, "doc_id", "text", probes, "pid", "ptext", n=8
        ).collect()
    }
    assert set(hits) == {1}
    assert hits[1][1] == 1  # one probe doc hit
    assert hits[1][0] >= 1

    clean = text.decontaminate(
        docs, "doc_id", "text", probes, "pid", "ptext", n=8
    )
    assert sorted(r.doc_id for r in clean.collect()) == [2, 3, 4]

    # lowering n flags the partial-overlap doc too
    hits3 = {
        r.doc_id
        for r in text.ngram_contamination(
            docs, "doc_id", "text", probes, "pid", "ptext", n=3
        ).collect()
    }
    assert {1, 2} <= hits3 and 3 not in hits3 and 4 not in hits3


def test_ngram_contamination_probe_side_broadcast(spark):
    probes = spark.createDataFrame(
        [(1, "a b c d e f g h")], "pid long, ptext string"
    )
    docs = spark.createDataFrame(
        [(2, "x a b c d e f g h y")], "doc_id long, text string"
    )
    out = text.ngram_contamination(
        docs, "doc_id", "text", probes, "pid", "ptext", n=8
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # corpus side never shuffles to join


def test_vocab_topk_ranks_and_ties(spark):
    rows = [
        (1, "b b b a a c", "x"),
        (2, "a d", "x"),
        (3, "", "y"),          # empty text: no tokens for group y...
        (4, "zz", "y"),        # ...but y still has one via doc 4
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.lang: (r.n_vocab, r.top_tokens) for r in text.vocab_topk(df, "text", "lang", k=2).collect()}
    # group x: a=3, b=3 (tie -> 'a' first lexicographically), c=1, d=1
    assert out["x"][0] == 4
    assert out["x"][1] == "a:3,b:3"
    assert out["y"] == (1, "zz:1")


def test_semantic_dedup_keeps_one_per_cluster(spark):
    import math

    def vec(theta):
        # 64-dim embedding: unit 2D rotation embedded in the first two
        # dims (cosine between vecs == cos of angle delta)
        v = [0.0] * 64
        v[0], v[1] = math.cos(theta), math.sin(theta)
        return v

    rows = [
        (1, vec(0.00)),
        (2, vec(0.01)),   # ~1 with cos ~0.99995
        (3, vec(0.02)),   # chains to 2 (and 1)
        (10, vec(1.2)),   # far from cluster A
        (11, vec(1.21)),  # ~10
        (20, vec(2.6)),   # singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(
        r.vec_id
        for r in similarity.semantic_dedup(
            df, "vec_id", "embedding", threshold=0.99
        ).collect()
    )
    assert kept == [1, 10, 20]


def test_doc_keywords_rank_and_ties(spark):
    from projet_big_data_boutin_danre_spark.operators import text as t

    df = spark.createDataFrame(
        [
            # doc 1: 'alpha' tf=3; 'beta'/'gamma' tf=1 -> df tiebreak:
            # gamma (df=1, rarer) beats beta (df=2); then token asc
            (1, "alpha alpha alpha beta gamma"),
            (2, "beta delta delta"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.top_terms for r in t.doc_keywords(df, "doc_id", "text", k=2).collect()}
    assert out[1] == "alpha:3:1,gamma:1:1"
    assert out[2] == "delta:2:1,beta:1:2"
    assert 3 not in out  # empty text: no tokens, no row


def test_length_trim_exact_and_null_handling(spark):
    from projet_big_data_boutin_danre_spark.operators import text as t

    rows = [("en", "x" * n) for n in range(1, 101)] + [
        ("en", None),
        ("fr", "y" * 10),
    ]
    df = spark.createDataFrame(rows, "lang string, text string")
    kept = t.length_trim(df, "text", "lang", lo=0.05, hi=0.95)
    lens = sorted(len(r.text) for r in kept.filter("lang='en'").collect())
    # exact percentile (linear interp) of 1..100: p5=5.95, p95=95.05
    assert lens[0] == 6 and lens[-1] == 95
    assert kept.filter("text IS NULL").count() == 0
    # single-doc group: its own length is both bounds -> kept
    assert kept.filter("lang='fr'").count() == 1
    # approx mode keeps a similar band and the same plan shape
    ka = t.length_trim(df, "text", "lang", lo=0.05, hi=0.95, approx=True)
    la = sorted(len(r.text) for r in ka.filter("lang='en'").collect())
    assert abs(la[0] - 6) <= 2 and abs(la[-1] - 95) <= 2
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_clean_lines_c4_rules(spark):
    """C4-style line filter: min-word floor, blocklist substring,
    optional terminal-punctuation requirement; counts audit the drop
    and NULL text stays NULL."""
    from projet_big_data_boutin_danre_spark.operators import text as t

    rows = [
        (1, "This is a fine long line.\nshort one\n"
            "enable javascript to view this page.\n"
            "Another keeper sentence here!"),
        (2, "only\n\ntiny"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r.asDict()
        for r in t.clean_lines(
            df, "doc_id", "text", min_words=4, blocklist=("javascript",)
        ).collect()
    }
    assert out[1]["clean_text"] == (
        "This is a fine long line.\nAnother keeper sentence here!"
    )
    assert (out[1]["n_lines_total"], out[1]["n_lines_kept"]) == (4, 2)
    assert out[2]["clean_text"] == "" and out[2]["n_lines_kept"] == 0
    assert out[3]["clean_text"] is None
    # terminal punctuation mode drops the unpunctuated keeper
    strict = {
        r["doc_id"]: r["clean_text"]
        for r in t.clean_lines(
            df, "doc_id", "text", min_words=4,
            blocklist=("javascript",), require_terminal_punct=True,
        ).collect()
    }
    assert strict[1] == (
        "This is a fine long line.\nAnother keeper sentence here!"
    )
    # a keeper without terminal punct is dropped under strict mode
    df2 = spark.createDataFrame(
        [(9, "four words no punct here\nA proper sentence ends well.")],
        "doc_id long, text string",
    )
    s2 = t.clean_lines(
        df2, "doc_id", "text", min_words=4, require_terminal_punct=True
    ).collect()[0]
    assert s2["clean_text"] == "A proper sentence ends well."


def test_gopher_rules_table_a1_bounds(spark):
    """Each Gopher rule fires on a doc crafted to violate exactly it;
    a healthy prose doc passes; NULL text is all-zero and fails."""
    from projet_big_data_boutin_danre_spark.operators import text as t

    good = (
        "the quick brown fox jumps over that lazy dog with great "
        "energy and style of movement be have done well here today "
    ) * 3  # 66 words, all alphabetic, 7 stop words
    rows = [
        (1, good),
        (2, "too few words to pass the minimum bound"),  # < 50 words
        (3, None),
        # symbol spam: '#' ratio > 0.1
        (4, ("# " * 30) + good),
        # bullet wall: 10 bullet lines + 1 prose line > 90%... (10/11
        # is under 90%? 10*10=100 > 9*11=99 -> fails)
        (5, "\n".join(["- item"] * 10) + "\n" + good),
        # ellipsis endings on half the lines (> 30%)
        (6, (good + "...\n") * 2 + good),
        # long 'words': mean word length > 10
        (7, ("pneumonoultramicroscopics " * 60) + "the of and be"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r.asDict()
        for r in t.gopher_rules(df, "doc_id", "text").collect()
    }
    assert out[1]["gopher_pass"] is True
    assert out[1]["g_words"] == 66 and out[1]["g_stop_hits"] == 7
    assert out[2]["gopher_pass"] is False  # word floor
    assert out[3]["gopher_pass"] is False and out[3]["g_words"] == 0
    assert out[4]["gopher_pass"] is False  # symbol ratio
    assert out[4]["g_symbols"] == 30
    assert out[5]["gopher_pass"] is False  # bullet share
    assert out[5]["g_bullet_lines"] == 10
    assert out[6]["gopher_pass"] is False  # ellipsis share
    assert out[6]["g_ellipsis_lines"] == 2 and out[6]["g_lines"] == 3
    assert out[7]["gopher_pass"] is False  # mean word length
    # repetition signals (separate Gopher filter set — not in pass):
    # doc 5's repeated bullet lines are duplicates beyond the first
    assert out[5]["g_dup_lines"] == 9
    assert out[5]["g_dup_line_chars"] == 9 * len("- item")
    assert out[1]["g_dup_lines"] == 0 and out[1]["g_dup_line_chars"] == 0
    # paragraph dup (blank-line blocks): a repeated paragraph counts
    # once beyond the first, with its characters
    df_p = spark.createDataFrame(
        [(1, "same para body\n\nsame para body\n\nfresh one")],
        "doc_id long, text string",
    )
    p = t.gopher_rules(df_p, "doc_id", "text").collect()[0]
    assert p["g_dup_paras"] == 1
    assert p["g_dup_para_chars"] == len("same para body")
    assert out[1]["g_dup_paras"] == 0
    # relaxed bounds flip the word-floor failure only
    relaxed = {
        r["doc_id"]: r["gopher_pass"]
        for r in t.gopher_rules(
            df, "doc_id", "text", min_words=5, min_stop_hits=1
        ).collect()
    }
    assert relaxed[2] is True and relaxed[4] is False


def test_ngram_repetition_counts(spark):
    """Generalized Gopher n-gram surfaces: totals/distinct/top at
    arbitrary n; sub-n docs and NULL text get zeros; n=2 agrees with
    repetition_profile's bigram numbers."""
    from projet_big_data_boutin_danre_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, "a b c a b c a b"), (2, "x y"), (3, None)],
        "doc_id long, text string",
    )
    g3 = {
        r["doc_id"]: (r["n_ngrams"], r["n_distinct_ngrams"], r["top_ngram_n"])
        for r in t.ngram_repetition(df, "doc_id", "text", 3).collect()
    }
    # trigrams of [a b c a b c a b]: 6 total, {abc, bca, cab} distinct
    assert g3[1] == (6, 3, 2)
    assert g3[2] == (0, 0, 0) and g3[3] == (0, 0, 0)
    g2 = {
        r["doc_id"]: (r["n_ngrams"], r["n_distinct_ngrams"], r["top_ngram_n"])
        for r in t.ngram_repetition(df, "doc_id", "text", 2).collect()
    }
    rp = {
        r["doc_id"]: (r["n_bigrams"], r["n_distinct_bigrams"], r["top_bigram_n"])
        for r in t.repetition_profile(df, "doc_id", "text").collect()
    }
    assert g2 == {k: (v[0], v[1], v[2]) for k, v in rp.items()}


def test_phash_seen_ids_id_column_hygiene(spark):
    """The probe's long layout is built from Column objects, so an id
    column whose name needs quoting works, and names that collide
    with the layout's own outputs are refused loudly (r12 advisor)."""
    import random

    rng = random.Random(47)
    base = bytes(rng.randrange(256) for _ in range(600))
    hist = spark.createDataFrame(
        [(1, "image", base)], "media_id long, kind string, payload binary"
    )
    seen_h = multimodal.perceptual_hash(hist).localCheckpoint()
    # an id column spelled like a SQL keyword with a space — raw
    # selectExpr splicing would fail to parse this (both frames carry
    # the lake's id column name, as in the real sidecar)
    odd = seen_h.withColumnRenamed("media_id", "select id")
    hits = multimodal.phash_seen_ids(odd, odd, id_col="select id").collect()
    assert {r["select id"] for r in hits} == {1}
    for bad in ("band", "band_key", "band0"):
        with pytest.raises(ValueError, match="reserves the column"):
            multimodal.phash_seen_ids(
                seen_h.withColumnRenamed("media_id", bad),
                seen_h,
                id_col=bad,
            )


def test_phash_near_dup_pairs_quoted_id_column(spark):
    """The pair generator builds its band layout from Column objects
    like the history probe: an id column whose name needs quoting
    gives the same pairs as a plain name."""
    import random

    rng = random.Random(53)
    base = bytes(rng.randrange(256) for _ in range(600))
    media = spark.createDataFrame(
        [(1, "image", base), (2, "image", base[:300] + b"~" + base[301:]),
         (3, "image", bytes(rng.randrange(256) for _ in range(600)))],
        "media_id long, kind string, payload binary",
    )
    hashes = multimodal.perceptual_hash(media).localCheckpoint()
    plain = multimodal.phash_near_dup_pairs(hashes).collect()
    assert [(r["id_a"], r["id_b"]) for r in plain] == [(1, 2)]
    quoted = multimodal.phash_near_dup_pairs(
        hashes.withColumnRenamed("media_id", "media-id"), id_col="media-id"
    ).collect()
    assert sorted(map(tuple, quoted)) == sorted(map(tuple, plain))


def test_media_seen_ids_hot_bucket_caps(spark):
    """r14 (verdict #4 / r13 advisor medium): max_bucket on the
    video/audio history probes drops over-common sidecar hashes
    (black frames, silence) from the match — under-blocking only,
    never false blocking — and in the audio case prevents a genuine
    FALSE BLOCK: _audio_hash32_py maps constant byte runs to hash 0,
    so two unrelated recordings sharing >= min_votes hops of silence
    at aligned offsets would otherwise vote past the threshold."""
    wschema = "media_id long, win_idx int, hash32 long"
    # history recording 1: 7 silence windows (hash 0) + unique tail
    seen = spark.createDataFrame(
        [(1, i, 0) for i in range(7)]
        + [(1, 7 + i, 1000 + i) for i in range(10)],
        wschema,
    )
    # UNRELATED new recording 9: same silence prefix, different tail
    batch = spark.createDataFrame(
        [(9, i, 0) for i in range(7)]
        + [(9, 7 + i, 2000 + i) for i in range(10)],
        wschema,
    )
    hit = multimodal.audio_seen_ids(batch, seen, min_votes=4)
    assert {r["media_id"] for r in hit.collect()} == {9}  # the false block
    capped = multimodal.audio_seen_ids(
        batch, seen, min_votes=4, max_bucket=5
    )
    assert capped.count() == 0  # silence bucket dropped -> admitted
    # a TRUE duplicate (recording 1 trimmed by 2 hops) still matches
    # through the cap: its unique tail windows vote at one offset
    dup = spark.createDataFrame(
        [(8, i, 0) for i in range(5)]
        + [(8, 5 + i, 1000 + i) for i in range(10)],
        wschema,
    )
    hit2 = multimodal.audio_seen_ids(dup, seen, min_votes=4, max_bucket=5)
    assert {r["media_id"] for r in hit2.collect()} == {8}
    # video face: a frame hash held by >max_bucket admitted videos is
    # dropped from the probe; n_a stays FULL-set so the cap can only
    # LOWER similarity (a batch video sharing only the hot hash plus
    # one frame is no longer flagged)
    fschema = "media_id long, hash64 long, n_frames long"
    H = 777
    seen_v = spark.createDataFrame(
        [(v, H, 2) for v in range(1, 6)]
        + [(v, 100 + v, 2) for v in range(1, 6)],
        fschema,
    )
    batch_v = spark.createDataFrame(
        [(9, H), (9, 101)], "media_id long, hash64 long"
    )
    vhit = multimodal.vhash_seen_ids(batch_v, seen_v, min_jaccard=0.5)
    assert {r["media_id"] for r in vhit.collect()} == {9}
    vcap = multimodal.vhash_seen_ids(
        batch_v, seen_v, min_jaccard=0.5, max_bucket=4
    )
    # H dropped (5 holders > 4): shared with v1 = {101} only ->
    # J = 1/(2+2-1) = 1/3 < 0.5
    assert vcap.count() == 0
    # an exact frame-set twin of v1 still matches through the cap?
    # No — and that is the DOCUMENTED trade: v1's only other frame
    # IS the hot hash's partner, so J = 1/3. A video matching on two
    # non-hot frames does:
    seen_v2 = seen_v.union(
        spark.createDataFrame([(6, 200, 3), (6, 201, 3), (6, H, 3)], fschema)
    )
    batch_v2 = spark.createDataFrame(
        [(10, 200), (10, 201), (10, H)], "media_id long, hash64 long"
    )
    vhit2 = multimodal.vhash_seen_ids(
        batch_v2, seen_v2, min_jaccard=0.5, max_bucket=4
    )
    # shared = {200,201}, J = 2/(3+3-2) = 0.5 -> flagged
    assert {r["media_id"] for r in vhit2.collect()} == {10}
    # image face (r14 symmetry): a hot (band, value) held by more
    # than max_bucket sidecar rows is dropped from the probe; an
    # image matching ONLY through the hot band is no longer flagged,
    # while an exact duplicate still matches via its other bands
    bschema = (
        "media_id long, band0 int, band1 int, band2 int, band3 int, "
        "dhash_hex string"
    )
    seen_p = spark.createDataFrame(
        [(v, 7, 100 + v, 200 + v, 300 + v, "x") for v in range(1, 8)],
        bschema,
    )
    # batch image 9 shares ONLY band0=7 (the hot bucket, 7 holders)
    batch_p = spark.createDataFrame(
        [(9, 7, 900, 901, 902, "y")], bschema
    )
    # uncapped: candidate via band0, but true Hamming is large -> the
    # verify step already rejects it; capped: no candidate at all
    assert multimodal.phash_seen_ids(batch_p, seen_p).count() == 0
    assert (
        multimodal.phash_seen_ids(batch_p, seen_p, max_bucket=5).count()
        == 0
    )
    # an exact duplicate of image 3 still matches through the cap:
    # band0 is capped out but bands 1-3 are unique buckets
    dup_p = spark.createDataFrame(
        [(19, 7, 103, 203, 303, "x")], bschema
    )
    hit_p = multimodal.phash_seen_ids(dup_p, seen_p, max_bucket=5)
    assert {r["media_id"] for r in hit_p.collect()} == {19}


def test_lsh_seen_ids_hot_bucket_cap(spark):
    """r14: the media probes' hot-bucket guard applied to the TEXT
    LSH gate — a band key held by more than max_bucket history rows
    is dropped from the probe, so a batch doc colliding ONLY on the
    degenerate bucket is admitted (the over-blocking narrows), while
    a doc also colliding on a normal bucket still blocks."""
    bschema = "id long, band int, band_key string"
    # history: band (0, 'HOT') held by 6 docs; (1, 'u1') by one
    seen = spark.createDataFrame(
        [(i, 0, "HOT") for i in range(6)] + [(0, 1, "u1")], bschema
    )
    batch = spark.createDataFrame(
        [(100, 0, "HOT"), (101, 0, "HOT"), (101, 1, "u1")], bschema
    )
    hits = dedup.lsh_seen_ids(
        None, seen, "id", "text", bands_df=batch
    )
    assert {r["id"] for r in hits.collect()} == {100, 101}
    capped = dedup.lsh_seen_ids(
        None, seen, "id", "text", bands_df=batch, max_bucket=5
    )
    # 100 collided only via the hot bucket -> admitted; 101 still
    # blocks through its normal bucket
    assert {r["id"] for r in capped.collect()} == {101}


def test_media_seen_ids_reserved_names_complete(spark):
    """r13 advisor: the reserved-name guards must cover EVERY name
    the probes generate — the prefixed id aliases (bid/sid), the
    per-band aliases (b0..3/s0..3), and the video/audio probes'
    own layouts — not just the stacked band columns. An id column
    named e.g. 'sid' or 'b0' previously collided silently with the
    probe's internal columns."""
    import random

    rng = random.Random(48)
    base = bytes(rng.randrange(256) for _ in range(600))
    img = spark.createDataFrame(
        [(1, "image", base)], "media_id long, kind string, payload binary"
    )
    seen_h = multimodal.perceptual_hash(img).localCheckpoint()
    for bad in ("bid", "sid", "b0", "b3", "s0", "s3"):
        with pytest.raises(ValueError, match="phash_seen_ids reserves"):
            multimodal.phash_seen_ids(
                seen_h.withColumnRenamed("media_id", bad),
                seen_h,
                id_col=bad,
            )
    vid = spark.createDataFrame(
        [(1, "video", base, 3000)],
        "media_id long, kind string, payload binary, duration_ms long",
    )
    vfh = multimodal.video_frame_hashes(vid).localCheckpoint()
    vside = vfh.select("media_id", "hash64").distinct().withColumn(
        "n_frames", F.lit(3)
    )
    for bad in ("bid", "sid", "n_a", "n_frames", "shared", "hash64"):
        with pytest.raises(ValueError, match="vhash_seen_ids reserves"):
            multimodal.vhash_seen_ids(
                vside.withColumnRenamed("media_id", bad),
                vside,
                id_col=bad,
            )
    aud = spark.createDataFrame(
        [(1, "audio", base)], "media_id long, kind string, payload binary"
    )
    awh = multimodal.audio_window_hashes(aud).localCheckpoint()
    for bad in ("bid", "sid", "wb", "ws", "offset", "votes", "hash32"):
        with pytest.raises(ValueError, match="audio_seen_ids reserves"):
            multimodal.audio_seen_ids(
                awh.withColumnRenamed("media_id", bad),
                awh,
                id_col=bad,
            )
    # and a NON-colliding odd name still works on all three probes
    odd_v = vside.withColumnRenamed("media_id", "select id")
    assert {
        r["select id"]
        for r in multimodal.vhash_seen_ids(
            odd_v, odd_v, id_col="select id"
        ).collect()
    } == {1}
    odd_a = awh.withColumnRenamed("media_id", "select id")
    assert {
        r["select id"]
        for r in multimodal.audio_seen_ids(
            odd_a, odd_a, id_col="select id"
        ).collect()
    } == {1}


def test_perceptual_hash_vectorized_matches_scalar_reference(spark):
    """r19: perceptual_hash's batch-vectorized kernel (one fancy-index
    decode + batched integer DCT/gradient math) must be bit-identical
    to the per-row scalar reference kernels for both methods, across
    varied payload lengths including empty and NULL payloads."""
    rows = [
        (1, "image", bytes(range(256)) * 5),
        (2, "image", b"\x00" * 40),
        (3, "image", b"zebra"),          # shorter than the pixel grid
        (4, "image", None),              # NULL payload -> NULL bands
        (5, "image", b""),               # zero-byte -> NULL bands
        (6, "image", bytes([7]) * 2048),
        (7, "image", bytes(reversed(range(200))) * 11),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    )
    for method, decode, hasher in (
        ("dhash", multimodal._decode_gray_stub, multimodal._dhash_bands_py),
        ("phash", multimodal._decode_gray32_stub, multimodal._phash_bands_py),
    ):
        got = {
            r["media_id"]: (
                r["band0"], r["band1"], r["band2"], r["band3"],
                r[f"{method}_hex"],
            )
            for r in multimodal.perceptual_hash(media, method=method).collect()
        }
        for mid, _, p in rows:
            px = decode(p) if p else None
            if px is None:
                assert got[mid] == (None, None, None, None, None), method
            else:
                b = hasher(px)
                hexes = "%04x%04x%04x%04x" % (b[3], b[2], b[1], b[0])
                assert got[mid] == (b[0], b[1], b[2], b[3], hexes), method
