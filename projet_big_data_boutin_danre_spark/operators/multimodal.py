"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (engine extension for training-data pipelines).

The Spark-side plumbing is real — schema (schemas.MEDIA_SCHEMA),
Arrow-batched ``mapInPandas`` operators, partition sizing — while the
codec step is a deterministic fake (the image/audio libraries are not
in this container): ``_decode_stub`` derives a fixed-length feature
vector from the bytes themselves. Swap ``_decode_stub`` for a real
decoder (PIL/torchaudio/ffmpeg) without touching the plan.

Scale notes: binary payloads ride in parquet binary columns; Arrow
moves them to Python in columnar batches (no per-row pickling).
Repartition by size before heavy decode so batches are balanced;
``spark.sql.files.maxPartitionBytes`` bounds scan-side memory.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..schemas import MEDIA_FEATURES_SCHEMA
from .dedup import PROBE_MAX_BROADCAST_ROWS, _probe_history

FEATURE_DIM = 8

# dHash grid: 9×8 grayscale (one extra column so each of the 8×8 hash
# bits is a horizontal gradient), the standard difference-hash layout
GRAY_W = 9
GRAY_H = 8
DHASH_BANDS = 4  # 64 bits banded into 4×16 for exact-match LSH

# pHash grid: 32×32 grayscale → 8×8 low-frequency block of an
# INTEGER DCT-II (fixed-point cosine basis, scale 2^10) → 64 bits by
# median threshold. The integer basis is the point: both the Arrow
# kernel and the generated SQL twin compute the exact same int64
# arithmetic, so the classic float-DCT cross-engine objection to
# pHash (see perceptual_hash) does not apply.
PHASH_N = 32  # downsample grid side
PHASH_K = 8  # kept low-frequency block side (8×8 = 64 bits)
PHASH_COS_SCALE = 1024  # 2^10 fixed-point quantization of the basis


def _phash_cos_table() -> list[list[int]]:
    """Quantized DCT-II basis C[u][x] = round(cos(π·(2x+1)·u / (2N)) ·
    2^10) for u < PHASH_K, x < PHASH_N — the single source of truth
    shared by the Arrow kernel and the generated DuckDB twin (the SQL
    embeds these integers as literals, so the engines cannot drift).
    Worst-case |coef| ≤ N²·255·scale² ≈ 2.7e11 — int64-safe."""
    return [
        [
            int(round(math.cos(math.pi * (2 * x + 1) * u / (2 * PHASH_N)) * PHASH_COS_SCALE))
            for x in range(PHASH_N)
        ]
        for u in range(PHASH_K)
    ]


PHASH_COS = _phash_cos_table()
_PHASH_COS_NP = np.asarray(PHASH_COS, dtype=np.int64)


def _decode_stub(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic fake 'decode + feature extract': md5-seeded
    pseudo-features in [0,1). Replace with a real codec in production —
    the signature (bytes → fixed-dim float vector) is the contract."""
    if payload is None:
        return [0.0] * dim
    digest = hashlib.md5(payload).digest()
    return [digest[i % 16] / 255.0 for i in range(dim)]


def extract_features(media: DataFrame, target_partitions: int | None = None) -> DataFrame:
    """Decode/feature-extract each media row via Arrow-batched
    ``mapInPandas`` — the canonical shape for any Python-side codec.

    The input is round-robin repartitioned first (default: the
    session's parallelism): media scans often arrive as few large
    files, and the Python codec — not the shuffle — is the dominant
    cost, so balancing decode work across all cores wins at any scale.
    Pass ``target_partitions=0`` to keep the input partitioning.

    Size-gated (r20, guide §2/§8): the default repartition is SKIPPED
    when Catalyst's size estimate for the input is under one scan
    partition's worth (``spark.sql.files.maxPartitionBytes``) — the
    exchange would ship every payload byte through a shuffle to
    balance decode work that is bounded by a single partition of
    input anyway (measured at sf0.1: the repartitioned extract costs
    2× the unpartitioned one, 0.39-0.56 s vs 0.19-0.22 s noop).
    Production inputs blow past one partition and repartition as
    before; an explicit ``target_partitions`` always repartitions."""
    if target_partitions is None:
        spark = media.sparkSession
        target_partitions = spark.sparkContext.defaultParallelism
        # Spark Connect frames carry no JVM plan to estimate: keep the
        # repartition there
        jdf = getattr(media, "_jdf", None)
        if jdf is not None:
            # private API: Catalyst's size estimate of the optimized plan
            est_bytes = int(
                jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            # Spark's own byte-string parser, so "128MB" and "134217728b"
            # read the way Spark itself reads the conf
            java_utils = spark._jvm.org.apache.spark.network.util.JavaUtils
            one_part = java_utils.byteStringAsBytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes")
            )
            if est_bytes <= one_part:
                target_partitions = 0
    if target_partitions:
        media = media.repartition(target_partitions)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": [
                        _decode_stub(bytes(p) if p is not None else None)
                        for p in pdf["payload"]
                    ],
                    "n_bytes": [
                        len(p) if p is not None else 0 for p in pdf["payload"]
                    ],
                }
            )

    return media.mapInPandas(_extract, schema=MEDIA_FEATURES_SCHEMA)


def _decode_gray_stub(payload: bytes) -> list[int] | None:
    """Deterministic fake 'decode + downscale to GRAY_H×GRAY_W
    grayscale': nearest-neighbor resample of the raw byte stream into
    the 72-pixel grid (pixel ``i`` = byte ``(i*n)//72``). Chosen over
    an md5-seeded fake deliberately: resampling PRESERVES LOCALITY —
    near-identical payloads land within a few Hamming bits, exactly
    the property a perceptual hash exists to exploit — so the
    downstream dedup semantics are exercised for real even with a
    fake codec. Replace with a real decoder (PIL
    ``Image.open(...).convert("L").resize((9, 8))``) in production —
    the signature (bytes → row-major uint8 grid, None for empty) is
    the contract, and everything downstream (dHash bit math, banding,
    Hamming pairs) is codec-agnostic."""
    n = len(payload)
    if n == 0:
        return None
    return [payload[(i * n) // (GRAY_H * GRAY_W)] for i in range(GRAY_H * GRAY_W)]


def _dhash_bands_py(px: list[int]) -> list[int]:
    """64-bit difference hash over a row-major GRAY_H×GRAY_W grid,
    packed as DHASH_BANDS little-endian 16-bit band values: bit
    ``k = r*8 + c`` is set iff ``px[r][c] > px[r][c+1]`` (horizontal
    gradient). Pure integer math — bit-identical to the generated
    ANSI-SQL twin."""
    bands = [0] * DHASH_BANDS
    for r in range(GRAY_H):
        for c in range(GRAY_W - 1):
            if px[r * GRAY_W + c] > px[r * GRAY_W + c + 1]:
                k = r * 8 + c
                bands[k // 16] |= 1 << (k % 16)
    return bands


def _decode_gray32_stub(payload: bytes) -> list[int] | None:
    """pHash flavor of :func:`_decode_gray_stub`: nearest-neighbor
    byte resample into the PHASH_N×PHASH_N (32×32) grid, row-major
    (pixel ``i = y*32 + x`` = byte ``(i*n)//1024``). Same
    locality-preserving contract; replace with
    ``Image.open(...).convert("L").resize((32, 32))`` in production."""
    n = len(payload)
    if n == 0:
        return None
    n_px = PHASH_N * PHASH_N
    return [payload[(i * n) // n_px] for i in range(n_px)]


def _phash_bands_py(px: list[int]) -> list[int]:
    """64-bit integer-DCT perceptual hash over a row-major 32×32
    grid, packed like :func:`_dhash_bands_py` (4 little-endian 16-bit
    bands). Separable fixed-point DCT-II: ``t[u][y] = Σ_x C[u][x]·
    px[y][x]``, ``coef[u][v] = Σ_y C[v][y]·t[u][y]`` — pure int64.
    Bit ``k = u*8 + v`` is set iff ``coef[u][v] > median`` where the
    median is the 32nd-smallest of the 63 AC coefficients (DC — k=0 —
    is excluded from the median and its bit forced 0, the standard
    pHash convention). Bit-identical to the generated ANSI-SQL twin."""
    C = _PHASH_COS_NP  # (8, 32) int64
    px2d = np.asarray(px, dtype=np.int64).reshape(PHASH_N, PHASH_N)
    # t[u][y] = Σ_x C[u][x]·px[y][x]  →  C @ px2d.T, shape (8, 32)
    t = C @ px2d.T
    # coef[u][v] = Σ_y C[v][y]·t[u][y]  →  (C @ t.T)[v][u]; transpose
    # so coef[u][v] indexes as written (|coef| ≤ 2.7e11 — int64-exact)
    coef = (C @ t.T).T
    flat = coef.reshape(64)
    med = int(np.sort(flat[1:])[31])  # 32nd-smallest of the 63 AC
    bands = [0] * DHASH_BANDS
    for k in range(1, 64):
        if int(flat[k]) > med:
            bands[k // 16] |= 1 << (k % 16)
    return bands


def perceptual_hash(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    kinds: tuple[str, ...] = ("image",),
    method: str = "dhash",
) -> DataFrame:
    """Content-level image dedup key: dHash (difference hash) of each
    media row's decoded grayscale thumbnail — near-identical images
    (re-encodes, small crops, brightness shifts) land within a few
    Hamming bits of each other, while exact duplicate bytes hash
    identically. Returns ``(id, band0..band3, <method>_hex)`` where
    the four 16-bit bands slice the 64-bit hash for exact-match LSH
    banding (:func:`phash_near_dup_pairs` — layout-identical for both
    methods) and the hex column is the whole hash for
    display/fingerprinting.

    The decode is the stubbed codec step (``_decode_gray_stub`` — the
    image libraries are not in this container); the hash math, band
    layout, and Arrow plumbing are real and codec-agnostic.

    ``method`` selects the kernel (both oracle-checkable bit-for-bit):

    - ``"dhash"`` (default): 9×8 horizontal-gradient difference hash
      — integer compares only, the cheap high-recall kernel;
    - ``"phash"`` (r10): 32×32 grid → fixed-point integer DCT-II
      (PHASH_COS, scale 2^10) → 8×8 low-frequency block →
      median-threshold 64 bits (``phash_hex`` column). Classic pHash
      uses a float DCT, which would NOT hash-match across engines on
      borderline coefficients; quantizing the basis to integers makes
      the whole pipeline exact — the same cross-engine discipline as
      the md5 text fingerprints. More robust than dHash to global
      brightness/contrast shifts (those move every gradient but only
      the DC coefficient, which is excluded).

    Scale: Arrow-batched ``mapInPandas`` (the codec is Python-side by
    nature), map-only — no shuffle; output is 4 ints + 16 hex chars
    per row regardless of payload size, so the hash layer persists as
    a tiny sidecar like the text fingerprint layer. NULL payloads
    yield NULL bands (excluded from pairing)."""
    if method not in ("dhash", "phash"):
        raise ValueError(f"unknown perceptual-hash method: {method!r}")
    decode, hasher = (
        (_decode_gray_stub, _dhash_bands_py)
        if method == "dhash"
        else (_decode_gray32_stub, _phash_bands_py)
    )
    hex_name = f"{method}_hex"
    if kinds:
        media = media.filter(F.col("kind").isin(*list(kinds)))
    id_field = media.schema[id_col]
    schema = StructType(
        [StructField(id_field.name, id_field.dataType)]
        + [StructField(f"band{j}", IntegerType()) for j in range(DHASH_BANDS)]
        + [StructField(hex_name, StringType())]
    )

    n_px = (GRAY_H * GRAY_W) if method == "dhash" else (PHASH_N * PHASH_N)

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # r19 (guide §4.2): batch-vectorized kernel. The old path ran
        # decode (a 72/1024-iteration Python list comprehension) and
        # the bit math per ROW; this one concatenates the batch's
        # payloads into one uint8 buffer, computes every row's
        # resample indices with one broadcasted integer expression,
        # decodes the whole batch with one fancy-index, and runs the
        # hash math (gradient compare / integer DCT einsum + median
        # threshold) across the batch at once. Same integer math to
        # the bit — the per-row scalar kernels (_dhash_bands_py /
        # _phash_bands_py) stay as the reference the conformance
        # tests compare against.
        js = np.arange(n_px, dtype=np.int64)
        for pdf in batches:
            m = len(pdf)
            cols: dict[str, object] = {id_field.name: pdf[id_col]}
            payloads = [
                bytes(p) if p is not None else b""
                for p in pdf[payload_col]
            ]
            ns = np.fromiter(
                (len(p) for p in payloads), dtype=np.int64, count=m
            )
            valid = ns > 0
            bands_mat = np.zeros((m, DHASH_BANDS), dtype=np.int64)
            if valid.any():
                vi = np.flatnonzero(valid)
                vbufs = [payloads[i] for i in vi]
                vns = ns[vi]
                offs = np.concatenate(
                    ([0], np.cumsum(vns[:-1]))
                )
                big = np.frombuffer(b"".join(vbufs), dtype=np.uint8)
                # pixel j of row i = byte (j * n_i) // n_px — the
                # locality-preserving resample, all rows at once.
                # int64 floor-divide is the slowest vectorized op in
                # numpy (measured 4.1 s of a 6 s batch) — use a shift
                # when n_px is a power of two (the 32×32 pHash grid)
                prod = js[None, :] * vns[:, None]
                if n_px & (n_px - 1) == 0:
                    idx = offs[:, None] + (prod >> n_px.bit_length() - 1)
                else:
                    idx = offs[:, None] + prod // n_px
                px = big[idx].astype(np.int64)
                if method == "dhash":
                    g = px.reshape(-1, GRAY_H, GRAY_W)
                    bits = (g[:, :, :-1] > g[:, :, 1:]).reshape(
                        -1, GRAY_H * (GRAY_W - 1)
                    )
                    # bit k = r*8 + c, packed into 4 little-endian
                    # 16-bit bands
                    k = (
                        np.repeat(
                            np.arange(GRAY_H, dtype=np.int64) * 8,
                            GRAY_W - 1,
                        )
                        + np.tile(
                            np.arange(GRAY_W - 1, dtype=np.int64), GRAY_H
                        )
                    )
                else:
                    C = _PHASH_COS_NP  # (8, 32) int64
                    p3 = px.reshape(-1, PHASH_N, PHASH_N)
                    # t[u][y] = Σ_x C[u][x]·px[y][x]; coef[u][v] =
                    # Σ_y C[v][y]·t[u][y] — batched, int64-exact
                    t = np.einsum("ux,byx->buy", C, p3)
                    coef = np.einsum("vy,buy->buv", C, t)
                    flat = coef.reshape(-1, 64)
                    med = np.partition(flat[:, 1:], 31, axis=1)[:, 31]
                    bits = flat > med[:, None]
                    bits[:, 0] = False  # DC bit forced 0
                    k = np.arange(64, dtype=np.int64)
                vb = np.zeros((len(vi), DHASH_BANDS), dtype=np.int64)
                weights = np.int64(1) << (k % 16)
                for j in range(DHASH_BANDS):
                    sel = (k // 16) == j
                    vb[:, j] = (bits[:, sel] * weights[sel]).sum(axis=1)
                bands_mat[vi] = vb
            for j in range(DHASH_BANDS):
                col = pd.array(bands_mat[:, j], dtype="Int32")
                col[~valid] = None
                cols[f"band{j}"] = col
            hexes: list[str | None] = [
                "%04x%04x%04x%04x"
                % (
                    bands_mat[i, 3],
                    bands_mat[i, 2],
                    bands_mat[i, 1],
                    bands_mat[i, 0],
                )
                if valid[i]
                else None
                for i in range(m)
            ]
            cols[hex_name] = hexes
            yield pd.DataFrame(cols)

    return media.select(id_col, payload_col).mapInPandas(_hash, schema=schema)


def _dhash_long(
    hashes: DataFrame, id_col: str, id_as: str, prefix: str
) -> DataFrame:
    """Band-long layout of a :func:`perceptual_hash` layer: one row
    per (image, band) carrying the id as ``id_as``, the four bands as
    ``{prefix}0..3`` and the stacked ``(band, band_key)`` join key.
    Column objects end to end (no ``selectExpr`` splicing), so an id
    column whose name needs quoting works."""
    stack_args: list = [F.lit(DHASH_BANDS)]
    for j in range(DHASH_BANDS):
        stack_args += [F.lit(j), F.col(f"band{j}")]
    return hashes.filter(F.col("band0").isNotNull()).select(
        F.col(id_col).alias(id_as),
        *[
            F.col(f"band{j}").alias(f"{prefix}{j}")
            for j in range(DHASH_BANDS)
        ],
        F.stack(*stack_args).alias("band", "band_key"),
    )


def _hamming(a: str, b: str) -> Column:
    """Hamming distance between the full 64-bit hashes carried as
    ``{a}0..3`` and ``{b}0..3`` by two :func:`_dhash_long` layouts."""
    ham = None
    for j in range(DHASH_BANDS):
        term = F.bit_count(
            F.col(f"{a}{j}").bitwiseXOR(F.col(f"{b}{j}")).cast("long")
        )
        ham = term if ham is None else ham + term
    return ham


def _drop_hot_keys(
    df: DataFrame, keys: list[str], max_bucket: int | None
) -> DataFrame:
    """Within-frame hot-key cap of the media pair generators: drop
    every row whose key is held by more than ``max_bucket`` rows of
    ``df`` (a no-op when ``max_bucket`` is None)."""
    if max_bucket is None:
        return df
    sizes = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__bn"))
    return (
        df.join(sizes, keys)
        .filter(F.col("__bn") <= int(max_bucket))
        .drop("__bn")
    )


def phash_near_dup_pairs(
    hashes: DataFrame,
    id_col: str = "media_id",
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate media pairs from a :func:`perceptual_hash`
    layer: the banded-LSH discipline applied to Hamming space. Each
    64-bit dHash is already sliced into 4×16-bit bands; two images
    sharing ANY band exactly become a candidate pair, then the full
    Hamming distance (``bit_count`` of the XOR, summed over bands)
    filters to ``<= max_hamming``. Returns
    ``(id_a, id_b, hamming)`` with ``id_a < id_b``.

    Recall contract (pigeonhole): a pair at Hamming distance ``d < 4``
    differs in at most 3 bands, so at least one band matches exactly —
    for ``max_hamming <= 3`` the banding is EXACT, never a heuristic.
    Larger thresholds degrade gracefully (a pair differing in all four
    bands is missed) — the same trade as MinHash banding, documented
    rather than hidden.

    Scale (the 100 TB shape): candidates come from equality joins on
    (band_idx, band_value) — never all-pairs; the hash layer is 4 ints
    per image so the exploded join input is 4 rows × ~20 B per image.
    A degenerate bucket (millions of identical thumbnails) is the
    same hot-bucket hazard as MinHash LSH: cap it with ``max_bucket``
    (buckets above the cap are dropped from PAIR generation — exact
    duplicates are cheaper found via ``dhash_hex`` group-by, the
    same split as exact_dedup vs minhash_lsh_pairs)."""
    long = _drop_hot_keys(
        _dhash_long(hashes, id_col, id_as=id_col, prefix="band"),
        ["band", "band_key"],
        max_bucket,
    )
    a = long.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"band{j}").alias(f"a{j}") for j in range(DHASH_BANDS)],
        "band",
        "band_key",
    )
    b = long.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"band{j}").alias(f"b{j}") for j in range(DHASH_BANDS)],
        "band",
        "band_key",
    )
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", _hamming("a", "b").cast("long").alias("hamming")
        )
        .filter(F.col("hamming") <= int(max_hamming))
        .distinct()
    )


def phash_seen_ids(
    batch_hashes: DataFrame,
    seen_hashes: DataFrame,
    id_col: str = "media_id",
    max_hamming: int = 3,
    max_broadcast_rows: int | None = PROBE_MAX_BROADCAST_ROWS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cross-corpus perceptual-membership probe: the distinct batch
    ids whose image hash lies within ``max_hamming`` bits of ANY
    historical hash — the media analog of
    :func:`..dedup.lsh_seen_ids`, for an ingest admission guard that
    must ask "is this image a near-dup of anything already admitted"
    without rescanning payloads.

    ``seen_hashes`` is the persisted media-hash sidecar of the
    admitted corpus — the ``(id, band0..band3)`` output of
    :func:`perceptual_hash`, constant-width (4 ints per image)
    regardless of payload size. Unlike the text LSH gate (candidates
    dropped unverified — verifying would read historical text), the
    probe here is EXACT at ``max_hamming <= 3``: the sidecar carries
    the full 64-bit hash, so candidates from the band-equality join
    are verified with the true Hamming distance at no extra read, and
    the pigeonhole recall argument of :func:`phash_near_dup_pairs`
    applies verbatim.

    Plan: batch band rows are the broadcast side of
    :func:`..dedup._probe_history` (history never shuffled; batches
    beyond ``max_broadcast_rows`` band rows are chunked per image).
    ``max_bucket`` (r14) drops a (band, value) held by more than that
    many sidecar rows (all-black thumbnails) from the batch side —
    the verify step keeps correctness either way (the block is exact
    Hamming), the cap keeps a degenerate bucket from exploding the
    candidate join; a capped image can still match through its three
    other bands."""
    # EVERY name the long layout generates, not just the stacked band
    # columns (r13 advisor): the prefixed id aliases (bid/sid) and the
    # per-band aliases (b0..3/s0..3) collide just as silently
    reserved = (
        {"band", "band_key", "bid", "sid"}
        | {f"band{j}" for j in range(DHASH_BANDS)}
        | {f"b{j}" for j in range(DHASH_BANDS)}
        | {f"s{j}" for j in range(DHASH_BANDS)}
    )
    if id_col in reserved:
        # the long layout's own output names — an id column spelled
        # like one of them would silently collide with the stacked
        # band columns (r12 advisor)
        raise ValueError(
            f"phash_seen_ids reserves the column names "
            f"{sorted(reserved)} for its band layout — rename id_col "
            f"{id_col!r} in the input"
        )

    return _probe_history(
        _dhash_long(seen_hashes, id_col, "sid", "s"),
        _dhash_long(batch_hashes, id_col, "bid", "b"),
        ["band", "band_key"],
        "bid",
        lambda hits: hits.filter(
            _hamming("b", "s") <= int(max_hamming)
        ).select(F.col("bid").alias(id_col)),
        max_bucket,
        max_broadcast_rows,
    )


def vhash_seen_ids(
    batch_frames: DataFrame,
    seen_frames: DataFrame,
    id_col: str = "media_id",
    min_jaccard: float = 0.5,
    max_broadcast_rows: int | None = PROBE_MAX_BROADCAST_ROWS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cross-corpus VIDEO-membership probe: the distinct batch video
    ids whose frame-hash set reaches ``min_jaccard`` against ANY
    admitted video — the video face of :func:`phash_seen_ids`, for an
    ingest admission guard (r13, verdict #2).

    ``batch_frames`` is the batch's :func:`video_frame_hashes` output
    (only ``id`` + ``hash64`` are read; duplicates collapse to the
    distinct frame-hash set). ``seen_frames`` is the persisted video
    sidecar: ``(id, hash64, n_frames)`` — one row per admitted video
    per DISTINCT frame hash, with that video's distinct-hash count
    stamped on every row so the probe never aggregates history
    (constant width per sampled frame, ~16 B + id).

    Plan: the batch's distinct frame set is the broadcast side of
    :func:`..dedup._probe_history` (history never shuffled; the only
    aggregation runs on the matched rows). Jaccard =
    ``shared / (n_a + n_b - shared)`` in exact integers. Mega-batches
    are chunked per batch VIDEO, so every pair's full intersection
    stays in one chunk. Degenerate shared frames (black frames, test
    patterns) are the hot-bucket hazard on the HISTORY side:
    ``max_bucket`` (r14) drops any frame hash held by more than that
    many admitted videos from the probe. Dropping a hash only lowers
    measured similarity (under-blocking, the conservative failure —
    set sizes stay full). Pair it with the append-time cap
    (``incremental_ingest(media_max_bucket=...)``) that keeps such
    hashes out of the sidecar in the first place."""
    reserved = {"bid", "sid", "n_a", "n_frames", "shared", "hash64"}
    if id_col in reserved:
        # the probe's own generated/required names (r13 advisor — the
        # same hygiene as phash_seen_ids): an id column spelled like
        # one of them would silently collide with the join layout
        raise ValueError(
            f"vhash_seen_ids reserves the column names "
            f"{sorted(reserved)} for its probe layout — rename id_col "
            f"{id_col!r} in the input"
        )
    bset = (
        batch_frames.select(
            F.col(id_col).alias("bid"), F.col("hash64")
        ).distinct()
    )
    n_a = bset.groupBy("bid").agg(F.count(F.lit(1)).alias("n_a"))
    prepared = bset.join(n_a, "bid")
    seen = seen_frames.select(
        F.col(id_col).alias("sid"), F.col("hash64"), F.col("n_frames")
    )

    def _score(hits: DataFrame) -> DataFrame:
        shared = hits.groupBy("bid", "sid", "n_a", "n_frames").agg(
            F.count(F.lit(1)).alias("shared")
        )
        return shared.filter(
            F.col("shared")
            >= F.lit(float(min_jaccard))
            * (F.col("n_a") + F.col("n_frames") - F.col("shared"))
        ).select(F.col("bid").alias(id_col))

    return _probe_history(
        seen, prepared, ["hash64"], "bid", _score, max_bucket,
        max_broadcast_rows,
    )


def audio_seen_ids(
    batch_wins: DataFrame,
    seen_wins: DataFrame,
    id_col: str = "media_id",
    min_votes: int = 4,
    max_broadcast_rows: int | None = PROBE_MAX_BROADCAST_ROWS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cross-corpus AUDIO-membership probe: the distinct batch audio
    ids that match ANY admitted recording by offset voting
    (:func:`audio_match_pairs` semantics — many shared window hashes
    agreeing on ONE alignment offset) — the audio face of
    :func:`phash_seen_ids`, for an ingest admission guard (r13,
    verdict #2).

    ``batch_wins`` / ``seen_wins`` are :func:`audio_window_hashes`
    rows ``(id, win_idx, hash32)``; the sidecar persists them
    verbatim (~12 B per hop regardless of payload size). Offset
    voting is shift-tolerant where set-Jaccard is not: a re-encoded
    copy trimmed by k hops still votes ``≥ min_votes`` at offset k.

    Plan: batch window rows are the broadcast side of
    :func:`..dedup._probe_history` (history never shuffled); the
    (bid, sid, offset) vote aggregation runs on matched rows only.
    Mega-batches are chunked per batch recording, so each pair's
    votes stay in one chunk. Silence/zero-run hash buckets are the
    history-side hot-bucket hazard — AND a correctness one, not just
    cost (r13 advisor): ``_audio_hash32_py`` maps every constant byte
    run to hash 0, so two UNRELATED recordings sharing ``min_votes``
    hops of silence/zero padding at aligned offsets would vote past
    the threshold and the new audio would be falsely blocked forever.
    ``max_bucket`` (r14) drops any window hash with more than that
    many sidecar rows from the probe — capping only lowers votes:
    under-blocking, never false blocking. Pair it
    with the append-time cap (``incremental_ingest(
    media_max_bucket=...)``)."""
    reserved = {"bid", "sid", "wb", "ws", "offset", "votes", "hash32"}
    if id_col in reserved:
        # same hygiene as phash_seen_ids/vhash_seen_ids (r13 advisor)
        raise ValueError(
            f"audio_seen_ids reserves the column names "
            f"{sorted(reserved)} for its probe layout — rename id_col "
            f"{id_col!r} in the input"
        )
    bw = batch_wins.select(
        F.col(id_col).alias("bid"),
        F.col("win_idx").alias("wb"),
        F.col("hash32"),
    )
    seen = seen_wins.select(
        F.col(id_col).alias("sid"),
        F.col("win_idx").alias("ws"),
        F.col("hash32"),
    )

    def _score(hits: DataFrame) -> DataFrame:
        votes = hits.groupBy(
            "bid", "sid", (F.col("wb") - F.col("ws")).alias("offset")
        ).agg(F.count(F.lit(1)).alias("votes"))
        return votes.filter(F.col("votes") >= int(min_votes)).select(
            F.col("bid").alias(id_col)
        )

    return _probe_history(
        seen, bw, ["hash32"], "bid", _score, max_bucket,
        max_broadcast_rows,
    )


def video_frame_hashes(
    media: DataFrame,
    every_ms: int = 1000,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-frame perceptual hashes for VIDEO content dedup — the
    third multimodal kernel (images: dHash/pHash; this extends the
    family along the time axis). One Arrow-batched ``mapInPandas``
    pass per video: the frame plan (same cadence as
    :func:`frame_sample` — one frame per ``every_ms`` of
    ``duration_ms``) is evaluated INSIDE the kernel, so the payload
    is read once per video and never duplicated through an explode —
    at scale the explode-then-decode shape would ship the full binary
    per frame. Emits ``(id, frame_idx, band0..band3, hash64)`` where
    the bands are the frame's dHash (layout-shared with
    :func:`perceptual_hash`) and ``hash64`` packs them little-endian
    into one signed bigint — the set-element key
    :func:`video_near_dup_pairs` matches on.

    The stub codec slices the byte stream uniformly (frame ``f`` of
    ``nf`` covers bytes ``[f·n//nf, (f+1)·n//nf)``) and gray-resamples
    the slice — locality-preserving like the image stubs, so a
    re-encode (small local byte edits) perturbs only the frames whose
    slices changed, which is exactly the property frame-set Jaccard
    needs. Frames whose slice is empty (payload shorter than the
    frame count) are skipped, mirrored by the SQL twin. Replace the
    slicing with a real ffmpeg frame decode in production — the
    (bytes, frame plan) → per-frame grid contract is the swap
    point."""
    media = media.filter(F.col("kind") == "video")
    id_field = media.schema[id_col]
    schema = StructType(
        [
            StructField(id_field.name, id_field.dataType),
            StructField("frame_idx", IntegerType()),
        ]
        + [StructField(f"band{j}", IntegerType()) for j in range(DHASH_BANDS)]
        + [StructField("hash64", LongType())]
    )

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for mid, p, dur in zip(
                pdf[id_col], pdf[payload_col], pdf["duration_ms"]
            ):
                if p is None:
                    continue
                payload = bytes(p)
                n = len(payload)
                # pd.isna, not `is None`: a NULL bigint arrives in
                # the Arrow batch as NaN, which int() would raise on
                dur = 0 if pd.isna(dur) else int(dur)
                nf = max((max(dur, 1) - 1) // every_ms + 1, 1)
                for f in range(nf):
                    lo = (f * n) // nf
                    hi = ((f + 1) * n) // nf
                    if hi <= lo:
                        continue
                    b = _dhash_bands_py(_decode_gray_stub(payload[lo:hi]))
                    h = b[0] | (b[1] << 16) | (b[2] << 32) | (b[3] << 48)
                    # wrap to signed 64-bit (Spark long; SQL twin does
                    # the same via the sign-bit special case)
                    if h >= 1 << 63:
                        h -= 1 << 64
                    rows.append((mid, f, *b, h))
            yield pd.DataFrame(
                rows,
                columns=[id_field.name, "frame_idx"]
                + [f"band{j}" for j in range(DHASH_BANDS)]
                + ["hash64"],
            )

    return media.select(id_col, payload_col, "duration_ms").mapInPandas(
        _hash, schema=schema
    )


def video_near_dup_pairs(
    frame_hashes: DataFrame,
    id_col: str = "media_id",
    min_jaccard: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate video pairs from a :func:`video_frame_hashes`
    layer: two videos are candidates when they share a frame hash
    (equality join on ``hash64`` — never all-pairs), and a pair
    qualifies when the Jaccard similarity of their DISTINCT frame-hash
    sets reaches ``min_jaccard``. Returns
    ``(id_a, id_b, shared, n_a, n_b)`` with ``id_a < id_b`` — the
    Jaccard is ``shared / (n_a + n_b - shared)``, kept as exact
    integers so the slot twin never touches floats.

    Scale: the join input is the distinct (video, hash) set — ~8 B
    key + id per sampled frame, a tiny sidecar of the video corpus.
    A degenerate hash bucket (black frames, test patterns shared by
    millions of videos) is the usual hot-bucket hazard: cap with
    ``max_bucket`` (hashes above the cap are dropped from PAIR
    generation — the MinHash-LSH guard, same trade documented
    there; set sizes n_a/n_b stay FULL-set, so a capped hash can
    only lower a pair's measured similarity, never inflate it)."""
    fh = frame_hashes.select(
        F.col(id_col).alias("vid"), F.col("hash64")
    ).distinct()
    sizes = fh.groupBy("vid").agg(F.count(F.lit(1)).alias("n_frames"))
    fh = _drop_hot_keys(fh, ["hash64"], max_bucket)
    a = fh.select(F.col("vid").alias("id_a"), "hash64")
    b = fh.select(F.col("vid").alias("id_b"), "hash64")
    shared = (
        a.join(b, "hash64")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(
            sizes.select(F.col("vid").alias("id_a"), F.col("n_frames").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("vid").alias("id_b"), F.col("n_frames").alias("n_b")),
            "id_b",
        )
        .filter(
            F.col("shared")
            >= F.lit(float(min_jaccard))
            * (F.col("n_a") + F.col("n_b") - F.col("shared"))
        )
        .select("id_a", "id_b", "shared", "n_a", "n_b")
    )


AUDIO_WINDOW = 64  # bytes per fingerprint window
AUDIO_HOP = 32  # window stride; offset granularity of the matcher
AUDIO_SAMPLES = 33  # evenly-spaced samples per window → 32 gradient bits


def _audio_hash32_py(window: bytes) -> int:
    """32-bit window fingerprint: gradient bits over AUDIO_SAMPLES
    evenly-spaced bytes (bit ``i`` set iff sample[i] > sample[i+1]) —
    the 1-D sibling of the dHash grid, same integer-exact contract."""
    n = len(window)
    s = [window[(i * n) // AUDIO_SAMPLES] for i in range(AUDIO_SAMPLES)]
    h = 0
    for i in range(AUDIO_SAMPLES - 1):
        if s[i] > s[i + 1]:
            h |= 1 << i
    return h


def audio_window_hashes(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Sliding-window audio fingerprints — the third modality of the
    content-dedup family (images: dHash/pHash; video: frame hashes;
    audio needs SHIFT TOLERANCE, which neither provides). Windows of
    AUDIO_WINDOW bytes at AUDIO_HOP stride, each hashed to a 32-bit
    gradient fingerprint, emitted as ``(id, win_idx, hash32)`` from
    one map-only Arrow pass (payload read once — the video-kernel
    rule). The stub 'codec' fingerprints the raw byte stream;
    swapping in real spectral frames (chromaprint-style) changes only
    the per-window hash function, not the matcher.

    Scale: output ≈ 12 B per hop regardless of payload size — the
    sidecar shape again. AUDIO_HOP bounds cost AND sets the matcher's
    offset granularity: a leading trim is only recovered when it is a
    multiple of the hop (real pipelines use finely-hopped spectral
    frames for the same reason)."""
    media = media.filter(F.col("kind") == "audio")
    id_field = media.schema[id_col]
    schema = StructType(
        [
            StructField(id_field.name, id_field.dataType),
            StructField("win_idx", IntegerType()),
            StructField("hash32", LongType()),
        ]
    )

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                if p is None:
                    continue
                payload = bytes(p)
                n = len(payload)
                w = 0
                for s in range(0, n - AUDIO_WINDOW + 1, AUDIO_HOP):
                    rows.append(
                        (
                            mid,
                            w,
                            _audio_hash32_py(payload[s : s + AUDIO_WINDOW]),
                        )
                    )
                    w += 1
            yield pd.DataFrame(
                rows, columns=[id_field.name, "win_idx", "hash32"]
            )

    return media.select(id_col, payload_col).mapInPandas(_hash, schema=schema)


def audio_match_pairs(
    window_hashes: DataFrame,
    id_col: str = "media_id",
    min_votes: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Shift-tolerant audio matching by OFFSET VOTING (the landmark
    idea behind Shazam-style matchers): candidate window pairs come
    from an equality join on ``hash32``; a true match — the same
    recording trimmed, re-padded, or embedded at a different start —
    shows up as MANY candidates agreeing on one window offset
    ``win_a − win_b``, while coincidental hash collisions scatter
    across offsets. Returns ``(id_a, id_b, offset, votes)`` with
    ``id_a < id_b`` and votes = the best offset's agreement count
    (ties broken toward the smallest offset — deterministic), kept
    when ``votes ≥ min_votes``.

    Set-Jaccard (the video matcher) would miss this regime: a clip
    embedded in a longer recording shares a small FRACTION of the
    host's windows (low Jaccard) yet matches perfectly at one offset.
    Scale: equality join on a 32-bit key + one (pair, offset)
    aggregation; degenerate hash buckets (silence, zero runs) are
    the LSH hot-bucket hazard — cap with ``max_bucket`` (dropped from
    pair generation; a capped hash can only lower votes, never
    inflate them)."""
    wh = window_hashes.select(
        F.col(id_col).alias("vid"), "win_idx", "hash32"
    )
    wh = _drop_hot_keys(wh, ["hash32"], max_bucket)
    a = wh.select(
        F.col("vid").alias("id_a"), F.col("win_idx").alias("wa"), "hash32"
    )
    b = wh.select(
        F.col("vid").alias("id_b"), F.col("win_idx").alias("wb"), "hash32"
    )
    votes = (
        a.join(b, "hash32")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy(
            "id_a", "id_b", (F.col("wa") - F.col("wb")).alias("offset")
        )
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    from pyspark.sql import Window

    best = Window.partitionBy("id_a", "id_b").orderBy(
        F.col("votes").desc(), F.col("offset").asc()
    )
    return (
        votes.withColumn("__rn", F.row_number().over(best))
        .filter((F.col("__rn") == 1) & (F.col("votes") >= int(min_votes)))
        .drop("__rn")
    )


def media_dedup_clusters(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    min_jaccard: float = 0.5,
    min_votes: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """End-to-end media near-dup clustering — the media mirror of
    ``dedup.dedup_clusters``: each modality's candidate pairs (image
    banded Hamming, video frame-set Jaccard, audio offset voting) are
    unioned and resolved to duplicate CLUSTERS via connected
    components. Returns ``(node, component)`` with ``component`` the
    cluster-minimum id (the canonical keeper); media in no pair are
    implicit singletons, and ``dedup.drop_near_duplicates`` applies
    the keeper decision without the payloads ever riding the join.

    Scale: each kernel reads payloads ONCE into a constant-width hash
    layer (checkpointed here so pair generation never re-decodes);
    pairs come from banded equality joins, never all-pairs; the CC
    loop shuffles 8-byte ids only."""
    from . import dedup as _dedup

    hashes = perceptual_hash(media, id_col, payload_col).localCheckpoint(
        eager=False
    )
    vfh = video_frame_hashes(
        media, id_col=id_col, payload_col=payload_col
    ).localCheckpoint(eager=False)
    awh = audio_window_hashes(media, id_col, payload_col).localCheckpoint(
        eager=False
    )
    pairs = (
        phash_near_dup_pairs(
            hashes, id_col, max_hamming=max_hamming, max_bucket=max_bucket
        )
        .select("id_a", "id_b")
        .unionByName(
            video_near_dup_pairs(
                vfh, id_col, min_jaccard=min_jaccard, max_bucket=max_bucket
            ).select("id_a", "id_b")
        )
        .unionByName(
            audio_match_pairs(
                awh, id_col, min_votes=min_votes, max_bucket=max_bucket
            ).select("id_a", "id_b")
        )
    )
    return _dedup.connected_components(pairs)


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: explode each video row into frame
    timestamps (metadata-driven — no decode needed to *plan* the
    sample). The per-frame decode would chain extract_features."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ms"),
        )
    )


def resize_plan(media: DataFrame, max_side: int = 512) -> DataFrame:
    """Image resize target computation (pure metadata math, JVM-side);
    the byte-level resample is the stubbed codec step."""
    scale = F.least(
        F.lit(1.0),
        F.lit(float(max_side)) / F.greatest(F.col("width"), F.col("height")),
    )
    return media.filter(F.col("kind") == "image").select(
        "media_id",
        "width",
        "height",
        F.ceil(F.col("width") * scale).cast("int").alias("target_w"),
        F.ceil(F.col("height") * scale).cast("int").alias("target_h"),
    )


def synth_reencoded_variants(
    docs: DataFrame,
    offset: int = 1_000_000_000,
    every: int = 12,
) -> DataFrame:
    """Test substrate for the perceptual-dedup path: a 're-encoded
    copy' of every ``every``-th image — same payload except one byte
    flipped to ``~`` at the midpoint, which is what a lossy re-encode
    looks like after decode (tiny local perturbation, global content
    unchanged). The (original, variant) pairs are the ground-truth
    near-duplicates :func:`phash_near_dup_pairs` must find: a
    same-length single-byte edit moves at most a couple of sampled
    pixels, so the pair lands within the exact-recall Hamming band
    (the md5-style fake would scatter them — see
    :func:`_decode_gray_stub` on why the stub preserves locality)."""
    edited = F.concat(
        F.expr("substring(text, 1, cast(floor((length(text)+1)/2) as int) - 1)"),
        F.lit("~"),
        F.expr("substring(text, cast(floor((length(text)+1)/2) as int) + 1)"),
    )
    return docs.filter(
        (F.col("doc_id") % every == 0) & (F.col("doc_id") % 3 == 0)
    ).select(
        (F.col("doc_id") + F.lit(offset)).alias("media_id"),
        F.lit("image").alias("kind"),
        # empty text → NULL payload (not the bare "~" the midpoint
        # edit would leave): there is no image to re-encode, and the
        # relational twin (_sql_media_dhash_cte) NULLs the same row —
        # the two sides must agree on the documented edge
        F.when(
            F.length("text") == 0, F.lit(None).cast("binary")
        ).otherwise(F.encode(edited, "UTF-8")).alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        (F.col("n_chars") % 1920 + 16).cast("int").alias("width"),
        (F.col("n_chars") % 1080 + 16).cast("int").alias("height"),
        (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
    )


def synth_media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media table from the documents table (test substrate:
    text bytes stand in for image payloads; deterministic)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        (F.col("n_chars") % 1920 + 16).cast("int").alias("width"),
        (F.col("n_chars") % 1080 + 16).cast("int").alias("height"),
        (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
    )
