"""Deduplication operators for large-scale text corpora.

Engine extension beyond the reference's single keep-last dedup
(``dags/lib/raw_to_fmt_lbc.py:49-51``): the operators a 100 TB
training-data pipeline needs. All are pure DataFrame algebra over
``md5`` hashing (cross-engine checkable, see functions/hashing.py);
no Python UDFs, no driver-side collects.

Scale design:
- ``exact_dedup``: one hash-aggregate on the content hash. The hash is
  computed map-side, so the shuffle carries (hash, id) not full text.
- ``minhash_lsh_pairs``: shingling fans out rows (explode) but each
  shingle row is tiny; signatures reduce back to one row per doc
  (map-side partial min). The LSH band self-join shuffles on the band
  key — candidate buckets are small by construction, so the join is
  narrow; no O(n²) anywhere.
- ``simhash``: explode tokens → per-bit partial sums (map-side
  combine) → 1 row/doc.
- ``ngram_jaccard_pairs``: candidate pairs come from a blocking key
  (caller-chosen, e.g. LSH band or source); the n-gram join is on
  (block, gram) — never all-pairs.
- ``connected_components`` / ``dedup_clusters``: pairs → duplicate
  clusters via alternating star contraction (O(log²n) rounds); one
  keeper per cluster.
- ``duplicate_spans``: exact repeated-substring ranges via stride-1
  windows + gaps-and-islands merge.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import (
    minhash_component,
    normalize_text,
    normalize_text_aligned,
)
from ..sources.readers import JVM_ERRORS


def balance_for_fanout(df: DataFrame) -> DataFrame:
    """Round-robin repartition a narrow input ahead of a high-fan-out
    stage (shingle/token/gram explode: 10-300x row blowup) when the
    scan yields fewer splits than cores — e.g. one small parquet file.
    One extra pass over the small input buys full parallelism for the
    expensive stage; when the source already has >= cores splits (any
    real-scale table), it's a no-op so no shuffle is added at 100 TB.

    Split count comes from the physical plan's RDD lineage (cheaper
    than ``df.rdd.getNumPartitions()``, which converts the analyzed
    plan to an RDD of Rows on every call). Plans under an
    ``AdaptiveSparkPlan`` root report "unknown" instead of probing —
    executing that wrapper would materialize upstream query stages
    (real jobs) as a hidden side effect. On Spark Connect (no JVM
    handle, no RDD API) the probe likewise degrades to "unknown" and
    the input is left as-is — a no-op, never an error."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
    except AttributeError:  # Spark Connect: no driver-side SparkContext
        return df
    parts = _plan_partitions(df)
    if parts is not None and parts < target:
        return df.repartition(target)
    return df


# what reaching a frame's JVM plan or RDD raises where there is none:
# Spark Connect has no ``_jdf`` (AttributeError) and no ``df.rdd``
# (NotImplementedError); a classic plan can fail JVM-side
_NO_JVM_PLAN = (AttributeError, NotImplementedError, *JVM_ERRORS)


def _plan_partitions(df: DataFrame) -> int | None:
    """Best-effort input split count from the physical plan's RDD
    (partition metadata only — no job runs for a non-adaptive plan).
    An ``AdaptiveSparkPlan`` root means the plan has exchanges or
    subqueries, and calling ``execute()`` on it MATERIALIZES upstream
    query stages (real jobs) just to read a partition count — so that
    case reports unknown (None) and ``balance_for_fanout`` leaves the
    input untouched. Callers on the intended path (a plain scan) never
    hit the adaptive wrapper. Returns None on Spark Connect too, where
    neither ``_jdf`` nor the RDD API exists."""
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if "AdaptiveSparkPlan" in plan.getClass().getSimpleName():
            return None
        return plan.execute().getNumPartitions()
    except _NO_JVM_PLAN:
        pass
    try:
        return df.rdd.getNumPartitions()
    except _NO_JVM_PLAN:  # Spark Connect or other non-classic backend
        return None


def _check_hash_family(hash_family: str) -> None:
    if hash_family not in ("md5", "fast"):
        raise ValueError(f"unknown hash_family {hash_family!r}")


def exact_dedup_stats(
    df: DataFrame, id_col: str, text_col: str, hash_family: str = "md5"
) -> DataFrame:
    """Exact duplicate groups by normalized-content hash: one row per
    distinct content with the keeper (min id) and duplicate count.

    ``hash_family``: ``"md5"`` (default, 128-bit) is cross-engine
    checkable against the DuckDB oracle; ``"fast"`` swaps in a
    TWO-SEED xxhash64 composite — JVM-intrinsic streaming hashes with
    a (long, long) struct group key instead of a 32-char string, the
    right choice for production corpora where no SQL twin needs to
    reproduce the hash. The composite keeps 128 key bits: a single
    64-bit key would merge distinct contents by birthday collision at
    real corpus sizes (~millions of expected collisions at 10^10
    docs) and exact_dedup DELETES the merged doc; two independent
    seeds make that failure as unreachable as md5's. Duplicate GROUPS
    are identical under either family (both content-deterministic);
    only the opaque hash value differs."""
    _check_hash_family(hash_family)
    norm = normalize_text(text_col)
    fp = (
        F.md5(norm)
        if hash_family == "md5"
        else F.struct(
            F.xxhash64(norm).alias("h0"),
            F.xxhash64(F.lit(1), norm).alias("h1"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"), fp.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, hash_family: str = "md5"
) -> DataFrame:
    """Keep one row per distinct normalized content (min id wins —
    deterministic, unlike ``dropDuplicates``)."""
    keepers = exact_dedup_stats(df, id_col, text_col, hash_family).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


def char_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 8) -> DataFrame:
    """Character k-shingles via posexplode(sequence) — one row per
    (doc, offset). Text is normalized first so whitespace/punct noise
    doesn't defeat the match."""
    norm = normalize_text(text_col)
    return (
        df.select(F.col(id_col).alias("id"), norm.alias("__t"))
        .select(
            "id",
            F.posexplode(
                F.sequence(F.lit(1), F.greatest(F.length("__t") - F.lit(k - 1), F.lit(1)))
            ).alias("__i", "pos"),
            F.col("__t"),
        )
        .select("id", F.substring(F.col("__t"), F.col("pos"), k).alias("shingle"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_k: int = 8,
    hash_family: str = "md5",
) -> DataFrame:
    """MinHash signature per document: ``num_hashes`` independent
    min-of-hash columns ``sig_0..sig_{n-1}``.

    ``hash_family="md5"`` (default, oracle-checkable): each component
    is an 8-hex slice of a seeded md5 digest (see
    ``functions.hashing.minhash_component`` — 4 components per digest,
    so 8 signatures cost 2 md5/shingle, and subexpression elimination
    computes each digest once per row). Lexicographic MIN over
    fixed-width hex is a valid min-hash.

    ``hash_family="fast"`` (production): component ``s`` is
    ``xxhash64(s, shingle)`` — a JVM-intrinsic streaming hash; the
    signature is a LONG and the min is a numeric min, so the
    aggregation stays in HashAggregate (md5's string-min buffers are
    immutable → the whole agg demotes to SortAggregate). Measured
    uniformly faster (SCALE.md r8: −11% at 1× sf0.1 growing to 2.15×
    at 32×). Same candidate-recall STATISTICS (any uniform hash
    induces a uniform order) but not the same candidate SET — a
    different hash draw collides different borderline buckets
    downstream (see ``minhash_lsh_pairs``). Not bit-reproducible in
    ANSI SQL, hence not the oracle default.

    One explode + one hash-aggregate; partial mins combine map-side so
    the shuffle carries one row per (doc, partition)."""
    _check_hash_family(hash_family)
    shingles = char_shingles(balance_for_fanout(df), id_col, text_col, k=shingle_k)
    if hash_family == "fast":
        aggs = [
            F.min(F.xxhash64(F.lit(s), F.col("shingle"))).alias(f"sig_{s}")
            for s in range(num_hashes)
        ]
        return shingles.groupBy("id").agg(*aggs)
    # r19 measured negative (guide §1.2): converting each 8-hex
    # component to a LONG (conv base16→10) so the min stays in
    # HashAggregate instead of the string-buffer SortAggregate was
    # tried and REVERTED — the 8 extra conv() evaluations per shingle
    # row cost ~2× more than the SortAggregate they removed (warm
    # 0.80 s → 1.66 s at sf0.1). The string min keeps the md5-hex
    # oracle contract at the price of a per-partition sort of the
    # (id, components) rows, which is the cheaper side here.
    aggs = [
        F.min(minhash_component(F.col("shingle"), s)).alias(f"sig_{s}")
        for s in range(num_hashes)
    ]
    return shingles.groupBy("id").agg(*aggs)


def lsh_bands(
    sigs: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    hash_family: str = "md5",
) -> DataFrame:
    """Banding: hash each contiguous signature slice to a bucket key.
    Output: (id, band, band_key) — ``bands`` rows per doc. The fast
    family emits LONG band keys (xxhash64 over the slice) instead of
    md5 hex strings — smaller shuffle rows, cheaper bucket groupBy."""
    _check_hash_family(hash_family)
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"sig_{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        key = (
            F.xxhash64(*cols)
            if hash_family == "fast"
            else F.md5(F.concat_ws("|", *cols))
        )
        band_structs.append(
            F.struct(F.lit(b).alias("band"), key.alias("band_key"))
        )
    return sigs.select(
        "id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


# Hot-bucket cap applied by scale_profile="production": 10k members
# all-pair within a bucket (≤ ~50M comparisons, well inside one task),
# everything past the cap star-joins to the bucket keeper instead.
PRODUCTION_MAX_BUCKET = 10_000


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
    max_bucket: int | None = None,
    scale_profile: str = "exact",
    hash_family: str = "md5",
    bands_df: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) that share at least
    one LSH band bucket. ``bands_df``: precomputed
    :func:`lsh_bands` output — pass it when another consumer (e.g.
    :func:`lsh_bucket_profile`) shares the shingle→signature→band
    subplan, so the corpus pays it once; ``num_hashes``/``bands``/
    ``shingle_k``/``hash_family`` are then ignored for banding. ``hash_family="fast"`` switches signatures and
    band keys from md5 hex strings to xxhash64 longs (see
    ``minhash_signatures``) — same recall STATISTICS, measurably
    cheaper hashing; the md5 default is what the oracle reproduces.

    MEASURED (SCALE.md r8 LSH adjudication, interleaved min-of-4 at
    1×–32× sf0.1): the signature/banding stage is uniformly faster
    under fast (−11% at 1× to 2.15× at 32×), but END-TO-END time at
    high duplication is dominated by candidate VOLUME, and the two
    families emit different candidate SETS — same expected collision
    rate j² per band, different hash draws, so different borderline
    medium-Jaccard buckets actually collide (fast drew +30% pairs on
    the probe corpus; the reverse is equally possible elsewhere).
    Consequently neither family "wins LSH" end-to-end: pick fast for
    the hashing economics, and control candidate volume with the
    knobs that govern it — ``bands``/``num_hashes`` and
    ``max_bucket``. Track the returned pair count across corpus
    versions; a swing there is workload, not regression.

    One aggregation per bucket (collect ids) + double-explode pair
    expansion: a single pass over the signatures — no self-join, so
    the shingle → signature subplan is computed once. (Nested
    higher-order slice/transform expressions were ~50× slower here —
    generators beat HOF chains for pair fan-out.) The only shuffles
    are the signature groupBy and the bucket groupBy; bucket pair
    blowup is quadratic in bucket size by construction (LSH buckets
    are small).

    ``max_bucket`` is the hot-bucket guard for corpora with massive
    boilerplate-identical groups (the one key LSH can't keep small):
    the bucket's ``max_bucket`` smallest ids pair all-ways, and every
    id past the cap pairs with the bucket keeper (smallest id) only —
    O(max_bucket² + bucket) per bucket instead of O(bucket²), with
    every member still chained to the keeper's component so dedup by
    connected components loses nothing. Default None preserves exact
    all-pairs semantics (what the oracle checks).

    ``scale_profile="production"`` is the preset for real corpora: it
    applies ``PRODUCTION_MAX_BUCKET`` when ``max_bucket`` isn't given.
    The exact profile is the right default ONLY for oracle parity and
    bounded inputs — at 100 TB a single boilerplate mega-bucket makes
    the exact path O(bucket²)."""
    if scale_profile not in ("exact", "production"):
        raise ValueError(f"unknown scale_profile {scale_profile!r}")
    if scale_profile == "production" and max_bucket is None:
        max_bucket = PRODUCTION_MAX_BUCKET
    _check_hash_family(hash_family)
    if bands_df is not None:
        b = bands_df
    else:
        b = lsh_bands(
            minhash_signatures(
                df, id_col, text_col, num_hashes, shingle_k, hash_family
            ),
            num_hashes,
            bands,
            hash_family,
        )
    if max_bucket is None:
        buckets = (
            b.groupBy("band", "band_key")
            .agg(F.collect_list("id").alias("ids"))
            .filter(F.size("ids") > 1)
        )
        return (
            buckets.select("ids", F.explode("ids").alias("id_a"))
            .select("id_a", F.explode("ids").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .distinct()
        )
    # Guarded path: sorted ids, so position order == id order. id_a
    # ranges over the head (first max_bucket ids); its partners are
    # every LATER head id, plus — for the keeper only — the entire
    # tail. Arrays are sliced BEFORE exploding, so O(bucket²) rows are
    # never materialized for a hot bucket.
    buckets = (
        b.groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    head = F.slice("ids", 1, max_bucket)
    partners = F.when(
        F.col("pa") == 0, F.slice("ids", 2, F.size("ids") - 1)
    ).otherwise(F.slice(head, F.col("pa") + 2, F.lit(max_bucket)))
    return (
        buckets.select("ids", F.posexplode(head).alias("pa", "id_a"))
        .select("id_a", F.explode(partners).alias("id_b"))
        .distinct()
    )


def lsh_bucket_profile(
    df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
    hash_family: str = "md5",
    bands_df: DataFrame | None = None,
) -> DataFrame:
    """Candidate-volume diagnostic for the LSH banding: the
    bucket-size histogram, which is what actually governs end-to-end
    dedup cost (r8 adjudication, SCALE.md: two hash families with
    identical collision STATISTICS emitted 30%-different candidate
    volumes — the swing lives entirely in which borderline buckets
    formed). Returns one row per occupied bucket size ≥ 2:
    ``(bucket_size, n_buckets, candidate_pairs)`` where
    ``candidate_pairs = n_buckets · C(bucket_size, 2)`` — the
    within-bucket pair expansions the pair stage performs (an upper
    bound on DISTINCT pairs, which cross-band dedup then shrinks).

    Production readings: the histogram's tail IS the mega-bucket
    detector (a single boilerplate bucket past
    ``PRODUCTION_MAX_BUCKET`` explains a quadratic blow-up before it
    happens); the ``sum(candidate_pairs)`` total is the number to
    track across corpus versions — a swing there is workload, not
    regression. Plan: the same one-pass shingle→signature→band
    subplan as :func:`minhash_lsh_pairs` (share it via ``bands_df``
    when computing both), one groupBy count per bucket, one groupBy
    count per size — all map-side-combining aggregations, no joins,
    output rows ≈ distinct bucket sizes (tiny at any corpus size)."""
    if bands_df is not None:
        b = bands_df
    else:
        if df is None:
            raise ValueError(
                "lsh_bucket_profile needs either a docs DataFrame or "
                "a precomputed bands_df"
            )
        _check_hash_family(hash_family)
        b = lsh_bands(
            minhash_signatures(
                df, id_col, text_col, num_hashes, shingle_k, hash_family
            ),
            num_hashes,
            bands,
            hash_family,
        )
    return (
        b.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") >= 2)
        .groupBy("bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .withColumn(
            # C(size, 2) FIRST, then the n_buckets product: keeps the
            # intermediate inside int64 until the per-size pair count
            # itself is astronomically large (~9.2e18, bucket_size
            # ~4.3e9). Past that the VALUE saturates int64 semantics
            # (non-ANSI wrap) — but bucket_size itself still flags
            # the mega-bucket, which is the detector's real signal.
            "candidate_pairs",
            F.expr(
                "CAST(bucket_size * (bucket_size - 1) AS BIGINT) "
                "div 2 * n_buckets"
            ),
        )
    )


# default batch-side limit of the guard-sidecar probes (lsh_seen_ids
# and the media *_seen_ids): above it the batch is chunked
PROBE_MAX_BROADCAST_ROWS = 2_000_000


def _probe_history(
    history: DataFrame,
    batch: DataFrame,
    keys: list[str],
    batch_id: str,
    score: Callable[[DataFrame], DataFrame],
    max_bucket: int | None,
    max_broadcast_rows: int | None,
) -> DataFrame:
    """Probe a corpus-sized guard sidecar with a batch: the one plan
    shared by :func:`lsh_seen_ids` and the media probes
    (``multimodal.phash_seen_ids`` / ``vhash_seen_ids`` /
    ``audio_seen_ids``). Each caller lays out both sides and passes
    ``score``, which turns the matched rows
    ``history.join(batch, keys)`` into output rows; the result is the
    ``distinct()`` union of ``score`` over the batch chunks.

    Broadcast (the 100 TB shape): the batch is always the explicit
    ``broadcast`` side, so the history scan is probed map-side with
    NO shuffle and NO sort of history, and only the matched rows feed
    ``score``'s aggregation.

    Hot keys: with ``max_bucket`` set, a key held by more than that
    many HISTORY rows (boilerplate bands, all-black thumbnails, black
    frames, silence) is dropped from the BATCH side before the join.
    The per-key counts come from a pre-pass that joins history with
    the chunk's distinct keys (broadcast), so only batch-carried keys
    are counted and the main join never materializes the explosion.
    Dropping a key can only remove matches: under-blocking, never
    false blocking.

    Chunking: a batch that outgrows broadcast is CHUNKED, never
    shuffle-joined (a shuffle join would re-shuffle the full history
    every batch). With ``max_broadcast_rows`` set, the batch is
    materialized once (``localCheckpoint``, so the count and every
    chunk read one computation of the batch side) and counted; above the
    limit it is split into ⌈n/limit⌉ chunks by
    ``pmod(xxhash64(batch_id), n_chunks)``, each probed as above, at
    the cost of one extra map-side history scan per chunk. Chunking
    is per ``batch_id``, so every row of one batch item (a video's
    frame set, a recording's windows) lands in one chunk and
    per-item scores are whole. ``max_broadcast_rows=None`` skips the
    checkpoint and count when the caller knows the batch is
    bounded."""

    def _probe(chunk: DataFrame) -> DataFrame:
        if max_bucket is not None:
            hot = (
                history.join(
                    F.broadcast(chunk.select(*keys).distinct()), keys
                )
                .groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") > int(max_bucket))
                .select(*keys)
            )
            chunk = chunk.join(F.broadcast(hot), keys, "left_anti")
        return score(history.join(F.broadcast(chunk), keys))

    n_chunks = 1
    if max_broadcast_rows is not None:
        batch = batch.localCheckpoint()
        n_chunks = max(1, -(-batch.count() // int(max_broadcast_rows)))
    chunks = [batch] if n_chunks == 1 else [
        batch.filter(
            F.pmod(F.xxhash64(F.col(batch_id)), F.lit(n_chunks)) == F.lit(i)
        )
        for i in range(n_chunks)
    ]
    return reduce(DataFrame.unionByName, map(_probe, chunks)).distinct()


def lsh_seen_ids(
    batch: DataFrame | None,
    seen_bands: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
    hash_family: str = "md5",
    bands_df: DataFrame | None = None,
    max_broadcast_rows: int | None = PROBE_MAX_BROADCAST_ROWS,
    max_bucket: int | None = None,
    return_pairs: bool = False,
) -> DataFrame:
    """Cross-corpus LSH membership probe: the distinct batch ids that
    share at least one band bucket with a HISTORICAL band layer —
    i.e. the batch docs that are near-duplicate candidates of
    something already in the corpus. The incremental counterpart of
    :func:`minhash_lsh_pairs`: within-corpus dedup compares a corpus
    to itself; an ingest pipeline needs "is this NEW doc a near-dup
    of ANY of the N docs admitted before" without rescanning (or
    re-shuffling) history per batch.

    ``seen_bands`` is the persisted band layer of the admitted corpus
    — the ``(id, band, band_key)`` output of
    :func:`lsh_bands` ∘ :func:`minhash_signatures`, appended as docs
    are admitted (``bands`` rows per doc: KB-scale per doc, a few
    percent sidecar like the fingerprint layer). Both sides MUST use
    the same (num_hashes, bands, shingle_k, hash_family) — band keys
    from different recipes never collide meaningfully.

    Semantics match the band stage of :func:`minhash_lsh_pairs`
    exactly (≥1 shared bucket ⇒ candidate): band-level probability of
    collision at Jaccard s is 1-(1-s^r)^b, so thresholds tuned
    within-corpus carry over. This returns CANDIDATES — the
    within-bucket verification the pair stage would do (or
    :func:`verify_pairs_levenshtein`) is the caller's choice; an
    admission gate that drops candidates outright trades a small
    false-positive rate (band collision without true similarity) for
    never touching historical text.

    Plan: the batch's ``bands``·|batch| band rows are the broadcast
    side of :func:`_probe_history` (history never shuffled or sorted;
    mega-batches beyond ``max_broadcast_rows`` band rows are chunked
    per doc id), and the ``seen_bands`` scan prunes to the two key
    columns (id/text never read).

    ``max_bucket`` (r14 — the media probes' hot-bucket guard applied
    to the text gate): a band key held by more than that many HISTORY
    rows (degenerate near-empty shingle sets, boilerplate-dominated
    docs) is dropped from the batch side before the join. Two effects,
    both wanted: the intermediate join explosion is bounded, and the
    gate's documented over-blocking NARROWS — a doc colliding ONLY on
    a degenerate bucket is admitted instead of silently blocked (it
    can still block through its other bands). Under-blocking-only,
    like every cap in this family.

    ``return_pairs=True`` (r15 — the verify-before-block input)
    returns distinct CANDIDATE PAIRS ``(id_col, seen_id)`` instead of
    batch ids: which historical doc each batch doc collided with, so
    a verifier (:func:`verify_candidates_jaccard`) can rescore the
    bounded pair set against real text before anything is blocked.
    The history scan then reads its id column too (three columns
    instead of two) — still never the text, and still probed by the
    broadcast batch with no history shuffle."""
    if bands_df is None:
        if batch is None:
            raise ValueError(
                "lsh_seen_ids needs either a batch DataFrame or a "
                "precomputed bands_df"
            )
        _check_hash_family(hash_family)
        bands_df = lsh_bands(
            minhash_signatures(
                batch, id_col, text_col, num_hashes, shingle_k, hash_family
            ),
            num_hashes,
            bands,
            hash_family,
        )

    if return_pairs:
        history = seen_bands.select(
            F.col("id").alias("seen_id"), "band", "band_key"
        )
        cols = [F.col("id").alias(id_col), F.col("seen_id")]
    else:
        history = seen_bands.select("band", "band_key")
        cols = [F.col("id").alias(id_col)]
    return _probe_history(
        history, bands_df, ["band", "band_key"], "id",
        lambda hits: hits.select(*cols), max_bucket, max_broadcast_rows,
    )


def _shingle_set(text: Column, k: int) -> Column:
    """Distinct char k-shingle array of the NORMALIZED text as one
    map-only Column expression (no explode, no shuffle) — the exact
    shingle material :func:`minhash_signatures` estimates Jaccard
    over, so a threshold tuned for the LSH banding curve carries over
    to the verifier unchanged. NULL text stays NULL (no evidence)."""
    # the text is expected to be a plain column reference — a caller
    # passing a raw expression would re-evaluate it per element (the
    # r6 lambda trap); verify_candidates_jaccard projects first.
    n = F.greatest(F.length(text) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: text.substr(i, F.lit(k)))
    )


def verify_pairs_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pairs: DataFrame,
    shingle_k: int = 8,
    min_jaccard: float = 0.5,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Within-frame pair verification by exact char-shingle Jaccard:
    keep only the candidate pairs whose two texts clear
    ``min_jaccard`` — the one-frame sibling of
    :func:`verify_candidates_jaccard` (same shingle material as
    :func:`minhash_signatures`, so thresholds sit on the LSH banding
    curve) and the Jaccard sibling of
    :func:`verify_pairs_levenshtein`'s join shape: two joins of the
    (blocking-bounded) pair set against a two-column shingle
    projection — text never fans out, everything is pair-set-sized.
    Feeding the surviving pairs to :func:`connected_components` makes
    the cluster stage verify-exact: a bare band collision (or a
    ``max_bucket`` keeper-star chain whose member is not actually
    similar to the keeper) no longer merges components."""
    # normalized text materialized in its own projection before the
    # shingle transform references it (the r6 lambda trap)
    t = df.select(
        F.col(id_col).alias("__vid"),
        normalize_text(text_col).alias("__vnt"),
    ).select(
        "__vid", _shingle_set(F.col("__vnt"), shingle_k).alias("__vs")
    )
    inter = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    union = F.size(F.array_union(F.col("__sa"), F.col("__sb")))
    out_cols = list(pairs.columns)
    return (
        pairs.join(
            t.select(
                F.col("__vid").alias(a_col), F.col("__vs").alias("__sa")
            ),
            a_col,
        )
        .join(
            t.select(
                F.col("__vid").alias(b_col), F.col("__vs").alias("__sb")
            ),
            b_col,
        )
        .filter(union > 0)
        .filter((inter / union) >= F.lit(float(min_jaccard)))
        .select(*out_cols)
    )


def verify_candidates_jaccard(
    batch: DataFrame,
    history_docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 8,
    min_jaccard: float = 0.5,
    max_broadcast_chars: int | None = 20_000_000,
) -> DataFrame:
    """Verify-before-block for the cross-corpus LSH gate (r15,
    verdict #2): rescore the candidate pairs from
    ``lsh_seen_ids(return_pairs=True)`` with EXACT char-shingle
    Jaccard over the real texts, and return the distinct batch ids
    whose similarity to at least one historical doc clears
    ``min_jaccard`` — the text-gate analog of the media probes' exact
    Hamming verify. An unverified gate drops a doc on band collision
    alone, and under the ingest face's append-only keeper contract a
    false block is PERMANENT; verification bounds the gate's false
    positives to genuinely similar text at the cost of reading the
    CANDIDATE texts only.

    Cost shape (the 100 TB argument): ``pairs`` is bounded by
    batch × ``max_bucket``; the only corpus-sized input is
    ``history_docs``, scanned ONCE with the scan pruned to
    (id, text) and immediately semi-joined against the BROADCAST
    candidate history ids — history text is read for candidate rows
    only, never shuffled. Shingle sets are per-row column algebra
    (no explode); the pair join + intersection runs on the bounded
    candidate frame. Pass the same ``shingle_k`` as the LSH recipe.
    NULL/empty texts never reach this verifier on the ingest path —
    they share a fingerprint (sentinel / md5 of ""), so the EXACT
    guard blocks them first; called directly, a NULL text matches
    only another NULL (degenerate, like-for-like).

    Broadcast guard (r17, verdict #1): the broadcast frame carries
    SHINGLE ARRAYS — ~24 bytes per candidate-text char, and each
    batch id's array is replicated once per pair row — so an
    UNBOUNDED candidate set (``lsh_max_bucket=None`` on a
    band-saturated corpus) OOMs the 8 GB driver long before the pair
    COUNT looks alarming (measured: ~2 GiB broadcast at 32M docs,
    SCALE.md §r16). Pre-flight, one batch-bounded agg estimates the
    replicated payload as Σ_pairs length(batch text); above
    ``max_broadcast_chars`` (default 20M chars ≈ 500 MB worst-case
    broadcast) every broadcast hint in this plan is dropped and the
    SAME joins run as shuffle joins — correct, spill-backed, slower;
    history (id, text) gets shuffled once instead of streamed. That
    is the right degrade for an unattended ingest loop: the
    crash-by-OOM regime becomes a slow batch plus the standing
    advice to set ``lsh_max_bucket``. ``None`` disables the guard
    (always broadcast, the pre-r17 behavior). The pre-flight agg
    re-executes the ``pairs`` plan once — checkpoint it first (the
    ingest call site does; ``lsh_seen_ids(return_pairs=True)``
    output is checkpointed before reaching here)."""
    from ..functions.hashing import normalize_text

    use_bcast = True
    if max_broadcast_chars is not None:
        est = (
            pairs.join(
                batch.select(
                    F.col(id_col), F.length(text_col).alias("__vl")
                ),
                id_col,
            )
            .agg(F.sum("__vl"))
            .first()[0]
            or 0
        )
        use_bcast = est <= int(max_broadcast_chars)

    def _hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if use_bcast else df

    hist_ids = pairs.select("seen_id").distinct()
    left = (
        batch.join(
            _hint(pairs.select(F.col(id_col)).distinct()),
            id_col,
            "left_semi",
        )
        .select(F.col(id_col), normalize_text(text_col).alias("__nt"))
        .select(F.col(id_col), _shingle_set(F.col("__nt"), shingle_k).alias("__sa"))
    )
    right = (
        history_docs.select(
            F.col(id_col).alias("seen_id"),
            normalize_text(text_col).alias("__nt"),
        )
        .join(_hint(hist_ids), "seen_id", "left_semi")
        .select("seen_id", _shingle_set(F.col("__nt"), shingle_k).alias("__sb"))
    )
    inter = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    union = F.size(F.array_union(F.col("__sa"), F.col("__sb")))
    # history side stays the streamed probe side end-to-end when the
    # guard admits broadcast: the (pairs ⋈ batch shingles) frame is
    # batch-bounded and BROADCAST, so the history text scan is read
    # map-side exactly once; above the guard the same join shuffles
    cand = pairs.join(left, id_col)
    return (
        right.join(_hint(cand), "seen_id")
        .filter(union > 0)
        .filter((inter / union) >= F.lit(float(min_jaccard)))
        .select(F.col(id_col))
        .distinct()
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32,
    hash_family: str = "md5",
) -> DataFrame:
    """SimHash over whitespace tokens of the normalized text.

    Token hash = first bits/4 hex chars of md5(token); bit j of the
    doc hash = sign of Σ_tokens (2·bit_j(token) − 1). Output: the
    ``bits``-length bit string (msb-first) as ``simhash_bits``.

    Explode + per-bit conditional sums with map-side combine; the
    per-bit expressions are generated Column algebra (bits ≤ 64).

    ``hash_family="fast"``: token bits come straight off the xxhash64
    long (shift + mask — no md5, no hex decode), so the per-token cost
    drops to one intrinsic hash; same plan shape, different (still
    uniform) bit source, so Hamming-distance STRUCTURE is preserved
    but hashes are not comparable across families."""
    _check_hash_family(hash_family)
    hex_chars = bits // 4
    base = balance_for_fanout(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    if hash_family == "fast":
        h = F.xxhash64("tok")
        sums = [
            F.sum(
                (F.shiftright(h, j).bitwiseAND(F.lit(1)).cast("int")) * 2 - 1
            ).alias(f"s_{j}")
            for j in range(bits)
        ]
        per_doc = base.groupBy("id").agg(*sums)
        bit_chars = [
            F.when(F.col(f"s_{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(bits)
        ]
        return per_doc.select("id", F.concat(*bit_chars).alias("simhash_bits"))
    tokens = base.select(
        "id", F.substring(F.md5(F.col("tok")), 1, hex_chars).alias("h")
    )
    # nibble value of hex char i (1-based): conv is Spark-side;
    # the oracle spells it instr('0123456789abcdef', ch)-1. Nibbles
    # are projected ONCE per token row, then each of the 4 bit-sums
    # references the materialized column — not the conv expression —
    # so the hex→int decode runs hex_chars times per row, not bits.
    nibbled = tokens.select(
        "id",
        *[
            F.conv(F.substring(F.col("h"), i + 1, 1), 16, 10)
            .cast("int")
            .alias(f"nib_{i}")
            for i in range(hex_chars)
        ],
    )
    sums = []
    for i in range(hex_chars):
        nib = F.col(f"nib_{i}")
        for k in (3, 2, 1, 0):  # msb-first within the nibble
            bit = F.floor(nib / F.lit(2**k)).cast("int") % 2
            j = i * 4 + (3 - k)
            sums.append(F.sum(bit * 2 - 1).alias(f"s_{j}"))
    per_doc = nibbled.groupBy("id").agg(*sums)
    bit_chars = [
        F.when(F.col(f"s_{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for j in range(bits)
    ]
    return per_doc.select("id", F.concat(*bit_chars).alias("simhash_bits"))


def word_ngrams(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-grams per document (normalized tokens).

    Tokenization sits in its own projection so the normalize+split is
    evaluated once per row, not once per lambda call site."""
    toks = F.split(normalize_text(text_col), " ")
    return (
        df.select(F.col(id_col).alias("id"), toks.alias("__toks"))
        .select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size("__toks") - F.lit(n - 1), F.lit(1)),
                    ),
                    # try_element_at: past-the-end offsets on short docs
                    # yield null (concat_ws skips them) instead of an
                    # ANSI INVALID_ARRAY_INDEX error.
                    lambda i: F.concat_ws(
                        " ",
                        *[F.try_element_at("__toks", i + off) for off in range(n)],
                    ),
                )
            ).alias("gram"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    min_jaccard: float = 0.0,
    max_block: int | None = None,
) -> DataFrame:
    """n-gram Jaccard similarity for pairs within a blocking key that
    share at least one gram (id_a < id_b, jaccard rounded to 6dp).

    ``max_block`` is the hot-block guard (the Jaccard-side analog of
    ``minhash_lsh_pairs``' ``max_bucket``): a block larger than the
    cap keeps only its ``max_block`` SMALLEST ids — deterministic,
    and applied BEFORE the block groupBy (a rank over the same block
    key, so Spark reuses the exchange), which bounds both the Arrow
    batch one executor must hold AND the Σ df(gram)² pair mass.
    Unlike the LSH cap there is no keeper star: this operator emits
    SIMILARITIES for verification, not connectivity candidates, and a
    fabricated pair would carry a fabricated score — dropped docs are
    simply not verified this pass (an adversarial mega-block is
    boilerplate; route it through LSH-band blocking instead).

    Plan: per-doc distinct-gram ARRAYS built with pure column algebra
    (no explode, no shuffle), then ``applyInPandas`` per block: Arrow
    ships each doc's gram set ONCE, and intersection counts come from
    an in-memory inverted index — per gram, emit its doc pairs and
    count multiplicity with one ``np.unique`` — so the work is
    Σ_gram df(gram)² (the irreducible pair-overlap mass), not
    O(docs²·vocab) like a dense doc×vocab matrix product and not
    O(docs²·|set|) like a self-join with per-pair ``array_intersect``
    (~20× slower, measured — it copies both gram arrays into every
    joined row). Python emits integer counts only; the jaccard
    division + rounding happen JVM-side so float semantics match the
    pure-SQL formulation exactly. The single shuffle is the block
    groupBy; one block's gram sets must fit an executor's memory — at
    scale use LSH bands (minhash_lsh_pairs) as blocks to keep them
    small by construction."""
    import numpy as np
    import pandas as pd

    # Tokenize in a SEPARATE projection: referencing the array by name
    # keeps the normalize+split from being inlined (and re-evaluated)
    # at every one of the ~3n lambda call sites below.
    df = balance_for_fanout(df)
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        F.split(normalize_text(text_col), " ").alias("__toks"),
    ).filter(
        # NULL block = unblocked: excluded, matching the equi-join
        # blocking semantics of any SQL formulation
        F.col("block").isNotNull()
    )
    sets = base.select(
        "id",
        "block",
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("__toks") - F.lit(n - 1), F.lit(1)),
                ),
                lambda i: F.concat_ws(
                    " ", *[F.try_element_at("__toks", i + off) for off in range(n)]
                ),
            )
        ).alias("grams"),
    )
    if max_block is not None:
        from pyspark.sql import Window

        wblk = Window.partitionBy("block").orderBy("id")
        sets = (
            sets.withColumn("__rk", F.row_number().over(wblk))
            .filter(F.col("__rk") <= int(max_block))
            .drop("__rk")
        )
    id_type = df.schema[id_col].dataType.simpleString()

    def _pair_counts(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_a": [], "id_b": [], "n_inter": [], "na": [], "nb": []}
        )
        pdf = pdf.sort_values("id").reset_index(drop=True)
        n_docs = len(pdf)
        if n_docs < 2:
            return empty
        vocab: dict[str, int] = {}
        rows, cols = [], []
        for r, gl in enumerate(pdf["grams"]):
            for g in gl:
                rows.append(r)
                cols.append(vocab.setdefault(g, len(vocab)))
        rows_a = np.asarray(rows, dtype=np.int64)
        cols_a = np.asarray(cols, dtype=np.int64)
        # grams are distinct per doc, so set size = row frequency
        sizes = np.bincount(rows_a, minlength=n_docs).astype(np.int32)
        # inverted index: group occurrence rows by gram
        order = np.argsort(cols_a, kind="stable")
        sr, sc = rows_a[order], cols_a[order]
        bounds = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1], True])
        triu_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        key_parts = []
        for s, e in zip(bounds[:-1], bounds[1:]):
            d = e - s
            if d < 2:
                continue
            docs = np.sort(sr[s:e])
            pair = triu_cache.get(d)
            if pair is None:
                pair = triu_cache[d] = np.triu_indices(d, 1)
            # linearize (lo, hi) pairs; doc rows are sorted so lo < hi
            key_parts.append(docs[pair[0]] * n_docs + docs[pair[1]])
        if not key_parts:
            return empty
        keys, ni = np.unique(np.concatenate(key_parts), return_counts=True)
        ia, ib = keys // n_docs, keys % n_docs
        ids = pdf["id"].to_numpy()
        return pd.DataFrame(
            {
                "id_a": ids[ia],
                "id_b": ids[ib],
                "n_inter": ni.astype(np.int32),
                "na": sizes[ia],
                "nb": sizes[ib],
            }
        )

    counts = sets.groupBy("block").applyInPandas(
        _pair_counts,
        schema=f"id_a {id_type}, id_b {id_type}, n_inter int, na int, nb int",
    )
    out = counts.select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
            6,
        ).alias("jaccard"),
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= F.lit(min_jaccard))
    return out


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release the block-manager storage of a superseded
    ``localCheckpoint`` — ``Dataset.unpersist`` does not reach it (the
    blocks belong to the internal RDD captured inside the LogicalRDD
    plan node, freed otherwise only when the JVM happens to GC the
    dataset). An iterative loop that checkpoints every round MUST
    free superseded rounds or their blocks accumulate for the whole
    loop: measured as driver GC-OOM at the 32× peel-probe volume
    under the default 8 g heap (r11 verdict #6). Best-effort —
    freeing storage is an optimization, never a correctness
    requirement."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except _NO_JVM_PLAN:
        pass


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
    contract_pairs: bool = True,
    small_graph_threshold: int | None = 200_000,
) -> DataFrame:
    """Connected components over an undirected pair graph — the step
    that turns near-dup CANDIDATE PAIRS (minhash_lsh_pairs /
    ngram_jaccard_pairs / near-dup cosine) into duplicate CLUSTERS a
    pipeline can actually act on. Returns one row per node that
    appears in any pair: ``(node, component)`` where ``component`` is
    the smallest node id reachable from ``node`` (the canonical
    keeper). Ids of any orderable type are supported: integral ids run
    the star loop directly; anything else (string doc ids are the
    common real-corpus case) is routed through an order-preserving
    dense-long dictionary so the loop's shuffles stay 8-byte-keyed and
    the min-id keeper contract is preserved exactly.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SOCC'14) — the
    scale-correct choice: converges in O(log²n) rounds even on
    pathological chain graphs where naive min-label propagation needs
    O(diameter) rounds. Each round is two hash-aggregations and two
    joins on the node id (map-side partial mins; no driver-side graph,
    no all-pairs anywhere):

    - large-star: every node attaches its strictly-larger neighbors to
      ``m(u) = min(Γ(u) ∪ {u})``;
    - small-star: edges oriented high→low; every node and its smaller
      neighbors re-attach to the minimum of the closed neighborhood.

    Convergence is detected by an order-insensitive edge-set digest
    (count + bit_xor of xxhash64) — one 1-row collect per round, the same
    legitimate driver-side model state as IVF's centroids. Lineage is
    truncated every round with ``localCheckpoint`` (iterative plans
    otherwise grow exponentially and re-execute prior rounds; on a
    cluster with an unreliable-executor profile, swap for reliable
    ``checkpoint`` on a DFS dir). Raises ``RuntimeError`` if the edge
    set hasn't stabilized after ``max_iter`` rounds rather than
    returning a partially-merged labeling. Pass ``stats`` (a dict) to
    read back the executed round count (``stats["rounds"]``) — the
    convergence-regression telemetry a recurring production run
    should track.

    ``contract_pairs`` (default on, r10): most near-dup clusters in a
    real corpus are SIZE 2, and those edges — both endpoints degree 1
    — are already their own components, so they are peeled into direct
    ``(node → min)`` assignments BEFORE the loop (one degree
    aggregation + two key joins, paid once) and only the residual
    graph iterates. The iterated edge set shrinks by the trivial-pair
    share every round it would otherwise be dragged through; output is
    identical by construction (an isolated edge's component is its
    smaller endpoint), and ``stats["rounds"]`` still reports the loop
    executed on the residual (0 when the graph is nothing but
    pairs).

    ``small_graph_threshold`` (r19, guide §1.2 "choose the
    algorithm"): when the DISTINCT edge set is at most this many rows
    (counted off the already-materialized edge checkpoint — one cheap
    job), the components are contracted with a driver-side union-find
    over the Arrow-collected edges instead of the star loop. The loop
    costs ~(2 aggregations + 2 joins + a distinct + an eager
    checkpoint + a 1-row collect) PER ROUND regardless of edge count —
    measured 3.4 s for a 716-edge graph at sf0.1, pure per-round job
    overhead — while a bounded union-find is milliseconds. This is the
    same legitimate bounded driver-side model state as the per-round
    convergence digest (a 200k-edge ceiling is ~3 MB through Arrow,
    nowhere near driver limits); corpus-scale graphs blow past the
    threshold and take the star loop unchanged, so the 100 TB shape is
    untouched. Output identical by construction: union-by-min-root
    union-find yields exactly ``component = min reachable id``.
    ``stats["rounds"]`` is 0 on this path (no loop ran) and
    ``stats["small_graph_edges"]`` records the edge count; pass
    ``small_graph_threshold=None`` to force the distributed loop (the
    loop-mechanics tests and the bench convergence probe do)."""
    a_dt = pairs.schema[a_col].dataType.typeName()
    b_dt = pairs.schema[b_col].dataType.typeName()
    integral = {"byte", "short", "integer", "long"}
    if (a_dt in integral) != (b_dt in integral) or (
        a_dt not in integral and a_dt != b_dt
    ):
        # Mixed-type edges (e.g. long id_a, string id_b) would build
        # the id dictionary typed from a_col while unionByName coerces
        # values to the wider common type — the rdd.toDF(schema)
        # mapping then mistypes or fails at runtime (r12 advisor).
        # Both endpoints of an undirected edge draw from ONE node id
        # domain; a type mismatch means the caller joined the wrong
        # frames, so fail loudly here instead.
        raise TypeError(
            f"connected_components needs {a_col!r} and {b_col!r} to "
            f"share one id type, got {a_dt} vs {b_dt} — cast the pair "
            "columns to the common node-id type first"
        )
    if a_dt not in integral or b_dt not in integral:
        # Non-integral ids (real corpora key documents by string ids):
        # a blind cast("long") nulls every value and the null filter
        # below would silently drop the whole edge set — every member
        # would fall back to a singleton, the exact leakage/dedup
        # failure this operator exists to prevent. Instead, build a
        # dense-long id dictionary and run the star loop on longs (the
        # loop's shuffles then carry 8-byte keys, not full strings).
        # The dictionary is SORTED before zipWithIndex — a sorted RDD
        # is range-partitioned in global order, so index order == id
        # order and ``component = min(dense)`` maps back to exactly
        # ``min(original id)``: the keeper contract callers and the
        # recursive-CTE oracles rely on is preserved verbatim.
        ids = (
            pairs.select(F.col(a_col).alias("__cc_id"))
            .unionByName(pairs.select(F.col(b_col).alias("__cc_id")))
            .filter(F.col("__cc_id").isNotNull())
            .distinct()
            .sort("__cc_id")
        )
        id_type = pairs.schema[a_col].dataType
        mapping = (
            ids.rdd.zipWithIndex()
            .map(lambda t: (t[0][0], t[1]))
            .toDF(
                T.StructType(
                    [
                        T.StructField("__cc_id", id_type),
                        T.StructField("__cc_dense", T.LongType()),
                    ]
                )
            )
            .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
        )
        dense_pairs = (
            pairs.select(a_col, b_col)
            .join(
                mapping.select(
                    F.col("__cc_id").alias(a_col),
                    F.col("__cc_dense").alias("__cc_u"),
                ),
                a_col,
            )
            .join(
                mapping.select(
                    F.col("__cc_id").alias(b_col),
                    F.col("__cc_dense").alias("__cc_v"),
                ),
                b_col,
            )
            .select("__cc_u", "__cc_v")
        )
        comp = connected_components(
            dense_pairs,
            a_col="__cc_u",
            b_col="__cc_v",
            max_iter=max_iter,
            stats=stats,
            contract_pairs=contract_pairs,
            small_graph_threshold=small_graph_threshold,
        )
        return (
            comp.join(
                mapping.select(
                    F.col("__cc_dense").alias("node"),
                    F.col("__cc_id").alias("__cc_node"),
                ),
                "node",
            )
            .join(
                mapping.select(
                    F.col("__cc_dense").alias("component"),
                    F.col("__cc_id").alias("__cc_comp"),
                ),
                "component",
            )
            .select(
                F.col("__cc_node").alias("node"),
                F.col("__cc_comp").alias("component"),
            )
        )
    e0 = (
        pairs.select(
            F.col(a_col).cast("long").alias("u"),
            F.col(b_col).cast("long").alias("v"),
        )
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
    )
    # orient high→low once; small-star's input invariant (v < u).
    # Edge-sized checkpoints are DISK_ONLY (r10): each round re-reads
    # its predecessor exactly once, so a disk read costs little, while
    # memory-resident checkpoint blocks occupy the protected storage
    # half of the unified pool and strangle the rounds' aggregations —
    # measured as execution-memory OOM at the 32× probe volume.
    edges = (
        e0.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    if small_graph_threshold is not None:
        # gate + collect in ONE bounded job (r20): a separate count()
        # before toPandas() was a second pass over the checkpoint
        # blocks; limit(threshold+1) keeps the collect bounded by
        # construction either way — threshold+1 rows back means "too
        # big, take the loop" and at most ~3 MB crossed the driver
        pdf = edges.limit(int(small_graph_threshold) + 1).toPandas()
        if len(pdf) <= int(small_graph_threshold):
            # bounded driver-side union-find (docstring): milliseconds
            # of driver work replace ~rounds × (2 aggs + 2 joins +
            # distinct + checkpoint + collect) of per-round overhead
            if stats is not None:
                stats["rounds"] = 0
                stats["small_graph_edges"] = len(pdf)
            parent: dict[int, int] = {}

            def _find(x: int) -> int:
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:
                    parent[x], x = root, parent[x]
                return root

            for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
                ru, rv = _find(u), _find(v)
                if ru == rv:
                    continue
                # union by MIN root: the surviving root is always the
                # smallest id seen so far, so the final root of every
                # node is exactly min(reachable ids)
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
            nodes = sorted(set(pdf["u"].tolist()) | set(pdf["v"].tolist()))
            spark = pairs.sparkSession
            _free_local_checkpoint(edges)
            # broadcast mark: the mapping is bounded by construction
            # (≤ 2·threshold rows, a few MB) but arrives as a
            # stats-less parallelized relation, so downstream
            # anti-joins (drop_near_duplicates) would otherwise plan
            # a SortMergeJoin and shuffle the CORPUS side against it.
            # tiny_df (r20): row-count-sized slices — the default
            # cores-wide parallelize costs one Python worker round-trip
            # PER SLICE on every consumer that executes the mapping
            from ..functions.localdf import tiny_df

            return F.broadcast(
                tiny_df(
                    spark,
                    [(n, _find(n)) for n in nodes],
                    "node long, component long",
                )
            )
    # the round whose checkpoint blocks are currently live; freed as
    # soon as the next round's checkpoint has materialized (see
    # _free_local_checkpoint — otherwise every round's blocks stay
    # resident for the whole loop)
    prev_cp = edges

    trivial = None
    if contract_pairs:
        # peel isolated edges (both endpoints degree 1): each is a
        # finished size-2 component — emit its star rows directly and
        # iterate only the residual graph. Plans chosen to SPILL, not
        # build: one map-side-combined degree aggregation (a node's
        # degree-1 witness is ``min(neighbor)`` — when d == 1 the min
        # IS the only neighbor), a NODE-sized self-join of the
        # degree-1 set (mutual-single-neighbor pairs are exactly the
        # isolated edges), and one spillable anti-join of the edge
        # set. Hash-build attaches of a full degree table onto the
        # edge set OOM at 32× (driver broadcast or 32-way hash build
        # of an unknowable-size table); this shape never holds more
        # than the node table in memory.
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        d1 = (
            sym.groupBy("u")
            .agg(F.count(F.lit(1)).alias("__d"), F.min("v").alias("__nbr"))
            .filter(F.col("__d") == 1)
            .select(F.col("u").alias("n"), F.col("__nbr").alias("nbr"))
        )
        iso = (
            d1.select(F.col("n").alias("u"), F.col("nbr").alias("v"))
            .join(
                d1.select(F.col("n").alias("v"), F.col("nbr").alias("u")),
                ["u", "v"],
            )
            .filter(F.col("u") > F.col("v"))
            .localCheckpoint()
        )
        trivial = iso.select(
            F.col("u").alias("node"), F.col("v").alias("component")
        ).unionByName(
            iso.select(
                F.col("v").alias("node"), F.col("v").alias("component")
            )
        )
        # residual stays LAZY over the two checkpoints (edges + iso):
        # a second edge-sized checkpoint here tips the 32× probe into
        # execution-memory exhaustion — round 1 re-derives the cheap
        # anti-join instead, and its own output checkpoint takes over
        edges = edges.join(iso, ["u", "v"], "left_anti")
        if stats is not None:
            stats["rounds"] = 0

    def _digest(e: DataFrame) -> tuple:
        # bit_xor: order-insensitive and overflow-free under ANSI mode
        # (sum(xxhash64) overflows long); edges are distinct, so xor
        # cancellation of repeated rows can't occur
        row = e.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    sig = _digest(edges)
    if sig[0] == 0:
        # residual graph empty (all components were trivial pairs, or
        # the input had no edges): nothing to iterate
        if trivial is not None:
            # rows are unique by construction (all endpoints degree 1)
            return trivial
        return edges.select(
            F.col("u").alias("node"), F.col("v").alias("component")
        )
    for _round in range(max_iter):
        if stats is not None:
            stats["rounds"] = _round + 1
        # large-star over the symmetric view: attach larger neighbors
        # to the closed-neighborhood min
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least(F.col("u"), F.col("mn")).alias("m")
        )
        # no distinct here: duplicate edges don't perturb the min
        # aggregations and the post-small-star distinct dedups —
        # saves one full shuffle per round
        edges = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star: edges already high→low; re-attach the node and
        # its smaller neighbors to the neighborhood min
        mins = edges.groupBy("u").agg(F.min("v").alias("m"))
        lowered = edges.join(mins, "u")
        edges = (
            lowered.select(F.col("u"), F.col("m").alias("v"))
            .unionByName(
                lowered.select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
        )
        # the eager checkpoint above has materialized this round —
        # the previous round's blocks are now unreachable by any
        # later plan (lineage is truncated), so free them instead of
        # letting ~max_iter rounds of edge blocks pile up
        _free_local_checkpoint(prev_cp)
        prev_cp = edges
        new_sig = _digest(edges)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # converged: edges form stars (node → component root). Roots point
    # nowhere, so add their self-assignments from the parent side.
    out = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(
            edges.select(F.col("v").alias("node"), F.col("v").alias("component"))
        )
        .distinct()
    )
    if trivial is not None:
        # disjoint by construction: a peeled edge's endpoints appear
        # in no residual edge (both were degree 1)
        out = out.unionByName(trivial)
    return out


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
    scale_profile: str = "exact",
    hash_family: str = "md5",
) -> DataFrame:
    """End-to-end near-dup clustering: LSH candidate pairs → connected
    components → one row per clustered doc with its canonical keeper
    (cluster minimum). Docs in no candidate pair are implicit
    singletons (left out — at 100 TB emitting n singleton rows to say
    "not a duplicate" is pure shuffle waste; consumers anti-join).

    The production scale_profile composes correctly with clustering:
    the hot-bucket guard chains every capped bucket member to the
    bucket keeper, so components (and keepers) are identical to the
    exact profile's whenever the true near-dup relation is transitive
    within buckets."""
    pairs = minhash_lsh_pairs(
        df,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        scale_profile=scale_profile,
        hash_family=hash_family,
    )
    return connected_components(pairs)


def drop_near_duplicates(
    df: DataFrame, id_col: str, members: DataFrame
) -> DataFrame:
    """Apply a clustering: keep every row whose id is a cluster keeper
    (component root) or unclustered. One broadcast-or-shuffle anti-join
    against the non-keeper member set — never touches text."""
    losers = members.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def duplicate_window_hits(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 20,
    hash_family: str = "md5",
) -> DataFrame:
    """Flagged stride-1 window occurrences: one row ``(id, p, w, c)``
    per ``min_len``-char window of the NORMALIZED (run-collapsed) text
    that occurs at least twice corpus-wide — ``p`` the 1-based offset,
    ``w`` the window string, ``c`` its corpus-wide occurrence count.

    The shared upstream of :func:`duplicate_spans` (which merges these
    rows into per-doc maximal spans) and :func:`top_duplicate_windows`
    (which ranks the distinct ``w`` by ``c``): both consume exactly
    this frame, so a caller that needs both computes it ONCE (ideally
    ``localCheckpoint``-ed — measured at sf0.1 it is ~1/3 of the
    window volume, so materializing it once beats re-running the
    second full stride-1 explode + shuffle; guide §2.4) and passes it
    via their ``hits=`` hooks. ``hash_family="fast"`` keys the count
    window by two flat xxhash64 longs (same dial as
    :func:`duplicate_spans`) but must still CARRY ``w`` for the
    top-window consumer — use it only when that consumer is wanted;
    span-only callers keep the narrower in-line path. Fast-family
    collision caveat for that consumer (r19 advisor): ``c`` counts by
    the xxhash64 pair, so two DISTINCT window strings colliding on
    both seeds would each surface in ``top_duplicate_windows`` as
    separate rows carrying the combined count, where the in-line fast
    path collapses them to one ``min(w)`` row — a divergence only on
    a 128-bit collision (~2⁻¹²⁸ per window pair; the md5 default and
    every oracle-checked slot are unaffected)."""
    from pyspark.sql import Window

    _check_hash_family(hash_family)
    norm = normalize_text(text_col)
    pos = (
        balance_for_fanout(df)
        .select(F.col(id_col).alias("id"), norm.alias("__nt"))
        .filter(F.length("__nt") >= min_len)
        .select(
            "id",
            F.posexplode(
                F.sequence(F.lit(1), F.length("__nt") - F.lit(min_len - 1))
            ).alias("__i", "p"),
            F.col("__nt"),
        )
        .select("id", "p", F.substring("__nt", F.col("p"), min_len).alias("w"))
    )
    if hash_family == "fast":
        pos = pos.select(
            "id", "p", "w",
            F.xxhash64("w").alias("__h0"),
            F.xxhash64(F.lit(1), F.col("w")).alias("__h1"),
        )
        wkey = ["__h0", "__h1"]
    else:
        wkey = ["w"]
    return (
        pos.withColumn(
            "c", F.count(F.lit(1)).over(Window.partitionBy(*wkey))
        )
        .filter(F.col("c") >= 2)
        .select("id", "p", "w", "c")
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 20,
    hash_family: str = "md5",
    preserve_offsets: bool = False,
    hits: DataFrame | None = None,
) -> DataFrame:
    """Exact duplicated-substring spans (the Lee et al. 2022
    "Deduplicating Training Data" signal, distributed): for every doc,
    the merged character ranges (1-based, inclusive, over the
    NORMALIZED text) covered by ``min_len``-char windows that occur
    at least twice in the corpus (including twice within one doc —
    self-repetition is duplication too). Memorization risk
    concentrates in these spans; downstream can cut or down-weight
    them.

    Plan: stride-1 window explode (the same fan-out budget as MinHash
    shingling — rows ≈ total chars, consumed immediately), a count
    window partitioned by the window key, then classic
    gaps-and-islands per doc (lag + running break-sum) to merge
    overlapping hits into maximal spans. No driver state, no
    quadratic step; suffix automata do this with less total work but
    don't distribute — windows trade constant-factor work for
    embarrassing parallelism.

    ``hash_family``: ``"md5"`` (default, oracle-checkable) partitions
    the count window by the raw ``min_len``-char substring.
    ``"fast"`` partitions by TWO flat two-seed xxhash64 columns of
    the substring instead — the stride-1 shuffle then carries two
    fixed 8-byte longs per row instead of a ~``min_len``-byte string,
    and the window-count stage (which, unlike the groupBy dedup ops,
    gets no map-side partial aggregation) sorts longs, not strings.
    Two independent seeds keep 128 key bits: a single 64-bit key
    would birthday-collide at real corpus window counts (~10^14
    windows at 100 TB) and a collision FLAGS a unique span as
    duplicated. Span output is identical across families (both keys
    are content-deterministic); only the shuffle width differs.

    MEASURED, not asserted (SCALE.md "span hash-family adjudication",
    interleaved min-of-4 warm runs, local[32]): the two xxhash64
    evaluations over corpus-chars rows are NOT free, so the raw
    string key WINS below ~4× sf0.1 (1×: md5 0.95 s vs fast 1.07 s),
    the families tie at 4–16×, and fast pulls ahead ~10% at 32×
    (8.5 s vs 9.4 s) with the gap widening as the shuffle grows
    sort-bound. Prescription: md5/raw at single-node test volumes,
    fast once the per-node window volume clears the crossover —
    which a 1000-executor 100 TB run does by orders of magnitude.

    ``preserve_offsets=True`` normalizes with the LENGTH-PRESERVING
    variant (casefold + 1-char punctuation masking, no run collapse
    — functions/hashing.normalize_text_aligned), so the returned
    span ranges index the ORIGINAL ``text_col`` directly. That is
    what a non-lossy cut needs: detect duplication over a
    case/punct-insensitive view, then remove the spans from the raw
    text without destroying casing or punctuation elsewhere
    (:func:`cut_duplicate_spans` ``preserve_original=True``).
    Detection differs slightly from the default view — whitespace
    runs are not collapsed, so windows straddling them match only
    when the runs match too (a strictly more conservative signal).

    ``hits``: precomputed :func:`duplicate_window_hits` output for the
    same (df, min_len) over the DEFAULT normalized view — pass it
    (ideally ``localCheckpoint``-ed) when another consumer (e.g.
    :func:`top_duplicate_windows`) shares the stride-1 explode +
    count-window subplan, so the corpus pays it once (guide §2.4);
    only the gaps-and-islands merge then runs here. Incompatible with
    ``preserve_offsets=True`` (hits are over the run-collapsed view)."""
    from pyspark.sql import Window

    _check_hash_family(hash_family)
    if hits is not None:
        if preserve_offsets:
            raise ValueError(
                "duplicate_spans(hits=...) carries normalized-view "
                "offsets — incompatible with preserve_offsets=True"
            )
        dup = hits.select("id", "p")
        wdoc = Window.partitionBy("id").orderBy("p")
        brk = dup.withColumn(
            "b",
            F.when(
                F.col("p") - F.lag("p", 1, -1_000_000).over(wdoc) > min_len,
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        isl = brk.withColumn(
            "g",
            F.sum("b").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)),
        )
        return (
            isl.groupBy("id", "g")
            .agg(
                F.min("p").alias("span_start"),
                (F.max("p") + F.lit(min_len - 1)).alias("span_end"),
            )
            .select(
                F.col("id").alias(id_col),
                F.col("span_start").alias(
                    "span_start", metadata={"span_offsets": "normalized"}
                ),
                "span_end",
            )
        )
    norm = (
        normalize_text_aligned(text_col)
        if preserve_offsets
        else normalize_text(text_col)
    )
    pos = (
        balance_for_fanout(df)
        .select(F.col(id_col).alias("id"), norm.alias("__nt"))
        .filter(F.length("__nt") >= min_len)
        .select(
            "id",
            F.posexplode(
                F.sequence(F.lit(1), F.length("__nt") - F.lit(min_len - 1))
            ).alias("__i", "p"),
            F.col("__nt"),
        )
        .select("id", "p", F.substring("__nt", F.col("p"), min_len).alias("w"))
    )
    if hash_family == "fast":
        # two FLAT long columns, not a struct: window partitioning on
        # plain longs stays in the fastest unsafe-row comparator path
        # (a struct key adds per-row nested-row overhead, measured
        # slower at sf0.1 for zero extra safety)
        pos = pos.select(
            "id",
            "p",
            F.xxhash64("w").alias("__h0"),
            F.xxhash64(F.lit(1), F.col("w")).alias("__h1"),
        )
        wkey = ["__h0", "__h1"]
    else:
        wkey = ["w"]
    dup = (
        pos.withColumn("c", F.count(F.lit(1)).over(Window.partitionBy(*wkey)))
        .filter(F.col("c") >= 2)
        .select("id", "p")
    )
    wdoc = Window.partitionBy("id").orderBy("p")
    brk = dup.withColumn(
        "b",
        F.when(
            F.col("p") - F.lag("p", 1, -1_000_000).over(wdoc) > min_len,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    isl = brk.withColumn(
        "g",
        F.sum("b").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("id", "g")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + F.lit(min_len - 1)).alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            # offsets-view marker: records WHICH text view the ranges
            # index ("raw" = the original text_col via the
            # length-preserving normalization; "normalized" = the
            # run-collapsing view). cut_duplicate_spans refuses a
            # precomputed spans frame whose marker contradicts its
            # preserve_original mode — cutting normalized-view offsets
            # out of raw text silently removes the WRONG characters.
            F.col("span_start").alias(
                "span_start",
                metadata={
                    "span_offsets": "raw" if preserve_offsets else "normalized"
                },
            ),
            "span_end",
        )
    )


def verify_pairs_levenshtein(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pairs: DataFrame,
    prefix_len: int = 100,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Candidate-pair VERIFICATION by edit distance: rescore the
    output of a blocking stage (LSH bands, n-gram Jaccard, cosine
    buckets) with ``levenshtein`` over a bounded prefix of the
    normalized text — the cheap-sketch-then-exact-verify pattern every
    production dedup pipeline ends with (sketches admit false
    positives; the verifier kills them before the delete step).

    Adds ``lev_dist`` (edit distance over the first ``prefix_len``
    normalized chars) and ``lev_len`` (longer prefix length — the
    denominator for a similarity ratio ``1 - dist/len``). Levenshtein
    is O(n·m) PER PAIR: never run it corpus × corpus; here the pair
    count is bounded by the blocking stage and the prefix bound caps
    per-pair cost at ``prefix_len²`` regardless of document length.
    Two joins of the (small) pair set against a two-column projection
    of the docs — text never fans out.

    ``lev_truncated`` flags pairs where either side actually hit the
    prefix cap — the accuracy-observability counter (same idea as
    ``connected_components``' ``stats["rounds"]``): a rising
    ``sum(lev_truncated)`` across bench rounds means the verifier is
    increasingly judging prefixes rather than documents, and
    ``prefix_len`` should be revisited before trusting the
    ratios."""
    t = df.select(
        F.col(id_col).alias("__vid"),
        F.substring(normalize_text(text_col), 1, prefix_len).alias("__vt"),
        (F.length(normalize_text(text_col)) > prefix_len).alias("__vtr"),
    )
    out_cols = list(pairs.columns)
    return (
        pairs.join(
            t.select(
                F.col("__vid").alias(a_col),
                F.col("__vt").alias("__ta"),
                F.col("__vtr").alias("__tra"),
            ),
            a_col,
        )
        .join(
            t.select(
                F.col("__vid").alias(b_col),
                F.col("__vt").alias("__tb"),
                F.col("__vtr").alias("__trb"),
            ),
            b_col,
        )
        .select(
            *out_cols,
            F.levenshtein("__ta", "__tb").alias("lev_dist"),
            F.greatest(F.length("__ta"), F.length("__tb")).alias("lev_len"),
            (F.col("__tra") | F.col("__trb")).alias("lev_truncated"),
        )
    )


def cut_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 20,
    spans: DataFrame | None = None,
    out_col: str = "cut_text",
    hash_family: str = "md5",
    preserve_original: bool = False,
    spans_aligned: bool | None = None,
) -> DataFrame:
    """The ACTION step of the Lee et al. 2022 signal: remove every
    duplicated span from each document's text (the paper cuts rather
    than drops — a doc that quotes a license header is still good
    training data minus the header). Output: one row per input doc
    with ``out_col`` (the cut text) and ``n_cut_chars``; docs with no
    spans pass through unchanged.

    ``preserve_original=False`` (default, the oracle-checkable form)
    cuts from the NORMALIZED text. ``preserve_original=True`` — the
    training-corpus mode — detects spans over the length-preserving
    normalization (:func:`duplicate_spans` ``preserve_offsets``) and
    cuts them out of the RAW ``text_col``, so casing and punctuation
    survive everywhere outside the removed spans (replacing a corpus
    with its lowercased, punctuation-stripped form is a lossy
    transform the paper never asks for). ``hash_family`` forwards to
    the internal span detection; ignored when ``spans`` is passed.

    **Precomputed-spans alignment contract**: span offsets index the
    text view they were detected on, so a ``spans`` frame combined
    with the WRONG ``preserve_original`` mode silently cuts the wrong
    characters. :func:`duplicate_spans` stamps its output with a
    ``span_offsets`` column-metadata marker ("raw" when detected with
    ``preserve_offsets=True``, else "normalized"); this function
    REFUSES a marker that contradicts ``preserve_original``. A spans
    frame without the marker (hand-built, or round-tripped through a
    metadata-stripping sink) must declare its alignment explicitly
    with ``spans_aligned=True`` ("these offsets index the view this
    call cuts from: raw text if ``preserve_original`` else the
    run-collapsing normalization") — otherwise the call raises
    instead of corrupting output. ``spans_aligned`` is consulted only
    when the marker is absent; a present marker is authoritative.

    Plan: spans (precomputable, see :func:`duplicate_spans`) are
    rolled up to one sorted struct array per doc (merged islands are
    non-overlapping by construction), joined to the docs, and the cut
    is a single higher-order ``aggregate`` fold over that array —
    per-row Column algebra stitching the kept segments, no UDF, no
    extra shuffle beyond the span rollup join. Span arrays are
    per-doc and bounded by doc length, so the fold is safe at any
    corpus size."""
    if spans is None:
        spans = duplicate_spans(
            df, id_col, text_col, min_len, hash_family,
            preserve_offsets=preserve_original,
        )
    else:
        expected = "raw" if preserve_original else "normalized"
        marker = None
        if "span_start" in spans.columns:
            marker = (spans.schema["span_start"].metadata or {}).get(
                "span_offsets"
            )
        if marker is not None:
            if marker != expected:
                raise ValueError(
                    f"precomputed spans carry span_offsets='{marker}' "
                    f"but preserve_original={preserve_original} cuts "
                    f"from the '{expected}' view — these offsets would "
                    "cut the wrong characters. Re-detect with "
                    f"duplicate_spans(..., preserve_offsets="
                    f"{preserve_original})."
                )
        elif spans_aligned is not True:
            raise ValueError(
                "precomputed spans have no span_offsets marker; pass "
                "spans_aligned=True to assert they were detected with "
                f"preserve_offsets={preserve_original} (offsets must "
                f"index the '{expected}' text view), or re-detect via "
                "duplicate_spans which stamps the marker"
            )
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__spans")
    )
    nt = F.col(text_col) if preserve_original else normalize_text(text_col)
    base = df.select(F.col(id_col), nt.alias("__nt"))
    joined = base.join(per_doc, id_col, "left")
    folded = F.aggregate(
        F.col("__spans"),
        F.struct(
            F.lit(1).cast("int").alias("prev"), F.lit("").alias("acc")
        ),
        lambda acc, s: F.struct(
            (s["span_end"] + 1).cast("int").alias("prev"),
            F.concat(
                acc["acc"],
                F.col("__nt").substr(
                    acc["prev"], s["span_start"] - acc["prev"]
                ),
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"],
            F.col("__nt").substr(
                acc["prev"], F.length("__nt") - acc["prev"] + F.lit(1)
            ),
        ),
    )
    cut = F.when(F.col("__spans").isNull(), F.col("__nt")).otherwise(folded)
    return joined.select(
        F.col(id_col),
        cut.alias(out_col),
        (
            F.coalesce(F.length("__nt"), F.lit(0))
            - F.coalesce(F.length(cut), F.lit(0))
        ).alias("n_cut_chars"),
    )


def top_duplicate_windows(
    df: DataFrame,
    text_col: str,
    min_len: int = 20,
    k: int = 20,
    hash_family: str = "md5",
    hits: DataFrame | None = None,
) -> DataFrame:
    """Corpus-level boilerplate detector: the ``k`` most-repeated
    ``min_len``-char windows of normalized text with their occurrence
    counts — the strings behind the per-doc spans
    (:func:`duplicate_spans` says WHERE duplication sits; this says
    WHAT keeps repeating: license headers, nav chrome, template
    boilerplate worth a targeted filter). Corpus-level by design —
    no id column: the output is (window, count), not per-doc rows.

    Shape: the same stride-1 window explode, then a plain groupBy
    count (map-side partial aggregation — unlike the span count
    window) and a global top-k that compiles to
    ``TakeOrderedAndProject`` (per-partition heaps + driver merge of
    k rows, no global sort). Ties broken lexicographically so the
    result is deterministic and oracle-checkable.

    ``hash_family="fast"`` groups on two flat xxhash64 columns of
    the window instead of the string (same key-narrowing dial as
    :func:`duplicate_spans`, kept for pipeline symmetry) — but the
    window STRING must survive to the output, so it rides the
    shuffle as a ``min`` buffer either way and the narrowing only
    touches the grouping comparator. Counts are identical across
    families absent a 128-bit collision. Unlike the span count
    window, this groupBy DOES get map-side partial aggregation, so
    the shuffle is already collapsed to distinct windows and the key
    width matters even less than in the measured span crossover
    (SCALE.md); md5/raw stays the sensible default here.

    ``hits``: precomputed :func:`duplicate_window_hits` output for the
    same (df, min_len) — every flagged occurrence row carries its
    window's corpus-wide count ``c``, so the ranking reduces to a
    groupBy over the ~1/3-sized flagged frame instead of a second full
    stride-1 explode + count shuffle of every window (guide §2.4;
    counts are identical: the count window and this groupBy aggregate
    the same key over the same rows, and windows with c < 2 are
    excluded by the shared filter exactly as the in-line path's
    ``n_occurrences >= 2`` filter excludes them)."""
    _check_hash_family(hash_family)
    if hits is not None:
        return (
            hits.groupBy("w")
            .agg(F.max("c").alias("n_occurrences"))
            .orderBy(F.col("n_occurrences").desc(), F.col("w"))
            .limit(k)
        )
    norm = normalize_text(text_col)
    pos = (
        balance_for_fanout(df)
        .select(norm.alias("__nt"))
        .filter(F.length("__nt") >= min_len)
        .select(
            F.posexplode(
                F.sequence(F.lit(1), F.length("__nt") - F.lit(min_len - 1))
            ).alias("__i", "p"),
            F.col("__nt"),
        )
        .select(F.substring("__nt", F.col("p"), min_len).alias("w"))
    )
    if hash_family == "fast":
        counted = (
            pos.select(
                "w",
                F.xxhash64("w").alias("__h0"),
                F.xxhash64(F.lit(1), F.col("w")).alias("__h1"),
            )
            .groupBy("__h0", "__h1")
            .agg(
                F.min("w").alias("w"),
                F.count(F.lit(1)).alias("n_occurrences"),
            )
            .select("w", "n_occurrences")
        )
    else:
        counted = pos.groupBy("w").agg(
            F.count(F.lit(1)).alias("n_occurrences")
        )
    return (
        counted.filter(F.col("n_occurrences") >= 2)
        .orderBy(F.col("n_occurrences").desc(), F.col("w"))
        .limit(k)
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 20,
    hash_family: str = "md5",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Per-document duplicated-substring coverage: total covered chars
    and the covered fraction of the normalized text (the per-doc gate
    signal derived from :func:`duplicate_spans`; docs with no spans get
    0). One extra per-doc rollup + a left join against the doc
    lengths.

    Pass a precomputed ``spans`` frame (same schema as
    :func:`duplicate_spans` output) when the caller also needs the
    spans themselves — the stride-1 window plan is the expensive part,
    so computing it once (ideally ``localCheckpoint``-ed) and deriving
    the coverage rollup from it halves the work; without it this
    function rebuilds the span plan from scratch."""
    if spans is None:
        spans = duplicate_spans(df, id_col, text_col, min_len, hash_family)
    covered = spans.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
            "dup_chars"
        ),
        F.count(F.lit(1)).alias("n_dup_spans"),
    )
    lens = df.select(
        F.col(id_col),
        F.length(normalize_text(text_col)).alias("__n"),
    )
    return lens.join(covered, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
        F.when(
            F.col("__n") > 0,
            F.coalesce("dup_chars", F.lit(0)) / F.col("__n"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_char_frac"),
    )


def common_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 2,
    min_len: int = 15,
) -> DataFrame:
    """Corpus-wide duplicated-LINE census: the md5 key and document
    frequency of every exact line (``\\n``-delimited, at least
    ``min_len`` chars) that appears in at least ``min_df`` DISTINCT
    documents — the detection half of the RefinedWeb/CCNet line-level
    dedup recipe (Penedo et al. 2023 §"line-wise corrections"; CCNet
    deduplicates exact paragraphs the same way). Complements the
    char-window span detector (:func:`duplicate_spans`): spans find
    duplication anywhere, this finds STRUCTURAL boilerplate that
    repeats as whole lines (nav chrome, cookie banners, license
    headers) and is cheap enough to run corpus-wide every ingest.

    Scale: the line TEXT never rides an exchange — lines are hashed to
    a 32-hex key in the same projection that explodes them, so the one
    shuffle here carries (key, doc_id) pairs only. Document frequency
    (not occurrence count) via two-phase count-distinct; short lines
    are pre-filtered before the shuffle. Output is boilerplate-sized,
    never corpus-sized.

    Returns (``line_key``, ``line_df``).
    """
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.col(text_col), "\n")).alias("__line"),
    ).select(
        "__id",
        F.md5("__line").alias("line_key"),
        F.length("__line").alias("__len"),
    )
    return (
        lines.filter(F.col("__len") >= int(min_len))
        .groupBy("line_key")
        .agg(F.countDistinct("__id").alias("line_df"))
        .filter(F.col("line_df") >= int(min_df))
    )


def drop_common_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 2,
    min_len: int = 15,
    out_col: str = "kept_text",
    common: DataFrame | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Remove corpus-common lines from every document — the ACTION
    half of the RefinedWeb/CCNet line-level dedup: any exact line of
    at least ``min_len`` chars that appears in at least ``min_df``
    distinct documents is deleted from ALL of them (boilerplate has no
    canonical owner, unlike near-dup DOCS where one keeper survives).
    Shorter lines are never candidates, so prose under the threshold
    and blank separators survive. Kept lines are rejoined with ``\\n``
    in their original order; NULL text stays NULL.

    Returns (id, ``out_col``, n_lines_dropped); ``extra_cols`` names
    passthrough columns to carry (projection only, like
    ``text.clean_lines``).

    Pass a precomputed ``common`` frame (:func:`common_lines` output —
    e.g. built once per ingest batch against the whole lake) to skip
    the census; the removal pass is then a single narrow semi-join.

    Scale: four narrow stages, line text NEVER shuffles —
    (1) explode→project to (id, pos, md5, len) and census the keys
    (:func:`common_lines`, one (key,id) shuffle); (2) LEFT SEMI join
    the narrow keyed occurrences against the boilerplate-sized key
    set — only (id, pos) survive; (3) per-doc sorted drop-position
    arrays (ints, bounded by lines-per-doc); (4) re-split the original
    text and delete by POSITION with a higher-order filter — the text
    column is touched only in map stages. The alternative (shuffling
    (id, pos, line) to regroup and rebuild) would put the whole corpus
    text through an exchange for no benefit. References the reference
    repo's cleaning stages only for API parity; the algorithm is the
    public RefinedWeb recipe."""
    if common is None:
        common = common_lines(df, id_col, text_col, min_df, min_len)
    keyed = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "__pos", "__line"
        ),
    ).select(
        "__id",
        "__pos",
        F.md5("__line").alias("line_key"),
        F.length("__line").alias("__len"),
    )
    # min_len filter is belt-and-braces when common= was precomputed
    # with a LOOSER threshold than this call's; same-threshold censuses
    # make it a no-op (a short line cannot share an md5 with a long one)
    dropped = (
        keyed.filter(F.col("__len") >= int(min_len))
        .join(common.select("line_key"), "line_key", "left_semi")
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list("__pos")).alias("__dp"))
    )
    # materialize the line array BEFORE the HOF filter (the r6 lambda
    # trap: a lambda capturing a raw expression re-evaluates it per
    # element)
    j = df.join(
        dropped, F.col(id_col).eqNullSafe(F.col("__id")), "left"
    ).select(
        F.col(id_col),
        F.split(F.col(text_col), "\n").alias("__lines"),
        F.coalesce(
            F.col("__dp"), F.lit([]).cast("array<int>")
        ).alias("__dp"),
        *[F.col(c) for c in extra_cols],
    )
    return j.select(
        F.col(id_col),
        F.array_join(
            F.filter(
                "__lines",
                lambda x, i: ~F.array_contains(F.col("__dp"), i),
            ),
            "\n",
        ).alias(out_col),
        F.size("__dp").alias("n_lines_dropped"),
        *[F.col(c) for c in extra_cols],
    )


# Sentence segmentation for the C4 span dedup: greedy runs of
# non-terminators plus their terminator run, with a trailing
# unterminated segment — the pattern CONSUMES EVERY character (the
# matches concatenate back to the exact input), which is what makes
# char offsets derivable as a running sum of match lengths. Both
# engines (Java regex / RE2) scan greedy, leftmost, non-overlapping,
# so segmentation is identical cross-engine.
SENTENCE_RE = r"[^.!?]*[.!?]+|[^.!?]+$"


def c4_sentence_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    out_col: str = "cut_text",
) -> DataFrame:
    """The C4 dataset's dedup step (Raffel et al. 2020 §2.2: "we
    discard all but one of any three-sentence span occurring more
    than once in the data set"): every ``window``-sentence span whose
    exact text repeats anywhere in the corpus is CUT from all
    occurrences except the globally-first one (min ``(doc_id,
    char_start)``). Complements the char-window span cut
    (:func:`cut_duplicate_spans`, Lee et al.) — C4 dedups at sentence
    granularity with a global keeper; Lee et al. at fixed char
    granularity with no keeper.

    Returns (id, ``out_col``, n_cut_chars) — one row per input doc;
    docs with fewer than ``window`` sentences (or NULL text) pass
    through unchanged.

    Union-of-ranges semantics: overlapping duplicated windows within
    a doc merge before cutting, so a KEPT occurrence can still lose
    characters to a different duplicated window overlapping it — the
    same behavior as running C4's per-span removal over a shared
    sentence.

    Plan: sentences explode to (id, idx, char offsets) — offsets are
    a per-doc running sum (window partitioned BY DOC, never global);
    ``window``-spans come from two ``lead``s; the global
    first-occurrence rank is ONE shuffle on the span's md5 key (the
    span text itself never leaves the map side after hashing —
    the key is hashed in the same projection); overlap merge is the
    gaps-and-islands rollup; the cut reuses
    :func:`cut_duplicate_spans`' higher-order fold. Nothing
    corpus-sized sorts globally and no stage carries text beyond the
    initial sentence explode (bounded by doc size)."""
    from pyspark.sql import Window

    sents = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.regexp_extract_all(
                F.col(text_col), F.lit(SENTENCE_RE), F.lit(0)
            )
        ).alias("__i", "__s"),
    )
    wdoc = Window.partitionBy("__id").orderBy("__i")
    offs = sents.withColumn(
        "__e", F.sum(F.length("__s")).over(wdoc)
    ).withColumn("__b", F.col("__e") - F.length("__s") + F.lit(1))
    parts = [F.col("__s")] + [
        F.lead("__s", k).over(wdoc) for k in range(1, int(window))
    ]
    wins = (
        offs.withColumn("__we", F.lead("__e", int(window) - 1).over(wdoc))
        .withColumn("__k", F.md5(F.concat(*parts)))
        .filter(F.col("__we").isNotNull())
        .select("__id", F.col("__b").alias("__ws"), "__we", "__k")
    )
    rn = F.row_number().over(
        Window.partitionBy("__k").orderBy("__id", "__ws")
    )
    dups = wins.withColumn("__rn", rn).filter(F.col("__rn") > 1)
    # merge OVERLAPPING ranges per doc (adjacent ranges can stay
    # separate — the cut fold only requires non-overlap): new island
    # when this span starts past every previous span's end
    wspan = Window.partitionBy("__id").orderBy("__ws", "__we")
    prev_max = F.max("__we").over(
        wspan.rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = (
        dups.withColumn(
            "__new", (F.col("__ws") > F.coalesce(prev_max, F.lit(-1)))
            .cast("int"),
        )
        .withColumn(
            "__g",
            F.sum("__new").over(
                wspan.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("__id", "__g")
        .agg(
            F.min("__ws").alias("span_start"),
            F.max("__we").alias("span_end"),
        )
        .select(F.col("__id").alias(id_col), "span_start", "span_end")
    )
    return cut_duplicate_spans(
        df,
        id_col,
        text_col,
        spans=grouped,
        out_col=out_col,
        preserve_original=True,
        spans_aligned=True,
    )
