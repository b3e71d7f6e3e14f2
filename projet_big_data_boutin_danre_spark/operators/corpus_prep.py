"""Training-corpus preparation: deterministic sampling, domain
mixing, and interleaving.

A 100 TB pretraining pipeline needs three sampling primitives after
dedup/quality gating:

- **stratified_sample** — keep a per-stratum fraction (e.g. 80% of
  web, 5% of forums) *deterministically*: the keep/drop decision is a
  pure function of (id, seed), so re-runs, retries, and incremental
  backfills make identical decisions with no RNG state anywhere.
- **domain_mix** — take an *exact* per-stratum document count (the
  "data recipe": 2M docs of code, 1M of encyclopedia, ...), again as a
  pure function of the data.
- **interleave** — a deterministic global shuffle order for training
  readers, as a range-partitioned sort (Spark's distributed sort), not
  a driver-side permutation.

All three derive their randomness from an md5 slice
(``functions.hashing`` rationale: md5 is bit-identical in PySpark and
DuckDB, so every decision here is checkable against the ANSI-SQL
oracle exactly — no statistical tolerance needed). Everything is
JVM-side Column algebra inside whole-stage codegen; no UDFs, no
collect.

Scale notes per operator are on the functions. The reference engine
has no sampling surface (its pipeline is full-table, see SURVEY §2);
these are engine extensions for the LLM-data roadmap.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.readers import path_exists

__all__ = [
    "sample_key",
    "hex_threshold",
    "stratified_sample",
    "domain_mix",
    "domain_mix_temperature",
    "token_budget_take",
    "mix_underflow",
    "cap_per_group",
    "cap_underflow",
    "leakage_safe_split",
    "interleave",
    "sample_summary",
    "write_training_shards",
    "shard_stats",
    "verify_training_shards",
    "global_prefix_sum",
    "pack_sequences",
    "corpus_diff",
]


def sample_key(id_col: Column | str, seed: int) -> Column:
    """Uniform 32-bit order key as 8 lowercase hex chars:
    ``substr(md5('<seed>|' || id), 1, 8)``. Lexicographic order over
    fixed-width hex == numeric order, identical in Spark and DuckDB.
    Different seeds give independent orders (seeded digest, same trick
    as ``hashing.md5_min_shingle``)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(
        F.md5(F.concat(F.lit(f"{seed}|"), c.cast("string"))), 1, 8
    )


def hex_threshold(fraction: float) -> str:
    """Keep-threshold string for a fraction: key < threshold keeps
    ~fraction of rows (exactly ``floor(fraction * 2^32)`` of the 2^32
    key values). fraction ≥ 1 returns ``"g"`` — lexicographically
    above every hex string, so everything passes; fraction ≤ 0 returns
    ``"00000000"`` — nothing is strictly below the minimum key."""
    if fraction >= 1.0:
        return "g"
    n = max(0, int(fraction * 2**32))
    return format(n, "08x")


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: Mapping[str, float],
    default_fraction: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """Deterministic hash-Bernoulli sample with per-stratum rates.

    A row is kept iff ``sample_key(id, seed) < threshold(stratum)`` —
    a narrow filter, **no shuffle, no RNG state**: at 100 TB this is a
    map-only pass that combines with the scan (and with partition
    pruning on the stratum column when the table is so partitioned).
    Unlike ``DataFrame.sample``, re-running on a grown table keeps
    every previously-kept row (decisions depend only on id+seed), so
    incremental pipelines don't resample history."""
    thresh: Column = F.lit(hex_threshold(default_fraction))
    for value, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(strata_col) == value, F.lit(hex_threshold(frac))
        ).otherwise(thresh)
    return df.filter(sample_key(id_col, seed) < thresh)


def domain_mix(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    counts: Mapping[str, int],
    seed: int = 42,
    prefilter_fractions: Mapping[str, float] | None = None,
) -> DataFrame:
    """Exact-count per-stratum take: the first ``counts[stratum]``
    rows of each stratum in seeded-hash order (ties broken by id, so
    the result is a pure function of the data even across the ~n²/2³²
    expected 32-bit key collisions). Strata absent from ``counts`` are
    dropped (take 0).

    One shuffle (partition by stratum) + per-stratum sort. **Scale
    path**: with few, huge strata the per-stratum sort dominates; when
    ``counts[s] ≪ |s|``, pass ``prefilter_fractions`` (e.g.
    ``{s: counts[s]/|s| * 4}`` — a few × the expected rate) to shrink
    the sort input by orders of magnitude BEFORE the shuffle.
    Correctness is unconditional, not probabilistic: the pre-filter
    keeps rows with ``sample_key < hex_threshold(p)`` and the take
    orders by the *same* ``sample_key`` — a prefix of the same total
    order — so the take sees the exact same first rows as the
    unfiltered sort **as long as the pre-filter survives ≥ counts[s]
    rows**; if a stratum under-survives (slack too tight), that's
    detectable (fewer than ``counts[s]`` rows out, never wrong rows).
    ``mix_underflow`` audits exactly that."""
    if prefilter_fractions:
        df = stratified_sample(
            df, id_col, strata_col, prefilter_fractions,
            default_fraction=1.0, seed=seed,
        )
    w = Window.partitionBy(strata_col).orderBy(
        sample_key(id_col, seed), F.col(id_col)
    )
    limit: Column = F.lit(0)
    for value, n in sorted(counts.items()):
        limit = F.when(
            F.col(strata_col) == value, F.lit(int(n))
        ).otherwise(limit)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= limit)
        .drop("__rk")
    )


def domain_mix_temperature(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    total_out: int,
    alpha: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Temperature-reweighted domain mix — the standard pretraining
    recipe (GPT-3 §2.2 / sampling ∝ n^α): allocate ``total_out``
    documents across strata proportional to ``n_stratum**alpha``, so
    α<1 up-weights small domains relative to their raw share (α=1 is
    proportional, α=0 equal-per-domain). The allocation is DERIVED
    FROM THE DATA (one tiny per-stratum count aggregate), then applied
    exactly like :func:`domain_mix`: first ``take_i`` rows per stratum
    in seeded-hash order.

    Cross-engine exactness: weights avoid float summation-order hazards
    by quantizing to integers before any cross-stratum arithmetic —
    ``s_i = floor(sqrt(n_i) * 1e6)`` for the default α=0.5 (IEEE sqrt
    and one multiply are bit-identical in Spark and DuckDB), summed and
    divided as exact bigints (``div``). α=1.0 uses ``n_i`` directly.
    Other α values use ``pow`` — correct, but libm pow is NOT
    cross-engine bit-stable, so only α ∈ {0.5, 1.0} belongs in an
    oracle slot. Clipped at ``n_i`` (a small stratum can't over-fill;
    the lost quota is NOT redistributed — the audit signal is
    ``mix_underflow``-style: Σ kept < total_out).

    Scale: the counts aggregate is map-side-combined and yields one
    row per stratum (bounded, like a range sampler's boundaries); the
    per-stratum total rides a window over that TINY frame, and the
    take join broadcasts it. The big side pays exactly what
    ``domain_mix`` pays: one stratum-partitioned ranking window."""
    nexp = F.col("__n").cast("double")
    if alpha == 0.5:
        s = F.floor(F.sqrt(nexp) * F.lit(1_000_000.0))
    elif alpha == 1.0:
        s = F.col("__n").cast("bigint")
    else:  # correct but not oracle-exact (libm pow)
        s = F.floor(F.pow(nexp, F.lit(float(alpha))) * F.lit(1_000_000.0))
    counts = (
        df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__s", s.cast("bigint"))
    )
    # total over the #strata-sized frame: a single-partition window
    # over bounded rows (same class as the head re-rank in
    # __spark_entry__.q_corpus_sample), never over the corpus
    takes = (
        counts.withColumn(
            "__tot",
            F.sum("__s").over(
                Window.partitionBy(F.lit(1)).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .withColumn(
            "__take",
            # DECIMAL(38,0) product: total_out * __s overflows BIGINT
            # once total_out * sqrt(n_max) * 1e6 exceeds 2^63 (a 1e12-
            # doc stratum gives __s ≈ 1e12, so any total_out ≥ ~9.2e6
            # would die under ANSI or wrap silently without it).
            # decimal `div` == DuckDB HUGEINT `//` on non-negatives
            # (both floor), so the oracle twin stays bit-identical.
            F.least(
                F.col("__n"),
                F.expr(
                    f"CAST((CAST({int(total_out)} AS DECIMAL(38,0))"
                    " * CAST(__s AS DECIMAL(38,0))) div __tot AS BIGINT)"
                ),
            ),
        )
        .select(strata_col, "__take")
    )
    w = Window.partitionBy(strata_col).orderBy(
        sample_key(id_col, seed), F.col(id_col)
    )
    return (
        df.join(F.broadcast(takes), strata_col, "inner")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("__take"))
        .drop("__rk", "__take")
    )


def token_budget_take(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    tokens_col: str,
    budget: int,
    seed: int = 42,
) -> DataFrame:
    """Greedy token-budget fill per stratum: walk each stratum in
    seeded-hash order and keep documents until the stratum's token
    budget is exhausted — the recipe primitive when quotas are
    denominated in TOKENS, not documents (context-window budgets,
    per-language token targets). A document is kept iff the tokens
    BEFORE it fit strictly inside the budget, so the budget can
    overshoot by at most one document (the standard greedy-prefix
    convention — dropping the crossing doc instead would under-fill
    forever when the next doc is huge).

    Deterministic (pure function of ids + seed), incremental-safe in
    the same sense as :func:`stratified_sample` EXCEPT that new docs
    hashing into the prefix displace the tail — budget fills are
    prefix-dependent by definition; re-run on identical data is
    byte-stable. NULL token counts count 0. One stratum-partitioned
    running-sum window — per-stratum, never global, so no
    single-partition bottleneck at 100 TB."""
    w = Window.partitionBy(strata_col).orderBy(
        sample_key(id_col, seed), F.col(id_col)
    )
    before = F.coalesce(
        F.sum(F.coalesce(F.col(tokens_col), F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    return (
        df.withColumn("__before", before)
        .filter(F.col("__before") < F.lit(int(budget)))
        .drop("__before")
    )


def mix_underflow(
    mixed: DataFrame, strata_col: str, counts: Mapping[str, int]
) -> DataFrame:
    """Audit for the pre-filtered mix: strata that delivered fewer
    rows than asked (pre-filter slack too tight, or the stratum is
    just smaller than the ask). Empty result == the mix is exactly
    what the unfiltered sort would have produced."""
    spark = mixed.sparkSession
    from ..functions.localdf import tiny_df

    want = tiny_df(
        spark, list(counts.items()), f"{strata_col} string, n_want bigint"
    )
    got = mixed.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_got"))
    return (
        want.join(got, strata_col, "left")
        .withColumn("n_got", F.coalesce("n_got", F.lit(0)))
        .filter(F.col("n_got") < F.col("n_want"))
    )


def cap_per_group(
    df: DataFrame,
    id_col: str,
    group_col: str,
    max_per_group: int,
    seed: int = 42,
    prefilter: bool = False,
    safety: float = 4.0,
) -> DataFrame:
    """Uniform per-group document cap: keep at most ``max_per_group``
    rows of every group, the first ones in seeded-hash order (ties by
    id). The web-corpus domain cap (C4/RefinedWeb practice: no single
    domain may dominate the corpus) — distinct from :func:`domain_mix`
    because the group set is UNBOUNDED and unknown up front (millions
    of domains; a counts mapping can't enumerate them), so the quota is
    one number applied to whatever groups exist.

    Deterministic: kept rows are a pure function of (id, seed), so
    re-runs and backfills agree. NULL groups form their own group
    (matching SQL window PARTITION BY semantics) on both paths.

    Base plan: one shuffle on the group key + per-group sort
    (``row_number``). The 100 TB hazard is a HOT group (one domain
    with 10⁹ rows sorts on one reducer — windows get no AQE skew
    split). ``prefilter=True`` is the scale path: a first pass counts
    each group (map-side combine, one row per group), each row then
    keeps iff ``sample_key < min(1, safety·max/count)`` BEFORE the
    window, shrinking the hot group's sort input from ``|group|`` to
    ~``safety·max``. Correctness is unconditional, not probabilistic —
    the pre-filter keeps a PREFIX of the same total order the window
    sorts by (the :func:`domain_mix` prefilter argument), so the
    output is bit-identical to the unfiltered path as long as ≥
    ``min(max, |group|)`` rows survive per group; at ``safety=4`` the
    shortfall probability is Chernoff-negligible (< e^-max/3) and
    :func:`cap_underflow` detects it exactly if it ever happens. The
    count join is a broadcast at runtime (AQE) whenever the group set
    fits, else one hash shuffle on the same key the window needs
    anyway."""
    key = sample_key(id_col, seed)
    if prefilter:
        # per-group keep-threshold, computed JVM-side: the Column twin
        # of hex_threshold (format_string %08x emits lowercase hex,
        # comparable with the md5 slice; "g" sorts above every hex
        # string = keep-all)
        frac = F.least(
            F.lit(1.0),
            F.lit(float(safety) * int(max_per_group)) / F.col("__gn"),
        )
        thr = F.when(frac >= 1.0, F.lit("g")).otherwise(
            F.format_string(
                "%08x", F.floor(frac * F.lit(2.0**32)).cast("bigint")
            )
        )
        counts = (
            df.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("__gn"))
            .select(F.col(group_col).alias("__g"), thr.alias("__thr"))
        )
        # NULL-id rows have a NULL sample key: `key < thr` is NULL
        # (dropped) but the window ranks them NULLS FIRST (kept) — so
        # the pre-filter must pass them through explicitly or the two
        # paths diverge on exactly the rows a window sorts first
        df = (
            df.join(counts, F.col(group_col).eqNullSafe(F.col("__g")))
            .filter((key < F.col("__thr")) | key.isNull())
            .drop("__g", "__thr")
        )
    w = Window.partitionBy(group_col).orderBy(key, F.col(id_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.lit(int(max_per_group)))
        .drop("__rk")
    )


def cap_underflow(
    df_in: DataFrame,
    df_out: DataFrame,
    group_col: str,
    max_per_group: int,
) -> DataFrame:
    """Audit for the pre-filtered cap: groups where
    :func:`cap_per_group` delivered fewer than
    ``min(max_per_group, |group|)`` rows — possible only if the
    Bernoulli pre-filter under-survived (slack too tight). Empty
    result == the capped output is exactly what the unfiltered window
    would have produced. Two tiny group-count aggregates + one
    group-cardinality join (null-safe, so NULL groups audit too)."""
    want = (
        df_in.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("__n_in"))
        .select(F.col(group_col).alias("__g"), "__n_in")
    )
    got = df_out.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_got"))
    return (
        want.join(got, F.col(group_col).eqNullSafe(F.col("__g")), "left")
        .withColumn("n_got", F.coalesce("n_got", F.lit(0)))
        .withColumn(
            "n_want", F.least(F.lit(int(max_per_group)), F.col("__n_in"))
        )
        .filter(F.col("n_got") < F.col("n_want"))
        .select(F.col("__g").alias(group_col), "n_want", "n_got")
    )


def _canonical_cluster_map(
    members: DataFrame,
    member_col: str,
    rep_col: str,
    resolve_chains: bool,
) -> DataFrame:
    """(member → one representative) canonicalization for
    :func:`leakage_safe_split`.

    Two hazards in a user-supplied cluster map, both leakage bugs if
    ignored: (1) a member listed under several clusters would FAN OUT
    the corpus join — fixed by min-aggregation; (2) a CHAINED map
    (cluster A's representative is itself a member of cluster B) makes
    A's members hash on repA while repA hashes on repB, so one
    transitive cluster can straddle splits. The chain probe is
    direction-free: ANY representative that is itself a member mapping
    somewhere else (``rep_of_rep != rep`` — ascending chains like
    (10→20),(20→30), plausible when keepers are quality-chosen rather
    than min-id, count exactly like descending ones). With
    ``resolve_chains=True`` a chained map is canonicalized through
    :func:`operators.dedup.connected_components` over the RAW (member,
    rep) edge list — the transitive closure is exactly the connected
    component, every member lands on the component MINIMUM, and
    cycles, mixed-direction chains, and multi-listed members are
    handled by construction (a member listed under several clusters
    connects them). An
    already-canonical map (every ``dedup_clusters`` /
    exact-fingerprint output) passes the FIRST probe round, so the
    common case pays exactly one map-sized self-join and never runs
    components. With ``resolve_chains=False`` the same probe round
    VALIDATES the fixpoint precondition and refuses a chained map with
    a clear error (marker-and-refuse, like the span-alignment guard) —
    there is no silent-leakage configuration."""
    from . import dedup as _dedup

    m = members.groupBy(F.col(member_col).alias("__m")).agg(
        F.min(rep_col).alias("__rep")
    )
    r2 = m.select(
        F.col("__m").alias("__r"), F.col("__rep").alias("__rep2")
    )
    joined = m.join(
        r2, F.col("__rep") == F.col("__r"), "left"
    ).select(
        "__m",
        "__rep",
        (
            F.col("__rep2").isNotNull()
            & (F.col("__rep2") != F.col("__rep"))
        ).alias("__chained"),
    )
    joined = joined.localCheckpoint(eager=False)
    n_chained = joined.filter("__chained").count()
    if n_chained == 0:
        return joined.select("__m", "__rep")
    if not resolve_chains:
        raise ValueError(
            f"cluster map is chained: {n_chained} representative(s) "
            "are themselves members of another cluster, so transitive "
            "near-duplicates would straddle splits. Pass "
            "resolve_chains=True to canonicalize through connected "
            "components, or canonicalize the map first (e.g. "
            "dedup_clusters output is already canonical)."
        )
    # Transitive closure over the RAW id-only edge list (not the
    # min-aggregated map: a member listed under several clusters is an
    # edge to EACH of them, and in a chained map those clusters are
    # transitively one — min-agg first would drop the extra edges and
    # split them). Members absent from the result (pure self-maps)
    # fall back to their own id via the caller's coalesce — same
    # assignment either way.
    comp = _dedup.connected_components(
        members.select(
            F.col(member_col).alias("__m"), F.col(rep_col).alias("__rep")
        ),
        a_col="__m",
        b_col="__rep",
    )
    return comp.select(
        F.col("node").alias("__m"), F.col("component").alias("__rep")
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    splits: Mapping[str, float],
    seed: int = 42,
    members: DataFrame | None = None,
    member_col: str = "member",
    rep_col: str = "rep",
    split_col: str = "split",
    resolve_chains: bool = True,
) -> DataFrame:
    """Deterministic train/val/test assignment that near-duplicates
    cannot straddle: every document is assigned by hashing its
    CLUSTER REPRESENTATIVE, not its own id, so all members of a
    duplicate cluster land in the same split — the standard guard
    against train→test leakage through near-duplicate copies
    (evaluating on a near-copy of a training doc inflates benchmarks;
    see Lee et al. 2022 §6, "Deduplicating Training Data Makes
    Language Models Better").

    ``splits`` maps name → fraction in DECLARATION ORDER (fractions
    must sum to 1 within 1e-6); split ``i`` owns the key range
    ``[cum_{i-1}, cum_i)`` of the same md5 order every sampler here
    uses, so the assignment is a pure function of (representative,
    seed): re-runs, retries, and incremental ingests agree, and a NEW
    member joining an existing cluster inherits the cluster's split
    instead of re-rolling it.

    ``members`` is the cluster map — (``member_col``, ``rep_col``),
    one row per clustered doc, e.g. ``dedup_clusters`` output or
    exact-fingerprint groups; docs absent from it are singletons and
    hash on their own id (left join + coalesce). A member listed under
    several clusters is canonicalized to its MIN representative before
    the join (deterministic, and the corpus can never fan out), and a
    CHAINED map — a representative that is itself a member of another
    cluster, in EITHER id direction — is canonicalized to its
    transitive closure by connected components over the id-only edge
    list (``resolve_chains=True``, the default) or refused with a
    clear error (``resolve_chains=False``); either way one transitive
    cluster can never straddle splits (see
    :func:`_canonical_cluster_map`). Maps from any function-of-member
    clustering are already canonical and pay only a map-sized
    pre-aggregation plus one self-join probe. Scale: the map carries
    only ids (never text) and joins the corpus on its id — broadcast
    at runtime when small, else one hash shuffle; with ``members=None``
    the whole assignment is a map-only projection."""
    fracs = list(splits.items())
    if not fracs:
        raise ValueError("splits must name at least one split")
    if any(f < 0 for _, f in fracs):
        raise ValueError(f"negative split fraction in {splits}")
    total = sum(f for _, f in fracs)
    if abs(total - 1.0) > 1e-6:
        raise ValueError(
            f"split fractions must sum to 1 (got {total}): {splits}"
        )
    if members is not None:
        m = _canonical_cluster_map(
            members, member_col, rep_col, resolve_chains
        )
        df = (
            df.join(m, F.col(id_col) == F.col("__m"), "left")
            .withColumn("__rep", F.coalesce("__rep", F.col(id_col)))
            .drop("__m")
        )
        key = sample_key(F.col("__rep"), seed)
    else:
        key = sample_key(id_col, seed)
    assign: Column | None = None
    cum = 0.0
    for name, frac in fracs[:-1]:
        cum += frac
        cond = key < F.lit(hex_threshold(cum))
        assign = (
            F.when(cond, F.lit(name))
            if assign is None
            else assign.when(cond, F.lit(name))
        )
    last = F.lit(fracs[-1][0])
    out = df.withColumn(
        split_col, last if assign is None else assign.otherwise(last)
    )
    return out.drop("__rep") if members is not None else out


def interleave(df: DataFrame, id_col: str, seed: int = 42) -> DataFrame:
    """Deterministic global shuffle for training readers: total order
    by ``(sample_key(id, seed), id)``. Spark executes this as a
    range-partitioned sort (sampled range boundaries, then sort within
    partitions) — the scalable distributed shuffle-order, no single
    reducer, no driver materialization. Writers that consume the
    order (e.g. sharded sequence files) preserve it per output
    partition."""
    return df.orderBy(sample_key(id_col, seed), F.col(id_col))


def sample_summary(
    sampled: DataFrame, id_col: str, strata_col: str
) -> DataFrame:
    """Oracle-friendly digest of a sample/mix decision: per-stratum
    kept-count and kept-id checksum (sum of ids — order-free, exact).
    Map-side partial agg, one tiny shuffle."""
    return sampled.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.col(id_col).cast("bigint")).alias("sum_ids"),
    )


def write_training_shards(
    df: DataFrame,
    id_col: str,
    path: str,
    seed: int = 42,
    n_shards: int | None = None,
    fmt: str = "parquet",
    manifest: bool = False,
) -> None:
    """Materialize the deterministic interleave as ordered training
    shards: shard ``i`` holds the ``i``-th contiguous slice of the
    global ``(sample_key, id)`` order, rows sorted within the shard —
    so readers that consume shards in file order replay the exact
    global shuffle, and re-running the writer on the same data
    produces byte-stable shard membership.

    Implementation: ``repartitionByRange(n, key)`` (sampled range
    boundaries — the same machinery as a global sort) + in-partition
    sort + one write. Each shard is written by one task; no global
    bottleneck, no driver materialization. The shard key is persisted
    alongside the rows (``__shard``) so a reader can verify order or
    re-slice.

    Note the boundary sampling is seeded by Spark deterministically
    for a given input partitioning — for *bit-stable shard membership
    across different cluster layouts*, pin ``n_shards`` and rely on
    the persisted ``__shard``/key order instead of file split points.

    ``manifest=True`` stamps a ``_manifest`` sidecar (underscore
    prefix: invisible to layer scans) with each shard's
    :func:`shard_stats` digest, computed from the rows as WRITTEN —
    :func:`verify_training_shards` then validates any later copy of
    the layer against it (the delivery-integrity check a corpus that
    ships between stores needs).
    """
    key = sample_key(id_col, seed)
    n = n_shards or df.sparkSession.sparkContext.defaultParallelism
    out = (
        df.withColumn("__key", key)
        .repartitionByRange(n, F.col("__key"), F.col(id_col))
        .sortWithinPartitions(F.col("__key"), F.col(id_col))
        .withColumn("__shard", F.spark_partition_id())
    )
    out.write.mode("overwrite").format(fmt).save(path)
    if manifest:
        shard_stats(
            df.sparkSession.read.format(fmt).load(path), id_col
        ).write.mode("overwrite").parquet(f"{path}/_manifest")


def shard_stats(shards: DataFrame, id_col: str) -> DataFrame:
    """Per-shard integrity digest of a :func:`write_training_shards`
    layer: ``(shard, n_rows, key_min, key_max, row_digest)`` where
    ``row_digest`` is an order-free ``bit_xor(xxhash64(key, id))`` —
    exact row-SET equality, not just counts. One map-side-combined
    aggregation over the layer; output is #shards rows."""
    return (
        shards.groupBy(F.col("__shard").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("__key").alias("key_min"),
            F.max("__key").alias("key_max"),
            F.bit_xor(
                F.xxhash64(F.col("__key"), F.col(id_col))
            ).alias("row_digest"),
        )
    )


def verify_training_shards(
    spark,
    path: str,
    id_col: str,
    fmt: str = "parquet",
) -> DataFrame:
    """Validate a delivered shard layer against the manifest its
    writer stamped (``write_training_shards(..., manifest=True)``):
    returns one row per problem, empty == intact. Checks, in one scan
    of the layer plus the #shards-sized manifest:

    - ``missing_shard`` / ``extra_shard``: manifest↔layer membership;
    - ``row_mismatch``: any shard whose count, key range, or row-SET
      digest differs (a truncated copy, a lost/duplicated file, a
      corrupted row — anything that changes the set);
    - ``range_overlap``: consecutive shards whose [key_min, key_max]
      ranges overlap — the range-partitioned global order is broken,
      so concatenating shards in file order would NOT replay the
      interleave (window over the #shards manifest, bounded state).

    The 100 TB shape: recomputing the digest is one linear
    map-side-combined scan (the same cost the writer paid), the
    manifest side is KB-scale, and no text or payload column is read
    beyond ``__shard``/``__key``/id."""
    man = spark.read.parquet(f"{path}/_manifest")
    got = shard_stats(spark.read.format(fmt).load(path), id_col)
    j = man.alias("m").join(
        got.alias("g"), F.col("m.shard") == F.col("g.shard"), "full_outer"
    )
    problems = j.select(
        F.coalesce(F.col("m.shard"), F.col("g.shard")).alias("shard"),
        F.when(F.col("g.shard").isNull(), F.lit("missing_shard"))
        .when(F.col("m.shard").isNull(), F.lit("extra_shard"))
        .when(
            (F.col("m.n_rows") != F.col("g.n_rows"))
            | ~F.col("m.key_min").eqNullSafe(F.col("g.key_min"))
            | ~F.col("m.key_max").eqNullSafe(F.col("g.key_max"))
            | ~F.col("m.row_digest").eqNullSafe(F.col("g.row_digest")),
            F.lit("row_mismatch"),
        )
        .alias("problem"),
    ).filter(F.col("problem").isNotNull())
    # partition-less window = single-task sort, deliberately: the
    # frame is the MANIFEST (#shards rows, KB-scale), never the layer
    w = Window.orderBy("shard")
    overlaps = (
        man.select("shard", "key_min", "key_max")
        .withColumn("__prev_max", F.lag("key_max").over(w))
        .filter(
            F.col("__prev_max").isNotNull()
            & (F.col("key_min") < F.col("__prev_max"))
        )
        .select("shard", F.lit("range_overlap").alias("problem"))
    )
    return problems.unionByName(overlaps)


def read_training_shards(
    spark,
    path: str,
    id_col: str,
    fmt: str = "parquet",
    verify: bool = True,
    ordered: bool = True,
    shard: int | None = None,
    after: tuple[str, int] | None = None,
) -> DataFrame:
    """The inverse of :func:`write_training_shards` — open a shard
    layer for training replay, refusing a layer that fails its own
    manifest (the delivery loop's read side: the writer stamps, the
    mover's copy is validated, the READER re-validates on open so a
    truncated or re-ordered copy can never silently feed a training
    run).

    - ``verify=True`` (default): requires the ``_manifest`` sidecar
      and runs :func:`verify_training_shards`; any problem row —
      missing/extra shard, row-set digest mismatch, overlapping key
      ranges — raises with the full problem list
      (marker-and-refuse, like the span-alignment guard). The check
      is one linear map-side-combined scan of
      ``__shard``/``__key``/id (no payload column read) plus the
      KB-scale manifest; the problem list is at most 2·#shards rows.
    - ``ordered=True`` (default): returns the frame ordered by
      ``(__key, id)`` — the exact global interleave the writer
      materialized, so ``.toLocalIterator()`` streams rows in replay
      order with bounded driver memory. The orderBy plans one range
      exchange over already-range-partitioned data (Spark has no
      on-disk ordering metadata to trust); readers that consume
      shard-at-a-time should pass ``shard=`` instead, which reads one
      shard's slice (partition-pruned by the ``__shard`` filter after
      one layer listing) internally sorted — no exchange, and
      concatenating shards 0..n-1 replays the same global order, a
      contract the validator's ``range_overlap`` check enforces.
    - ``shard=i``: only shard ``i``'s rows (still verified against
      the WHOLE manifest first — a missing sibling shard means the
      global order this shard participates in is broken). With
      ``ordered=True`` the slice is sorted WITHOUT a range exchange:
      one shard is one writer task's output (trainer-consumable by
      construction), so ``coalesce(1)`` + an in-partition sort orders
      it in a single task — Spark may split the file into several scan
      partitions and packs splits by size, so the raw scan order is
      not trustworthy, but no shuffle is needed to restore it.
    - ``after=(key, id)`` (r10 — the resume contract that completes
      exactly-once delivery): return only rows STRICTLY after that
      position in the global ``(__key, id)`` replay order — keyset
      resume, the same discipline as keyset pagination (an offset
      would re-scan and re-count everything before it; the keyset
      filter pushes to the parquet scan, so whole shards before the
      resume point are pruned by ``__key`` row-group stats). A
      trainer checkpoints the last (``__key``, id) it consumed and
      reopens with ``after=`` to continue the exact interleave with
      no row replayed and none skipped. Composes with ``shard=`` (a
      shard-at-a-time reader resuming mid-shard)."""
    shards = spark.read.format(fmt).load(path)
    if verify:
        if not path_exists(spark, f"{path}/_manifest"):
            raise ValueError(
                f"shard layer {path} has no _manifest sidecar — write "
                "it with write_training_shards(manifest=True), or pass "
                "verify=False to read an unattested layer explicitly."
            )
        problems = verify_training_shards(spark, path, id_col, fmt)
        bad = [
            (r["shard"], r["problem"])
            for r in problems.orderBy("shard").collect()
        ]
        if bad:
            raise ValueError(
                f"shard layer {path} fails manifest verification — "
                f"refusing to replay a corrupted delivery: {bad}"
            )
    if after is not None:
        a_key, a_id = after
        shards = shards.filter(
            (F.col("__key") > F.lit(str(a_key)))
            | (
                (F.col("__key") == F.lit(str(a_key)))
                & (F.col(id_col) > F.lit(a_id))
            )
        )
    if shard is not None:
        shards = shards.filter(F.col("__shard") == int(shard))
        if ordered:
            return shards.coalesce(1).sortWithinPartitions(
                F.col("__key"), F.col(id_col)
            )
        return shards
    if ordered:
        return shards.orderBy(F.col("__key"), F.col(id_col))
    return shards


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "prefix_sum",
    n_parts: int | None = None,
) -> DataFrame:
    """INCLUSIVE running total of ``value_col`` over the global
    ``order_col`` order — the distributed prefix-sum, without the
    single-partition global window Spark would otherwise plan (an
    ``orderBy``-only window moves ALL data to one task: the classic
    100 TB scale-killer this helper exists to avoid).

    Two-pass: (1) range-repartition + in-partition sort on the order
    key, partition-local running totals via a window PARTITIONED by
    ``spark_partition_id``; (2) per-partition totals — one row per
    partition — collect to the driver (bounded model state, like a
    range sampler's boundaries), turn into exclusive partition offsets,
    broadcast-join back. Output is independent of where the range
    boundaries land, so sampled partitioning does not leak into the
    result. ``order_col`` must be a total order (unique keys): ties
    could split across range boundaries and make tied rows' running
    totals partition-dependent. Rows with a NULL order key are
    EXCLUDED (engines disagree on NULL sort position; callers
    left-join the result if they need those rows back). NULL VALUES
    count as 0: a window sum over an all-NULL prefix is NULL, so
    without the coalesce every row before the first non-NULL value
    would get a NULL running total — surprising for a prefix sum."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    spark = df.sparkSession
    if n_parts:
        n = n_parts
    else:
        try:
            n = spark.sparkContext.defaultParallelism
        except AttributeError:  # Spark Connect: no driver-side SparkContext
            n = 32
    local = (
        df.filter(F.col(order_col).isNotNull())
        .withColumn(
            value_col, F.coalesce(F.col(value_col), F.lit(0))
        )
        .repartitionByRange(n, F.col(order_col))
        .withColumn("__pid", F.spark_partition_id())
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # materialize ONCE before the two consumers: the per-partition
    # totals collect below and the output join are separate jobs, and
    # re-executing repartitionByRange lineage in each could sample
    # DIFFERENT range boundaries — a row landing in another partition
    # in the second job would pair partition p+1's local sum with
    # partition p's offset (silently wrong totals). One checkpoint
    # pins the partitioning both consumers read. LAZY (r20, guide
    # §2.6): the totals collect right below is the checkpoint's FIRST
    # and only consumer until it returns, so letting it materialize
    # the blocks fuses the two serial bounded jobs into one (the r19
    # lazy-checkpoint race needs >1 CONCURRENT consumer — here the
    # output join runs strictly after the collect and reads blocks).
    local = local.withColumn(
        "__local_sum", F.sum(value_col).over(w)
    ).localCheckpoint(eager=False)
    totals = (
        local.groupBy("__pid")
        .agg(F.sum(value_col).alias("__tot"))
        .collect()
    )
    offsets = {}
    acc = 0
    for row in sorted(totals, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = acc
        acc += row["__tot"] or 0
    from ..functions.localdf import tiny_df

    off_df = tiny_df(
        spark,
        [(pid, off) for pid, off in offsets.items()],
        "__pid int, __off bigint",
    )
    return (
        local.join(broadcast(off_df), "__pid")
        .withColumn(out_col, F.col("__off") + F.col("__local_sum"))
        .drop("__pid", "__local_sum", "__off")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
) -> DataFrame:
    """Concat-and-chunk training packing: lay documents end-to-end in
    ``id_col`` order and slice the stream into fixed ``budget``-token
    context windows (the standard LM pretraining batch layout). Per
    doc: ``pack_start`` / ``pack_end`` (global token offsets,
    end-exclusive) and ``bin_first`` / ``bin_last`` (the context
    windows the doc lands in; docs straddle bins rather than pad —
    the concat-and-chunk convention). Zero-token docs occupy no span:
    both bins are the bin their offset falls in.

    Built on :func:`global_prefix_sum` — no single-partition window,
    deterministic for a given corpus regardless of partition layout.
    Rows with NULL ``id_col`` are excluded (callers needing them
    re-join)."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    with_sum = global_prefix_sum(
        df.select(
            F.col(id_col),
            F.coalesce(F.col(tokens_col), F.lit(0)).cast("long").alias("__tk"),
        ),
        order_col=id_col,
        value_col="__tk",
        out_col="__csum",
    )
    start = F.col("__csum") - F.col("__tk")
    end = F.col("__csum")
    return with_sum.select(
        F.col(id_col),
        start.alias("pack_start"),
        end.alias("pack_end"),
        F.floor(start / budget).cast("bigint").alias("bin_first"),
        F.when(F.col("__tk") > 0, F.floor((end - 1) / budget))
        .otherwise(F.floor(start / budget))
        .cast("bigint")
        .alias("bin_last"),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Snapshot drift report between two corpus versions: one row per
    doc whose membership or content changed — ``change`` ∈
    ``added`` (id only in new), ``removed`` (id only in old),
    ``changed`` (id in both, normalized-content fingerprint differs).
    Unchanged docs are absent (at 100 TB almost everything is
    unchanged; emitting them would drown the signal).

    One full-outer join on the id carrying (id, fingerprint) — text
    never shuffles; fingerprints are computed map-side. This plans as
    a SortMergeJoin and that is CORRECT (r7 SMJ audit): both snapshot
    sides are corpus-sized by definition, and a full-outer join can
    never broadcast (every unmatched row on either side must surface)
    — the narrow (id, 32-hex, bool) projection is what keeps the
    shuffle cheap, not the join strategy."""
    from ..functions.hashing import stable_fingerprint

    # explicit presence markers: a NULL text fingerprints to NULL, so
    # fingerprint NULL-ness must NOT double as the membership test (a
    # NULL-text doc present in both snapshots would masquerade as
    # added/removed forever)
    o = old.select(
        F.col(id_col).alias("id"),
        stable_fingerprint(text_col).alias("ofp"),
        F.lit(True).alias("oin"),
    )
    n = new.select(
        F.col(id_col).alias("id"),
        stable_fingerprint(text_col).alias("nfp"),
        F.lit(True).alias("nin"),
    )
    joined = o.join(n, "id", "full_outer")
    return (
        joined.select(
            F.col("id").alias(id_col),
            F.when(F.col("oin").isNull(), F.lit("added"))
            .when(F.col("nin").isNull(), F.lit("removed"))
            # null-safe inequality: NULL text -> NULL fp counts as a
            # distinct content value, compared with <=> semantics
            .when(~F.col("ofp").eqNullSafe(F.col("nfp")), F.lit("changed"))
            .alias("change"),
        )
        .filter(F.col("change").isNotNull())
    )
