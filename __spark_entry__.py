"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2),
each ``(spark, sf_dir) -> DataFrame``.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query; every
computed column is aliased identically on both sides.

Implementation lives in ``projet_big_data_boutin_danre_spark/``; this
module only binds operators to the driver's TPC-H-ish testdata.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

# the driver may load this file by path from any cwd — make the
# sibling package importable regardless
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projet_big_data_boutin_danre_spark.functions.geo import haversine_km
from projet_big_data_boutin_danre_spark.operators import (
    bloom,
    cleaning,
    corpus_prep,
    dedup,
    lm,
    multimodal,
    pagination,
    similarity,
    text,
    usage,
)
from projet_big_data_boutin_danre_spark.operators import documents as documents_op
from projet_big_data_boutin_danre_spark.plans import (
    SearchSpec,
    compile_search,
    parse_search_url,
)
from projet_big_data_boutin_danre_spark.sources.readers import load_table

SF0001 = "/root/testdata/sf0.001"

# Timestamp → string normalization so Spark (session TZ = UTC) and
# DuckDB (UTC-naive) hash identically.
TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def _ts(col):
    return F.date_format(col, TS_FMT_SPARK)


# ---------------------------------------------------------------------------
# entry — flagship: the reference usage-layer pipeline shape
# (filter → derive → groupBy avg+count → broadcast-enrich join),
# SURVEY.md §2 P1/P2/A1/J1 over lineitem ⋈ supplier.
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    lineitem = load_table(spark, SF0001, "lineitem")
    supplier = load_table(spark, SF0001, "supplier")
    filtered = lineitem.filter(
        (F.col("l_quantity") > 9) & (F.col("l_extendedprice") > 1000)
    ).withColumn("price_per_unit", F.col("l_extendedprice") / F.col("l_quantity"))
    stats = filtered.groupBy("l_suppkey").agg(
        (F.floor(F.avg("price_per_unit") * 100 + F.lit(0.5)) / 100).alias(
            "avg_price_per_unit"
        ),
        F.count(F.lit(1)).alias("nb_sales"),
    )
    return usage.enrich_left_join(
        supplier, stats, "s_suppkey", "l_suppkey"
    ).select("s_suppkey", "s_name", "avg_price_per_unit", "nb_sales")


# ---------------------------------------------------------------------------
# queries — each mirrors a SURVEY.md §2 operator (IDs in comments)
# ---------------------------------------------------------------------------


def q_market_stats(spark: SparkSession, sf: str) -> DataFrame:
    """P1+P2+A1 (compute_usage.py:42-57): filter → derive ratio →
    groupBy avg+count."""
    li = load_table(spark, sf, "lineitem")
    filtered = li.filter(
        (F.col("l_quantity") > 9)
        & F.col("l_extendedprice").isNotNull()
        & (F.col("l_extendedprice") > 1000)
    ).withColumn("price_per_unit", F.col("l_extendedprice") / F.col("l_quantity"))
    return usage.group_stats(
        filtered,
        key="l_suppkey",
        value_col="price_per_unit",
        avg_alias="avg_price_per_unit",
        count_alias="nb_sales",
        round_to=2,
    )


def q_enrichment_join(spark: SparkSession, sf: str) -> DataFrame:
    """J1 (compute_usage.py:73-77): per-key stats broadcast left-joined
    onto a dimension."""
    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    # round(avg, 2) on doubles is engine-fragile at .xx5 boundaries
    # (float sum order + round-repr differences). Compute it in exact
    # integer cents with explicit half-up: floor((2*sum + n) / (2*n)).
    cnt = F.count(F.lit(1))
    sum_cents = F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    avg_cents = F.floor(
        (2 * sum_cents + cnt).cast("double") / (2 * cnt).cast("double")
    )
    stats = orders.groupBy("o_custkey").agg(
        (avg_cents / F.lit(100.0)).alias("avg_totalprice"),
        cnt.alias("nb_orders"),
    )
    return usage.enrich_left_join(customer, stats, "c_custkey", "o_custkey").select(
        "c_custkey", "c_name", "c_mktsegment", "avg_totalprice", "nb_orders"
    )


def q_keep_last_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """A2 (raw_to_fmt_lbc.py:49-51): deterministic keep-last-per-key."""
    ev = load_table(spark, sf, "events")
    last = cleaning.keep_last_dedup(ev, ["user_id"], "ts", tiebreak=["event_id"])
    return last.select(
        "user_id", "event_id", _ts("ts").alias("ts_s"), "event_type", "value"
    )


def q_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """P4 (index_to_es.py:227-244): isin + between + notnull chain."""
    li = load_table(spark, sf, "lineitem")
    return li.filter(
        F.col("l_returnflag").isin("A", "R")
        & F.col("l_quantity").between(10.0, 45.0)
        & F.col("l_shipdate").isNotNull()
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
    )


def q_index_counters(spark: SparkSession, sf: str) -> DataFrame:
    """A4 (index_to_es.py:114-144,218-282): per-run indexer tallies
    (total/indexed/filtered) as one conditional aggregation."""
    li = load_table(spark, sf, "lineitem")
    kept = (
        F.col("l_returnflag").isin("A", "R")
        & F.col("l_quantity").between(10.0, 45.0)
        & F.col("l_shipdate").isNotNull()
    )
    return documents_op.index_counters(
        li, kept, group_by=["l_returnflag"]
    ).orderBy("l_returnflag")


def q_prefix_filter(spark: SparkSession, sf: str) -> DataFrame:
    """P5/F1 (compute_usage.py:43): string-prefix predicate, plus the
    everyday string-function surface (F2 family) on the matched rows:
    case mapping, length, substring, replace, padding, search
    position, reversal, token extraction, left/right slicing and
    levenshtein edit distance (the fuzzy-matching primitive) — all
    engine-identical built-ins, no UDFs."""
    part = load_table(spark, sf, "part")
    name = F.col("p_name")
    return part.filter(F.col("p_type").startswith("STANDARD")).select(
        "p_partkey",
        "p_name",
        "p_type",
        "p_size",
        F.upper(name).alias("name_upper"),
        F.length(name).alias("name_len"),
        F.substring(name, 1, 5).alias("name_head"),
        F.regexp_replace(name, " ", "_").alias("name_snake"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("key_padded"),
        F.instr(name, "o").alias("first_o"),
        F.reverse(name).alias("name_rev"),
        F.element_at(F.split(name, " "), -1).alias("last_word"),
        F.left(name, F.lit(3)).alias("name_left"),
        F.right(name, F.lit(3)).alias("name_right"),
        F.levenshtein(name, F.col("p_type")).alias("lev_to_type"),
    )


def q_coercing_cast(spark: SparkSession, sf: str) -> DataFrame:
    """P6/F6 (raw_to_fmt_lbc.py:53): JSON field extract + coercing cast
    (unparseable AND missing → 0), plus the numeric/conditional
    function surface (F3/F8 family) over the event value: absolute
    value, rounding directions, sign, IEEE-exact sqrt, explicit
    square (x*x, NOT pow — libm pow is not cross-engine exact),
    modulo on a positive key, bounds via greatest/least, and
    NULLIF/CASE null plumbing."""
    ev = load_table(spark, sf, "events")
    v = F.col("value")
    return ev.select(
        "event_id",
        cleaning.coerce_numeric(F.get_json_object("props", "$.k")).alias("k_value"),
        F.abs(v).alias("v_abs"),
        F.ceil(v).cast("long").alias("v_ceil"),
        F.floor(v).cast("long").alias("v_floor"),
        F.signum(v).alias("v_sign"),
        F.sqrt(F.abs(v)).alias("v_sqrt_abs"),
        (v * v).alias("v_sq"),
        F.pmod(F.col("event_id"), F.lit(7)).alias("key_mod7"),
        F.greatest(v, F.lit(50.0)).alias("v_at_least_50"),
        F.least(v, F.lit(50.0)).alias("v_at_most_50"),
        F.nullif(F.pmod(F.col("event_id"), F.lit(5)), F.lit(0)).alias(
            "mod5_nullzero"
        ),
        F.when(v > 50.0, F.lit("high"))
        .when(v > 10.0, F.lit("mid"))
        .otherwise(F.lit("low"))
        .alias("band"),
    )


def q_pagination(spark: SparkSession, sf: str) -> DataFrame:
    """O1+O2 (utils.py:27,185) — BOTH pagination paths in one tagged
    union so each stays oracle-checked inside the driver's 50-row
    window: 'offset' = ORDER BY … LIMIT 50 OFFSET 100 (the reference's
    page semantics), 'keyset' = seek past the last-seen key
    (operators/pagination.py:keyset_page — O(limit) at any page depth,
    predicate pushed to the scan; tie-safe because o_orderkey is
    unique)."""
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    off = pagination.sort_page(
        orders,
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        limit=50,
        page=3,
    ).withColumn("method", F.lit("offset"))
    ks = pagination.keyset_page(
        orders, "o_orderkey", after=1000, limit=50
    ).withColumn("method", F.lit("keyset"))
    return off.unionByName(ks)


def q_union_all(spark: SparkSession, sf: str) -> DataFrame:
    """U1 (raw_to_fmt_lbc.py:33-41): union-all with duplicates kept."""
    orders = load_table(spark, sf, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O")
    b = orders.filter(F.col("o_orderpriority").startswith("1"))
    return a.unionByName(b).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )


def q_facet_totals(spark: SparkSession, sf: str) -> DataFrame:
    """A5 (model/search.py:6-35): grouped facet counts + max_pages."""
    orders = load_table(spark, sf, "orders")
    return usage.facet_totals(orders, "o_orderpriority", page_limit=35)


def q_watermark_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """ST2+A3+O3 (lbc_fetcher.py:92-98): rows strictly after the
    watermark; new watermark = max(ts). The watermark literal is a
    string parsed under the SESSION timezone (UTC) — a naive datetime
    through F.lit would bind to the driver's OS timezone instead."""
    ev = load_table(spark, sf, "events")
    from projet_big_data_boutin_danre_spark.streaming import incremental_batch

    fresh = incremental_batch(ev, "ts", "2024-06-01 00:00:00")
    return fresh.agg(
        F.count(F.lit(1)).alias("n_new"),
        F.max(_ts(F.col("ts"))).alias("new_watermark"),
    )


def q_point_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """S6 (mixin/ad.py:6-21): predicate-pushdown point lookup."""
    customer = load_table(spark, sf, "customer")
    return usage.point_lookup(customer, "c_custkey", 42).select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )


def q_two_step_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """J2 (mixin/user.py:18-26): 2-step dimension lookup as chained
    broadcast left joins."""
    customer = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation").withColumnsRenamed(
        {"n_nationkey": "c_nationkey"}
    )
    region = load_table(spark, sf, "region").withColumnsRenamed(
        {"r_regionkey": "n_regionkey"}
    )
    return usage.two_step_lookup(
        customer, nation, "c_nationkey", region, "n_regionkey"
    ).select("c_custkey", "c_name", F.col("n_name").alias("nation_name"), F.col("r_name").alias("region_name"))


def q_geo_radius(spark: SparkSession, sf: str) -> DataFrame:
    """Q5/Q7 (utils.py:88-96): haversine radius predicate over synthetic
    coordinates derived from keys (testdata has no geo columns)."""
    customer = load_table(spark, sf, "customer")
    pts = customer.select(
        "c_custkey",
        (F.lit(41.0) + ((F.col("c_custkey") * 7919) % 1000) / 100.0).alias("lat"),
        (F.lit(-5.0) + ((F.col("c_custkey") * 104729) % 1500) / 100.0).alias("lng"),
    )
    dist = haversine_km(
        F.col("lat"), F.col("lng"), F.lit(48.8566), F.lit(2.3522)
    )
    return pts.withColumn("dist_km", F.round(dist, 3)).filter(
        F.col("dist_km") <= 500.0
    )


def q_search_spec(spark: SparkSession, sf: str) -> DataFrame:
    """Q1+Q3+Q4+Q10 (§2.8): SearchSpec → filter/sort/page compiler over
    the documents table, tagged union (r8 widening):

    - ``sub``: the original pinned spec (substring keyword match +
      enum + range + sort + page 2);
    - ``tok``: the SURVEY Q1 stretch — ``text_match="all_tokens"``
      keyword semantics ("spark join": both tokens must appear as
      WHOLE tokens, any order, case/punct-insensitive via the
      canonical normalize on both sides)."""
    docs = load_table(spark, sf, "documents")
    spec = SearchSpec(
        text="spark",
        enums={"lang": ["en", "fr"]},
        ranges={"n_chars": (100.0, None)},
        sort_by="n_chars",
        sort_asc=False,
        limit=20,
        page=2,
        text_cols=("text",),
        id_col="doc_id",
    )
    sub = compile_search(docs, spec).select(
        F.lit("sub").alias("tag"), "doc_id", "lang", "n_chars"
    )
    tok_spec = SearchSpec(
        text="Spark, JOIN!",  # normalizes to tokens [spark, join]
        text_match="all_tokens",
        ranges={"n_chars": (100.0, None)},
        sort_by="n_chars",
        sort_asc=False,
        limit=25,
        page=1,
        text_cols=("text",),
        id_col="doc_id",
    )
    tok = compile_search(docs, tok_spec).select(
        F.lit("tok").alias("tag"), "doc_id", "lang", "n_chars"
    )
    return sub.unionByName(tok)


def q_top_k_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """O1 generalized (§2.5): windowed top-k per key (k=5)."""
    orders = load_table(spark, sf, "orders")
    return pagination.top_k_per_group(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=5,
    )


def q_tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    """A1 extended: the classic pricing-summary aggregate (multi-agg
    groupBy — the engine's OLAP backbone)."""
    li = load_table(spark, sf, "lineitem")
    # EXACT integer units end-to-end (the enrichment_join idiom, r5):
    # 2-decimal money/rates become integer cents / basis units, every
    # sum is an exact integer, and the single final division + floor
    # rounding is a deterministic double op — float partial-sum ORDER
    # (Spark partitioned partials vs DuckDB scan order) can no longer
    # flip a .xx5 rounding boundary. decimal(20,0) on the 3-factor
    # products keeps the sums overflow-proof at any sf (ANSI mode
    # would raise on a long overflow at very large scale).
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    d100 = F.round(F.col("l_discount") * 100).cast("long")
    t100 = F.round(F.col("l_tax") * 100).cast("long")
    disc_units = (ep_c * (F.lit(100) - d100)).cast("decimal(20,0)")
    charge_units = (
        ep_c * (F.lit(100) - d100) * (F.lit(100) + t100)
    ).cast("decimal(20,0)")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_c).cast("double") / F.lit(100.0)).alias("sum_qty"),
            (F.sum(ep_c).cast("double") / F.lit(100.0)).alias(
                "sum_base_price"
            ),
            (F.sum(disc_units).cast("double") / F.lit(10000.0)).alias(
                "sum_disc_price"
            ),
            (F.sum(charge_units).cast("double") / F.lit(1000000.0)).alias(
                "sum_charge"
            ),
            # floor idiom, not round(): averages of integer/2-decimal
            # data land exactly on half-boundaries when the count
            # divides evenly (see SCALE.md).
            (
                F.floor(
                    F.sum(qty_c).cast("double") / (F.lit(100.0) * n) * 100
                    + F.lit(0.5)
                )
                / 100
            ).alias("avg_qty"),
            (
                F.floor(
                    F.sum(ep_c).cast("double") / (F.lit(100.0) * n) * 100
                    + F.lit(0.5)
                )
                / 100
            ).alias("avg_price"),
            (
                F.floor(
                    F.sum(d100).cast("double") / (F.lit(100.0) * n) * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Window/lag sessionization (engine extension; streaming analog is
    session_window): new session when gap > 30 min."""
    # event-time operators ignore rows with no event time (Spark's
    # native windows drop them; the lag/window formulation must too,
    # and the engines disagree on NULL ordering) — filter both sides
    ev = load_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # Exact integer microseconds on BOTH sides (oracle: epoch_us) —
    # whole-second casts truncate and can split sessions differently
    # from the oracle for gaps landing inside (1800s, 1801s).
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    with_flag = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), F.lit(1))
        .otherwise(F.lit(0))
        .alias("new_sess"),
    )
    sess = with_flag.withColumn(
        "session_id",
        F.sum("new_sess").over(
            Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(_ts(F.col("ts"))).alias("session_end"),
    )


def q_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Native gap-session windows (streaming/sessionize.py
    session_counts, batch mode — withWatermark is a no-op on batch).
    Spark session semantics: window = [first, last + gap), so an event
    at exactly last + gap opens a NEW session (oracle uses >= gap)."""
    from projet_big_data_boutin_danre_spark.streaming.sessionize import (
        session_counts,
    )

    ev = load_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    s = session_counts(ev, "ts", "user_id", gap="30 minutes")
    return s.select(
        "user_id",
        _ts("session_start").alias("session_start_s"),
        _ts("session_end").alias("session_end_s"),
        "n_events",
    )


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (operators/asof.py): each click matched to the
    user's most recent purchase at or before it — union + forward-fill
    window, one shuffle, no range blowup. Oracle uses DuckDB's native
    ASOF LEFT JOIN."""
    from projet_big_data_boutin_danre_spark.operators.asof import asof_join

    ev = load_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("last_purchase_value"))
    )
    out = asof_join(
        clicks, purchases, "user_id", "ts", "ts", ["last_purchase_value"]
    )
    return out.select(
        "event_id", "user_id", _ts("ts").alias("ts_s"), "last_purchase_value"
    )


def q_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Range join (operators/rangejoin.py): clicks inside the 1-hour
    window after each same-user purchase — binned equi-join, not a
    nested-loop theta join."""
    from projet_big_data_boutin_danre_spark.operators.rangejoin import (
        interval_join,
    )

    ev = load_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    promos = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("promo_start"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("promo_end"),
        )
        .distinct()
    )
    out = interval_join(
        clicks, promos, "user_id", "ts", "promo_start", "promo_end"
    )
    return out.select(
        "event_id",
        "user_id",
        _ts("ts").alias("ts_s"),
        _ts("promo_start").alias("promo_start_s"),
    )


def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Grouping sets (engine extension over A1): ROLLUP and CUBE over
    the same keys, tagged into one result so both stay oracle-checked
    inside the driver's 50-row window. Each is one Expand + hash-agg
    pass (no re-scan per grouping combination)."""
    orders = load_table(spark, sf, "orders")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
    ]
    ru = (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(*aggs)
        .withColumn("gs", F.lit("rollup"))
    )
    cu = (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(*aggs)
        .withColumn("gs", F.lit("cube"))
    )
    return ru.unionByName(cu)


def q_pivot_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot expressed as portable conditional aggregation."""
    ev = load_table(spark, sf, "events")
    agg = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return ev.groupBy((F.col("user_id") % 10).alias("user_bucket")).agg(*agg)


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (SURVEY.md §7 step 9): dedup, text
# analysis, similarity search, multimodal — over documents/embeddings.
# ---------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-duplication family, tagged union (r5 widening):

    - ``group``: normalized-content duplicate groups with
      deterministic keeper (min id) and copy count — key =
      content_hash, v1 = keeper_id, v2 = n_copies;
    - ``span``: duplicated-substring spans (Lee et al. 2022 signal,
      operators/dedup.py:duplicate_spans, 20-char windows) — key =
      doc_id, v1/v2 = merged span start/end over normalized text;
    - ``cover``: per-doc span coverage (duplicate_span_stats) for
      flagged docs — key = doc_id, v1 = n_dup_spans, v2 = dup_chars
      (the frac is v2 / normalized length, checked implicitly);
    - ``topwin`` (r6): the 15 most-repeated 20-char windows
      corpus-wide (dedup.top_duplicate_windows — the boilerplate
      detector; groupBy count + TakeOrderedAndProject) — key = the
      window text, v1 = occurrence count, v2 NULL;
    - ``lines`` (r9): RefinedWeb/CCNet corpus-wide line dedup
      (dedup.drop_common_lines — exact lines >= 15 chars in >= 2
      distinct docs deleted from ALL docs, order-preserving rebuild,
      line text never shuffles) — key = md5 of the rebuilt text,
      v1 = doc_id, v2 = n_lines_dropped;
    - ``c4`` (r9): the C4 dedup step (dedup.c4_sentence_dedup —
      duplicated three-sentence spans cut everywhere except the
      globally-first occurrence; sentence view = '. ' after every
      6th word) — key = md5 of the cut text, v1 = doc_id,
      v2 = n_cut_chars;
    - ``canon`` / ``url`` / ``dom`` (r14): the URL/domain hygiene
      family (operators/urls.py — the PRE-content gate real pipelines
      run first: RefinedWeb dedups by canonicalized URL before
      MinHash sees text; C4 gates on domain blocklists/rollups).
      Deterministic messy-URL substrate (urls.synth_urls — mixed
      case, default ports, www, trailing slash, tracking params,
      fragments; every (doc_id % 211) group canonicalizes to ONE
      url). ``canon``: per-doc canonical url for doc_id < 500 — key =
      canonical_url, v1 = doc_id; ``url``: canonical-url dedup
      groups — key = canonical_url, v1 = keeper (min id), v2 =
      n_copies (> 1 proves the canonicalizer merged messy variants);
      ``dom``: registered-domain rollup — key = domain, v1 = n_docs,
      v2 = total chars. Pure Column algebra (anchored RE2/Java-safe
      regexes — no UDFs, no list lambdas), map-only + two hash
      aggregates."""
    docs = load_table(spark, sf, "documents")
    groups = dedup.exact_dedup_stats(docs, "doc_id", "text").select(
        F.lit("group").alias("tag"),
        F.col("content_hash").alias("key"),
        F.col("keeper_id").alias("v1"),
        F.col("n_copies").alias("v2"),
    )
    # materialize the stride-1 window subplan once (r19, guide §2.4):
    # the 'span' branch, the 'cover' rollup AND the 'topwin' ranking
    # all consume the flagged duplicate-window occurrences — before
    # r19 the topwin branch re-ran its own full stride-1 explode +
    # count shuffle over every window (~3× the flagged volume;
    # measured at sf0.1 flagged = 33% of 1.39M windows). hits is
    # checkpointed once; spans_df is deliberately LAZY — the span tag
    # and the cover rollup each recompute the gaps-and-islands merge
    # from the hits checkpoint IN PARALLEL inside the union job (an
    # r19 interleaved A/B measured checkpointing spans a tie, so the
    # structure with one fewer serial construction job wins).
    # eager checkpoints, deliberately (r19 measured): lazy
    # (eager=False) checkpoints here let the three concurrent
    # consumers race the first materialization inside the union job
    # and re-run the count-window subplan per branch — warm 3.3 s →
    # 6-16 s, unstable. Two serial jobs at construction is the
    # cheaper side when the checkpointed frame has >1 consumer in the
    # SAME downstream job (media_plans' lazy kernels work because CC
    # materializes them before the union runs).
    hits = dedup.duplicate_window_hits(
        docs, "doc_id", "text", min_len=20
    ).localCheckpoint()
    spans_df = dedup.duplicate_spans(
        docs, "doc_id", "text", min_len=20, hits=hits
    )
    spans = spans_df.select(
        F.lit("span").alias("tag"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("span_start").alias("v1"),
        F.col("span_end").alias("v2"),
    )
    cover = (
        dedup.duplicate_span_stats(
            docs, "doc_id", "text", min_len=20, spans=spans_df
        )
        .filter(F.col("n_dup_spans") > 0)
        .select(
            F.lit("cover").alias("tag"),
            F.col("doc_id").cast("string").alias("key"),
            F.col("n_dup_spans").alias("v1"),
            F.col("dup_chars").alias("v2"),
        )
    )
    topwin = dedup.top_duplicate_windows(
        docs, "text", min_len=20, k=15, hits=hits
    ).select(
        F.lit("topwin").alias("tag"),
        F.col("w").alias("key"),
        F.col("n_occurrences").alias("v1"),
        F.lit(None).cast("bigint").alias("v2"),
    )
    # r9 widening: corpus-wide duplicate-LINE removal (RefinedWeb /
    # CCNet line dedup — dedup.drop_common_lines). Same deterministic
    # multi-line view as token_stats (a newline after every 5th
    # word); exact lines >= 15 chars appearing in >= 2 DISTINCT docs
    # are deleted from ALL docs (no keeper). key pins the REBUILT
    # text per doc, v2 the per-doc drop count.
    nl = F.regexp_replace(F.col("text"), r"((?:\S+ ){4}\S+) ", "$1\n")
    lines_tag = dedup.drop_common_lines(
        docs.select("doc_id", nl.alias("__nl")), "doc_id", "__nl",
        min_df=2, min_len=15,
    ).select(
        F.lit("lines").alias("tag"),
        F.md5(F.coalesce("kept_text", F.lit(""))).alias("key"),
        F.col("doc_id").alias("v1"),
        F.col("n_lines_dropped").cast("bigint").alias("v2"),
    )
    # r9 widening: the C4 dedup step itself (Raffel et al. 2020 §2.2
    # — dedup.c4_sentence_dedup): duplicated three-sentence spans cut
    # everywhere except the globally-first occurrence. The word-bag
    # docs get a deterministic sentence view first — '. ' after every
    # 6th word — then the full pipeline (exhaustive segmentation →
    # offset windows → global keeper rank → island merge → char-exact
    # cut). key pins the CUT text, v2 the chars removed.
    sv = F.regexp_replace(F.col("text"), r"((?:\S+ ){5}\S+) ", "$1. ")
    c4 = dedup.c4_sentence_dedup(
        docs.select("doc_id", sv.alias("__sv")), "doc_id", "__sv"
    ).select(
        F.lit("c4").alias("tag"),
        F.md5(F.coalesce("cut_text", F.lit(""))).alias("key"),
        F.col("doc_id").alias("v1"),
        F.col("n_cut_chars").cast("bigint").alias("v2"),
    )
    # r14 widening: URL/domain hygiene tags (docstring above)
    from projet_big_data_boutin_danre_spark.operators import urls as urls_ops

    wu = urls_ops.synth_urls(docs)
    canon = wu.filter(F.col("doc_id") < 500).select(
        F.lit("canon").alias("tag"),
        urls_ops.canonicalize_url(F.col("url")).alias("key"),
        F.col("doc_id").alias("v1"),
        F.lit(None).cast("bigint").alias("v2"),
    )
    url_groups = urls_ops.url_dedup_groups(wu, "doc_id", "url").select(
        F.lit("url").alias("tag"),
        F.col("canonical_url").alias("key"),
        F.col("keeper_id").alias("v1"),
        F.col("n_copies").cast("bigint").alias("v2"),
    )
    dom = urls_ops.domain_rollup(
        wu, "doc_id", "url", weight_col="n_chars"
    ).select(
        F.lit("dom").alias("tag"),
        F.col("domain").alias("key"),
        F.col("n_docs").cast("bigint").alias("v1"),
        F.col("total_weight").alias("v2"),
    )
    return (
        groups.unionByName(spans).unionByName(cover).unionByName(topwin)
        .unionByName(lines_tag).unionByName(c4)
        .unionByName(canon).unionByName(url_groups).unionByName(dom)
    )


def q_text_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: token count, heuristic language ID, quality
    score, md5 fingerprint — widened (r5) with the PII scrub pass
    (email/IPv4/long-digit-run redaction counts + scrubbed-text
    fingerprint, staged-matching semantics) and with the Gopher-style
    repetition signals (duplicate-bigram fraction, hottest-bigram
    coverage — operators/text.py:repetition_profile). The projection
    half stays narrow; repetition adds the canonical (doc, bigram)
    wordcount rollup.

    r6 widening: the n-gram LM quality signal (operators/lm.py — the
    CCNet-style perplexity filter's plumbing). Self-trained bigram
    model (min_count=2) scored back over the corpus; the slot carries
    the INTEGER surfaces only (gram count, pruned-model hits, summed
    model counts / context totals — exact cross-engine), while the
    float perplexity itself is pytest-pinned against a pure-Python
    reference (ln + float summation are not bit-stable across
    engines). Docs too short to score keep their profile row via the
    left join with zero defaults.

    r8 widening: the learned quality classifier's deterministic
    surface (ml/quality_model.py — the filter-model leg next to the
    ppl gate). The FIT is iterative MLlib L-BFGS with no SQL twin
    (AUC + reproducibility pytest-gated, like the IVF k-means), but
    its training INPUTS are exact cross-engine and ride here:
    ``qm_label`` (the weak teacher label, quality >= 0.5) and
    ``qm_train`` (the md5 80/20 split flag, ml/regression.py:
    hash_split_flag — first md5 byte < 205). Hash-checking them pins
    the exact example set any retrain sees.

    r9 widening: the Gopher quality-rule bundle (Rae et al. 2021
    Table A1 — text.gopher_rules): g_* integer signals + the
    composite gopher_pass verdict, every ratio bound expressed as
    integer cross-multiplication so the verdict is exact
    cross-engine."""
    docs = load_table(spark, sf, "documents")
    prof = text.text_profile(docs, "doc_id", "text", include_pii=True)
    rep = text.repetition_profile(docs, "doc_id", "text").drop("n_tokens")
    # shared gram subplan: training, context totals, and scoring all
    # consume the same tokenize+explode frame. Measured at sf0.1 the
    # in-plan recompute (~0.3 s/scan warm) beats a localCheckpoint
    # (write+read of every gram row, ~1.2 s) — the opposite tradeoff
    # from q_exact_dedup's spans, whose subplan is char-stride-1. The
    # grams= hook is there for callers where the balance flips.
    # with_ppl=False: the slot carries only the integer digest, so
    # skip the float columns and the vocab-size driver job they need.
    grams = lm.doc_ngrams(docs, ["doc_id"], "text", n=2)
    counts_raw = lm.ngram_counts(None, n=2, min_count=1, grams=grams)
    model = counts_raw.filter(F.col("c") >= 2)
    # context totals roll up from the model-sized counts frame, not a
    # third corpus-sized gram scan
    ctx = lm.context_totals(None, n=2, counts=counts_raw)
    scored = lm.score_documents(
        docs, "doc_id", "text", model, ctx, n=2, grams=grams,
        with_ppl=False,
    )
    from projet_big_data_boutin_danre_spark.ml.regression import (
        hash_split_flag,
    )

    zero = F.lit(0).cast("bigint")
    # r9 widening: the Gopher quality-rule bundle (Rae et al. 2021
    # Table A1 — text.gopher_rules). Integer signals + the composite
    # pass verdict; every ratio bound is integer cross-multiplication
    # so the verdict hashes identically cross-engine.
    gop = text.gopher_rules(docs, "doc_id", "text")
    # r9 widening: the rest of the Gopher TOP-n-gram family
    # (text.ngram_repetition, n=3 and n=4) — integer numerators/
    # denominators only, same canonical wordcount shape as the bigram
    # profile (the fractions the paper thresholds are derived ratios)
    tg3 = text.ngram_repetition(docs, "doc_id", "text", 3).select(
        "doc_id",
        F.col("n_ngrams").alias("n_trigrams"),
        F.col("n_distinct_ngrams").alias("n_distinct_trigrams"),
        F.col("top_ngram_n").alias("top_trigram_n"),
    )
    tg4 = text.ngram_repetition(docs, "doc_id", "text", 4).select(
        "doc_id",
        F.col("n_ngrams").alias("n_quadgrams"),
        F.col("n_distinct_ngrams").alias("n_distinct_quadgrams"),
        F.col("top_ngram_n").alias("top_quadgram_n"),
    )
    return (
        prof.join(rep, "doc_id")
        .join(scored, "doc_id", "left")
        .join(gop, "doc_id")
        .join(tg3, "doc_id")
        .join(tg4, "doc_id")
        .withColumns(
            {
                "lm_grams": F.coalesce("lm_grams", zero),
                "lm_hits": F.coalesce("lm_hits", zero),
                "lm_c": F.coalesce("lm_c", zero),
                "lm_ctx": F.coalesce("lm_ctx", zero),
                # classifier weak-label surface: computed on the
                # slot's ROUNDED quality column so the 0.5 comparison
                # sees the identical value both engines hash
                "qm_label": (F.col("quality") >= F.lit(0.5)).cast("int"),
                "qm_train": hash_split_flag(["doc_id"]).cast("int"),
            }
        )
    )


def q_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting both ways (whitespace segmentation and the
    BPE-ish pre-tokenizer regex — the LLM token-budget proxy), widened
    with the chunking operators: per-doc chunk counts and summed chunk
    sizes from text.chunk_text (char windows, 200/50 overlap) and
    text.chunk_tokens (token windows, 40/8). The oracle twin computes
    the window arithmetic analytically — an independent formulation of
    the same contract, so substring/slice boundary math is checked
    end-to-end.

    Plan note (r7 SMJ audit): the packing join is the one
    SortMergeJoin in this slot — pack_sequences emits ONE ROW PER DOC
    off a range-repartitioned prefix-sum, so its build side is
    corpus-sized by design and broadcasting it would ship the whole
    corpus to every executor at 100 TB; a doc_id-keyed shuffle join
    is the correct shape (the other per-doc rollups broadcast only
    because AQE sees their sf-scale sizes). Locked by
    tests/test_plan_shapes.py."""
    docs = load_table(spark, sf, "documents")
    base = docs.select(
        "doc_id",
        text.token_count("text").alias("ws_tokens"),
        text.regex_token_count("text").alias("bpe_tokens"),
        F.md5("text").alias("__orig_fp"),
    )
    # coalesce(.., 0) per row before summing: a NULL-text doc yields
    # one chunk row with NULL size; the oracle's greatest(NULL-s+1, 0)
    # yields 0 for it (DuckDB greatest ignores NULLs) — align to 0 so
    # a NULL text in future driver testdata can't flip the hash
    cc = (
        text.chunk_text(docs, "doc_id", "text", chunk_chars=200, overlap=50)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_char_chunks"),
            F.sum(F.coalesce(F.col("n_chars"), F.lit(0))).alias(
                "char_chunk_chars"
            ),
        )
    )
    tc = (
        text.chunk_tokens(docs, "doc_id", "text", chunk_tokens=40, overlap=8)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_token_chunks"),
            F.sum(F.coalesce(F.col("n_tokens"), F.lit(0))).alias(
                "tok_chunk_tokens"
            ),
        )
    )
    # r5 widening: concat-and-chunk sequence packing (distributed
    # prefix-sum over doc_id order, corpus_prep.pack_sequences) —
    # global token offsets and first/last 512-token context bins. The
    # oracle twin is a plain SQL running-total window; the Spark side
    # deliberately is NOT (single-partition global windows are the
    # scale-killer the operator avoids).
    pack = corpus_prep.pack_sequences(
        base.select("doc_id", "bpe_tokens"), "doc_id", "bpe_tokens",
        budget=512,
    )
    # r6 widening: chunk→assemble round-trip fingerprint
    # (text.assemble_chunks — sort_array-ordered aggregation). Chunks
    # are zero-overlap 200-char windows, so reassembly must reproduce
    # the original text byte-for-byte: reasm_fp = md5(assembled), and
    # reasm_ok pins it against md5(text) null-safely. The oracle twin
    # rebuilds the same windows analytically and string_aggs them in
    # chunk order — an independent formulation of the ordering
    # contract.
    reasm = (
        text.assemble_chunks(
            text.chunk_text(docs, "doc_id", "text", chunk_chars=200, overlap=0),
            "doc_id",
            "chunk_id",
            "chunk",
        )
        .select("doc_id", F.md5("text").alias("reasm_fp"))
    )
    # r6 widening: per-doc keyword extraction (text.doc_keywords —
    # tf desc / df asc / token ranking, the integer-exact tf-idf
    # core). Empty/NULL-text docs have no keyword row: left join +
    # '' default.
    kw = text.doc_keywords(docs, "doc_id", "text", k=3)
    # r8 widening: C4-style line cleaning (text.clean_lines). The
    # synthetic docs are single-line word bags, so a deterministic
    # multi-line view is derived first — a newline after every 5th
    # word (non-overlapping regex groups, identical RE2/Java
    # semantics) — then lines with < 4 words or containing "slow" are
    # dropped. clean_fp pins the REJOINED text, not just counts.
    nl = F.regexp_replace(
        F.col("text"), r"((?:\S+ ){4}\S+) ", "$1\n"
    )
    cl = text.clean_lines(
        docs.select("doc_id", nl.alias("__nl")), "doc_id", "__nl",
        min_words=4, blocklist=("slow",),
    ).select(
        "doc_id",
        F.coalesce("n_lines_total", F.lit(0)).alias("n_lines_total"),
        F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
        F.md5(F.coalesce("clean_text", F.lit(""))).alias("clean_fp"),
    )
    return (
        base.join(cc, "doc_id", "left")
        .join(tc, "doc_id", "left")
        .join(pack, "doc_id", "left")
        .join(reasm, "doc_id", "left")
        .join(kw, "doc_id", "left")
        .join(cl, "doc_id", "left")
        .withColumn(
            "reasm_ok", F.col("reasm_fp").eqNullSafe(F.col("__orig_fp"))
        )
        .withColumn("top_terms", F.coalesce("top_terms", F.lit("")))
        .drop("__orig_fp")
    )


def q_corpus_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-based distinct counting (HLL++ via approx_count_distinct
    — constant memory per group, mergeable map-side; THE distinct-count
    at 100 TB where exact countDistinct shuffles every value).
    Sketch-ONLY: the exact companion lives in ``exact_cardinality`` so
    this scale query ships no anti-scale column. Rows-only check:
    DuckDB's HLL yields different estimates by construction."""
    docs = load_table(spark, sf, "documents")
    from projet_big_data_boutin_danre_spark.functions.hashing import (
        stable_fingerprint,
    )

    with_fp = docs.select(
        "lang", stable_fingerprint("text").alias("fp")
    )
    return with_fp.groupBy("lang").agg(
        F.approx_count_distinct("fp").alias("approx_distinct"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def q_exact_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-group distinct counts — the sf-scale companion check
    for ``corpus_cardinality`` (hash-checkable; Spark plans distinct
    aggs as expand + two-phase partial/final, so it's skew-tolerant,
    but it still shuffles every distinct value — use the sketch at
    100 TB).

    r10 widening: per-lang Bloom-filter stats (operators/bloom.py —
    the approximate-membership sidecar for ingest admission):
    ``bloom_bits_set`` / ``bloom_words`` pin the full bit pipeline
    (seeded md5 hex-slice positions → 64-bit word masks → bit_or per
    word → bit_count rollup) against a DuckDB twin that spells
    hex→int as an instr() polynomial — engine-exact integer bit math,
    same discipline as the dHash/pHash kernels."""
    docs = load_table(spark, sf, "documents")
    from projet_big_data_boutin_danre_spark.functions.hashing import (
        stable_fingerprint,
    )

    with_fp = docs.select(
        "lang", "source", stable_fingerprint("text").alias("fp")
    )
    srcs = F.array_sort(F.collect_set("source"))
    ref = F.array(F.lit("src1"), F.lit("src2"), F.lit("src42"))
    return with_fp.groupBy("lang").agg(
        F.countDistinct("fp").alias("exact_distinct"),
        F.count(F.lit(1)).alias("n_docs"),
        # array-aggregation surface: set-collect → deterministic order
        # → join (cross-engine stable via the sorted string form)
        F.concat_ws(",", srcs).alias("sources_csv"),
        F.size(F.collect_set("source")).alias("n_sources"),
        # array set-algebra surface (r5): intersect/except/union vs a
        # constant reference set, membership, position in the SORTED
        # set (deterministic), and slicing — arrays leave the query as
        # sorted-joined strings so element order can't diverge
        F.concat_ws(",", F.array_sort(F.array_intersect(srcs, ref))).alias(
            "common_srcs"
        ),
        F.concat_ws(",", F.array_sort(F.array_except(srcs, ref))).alias(
            "extra_srcs"
        ),
        F.size(F.array_union(srcs, ref)).alias("n_union_ref"),
        F.array_contains(srcs, "src1").alias("has_src1"),
        F.array_position(srcs, "src1").alias("src1_pos"),
        F.concat_ws(",", F.slice(srcs, 1, 2)).alias("first_two_srcs"),
    ).join(
        # r5 widening: per-language vocabulary size + deterministic
        # top-3 tokens by frequency (text.vocab_topk — wordcount, a
        # group-partitioned ranking window, rank-ordered CSV). LEFT
        # join + defaults (r6): a lang group whose docs are all
        # empty/NULL text has no vocab row, and an inner join would
        # silently drop its cardinality/sources row too.
        text.vocab_topk(docs, "text", "lang", k=3),
        "lang",
        "left",
    ).join(
        # r10 widening: per-lang Bloom fill stats over the same
        # fingerprints (one word-sized shuffle; LEFT join + defaults
        # for a lang whose texts are all NULL — no fp, no bits)
        bloom.bloom_build(with_fp, "fp", group_cols=("lang",))
        .groupBy("lang")
        .agg(
            F.sum(F.bit_count("word")).alias("bloom_bits_set"),
            F.count(F.lit(1)).alias("bloom_words"),
        ),
        "lang",
        "left",
    ).withColumns(
        {
            "n_vocab": F.coalesce("n_vocab", F.lit(0).cast("bigint")),
            "top_tokens": F.coalesce("top_tokens", F.lit("")),
            "bloom_bits_set": F.coalesce(
                "bloom_bits_set", F.lit(0).cast("bigint")
            ),
            "bloom_words": F.coalesce("bloom_words", F.lit(0).cast("bigint")),
        }
    )


def q_corpus_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language corpus length distribution (exact percentiles —
    Spark `percentile` and DuckDB `quantile_cont` share the linear-
    interpolation definition, so values match bit-for-bit). r6: joined
    with the fixed-width length histogram (text.length_histogram,
    64-char bins as a bin-ordered bin:count CSV — integer-exact, the
    SHAPE companion to the percentiles; the approx_percentile scale
    variant stays pytest-only, estimates being engine-specific).

    r6: also the quantile-trim ACTION on the same distribution —
    text.length_trim keeps docs inside the per-lang [p5, p95] length
    band (exact percentile here = DuckDB quantile_cont bit-for-bit;
    approx=True is the 100 TB mode, pytest-pinned); the slot digests
    the kept set as per-lang count + id checksum."""
    docs = load_table(spark, sf, "documents")
    # length_trim runs its own [p5, p95] percentile aggregation — a
    # second pass over the same distribution the quantiles branch
    # summarizes at (p50, p90, p99). Deliberate: the slot exercises
    # the OPERATOR (which owns its bounds), and fusing the two
    # percentile sets would couple the trim contract to this slot's
    # reporting percentiles. Cost: one extra scan of a 5-group agg.
    trimmed = (
        text.length_trim(docs, "text", "lang", lo=0.05, hi=0.95)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept_trim"),
            F.sum("doc_id").cast("bigint").alias("trim_sum_ids"),
        )
    )
    return (
        text.length_quantiles(docs, "text", "lang")
        .join(
            text.length_histogram(docs, "text", "lang", bin_width=64),
            "lang",
            "left",
        )
        .join(trimmed, "lang", "left")
        .withColumns(
            {
                "hist": F.coalesce("hist", F.lit("")),
                "n_bins": F.coalesce("n_bins", F.lit(0).cast("bigint")),
                "n_kept_trim": F.coalesce(
                    "n_kept_trim", F.lit(0).cast("bigint")
                ),
                "trim_sum_ids": F.coalesce(
                    "trim_sum_ids", F.lit(0).cast("bigint")
                ),
            }
        )
    )


def q_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signatures (8 hashes, 8-char shingles) per document."""
    docs = load_table(spark, sf, "documents")
    return dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8, shingle_k=8)


def q_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline, tagged union (r5 widening):

    - ``pair``: candidate pairs sharing an LSH band (4 bands × 2 rows)
      — ``(id_a, id_b)``, n NULL;
    - ``member``: connected components over those pairs
      (large-star/small-star, operators/dedup.py:connected_components)
      — id_a = doc, id_b = component (min reachable id), n NULL;
    - ``cluster``: one row per duplicate cluster — id_a = keeper
      (component min), id_b NULL, n = cluster size;
    - ``bucket`` (r8): the candidate-volume diagnostic
      (operators/dedup.py:lsh_bucket_profile) — one row per occupied
      bucket size ≥ 2: id_a = bucket_size, id_b = candidate_pairs
      (n_buckets · C(size, 2) within-bucket expansions), n =
      n_buckets. The r8 LSH adjudication showed candidate volume, not
      hash-family stage cost, dominates dedup end-to-end — this tag
      hash-pins the exact volume the md5 banding produces;
    - ``seen`` (r8): the cross-corpus near-dup probe
      (operators/dedup.py:lsh_seen_ids — incremental_ingest's
      admission guard): docs with doc_id % 5 == 0 play the arriving
      batch, the rest the admitted history; one row per batch doc
      sharing ≥ 1 band bucket with history (id_a = doc, id_b/n NULL).

    The oracle twin recomputes the components with a recursive
    transitive-closure CTE — an independent formulation (closure +
    group-min vs star-contraction), so the iterative Spark algorithm
    is checked against graph-reachability ground truth, not against
    itself; the bucket histogram is an independent GROUP BY over the
    same bands CTE."""
    docs = load_table(spark, sf, "documents")
    # materialize the BANDS once: the pair branch, the component
    # iteration, and the bucket profile all consume the
    # shingle→signature→band subplan. Measured (r8, interleaved
    # min-of-4 at sf0.1): checkpointing bands 3.56 s vs recomputing
    # the subplan per consumer 4.85 s — the 4-rows/doc band frame is
    # cheap to pin, the shingle explode behind it is not.
    bands = dedup.lsh_bands(
        dedup.minhash_signatures(docs, "doc_id", "text", 8, 8), 8, 4
    ).localCheckpoint()
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=8, bands=4, shingle_k=8,
        bands_df=bands,
    ).localCheckpoint()
    members = dedup.connected_components(pairs)
    nul = F.lit(None).cast("bigint")
    p = pairs.select(
        F.lit("pair").alias("tag"), "id_a", "id_b", nul.alias("n")
    )
    m = members.select(
        F.lit("member").alias("tag"),
        F.col("node").alias("id_a"),
        F.col("component").alias("id_b"),
        nul.alias("n"),
    )
    c = members.groupBy(F.col("component").alias("id_a")).agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        F.lit("cluster").alias("tag"), "id_a", nul.alias("id_b"), "n"
    )
    bkt = dedup.lsh_bucket_profile(None, bands_df=bands).select(
        F.lit("bucket").alias("tag"),
        F.col("bucket_size").alias("id_a"),
        F.col("candidate_pairs").alias("id_b"),
        F.col("n_buckets").alias("n"),
    )
    # r8 widening: the cross-corpus near-dup probe (the incremental
    # ingest admission guard, dedup.lsh_seen_ids) — doc_id % 5 == 0
    # plays the arriving batch, the rest the admitted history; both
    # band layers slice the SAME checkpointed bands frame, and the
    # probe's broadcast-batch plan is exactly the ingest's
    seen = dedup.lsh_seen_ids(
        None,
        bands.filter(F.col("id") % 5 != 0),
        "doc_id",
        "text",
        bands_df=bands.filter(F.col("id") % 5 == 0),
        # r19: the batch side slices the ALREADY-checkpointed bands
        # frame and is bounded by construction (4 rows/doc over the
        # graded sf), so the mega-batch guard's own checkpoint + count
        # pre-pass (two extra jobs re-materializing a frame that is
        # one filter away from a checkpoint) buys nothing here —
        # results are identical with or without the guard (chunking
        # is a set-union). Production ingest keeps the default guard.
        max_broadcast_rows=None,
    ).select(
        F.lit("seen").alias("tag"),
        F.col("doc_id").alias("id_a"),
        nul.alias("id_b"),
        nul.alias("n"),
    )
    return (
        p.unionByName(m).unionByName(c).unionByName(bkt).unionByName(seen)
    )


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """32-bit SimHash bit string per document."""
    docs = load_table(spark, sf, "documents")
    return dedup.simhash(docs, "doc_id", "text", bits=32)


def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """n-gram overlap family, tagged union (r5 widening):

    - ``jac``: word-3-gram Jaccard for pairs blocked by source
      (id_a, id_b, jaccard; v1/v2 NULL);
    - ``contam``: benchmark-decontamination scan
      (operators/text.py:ngram_contamination) — docs with
      ``doc_id % 41 == 0`` act as the held-out probe set, the rest as
      the training corpus; flagged rows carry v1 = distinct colliding
      4-grams, v2 = distinct probe docs hit (id_b/jaccard NULL).
      n=4 keeps the check non-vacuous at sf0.01 (the operator default
      is 8, the published-filter scale);
    - ``lev`` (r6): candidate VERIFICATION — the jac pairs rescored
      by edit distance over an 80-char normalized prefix
      (dedup.verify_pairs_levenshtein, the sketch-then-verify
      pattern) — v1 = lev_dist, v2 = longer prefix length."""
    docs = load_table(spark, sf, "documents")
    # r19 (guide §2.4): the jac pair frame is consumed TWICE — as the
    # 'jac' output rows and as the lev branch's candidate input — and
    # behind it sits the gram-set build + per-block applyInPandas
    # inverted-index stage (the slot's dominant cost; the before-plan
    # showed the FlatMapGroupsInPandas subtree twice). Materialize the
    # tiny (id_a, id_b, jaccard) frame once and share it.
    jac = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", "source", n=3, min_jaccard=0.02
    ).localCheckpoint()
    probes = docs.filter(F.col("doc_id") % 41 == 0)
    corpus = docs.filter(F.col("doc_id") % 41 != 0)
    contam = text.ngram_contamination(
        corpus, "doc_id", "text", probes, "doc_id", "text", n=4
    )
    nul_l = F.lit(None).cast("bigint")
    j = jac.select(
        F.lit("jac").alias("tag"),
        "id_a",
        "id_b",
        "jaccard",
        nul_l.alias("v1"),
        nul_l.alias("v2"),
    )
    c = contam.select(
        F.lit("contam").alias("tag"),
        F.col("doc_id").alias("id_a"),
        nul_l.alias("id_b"),
        F.lit(None).cast("double").alias("jaccard"),
        F.col("n_hit_grams").alias("v1"),
        F.col("n_hit_probes").alias("v2"),
    )
    lev = dedup.verify_pairs_levenshtein(
        docs, "doc_id", "text", jac.select("id_a", "id_b"), prefix_len=80
    ).select(
        F.lit("lev").alias("tag"),
        "id_a",
        "id_b",
        F.lit(None).cast("double").alias("jaccard"),
        F.col("lev_dist").cast("bigint").alias("v1"),
        F.col("lev_len").cast("bigint").alias("v2"),
    )
    return j.unionByName(c).unionByName(lev)


def q_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Cosine top-5 neighbors for 8 query vectors, tagged union of two
    strategies (both hash-checked):

    - ``exact``: brute force (broadcast queries × one corpus scan);
    - ``sq8``: int8-range scalar quantization → dequantized shortlist
      (k·4 per query) → exact re-score of the shortlist on the floats
      (operators/quantize.py — the 4×-less-bandwidth scale path). The
      two-stage result is deterministic, so the oracle twin replicates
      quantize → shortlist → re-score bit-for-bit, no recall
      tolerance."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = similarity.cosine_topk(
        emb, queries, "vec_id", "embedding", k=5
    ).withColumn("tag", F.lit("exact"))
    from projet_big_data_boutin_danre_spark.operators.quantize import (
        sq8_cosine_topk_rescored,
    )

    sq8 = sq8_cosine_topk_rescored(
        emb, queries, "vec_id", "embedding", k=5, shortlist_mult=4
    ).withColumn("tag", F.lit("sq8"))
    return exact.unionByName(sq8)


def q_cosine_topk_large_q(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-3 for a LARGE query set (half the
    embeddings table) — exercises the distributed cogroup path
    (similarity.cosine_topk_cogroup): the query side stays a
    DataFrame, no driver collect; mode='auto' probes the count and
    picks cogroup above the closure threshold."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.cosine_topk(
        emb,
        emb.filter(F.col("vec_id") % 2 == 0),
        "vec_id",
        "embedding",
        k=3,
        mode="auto",
    )


def q_near_dup_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-duplicate pairs, cosine ≥ 0.25 — tagged union of
    both blocking strategies: a caller-provided key (label) and the
    self-blocking LSH-bucket variant (the no-natural-key scale path,
    similarity.near_dup_pairs_cosine_lsh). Same kernel, same oracle
    check for both."""
    emb = load_table(spark, sf, "embeddings")
    by_label = similarity.near_dup_pairs_cosine(
        emb, "vec_id", "embedding", "label", threshold=0.25
    ).withColumn("blocking", F.lit("label"))
    # r19 (guide §2.4): the LSH pair graph is consumed TWICE — as the
    # 'lsh' output rows and as semantic_dedup's edge set — and the
    # mapInPandas bucket-assign + per-block scoring kernel behind it is
    # the expensive part; materialize it once and share (the same
    # checkpoint-the-shared-subplan call as this slot's oracle twin
    # makes with its pair CTE, and as q_minhash_lsh_pairs makes with
    # bands). Before: 2 full pair-kernel executions (plan showed the
    # FlatMapGroupsInPandas subtree twice); after: 1.
    lsh_pairs = similarity.near_dup_pairs_cosine_lsh(
        emb, "vec_id", "embedding", threshold=0.25, n_planes=8, dim=64
    ).localCheckpoint()
    by_lsh = lsh_pairs.withColumn("blocking", F.lit("lsh"))
    # r5 widening: the full SemDeDup application on the same LSH pair
    # graph — kept (cluster-keeper / unclustered) ids, one row each.
    # NULL rows are excluded up front to mirror the oracle's pair-side
    # filters (the pair ops skip them internally anyway).
    kept = similarity.semantic_dedup(
        emb.filter(
            F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
        ),
        "vec_id", "embedding", threshold=0.25, n_planes=8, dim=64,
        pairs=lsh_pairs.select("id_a", "id_b"),
    ).select(
        F.col("vec_id").alias("id_a"),
        F.lit(None).cast("bigint").alias("id_b"),
        F.lit(None).cast("double").alias("cosine"),
        F.lit("semdedup").alias("blocking"),
    )
    return by_label.unionByName(by_lsh).unionByName(kept)


def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over a media table
    (deterministic stub codec); features projected to scalar columns
    for oracle comparison."""
    docs = load_table(spark, sf, "documents")
    feats = multimodal.extract_features(multimodal.synth_media_from_documents(docs))
    cols = [
        F.round(F.element_at("feature", i + 1).cast("double"), 6).alias(f"f{i}")
        for i in range(4)
    ]
    return feats.select("media_id", "kind", "n_bytes", *cols)


def q_media_plans(spark: SparkSession, sf: str) -> DataFrame:
    """Image resize-target computation + video frame-sampling plan
    (both metadata-only, JVM-side), tagged into one slot (v1..v4 hold
    resize: width/height/target_w/target_h; frame: frame_ms) — merged
    to free a slot for `corpus_sample` within the driver's 50-row
    correctness window.

    r10 widening — content-level media dedup (the north star's
    multimodal pillar): ``dhash`` rows carry each image's 64-bit
    difference hash as its 4×16-bit LSH bands
    (operators/multimodal.perceptual_hash — Arrow-batched kernel over
    the payload bytes, stub codec, exact integer hash math), and
    ``hampair`` rows are the banded Hamming near-dup pairs
    (phash_near_dup_pairs: exact-match band join, bit_count(xor)
    verify, never all-pairs); ``phash`` rows (r10) carry the
    integer-DCT pHash bands (perceptual_hash method="phash" —
    fixed-point DCT-II basis so the kernel is cross-engine exact,
    unlike classic float pHash).

    r12 widening — ``mcluster`` rows turn the three modality pair
    sets into actionable clusters: union of hampair/vpair/apair
    edges → connected_components → keeper (v1 = cluster-min media_id,
    v2 = 1 on the keeper row); twin = recursive-CTE transitive
    closure over the same pair CTEs."""
    docs = load_table(spark, sf, "documents")
    media = multimodal.synth_media_from_documents(docs)
    b = F.lit(None).cast("bigint")
    rz = multimodal.resize_plan(media, max_side=512).select(
        F.lit("resize").alias("tag"),
        "media_id",
        F.col("width").cast("bigint").alias("v1"),
        F.col("height").cast("bigint").alias("v2"),
        F.col("target_w").cast("bigint").alias("v3"),
        F.col("target_h").cast("bigint").alias("v4"),
    )
    fr = multimodal.frame_sample(media, every_ms=1000).select(
        F.lit("frame").alias("tag"),
        "media_id",
        F.col("frame_ms").cast("bigint").alias("v1"),
        b.alias("v2"),
        b.alias("v3"),
        b.alias("v4"),
    )
    with_variants = media.unionByName(
        multimodal.synth_reencoded_variants(docs)
    )
    hashes = multimodal.perceptual_hash(with_variants).localCheckpoint(
        eager=False
    )
    dh = hashes.select(
        F.lit("dhash").alias("tag"),
        "media_id",
        *[
            F.col(f"band{j}").cast("bigint").alias(f"v{j + 1}")
            for j in range(4)
        ],
    )
    hp_pairs = multimodal.phash_near_dup_pairs(
        hashes, max_hamming=3
    ).localCheckpoint(eager=False)
    hp = hp_pairs.select(
        F.lit("hampair").alias("tag"),
        F.col("id_a").alias("media_id"),
        F.col("id_b").cast("bigint").alias("v1"),
        F.col("hamming").cast("bigint").alias("v2"),
        b.alias("v3"),
        b.alias("v4"),
    )
    # r10: the integer-DCT pHash kernel (perceptual_hash method=
    # "phash") — fixed-point DCT-II over the 32×32 grid, 8×8
    # low-frequency block, median threshold; hash-checked bit-for-bit
    # against a relational DCT twin (_sql_media_phash_cte)
    # checkpointed like the dhash layer: the payload-reading kernel
    # materializes once and the tag projection reads the tiny hash
    # output (also keeps the slot plan payload-scan-free — the
    # plan-shape battery pins that).
    # r20 (guide §2.6): the pHash kernel feeds NO pair/cluster stage —
    # it is the one payload kernel outside the mcluster dependency
    # chain — so its materialization is submitted from a background
    # thread right before connected_components below and joined after
    # it: the heaviest kernel (measured 0.73 s, the slot's largest
    # single branch) runs concurrently with the CC jobs instead of
    # serially inside the final union count. The thread is the checkpoint's
    # ONLY consumer until result() returns (the r19 lazy-checkpoint
    # race needs concurrent consumers).
    ph_hashes = multimodal.perceptual_hash(
        with_variants, method="phash"
    ).localCheckpoint(eager=False)
    ph = ph_hashes.select(
        F.lit("phash").alias("tag"),
        "media_id",
        *[
            F.col(f"band{j}").cast("bigint").alias(f"v{j + 1}")
            for j in range(4)
        ],
    )
    # r10: VIDEO content dedup — per-frame dHashes in one map-only
    # Arrow pass (payload read once, no explode), then frame-set
    # Jaccard pairs; both hash-checked against a generated relational
    # twin (_sql_media_vhash_cte). Checkpointed once: the vhash rows
    # and the pair stage share the kernel output.
    vfh = multimodal.video_frame_hashes(media).localCheckpoint(eager=False)
    vh = vfh.select(
        F.lit("vhash").alias("tag"),
        "media_id",
        F.col("frame_idx").cast("bigint").alias("v1"),
        F.col("hash64").alias("v2"),
        b.alias("v3"),
        b.alias("v4"),
    )
    vp_pairs = multimodal.video_near_dup_pairs(
        vfh, min_jaccard=0.5
    ).localCheckpoint(eager=False)
    vp = vp_pairs.select(
        F.lit("vpair").alias("tag"),
        F.col("id_a").alias("media_id"),
        F.col("id_b").cast("bigint").alias("v1"),
        F.col("shared").cast("bigint").alias("v2"),
        F.col("n_a").cast("bigint").alias("v3"),
        F.col("n_b").cast("bigint").alias("v4"),
    )
    # r10: AUDIO matching — sliding-window fingerprints + offset
    # voting (shift-tolerant, the regime set-Jaccard misses); both
    # layers hash-checked against _sql_media_ahash_cte
    awh = multimodal.audio_window_hashes(media).localCheckpoint(eager=False)
    ah = awh.select(
        F.lit("ahash").alias("tag"),
        "media_id",
        F.col("win_idx").cast("bigint").alias("v1"),
        F.col("hash32").alias("v2"),
        b.alias("v3"),
        b.alias("v4"),
    )
    ap_pairs = multimodal.audio_match_pairs(
        awh, min_votes=4
    ).localCheckpoint(eager=False)
    ap = ap_pairs.select(
        F.lit("apair").alias("tag"),
        F.col("id_a").alias("media_id"),
        F.col("id_b").cast("bigint").alias("v1"),
        F.col("offset").cast("bigint").alias("v2"),
        F.col("votes").cast("bigint").alias("v3"),
        b.alias("v4"),
    )
    # r12: media CLUSTERS + KEEPERS — the step that turns the three
    # modality pair sets into something a pipeline can act on, the
    # same pairs → connected_components → keeper flow the text leg
    # uses (dedup_clusters). Edges are the union of image Hamming
    # pairs, video Jaccard pairs, and audio offset-vote pairs (pair
    # frames lazily checkpointed above, so the band joins run once
    # and CC's own eager checkpoint reads their output); keeper =
    # cluster-minimum media_id. Rows: v1 = component (keeper id),
    # v2 = 1 when the row IS the keeper. Oracle twin: recursive-CTE
    # transitive closure over the same three pair CTEs (mcomp).
    medges = (
        hp_pairs.select("id_a", "id_b")
        .unionByName(vp_pairs.select("id_a", "id_b"))
        .unionByName(ap_pairs.select("id_a", "id_b"))
    )
    # join the background pHash materialization before returning: the
    # final union count must read its checkpoint blocks, not race a
    # second materialization of the same lazy checkpoint. Leaving the
    # block by an exception also waits for the pool, so no job or
    # thread outlives the call.
    with ThreadPoolExecutor(max_workers=1) as pool:
        ph_done = pool.submit(ph_hashes.count)
        mcluster_cc = dedup.connected_components(medges)
        ph_done.result()
    mcluster = mcluster_cc.select(
        F.lit("mcluster").alias("tag"),
        F.col("node").alias("media_id"),
        F.col("component").cast("bigint").alias("v1"),
        F.when(F.col("node") == F.col("component"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("v2"),
        b.alias("v3"),
        b.alias("v4"),
    )
    return (
        rz.unionByName(fr).unionByName(dh).unionByName(hp).unionByName(ph)
        .unionByName(vh).unionByName(vp).unionByName(ah).unionByName(ap)
        .unionByName(mcluster)
    )


# Sample/mix parameters for the corpus_sample slot — shared by the
# Spark plan and the DuckDB twin (the SQL is generated from these).
_SAMPLE_FRACTIONS = {"en": 0.8, "fr": 0.5, "de": 0.25}
_SAMPLE_DEFAULT = 0.1
_SAMPLE_SEED = 7
_MIX_COUNTS = {"en": 40, "fr": 15}
_MIX_SEED = 3
_SHUF_SEED = 9
_HEAD_N = 20
_TEMP_TOTAL = 120
_TEMP_SEED = 13
_BUDGET_CHARS = 20_000
_BUDGET_SEED = 11
# r8 widenings: leakage-safe split over exact-fingerprint clusters and
# the uniform per-source cap (insertion order of _SPLIT_FRACS is the
# key-range order on both engines)
_SPLIT_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SEED = 17
_CAP_N = 15
_CAP_SEED = 19


def q_corpus_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Training-corpus sampling primitives (operators/corpus_prep.py),
    tagged into one slot:

    - ``sample``: per-lang kept-count + id checksum of a deterministic
      hash-Bernoulli stratified sample (map-only at scale);
    - ``mix``: same digest for an exact-count domain mix (the "data
      recipe" take: first n per stratum in seeded-hash order);
    - ``head``: the first 20 docs of the deterministic interleave
      (global range-partitioned sort) with their ranks — checks the
      global order itself, not just membership. The re-rank window
      runs over the already-limited 20 rows (bounded, driver-safe).

    r6 widenings (same digest schema):

    - ``temp``: temperature-reweighted mix (α=0.5 — per-lang quota
      ∝ √n via integer-quantized weights,
      corpus_prep.domain_mix_temperature) — per-lang kept-count + id
      checksum;
    - ``budget``: greedy char-budget fill per lang
      (corpus_prep.token_budget_take over length(text), 20k chars) —
      same digest;
    - ``diff``: corpus snapshot drift (corpus_prep.corpus_diff — one
      full-outer fingerprint join, text never shuffles) between two
      deterministic snapshots derived in-slot: "old" drops
      doc_id%7==1 (those become ``added``), "new" drops %7==2
      (``removed``) and appends a drift marker to %7==3's text
      (``changed``). One row per drifted doc: grp = change kind,
      n = doc_id;
    - ``profile``: the one-scan table profiler
      (operators/cleaning.py:profile_table) over the ``orders``
      table — per column grp = ``name|n_rows|min|max`` and
      n = n_nulls, sum_ids = n_distinct (col_type stays out: Spark
      and DuckDB spell type names differently);
    - ``check``: declarative data-quality checks
      (cleaning.data_checks — unique / non-null / accepted-values /
      range) over pinned orders columns, one row per check with its
      violation count and a deterministic sample offender; includes
      a deliberately failing accepted-values check.

    r8 widenings (same digest schema):

    - ``split``: leakage-safe train/val/test assignment
      (corpus_prep.leakage_safe_split) hashed on the EXACT-fingerprint
      cluster representative (rep = min doc_id per normalized-content
      group), so duplicates can never straddle splits — per-split
      kept-count + id checksum;
    - ``cap``: uniform per-source document cap
      (corpus_prep.cap_per_group, 15/source) run with
      ``prefilter=True`` — the count-based Bernoulli pre-shrink + exact
      window scale path — against the oracle's PLAIN window SQL, so the
      prefix-exactness argument is hash-verified per round.

    All randomness is md5-derived, so the DuckDB twin reproduces every
    decision bit-for-bit. NULL ids are excluded up front on BOTH sides:
    a NULL sample key would sort NULLS FIRST in Spark's window but
    NULLS LAST in DuckDB's — the one ordering default the engines
    disagree on.

    The filtered docs base is ``localCheckpoint``-ed: the tags (ten
    as of r8) otherwise re-read `documents` 11+ times (PLAN_REPORT
    r6), and the
    measured warm tradeoff at sf0.1 is 2.77 s → 2.54 s min-of-4
    (checkpoint write included) — the opposite call from the LM-gram
    case, where the materialized frame is explode-sized rather than
    table-sized (BASELINE.md r7 notes)."""
    from projet_big_data_boutin_danre_spark.functions.hashing import (
        stable_fingerprint,
    )

    # r19: the exact-fingerprint column rides the docs checkpoint (one
    # materialization) instead of a SECOND serial checkpoint derived
    # from the first — interleaved A/B min-of-3: two checkpoints
    # 1.21–1.72 s vs fused 0.98–1.39 s on the fps-consumer subplan.
    # The 3-regex normalize + md5 still runs ONCE (at checkpoint
    # write); every tag branch projects its own columns, so the extra
    # 32-hex column never reaches an output.
    # r20 (guide §2.6): THREE independent eager construction jobs ran
    # strictly serially — the docs checkpoint, the ORDERS profile
    # (profile_table collects its two aggregation rows), and the
    # leakage-split chain probe (a count() inside
    # corpus_prep._canonical_cluster_map over the fingerprint map).
    # Pool them: docs first (everything else derives from it), then
    # the profile and the split branch overlap while the main thread
    # builds the remaining (lazy) branches. The chain probe's lazy
    # checkpoint has ONE consumer until its future resolves (no r19
    # lazy-race), and each pooled job's plans/results are identical to
    # the serial construction. The block spans every consumer up to the
    # last result(), so an exception anywhere in it still waits for the
    # pooled jobs before it propagates.
    with ThreadPoolExecutor(max_workers=2) as pool:
        _f_docs = pool.submit(
            lambda: load_table(spark, sf, "documents")
            .filter(F.col("doc_id").isNotNull())
            .withColumn("__fp", stable_fingerprint("text"))
            .localCheckpoint()
        )
        _f_prof = pool.submit(
            lambda: cleaning.profile_table(
                load_table(spark, sf, "orders").select(*_PROFILE_COLS)
            )
        )
        docs = _f_docs.result()

        def _build_split() -> DataFrame:
            # r8 widening: leakage-safe split — cluster map =
            # exact-fingerprint groups (rep = min doc_id per
            # normalized-content group), so every exact duplicate
            # lands in its representative's split; grp = split name,
            # same kept-count + id-checksum digest as sample/mix. The
            # fingerprint column was materialized WITH the docs
            # checkpoint (r19) — a plain projection, no second
            # checkpoint, and the md5 ran exactly once.
            fps = docs.select("doc_id", "__fp")
            reps = fps.groupBy("__fp").agg(F.min("doc_id").alias("rep"))
            members = fps.join(reps, "__fp").select(
                F.col("doc_id").alias("member"), "rep"
            )
            return corpus_prep.leakage_safe_split(
                docs, "doc_id", _SPLIT_FRACS, seed=_SPLIT_SEED,
                members=members,
            ).select(
                F.lit("split").alias("tag"),
                F.col("split").alias("grp"),
                F.col("doc_id").cast("bigint").alias("__id"),
            ).groupBy("tag", "grp").agg(
                F.count(F.lit(1)).alias("n"), F.sum("__id").alias("sum_ids")
            ).select("tag", "grp", "n", "sum_ids")

        _f_split = pool.submit(_build_split)
        # main thread: build the lazy branches below while the pooled
        # profile scans and the chain-probe count run; both futures are
        # resolved right before the branches that consume them
        samp = corpus_prep.stratified_sample(
            docs, "doc_id", "lang", _SAMPLE_FRACTIONS,
            default_fraction=_SAMPLE_DEFAULT, seed=_SAMPLE_SEED,
        )
        mix = corpus_prep.domain_mix(
            docs, "doc_id", "lang", _MIX_COUNTS, seed=_MIX_SEED
        )

        def digest(df: DataFrame, tag: str) -> DataFrame:
            return corpus_prep.sample_summary(df, "doc_id", "lang").select(
                F.lit(tag).alias("tag"),
                F.col("lang").alias("grp"),
                F.col("n_kept").alias("n"),
                "sum_ids",
            )

        head = (
            corpus_prep.interleave(docs, "doc_id", seed=_SHUF_SEED)
            .select("doc_id")
            .limit(_HEAD_N)
        )
        head = head.select(
            F.lit("head").alias("tag"),
            F.col("doc_id").cast("string").alias("grp"),
            # partition-less window = single-task sort, deliberately: the
            # frame is the LIMIT'd head (_HEAD_N rows), not the corpus —
            # the WindowExec warning it prints is about a bounded frame
            F.row_number()
            .over(
                Window.orderBy(
                    corpus_prep.sample_key("doc_id", _SHUF_SEED),
                    F.col("doc_id"),
                )
            )
            .cast("bigint")
            .alias("n"),
            F.lit(None).cast("bigint").alias("sum_ids"),
        )
        # r6 widening: temperature mix (α=0.5 — per-lang quota ∝ √n,
        # integer-quantized weights so the allocation is oracle-exact) and
        # greedy char-budget fill per lang (token_budget_take with
        # length(text) as the budget unit)
        temp = corpus_prep.domain_mix_temperature(
            docs, "doc_id", "lang", total_out=_TEMP_TOTAL, alpha=0.5,
            seed=_TEMP_SEED,
        )
        budget = corpus_prep.token_budget_take(
            docs.withColumn("__chars", F.length("text")),
            "doc_id",
            "lang",
            "__chars",
            budget=_BUDGET_CHARS,
            seed=_BUDGET_SEED,
        )
        old_snap = docs.filter(F.col("doc_id") % 7 != 1)
        new_snap = docs.filter(F.col("doc_id") % 7 != 2).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 3,
                F.concat(F.col("text"), F.lit(" r6drift")),
            ).otherwise(F.col("text")),
        )
        diff = corpus_prep.corpus_diff(
            old_snap, new_snap, "doc_id", "text"
        ).select(
            F.lit("diff").alias("tag"),
            F.col("change").alias("grp"),
            F.col("doc_id").cast("bigint").alias("n"),
            F.lit(None).cast("bigint").alias("sum_ids"),
        )
        # r6 widening: declarative data-quality checks (cleaning.
        # data_checks — the dbt-test/Deequ idea) over pinned orders
        # columns. grp = kind|target|sample_key; n = violation count.
        # The accepted-values check deliberately omits 'P' so the slot
        # exercises a FAILING check with a deterministic sample value.
        checks = cleaning.data_checks(
            load_table(spark, sf, "orders").select(
                "o_orderkey", "o_custkey", "o_orderstatus"
            ),
            unique=[["o_orderkey"], ["o_orderstatus"]],
            non_null=["o_custkey"],
            accepted={"o_orderstatus": ["O", "F"]},
            ranges={"o_orderkey": (1, 10**9)},
        ).select(
            F.lit("check").alias("tag"),
            F.concat_ws(
                "|", "check", "target", F.coalesce("sample_key", F.lit("-"))
            ).alias("grp"),
            F.col("n_violations").alias("n"),
            F.lit(None).cast("bigint").alias("sum_ids"),
        )
        # r8 widening: leakage-safe split — cluster map = exact-fingerprint
        # groups (rep = min doc_id per normalized-content group), so every
        # exact duplicate lands in its representative's split; grp = split
        # name, same kept-count + id-checksum digest as sample/mix — built
        # by the pooled _build_split above (its chain-probe count ran
        # concurrently with the profile scans); joined here, right where
        # the serial construction produced it.
        split = _f_split.result()
        # r8 widening: uniform per-source cap (prefilter=True exercises the
        # scale path; output is bit-identical to the plain window — the
        # oracle twin IS the plain window, so the prefix-exactness argument
        # is hash-checked every round, not just asserted)
        capped = corpus_prep.cap_per_group(
            docs, "doc_id", "source", _CAP_N, seed=_CAP_SEED, prefilter=True
        )
        cap = corpus_prep.sample_summary(capped, "doc_id", "source").select(
            F.lit("cap").alias("tag"),
            F.col("source").alias("grp"),
            F.col("n_kept").alias("n"),
            "sum_ids",
        )
        prof = _f_prof.result().select(
            F.lit("profile").alias("tag"),
            F.concat_ws(
                "|",
                "col_name",
                F.col("n_rows").cast("string"),
                F.coalesce("min_str", F.lit("<null>")),
                F.coalesce("max_str", F.lit("<null>")),
            ).alias("grp"),
            F.col("n_nulls").alias("n"),
            F.col("n_distinct").alias("sum_ids"),
        )
    return (
        digest(samp, "sample")
        .unionByName(digest(mix, "mix"))
        .unionByName(head)
        .unionByName(digest(temp, "temp"))
        .unionByName(digest(budget, "budget"))
        .unionByName(diff)
        .unionByName(split)
        .unionByName(cap)
        .unionByName(prof)
        .unionByName(checks)
    )


def q_sparse_document(spark: SparkSession, sf: str) -> DataFrame:
    """P8 (index_to_es.py:63-79): null-omitting document projection —
    (_id, doc_json) with null fields dropped from the JSON."""
    ev = load_table(spark, sf, "events")
    sparse = ev.select(
        "event_id",
        F.when(F.col("user_id") % 7 != 0, F.col("event_type")).alias("event_type"),
        "user_id",
    )
    return documents_op.sparse_document(
        sparse, "event_id", ["event_type", "user_id"]
    )


def q_coerce_timestamp(spark: SparkSession, sf: str) -> DataFrame:
    """P7 (raw_to_fmt_dvf.py:28-29): coercing timestamp parse — a
    malformed slice of inputs yields null, not an error — plus the
    everyday datetime-function surface (F4/F5 family) on the parsed
    value: calendar field extraction, ISO weekday (Monday=1, the
    convention both engines can express), truncation, and day
    difference from a fixed epoch date."""
    ev = load_table(spark, sf, "events")
    raw = F.when(
        F.col("event_id") % 10 == 0, F.lit("not-a-date")
    ).otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
    parsed = cleaning.coerce_timestamp(raw)
    return ev.select(
        "event_id",
        _ts(parsed).alias("parsed_s"),
        F.year(parsed).alias("y"),
        F.month(parsed).alias("mo"),
        F.dayofmonth(parsed).alias("d"),
        F.hour(parsed).alias("h"),
        F.minute(parsed).alias("mi"),
        # ISO weekday: Spark weekday() is Monday=0
        (F.weekday(parsed) + F.lit(1)).alias("iso_dow"),
        F.dayofyear(parsed).alias("doy"),
        _ts(F.date_trunc("hour", parsed)).alias("trunc_hour_s"),
        F.datediff(parsed.cast("date"), F.lit("2024-01-01").cast("date"))
        .alias("days_since_2024"),
        F.quarter(parsed).alias("q"),
        F.last_day(parsed).cast("string").alias("month_end"),
        F.date_add(parsed.cast("date"), 30).cast("string").alias("plus_30d"),
        # add_months end-of-month clamp (Jan 31 + 1 mo → Feb 29/28)
        # behaves identically in both engines
        F.add_months(parsed.cast("date"), 1).cast("string").alias("plus_1mo"),
    )


def q_search_url(spark: SparkSession, sf: str) -> DataFrame:
    """Q11 (utils.py:6-152): URL → SearchSpec parser feeding the same
    filter/sort/page compiler as search_spec."""
    docs = load_table(spark, sf, "documents")
    spec = parse_search_url(
        "https://www.example.fr/recherche?text=table&lang=en,de"
        "&n_chars=150-&sort_by=n_chars&sort_order=desc&page=3&limit=15"
    )
    spec.text_cols = ("text",)
    spec.id_col = "doc_id"
    return compile_search(docs, spec).select("doc_id", "lang", "n_chars")


# Synthetic raw-ad JSON built identically in Spark and the oracle so
# the format pipeline (parse → unwrap → coerce → normalize) is the
# thing under test, not the substrate.
def _raw_ad_json_spark():
    c = F.col
    date_part = F.when(c("c_custkey") % 11 == 0, F.lit("bad-date")).otherwise(
        F.concat(
            F.lit("2024-01-"),
            F.lpad((c("c_custkey") % 27 + 1).cast("string"), 2, "0"),
            F.lit(" 12:34:56"),
        )
    )
    loc_part = F.when(c("c_custkey") % 5 == 0, F.lit('"N/A"')).otherwise(
        F.concat(
            F.lit('{"city":"C'),
            c("c_nationkey").cast("string"),
            F.lit('","zipcode":"'),
            F.lpad(c("c_nationkey").cast("string"), 5, "0"),
            F.lit('","lat":48.0,"lng":2.0}'),
        )
    )
    cents = F.round(c("c_acctbal") * 100).cast("long")
    return F.concat(
        F.lit('{"list_id": '),
        c("c_custkey").cast("string"),
        F.lit(', "subject": "'),
        c("c_name"),
        F.lit('", "price_cents": ['),
        cents.cast("string"),
        F.lit('], "date": "'),
        date_part,
        F.lit('", "location": '),
        loc_part,
        F.lit(', "attributes": [{"key":"seg","value":"'),
        c("c_mktsegment"),
        F.lit('"}]}'),
    )


def q_lbc_format(spark: SparkSession, sf: str) -> DataFrame:
    """P6+P7+P11+P12+P13+P14 + location normalization
    (lbc_fetcher.py:100-125, raw_to_fmt_lbc.py:43-58): the raw→
    formatted ad pipeline over synthetic raw JSON records."""
    customer = load_table(spark, sf, "customer")
    raw = customer.select(_raw_ad_json_spark().alias("raw_json"))
    out = cleaning.format_ads(raw, "raw_json")
    return out.select(
        "id", "title", "price", _ts("date").alias("date_s"), "city", "zipcode", "seg"
    )


def q_time_windows(spark: SparkSession, sf: str) -> DataFrame:
    """ST-window (streaming analog: windowed_counts): tumbling 1-hour
    AND sliding (hopping) 10-min/5-min event-time windows, tagged into
    one result so both stay oracle-checked inside the driver's 50-row
    window. Value sums are computed in exact integer cents so float
    sum order can't diverge across engines. Sliding semantics: every
    event lands in exactly width/slide windows (the oracle replicates
    by generating both candidate window starts per event)."""
    # Spark's window()/session_window() drop NULL event times by
    # construction; filter explicitly so the oracle twin mirrors it
    ev = load_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    aggs = [
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)
        ).alias("value_sum"),
    ]
    sel = [
        _ts(F.col("w.start")).alias("w_start"),
        "event_type",
        "n",
        "value_sum",
    ]
    tumbling = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(*aggs)
        .select(*sel)
        .withColumn("win", F.lit("tumbling"))
    )
    sliding = (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(*aggs)
        .select(*sel)
        .withColumn("win", F.lit("sliding"))
    )
    return tumbling.unionByName(sliding)


def q_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """Anti + semi join (engine extension), one tagged partition of
    the customers: 'no_urgent' = NOT EXISTS as a hash anti join,
    'has_urgent' = EXISTS as a hash semi join — every customer appears
    exactly once with its existence tag."""
    customer = load_table(spark, sf, "customer")
    urgent = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    cond = customer["c_custkey"] == urgent["o_custkey"]
    cols = ["c_custkey", "c_name", "c_mktsegment"]
    anti = (
        customer.join(urgent, cond, "left_anti")
        .select(*cols)
        .withColumn("tag", F.lit("no_urgent"))
    )
    semi = (
        customer.join(urgent, cond, "left_semi")
        .select(*cols)
        .withColumn("tag", F.lit("has_urgent"))
    )
    return anti.unionByName(semi)


def q_distinct_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct aggregation (engine extension over A1): per market
    segment, distinct nations and order-priority spread of its
    customers' orders. Spark expands distinct aggs into a two-phase
    plan (expand + partial/final) — skew-safe by construction.

    Widened (r5) into the EXACT-aggregate function sampler: bitwise
    aggregates (bit_and/bit_or/bit_xor), positional arg-extrema
    (min_by/max_by on a unique ordering key, so deterministic),
    boolean aggregates (bool_and/bool_or), and conditional counting
    (count_if) — every one integer/bool-exact cross-engine, no float
    summation-order hazard."""
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    joined = customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "inner"
    )
    return joined.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count(F.lit(1)).alias("n_orders"),
        F.bit_and("c_nationkey").alias("nation_bit_and"),
        F.bit_or("c_nationkey").alias("nation_bit_or"),
        F.bit_xor("c_nationkey").alias("nation_bit_xor"),
        F.min_by("c_name", "o_orderkey").alias("first_order_cust"),
        F.max_by("c_name", "o_orderkey").alias("last_order_cust"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
    )


def q_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Set operations (engine extension — the reference has only
    union-all): distinct EXCEPT/INTERSECT plus the multiset ALL
    variants (exceptAll/intersectAll — per-value count arithmetic,
    not mere existence) between the click and purchase user
    populations, tagged into one result."""
    ev = load_table(spark, sf, "events")
    clicks_all = ev.filter(F.col("event_type") == "click").select("user_id")
    buyers_all = ev.filter(F.col("event_type") == "purchase").select("user_id")
    clicks, buyers = clicks_all.distinct(), buyers_all.distinct()
    only_click = clicks.subtract(buyers).withColumn("tag", F.lit("only_click"))
    both = clicks.intersect(buyers).withColumn("tag", F.lit("both"))
    only_click_all = clicks_all.exceptAll(buyers_all).withColumn(
        "tag", F.lit("only_click_all")
    )
    both_all = clicks_all.intersectAll(buyers_all).withColumn(
        "tag", F.lit("both_all")
    )
    return (
        only_click.unionByName(both)
        .unionByName(only_click_all)
        .unionByName(both_all)
    )


def q_moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Window-function sampler over one per-user event sequence:
    trailing 4-event moving average (frame aggregate, exact integer
    cents so the oracle matches bit-for-bit regardless of float sum
    order), event sequence number (row_number) and inter-event gap in
    whole microseconds (lag) — ranking/offset functions alongside the
    frame aggregate, all under the same deterministic total order."""
    ev = load_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    wo = Window.partitionBy("user_id").orderBy(*order)
    w = wo.rowsBetween(-3, Window.currentRow)
    cents = F.round(F.col("value") * 100).cast("long")
    micros = F.unix_micros(F.col("ts"))
    return ev.select(
        "event_id",
        "user_id",
        _ts("ts").alias("ts_s"),
        (
            F.sum(cents).over(w)
            / (F.lit(100.0) * F.count(F.lit(1)).over(w))
        ).alias("avg_value_4"),
        F.row_number().over(wo).cast("int").alias("seq_n"),
        (micros - F.lag(micros, 1).over(wo)).alias("gap_us"),
    )


def q_price_regression(spark: SparkSession, sf: str) -> DataFrame:
    """ML_ROADMAP.md parity (ml/regression.py:price_regression_exact):
    ridge price regression with a deterministic md5-based 80/20 split
    and closed-form solve over EXACT integer/decimal sufficient
    statistics — hash-checkable against the SQL oracle (the multi-
    feature MLlib/moment path lives in price_regression_metrics and is
    pytest-covered; its seeded rand() split is Spark-private, which is
    why this oracle twin uses the hash split)."""
    from projet_big_data_boutin_danre_spark.ml import price_regression_exact

    li = load_table(spark, sf, "lineitem")
    return price_regression_exact(
        li,
        "l_quantity",
        "l_extendedprice",
        key_cols=["l_orderkey", "l_linenumber"],
    )


def q_ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate top-k neighbors via random-hyperplane LSH bucketing
    (the 100 TB scale path: only same-bucket candidates are scored).
    Tagged union of the three physical strategies: 'closure' ships a
    small query set in the task closure; 'join'
    (similarity.ann_topk_lsh_join) keeps a larger query set
    distributed — buckets computed in the plan, candidates met by a
    bucket-key cogroup, no driver collect (mode='auto' picks it above
    64 queries); 'multi' (similarity.ann_topk_lsh_multi) unions
    candidates across 2 independent plane tables for higher recall;
    'ivf' (ivf.ivf_topk) probes the nprobe nearest cells of a coarse
    quantizer — fixed deterministic centroids here so the cell
    assignment is SQL-expressible (the adaptive k-means fit is
    pytest-covered separately, tests/test_ivf.py)."""
    import numpy as np

    from projet_big_data_boutin_danre_spark.operators import ivf as ivf_mod

    emb = load_table(spark, sf, "embeddings")
    small = similarity.ann_topk_lsh(
        emb,
        emb.filter(F.col("vec_id") < 8),
        "vec_id",
        "embedding",
        k=5,
        n_planes=8,
        dim=64,
        mode="closure",
    )
    large = similarity.ann_topk_lsh(
        emb,
        emb.filter(F.col("vec_id") % 7 == 0),
        "vec_id",
        "embedding",
        k=5,
        n_planes=8,
        dim=64,
        mode="auto",  # probes the count: > 64 queries -> join path
    )
    multi = similarity.ann_topk_lsh_multi(
        emb,
        emb.filter(F.col("vec_id") < 8),
        "vec_id",
        "embedding",
        k=5,
        n_planes=8,
        dim=64,
        n_tables=2,
    )
    fixed_ivf = ivf_mod.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 8),
        np.asarray(_ivf_fixed_centroids(), dtype=np.float64),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        nprobe=2,
    )
    return (
        small.withColumn("strategy", F.lit("closure"))
        .unionByName(large.withColumn("strategy", F.lit("join")))
        .unionByName(multi.withColumn("strategy", F.lit("multi")))
        .unionByName(fixed_ivf.withColumn("strategy", F.lit("ivf")))
    )


# --- generated oracle SQL helpers (mirror the Column algebra above) ---


def _sql_plane_dot(vec: str, plane: list[float]) -> str:
    """Left-assoc Σ vᵢ·pᵢ with inline plane literals (matches
    similarity.rh_lsh_buckets' fold order)."""
    return " + ".join(
        f"CAST({vec}[{i + 1}] AS DOUBLE) * {x!r}" for i, x in enumerate(plane)
    )


def _sql_rh_bucket(
    vec: str, n_planes: int = 8, dim: int = 64, seed: int = 7
) -> str:
    from projet_big_data_boutin_danre_spark.operators.similarity import _lcg_planes

    planes = _lcg_planes(n_planes, dim, seed=seed)
    bits = ", ".join(
        f"CASE WHEN ({_sql_plane_dot(vec, p)}) >= 0 THEN '1' ELSE '0' END"
        for p in planes
    )
    return f"concat({bits})"

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)


def _sql_minhash_sigs_cte(num_hashes: int = 8, k: int = 8) -> str:
    norm = _NORM_SQL.format(c="text")

    def comp(s: int) -> str:
        d = s // 4
        digest = "md5(shingle)" if d == 0 else f"md5('{d}|' || shingle)"
        return f"min(substr({digest}, {8 * (s % 4) + 1}, 8)) AS sig_{s}"

    sig_cols = ",\n                   ".join(comp(s) for s in range(num_hashes))
    return f"""
        norm AS (SELECT doc_id AS id, {norm} AS t FROM documents),
        pos AS (
            SELECT id, t,
                   unnest(generate_series(1, greatest(length(t) - {k - 1}, 1))) AS i
            FROM norm
        ),
        sh AS (SELECT id, substr(t, CAST(i AS INT), {k}) AS shingle FROM pos),
        sigs AS (
            SELECT id, {sig_cols}
            FROM sh GROUP BY id
        )"""


def _sql_simhash(bits: int = 32) -> str:
    norm = _NORM_SQL.format(c="text")
    hex_chars = bits // 4
    sums = []
    for i in range(hex_chars):
        nib = f"(instr('0123456789abcdef', substr(h, {i + 1}, 1)) - 1)"
        for kpow in (3, 2, 1, 0):
            j = i * 4 + (3 - kpow)
            bit = f"(CAST(floor({nib} / {float(2 ** kpow)}) AS INT) % 2)"
            sums.append(f"sum({bit} * 2 - 1) AS s_{j}")
    sum_sql = ",\n                   ".join(sums)
    bit_chain = ", ".join(
        f"CASE WHEN s_{j} > 0 THEN '1' ELSE '0' END" for j in range(bits)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id AS id, substr(md5(tok), 1, {hex_chars}) AS h
            FROM (
                SELECT doc_id, unnest(string_split({norm}, ' ')) AS tok
                FROM documents
            ) WHERE tok <> ''
        ), sums AS (
            SELECT id, {sum_sql}
            FROM toks GROUP BY id
        )
        SELECT id, concat({bit_chain}) AS simhash_bits FROM sums
    """


def _ivf_fixed_centroids(n_cells: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic coarse-quantizer centroids (LCG, seed 29) — a
    fixed stand-in for the k-means fit so IVF cell assignment has an
    exact SQL twin. Quantizer QUALITY is irrelevant to the oracle: any
    centroid set partitions the corpus; the contract under test is the
    assign/probe/score plumbing."""
    from projet_big_data_boutin_danre_spark.operators.similarity import _lcg_planes

    return _lcg_planes(n_cells, dim, seed=29)


def _sql_ivf_cell_cos(vec: str, cents: list[list[float]]) -> str:
    """CASE over cells: cosine(vec, centroid[cell]) with the engine's
    left-assoc fold order; centroid norms precomputed in Python with
    the identical fold (bit-equal to numpy's _seq_sq_norms row) and
    inlined via repr (exact float64 round-trip)."""
    import math

    branches = []
    for i, c in enumerate(cents):
        acc = 0.0
        for x in c:
            acc = acc + x * x
        cn = math.sqrt(acc)
        branches.append(
            f"WHEN {i} THEN ({_sql_plane_dot(vec, c)})"
            f" / (sqrt({_sql_norm_chain(vec)}) * {cn!r})"
        )
    return "CASE cell " + " ".join(branches) + " END"


def _sql_dot_chain(a: str, b: str, dim: int = 64) -> str:
    """Left-associative Σ aᵢ·bᵢ — same fold order as F.aggregate."""
    return " + ".join(
        f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({b}[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    )


def _sql_norm_chain(a: str, dim: int = 64) -> str:
    return " + ".join(
        f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({a}[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    )


def _sql_stopword_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in text.STOPWORDS[lang])
    return (
        f"len(list_filter(string_split(nt, ' '), x -> x <> '' AND x IN ({words})))"
    )


def _sql_text_profile() -> str:
    norm = _NORM_SQL.format(c="text")
    hits = {lang: _sql_stopword_hits(lang) for lang in text.STOPWORDS}
    best = f"greatest({', '.join(f'h_{l}' for l in text.STOPWORDS)})"
    lang_case = "CASE WHEN " + f"{best} <= 0 THEN 'und' " + " ".join(
        f"WHEN h_{l} = {best} THEN '{l}'" for l in text.STOPWORDS
    ) + " END"
    hit_cols = ", ".join(f"{sql} AS h_{l}" for l, sql in hits.items())
    return f"""
        WITH base AS (
            SELECT doc_id, text, {norm} AS nt,
                   CAST(length(text) AS DOUBLE) AS n,
                   CAST(length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) AS n_alpha,
                   CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) AS n_space,
                   regexp_replace(text, '{text.EMAIL_RE}', '<EMAIL>', 'g') AS ae
            FROM documents
        ), staged AS (
            SELECT *, regexp_replace(ae, '{text.IPV4_RE}', '<IP>', 'g') AS ai
            FROM base
        ), hits AS (
            SELECT doc_id, text, nt, n, n_alpha, n_space, ae, ai,
                   regexp_replace(ai, '{text.LONG_NUM_RE}', '<NUM>', 'g') AS scrubbed,
                   {hit_cols} FROM staged
        ), ntok AS (
            SELECT doc_id,
                   list_filter(string_split(nt, ' '), x -> x <> '') AS t
            FROM base
        ), bigr AS (
            SELECT doc_id,
                   concat_ws(' ', t[CAST(i AS INT)], t[CAST(i AS INT) + 1]) AS gram
            FROM (SELECT doc_id, t,
                         unnest(generate_series(1, len(t) - 1)) AS i
                  FROM ntok WHERE len(t) >= 2)
        ), bc AS (
            SELECT doc_id, gram, count(*) AS c FROM bigr GROUP BY 1, 2
        ), ranked AS (
            SELECT doc_id, gram, c,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY c DESC, gram) AS rn
            FROM bc
        ), rep_agg AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                   CAST(count(*) AS BIGINT) AS n_distinct_bigrams
            FROM bc GROUP BY doc_id
        ), rep_top AS (
            SELECT doc_id, gram AS top_bigram, CAST(c AS BIGINT) AS top_bigram_n
            FROM ranked WHERE rn = 1
        ),
        -- top-n-gram family twins (r9): same wordcount shape at n=3,4
        trig AS (
            SELECT doc_id,
                   concat_ws(' ', t[CAST(i AS INT)],
                             t[CAST(i AS INT) + 1],
                             t[CAST(i AS INT) + 2]) AS gram
            FROM (SELECT doc_id, t,
                         unnest(generate_series(1, len(t) - 2)) AS i
                  FROM ntok WHERE len(t) >= 3)
        ), tc3 AS (
            SELECT doc_id, gram, count(*) AS c FROM trig GROUP BY 1, 2
        ), t3 AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
                   CAST(count(*) AS BIGINT) AS n_distinct_trigrams,
                   CAST(max(c) AS BIGINT) AS top_trigram_n
            FROM tc3 GROUP BY doc_id
        ), quad AS (
            SELECT doc_id,
                   concat_ws(' ', t[CAST(i AS INT)],
                             t[CAST(i AS INT) + 1],
                             t[CAST(i AS INT) + 2],
                             t[CAST(i AS INT) + 3]) AS gram
            FROM (SELECT doc_id, t,
                         unnest(generate_series(1, len(t) - 3)) AS i
                  FROM ntok WHERE len(t) >= 4)
        ), tc4 AS (
            SELECT doc_id, gram, count(*) AS c FROM quad GROUP BY 1, 2
        ), t4 AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_quadgrams,
                   CAST(count(*) AS BIGINT) AS n_distinct_quadgrams,
                   CAST(max(c) AS BIGINT) AS top_quadgram_n
            FROM tc4 GROUP BY doc_id
        ),
        -- LM twin (r6): self-trained bigram model (min_count=2),
        -- integer surfaces only — the add-k perplexity itself is
        -- float and stays out of the oracle
        lmg AS (
            SELECT doc_id, t[CAST(i AS INT)] AS ctx,
                   t[CAST(i AS INT) + 1] AS w
            FROM (SELECT doc_id, t,
                         unnest(generate_series(1, len(t) - 1)) AS i
                  FROM ntok WHERE len(t) >= 2)
        ), lmmodel AS (
            SELECT ctx, w, count(*) AS c FROM lmg
            GROUP BY 1, 2 HAVING count(*) >= 2
        ), lmctx AS (
            SELECT ctx, count(*) AS c_ctx FROM lmg GROUP BY 1
        ), lmdoc AS (
            SELECT g.doc_id,
                   CAST(count(*) AS BIGINT) AS lm_grams,
                   CAST(sum(CASE WHEN m.c IS NOT NULL THEN 1 ELSE 0
                            END) AS BIGINT) AS lm_hits,
                   CAST(coalesce(sum(m.c), 0) AS BIGINT) AS lm_c,
                   CAST(coalesce(sum(ct.c_ctx), 0) AS BIGINT) AS lm_ctx
            FROM lmg g
            LEFT JOIN lmmodel m ON m.ctx = g.ctx AND m.w = g.w
            LEFT JOIN lmctx ct ON ct.ctx = g.ctx
            GROUP BY 1
        ),
        -- Gopher rule twin (r9): same explicit ASCII-whitespace word
        -- class as text.gopher_rules, same integer signals, same
        -- cross-multiplied ratio bounds
        gw AS (
            SELECT doc_id, text,
                   regexp_extract_all(text, '[^ \\t\\f\\r\\x0B\\n]+') AS w,
                   string_split(text, chr(10)) AS ln,
                   string_split(text, chr(10) || chr(10)) AS pg
            FROM documents
        ), gop AS (
            SELECT doc_id,
                   coalesce(len(w), 0) AS g_words,
                   CAST(coalesce(list_sum(list_transform(w,
                        x -> length(x))), 0) AS BIGINT) AS g_word_chars,
                   coalesce(length(text)
                            - length(replace(text, '#', '')), 0)
                   + coalesce(len(regexp_extract_all(text, '\\.\\.\\.')),
                              0)
                   + coalesce(length(text)
                            - length(replace(text, '…', '')), 0)
                       AS g_symbols,
                   coalesce(len(ln), 0) AS g_lines,
                   coalesce(len(list_filter(ln, x ->
                       regexp_matches(x, '^[ \\t]*[-*•]'))), 0)
                       AS g_bullet_lines,
                   coalesce(len(list_filter(ln, x ->
                       regexp_matches(x, '(\\.\\.\\.|…)[ \\t]*$'))), 0)
                       AS g_ellipsis_lines,
                   coalesce(len(list_filter(w, x ->
                       regexp_matches(x, '[A-Za-z]'))), 0)
                       AS g_alpha_words,
                   (CASE WHEN regexp_matches(lower(text), '\\bthe\\b')
                         THEN 1 ELSE 0 END
                    + CASE WHEN regexp_matches(lower(text), '\\bbe\\b')
                           THEN 1 ELSE 0 END
                    + CASE WHEN regexp_matches(lower(text), '\\bto\\b')
                           THEN 1 ELSE 0 END
                    + CASE WHEN regexp_matches(lower(text), '\\bof\\b')
                           THEN 1 ELSE 0 END
                    + CASE WHEN regexp_matches(lower(text), '\\band\\b')
                           THEN 1 ELSE 0 END
                    + CASE WHEN regexp_matches(lower(text), '\\bthat\\b')
                           THEN 1 ELSE 0 END
                    + CASE WHEN regexp_matches(lower(text), '\\bhave\\b')
                           THEN 1 ELSE 0 END
                    + CASE WHEN regexp_matches(lower(text), '\\bwith\\b')
                           THEN 1 ELSE 0 END) AS g_stop_hits,
                   coalesce(len(ln) - len(list_distinct(ln)), 0)
                       AS g_dup_lines,
                   CAST(coalesce(
                        list_sum(list_transform(ln, x -> length(x)))
                        - list_sum(list_transform(list_distinct(ln),
                                                  x -> length(x))), 0)
                        AS BIGINT) AS g_dup_line_chars,
                   coalesce(len(pg) - len(list_distinct(pg)), 0)
                       AS g_dup_paras,
                   CAST(coalesce(
                        list_sum(list_transform(pg, x -> length(x)))
                        - list_sum(list_transform(list_distinct(pg),
                                                  x -> length(x))), 0)
                        AS BIGINT) AS g_dup_para_chars
            FROM gw
        )
        SELECT h.doc_id,
               len(nk.t) AS n_tokens,
               {lang_case} AS lang_detected,
               floor((0.4 * least(n / 500.0, 1.0)
                      + 0.3 * (CASE WHEN n > 0 THEN n_alpha / n ELSE 0.0 END)
                      + 0.3 * greatest(0.0, 1.0 - abs(n_space / greatest(n, 1.0) - 0.15) * 2))
                     * 10000.0 + 0.5) / 10000.0 AS quality,
               md5(nt) AS fingerprint,
               CAST(len(regexp_extract_all(text, '{text.EMAIL_RE}')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(ae, '{text.IPV4_RE}')) AS INT) AS n_ips,
               CAST(len(regexp_extract_all(ai, '{text.LONG_NUM_RE}')) AS INT) AS n_long_nums,
               CAST(length(scrubbed) AS INT) AS scrubbed_len,
               md5(scrubbed) AS scrubbed_fp,
               coalesce(ra.n_bigrams, 0) AS n_bigrams,
               coalesce(ra.n_distinct_bigrams, 0) AS n_distinct_bigrams,
               CASE WHEN coalesce(ra.n_bigrams, 0) > 0
                    THEN floor((1.0 - ra.n_distinct_bigrams
                                      / CAST(ra.n_bigrams AS DOUBLE))
                               * 1000000.0 + 0.5) / 1000000.0
                    ELSE 0.0 END AS dup_bigram_frac,
               rt.top_bigram,
               coalesce(rt.top_bigram_n, 0) AS top_bigram_n,
               CASE WHEN len(nk.t) > 0
                    THEN floor((coalesce(rt.top_bigram_n, 0) * 2
                                / CAST(len(nk.t) AS DOUBLE))
                               * 1000000.0 + 0.5) / 1000000.0
                    ELSE 0.0 END AS top_bigram_frac,
               coalesce(ld.lm_grams, 0) AS lm_grams,
               coalesce(ld.lm_hits, 0) AS lm_hits,
               coalesce(ld.lm_c, 0) AS lm_c,
               coalesce(ld.lm_ctx, 0) AS lm_ctx,
               -- classifier weak-label surface (r8): teacher label
               -- off the rounded quality alias (DuckDB lateral alias
               -- ref), split flag = first md5 byte < 205 (the
               -- hash_split_flag contract)
               CAST(quality >= 0.5 AS INT) AS qm_label,
               CAST((instr('0123456789abcdef',
                           substr(md5(CAST(h.doc_id AS VARCHAR)), 1, 1)) - 1)
                    * 16
                    + (instr('0123456789abcdef',
                             substr(md5(CAST(h.doc_id AS VARCHAR)), 2, 1)) - 1)
                    < 205 AS INT) AS qm_train,
               gp.g_words, gp.g_word_chars, gp.g_symbols, gp.g_lines,
               gp.g_bullet_lines, gp.g_ellipsis_lines,
               gp.g_alpha_words, gp.g_stop_hits,
               gp.g_dup_lines, gp.g_dup_line_chars,
               gp.g_dup_paras, gp.g_dup_para_chars,
               coalesce(t3.n_trigrams, 0) AS n_trigrams,
               coalesce(t3.n_distinct_trigrams, 0)
                   AS n_distinct_trigrams,
               coalesce(t3.top_trigram_n, 0) AS top_trigram_n,
               coalesce(t4.n_quadgrams, 0) AS n_quadgrams,
               coalesce(t4.n_distinct_quadgrams, 0)
                   AS n_distinct_quadgrams,
               coalesce(t4.top_quadgram_n, 0) AS top_quadgram_n,
               (gp.g_words >= 50 AND gp.g_words <= 100000
                AND gp.g_word_chars >= 3 * gp.g_words
                AND gp.g_word_chars <= 10 * gp.g_words
                AND 10 * gp.g_symbols <= gp.g_words
                AND 10 * gp.g_bullet_lines <= 9 * gp.g_lines
                AND 10 * gp.g_ellipsis_lines <= 3 * gp.g_lines
                AND 10 * gp.g_alpha_words >= 8 * gp.g_words
                AND gp.g_stop_hits >= 2) AS gopher_pass
        FROM hits h
        JOIN ntok nk ON nk.doc_id = h.doc_id
        JOIN gop gp ON gp.doc_id = h.doc_id
        LEFT JOIN rep_agg ra ON ra.doc_id = h.doc_id
        LEFT JOIN rep_top rt ON rt.doc_id = h.doc_id
        LEFT JOIN lmdoc ld ON ld.doc_id = h.doc_id
        LEFT JOIN t3 ON t3.doc_id = h.doc_id
        LEFT JOIN t4 ON t4.doc_id = h.doc_id
    """


# columns the corpus_sample 'profile' tag profiles — pinned on BOTH
# sides so a testdata schema change can't silently skew the row set
_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def _sql_media_dhash_cte() -> str:
    """Generated DuckDB twin of multimodal.perceptual_hash over the
    synth media table: nearest-neighbor byte-resampled pseudo-pixels
    (the stub codec — pixel ``i`` = payload byte ``(i*n)//72``), 9×8
    dHash gradient bits, packed into 4×16-bit bands — every step
    exact integer math, mirrored expression-for-expression. Byte ==
    code point holds because the corpus is ASCII (asserted by the
    Spark side hashing the encoded payload bytes: a non-ASCII corpus
    would hash-mismatch here, loudly)."""
    # pixel i: 1-indexed char position 1 + (i*n)//72 of the text
    px_cols = ", ".join(
        f"ord(substr(t, 1 + ({i} * length(t)) // 72, 1)) AS p{i}"
        for i in range(72)
    )
    # bit k = r*8+c set iff px[r*9+c] > px[r*9+c+1]
    band_exprs = []
    for j in range(4):
        terms = []
        for k in range(16 * j, 16 * j + 16):
            r, c = k // 8, k % 8
            i0, i1 = r * 9 + c, r * 9 + c + 1
            terms.append(
                f"(CASE WHEN p{i0} > p{i1} THEN {1 << (k % 16)} "
                "ELSE 0 END)"
            )
        band_exprs.append(
            "CASE WHEN t IS NULL THEN NULL ELSE CAST("
            + " + ".join(terms)
            + f" AS BIGINT) END AS band{j}"
        )
    bands = ",\n                   ".join(band_exprs)
    return f"""
            mh AS (
                SELECT doc_id AS media_id,
                       CASE WHEN length(text) = 0 THEN NULL
                            ELSE text END AS t
                FROM documents WHERE doc_id % 3 = 0
                UNION ALL
                -- re-encoded variants (multimodal.
                -- synth_reencoded_variants): one byte flipped to '~'
                -- at the midpoint of every 12th image
                SELECT doc_id + 1000000000 AS media_id,
                       CASE WHEN length(text) = 0 THEN NULL ELSE
                           substr(text, 1, (length(text) + 1) // 2 - 1)
                           || '~'
                           || substr(text, (length(text) + 1) // 2 + 1)
                       END AS t
                FROM documents
                WHERE doc_id % 12 = 0 AND doc_id % 3 = 0
            ), mpx AS (
                SELECT media_id, t, {px_cols} FROM mh
            ), mbands AS (
                SELECT media_id,
                   {bands}
                FROM mpx
            )"""


def _sql_media_phash_cte() -> str:
    """Generated DuckDB twin of multimodal.perceptual_hash(method=
    "phash") — the r10 integer-DCT kernel, continued from the dHash
    CTE chain (reuses ``mh``). The quantized cosine basis
    (multimodal.PHASH_COS) is embedded as a 256-row VALUES table so
    the engines share the exact int64 arithmetic; the separable DCT
    becomes two join+group-by passes (pixels ⋈ basis → row transform
    ⋈ basis → 64 coefficients), the median is the 32nd-smallest AC
    coefficient via row_number, and bit k = u*8+v is set iff
    coef > median (DC excluded, its bit forced 0) — mirrored
    expression-for-expression with _phash_bands_py."""
    mm = multimodal
    cos_rows = ", ".join(
        f"({u}, {x}, {mm.PHASH_COS[u][x]})"
        for u in range(mm.PHASH_K)
        for x in range(mm.PHASH_N)
    )
    n_px = mm.PHASH_N * mm.PHASH_N
    band_cols = ",\n                       ".join(
        "CAST(sum(CASE WHEN k // 16 = {j} THEN bit * (1 << (k % 16)) "
        "ELSE 0 END) AS BIGINT) AS pband{j}".format(j=j)
        for j in range(mm.DHASH_BANDS)
    )
    return f""", pcos AS (
                SELECT * FROM (VALUES {cos_rows}) t(u, x, c)
            ), ppx AS (
                SELECT media_id, g.i AS i,
                       ord(substr(t, 1 + (g.i * length(t)) // {n_px}, 1))
                           AS px
                FROM mh, range({n_px}) g(i)
                WHERE t IS NOT NULL
            ), prow AS (
                SELECT media_id, c.u AS u, i // {mm.PHASH_N} AS y,
                       sum(c.c * px) AS tv
                FROM ppx JOIN pcos c ON c.x = i % {mm.PHASH_N}
                GROUP BY 1, 2, 3
            ), pcoef AS (
                SELECT media_id, p.u AS u, c.u AS v, sum(c.c * tv) AS coef
                FROM prow p JOIN pcos c ON c.x = p.y
                GROUP BY 1, 2, 3
            ), pmed AS (
                SELECT media_id, coef AS med FROM (
                    SELECT media_id, coef,
                           row_number() OVER (
                               PARTITION BY media_id ORDER BY coef) AS rn
                    FROM pcoef WHERE NOT (u = 0 AND v = 0)
                ) WHERE rn = 32
            ), pbit AS (
                SELECT p.media_id, u * 8 + v AS k,
                       CASE WHEN u = 0 AND v = 0 THEN 0
                            WHEN coef > med THEN 1 ELSE 0 END AS bit
                FROM pcoef p JOIN pmed m ON p.media_id = m.media_id
            ), pbands AS (
                SELECT media_id,
                       {band_cols}
                FROM pbit GROUP BY media_id
            )"""


def _sql_bloom_cte() -> str:
    """Generated DuckDB twin of operators/bloom.bloom_build fill
    stats, per lang, over the document fingerprints: position j of a
    key is the integer value of the last HEX_CHARS hex chars of
    md5(seed_j || key) (seed prefix '' for j=0 — the minhash
    convention); DuckDB lacks conv(), so hex→int is an
    instr('0123456789abcdef', ch) polynomial. Emits the bstats CTE
    fragment (lang, bloom_bits_set, bloom_words)."""
    hc = bloom.HEX_CHARS_DEFAULT
    start = 33 - hc

    def hex_int(h: str) -> str:
        return " + ".join(
            f"(instr('0123456789abcdef', substr({h}, {start + i}, 1)) - 1)"
            f" * {16 ** (hc - 1 - i)}"
            for i in range(hc)
        )

    fp = f"md5({_NORM_SQL.format(c='text')})"
    branches = " UNION ALL ".join(
        "SELECT lang, "
        + hex_int(f"md5({fp})" if j == 0 else f"md5('{j}|' || {fp})")
        + " AS pos FROM documents WHERE text IS NOT NULL"
        for j in range(bloom.K_DEFAULT)
    )
    return f"""
            bpos AS ({branches}),
            bw AS (
                -- DuckDB range-checks 1<<63 (Spark's shiftleft wraps
                -- to the sign bit): spell the top bit as the literal
                SELECT lang, pos // 64 AS word_idx,
                       bit_or(CASE WHEN pos % 64 = 63
                                   THEN CAST(-9223372036854775808 AS BIGINT)
                                   ELSE CAST(1 AS BIGINT)
                                        << CAST(pos % 64 AS INT) END)
                           AS word
                FROM bpos GROUP BY 1, 2
            ),
            bstats AS (
                SELECT lang,
                       CAST(sum(bit_count(word)) AS BIGINT)
                           AS bloom_bits_set,
                       CAST(count(*) AS BIGINT) AS bloom_words
                FROM bw GROUP BY lang
            )"""


def _sql_media_vhash_cte() -> str:
    """Generated DuckDB twin of multimodal.video_frame_hashes +
    video_near_dup_pairs over the synth videos (doc_id % 3 = 2):
    frame ``f`` of ``nf`` covers byte slice ``[f·n//nf, (f+1)·n//nf)``
    (nf from the frame_sample cadence — one per 1000 ms of
    duration_ms = n_chars·10), each slice gray-resampled and dHashed
    with the same generated integer expressions as the image twin,
    bands packed into one signed bigint (sign handled via the
    band3-65536 wrap — DuckDB range-checks what Spark wraps). Pairs =
    equality join on the frame-hash value, integer shared/size
    columns, Jaccard ≥ 0.5 as the same double comparison the Spark
    filter plans."""
    px_cols = ", ".join(
        f"ord(substr(t, 1 + lo + ({i} * ln) // 72, 1)) AS p{i}"
        for i in range(72)
    )
    band_exprs = []
    for j in range(4):
        terms = []
        for k in range(16 * j, 16 * j + 16):
            r, c = k // 8, k % 8
            i0, i1 = r * 9 + c, r * 9 + c + 1
            terms.append(
                f"(CASE WHEN p{i0} > p{i1} THEN {1 << (k % 16)} "
                "ELSE 0 END)"
            )
        band_exprs.append(
            "CAST(" + " + ".join(terms) + f" AS BIGINT) AS vband{j}"
        )
    bands = ",\n                   ".join(band_exprs)
    return f""", vfr AS (
                SELECT doc_id AS media_id, text AS t,
                       length(text) AS n,
                       CAST((greatest(n_chars * 10, 1) - 1) // 1000 + 1
                            AS BIGINT) AS nf,
                       unnest(generate_series(0,
                           (greatest(n_chars * 10, 1) - 1) // 1000)) AS f
                FROM documents
                WHERE doc_id % 3 = 2 AND text IS NOT NULL
            ), vsl AS (
                SELECT media_id, t, CAST(f AS INT) AS f,
                       (f * n) // nf AS lo,
                       ((f + 1) * n) // nf - (f * n) // nf AS ln
                FROM vfr
            ), vpx AS (
                SELECT media_id, f, {px_cols}
                FROM vsl WHERE ln > 0
            ), vbands AS (
                SELECT media_id, f,
                   {bands}
                FROM vpx
            ), vhash AS (
                SELECT media_id, f,
                       (vband3 - CASE WHEN vband3 >= 32768
                                      THEN 65536 ELSE 0 END)
                           * 281474976710656
                       + vband2 * 4294967296
                       + vband1 * 65536 + vband0 AS h64
                FROM vbands
            ), vset AS (
                SELECT DISTINCT media_id, h64 FROM vhash
            ), vsz AS (
                SELECT media_id, count(*) AS nfr FROM vset GROUP BY 1
            ), vsh AS (
                SELECT a.media_id AS ida, b.media_id AS idb,
                       CAST(count(*) AS BIGINT) AS shared
                FROM vset a JOIN vset b
                  ON a.h64 = b.h64 AND a.media_id < b.media_id
                GROUP BY 1, 2
            ), vpair AS (
                SELECT ida, idb, shared,
                       CAST(sa.nfr AS BIGINT) AS na,
                       CAST(sb.nfr AS BIGINT) AS nb
                FROM vsh
                JOIN vsz sa ON sa.media_id = ida
                JOIN vsz sb ON sb.media_id = idb
                WHERE shared >= 0.5 * (sa.nfr + sb.nfr - shared)
            )"""


def _sql_media_ahash_cte() -> str:
    """Generated DuckDB twin of multimodal.audio_window_hashes +
    audio_match_pairs over the synth audio rows (doc_id % 3 = 1):
    AUDIO_WINDOW-byte windows at AUDIO_HOP stride, 32 gradient bits
    over AUDIO_SAMPLES evenly-spaced bytes per window, then the
    offset-voting matcher (equality join on the hash, (pair, offset)
    vote counts, deterministic argmax via row_number) — integer math
    end to end."""
    mm = multimodal
    win, hop, ns = mm.AUDIO_WINDOW, mm.AUDIO_HOP, mm.AUDIO_SAMPLES
    sample_cols = ", ".join(
        f"ord(substr(t, 1 + s + ({i} * {win}) // {ns}, 1)) AS a{i}"
        for i in range(ns)
    )
    bits = " + ".join(
        f"(CASE WHEN a{i} > a{i + 1} THEN {1 << i} ELSE 0 END)"
        for i in range(ns - 1)
    )
    return f""", awin0 AS (
                SELECT doc_id AS media_id, text AS t,
                       unnest(generate_series(0,
                           (length(text) - {win}) // {hop})) AS w0
                FROM documents
                WHERE doc_id % 3 = 1 AND text IS NOT NULL
                  AND length(text) >= {win}
            ), awin AS (
                SELECT media_id, t, CAST(w0 AS INT) AS w,
                       CAST(w0 * {hop} AS BIGINT) AS s
                FROM awin0
            ), apx AS (
                SELECT media_id, w, {sample_cols} FROM awin
            ), ahash AS (
                SELECT media_id, w, CAST({bits} AS BIGINT) AS h32
                FROM apx
            ), avote AS (
                SELECT a.media_id AS ida, b.media_id AS idb,
                       CAST(a.w - b.w AS BIGINT) AS off,
                       CAST(count(*) AS BIGINT) AS votes
                FROM ahash a JOIN ahash b
                  ON a.h32 = b.h32 AND a.media_id < b.media_id
                GROUP BY 1, 2, 3
            ), apair AS (
                SELECT ida, idb, off, votes FROM (
                    SELECT ida, idb, off, votes,
                           row_number() OVER (
                               PARTITION BY ida, idb
                               ORDER BY votes DESC, off ASC) AS rn
                    FROM avote
                ) WHERE rn = 1 AND votes >= 4
            )"""


def _sql_corpus_sample() -> str:
    """DuckDB twin of q_corpus_sample, generated from the SAME
    fraction/count/seed constants so Spark and oracle can't drift.
    Thresholds come from corpus_prep.hex_threshold — keep/drop is a
    string compare over md5 hex slices, identical in both engines.
    ``doc_id IS NOT NULL`` mirrors the Spark-side guard (NULLS
    FIRST/LAST window defaults differ between engines)."""
    skey = "substr(md5('{seed}|' || CAST(doc_id AS VARCHAR)), 1, 8)"
    thr = " ".join(
        f"WHEN '{k}' THEN '{corpus_prep.hex_threshold(v)}'"
        for k, v in sorted(_SAMPLE_FRACTIONS.items())
    )
    take = " ".join(
        f"WHEN '{k}' THEN {int(v)}" for k, v in sorted(_MIX_COUNTS.items())
    )
    norm = _NORM_SQL.format(c="text")
    # split twin: cumulative hex thresholds from the SAME insertion-
    # ordered fractions the Spark side compiles; last split is the
    # ELSE branch (owns the remaining key range)
    rep_key = "substr(md5('{s}|' || CAST(g.rep AS VARCHAR)), 1, 8)".format(
        s=_SPLIT_SEED
    )
    fracs = list(_SPLIT_FRACS.items())
    cum = 0.0
    whens = []
    for name, frac in fracs[:-1]:
        cum += frac
        whens.append(
            f"WHEN {rep_key} < '{corpus_prep.hex_threshold(cum)}' "
            f"THEN '{name}'"
        )
    split_case = " ".join(whens) + f" ELSE '{fracs[-1][0]}'"
    # profile twin: per-column aggregates over the pinned orders
    # columns, unpivoted as one UNION ALL branch per column (DuckDB
    # renders CAST-to-VARCHAR of bigint/double/timestamp identically
    # to Spark's cast-to-string for these values — verified per type)
    profile_union = " ".join(
        f"""UNION ALL
        SELECT 'profile',
               '{c}|' || CAST(count(*) AS VARCHAR) || '|'
                    || coalesce(CAST(min({c}) AS VARCHAR), '<null>') || '|'
                    || coalesce(CAST(max({c}) AS VARCHAR), '<null>'),
               CAST(coalesce(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END),
                             0) AS BIGINT),
               CAST(count(DISTINCT {c}) AS BIGINT)
        FROM orders"""
        for c in _PROFILE_COLS
    )
    return f"""
        SELECT 'sample' AS tag, lang AS grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(doc_id) AS BIGINT) AS sum_ids
        FROM documents
        WHERE doc_id IS NOT NULL
          AND {skey.format(seed=_SAMPLE_SEED)} <
              CASE lang {thr}
                   ELSE '{corpus_prep.hex_threshold(_SAMPLE_DEFAULT)}' END
        GROUP BY lang
        UNION ALL
        SELECT 'mix', lang, CAST(count(*) AS BIGINT),
               CAST(sum(doc_id) AS BIGINT)
        FROM (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY {skey.format(seed=_MIX_SEED)}, doc_id
                   ) AS rk
            FROM documents WHERE doc_id IS NOT NULL
        )
        WHERE rk <= CASE lang {take} ELSE 0 END
        GROUP BY lang
        UNION ALL
        SELECT 'head', CAST(doc_id AS VARCHAR), CAST(rk AS BIGINT),
               CAST(NULL AS BIGINT)
        FROM (
            SELECT doc_id,
                   row_number() OVER (
                       ORDER BY {skey.format(seed=_SHUF_SEED)}, doc_id
                   ) AS rk
            FROM documents WHERE doc_id IS NOT NULL
        )
        WHERE rk <= {_HEAD_N}
        UNION ALL
        -- temperature-mix twin: per-lang quota = (total * s) div Σs
        -- with s = floor(sqrt(n)*1e6) — integer arithmetic after one
        -- IEEE sqrt+multiply, so no float summation-order hazard
        SELECT 'temp', lang, CAST(count(*) AS BIGINT),
               CAST(sum(doc_id) AS BIGINT)
        FROM (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY {skey.format(seed=_TEMP_SEED)}, doc_id
                   ) AS rk
            FROM documents WHERE doc_id IS NOT NULL
        ) d
        JOIN (
            SELECT lang,
                   -- HUGEINT product == Spark's DECIMAL(38,0) `div`
                   -- path (both floor on non-negatives): no bigint
                   -- overflow at any stratum size
                   least(__n, CAST((CAST({_TEMP_TOTAL} AS HUGEINT) * __s)
                              // (sum(__s) OVER ()) AS BIGINT)) AS takev
            FROM (
                SELECT lang, CAST(count(*) AS BIGINT) AS __n,
                       CAST(floor(sqrt(CAST(count(*) AS DOUBLE))
                                  * 1000000.0) AS BIGINT) AS __s
                FROM documents WHERE doc_id IS NOT NULL
                GROUP BY lang
            )
        ) t USING (lang)
        WHERE rk <= takev
        GROUP BY lang
        UNION ALL
        -- char-budget twin: greedy prefix in seeded-hash order; keep
        -- while the chars BEFORE the doc fit strictly in the budget
        SELECT 'budget', lang, CAST(count(*) AS BIGINT),
               CAST(sum(doc_id) AS BIGINT)
        FROM (
            SELECT doc_id, lang,
                   coalesce(sum(coalesce(length(text), 0)) OVER (
                       PARTITION BY lang
                       ORDER BY {skey.format(seed=_BUDGET_SEED)}, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb
            FROM documents WHERE doc_id IS NOT NULL
        )
        WHERE cb < {_BUDGET_CHARS}
        GROUP BY lang
        UNION ALL
        -- diff twin: plain FULL OUTER JOIN on md5 fingerprints of the
        -- same two derived snapshots (membership via side presence —
        -- doc_id is non-NULL within each snapshot by construction;
        -- content drift via null-safe fingerprint inequality)
        SELECT 'diff', change, CAST(doc_id AS BIGINT),
               CAST(NULL AS BIGINT)
        FROM (
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        WHEN o.fp IS DISTINCT FROM n.fp THEN 'changed'
                        END AS change
            FROM (
                SELECT doc_id, md5({norm}) AS fp
                FROM documents
                WHERE doc_id IS NOT NULL AND doc_id % 7 <> 1
            ) o
            FULL OUTER JOIN (
                SELECT doc_id, md5({norm}) AS fp
                FROM (
                    SELECT doc_id,
                           CASE WHEN doc_id % 7 = 3
                                THEN text || ' r6drift'
                                ELSE text END AS text
                    FROM documents
                    WHERE doc_id IS NOT NULL AND doc_id % 7 <> 2
                )
            ) n ON o.doc_id = n.doc_id
        )
        WHERE change IS NOT NULL
        UNION ALL
        -- leakage-safe split twin: assignment hashes the
        -- exact-fingerprint cluster representative (min doc_id per
        -- normalized-content group); key ranges from the same
        -- cumulative hex thresholds the Spark side compiles
        SELECT 'split', split, CAST(count(*) AS BIGINT),
               CAST(sum(doc_id) AS BIGINT)
        FROM (
            SELECT d.doc_id,
                   CASE {split_case} END AS split
            FROM (
                SELECT doc_id, md5({norm}) AS fp
                FROM documents WHERE doc_id IS NOT NULL
            ) d
            JOIN (
                SELECT fp, min(doc_id) AS rep
                FROM (
                    SELECT doc_id, md5({norm}) AS fp
                    FROM documents WHERE doc_id IS NOT NULL
                )
                GROUP BY fp
            ) g USING (fp)
        )
        GROUP BY split
        UNION ALL
        -- per-group cap twin: the PLAIN window form — Spark runs the
        -- prefiltered scale path, so a hash match proves the
        -- prefix-exactness argument on real data
        SELECT 'cap', source, CAST(count(*) AS BIGINT),
               CAST(sum(doc_id) AS BIGINT)
        FROM (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY {skey.format(seed=_CAP_SEED)}, doc_id
                   ) AS rk
            FROM documents WHERE doc_id IS NOT NULL
        )
        WHERE rk <= {_CAP_N}
        GROUP BY source
        {profile_union}
        -- data-checks twin (r6): one UNION ALL branch per declared
        -- check; sample_key is the MIN over the STRING form of
        -- offending keys/values (ASCII compare — identical to
        -- Spark's string min), '-' when the check passes
        UNION ALL
        SELECT 'check',
               'unique|o_orderkey|' || coalesce(min(k), '-'),
               CAST(count(*) AS BIGINT), NULL
        FROM (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders
              GROUP BY o_orderkey HAVING count(*) > 1)
        UNION ALL
        SELECT 'check',
               'unique|o_orderstatus|' || coalesce(min(k), '-'),
               CAST(count(*) AS BIGINT), NULL
        FROM (SELECT CAST(o_orderstatus AS VARCHAR) AS k FROM orders
              GROUP BY o_orderstatus HAVING count(*) > 1)
        UNION ALL
        SELECT 'check', 'not_null|o_custkey|-',
               CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1
                                      ELSE 0 END), 0) AS BIGINT), NULL
        FROM orders
        UNION ALL
        SELECT 'check',
               'accepted_values|o_orderstatus|'
                   || coalesce(min(CASE WHEN o_orderstatus NOT IN
                                        ('O', 'F')
                                   THEN o_orderstatus END), '-'),
               CAST(coalesce(sum(CASE WHEN o_orderstatus IS NOT NULL
                                       AND o_orderstatus NOT IN ('O', 'F')
                                  THEN 1 ELSE 0 END), 0) AS BIGINT), NULL
        FROM orders
        UNION ALL
        SELECT 'check',
               'in_range|o_orderkey|'
                   || coalesce(min(CASE WHEN o_orderkey IS NOT NULL
                                         AND o_orderkey NOT BETWEEN 1
                                             AND 1000000000
                                    THEN CAST(o_orderkey AS VARCHAR)
                                    END), '-'),
               CAST(coalesce(sum(CASE WHEN o_orderkey IS NOT NULL
                                       AND o_orderkey NOT BETWEEN 1
                                           AND 1000000000
                                  THEN 1 ELSE 0 END), 0) AS BIGINT), NULL
        FROM orders
    """


def _sql_price_regression() -> str:
    """DuckDB twin of ml/regression.py:price_regression_exact — same
    md5 split, same exact integer/decimal moments, and the double
    algebra written operation-for-operation identically (exact moments
    → bit-identical doubles → bit-identical closed-form metrics)."""
    sse = (
        "tsyy - 2.0 * (b0 * tsy + b1 * tsxy)"
        " + (b0 * b0 * tn + 2.0 * b0 * b1 * tsx + b1 * b1 * tsxx)"
    )
    det = "(dn * (dsxx + 0.01) - dsx * dsx)"
    return f"""
        WITH base AS (
            -- trunc before the int cast: Spark's double->bigint cast
            -- TRUNCATES toward zero while DuckDB's ROUNDS to nearest;
            -- identical today (integral quantities) but not under a
            -- regenerated fractional distribution
            SELECT CAST(trunc(l_quantity) AS BIGINT) AS xq,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS yc,
                   (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                     + (instr('0123456789abcdef', substr(h, 2, 1)) - 1)
                     < 205 AS is_train
            FROM (
                SELECT l_quantity, l_extendedprice,
                       md5(CAST(l_orderkey AS VARCHAR) || '-'
                           || CAST(l_linenumber AS VARCHAR)) AS h
                FROM lineitem
                WHERE l_quantity IS NOT NULL
                  AND l_extendedprice IS NOT NULL
            )
        ),
        m AS (
            SELECT
                sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS n_tr,
                sum(CASE WHEN is_train THEN xq ELSE 0 END) AS sx_tr,
                sum(CASE WHEN is_train THEN xq * xq ELSE 0 END) AS sxx_tr,
                sum(CASE WHEN is_train THEN yc ELSE 0 END) AS sy_tr,
                sum(CASE WHEN is_train THEN xq * yc ELSE 0 END) AS sxy_tr,
                sum(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS n_te,
                sum(CASE WHEN NOT is_train THEN xq ELSE 0 END) AS sx_te,
                sum(CASE WHEN NOT is_train THEN xq * xq ELSE 0 END) AS sxx_te,
                sum(CASE WHEN NOT is_train THEN yc ELSE 0 END) AS sy_te,
                sum(CASE WHEN NOT is_train THEN xq * yc ELSE 0 END) AS sxy_te,
                sum(CASE WHEN NOT is_train THEN yc * yc ELSE 0 END) AS syy_te
            FROM base
        ),
        d AS (
            SELECT CAST(n_tr AS DOUBLE) AS dn,
                   CAST(sx_tr AS DOUBLE) AS dsx,
                   CAST(sxx_tr AS DOUBLE) AS dsxx,
                   CAST(sy_tr AS DOUBLE) / 100.0 AS dsy,
                   CAST(sxy_tr AS DOUBLE) / 100.0 AS dsxy,
                   CAST(n_te AS DOUBLE) AS tn,
                   CAST(sx_te AS DOUBLE) AS tsx,
                   CAST(sxx_te AS DOUBLE) AS tsxx,
                   CAST(sy_te AS DOUBLE) / 100.0 AS tsy,
                   CAST(sxy_te AS DOUBLE) / 100.0 AS tsxy,
                   CAST(syy_te AS DOUBLE) / 10000.0 AS tsyy,
                   n_tr, n_te
            FROM m
        ),
        b AS (
            SELECT *,
                   (dn * dsxy - dsx * dsy) / {det} AS b1,
                   ((dsxx + 0.01) * dsy - dsx * dsxy) / {det} AS b0
            FROM d
        )
        SELECT round(CASE WHEN n_te > 0 AND n_tr > 0
                     THEN sqrt(greatest({sse}, 0.0) / tn) END, 2) AS rmse,
               round(CASE WHEN n_te > 0 AND n_tr > 0
                           AND tsyy - tsy * tsy / tn > 0
                     THEN 1.0 - greatest({sse}, 0.0)
                                / (tsyy - tsy * tsy / tn) END, 4) AS r2,
               CAST(n_tr AS BIGINT) AS n_train,
               CAST(n_te AS BIGINT) AS n_test
        FROM b
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # EXACTLY 50 entries — the driver emits at most 50 correctness
    # rows in dict order, so every hash-checkable query must sit in
    # the first 50 positions; the single no-oracle entry
    # (corpus_cardinality, HLL sketch by design) goes LAST so it
    # lands in the window's rows-only slot without displacing a
    # hash-checked query. Formerly-separate variants that share a
    # schema (offset/keyset pagination, rollup/cube, tumbling/sliding
    # windows) are tagged unions — both code paths stay verified in
    # one slot.
    return {
        "market_stats": q_market_stats,
        "enrichment_join": q_enrichment_join,
        "keep_last_dedup": q_keep_last_dedup,
        "quality_filter": q_quality_filter,
        "index_counters": q_index_counters,
        "prefix_filter": q_prefix_filter,
        "coercing_cast": q_coercing_cast,
        "pagination": q_pagination,
        "union_all": q_union_all,
        "facet_totals": q_facet_totals,
        "watermark_incremental": q_watermark_incremental,
        "point_lookup": q_point_lookup,
        "two_step_lookup": q_two_step_lookup,
        "geo_radius": q_geo_radius,
        "search_spec": q_search_spec,
        "top_k_per_group": q_top_k_per_group,
        "tpch_q1": q_tpch_q1,
        "sessionize": q_sessionize,
        "session_window": q_session_window,
        "asof_join": q_asof_join,
        "interval_join": q_interval_join,
        "grouping_sets": q_grouping_sets,
        "pivot_counts": q_pivot_counts,
        "moving_avg": q_moving_avg,
        "set_ops": q_set_ops,
        "anti_join": q_anti_join,
        "distinct_agg": q_distinct_agg,
        "time_windows": q_time_windows,
        "sparse_document": q_sparse_document,
        "coerce_timestamp": q_coerce_timestamp,
        "search_url": q_search_url,
        "lbc_format": q_lbc_format,
        "price_regression": q_price_regression,
        "exact_dedup": q_exact_dedup,
        "text_profile": q_text_profile,
        "corpus_quantiles": q_corpus_quantiles,
        "exact_cardinality": q_exact_cardinality,
        "token_stats": q_token_stats,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "cosine_topk": q_cosine_topk,
        "cosine_topk_large_q": q_cosine_topk_large_q,
        "near_dup_cosine": q_near_dup_cosine,
        "ann_lsh_topk": q_ann_lsh_topk,
        "multimodal_features": q_multimodal_features,
        "media_plans": q_media_plans,
        "corpus_sample": q_corpus_sample,
        "corpus_cardinality": q_corpus_cardinality,  # rows-only: HLL sketch
    }


def oracle_sql() -> dict[str, str]:
    return {
        "market_stats": """
            SELECT l_suppkey,
                   floor(avg(l_extendedprice / l_quantity) * 100 + 0.5)
                       / 100 AS avg_price_per_unit,
                   count(*) AS nb_sales
            FROM lineitem
            WHERE l_quantity > 9 AND l_extendedprice IS NOT NULL
              AND l_extendedprice > 1000
            GROUP BY l_suppkey
        """,
        "enrichment_join": """
            SELECT c_custkey, c_name, c_mktsegment,
                   s.avg_totalprice, s.nb_orders
            FROM customer
            LEFT JOIN (
                SELECT o_custkey,
                       floor(CAST(2 * sum(CAST(round(o_totalprice * 100) AS BIGINT))
                                  + count(*) AS DOUBLE)
                             / CAST(2 * count(*) AS DOUBLE)) / 100.0
                           AS avg_totalprice,
                       count(*) AS nb_orders
                FROM orders GROUP BY o_custkey
            ) s ON c_custkey = s.o_custkey
        """,
        "keep_last_dedup": """
            SELECT user_id, event_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
                   event_type, value
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                ) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "quality_filter": """
            SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                   l_extendedprice
            FROM lineitem
            WHERE l_returnflag IN ('A', 'R')
              AND l_quantity BETWEEN 10.0 AND 45.0
              AND l_shipdate IS NOT NULL
        """,
        "index_counters": """
            SELECT l_returnflag,
                   count(*) AS total_processed,
                   CAST(sum(CASE WHEN l_returnflag IN ('A', 'R')
                             AND l_quantity BETWEEN 10.0 AND 45.0
                             AND l_shipdate IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS count_indexed,
                   CAST(sum(CASE WHEN l_returnflag IN ('A', 'R')
                             AND l_quantity BETWEEN 10.0 AND 45.0
                             AND l_shipdate IS NOT NULL
                        THEN 0 ELSE 1 END) AS BIGINT) AS count_filtered
            FROM lineitem
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "prefix_filter": """
            SELECT p_partkey, p_name, p_type, p_size,
                   upper(p_name) AS name_upper,
                   CAST(length(p_name) AS INT) AS name_len,
                   substr(p_name, 1, 5) AS name_head,
                   replace(p_name, ' ', '_') AS name_snake,
                   lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS key_padded,
                   CAST(strpos(p_name, 'o') AS INT) AS first_o,
                   reverse(p_name) AS name_rev,
                   split_part(p_name, ' ', -1) AS last_word,
                   left(p_name, 3) AS name_left,
                   right(p_name, 3) AS name_right,
                   CAST(levenshtein(p_name, p_type) AS INT) AS lev_to_type
            FROM part WHERE p_type LIKE 'STANDARD%'
        """,
        "coercing_cast": """
            SELECT event_id,
                   coalesce(
                       CASE WHEN isnan(try_cast(json_extract_string(props, '$.k')
                                                AS DOUBLE)) THEN NULL
                            ELSE try_cast(json_extract_string(props, '$.k')
                                          AS DOUBLE) END,
                       0.0) AS k_value,
                   abs(value) AS v_abs,
                   CAST(ceil(value) AS BIGINT) AS v_ceil,
                   CAST(floor(value) AS BIGINT) AS v_floor,
                   CAST(sign(value) AS DOUBLE) AS v_sign,
                   sqrt(abs(value)) AS v_sqrt_abs,
                   value * value AS v_sq,
                   CAST(event_id % 7 AS BIGINT) AS key_mod7,
                   greatest(value, 50.0) AS v_at_least_50,
                   least(value, 50.0) AS v_at_most_50,
                   CAST(nullif(event_id % 5, 0) AS BIGINT) AS mod5_nullzero,
                   CASE WHEN value > 50.0 THEN 'high'
                        WHEN value > 10.0 THEN 'mid'
                        ELSE 'low' END AS band
            FROM events
        """,
        "pagination": """
            SELECT o_orderkey, o_totalprice, 'offset' AS method FROM (
                SELECT o_orderkey, o_totalprice
                FROM orders
                ORDER BY o_totalprice DESC, o_orderkey ASC
                LIMIT 50 OFFSET 100
            )
            UNION ALL
            SELECT o_orderkey, o_totalprice, 'keyset' AS method FROM (
                SELECT o_orderkey, o_totalprice
                FROM orders
                WHERE o_orderkey > 1000
                ORDER BY o_orderkey ASC
                LIMIT 50
            )
        """,
        "union_all": """
            SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
            FROM orders WHERE o_orderstatus = 'O'
            UNION ALL
            SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
            FROM orders WHERE o_orderpriority LIKE '1%'
        """,
        "facet_totals": """
            SELECT o_orderpriority, count(*) AS total,
                   CAST(ceil(count(*) / 35.0) AS BIGINT) AS max_pages
            FROM orders GROUP BY o_orderpriority
        """,
        "watermark_incremental": """
            SELECT count(*) AS n_new,
                   max(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS new_watermark
            FROM events WHERE ts > TIMESTAMP '2024-06-01 00:00:00'
        """,
        "point_lookup": """
            SELECT c_custkey, c_name, c_nationkey, c_mktsegment
            FROM customer WHERE c_custkey = 42
        """,
        "two_step_lookup": """
            SELECT c_custkey, c_name, n_name AS nation_name,
                   r_name AS region_name
            FROM customer
            LEFT JOIN nation ON c_nationkey = n_nationkey
            LEFT JOIN region ON n_regionkey = r_regionkey
        """,
        "geo_radius": """
            WITH pts AS (
                SELECT c_custkey,
                       41.0 + ((c_custkey * 7919) % 1000) / 100.0 AS lat,
                       -5.0 + ((c_custkey * 104729) % 1500) / 100.0 AS lng
                FROM customer
            )
            SELECT * FROM (
                SELECT c_custkey, lat, lng,
                       round(2.0 * 6371.0 * asin(sqrt(
                           pow(sin(radians(48.8566 - lat) / 2), 2)
                           + cos(radians(lat)) * cos(radians(48.8566))
                             * pow(sin(radians(2.3522 - lng) / 2), 2)
                       )), 3) AS dist_km
                FROM pts
            ) WHERE dist_km <= 500.0
        """,
        "search_spec": f"""
            SELECT 'sub' AS tag, doc_id, lang, n_chars
            FROM (
                SELECT doc_id, lang, n_chars
                FROM documents
                WHERE text LIKE '%spark%' AND lang IN ('en', 'fr')
                  AND n_chars >= 100.0
                ORDER BY n_chars DESC, doc_id ASC
                LIMIT 20 OFFSET 20
            )
            UNION ALL
            -- all_tokens twin: whole-token membership over the same
            -- canonical normalize, both query tokens required
            SELECT 'tok', doc_id, lang, n_chars
            FROM (
                SELECT doc_id, lang, n_chars
                FROM documents
                WHERE list_contains(
                          string_split({_NORM_SQL.format(c='text')}, ' '),
                          'spark')
                  AND list_contains(
                          string_split({_NORM_SQL.format(c='text')}, ' '),
                          'join')
                  AND n_chars >= 100.0
                ORDER BY n_chars DESC, doc_id ASC
                LIMIT 25 OFFSET 0
            )
        """,
        "top_k_per_group": """
            SELECT o_orderpriority, o_orderkey, o_totalprice, rnk
            FROM (
                SELECT o_orderpriority, o_orderkey, o_totalprice,
                       row_number() OVER (
                           PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey ASC
                       ) AS rnk
                FROM orders
            ) WHERE rnk <= 5
        """,
        "tpch_q1": """
            WITH b AS (
                SELECT l_returnflag, l_linestatus,
                       CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS ep_c,
                       CAST(round(l_discount * 100) AS BIGINT) AS d100,
                       CAST(round(l_tax * 100) AS BIGINT) AS t100
                FROM lineitem
                WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            )
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(qty_c) AS DOUBLE) / 100.0 AS sum_qty,
                   CAST(sum(ep_c) AS DOUBLE) / 100.0 AS sum_base_price,
                   CAST(sum(ep_c * (100 - d100)) AS DOUBLE) / 10000.0
                       AS sum_disc_price,
                   CAST(sum(ep_c * (100 - d100) * (100 + t100)) AS DOUBLE)
                       / 1000000.0 AS sum_charge,
                   floor(CAST(sum(qty_c) AS DOUBLE) / (100.0 * count(*))
                         * 100 + 0.5) / 100 AS avg_qty,
                   floor(CAST(sum(ep_c) AS DOUBLE) / (100.0 * count(*))
                         * 100 + 0.5) / 100 AS avg_price,
                   floor(CAST(sum(d100) AS DOUBLE) / (100.0 * count(*))
                         * 10000 + 0.5) / 10000 AS avg_disc,
                   count(*) AS count_order
            FROM b
            GROUP BY l_returnflag, l_linestatus
        """,
        "sessionize": """
            WITH flagged AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                                PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                            ) > 1800000000
                            OR lag(ts) OVER (
                                PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                            ) IS NULL
                       THEN 1 ELSE 0 END AS new_sess
                FROM events WHERE ts IS NOT NULL
            ), sess AS (
                SELECT user_id, event_id, ts,
                       CAST(sum(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING
                       ) AS BIGINT) AS session_id
                FROM flagged
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   max(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS session_end
            FROM sess GROUP BY user_id, session_id
        """,
        "interval_join": """
            WITH c AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'
            ), p AS (
                SELECT DISTINCT user_id, ts AS promo_start,
                       ts + INTERVAL 1 HOUR AS promo_end
                FROM events WHERE event_type = 'purchase'
            )
            SELECT c.event_id, c.user_id,
                   strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
                   strftime(p.promo_start, '%Y-%m-%d %H:%M:%S.%f')
                       AS promo_start_s
            FROM c JOIN p
              ON c.user_id = p.user_id
             AND c.ts BETWEEN p.promo_start AND p.promo_end
        """,
        "asof_join": """
            WITH l AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click' AND ts IS NOT NULL
            ), r AS (
                SELECT user_id, ts, max(value) AS last_purchase_value
                FROM events
                WHERE event_type = 'purchase' AND ts IS NOT NULL
                GROUP BY user_id, ts
            )
            SELECT l.event_id, l.user_id,
                   strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
                   r.last_purchase_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "session_window": """
            WITH flagged AS (
                SELECT user_id, ts,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                                PARTITION BY user_id ORDER BY ts ASC
                            ) >= 1800000000
                            OR lag(ts) OVER (
                                PARTITION BY user_id ORDER BY ts ASC
                            ) IS NULL
                       THEN 1 ELSE 0 END AS new_sess
                FROM events WHERE ts IS NOT NULL
            ), sess AS (
                SELECT user_id, ts,
                       sum(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts ASC
                           ROWS UNBOUNDED PRECEDING
                       ) AS session_id
                FROM flagged
            )
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f')
                       AS session_start_s,
                   strftime(max(ts) + INTERVAL 30 MINUTE,
                            '%Y-%m-%d %H:%M:%S.%f') AS session_end_s,
                   count(*) AS n_events
            FROM sess GROUP BY user_id, session_id
        """,
        "grouping_sets": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 2) AS sum_total,
                   'rollup' AS gs
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
            UNION ALL
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 2) AS sum_total,
                   'cube' AS gs
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "pivot_counts": """
            SELECT user_id % 10 AS user_bucket,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
            FROM events
            GROUP BY user_id % 10
        """,
        "exact_dedup": f"""
            WITH nd AS (
                SELECT doc_id AS id, {_NORM_SQL.format(c='text')} AS nt
                FROM documents
            ),
            -- duplicated-substring twin: stride-1 20-char windows,
            -- global occurrence count, gaps-and-islands span merge
            pos AS (
                SELECT id, nt,
                       unnest(generate_series(1, length(nt) - 19)) AS p
                FROM nd WHERE length(nt) >= 20
            ),
            wins AS (
                SELECT id, p, substr(nt, CAST(p AS INT), 20) AS w FROM pos
            ),
            dup AS (
                SELECT id, p FROM (
                    SELECT id, p, count(*) OVER (PARTITION BY w) AS c
                    FROM wins
                ) WHERE c >= 2
            ),
            brk AS (
                SELECT id, p,
                       CASE WHEN p - lag(p, 1, -1000000)
                                 OVER (PARTITION BY id ORDER BY p) > 20
                            THEN 1 ELSE 0 END AS b
                FROM dup
            ),
            isl AS (
                SELECT id, p,
                       sum(b) OVER (PARTITION BY id ORDER BY p
                                    ROWS UNBOUNDED PRECEDING) AS g
                FROM brk
            )
            SELECT 'group' AS tag, md5(nt) AS key,
                   CAST(min(id) AS BIGINT) AS v1,
                   CAST(count(*) AS BIGINT) AS v2
            FROM nd GROUP BY md5(nt)
            UNION ALL
            SELECT 'span', CAST(id AS VARCHAR),
                   CAST(min(p) AS BIGINT),
                   CAST(max(p) + 19 AS BIGINT)
            FROM isl GROUP BY id, g
            UNION ALL
            SELECT 'cover', CAST(id AS VARCHAR),
                   CAST(count(*) AS BIGINT),
                   CAST(sum(e - s + 1) AS BIGINT)
            FROM (SELECT id, g, min(p) AS s, max(p) + 19 AS e
                  FROM isl GROUP BY id, g)
            GROUP BY id
            UNION ALL
            -- boilerplate top-k twin: most-repeated windows, ties
            -- broken lexicographically
            SELECT 'topwin', w, CAST(n AS BIGINT), CAST(NULL AS BIGINT)
            FROM (
                SELECT w, count(*) AS n FROM wins GROUP BY w
                HAVING count(*) >= 2
                ORDER BY n DESC, w LIMIT 15
            )
            UNION ALL
            -- line-dedup twin (r9): same 5-word newline view as the
            -- token_stats twin; lines >= 15 chars in >= 2 distinct
            -- docs are deleted everywhere; kept lines re-agg in
            -- position order; md5 pins the rebuilt text
            SELECT 'lines', lr.key, lr.v1, lr.v2 FROM (
                WITH lnl AS (
                    SELECT doc_id, string_split(regexp_replace(text,
                        '((?:\\S+ ){{4}}\\S+) ', '\\1' || chr(10), 'g'),
                        chr(10)) AS lines
                    FROM documents
                ), lpos AS (
                    SELECT doc_id,
                           unnest(generate_series(1, len(lines))) AS pos,
                           lines
                    FROM lnl
                ), lo AS (
                    SELECT doc_id, pos, lines[pos] AS line FROM lpos
                ), lcm AS (
                    SELECT md5(line) AS k FROM lo
                    WHERE length(line) >= 15
                    GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
                ), lfl AS (
                    SELECT doc_id, pos, line,
                           (length(line) >= 15
                            AND md5(line) IN (SELECT k FROM lcm))
                               AS dropped
                    FROM lo
                ), lrb AS (
                    SELECT doc_id,
                           coalesce(string_agg(
                               CASE WHEN NOT dropped THEN line END,
                               chr(10) ORDER BY pos), '') AS kept,
                           count(*) FILTER (WHERE dropped) AS n_drop
                    FROM lfl GROUP BY doc_id
                )
                SELECT md5(coalesce(lrb.kept, '')) AS key,
                       d.doc_id AS v1,
                       CAST(coalesce(lrb.n_drop, 0) AS BIGINT) AS v2
                FROM documents d LEFT JOIN lrb USING (doc_id)
            ) lr
            UNION ALL
            -- C4 three-sentence-span dedup twin (r9): same sentence
            -- view ('. ' after every 6th word), exhaustive greedy
            -- segmentation (matches concatenate back to the input, so
            -- offsets = running length sum), global first-occurrence
            -- keeper on the span md5, island merge of overlaps, and
            -- the kept text rebuilt from the COMPLEMENT gaps
            SELECT 'c4', cr.key, cr.v1, cr.v2 FROM (
                WITH c4d AS (
                    SELECT doc_id, regexp_replace(text,
                        '((?:\\S+ ){{5}}\\S+) ', '\\1. ', 'g') AS t
                    FROM documents
                ), c4s AS (
                    SELECT doc_id, regexp_extract_all(t,
                        '[^.!?]*[.!?]+|[^.!?]+$') AS sents
                    FROM c4d
                ), c4e AS (
                    SELECT doc_id,
                           unnest(generate_series(1, len(sents))) AS i,
                           sents
                    FROM c4s
                ), c4o AS (
                    SELECT doc_id, i, sents[i] AS sent,
                           sum(length(sents[i])) OVER
                               (PARTITION BY doc_id ORDER BY i) AS e
                    FROM c4e
                ), c4w AS (
                    SELECT doc_id,
                           e - length(sent) + 1 AS ws,
                           lead(e, 2) OVER w AS we,
                           md5(sent || lead(sent, 1) OVER w
                               || lead(sent, 2) OVER w) AS k
                    FROM c4o WINDOW w AS (PARTITION BY doc_id ORDER BY i)
                ), c4r AS (
                    SELECT doc_id, ws, we,
                           row_number() OVER (PARTITION BY k
                               ORDER BY doc_id, ws) AS rn
                    FROM c4w WHERE we IS NOT NULL
                ), c4i AS (
                    SELECT doc_id, ws, we,
                           CASE WHEN ws > coalesce(max(we) OVER
                                (PARTITION BY doc_id ORDER BY ws, we
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), -1)
                                THEN 1 ELSE 0 END AS nb
                    FROM c4r WHERE rn > 1
                ), c4g AS (
                    SELECT doc_id, ws, we,
                           sum(nb) OVER (PARTITION BY doc_id
                               ORDER BY ws, we
                               ROWS UNBOUNDED PRECEDING) AS g
                    FROM c4i
                ), c4m AS (
                    SELECT doc_id, min(ws) AS ms, max(we) AS me
                    FROM c4g GROUP BY doc_id, g
                ), c4gap AS (
                    SELECT doc_id,
                           coalesce(lag(me) OVER (PARTITION BY doc_id
                               ORDER BY ms), 0) + 1 AS gs,
                           ms - 1 AS ge
                    FROM c4m
                    UNION ALL
                    SELECT m.doc_id, max(m.me) + 1 AS gs,
                           length(d.t) AS ge
                    FROM c4m m JOIN c4d d USING (doc_id)
                    GROUP BY m.doc_id, length(d.t)
                ), c4k AS (
                    SELECT g.doc_id,
                           string_agg(substr(d.t, CAST(g.gs AS INT),
                               CAST(g.ge - g.gs + 1 AS INT)), ''
                               ORDER BY g.gs) AS kept
                    FROM c4gap g JOIN c4d d USING (doc_id)
                    GROUP BY g.doc_id
                )
                SELECT md5(coalesce(c4k.kept, d.t, '')) AS key,
                       d.doc_id AS v1,
                       CAST(coalesce(length(d.t), 0)
                            - coalesce(length(coalesce(c4k.kept, d.t)),
                                       0) AS BIGINT) AS v2
                FROM c4d d LEFT JOIN c4k USING (doc_id)
            ) cr
            UNION ALL
            -- URL/domain hygiene twin (r14): same messy-URL synth
            -- (group key g = doc_id % 211; domain/path derive from g,
            -- variant cycles on doc_id), same canonicalization recipe
            -- step for step (lowercase scheme+host, strip leading
            -- www., drop DEFAULT ports only, strip trailing slashes,
            -- drop tracking params via the &-prefixed boundary trick,
            -- drop fragment). Three tags from one canonical CTE.
            SELECT ur.tag, ur.key, ur.v1, ur.v2 FROM (
                WITH usyn AS (
                    SELECT doc_id, n_chars,
                        CAST(doc_id % 211 AS VARCHAR) AS g,
                        CAST((doc_id % 211) % 13 AS VARCHAR) AS d,
                        CAST((doc_id % 211) % 7 AS VARCHAR) AS p,
                        doc_id % 4 AS v
                    FROM documents
                ), uraw AS (
                    SELECT doc_id, n_chars,
                        CASE v
                        WHEN 0 THEN 'https://www.site' || g || '.ex'
                            || d || '.com/a/b' || p || '?id=' || g
                            || '&utm_source=feed'
                        WHEN 1 THEN 'HTTPS://' || upper('site' || g
                            || '.ex' || d || '.com') || ':443/a/b'
                            || p || '/?id=' || g
                        WHEN 2 THEN 'https://site' || g || '.ex' || d
                            || '.com/a/b' || p || '?utm_medium=x&id='
                            || g || '#frag'
                        ELSE 'https://www.site' || g || '.ex' || d
                            || '.com:443/a/b' || p || '?id=' || g
                            || '&gclid=zz'
                        END AS url
                    FROM usyn
                ), uparts AS (
                    SELECT doc_id, n_chars,
                        lower(regexp_extract(url,
                            '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                            AS scheme,
                        regexp_extract(url,
                            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)
                            AS hostport,
                        regexp_replace(regexp_extract(url,
                            '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)',
                            1), '/+$', '') AS path2,
                        regexp_replace(regexp_replace('&' ||
                            regexp_extract(url, '^[^#]*[?]([^#]*)', 1),
                            '&(utm_[^&]*|fbclid=[^&]*|gclid=[^&]*)',
                            '', 'g'), '^&+', '') AS q2
                    FROM uraw
                ), uhost AS (
                    -- userinfo stripped before port/host math; a
                    -- scheme-less or host-less input canonicalizes
                    -- to NULL ("no URL evidence"), mirroring
                    -- operators/urls.py exactly (r14 fix: the old
                    -- recipe collapsed every such string to '://')
                    SELECT doc_id, n_chars, scheme, path2, q2,
                        regexp_replace(lower(regexp_replace(
                            regexp_replace(hostport, '^[^@]*@', ''),
                            ':[0-9]+$', '')), '^www[.]', '') AS host,
                        regexp_extract(
                            regexp_replace(hostport, '^[^@]*@', ''),
                            ':([0-9]+)$', 1) AS port
                    FROM uparts
                ), ucn AS (
                    SELECT doc_id, n_chars,
                        CASE WHEN scheme = '' OR host = ''
                        THEN CAST(NULL AS VARCHAR)
                        ELSE scheme || '://' || host
                        || CASE WHEN port <> ''
                                AND NOT (scheme = 'https'
                                         AND port = '443')
                                AND NOT (scheme = 'http'
                                         AND port = '80')
                           THEN ':' || port ELSE '' END
                        || path2
                        || CASE WHEN q2 <> '' THEN '?' || q2
                           ELSE '' END END AS canonical,
                        regexp_extract(host, '([^.]+[.][^.]+)$', 1)
                            AS domain
                    FROM uhost
                )
                SELECT 'canon' AS tag, canonical AS key,
                       doc_id AS v1, CAST(NULL AS BIGINT) AS v2
                FROM ucn WHERE doc_id < 500
                UNION ALL
                SELECT 'url', canonical,
                       CAST(min(doc_id) AS BIGINT),
                       CAST(count(*) AS BIGINT)
                FROM ucn WHERE canonical IS NOT NULL
                GROUP BY canonical
                UNION ALL
                SELECT 'dom', domain,
                       CAST(count(*) AS BIGINT),
                       CAST(sum(n_chars) AS BIGINT)
                FROM ucn WHERE domain <> '' GROUP BY domain
            ) ur
        """,
        "exact_cardinality": f"""
            WITH g AS (
                SELECT lang,
                       count(DISTINCT md5({_NORM_SQL.format(c='text')}))
                           AS exact_distinct,
                       count(*) AS n_docs,
                       coalesce(string_agg(DISTINCT source, ','
                           ORDER BY source), '') AS sources_csv,
                       CAST(count(DISTINCT source) AS INT) AS n_sources,
                       -- FILTER NULLs: Spark's collect_set drops them,
                       -- DuckDB's list(DISTINCT ..) would keep one.
                       -- coalesce to []: an all-NULL group aggregates
                       -- to NULL here but to an EMPTY array in Spark
                       -- (list_contains/list_concat on NULL would
                       -- propagate NULL vs Spark's false/len)
                       coalesce(list_sort(list(DISTINCT source)
                           FILTER (WHERE source IS NOT NULL)), [])
                           AS srcs
                FROM documents GROUP BY lang
            ),
            -- vocab twin: per-lang wordcount, rank by (count desc,
            -- token), top-3 as rank-ordered tok:count CSV
            vtok AS (
                SELECT lang,
                       unnest(list_filter(string_split(
                           {_NORM_SQL.format(c='text')}, ' '),
                           x -> x <> '')) AS tok
                FROM documents
            ),
            vc AS (
                SELECT lang, tok, count(*) AS c
                FROM vtok GROUP BY 1, 2
            ),
            vr AS (
                SELECT lang, tok, c,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY c DESC, tok) AS rn
                FROM vc
            ),
            vocab AS (
                SELECT lang, CAST(count(*) AS BIGINT) AS n_vocab,
                       coalesce(string_agg(
                           CASE WHEN rn <= 3
                                THEN tok || ':' || CAST(c AS VARCHAR) END,
                           ',' ORDER BY rn), '') AS top_tokens
                FROM vr GROUP BY lang
            ),{_sql_bloom_cte()}
            -- coalesce(.., ''): DuckDB array_to_string of an EMPTY
            -- list is NULL, Spark concat_ws is '' — align to ''
            SELECT g.lang, exact_distinct, n_docs, sources_csv, n_sources,
                   coalesce(array_to_string(list_sort(list_intersect(srcs,
                       ['src1','src2','src42'])), ','), '') AS common_srcs,
                   coalesce(array_to_string(list_sort(list_filter(srcs,
                       x -> x NOT IN ('src1','src2','src42'))), ','), '')
                       AS extra_srcs,
                   CAST(len(list_distinct(list_concat(srcs,
                       ['src1','src2','src42']))) AS INT) AS n_union_ref,
                   list_contains(srcs, 'src1') AS has_src1,
                   CAST(coalesce(list_position(srcs, 'src1'), 0) AS BIGINT)
                       AS src1_pos,
                   coalesce(array_to_string(list_slice(srcs, 1, 2), ','), '')
                       AS first_two_srcs,
                   -- LEFT join + defaults: an all-empty-text lang
                   -- group has no vocab row; keep its cardinality row
                   coalesce(v.n_vocab, 0) AS n_vocab,
                   coalesce(v.top_tokens, '') AS top_tokens,
                   coalesce(b.bloom_bits_set, 0) AS bloom_bits_set,
                   coalesce(b.bloom_words, 0) AS bloom_words
            FROM g LEFT JOIN vocab v ON v.lang = g.lang
                   LEFT JOIN bstats b ON b.lang = g.lang
        """,
        "text_profile": _sql_text_profile(),
        "token_stats": f"""
            WITH t AS (
                SELECT doc_id,
                       text,
                       length(text) AS cl,
                       len(list_filter(string_split(
                           {_NORM_SQL.format(c="text")}, ' '),
                           x -> x <> '')) AS nt,
                       len(regexp_extract_all(text,
                           '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s'']+'))
                           AS bpe_tokens
                FROM documents
            )
            SELECT doc_id, nt AS ws_tokens, bpe_tokens,
                   coalesce(kw.top_terms, '') AS top_terms,
                   CAST(len(generate_series(1, greatest(cl - 50, 1), 150))
                        AS BIGINT) AS n_char_chunks,
                   CAST(list_sum(list_transform(
                        generate_series(1, greatest(cl - 50, 1), 150),
                        s -> least(200, greatest(cl - s + 1, 0))))
                        AS BIGINT) AS char_chunk_chars,
                   CAST(len(generate_series(1, greatest(nt - 8, 1), 32))
                        AS BIGINT) AS n_token_chunks,
                   CAST(list_sum(list_transform(
                        generate_series(1, greatest(nt - 8, 1), 32),
                        s -> least(40, greatest(nt - s + 1, 0))))
                        AS BIGINT) AS tok_chunk_tokens,
                   p.pack_start, p.pack_end, p.bin_first, p.bin_last,
                   cl.n_lines_total, cl.n_lines_kept, cl.clean_fp,
                   r.reasm_fp,
                   -- null-safe compare: a NULL-text doc has fp
                   -- md5('') but md5(text) NULL -> reasm_ok false on
                   -- both engines
                   (r.reasm_fp IS NOT DISTINCT FROM md5(t.text))
                       AS reasm_ok
            FROM t
            -- packing twin: plain running-total window of what the
            -- Spark side computes via distributed prefix-sum; NULL
            -- ids excluded on both sides (engines disagree on NULL
            -- sort position), left-joined back
            LEFT JOIN (
                -- coalesce(bpe_tokens, 0) THROUGHOUT: the Spark side
                -- coalesces a NULL-text doc's token count to 0 before
                -- the prefix sum; without the same here a NULL text
                -- would NULL the running total (latent cross-engine
                -- drift, same class as the chunk-sum alignment above)
                SELECT doc_id,
                       CAST(sum(coalesce(bpe_tokens, 0)) OVER w
                            - coalesce(bpe_tokens, 0) AS BIGINT)
                           AS pack_start,
                       CAST(sum(coalesce(bpe_tokens, 0)) OVER w AS BIGINT)
                           AS pack_end,
                       CAST(floor((sum(coalesce(bpe_tokens, 0)) OVER w
                                   - coalesce(bpe_tokens, 0))
                                  / 512.0) AS BIGINT) AS bin_first,
                       CAST(CASE WHEN coalesce(bpe_tokens, 0) > 0
                            THEN floor((sum(coalesce(bpe_tokens, 0)) OVER w
                                        - 1) / 512.0)
                            ELSE floor((sum(coalesce(bpe_tokens, 0)) OVER w
                                        - coalesce(bpe_tokens, 0))
                                       / 512.0)
                            END AS BIGINT) AS bin_last
                FROM t WHERE doc_id IS NOT NULL
                WINDOW w AS (ORDER BY doc_id ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW)
            ) p USING (doc_id)
            -- chunk→assemble round-trip twin: rebuild the
            -- zero-overlap 200-char windows analytically and
            -- string_agg them in window order. coalesce to '': a
            -- NULL text yields one NULL chunk, which Spark's
            -- array_join skips (assembled = '') but string_agg
            -- aggregates to NULL
            LEFT JOIN (
                SELECT doc_id,
                       md5(coalesce(string_agg(substring(text, s, 200),
                                               '' ORDER BY s), ''))
                           AS reasm_fp
                FROM (SELECT doc_id, text,
                             unnest(generate_series(1,
                                 greatest(length(text), 1), 200)) AS s
                      FROM documents) ch
                GROUP BY doc_id
            ) r USING (doc_id)
            -- keyword twin (r6): tf per (doc, token), vocabulary-
            -- sized df rollup, rank by (tf desc, df asc, token) —
            -- integer-exact tf-idf core, no log
            LEFT JOIN (
                WITH tf AS (
                    SELECT doc_id, tok, count(*) AS tf
                    FROM (SELECT doc_id, unnest(list_filter(
                              string_split({_NORM_SQL.format(c="text")},
                                           ' '), x -> x <> '')) AS tok
                          FROM documents)
                    GROUP BY 1, 2
                ), dfq AS (
                    SELECT tok, count(*) AS df FROM tf GROUP BY 1
                ), rk AS (
                    SELECT doc_id, tok, tf.tf, dfq.df,
                           row_number() OVER (PARTITION BY doc_id
                               ORDER BY tf.tf DESC, dfq.df ASC, tok)
                               AS rn
                    FROM tf JOIN dfq USING (tok)
                )
                SELECT doc_id,
                       string_agg(tok || ':' || CAST(tf AS VARCHAR)
                                  || ':' || CAST(df AS VARCHAR), ','
                                  ORDER BY rn) AS top_terms
                FROM rk WHERE rn <= 3 GROUP BY doc_id
            ) kw USING (doc_id)
            -- clean_lines twin (r8 widening, twin landed r9): same
            -- newline derivation (a break after every 5th word —
            -- non-overlapping groups, RE2 'g' = Java replace-all),
            -- list_filter with the >=4-words + no-'slow' predicates
            -- (words = runs of the explicit ASCII-whitespace
            -- complement class, identical to the Spark pass), md5 of
            -- the chr(10)-rejoined keepers. coalesce semantics match
            -- the Spark side: NULL text -> 0 counts + md5('').
            LEFT JOIN (
                WITH lv AS (
                    SELECT doc_id,
                           string_split(regexp_replace(text,
                               '((?:\\S+ ){{4}}\\S+) ',
                               '\\1' || chr(10), 'g'), chr(10)) AS lines
                    FROM documents
                ), kv AS (
                    SELECT doc_id, lines,
                           list_filter(lines, x ->
                               len(regexp_extract_all(x,
                                   '[^ \\t\\f\\r\\x0B\\n]+')) >= 4
                               AND NOT contains(lower(x), 'slow'))
                               AS kept
                    FROM lv
                )
                SELECT doc_id,
                       coalesce(len(lines), 0) AS n_lines_total,
                       coalesce(len(kept), 0) AS n_lines_kept,
                       md5(coalesce(array_to_string(kept, chr(10)), ''))
                           AS clean_fp
                FROM kv
            ) cl USING (doc_id)
        """,
        "corpus_quantiles": """
            WITH q AS (
                SELECT lang, count(*) AS n_docs,
                       avg(length(text)) AS avg_len,
                       quantile_cont(length(text), 0.5) AS p50,
                       quantile_cont(length(text), 0.9) AS p90,
                       quantile_cont(length(text), 0.99) AS p99
                FROM documents GROUP BY lang
            ),
            -- histogram twin: fixed 64-char bins, bin-ordered CSV —
            -- integer-exact, no interpolation to diverge on
            h AS (
                SELECT lang,
                       string_agg(CAST(bin AS VARCHAR) || ':'
                                  || CAST(c AS VARCHAR), ','
                                  ORDER BY bin) AS hist,
                       CAST(count(*) AS BIGINT) AS n_bins
                FROM (
                    SELECT lang,
                           CAST(floor(length(text) / 64) AS BIGINT) AS bin,
                           count(*) AS c
                    FROM documents WHERE text IS NOT NULL
                    GROUP BY 1, 2
                ) GROUP BY lang
            )
            ,
            -- trim twin (r6): per-lang [p5, p95] length band
            -- (quantile_cont == Spark exact percentile), keep-count +
            -- id checksum of the surviving docs
            tb AS (
                SELECT lang,
                       quantile_cont(length(text), 0.05) AS qlo,
                       quantile_cont(length(text), 0.95) AS qhi
                FROM documents GROUP BY lang
            ),
            tk AS (
                SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept_trim,
                       CAST(sum(d.doc_id) AS BIGINT) AS trim_sum_ids
                FROM documents d JOIN tb USING (lang)
                WHERE length(d.text) BETWEEN tb.qlo AND tb.qhi
                GROUP BY d.lang
            )
            SELECT q.*, coalesce(h.hist, '') AS hist,
                   coalesce(h.n_bins, 0) AS n_bins,
                   coalesce(tk.n_kept_trim, 0) AS n_kept_trim,
                   coalesce(tk.trim_sum_ids, 0) AS trim_sum_ids
            FROM q LEFT JOIN h USING (lang) LEFT JOIN tk USING (lang)
        """,
        "minhash_signatures": f"""
            WITH {_sql_minhash_sigs_cte()}
            SELECT * FROM sigs
        """,
        "minhash_lsh_pairs": f"""
            WITH RECURSIVE {_sql_minhash_sigs_cte()},
            bands AS (
                SELECT id, 0 AS band, md5(concat_ws('|', sig_0, sig_1)) AS band_key FROM sigs
                UNION ALL
                SELECT id, 1, md5(concat_ws('|', sig_2, sig_3)) FROM sigs
                UNION ALL
                SELECT id, 2, md5(concat_ws('|', sig_4, sig_5)) FROM sigs
                UNION ALL
                SELECT id, 3, md5(concat_ws('|', sig_6, sig_7)) FROM sigs
            ),
            pairs AS (
                SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM bands a
                JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                            AND a.id < b.id
            ),
            -- components by transitive closure + group-min: an
            -- independent formulation of the Spark side's iterative
            -- star-contraction (large-star/small-star)
            edges AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ),
            reach(u, v) AS (
                SELECT u, v FROM edges
                UNION
                SELECT r.u, e.v FROM reach r
                JOIN edges e ON r.v = e.u
                WHERE e.v <> r.u
            ),
            comp AS (
                SELECT u AS node, least(u, min(v)) AS component
                FROM reach GROUP BY u
            ),
            -- bucket-size histogram over the same bands (r8): the
            -- candidate-volume diagnostic the LSH adjudication
            -- showed dominates end-to-end dedup cost
            bsizes AS (
                SELECT band, band_key, count(*) AS sz
                FROM bands GROUP BY 1, 2
            ),
            bhist AS (
                -- C(sz,2) first, then the product — same overflow
                -- margin/order as the Spark side
                SELECT sz, count(*) AS n_buckets,
                       CAST(sz * (sz - 1) // 2 * count(*) AS BIGINT)
                           AS candidate_pairs
                FROM bsizes WHERE sz >= 2 GROUP BY sz
            )
            SELECT 'pair' AS tag, id_a, id_b, CAST(NULL AS BIGINT) AS n
            FROM pairs
            UNION ALL
            SELECT 'member', node, component, NULL FROM comp
            UNION ALL
            SELECT 'cluster', component, NULL, count(*)
            FROM comp GROUP BY component
            UNION ALL
            SELECT 'bucket', sz, candidate_pairs, n_buckets FROM bhist
            UNION ALL
            -- cross-corpus probe twin (r8): batch = id % 5 = 0,
            -- history = the rest; hit = any shared (band, band_key)
            SELECT DISTINCT 'seen', x.id, NULL, NULL
            FROM bands x
            JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
                        AND y.id % 5 <> 0
            WHERE x.id % 5 = 0
        """,
        "simhash": _sql_simhash(32),
        "ngram_jaccard": f"""
            WITH base AS (
                SELECT doc_id AS id, source AS block,
                       string_split({_NORM_SQL.format(c='text')}, ' ') AS tk
                FROM documents
            ),
            pos AS (
                SELECT id, block, tk,
                       unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
                FROM base
            ),
            grams AS (
                SELECT DISTINCT id, block,
                       concat_ws(' ', tk[CAST(i AS INT)],
                                      tk[CAST(i AS INT) + 1],
                                      tk[CAST(i AS INT) + 2]) AS gram
                FROM pos
            ),
            sizes AS (SELECT id, count(*) AS n_grams FROM grams GROUP BY id),
            inter AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
                FROM grams a
                JOIN grams b ON a.block = b.block AND a.gram = b.gram
                            AND a.id < b.id
                GROUP BY 1, 2
            ),
            -- decontamination twin: FULL 4-token windows only (no
            -- degraded short-doc gram), probes = doc_id % 41 = 0
            grams4 AS (
                SELECT DISTINCT id,
                       concat_ws(' ', tk[CAST(i AS INT)],
                                      tk[CAST(i AS INT) + 1],
                                      tk[CAST(i AS INT) + 2],
                                      tk[CAST(i AS INT) + 3]) AS gram
                FROM (SELECT id, tk,
                             unnest(generate_series(1, len(tk) - 3)) AS i
                      FROM base WHERE len(tk) >= 4)
            ),
            contam AS (
                SELECT dg.id,
                       CAST(count(DISTINCT dg.gram) AS BIGINT) AS n_hit_grams,
                       CAST(count(DISTINCT pg.id) AS BIGINT) AS n_hit_probes
                FROM (SELECT id, gram FROM grams4 WHERE id % 41 <> 0) dg
                JOIN (SELECT id, gram FROM grams4 WHERE id % 41 = 0) pg
                     USING (gram)
                GROUP BY dg.id
            )
            SELECT 'jac' AS tag, id_a, id_b,
                   round(n_inter / (sa.n_grams + sb.n_grams - n_inter), 6)
                       AS jaccard,
                   CAST(NULL AS BIGINT) AS v1, CAST(NULL AS BIGINT) AS v2
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE round(n_inter / (sa.n_grams + sb.n_grams - n_inter), 6) >= 0.02
            UNION ALL
            SELECT 'contam', id, NULL, CAST(NULL AS DOUBLE),
                   n_hit_grams, n_hit_probes
            FROM contam
            UNION ALL
            -- verification twin: same jac pair set, levenshtein over
            -- the 80-char normalized prefix (identical edit-distance
            -- definitions in both engines)
            SELECT 'lev', p.id_a, p.id_b, CAST(NULL AS DOUBLE),
                   CAST(levenshtein(ta.pt, tb.pt) AS BIGINT),
                   CAST(greatest(length(ta.pt), length(tb.pt)) AS BIGINT)
            FROM (
                SELECT id_a, id_b
                FROM inter
                JOIN sizes sa ON sa.id = id_a
                JOIN sizes sb ON sb.id = id_b
                WHERE round(n_inter / (sa.n_grams + sb.n_grams - n_inter),
                            6) >= 0.02
            ) p
            JOIN (SELECT doc_id AS id,
                         substr({_NORM_SQL.format(c='text')}, 1, 80) AS pt
                  FROM documents) ta ON ta.id = p.id_a
            JOIN (SELECT doc_id AS id,
                         substr({_NORM_SQL.format(c='text')}, 1, 80) AS pt
                  FROM documents) tb ON tb.id = p.id_b
        """,
        "cosine_topk": f"""
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings
                WHERE vec_id < 8 AND vec_id IS NOT NULL
                  AND embedding IS NOT NULL
            ),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
                 WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
            scored AS (
                SELECT query_id, neighbor_id,
                       round(({_sql_dot_chain('qv', 'cv')})
                             / (sqrt({_sql_norm_chain('qv')})
                                * sqrt({_sql_norm_chain('cv')})), 6) AS cosine
                FROM c, q WHERE neighbor_id <> query_id
            ),
            exact_k AS (
                SELECT query_id, neighbor_id, cosine, rank FROM (
                    SELECT *, CAST(row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id ASC
                    ) AS INT) AS rank
                    FROM scored
                ) WHERE rank <= 5
            ),
            -- sq8 tag: quantize -> dequantized shortlist -> exact re-score
            -- (operators/quantize.py, same arithmetic step for step)
            enc AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                       list_aggregate(list_transform(embedding,
                           x -> CAST(x AS DOUBLE)), 'min') AS mn,
                       list_aggregate(list_transform(embedding,
                           x -> CAST(x AS DOUBLE)), 'max') AS mx
                FROM embeddings
                WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
            ),
            dq AS (
                SELECT vec_id,
                       list_transform(v, x -> mn
                           + floor((x - mn) / s + 0.5) * s) AS dqv
                FROM (SELECT vec_id, v, mn,
                             CASE WHEN mx > mn THEN (mx - mn) / 255.0
                                  ELSE 1.0 END AS s
                      FROM enc)
            ),
            sq8_scored AS (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       round(({_sql_dot_chain('a.dqv', 'b.dqv')})
                             / (sqrt({_sql_norm_chain('a.dqv')})
                                * sqrt({_sql_norm_chain('b.dqv')})), 6)
                           AS acos
                FROM dq a JOIN dq b ON a.vec_id < 8
                                   AND b.vec_id <> a.vec_id
            ),
            shortlist AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY acos DESC, neighbor_id ASC
                    ) AS rk
                    FROM sq8_scored
                ) WHERE rk <= 20
            ),
            sq8_k AS (
                SELECT query_id, neighbor_id, cosine, rank FROM (
                    SELECT s.query_id, s.neighbor_id,
                           round(({_sql_dot_chain('q.qv', 'c.cv')})
                                 / (sqrt({_sql_norm_chain('q.qv')})
                                    * sqrt({_sql_norm_chain('c.cv')})), 6)
                               AS cosine,
                           CAST(row_number() OVER (
                               PARTITION BY s.query_id
                               ORDER BY round(({_sql_dot_chain('q.qv', 'c.cv')})
                                     / (sqrt({_sql_norm_chain('q.qv')})
                                        * sqrt({_sql_norm_chain('c.cv')})), 6)
                                     DESC,
                                   s.neighbor_id ASC
                           ) AS INT) AS rank
                    FROM shortlist s
                    JOIN q ON q.query_id = s.query_id
                    JOIN c ON c.neighbor_id = s.neighbor_id
                ) WHERE rank <= 5
            )
            SELECT *, 'exact' AS tag FROM exact_k
            UNION ALL
            SELECT *, 'sq8' AS tag FROM sq8_k
        """,
        "near_dup_cosine": f"""
            WITH RECURSIVE bb AS (
                SELECT vec_id, embedding,
                       {_sql_rh_bucket('embedding')} AS blk
                FROM embeddings
                WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
            ),
            lab AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round(({_sql_dot_chain('a.embedding', 'b.embedding')})
                             / (sqrt({_sql_norm_chain('a.embedding')})
                                * sqrt({_sql_norm_chain('b.embedding')})), 6)
                           AS cosine
                FROM (SELECT * FROM embeddings
                      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
                        AND label IS NOT NULL) a
                JOIN (SELECT * FROM embeddings
                      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
                        AND label IS NOT NULL) b
                  ON a.label = b.label AND a.vec_id < b.vec_id
            ),
            lsh AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round(({_sql_dot_chain('a.embedding', 'b.embedding')})
                             / (sqrt({_sql_norm_chain('a.embedding')})
                                * sqrt({_sql_norm_chain('b.embedding')})), 6)
                           AS cosine
                FROM bb a
                JOIN bb b
                  ON a.blk = b.blk AND a.vec_id < b.vec_id
            ),
            -- semdedup twin: components over the SAME lsh pair set
            -- (recursive closure + group-min); losers = non-minima
            sd_edges AS (
                SELECT id_a AS u, id_b AS v FROM lsh WHERE cosine >= 0.25
                UNION
                SELECT id_b, id_a FROM lsh WHERE cosine >= 0.25
            ),
            sd_reach(u, v) AS (
                SELECT u, v FROM sd_edges
                UNION
                SELECT r.u, e.v FROM sd_reach r
                JOIN sd_edges e ON r.v = e.u
                WHERE e.v <> r.u
            ),
            sd_losers AS (
                SELECT u AS node
                FROM sd_reach GROUP BY u
                HAVING least(u, min(v)) <> u
            )
            SELECT id_a, id_b, cosine, 'label' AS blocking FROM lab
            WHERE cosine >= 0.25
            UNION ALL
            SELECT id_a, id_b, cosine, 'lsh' AS blocking FROM lsh
            WHERE cosine >= 0.25
            UNION ALL
            SELECT vec_id, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                   'semdedup'
            FROM bb
            WHERE vec_id NOT IN (SELECT node FROM sd_losers)
        """,
        "multimodal_features": """
            WITH m AS (
                SELECT doc_id AS media_id,
                       CASE WHEN doc_id % 3 = 0 THEN 'image'
                            WHEN doc_id % 3 = 1 THEN 'audio'
                            ELSE 'video' END AS kind,
                       md5(text) AS h,
                       -- NULL text -> NULL payload -> the Spark stub
                       -- emits n_bytes 0 and all-zero features
                       CAST(coalesce(octet_length(CAST(text AS BLOB)), 0)
                            AS BIGINT) AS n_bytes
                FROM documents
            )
            SELECT media_id, kind, n_bytes,
                   -- coalesce 0.0: NULL payload -> stub features are zeros
                   coalesce(round(CAST(CAST(((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                         + (instr('0123456789abcdef', substr(h, 2, 1)) - 1)) / 255.0
                         AS FLOAT) AS DOUBLE), 6), 0.0) AS f0,
                   coalesce(round(CAST(CAST(((instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
                         + (instr('0123456789abcdef', substr(h, 4, 1)) - 1)) / 255.0
                         AS FLOAT) AS DOUBLE), 6), 0.0) AS f1,
                   coalesce(round(CAST(CAST(((instr('0123456789abcdef', substr(h, 5, 1)) - 1) * 16
                         + (instr('0123456789abcdef', substr(h, 6, 1)) - 1)) / 255.0
                         AS FLOAT) AS DOUBLE), 6), 0.0) AS f2,
                   coalesce(round(CAST(CAST(((instr('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
                         + (instr('0123456789abcdef', substr(h, 8, 1)) - 1)) / 255.0
                         AS FLOAT) AS DOUBLE), 6), 0.0) AS f3
            FROM m
        """,
        "media_plans": """
            WITH RECURSIVE m AS (
                SELECT doc_id AS media_id,
                       CAST(n_chars % 1920 + 16 AS INT) AS width,
                       CAST(n_chars % 1080 + 16 AS INT) AS height
                FROM documents WHERE doc_id % 3 = 0
            ),"""
        + _sql_media_dhash_cte()
        + _sql_media_phash_cte()
        + _sql_media_vhash_cte()
        + _sql_media_ahash_cte()
        + """, hampairs AS (
                SELECT * FROM (
                    SELECT a.media_id AS ida,
                           CAST(b.media_id AS BIGINT) AS idb,
                           CAST(bit_count(xor(a.band0, b.band0))
                                + bit_count(xor(a.band1, b.band1))
                                + bit_count(xor(a.band2, b.band2))
                                + bit_count(xor(a.band3, b.band3))
                                AS BIGINT) AS ham
                    FROM mbands a JOIN mbands b
                      ON a.media_id < b.media_id
                     AND a.band0 IS NOT NULL AND b.band0 IS NOT NULL
                     AND (a.band0 = b.band0 OR a.band1 = b.band1
                          OR a.band2 = b.band2 OR a.band3 = b.band3)
                ) WHERE ham <= 3
            ),
            -- media clusters: transitive closure over the UNION of
            -- the three modality pair sets (image Hamming, video
            -- Jaccard, audio offset votes) — the relational twin of
            -- the Spark side's pairs -> connected_components flow
            medges AS (
                SELECT ida AS u, idb AS v FROM hampairs
                UNION
                SELECT idb, ida FROM hampairs
                UNION
                SELECT ida, idb FROM vpair
                UNION
                SELECT idb, ida FROM vpair
                UNION
                SELECT ida, idb FROM apair
                UNION
                SELECT idb, ida FROM apair
            ),
            mreach(u, v) AS (
                SELECT u, v FROM medges
                UNION
                SELECT r.u, e.v FROM mreach r
                JOIN medges e ON r.v = e.u
                WHERE e.v <> r.u
            ),
            mcomp AS (
                SELECT u AS node, least(u, min(v)) AS component
                FROM mreach GROUP BY u
            )
            SELECT 'resize' AS tag, media_id,
                   CAST(width AS BIGINT) AS v1, CAST(height AS BIGINT) AS v2,
                   CAST(ceil(width * least(1.0, 512.0 / greatest(width, height)))
                        AS BIGINT) AS v3,
                   CAST(ceil(height * least(1.0, 512.0 / greatest(width, height)))
                        AS BIGINT) AS v4
            FROM m
            UNION ALL
            SELECT 'frame', media_id, CAST(f AS BIGINT),
                   NULL, NULL, NULL
            FROM (
                SELECT doc_id AS media_id,
                       unnest(generate_series(0, greatest(n_chars * 10 - 1, 0),
                                              1000)) AS f
                FROM documents WHERE doc_id % 3 = 2
            )
            UNION ALL
            SELECT 'dhash', media_id, band0, band1, band2, band3
            FROM mbands
            UNION ALL
            SELECT 'hampair', ida, idb, ham, NULL, NULL FROM hampairs
            UNION ALL
            SELECT 'phash', media_id, pband0, pband1, pband2, pband3
            FROM pbands
            UNION ALL
            -- NULL-payload images: the Spark kernel emits NULL bands
            SELECT 'phash', media_id, NULL, NULL, NULL, NULL
            FROM mh WHERE t IS NULL
            UNION ALL
            SELECT 'vhash', media_id, CAST(f AS BIGINT), h64, NULL, NULL
            FROM vhash
            UNION ALL
            SELECT 'vpair', ida, idb, shared, na, nb FROM vpair
            UNION ALL
            SELECT 'ahash', media_id, CAST(w AS BIGINT), h32, NULL, NULL
            FROM ahash
            UNION ALL
            SELECT 'apair', ida, idb, off, votes, NULL FROM apair
            UNION ALL
            SELECT 'mcluster', node, component,
                   CASE WHEN node = component THEN 1 ELSE 0 END,
                   NULL, NULL
            FROM mcomp
        """,
        "corpus_sample": _sql_corpus_sample(),
        "sparse_document": """
            SELECT CAST(event_id AS VARCHAR) AS _id,
                   '{' || concat_ws(',',
                       CASE WHEN user_id % 7 <> 0
                            THEN '"event_type":"' || event_type || '"' END,
                       '"user_id":' || user_id
                   ) || '}' AS doc_json
            FROM events
        """,
        "coerce_timestamp": """
            WITH p AS (
                SELECT event_id,
                       try_cast(
                           CASE WHEN event_id % 10 = 0 THEN 'not-a-date'
                                ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END
                           AS TIMESTAMP) AS parsed
                FROM events
            )
            SELECT event_id,
                   strftime(parsed, '%Y-%m-%d %H:%M:%S.%f') AS parsed_s,
                   CAST(year(parsed) AS INT) AS y,
                   CAST(month(parsed) AS INT) AS mo,
                   CAST(day(parsed) AS INT) AS d,
                   CAST(hour(parsed) AS INT) AS h,
                   CAST(minute(parsed) AS INT) AS mi,
                   CAST(isodow(parsed) AS INT) AS iso_dow,
                   CAST(dayofyear(parsed) AS INT) AS doy,
                   strftime(date_trunc('hour', parsed),
                            '%Y-%m-%d %H:%M:%S.%f') AS trunc_hour_s,
                   CAST(date_diff('day', DATE '2024-01-01',
                                  CAST(parsed AS DATE)) AS INT)
                       AS days_since_2024,
                   CAST(quarter(parsed) AS INT) AS q,
                   CAST(last_day(CAST(parsed AS DATE)) AS VARCHAR)
                       AS month_end,
                   CAST(CAST(parsed AS DATE) + 30 AS VARCHAR) AS plus_30d,
                   CAST(CAST(CAST(parsed AS DATE) + INTERVAL 1 MONTH
                             AS DATE) AS VARCHAR) AS plus_1mo
            FROM p
        """,
        "search_url": """
            SELECT doc_id, lang, n_chars
            FROM documents
            WHERE text LIKE '%table%' AND lang IN ('en', 'de')
              AND n_chars >= 150.0
            ORDER BY n_chars DESC, doc_id ASC
            LIMIT 15 OFFSET 30
        """,
        "lbc_format": """
            WITH raw AS (
                SELECT '{"list_id": ' || CAST(c_custkey AS VARCHAR)
                    || ', "subject": "' || c_name
                    || '", "price_cents": ['
                    || CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR)
                    || '], "date": "'
                    || CASE WHEN c_custkey % 11 = 0 THEN 'bad-date'
                            ELSE '2024-01-'
                                 || lpad(CAST(c_custkey % 27 + 1 AS VARCHAR), 2, '0')
                                 || ' 12:34:56' END
                    || '", "location": '
                    || CASE WHEN c_custkey % 5 = 0 THEN '"N/A"'
                            ELSE '{"city":"C' || CAST(c_nationkey AS VARCHAR)
                                 || '","zipcode":"'
                                 || lpad(CAST(c_nationkey AS VARCHAR), 5, '0')
                                 || '","lat":48.0,"lng":2.0}' END
                    || ', "attributes": [{"key":"seg","value":"'
                    || c_mktsegment || '"}]}' AS raw_json
                FROM customer
            ),
            sel AS (
                SELECT raw_json,
                       CAST(json_extract_string(raw_json, '$.price_cents[0]')
                            AS BIGINT) AS cents,
                       json_extract_string(raw_json, '$.location') AS loc
                FROM raw
            )
            SELECT CAST(json_extract_string(raw_json, '$.list_id') AS BIGINT) AS id,
                   json_extract_string(raw_json, '$.subject') AS title,
                   CASE WHEN cents IS NOT NULL AND cents <> 0
                        THEN cents / 100.0 END AS price,
                   strftime(try_cast(json_extract_string(raw_json, '$.date')
                                     AS TIMESTAMP),
                            '%Y-%m-%d %H:%M:%S.%f') AS date_s,
                   CASE WHEN trim(loc) LIKE '{%'
                        THEN json_extract_string(loc, '$.city') END AS city,
                   CASE WHEN trim(loc) LIKE '{%'
                        THEN json_extract_string(loc, '$.zipcode') END AS zipcode,
                   json_extract_string(raw_json, '$.attributes[0].value') AS seg
            FROM sel
        """,
        "ann_lsh_topk": f"""
            WITH cb AS (
                SELECT vec_id AS id, embedding AS cv,
                       {_sql_rh_bucket('embedding')} AS bucket
                FROM embeddings
                WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
            ),
            qb AS (
                SELECT vec_id AS query_id, embedding AS qv,
                       {_sql_rh_bucket('embedding')} AS bucket,
                       'closure' AS strategy
                FROM embeddings
                WHERE vec_id < 8 AND vec_id IS NOT NULL
                  AND embedding IS NOT NULL
                UNION ALL
                SELECT vec_id AS query_id, embedding AS qv,
                       {_sql_rh_bucket('embedding')} AS bucket,
                       'join' AS strategy
                FROM embeddings
                WHERE vec_id % 7 = 0 AND vec_id IS NOT NULL
                  AND embedding IS NOT NULL
            ),
            mtb AS (
                SELECT vec_id, embedding,
                       '0:' || {_sql_rh_bucket('embedding', seed=7)} AS blk
                FROM embeddings
                WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
                UNION ALL
                SELECT vec_id, embedding,
                       '1:' || {_sql_rh_bucket('embedding', seed=108)} AS blk
                FROM embeddings
                WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
            ),
            iv_cells AS (
                SELECT vec_id, embedding, cells.cell,
                       {_sql_ivf_cell_cos('embedding', _ivf_fixed_centroids())}
                           AS ccos
                FROM (SELECT * FROM embeddings
                      WHERE vec_id IS NOT NULL
                        AND embedding IS NOT NULL) embeddings,
                     (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS cells(cell)
            ),
            iv_rank AS (
                SELECT vec_id, embedding, cell,
                       row_number() OVER (PARTITION BY vec_id
                           ORDER BY ccos DESC, cell ASC) AS rnk
                FROM iv_cells
            ),
            scored AS (
                SELECT qb.query_id, cb.id AS neighbor_id, qb.strategy,
                       round(({_sql_dot_chain('qv', 'cv')})
                             / (sqrt({_sql_norm_chain('qv')})
                                * sqrt({_sql_norm_chain('cv')})), 6) AS cosine
                FROM cb JOIN qb ON cb.bucket = qb.bucket
                WHERE cb.id <> qb.query_id
                UNION ALL
                SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       'multi' AS strategy,
                       round(({_sql_dot_chain('q.embedding', 'c.embedding')})
                             / (sqrt({_sql_norm_chain('q.embedding')})
                                * sqrt({_sql_norm_chain('c.embedding')})), 6)
                           AS cosine
                FROM mtb c
                JOIN (SELECT * FROM mtb WHERE vec_id < 8) q
                  ON c.blk = q.blk AND c.vec_id <> q.vec_id
                UNION ALL
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       'ivf' AS strategy,
                       round(({_sql_dot_chain('q.embedding', 'c.embedding')})
                             / (sqrt({_sql_norm_chain('q.embedding')})
                                * sqrt({_sql_norm_chain('c.embedding')})), 6)
                           AS cosine
                FROM (SELECT * FROM iv_rank WHERE rnk = 1) c
                JOIN (SELECT * FROM iv_rank
                      WHERE rnk <= 2 AND vec_id < 8) q
                  ON c.cell = q.cell AND c.vec_id <> q.vec_id
            )
            SELECT query_id, neighbor_id, cosine, rank, strategy FROM (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY query_id, strategy
                    ORDER BY cosine DESC, neighbor_id ASC
                ) AS INT) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        "time_windows": """
            SELECT strftime(date_trunc('hour', ts),
                            '%Y-%m-%d %H:%M:%S.%f') AS w_start,
                   event_type,
                   count(*) AS n,
                   sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum,
                   'tumbling' AS win
            FROM events WHERE ts IS NOT NULL
            GROUP BY 1, 2
            UNION ALL
            SELECT w_start, event_type, n, value_sum, 'sliding' AS win
            FROM (
                WITH cand AS (
                    SELECT event_type, value,
                           make_timestamp(CAST(
                               (floor(epoch(ts) / 300) - t.o) * 300 * 1000000
                               AS BIGINT)) AS w_start
                    FROM events, (VALUES (0), (1)) AS t(o)
                    WHERE ts IS NOT NULL
                )
                SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S.%f') AS w_start,
                       event_type,
                       count(*) AS n,
                       sum(CAST(round(value * 100) AS BIGINT)) / 100.0
                           AS value_sum
                FROM cand
                GROUP BY 1, 2
            )
        """,
        "anti_join": """
            SELECT c_custkey, c_name, c_mktsegment, 'no_urgent' AS tag
            FROM customer c
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT'
            )
            UNION ALL
            SELECT c_custkey, c_name, c_mktsegment, 'has_urgent' AS tag
            FROM customer c
            WHERE EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT'
            )
        """,
        "distinct_agg": """
            SELECT c_mktsegment,
                   CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
                   CAST(count(DISTINCT o_orderpriority) AS BIGINT)
                       AS n_priorities,
                   count(*) AS n_orders,
                   CAST(bit_and(c_nationkey) AS BIGINT) AS nation_bit_and,
                   CAST(bit_or(c_nationkey) AS BIGINT) AS nation_bit_or,
                   CAST(bit_xor(c_nationkey) AS BIGINT) AS nation_bit_xor,
                   arg_min(c_name, o_orderkey) AS first_order_cust,
                   arg_max(c_name, o_orderkey) AS last_order_cust,
                   bool_and(o_totalprice > 1000) AS all_over_1k,
                   bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
                   CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT)
                       AS n_urgent
            FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c_mktsegment
        """,
        "set_ops": """
            WITH ca AS (SELECT user_id FROM events
                        WHERE event_type = 'click'),
                 pa AS (SELECT user_id FROM events
                        WHERE event_type = 'purchase'),
                 c AS (SELECT DISTINCT user_id FROM ca),
                 p AS (SELECT DISTINCT user_id FROM pa)
            SELECT user_id, 'only_click' AS tag
            FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
            UNION ALL
            SELECT user_id, 'both' AS tag
            FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
            UNION ALL
            SELECT user_id, 'only_click_all' AS tag
            FROM (SELECT user_id FROM ca EXCEPT ALL SELECT user_id FROM pa)
            UNION ALL
            SELECT user_id, 'both_all' AS tag
            FROM (SELECT user_id FROM ca INTERSECT ALL SELECT user_id FROM pa)
        """,
        "moving_avg": """
            SELECT event_id, user_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w
                        AS DOUBLE)
                       / (100.0 * count(*) OVER w) AS avg_value_4,
                   CAST(row_number() OVER wo AS INT) AS seq_n,
                   epoch_us(ts) - lag(epoch_us(ts), 1) OVER wo AS gap_us
            FROM events
            WHERE ts IS NOT NULL
            WINDOW w AS (
                PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
            ),
            wo AS (
                PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            )
        """,
        "price_regression": _sql_price_regression(),
        "cosine_topk_large_q": f"""
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings
                WHERE vec_id % 2 = 0 AND vec_id IS NOT NULL
                  AND embedding IS NOT NULL
            ),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
                 WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
            scored AS (
                SELECT query_id, neighbor_id,
                       round(({_sql_dot_chain('qv', 'cv')})
                             / (sqrt({_sql_norm_chain('qv')})
                                * sqrt({_sql_norm_chain('cv')})), 6) AS cosine
                FROM c, q WHERE neighbor_id <> query_id
            )
            SELECT query_id, neighbor_id, cosine, rank FROM (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id ASC
                ) AS INT) AS rank
                FROM scored
            ) WHERE rank <= 3
        """,
    }
