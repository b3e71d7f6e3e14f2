"""Ingest-guard scaling probes (r15, verdict #1/#2/#4): the three
measurements the r14 verdict asked for around the non-media admission
guards, in the media_probe/ab_probe protocol (synthetic sidecars
written to parquet and re-read; interleaved min-of-4 timing; one
markdown table + one JSON line for SCALE.md).

Modes:

- ``url N`` — the url_guard history probe swept 1x→32x of ``url_keys``
  rows (N at 32x) against a fixed duplicate-heavy batch (every batch
  url already admitted — the admission worst case). Three arms:
  the r15 probe shape (history scan inner-joined against the
  BROADCAST batch keys), the pre-r15 shape (batch LEFT-SEMI the
  sidecar — BroadcastHashJoin can only build the RIGHT side of a
  semi, so the corpus-sized sidecar shuffles), and a forced
  sort-merge baseline.

- ``compact N`` — the verdict-#1 before/after: the fingerprint and
  url guard probes timed against sidecars fragmented into ~2k
  per-batch-append-sized files, then again after
  ``compact_layer`` — the number that justifies scheduling
  compaction inside ``maintain_lake``.

- ``verify N [buckets]`` — the verdict-#2 admission-cost delta: the
  text gate's history probe with and without ``near_dup_verify``
  (candidate pairs + exact char-shingle Jaccard against the docs
  layer) on the same batch/history, isolating what verification adds
  per batch; plus the r16 ``gate_verified_ck_{scan,index}`` pair
  sharing one checkpointed candidate set. NOTE: this corpus is the
  DEGENERATE regime (skeleton texts, unbounded candidates) — the
  text index adaptively falls back to the docs scan there.

- ``verify_index N [buckets]`` — the r16 text-index measurement on
  the BOUNDED-candidate regime (hex-token texts; candidates = 250
  planted true near-dups): the docs-scan vs text-index history reads
  swept 1x→32x of history, in wall-clock AND in the files-opened /
  MB-read proxies object stores charge for (the url_bloom
  request-proxy precedent — local page cache flattens the wall-clock
  axis at probe scale).

- ``index_ingest N [buckets]`` — the r17 ingest-side companion to
  ``verify_index``: real ``incremental_ingest`` calls on copies of a
  1x→32x base lake, isolating the per-admitting-batch index append
  (novel batch, with vs without index), the replay completeness
  probe in BOTH regimes (bucket-pruned under N/4 coverage, one root
  read above it), and the index files added per batch (the
  between-compactions growth ``compact_due`` schedules against).

- ``fold N [buckets]`` — the r18 maintenance-cost trio: cheap tail
  fold (partitioned append) vs the r17 full-rewrite fold with the
  threshold one file apart on the same lake; the quarter-coverage
  replay heal answered by the id-presence sidecar vs the pre-r18
  index-root read; and the all-layers-due unattended sweep (the
  ``maintain_due=1`` micro-batch stall) vs the same backlog drained
  at ``max_layers=1``.

- ``fold_bytes N [buckets]`` — the r18 fold measurement on the BYTE
  axis: long texts + few buckets so corpus bytes dominate the
  file-create floor (which the 4096-bucket ``fold`` sweep showed
  hides the full rewrite's corpus-sized read+write term at probe
  scale); cheap vs full fold only, 1x→32x corpus size.

- ``fold_unit N [buckets]`` — the r18 stall-floor before/after on
  one post-fold lake: the per-bucket reclaim unit
  (``compact_index_buckets`` via a properly-sized threshold) vs the
  pre-r18 whole-layer rewrite of the same base, plus how many
  capped reclaim calls drain the backlog.

Bench-side measurement only — never a correctness input.

Usage: python tools/guard_probe.py \
    url|compact|verify|verify_index|index_ingest|bloom|fold [N]
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from projet_big_data_boutin_danre_spark.corpus_pipeline import compact_layer
from projet_big_data_boutin_danre_spark.operators import dedup
from projet_big_data_boutin_danre_spark.session import get_spark

from media_probe import interleaved_min  # noqa: E402  (same tools dir)


def _url(idc) -> F.Column:
    return F.concat(
        F.lit("https://site"),
        (idc % 100_000).cast("string"),
        F.lit(".ex"),
        (idc % 13).cast("string"),
        F.lit(".com/p/"),
        idc.cast("string"),
    )


def url_main(n_max: int) -> None:
    spark = get_spark("guard_probe_url")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="guard_probe_url_")
    ks = [1, 4, 16, 32]
    base_n = max(n_max // 32, 1)
    results: dict[str, dict[int, float]] = {}
    try:
        # fixed duplicate-heavy batch: 5k urls all already admitted,
        # arriving under fresh doc ids (the admission worst case)
        batch = (
            spark.range(5_000)
            .select(
                (F.col("id") + F.lit(10 * n_max)).alias("doc_id"),
                _url(F.col("id")).alias("canonical_url"),
            )
            .localCheckpoint()
        )
        for k in ks:
            n = base_n * k
            kd = f"{work}/k{k}"
            spark.range(n).select(
                F.col("id").alias("doc_id"),
                _url(F.col("id")).alias("canonical_url"),
            ).write.mode("overwrite").parquet(f"{kd}/url_keys")
            hist = spark.read.parquet(f"{kd}/url_keys")

            probes = {
                # r15 shape: history streamed, batch broadcast
                "url_seen_broadcast": lambda: hist.select("canonical_url")
                .join(F.broadcast(batch), "canonical_url")
                .select("doc_id")
                .distinct()
                .count(),
                # pre-r15 shape as written: LEFT-SEMI with the
                # corpus-sized sidecar on the right (build side)
                "url_seen_leftsemi": lambda: batch.join(
                    hist.select("canonical_url"), "canonical_url",
                    "left_semi",
                ).count(),
                # forced shuffle+sort of history per batch
                "url_seen_naiveSMJ": lambda: batch.join(
                    hist.select("canonical_url").hint("merge"),
                    "canonical_url",
                    "left_semi",
                ).count(),
            }
            best = interleaved_min(probes)
            for name, t in best.items():
                results.setdefault(name, {})[k] = t
            shutil.rmtree(kd, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n| probe | " + " | ".join(f"{k}x" for k in ks) + " | exponent |")
    print("|---" * (len(ks) + 2) + "|")
    exps = {}
    for name, ts in results.items():
        exp = math.log(
            max(ts[ks[-1]], 1e-3) / max(ts[ks[0]], 1e-3)
        ) / math.log(ks[-1] / ks[0])
        exps[name] = round(exp, 2)
        print(
            f"| {name} | "
            + " | ".join(f"{ts[k]:.2f}" for k in ks)
            + f" | {exps[name]} |"
        )
    print()
    print(json.dumps({
        "mode": "url", "base_rows": base_n, "ks": ks,
        "timings": results, "exponents": exps,
    }))


def compact_main(n_rows: int, n_files: int = 2_048) -> None:
    spark = get_spark("guard_probe_compact")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="guard_probe_compact_")
    try:
        # guard sidecars fragmented like a lake after n_files
        # micro-batch appends (repartition mimics the file litter —
        # the probe cost depends on file count, not append history)
        spark.range(n_rows).select(
            F.md5(F.col("id").cast("string")).alias("fingerprint"),
            F.col("id").alias("doc_id"),
        ).repartition(n_files).write.mode("overwrite").parquet(
            f"{work}/fingerprints"
        )
        spark.range(n_rows).select(
            F.col("id").alias("doc_id"),
            _url(F.col("id")).alias("canonical_url"),
        ).repartition(n_files).write.mode("overwrite").parquet(
            f"{work}/url_keys"
        )
        batch_fp = (
            spark.range(5_000)
            .select(
                F.md5((F.col("id") + 7 * n_rows).cast("string")).alias(
                    "fingerprint"
                ),
                (F.col("id") + F.lit(10 * n_rows)).alias("doc_id"),
            )
            .localCheckpoint()
        )
        batch_url = (
            spark.range(5_000)
            .select(
                (F.col("id") + F.lit(10 * n_rows)).alias("doc_id"),
                _url(F.col("id")).alias("canonical_url"),
            )
            .localCheckpoint()
        )

        def _probes():
            fp = spark.read.parquet(f"{work}/fingerprints")
            uk = spark.read.parquet(f"{work}/url_keys")
            return {
                "fp_guard_anti": lambda: batch_fp.join(
                    fp.select("fingerprint"), "fingerprint", "left_anti"
                ).count(),
                "url_probe_broadcast": lambda: uk.select("canonical_url")
                .join(F.broadcast(batch_url), "canonical_url")
                .select("doc_id")
                .distinct()
                .count(),
                # the metadata-bound op class (footer-only count —
                # what per-batch total_docs used to be, and what every
                # listing-shaped cost behaves like): this is where
                # file count shows even on a local fs; scan-bound
                # probes above hide it behind data-read CPU until the
                # store charges per file open (object stores)
                "fp_layer_count": lambda: spark.read.parquet(
                    f"{work}/fingerprints"
                ).count(),
            }

        before = interleaved_min(_probes())
        t0 = time.time()
        cfp = compact_layer(spark, f"{work}/fingerprints")
        cuk = compact_layer(spark, f"{work}/url_keys")
        compact_s = round(time.time() - t0, 2)
        after = interleaved_min(_probes())
        print(
            f"\n| probe | fragmented ({cfp['files_before']}+"
            f"{cuk['files_before']} files) | compacted "
            f"({cfp['files_after']}+{cuk['files_after']} files) |"
        )
        print("|---|---|---|")
        for name in before:
            print(f"| {name} | {before[name]:.2f} | {after[name]:.2f} |")
        print(f"\ncompaction of both layers: {compact_s}s (one-off)")
        print()
        print(json.dumps({
            "mode": "compact", "rows": n_rows, "files": n_files,
            "before": before, "after": after,
            "compact_seconds": compact_s,
            "files_before": cfp["files_before"] + cuk["files_before"],
            "files_after": cfp["files_after"] + cuk["files_after"],
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _plan_metric(df, key: str) -> int:
    """Sum a named scan metric over ``df``'s executed physical plan,
    walking through AQE / query-stage / reused-exchange wrappers.
    Call AFTER an action on ``df``."""
    acc = []

    def walk(node):
        cn = node.getClass().getSimpleName()
        if cn == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cn.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if cn == "ReusedExchangeExec":
            walk(node.child())
            return
        try:
            m = node.metrics()
            if m.contains(key):
                acc.append(int(m.apply(key).value()))
        except Exception:
            pass
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return sum(acc)


def _plan_files(df) -> int:
    """Files actually OPENED by the last execution of ``df``'s plan,
    from Spark's own ``numFiles`` scan metric (r16, verdict #4). This
    is the request-count proxy for object stores: every parquet file
    a plan opens is >=1 GET (footer) + >=1 GET per row-group read,
    priced per request on S3/GCS — the cost dimension local-fs
    wall-clock can't see. Call AFTER an action on ``df``."""
    return _plan_metric(df, "numFiles")


def _plan_read_mb(df) -> float:
    """Bytes of parquet files read (``filesSize`` scan metric, MB) —
    the GET-volume proxy: on an object store every byte scanned is
    transferred; the page cache that flattens local-fs wall-clock
    does not exist there."""
    return round(_plan_metric(df, "filesSize") / 1e6, 1)


def bloom_mode_main(n_rows: int, hex_chars: int = 7) -> None:
    """url_bloom fastpath measurement (r15): a NOVEL batch against a
    bloom-fronted url guard skips the sidecar scan (probe-only,
    O(batch)); the same batch without the filter pays the full scan;
    a duplicate-heavy batch pays probe + scan either way. Filter
    geometry must fit broadcast (hex 7 = 2^28 bits ≈ 34 MiB, good to
    ~27M keys at 1% fpp) — the envelope note in SCALE.md; the filter
    build is lake state (one-off / maintained), kept outside the
    per-batch timing."""
    from projet_big_data_boutin_danre_spark.operators import (
        bloom as bloom_ops,
    )

    spark = get_spark("guard_probe_bloom")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="guard_probe_bloom_")
    try:
        spark.range(n_rows).select(
            F.col("id").alias("doc_id"),
            _url(F.col("id")).alias("canonical_url"),
        ).write.mode("overwrite").parquet(f"{work}/url_keys")
        hist = spark.read.parquet(f"{work}/url_keys")
        ublm = bloom_ops.bloom_build(
            hist.select("canonical_url"), "canonical_url",
            hex_chars=hex_chars,
        ).localCheckpoint()
        dup = (
            spark.range(5_000)
            .select(
                (F.col("id") + F.lit(10 * n_rows)).alias("doc_id"),
                _url(F.col("id")).alias("canonical_url"),
            )
            .localCheckpoint()
        )
        novel = (
            spark.range(5_000)
            .select(
                (F.col("id") + F.lit(10 * n_rows)).alias("doc_id"),
                _url(F.col("id") + F.lit(7 * n_rows)).alias(
                    "canonical_url"
                ),
            )
            .localCheckpoint()
        )

        def _scan(batch):
            return (
                hist.select("canonical_url")
                .join(F.broadcast(batch), "canonical_url")
                .select("doc_id")
                .distinct()
                .count()
            )

        def _bloomed(batch):
            probed = bloom_ops.bloom_probe(
                batch, ublm, "canonical_url", hex_chars=hex_chars
            ).localCheckpoint()
            maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
            if maybe.first() is None:
                return 0
            return _scan(maybe)

        probes = {
            "novel_plain_scan": lambda: _scan(novel),
            "novel_bloom_skip": lambda: _bloomed(novel),
            "dup_plain_scan": lambda: _scan(dup),
            "dup_bloom_confirm": lambda: _bloomed(dup),
        }
        best = interleaved_min(probes)
        hits = {nm: fn() for nm, fn in probes.items()}
        print("\n| arm | seconds | hits |")
        print("|---|---|---|")
        for nm in probes:
            print(f"| {nm} | {best[nm]:.2f} | {hits[nm]} |")

        # ------- request-count proxy (r16, verdict #4) -------------
        # The r15 local-fs wall-clock NEGATIVE measured the wrong
        # currency for the knob's target regime: object stores price
        # per REQUEST, and the filter's value is the files a batch
        # never opens. Count files actually opened per arm (Spark's
        # own numFiles scan metric), in the PRODUCTION shape — the
        # filter read from its parquet layer per batch, like
        # incremental_ingest does — against (a) the freshly written
        # compacted sidecar and (b) the same sidecar fragmented into
        # 512 files, i.e. a few hundred per-batch appends since the
        # last maintain_lake sweep (the steady state the compaction
        # threshold allows). LIST requests add 1 per layer per batch
        # on both arms — constant, omitted.
        ublm.coalesce(8).write.mode("overwrite").parquet(
            f"{work}/url_bloom"
        )
        hist.repartition(512).write.mode("overwrite").parquet(
            f"{work}/url_keys_frag"
        )
        # AQE OFF for the (untimed) counting pass only: its
        # empty-relation propagation REPLACES already-executed stages
        # in the final tree (a zero-match join collapses to
        # EmptyRelationExec), hiding the scan that did open the files
        # — the static plan's numFiles equals the actual opens
        spark.conf.set("spark.sql.adaptive.enabled", "false")

        def _scan_files(side, batch):
            df = (
                side.select("canonical_url")
                .join(F.broadcast(batch), "canonical_url")
                .select("doc_id")
                .distinct()
            )
            # collect, not count: Dataset.count() runs its OWN
            # QueryExecution (an internal groupBy), leaving this
            # plan's numFiles metric unset; results are batch-bounded
            df.collect()
            return _plan_files(df)

        def _bloom_files(side, batch):
            filt = spark.read.parquet(f"{work}/url_bloom")
            probed = bloom_ops.bloom_probe(
                batch, filt, "canonical_url", hex_chars=hex_chars
            )
            maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
            n_maybe = len(maybe.collect())  # collect: see _scan_files
            # the executed maybe-plan CONTAINS the filter scan — its
            # numFiles sum is exactly what this batch's probe opened
            opened = _plan_files(maybe)
            if n_maybe == 0:
                return opened
            # production materializes the probe result before the
            # confirm join (one probe read total); the checkpoint's
            # re-execution here is an instrumentation artifact and is
            # deliberately not counted
            return opened + _scan_files(side, maybe.localCheckpoint())

        layouts = {
            "compacted": hist,
            "fragmented_512": spark.read.parquet(
                f"{work}/url_keys_frag"
            ),
        }
        freq = {}
        print("\n| arm | files opened (compacted) | (fragmented 512) |")
        print("|---|---|---|")
        for nm, arm in (
            ("novel_plain_scan", _scan_files),
            ("novel_bloom_skip", _bloom_files),
            ("dup_plain_scan", _scan_files),
            ("dup_bloom_confirm", _bloom_files),
        ):
            batch = novel if nm.startswith("novel") else dup
            freq[nm] = {
                lay: arm(side, batch) for lay, side in layouts.items()
            }
            print(
                f"| {nm} | {freq[nm]['compacted']} "
                f"| {freq[nm]['fragmented_512']} |"
            )
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        print()
        print(json.dumps({
            "mode": "bloom", "rows": n_rows, "hex_chars": hex_chars,
            "timings": best, "hits": hits, "files_opened": freq,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _doc_text(idc, prefix: str = "w") -> F.Column:
    # `prefix` separates doc families: at 1M+ docs the per-slot value
    # space (mod 9973) saturates, so any same-prefix doc shares most
    # of its shingle skeleton with SOME history doc — genuinely fresh
    # docs need a disjoint word alphabet, not just fresh ids.
    # r16 sweep fix (the verdict-#3 "fresh-alphabet corpus"): the
    # alphabet is additionally scoped per 250k-id BLOCK, so growing
    # history adds DISJOINT content (how a real crawl grows) instead
    # of ever-denser near-copies of the same 9973-value skeletons —
    # without this, band-bucket sizes grow WITH history and the
    # candidate set measures corpus degeneracy, not the verify cost
    # (at 32M docs the unbounded candidate broadcast OOMed the
    # driver; production bounds it with lsh_max_bucket).
    blk = (idc.cast("long") / F.lit(250_000)).cast("long").cast("string")
    parts = []
    for j in range(14):
        parts.append(
            F.concat(
                F.lit(f"{prefix}{j}b"),
                blk,
                F.lit("t"),
                ((idc * (j * 2 + 3)) % 9_973).cast("string"),
            )
        )
    return F.concat_ws(" ", *parts)


def verify_main(n_docs: int, buckets: int = 4096) -> None:
    spark = get_spark("guard_probe_verify")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="guard_probe_verify_")
    try:
        docs = spark.range(n_docs).select(
            F.col("id").alias("doc_id"), _doc_text(F.col("id")).alias("text")
        )
        docs.write.mode("overwrite").parquet(f"{work}/docs")
        dedup.lsh_bands(
            dedup.minhash_signatures(
                docs, "doc_id", "text", hash_family="fast"
            ),
            hash_family="fast",
        ).write.mode("overwrite").parquet(f"{work}/band_buckets")
        hist_docs = spark.read.parquet(f"{work}/docs")
        seen_b = spark.read.parquet(f"{work}/band_buckets")
        # batch: 250 true near-dups of history (text + one extra word,
        # fresh ids) + 250 genuinely fresh docs — candidates exist but
        # are bounded, the realistic verify regime
        nd = (
            spark.range(250)
            .select(F.col("id").alias("doc_id"),
                    _doc_text(F.col("id")).alias("text"))
            .select(
                (F.col("doc_id") + F.lit(10 * n_docs)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zz9qq7")).alias("text"),
            )
        )
        fresh = spark.range(250).select(
            (F.col("id") + F.lit(20 * n_docs)).alias("doc_id"),
            _doc_text(F.col("id"), prefix="zfresh").alias("text"),
        )
        batch = nd.unionByName(fresh).localCheckpoint()
        batch_bands = dedup.lsh_bands(
            dedup.minhash_signatures(
                batch, "doc_id", "text", hash_family="fast"
            ),
            hash_family="fast",
        ).localCheckpoint()

        wb_pairs = dedup.minhash_lsh_pairs(
            batch, "doc_id", "text",
            scale_profile="production", hash_family="fast",
            bands_df=batch_bands,
        ).localCheckpoint()

        # r16 text index: one-time build (reported separately — it is
        # maintenance, not per-batch cost), then two arms sharing ONE
        # pre-checkpointed candidate-pair set so their delta isolates
        # the HISTORY-READ cost the index removes (the legacy
        # gate_verified arm keeps its original shape for continuity
        # with the r16 SCALE.md table)
        from projet_big_data_boutin_danre_spark.corpus_pipeline import (
            _indexed_verify_history,
            build_text_index,
        )

        t0 = time.time()
        bres = build_text_index(spark, work, buckets=buckets)
        t_build = time.time() - t0
        cand_ck = dedup.lsh_seen_ids(
            None, seen_b, "doc_id", "text",
            bands_df=batch_bands, return_pairs=True,
        ).localCheckpoint()

        probes = {
            "gate_verified_ck_scan": lambda: dedup.verify_candidates_jaccard(
                batch, hist_docs, cand_ck, "doc_id", "text",
                min_jaccard=0.5,
            ).count(),
            "gate_verified_ck_index": lambda: dedup.verify_candidates_jaccard(
                batch,
                _indexed_verify_history(
                    spark, f"{work}/docs",
                    f"{work}/text_index_b{buckets}",
                    buckets, cand_ck, "doc_id", "text",
                ),
                cand_ck, "doc_id", "text", min_jaccard=0.5,
            ).count(),
            "gate_plain": lambda: dedup.lsh_seen_ids(
                None, seen_b, "doc_id", "text", bands_df=batch_bands
            ).count(),
            "gate_verified": lambda: dedup.verify_candidates_jaccard(
                batch,
                hist_docs,
                dedup.lsh_seen_ids(
                    None, seen_b, "doc_id", "text",
                    bands_df=batch_bands, return_pairs=True,
                ),
                "doc_id",
                "text",
                min_jaccard=0.5,
            ).count(),
            # within-batch stage: raw candidate pairs vs the same
            # pairs rescored by exact jaccard (pair-set-sized — the
            # r15 within-batch verify's marginal cost)
            "wb_pairs_plain": lambda: wb_pairs.count(),
            "wb_pairs_verified": lambda: dedup.verify_pairs_jaccard(
                batch, "doc_id", "text", wb_pairs, min_jaccard=0.5
            ).count(),
        }
        best = interleaved_min(probes)
        hits = {nm: fn() for nm, fn in probes.items()}
        print("\n| arm | seconds | blocked ids / pairs |")
        print("|---|---|---|")
        for nm in probes:
            print(f"| {nm} | {best[nm]:.2f} | {hits[nm]} |")
        print(f"\nindex build (one-time): {t_build:.2f}s, "
              f"{bres['files']} files")
        print(json.dumps({
            "mode": "verify", "n_docs": n_docs, "buckets": buckets,
            "timings": best,
            "hits": hits, "index_build_s": round(t_build, 2),
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _doc_text_unique(idc, prefix: str = "u") -> F.Column:
    # genuinely disjoint shingle material: tokens are md5 hex of
    # (prefix, id, j), so no two docs share CHAR 8-grams beyond
    # chance — the first cut used `u{j}q{id}z{j}` tokens, whose
    # digit-pattern 8-grams overlap heavily across ids (the gate
    # shingles CHARACTERS, not tokens) and band-collided ~everything
    # into an unbounded pair set at 250k docs. With hex tokens the
    # only LSH candidates are deliberate true near-dups — the
    # bounded-candidate regime `near_dup_verify` is documented for
    # (the `_doc_text` skeleton corpus measures the DEGENERATE
    # regime, where the index's adaptive fallback routes to the
    # docs scan).
    parts = [
        F.md5(
            F.concat_ws(
                "_", F.lit(prefix), idc.cast("string"), F.lit(str(j))
            )
        )
        for j in range(14)
    ]
    return F.concat_ws(" ", *parts)


def verify_index_main(n_max: int, buckets: int = 4096) -> None:
    """Sweep the verify stage's HISTORY-READ arms 1x→32x of history
    size on a bounded-candidate corpus (unique texts; the only
    candidates are 250 planted true near-dups): the docs-layer scan
    (the pre-r16 plan) grows with the corpus, the text-index read
    grows only with the candidate buckets — the 100 TB argument for
    build_text_index, measured."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _indexed_verify_history,
        _live_bucket_paths,
        build_text_index,
    )

    spark = get_spark("guard_probe_verify_index")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="guard_probe_vindex_")
    ks = [1, 4, 16, 32]
    base_n = max(n_max // 32, 1)
    results: dict[str, dict[int, float]] = {}
    builds: dict[int, float] = {}
    cands: dict[int, int] = {}
    proxies: dict[str, dict[int, float]] = {}
    try:
        for k in ks:
            n = base_n * k
            kd = f"{work}/k{k}"
            docs = spark.range(n).select(
                F.col("id").alias("doc_id"),
                _doc_text_unique(F.col("id")).alias("text"),
            )
            docs.write.mode("overwrite").parquet(f"{kd}/docs")
            dedup.lsh_bands(
                dedup.minhash_signatures(
                    docs, "doc_id", "text", hash_family="fast"
                ),
                hash_family="fast",
            ).write.mode("overwrite").parquet(f"{kd}/band_buckets")
            hist_docs = spark.read.parquet(f"{kd}/docs")
            seen_b = spark.read.parquet(f"{kd}/band_buckets")
            t0 = time.time()
            build_text_index(spark, kd, buckets=buckets)
            builds[k] = round(time.time() - t0, 2)
            # 250 true near-dups of scattered history docs + 250
            # genuinely fresh docs (fresh ids, fresh alphabet)
            nd = spark.range(250).select(
                (F.col("id") * F.lit(max(n // 250, 1))).alias("src")
            ).select(
                (F.col("src") + F.lit(10 * n)).alias("doc_id"),
                F.concat(
                    _doc_text_unique(F.col("src")), F.lit(" zz9qq7")
                ).alias("text"),
            )
            fresh = spark.range(250).select(
                (F.col("id") + F.lit(20 * n)).alias("doc_id"),
                _doc_text_unique(F.col("id"), prefix="zf").alias("text"),
            )
            batch = nd.unionByName(fresh).localCheckpoint()
            bb = dedup.lsh_bands(
                dedup.minhash_signatures(
                    batch, "doc_id", "text", hash_family="fast"
                ),
                hash_family="fast",
            ).localCheckpoint()
            cand = dedup.lsh_seen_ids(
                None, seen_b, "doc_id", "text",
                bands_df=bb, return_pairs=True,
            ).localCheckpoint()
            cands[k] = cand.select("seen_id").distinct().count()
            probes = {
                "verify_docs_scan": lambda: dedup.verify_candidates_jaccard(
                    batch, hist_docs, cand, "doc_id", "text",
                    min_jaccard=0.5,
                ).count(),
                "verify_text_index": lambda: dedup.verify_candidates_jaccard(
                    batch,
                    _indexed_verify_history(
                        spark, f"{kd}/docs",
                        f"{kd}/text_index_b{buckets}",
                        buckets, cand, "doc_id", "text",
                    ),
                    cand, "doc_id", "text", min_jaccard=0.5,
                ).count(),
            }
            best = interleaved_min(probes)
            for name, t in best.items():
                results.setdefault(name, {})[k] = t
            # request/volume proxy (the url_bloom precedent): local-fs
            # wall-clock hides the corpus read behind the page cache,
            # so also count the files OPENED and MB READ by each arm's
            # history read — the dimensions object stores charge for.
            # AQE off so empty-relation propagation can't hide an
            # executed scan; collect, not count (count runs its own
            # QueryExecution, leaving these metrics unset).
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            hist_ids = (
                cand.select("seen_id").distinct()
                .withColumnRenamed("seen_id", "doc_id")
                .localCheckpoint()
            )
            scan_read = hist_docs.select("doc_id", "text").join(
                F.broadcast(hist_ids), "doc_id", "left_semi"
            )
            scan_read.collect()
            proxies.setdefault("scan_files", {})[k] = _plan_files(
                scan_read
            )
            proxies.setdefault("scan_mb", {})[k] = _plan_read_mb(
                scan_read
            )
            bks = [
                int(r["b"])
                for r in hist_ids.select(
                    F.pmod(
                        F.xxhash64(F.col("doc_id")), F.lit(buckets)
                    ).alias("b")
                ).distinct().collect()
            ]
            live = _live_bucket_paths(
                spark, f"{kd}/text_index_b{buckets}", bks
            )
            idx_read = (
                spark.read.parquet(*live)
                .select("doc_id", "text")
                .join(F.broadcast(hist_ids), "doc_id", "left_semi")
            )
            idx_read.collect()
            proxies.setdefault("index_files", {})[k] = _plan_files(
                idx_read
            )
            proxies.setdefault("index_mb", {})[k] = _plan_read_mb(
                idx_read
            )
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            shutil.rmtree(kd, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n| arm | " + " | ".join(f"{k}x" for k in ks) + " | exponent |")
    print("|---" * (len(ks) + 2) + "|")
    exps = {}
    for name, ts in results.items():
        exp = math.log(
            max(ts[ks[-1]], 1e-3) / max(ts[ks[0]], 1e-3)
        ) / math.log(ks[-1] / ks[0])
        exps[name] = round(exp, 2)
        print(
            f"| {name} | "
            + " | ".join(f"{ts[k]:.2f}" for k in ks)
            + f" | {exps[name]} |"
        )
    print("\n| history-read proxy | "
          + " | ".join(f"{k}x" for k in ks) + " |")
    print("|---" * (len(ks) + 1) + "|")
    for name, vs in proxies.items():
        print(
            f"| {name} | " + " | ".join(str(vs[k]) for k in ks) + " |"
        )
    print(f"\nindex builds (one-time, s): {builds}")
    print(f"distinct candidate ids per sweep point: {cands}")
    print()
    print(json.dumps({
        "mode": "verify_index", "base_rows": base_n, "ks": ks,
        "buckets": buckets, "timings": results, "exponents": exps,
        "proxies": proxies,
        "index_build_s": builds, "cand_ids": cands,
    }))


def index_ingest_main(n_max: int, buckets: int = 4096) -> None:
    """r17 (verdict #3): the text index's INGEST-side overhead —
    SCALE.md quantifies the read side (verify_index mode) but every
    admitting batch now also pays an index append, and replay batches
    pay a bucket-pruned completeness probe. Sweep history 1x→32x and
    time real ``incremental_ingest`` calls on copies of one base
    lake:

    - ``novel_{no,with}_index``: a 5k fresh-doc batch — the delta is
      the per-admitting-batch index append (plus discovery listing).
      A fully-novel batch's heal probe is ALREADY gated for free:
      prior_batch_ids is empty, so the bucket collect returns [] and
      no existence probe or index read runs.
    - ``replay500_with_index`` / ``replay5k_with_index``: pure
      replays (admitted=0) against the indexed lake — 500 prior ids
      keep bucket coverage under N/4 (per-bucket probes + pruned
      read), 5k prior ids cross it (the r17 quarter fallback: one
      root read). ``replay*_no_index`` are the same batches on the
      unindexed copy (fingerprint guard only — the floor).
    - ``index_files_added``: parquet files added to the index layer
      by the novel batch — the between-compactions growth the
      ``compact_due`` accounting schedules against (the append
      repartitions by ``tb``, so this ≈ buckets touched by 5k ids).

    Replays don't mutate the lake (nothing admitted, nothing healed),
    so both replay arms share one copy; the novel arm mutates and
    runs LAST on its copy. One cold run per arm (ingest includes
    writes; the numbers to read are within-copy deltas)."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        build_text_index,
        incremental_ingest,
    )

    spark = get_spark("guard_probe_index_ingest")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="guard_probe_iingest_")
    ks = [1, 4, 16, 32]
    base_n = max(n_max // 32, 1)
    kw = dict(near_dup=True)
    results: dict[str, dict[int, float]] = {}
    builds: dict[int, float] = {}
    fadds: dict[int, int] = {}

    def _count_files(root: str) -> int:
        total = 0
        for _dir, _sub, files in os.walk(root):
            total += sum(f.endswith(".parquet") for f in files)
        return total

    try:
        for k in ks:
            n = base_n * k
            kd = f"{work}/k{k}"
            hist = spark.range(n).select(
                F.col("id").alias("doc_id"),
                _doc_text_unique(F.col("id")).alias("text"),
            )
            incremental_ingest(spark, hist, f"{kd}/base", **kw)
            # replays must be ⊆ history — cap at n for tiny smoke runs
            replay500 = spark.range(min(500, n)).select(
                F.col("id").alias("doc_id"),
                _doc_text_unique(F.col("id")).alias("text"),
            ).localCheckpoint()
            replay5k = spark.range(min(5_000, n)).select(
                F.col("id").alias("doc_id"),
                _doc_text_unique(F.col("id")).alias("text"),
            ).localCheckpoint()
            novel = spark.range(5_000).select(
                (F.col("id") + F.lit(10 * n)).alias("doc_id"),
                _doc_text_unique(F.col("id") + F.lit(10 * n),
                                 prefix="nv").alias("text"),
            ).localCheckpoint()

            def _arm(root: str, batch, name: str) -> None:
                t0 = time.time()
                r = incremental_ingest(spark, batch, root, **kw)
                results.setdefault(name, {})[k] = round(
                    time.time() - t0, 2
                )
                if name.startswith("replay"):
                    assert r["admitted"] == 0, (name, r)

            plain = f"{kd}/plain"
            shutil.copytree(f"{kd}/base", plain)
            _arm(plain, replay500, "replay500_no_index")
            _arm(plain, replay5k, "replay5k_no_index")
            _arm(plain, novel, "novel_no_index")
            idx = f"{kd}/indexed"
            shutil.copytree(f"{kd}/base", idx)
            t0 = time.time()
            build_text_index(spark, idx, buckets=buckets)
            builds[k] = round(time.time() - t0, 2)
            _arm(idx, replay500, "replay500_with_index")
            _arm(idx, replay5k, "replay5k_with_index")
            # files added = base layer + its append tail (r17: the
            # batch append lands in text_index_b{N}_tail)
            before = _count_files(
                f"{idx}/text_index_b{buckets}"
            ) + _count_files(f"{idx}/text_index_b{buckets}_tail")
            _arm(idx, novel, "novel_with_index")
            fadds[k] = (
                _count_files(f"{idx}/text_index_b{buckets}")
                + _count_files(f"{idx}/text_index_b{buckets}_tail")
                - before
            )
            # tail-resident replay (r17 tail-first heal): replaying
            # the batch JUST ingested — its index rows still live in
            # the tail — must empty the completeness probe with one
            # small-tail read (no bucket probes, no root read); the
            # delta vs replay5k_with_index is the fastpath's value
            # on the ACTUAL crash-replay window
            _arm(idx, novel, "replay_tail_with_index")
            shutil.rmtree(kd, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n| arm | " + " | ".join(f"{k}x" for k in ks) + " |")
    print("|---" * (len(ks) + 1) + "|")
    for name in (
        "replay500_no_index", "replay500_with_index",
        "replay5k_no_index", "replay5k_with_index",
        "novel_no_index", "novel_with_index",
        "replay_tail_with_index",
    ):
        ts = results[name]
        print(f"| {name} | "
              + " | ".join(f"{ts[k]:.2f}" for k in ks) + " |")
    print(f"\nindex builds (one-time, s): {builds}")
    print(f"index files added by the 5k novel batch: {fadds}")
    print()
    print(json.dumps({
        "mode": "index_ingest", "base_rows": base_n, "ks": ks,
        "buckets": buckets, "timings": results,
        "index_build_s": builds, "index_files_added": fadds,
    }))


def fold_main(n_max: int, buckets: int = 4096) -> None:
    """r18 (verdict #1/#2/#3): the three maintenance-cost
    measurements around the r17 LSM tail, swept 1x→32x of corpus
    size with a FIXED 5k-doc tail — one cold run per arm on its own
    lake copy (the index_ingest protocol; read within-copy deltas,
    not absolute seconds):

    - ``fold_cheap`` vs ``fold_full``: the cheap fold (maintain_lake
      routed by the tail trip — partitioned append, cost should be
      ~FLAT in corpus size) vs the pre-r18 whole-layer rewrite unit
      (cost grows with corpus size). r19: the rewrite is forced
      directly via ``compact_layer`` — the product routing no longer
      reaches it on a healthy layer (floor-gated repair arm), and the
      r19 marker accounting (build seeds 0; completed folds reset to
      0) means trust_marker correctly skips these freshly-built
      probe lakes, so the fold arms take the listing path. The delta
      is verdict #1's number: what reserving the rewrite for genuine
      compaction saves per fold.
    - ``replay5k_sidecar`` vs ``replay5k_rootread``: a 5k-doc
      PRE-BUILD-history replay (quarter-coverage heal) against the
      folded lake with the id-presence sidecar present vs deleted —
      verdict #2's number: the sidecar answers id-absence at ~1-2%
      of the root read's bytes.
    - ``stall_all_due`` vs ``stall_stagger``: one unattended
      trust_marker sweep with EVERY layer due (threshold=1: docs +
      all guard sidecars + the index cheap fold — r19: the index
      marker counts only tail appends since the last completed
      fold, so the all-due sweep folds, it never rewrites) — the
      micro-batch stall ``maintain_due=1`` absorbs — vs the same
      backlog drained at ``max_layers=1`` (per-call max + call
      count). Verdict #3's number.
    """
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _data_file_count,
        build_text_index,
        incremental_ingest,
        maintain_lake,
    )

    spark = get_spark("guard_probe_fold")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="guard_probe_fold_")
    ks = [1, 4, 16, 32]
    base_n = max(n_max // 32, 1)
    kw = dict(near_dup=True)
    results: dict[str, dict[int, float]] = {}
    meta: dict[str, dict[int, int]] = {}

    def _rec(name: str, k: int, v: float) -> None:
        results.setdefault(name, {})[k] = round(v, 2)

    try:
        for k in ks:
            n = base_n * k
            kd = f"{work}/k{k}"
            src = f"{kd}/src"
            hist = spark.range(n).select(
                F.col("id").alias("doc_id"),
                _doc_text_unique(F.col("id")).alias("text"),
            )
            incremental_ingest(spark, hist, src, **kw)
            build_text_index(spark, src, buckets=buckets)
            novel = spark.range(5_000).select(
                (F.col("id") + F.lit(10 * n)).alias("doc_id"),
                _doc_text_unique(F.col("id") + F.lit(10 * n),
                                 prefix="nv").alias("text"),
            ).localCheckpoint()
            incremental_ingest(spark, novel, src, **kw)
            idx = f"text_index_b{buckets}"
            base_files = _data_file_count(spark, f"{src}/{idx}")
            meta.setdefault("base_files", {})[k] = base_files
            replay5k = spark.range(min(5_000, n)).select(
                F.col("id").alias("doc_id"),
                _doc_text_unique(F.col("id")).alias("text"),
            ).localCheckpoint()

            # arm A: cheap fold, then the sidecar replay, then the
            # staggered drain of the remaining backlog
            a = f"{kd}/cheap"
            shutil.copytree(src, a)
            t0 = time.time()
            # r19: the build seeds the marker at 0, so trust_marker
            # would skip the layer — both fold arms take the listing
            # path (they share that cost, deltas stay within-run)
            ra = maintain_lake(
                spark, a, compact_above_files=base_files,
            )
            _rec("fold_cheap", k, time.time() - t0)
            meta.setdefault("cheap_folded", {})[k] = ra["folded_tails"]
            meta.setdefault("cheap_files_added", {})[k] = (
                _data_file_count(spark, f"{a}/{idx}") - base_files
            )
            t0 = time.time()
            rr = incremental_ingest(spark, replay5k, a, **kw)
            _rec("replay5k_sidecar", k, time.time() - t0)
            assert rr["admitted"] == 0, rr
            stag_max, stag_calls = 0.0, 0
            while True:
                t0 = time.time()
                rs = maintain_lake(
                    spark, a, compact_above_files=1, max_layers=1,
                    trust_marker=True,
                )
                stag_max = max(stag_max, time.time() - t0)
                stag_calls += 1
                if (
                    rs["deferred_units"] == 0
                    and rs["compacted_layers"] == 0
                ) or stag_calls > 32:
                    break
            _rec("stall_stagger_max_call", k, stag_max)
            meta.setdefault("stagger_calls", {})[k] = stag_calls
            shutil.rmtree(a, ignore_errors=True)

            # arm B: the r17 full-rewrite fold unit. r19: the product
            # routing can no longer reach a whole-layer rewrite on a
            # healthy layer (the repair arm is floor-gated), so the
            # historical unit is forced directly — cheap-fold the
            # tail first (untimed), then time compact_layer on the
            # whole base, the exact pre-r18 unit
            from projet_big_data_boutin_danre_spark.corpus_pipeline \
                import compact_layer as _compact_layer

            b = f"{kd}/full"
            shutil.copytree(src, b)
            maintain_lake(spark, b, compact_above_files=base_files)
            t0 = time.time()
            rb = _compact_layer(
                spark, f"{b}/{idx}", partition_by="tb",
                partition_values=buckets, dedup_rows=True,
            )
            _rec("fold_full", k, time.time() - t0)
            meta.setdefault("full_rows", {})[k] = rb["rows"]
            shutil.rmtree(b, ignore_errors=True)

            # arm C: sidecar deleted -> the replay's quarter-coverage
            # heal pays the pre-r18 root read; then the all-due
            # unattended sweep (every append layer + the index)
            c = f"{kd}/root"
            shutil.copytree(src, c)
            shutil.rmtree(f"{c}/{idx}_ids")
            t0 = time.time()
            rc_ = incremental_ingest(spark, replay5k, c, **kw)
            _rec("replay5k_rootread", k, time.time() - t0)
            assert rc_["admitted"] == 0, rc_
            t0 = time.time()
            rall = maintain_lake(
                spark, c, compact_above_files=1, trust_marker=True,
            )
            _rec("stall_all_due", k, time.time() - t0)
            meta.setdefault("all_due_units", {})[k] = (
                rall["compacted_layers"]
            )
            shutil.rmtree(kd, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n| arm | " + " | ".join(f"{k}x" for k in ks) + " |")
    print("|---" * (len(ks) + 1) + "|")
    for name in (
        "fold_cheap", "fold_full", "replay5k_sidecar",
        "replay5k_rootread", "stall_all_due",
        "stall_stagger_max_call",
    ):
        ts = results[name]
        print(f"| {name} | "
              + " | ".join(f"{ts[k]:.2f}" for k in ks) + " |")
    print(f"\nmeta: {meta}")
    print()
    print(json.dumps({
        "mode": "fold", "base_rows": base_n, "ks": ks,
        "buckets": buckets, "timings": results, "meta": meta,
    }))


def fold_bytes_main(n_max: int, buckets: int = 512) -> None:
    """r18 (verdict #1, the BYTE axis): the 4096-bucket ``fold``
    sweep is metadata-bound at probe scale — BOTH folds spend their
    time on ~3-4k file creates while the corpus is only ~0.45 GB, so
    the full rewrite's corpus-sized read+write term (the one that is
    the whole story at 100 TB) is invisible there. This arm makes the
    bytes dominate instead: ~1.3 KB texts (44 md5 tokens), few
    buckets (512 → the file-create floor is small and IDENTICAL for
    both arms), same fixed 5k-doc tail — then sweeps corpus size
    1x→32x. Expected shape: ``fold_cheap`` flat (tail bytes + ≤512
    creates), ``fold_full`` growing with corpus bytes (it reads,
    dedup-shuffles, and rewrites the whole base). r19: the rewrite
    arm is forced directly via ``compact_layer`` after an untimed
    cheap fold — the product routing no longer reaches a whole-layer
    rewrite on a healthy layer."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _data_file_count,
        build_text_index,
        incremental_ingest,
        maintain_lake,
    )

    spark = get_spark("guard_probe_fold_bytes")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="guard_probe_foldb_")
    ks = [1, 4, 16, 32]
    base_n = max(n_max // 32, 1)
    kw = dict(near_dup=True)

    def _long_text(idc, prefix: str = "u") -> F.Column:
        parts = [
            F.md5(F.concat_ws("_", F.lit(prefix), idc.cast("string"),
                              F.lit(str(j))))
            for j in range(44)
        ]
        return F.concat_ws(" ", *parts)

    results: dict[str, dict[int, float]] = {}
    meta: dict[str, dict[int, int]] = {}
    try:
        for k in ks:
            n = base_n * k
            kd = f"{work}/k{k}"
            src = f"{kd}/src"
            hist = spark.range(n).select(
                F.col("id").alias("doc_id"),
                _long_text(F.col("id")).alias("text"),
            )
            incremental_ingest(spark, hist, src, **kw)
            build_text_index(spark, src, buckets=buckets)
            novel = spark.range(5_000).select(
                (F.col("id") + F.lit(10 * n)).alias("doc_id"),
                _long_text(F.col("id") + F.lit(10 * n),
                           prefix="nv").alias("text"),
            ).localCheckpoint()
            incremental_ingest(spark, novel, src, **kw)
            idx = f"text_index_b{buckets}"
            base_files = _data_file_count(spark, f"{src}/{idx}")
            meta.setdefault("base_files", {})[k] = base_files
            jvm = spark._jvm
            hp = jvm.org.apache.hadoop.fs.Path(f"{src}/{idx}")
            fs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
            meta.setdefault("base_mb", {})[k] = int(
                fs.getContentSummary(hp).getLength() / (1 << 20)
            )
            # r19 accounting: trust_marker correctly skips these
            # freshly-built lakes (build seeds the marker at 0), so
            # the cheap arm takes the listing path; the whole-layer
            # rewrite is no longer reachable through routing on a
            # healthy layer — forced directly via compact_layer
            from projet_big_data_boutin_danre_spark.corpus_pipeline \
                import compact_layer as _compact_layer

            c = f"{kd}/fold_cheap"
            shutil.copytree(src, c)
            t0 = time.time()
            r = maintain_lake(
                spark, c, compact_above_files=base_files,
            )
            results.setdefault("fold_cheap", {})[k] = round(
                time.time() - t0, 2
            )
            meta.setdefault("fold_cheap_folded", {})[k] = (
                r["folded_tails"]
            )
            shutil.rmtree(c, ignore_errors=True)
            d = f"{kd}/fold_full"
            shutil.copytree(src, d)
            maintain_lake(spark, d, compact_above_files=base_files)
            t0 = time.time()
            _compact_layer(
                spark, f"{d}/{idx}", partition_by="tb",
                partition_values=buckets, dedup_rows=True,
            )
            results.setdefault("fold_full", {})[k] = round(
                time.time() - t0, 2
            )
            shutil.rmtree(d, ignore_errors=True)
            shutil.rmtree(kd, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n| arm | " + " | ".join(f"{k}x" for k in ks) + " |")
    print("|---" * (len(ks) + 1) + "|")
    for name in ("fold_cheap", "fold_full"):
        ts = results[name]
        print(f"| {name} | "
              + " | ".join(f"{ts[k]:.2f}" for k in ks) + " |")
    print(f"\nmeta: {meta}")
    print()
    print(json.dumps({
        "mode": "fold_bytes", "base_rows": base_n, "ks": ks,
        "buckets": buckets, "timings": results, "meta": meta,
    }))


def fold_unit_main(n_rows: int, buckets: int = 4096) -> None:
    """r18 (the stall-floor fix, measured): on ONE lake at ``n_rows``
    docs, compare the LARGEST single maintenance unit before vs
    after per-bucket reclaim. Arms, all on copies of the same
    post-fold lake (base grown by ~one file per tail-touched
    bucket):

    - ``bucket_reclaim_unit``: one `maintain_lake` call with the
      threshold sized FOR the bucketed layer (``buckets + 64`` — the
      structural floor plus slack) — routes to
      `compact_index_buckets` (≤256 worst buckets), the new unit.
    - ``full_rewrite_unit``: `compact_layer` whole-layer rewrite of
      the same base — the pre-r18 unit the stall floor used to be.
    - ``reclaim_calls_to_drain``: how many capped reclaim calls
      drain every overgrown bucket, and the max single call.
    """
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        _data_file_count,
        build_text_index,
        compact_layer,
        incremental_ingest,
        maintain_lake,
    )

    spark = get_spark("guard_probe_fold_unit")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="guard_probe_funit_")
    kw = dict(near_dup=True)
    out: dict[str, float] = {}
    try:
        src = f"{work}/src"
        hist = spark.range(n_rows).select(
            F.col("id").alias("doc_id"),
            _doc_text_unique(F.col("id")).alias("text"),
        )
        incremental_ingest(spark, hist, src, **kw)
        build_text_index(spark, src, buckets=buckets)
        novel = spark.range(5_000).select(
            (F.col("id") + F.lit(10 * n_rows)).alias("doc_id"),
            _doc_text_unique(F.col("id") + F.lit(10 * n_rows),
                             prefix="nv").alias("text"),
        ).localCheckpoint()
        incremental_ingest(spark, novel, src, **kw)
        idx = f"text_index_b{buckets}"
        # fold the tail so the base carries reclaimable growth.
        # r19 accounting note: the build now seeds the layer marker
        # at 0 (files-appended-SINCE-compaction), so trust_marker
        # would skip the layer — the probe takes the listing path,
        # which both fold arms share
        base_files0 = _data_file_count(spark, f"{src}/{idx}")
        t0 = time.time()
        r = maintain_lake(
            spark, src, compact_above_files=base_files0,
            max_layers=1,
        )
        out["fold_s"] = round(time.time() - t0, 2)
        assert r["folded_tails"] == 1, r
        thresh = buckets + 64

        a = f"{work}/reclaim"
        shutil.copytree(src, a)
        t0 = time.time()
        # index_compact_above_files (r19 threshold split) is the
        # base-due wire now — sized at floor + slack it yields a
        # per-bucket allowance of 1, so every fold-touched bucket
        # is reclaimable, capped at 256/call
        ra = maintain_lake(
            spark, a, compact_above_files=thresh,
            index_compact_above_files=thresh,
        )
        out["bucket_reclaim_unit_s"] = round(time.time() - t0, 2)
        out["reclaim_deferred"] = ra["deferred_units"]
        calls, max_call = 1, out["bucket_reclaim_unit_s"]
        while ra["deferred_units"] or ra["compacted_layers"]:
            t0 = time.time()
            ra = maintain_lake(
                spark, a, compact_above_files=thresh,
                index_compact_above_files=thresh,
            )
            max_call = max(max_call, round(time.time() - t0, 2))
            calls += 1
            if calls > 40:
                break
        out["reclaim_calls_to_drain"] = calls
        out["reclaim_max_call_s"] = max_call
        shutil.rmtree(a, ignore_errors=True)

        b = f"{work}/full"
        shutil.copytree(src, b)
        t0 = time.time()
        compact_layer(
            spark, f"{b}/{idx}", partition_by="tb",
            partition_values=buckets, dedup_rows=True,
        )
        out["full_rewrite_unit_s"] = round(time.time() - t0, 2)
        shutil.rmtree(b, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print()
    for k, v in out.items():
        print(f"{k}: {v}")
    print()
    print(json.dumps({
        "mode": "fold_unit", "rows": n_rows, "buckets": buckets,
        **out,
    }))


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "url"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 32_000_000
    if mode == "url":
        url_main(n)
    elif mode == "compact":
        compact_main(n if len(sys.argv) > 2 else 4_000_000)
    elif mode == "verify":
        verify_main(
            n if len(sys.argv) > 2 else 1_000_000,
            buckets=int(sys.argv[3]) if len(sys.argv) > 3 else 4096,
        )
    elif mode == "verify_index":
        verify_index_main(
            n if len(sys.argv) > 2 else 8_000_000,
            buckets=int(sys.argv[3]) if len(sys.argv) > 3 else 4096,
        )
    elif mode == "index_ingest":
        index_ingest_main(
            n if len(sys.argv) > 2 else 1_000_000,
            buckets=int(sys.argv[3]) if len(sys.argv) > 3 else 4096,
        )
    elif mode == "fold":
        fold_main(
            n if len(sys.argv) > 2 else 1_000_000,
            buckets=int(sys.argv[3]) if len(sys.argv) > 3 else 4096,
        )
    elif mode == "fold_bytes":
        fold_bytes_main(
            n if len(sys.argv) > 2 else 1_000_000,
            buckets=int(sys.argv[3]) if len(sys.argv) > 3 else 512,
        )
    elif mode == "fold_unit":
        fold_unit_main(
            n if len(sys.argv) > 2 else 500_000,
            buckets=int(sys.argv[3]) if len(sys.argv) > 3 else 4096,
        )
    elif mode == "bloom":
        bloom_mode_main(n if len(sys.argv) > 2 else 4_000_000)
    else:
        raise SystemExit(
            f"unknown mode {mode!r} "
            "(url|compact|verify|verify_index|index_ingest|bloom|fold)"
        )


if __name__ == "__main__":
    main()
