"""Training-corpus pipeline runner — the LLM-data analog of
``pipeline.py`` (which runs the reference's real-estate DAG): one
program composing the corpus operators over a layer-contract lake,
idempotent per stage, with per-stage document counts as the run
report.

    raw documents
      → cleaned         (optional C4-style line cleaning — min-word
                         floor, blocklist; per-doc audit counts)
      → line_deduped    (optional RefinedWeb corpus-adaptive line
                         dedup — exact lines common across docs cut
                         everywhere)
      → profile+scrub   (text_profile include_pii — quality, lang,
                         fingerprints, PII counts)
      → gate            (quality + token floor; PII-heavy docs dropped;
                         optional Gopher bigram/n-gram repetition caps,
                         the full Table A1 rule bundle, CCNet-style
                         self-trained-LM perplexity cap, learned TF-IDF
                         quality classifier, and benchmark
                         decontamination against a held-out probe set)
      → dedup           (exact normalized-hash, then MinHash-LSH
                         near-dup at the production scale profile,
                         clustered by connected components — one
                         keeper per near-dup cluster; optional Lee et
                         al. duplicated-span cut and C4 three-sentence
                         -span cut with a global keeper)
      → recipe          (optional per-source cap, deterministic
                         stratified sample, exact-count domain mix per
                         language, optional train/val/test split
                         column — leakage-safe because dedup left one
                         doc per near-dup cluster)
      → chunks          (token windows)
      → shards          (deterministic interleave, ordered shard files
                         + optional manifest; read back verified with
                         corpus_prep.read_training_shards)

Every layer boundary is Parquet under ``<root>/<layer>``; a stage is
skipped when its layer already exists (re-run = resume), ``force``
rebuilds. All decisions are md5-deterministic (corpus_prep), so a
re-run from any stage reproduces the same corpus byte-for-byte —
the property that makes a 100 TB pipeline debuggable.

Scale: each stage is scan → narrow map / bounded shuffle → write; the
only super-linear risk (LSH pair fan-out) is capped by the production
hot-bucket guard (measured linear at 32× duplicates,
tools/scale_probe.py).
"""

from __future__ import annotations

import functools
import inspect
import json
import re
from collections.abc import Callable, Mapping
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.localdf import tiny_df
from .operators import bloom as bloom_ops
from .operators import corpus_prep, dedup, lm, multimodal, text
from .operators import urls as urls_ops
from .sources.readers import (
    JVM_ERRORS,
    _fs_path,
    child_names,
    path_exists,
    read_layer,
    record_parquet_write,
)
from .sources.readers import data_file_count as _data_file_count
from .sources.sinks import write_parquet


@dataclass(frozen=True)
class CorpusRecipe:
    """The data recipe: gates + per-language sampling/mixing."""

    min_quality: float = 0.05
    min_tokens: int = 5
    max_pii_hits: int = 1_000_000  # default: scrub, don't drop
    # C4-style line cleaning (None = off): FIRST stage, before
    # profiling — the C4 order, so quality/repetition/ppl gates and
    # dedup all see the line-cleaned text. Drops lines with fewer
    # than clean_min_words words, lines containing a clean_blocklist
    # word (case-insensitive substring), and — with
    # clean_terminal_punct — lines without terminal punctuation; docs
    # with NO surviving line are dropped. Per-doc audit columns
    # (n_lines_total / n_lines_kept) ride the cleaned layer, and the
    # corpus line drop-rate is surfaced in the returned stage counts
    # (clean_lines_total / clean_lines_kept).
    clean_min_words: int | None = None
    clean_blocklist: tuple[str, ...] = ()
    clean_terminal_punct: bool = False
    # RefinedWeb/CCNet corpus-wide line dedup (None = off): after the
    # static clean stage (if any), exact lines of >=
    # line_dedup_min_len chars appearing in >= line_dedup_min_df
    # DISTINCT docs are deleted from ALL docs — the corpus-ADAPTIVE
    # boilerplate cut (nav chrome, cookie banners) that a static
    # blocklist can't enumerate. Per-doc n_lines_dropped rides the
    # layer; the corpus total ships in the stage counts
    # (line_dedup_dropped_lines). Docs that lose every line are kept
    # here and die at the min_tokens gate.
    line_dedup_min_df: int | None = None
    line_dedup_min_len: int = 15
    # Gopher-style repetition gates (None = off): docs whose duplicate-
    # bigram fraction or hottest-bigram token coverage exceeds the cap
    # are boilerplate/spam-shaped and dropped at the gate
    max_dup_bigram_frac: float | None = None
    max_top_bigram_frac: float | None = None
    # generalized Gopher n-gram repetition caps (None = off): maps
    # n -> threshold, e.g. the paper's {3: 0.18, 4: 0.16} for
    # top-n-gram token coverage and {3: 0.15, 4: 0.14} style caps for
    # duplicate-gram mass. Each n costs one (doc, gram) wordcount
    # rollup over the gated docs (text.ngram_repetition); thresholds
    # compare integer-exact ratios: top coverage = n·top_count /
    # n_tokens, dup mass = 1 − distinct/total.
    max_top_ngram_frac: Mapping[int, float] | None = None
    max_dup_ngram_frac: Mapping[int, float] | None = None
    # Gopher rule bundle (False = off): gated docs must also pass the
    # full Rae et al. Table A1 verdict (text.gopher_rules) — word
    # count in [gopher_min_words, 100k], mean word length 3-10,
    # symbol/bullet/ellipsis shares, >= 80% alphabetic words, >= 2
    # stop words. Pure map-side Column algebra: the gate adds zero
    # shuffles.
    gopher: bool = False
    gopher_min_words: int = 50
    # the stop-word floor is English-specific (the 8 Table A1 words);
    # set 0 for non-English or synthetic corpora
    gopher_min_stop_hits: int = 2
    # CCNet-style perplexity gate (None = off): score each gated doc
    # with a bigram LM self-trained on the gated corpus and drop the
    # least-fluent tail above this perplexity. Self-training makes the
    # gate relative ("unlike the rest of this corpus"); to gate
    # against a trusted reference corpus instead, train the model
    # externally and filter with lm.perplexity_filter directly.
    max_ppl: float | None = None
    lm_min_count: int = 2
    # learned quality gate (None = off): train the weak-supervised
    # TF-IDF logistic classifier (ml/quality_model.py — heuristic
    # quality_score as teacher, md5 train/test split) on the
    # heuristically-gated docs, then keep docs the model scores
    # >= this probability. The filter-model leg of the corpus stack
    # (fastText-style recipe), alongside the relative ppl gate and
    # DSIR. Like max_ppl it is RELATIVE — the model learns "what this
    # corpus's high-heuristic docs look like"; to gate against an
    # external curated corpus, train with train_quality_model on that
    # corpus and apply its .score() yourself.
    quality_model_min_p: float | None = None
    # Lee et al. 2022 ACTION step (False = off): after near-dup
    # removal, CUT duplicated >= cut_span_min_len-char substrings out
    # of each surviving doc's ORIGINAL text instead of only dropping
    # whole near-dup docs — a doc quoting a license header stays,
    # minus the header. Spans are detected over a length-preserving
    # case/punct-insensitive view and removed from the raw text, so
    # casing and punctuation survive outside the cut ranges. The
    # deduped layer then carries the cut text in text_col.
    cut_spans: bool = False
    cut_span_min_len: int = 20
    # C4's own dedup action (None = off): after near-dup removal (and
    # after cut_spans if both are on), duplicated
    # c4_sentence_window-sentence spans are cut from every surviving
    # doc except the globally-first occurrence
    # (dedup.c4_sentence_dedup — Raffel et al. 2020 §2.2). Sentence
    # granularity with a keeper, vs cut_spans' char windows with
    # none: turn on whichever matches the recipe being reproduced.
    c4_sentence_window: int | None = None
    # hash family for the span-detection count window: "md5" (raw
    # substring key) or "fast" (two flat xxhash64 longs). Measured at
    # sf0.1 1x-32x (SCALE.md span adjudication): raw wins below ~4x
    # sf0.1 per node, the families tie through 16x, fast wins ~10% at
    # 32x and trending — so "fast" is the default for this pipeline's
    # design point (100 TB), and "md5" is the right override when
    # running small single-node corpora.
    span_hash_family: str = "fast"
    # broadcast the self-trained LM into the scoring join (right for
    # bounded vocabularies); set False when the pruned bigram model
    # itself is corpus-scale — scoring then shuffle-joins on (ctx, w)
    lm_broadcast: bool = True
    sample_fractions: Mapping[str, float] | None = None  # None = keep all
    sample_default: float = 1.0
    mix_counts: Mapping[str, int] | None = None  # None = no mix stage
    # uniform per-group cap (None = off): keep at most this many docs
    # per cap_group_col value (the C4/RefinedWeb domain cap — the
    # group set is unbounded, unlike mix_counts' enumerated recipe),
    # first-in-seeded-hash-order, applied before sampling. Runs
    # cap_per_group's prefiltered scale path (hot groups pre-shrunk
    # before the window sort; bit-identical to the plain cap).
    cap_max_per_group: int | None = None
    cap_group_col: str = "source"
    # train/val/test assignment (None = off): the recipe layer gains a
    # `split` column, declaration-ordered fractions summing to 1.
    # Because the dedup stage keeps exactly one doc per near-dup
    # cluster — and connected_components makes the component ROOT the
    # keeper — every surviving doc is its own cluster representative,
    # so the per-id hash split here IS the leakage-safe split
    # (corpus_prep.leakage_safe_split): no near-dup pair can straddle
    # train/test because at most one member of any cluster still
    # exists. Pipelines that RETAIN near-dups (e.g. dedup-by-weighting
    # variants) must pass the cluster map to leakage_safe_split
    # themselves via members=.
    split_fractions: Mapping[str, float] | None = None
    # with split_fractions set: chunk+shard only this split (the
    # standard shape — train shards for the reader, val/test stay
    # doc-level in the recipe layer). None = shard every split.
    shard_split: str | None = None
    chunk_tokens: int = 64
    chunk_overlap: int = 8
    n_shards: int = 32
    seed: int = 42


def apply_ngram_caps(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_top_ngram_frac: Mapping[int, float] | None,
    max_dup_ngram_frac: Mapping[int, float] | None,
) -> DataFrame:
    """Gopher n-gram repetition caps as a reusable gate (r10 —
    shared by the batch pipeline's gate stage and the ingest
    admission path): for each configured ``n``, drop docs whose
    hottest-n-gram token coverage exceeds ``max_top_ngram_frac[n]``
    or whose duplicate-gram mass exceeds ``max_dup_ngram_frac[n]``.
    Thresholds compare integer-exact cross-multiplied ratios; each
    ``n`` costs one (doc, gram) map-side-combined rollup
    (text.ngram_repetition) + one semi-join on the id."""
    ns = sorted(set(max_top_ngram_frac or ()) | set(max_dup_ngram_frac or ()))
    n_tok = text.token_count(text_col).alias("__ntok")
    for gram_n in ns:
        sig = text.ngram_repetition(docs, id_col, text_col, gram_n)
        cond = F.lit(True)
        top_cap = (max_top_ngram_frac or {}).get(gram_n)
        dup_cap = (max_dup_ngram_frac or {}).get(gram_n)
        joined = docs.select(F.col(id_col), n_tok).join(sig, id_col)
        if top_cap is not None:
            # token coverage of the hottest n-gram; 0-token docs pass
            # (nothing to cover)
            cond = cond & (
                F.lit(gram_n) * F.col("top_ngram_n")
                <= F.lit(float(top_cap)) * F.col("__ntok")
            )
        if dup_cap is not None:
            # duplicate-gram mass 1 - distinct/total; gram-less docs
            # pass (0 mass)
            cond = cond & (
                F.col("n_ngrams") - F.col("n_distinct_ngrams")
                <= F.lit(float(dup_cap)) * F.col("n_ngrams")
            )
        keep_n = joined.filter(cond).select(F.col(id_col))
        docs = docs.join(keep_n, id_col, "left_semi")
    return docs


def apply_gopher_gate(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The full Gopher Table A1 verdict as a reusable gate (r10 —
    shared by the batch pipeline and ingest admission): keep only
    docs with ``gopher_pass`` true (text.gopher_rules). Map-side
    Column algebra + one semi-join; zero shuffles beyond it."""
    keep_g = (
        text.gopher_rules(
            docs, id_col, text_col,
            min_words=min_words, min_stop_hits=min_stop_hits,
        )
        .filter(F.col("gopher_pass"))
        .select(F.col(id_col))
    )
    return docs.join(keep_g, id_col, "left_semi")


def run_corpus_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_root: str,
    recipe: CorpusRecipe = CorpusRecipe(),
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    force: bool = False,
    decontaminate_probes: DataFrame | None = None,
    decontam_ngram: int = 8,
) -> dict[str, int]:
    """Run all stages; returns per-stage surviving-document counts
    (chunks/shards report chunk counts). Stages resume from existing
    layers unless ``force``.

    ``decontaminate_probes``: optional held-out benchmark frame
    (``(id_col, text_col)`` columns) — when given, the gate stage
    also drops every doc sharing any word ``decontam_ngram``-gram
    with a probe (text.decontaminate, the GPT-3 appendix-C filter;
    probe grams broadcast, the corpus never re-shuffles). A DataFrame
    argument rather than a recipe field: the recipe is a frozen
    value, the probe set is data."""
    # refuse bad recipe combinations BEFORE any stage runs — at scale
    # the alternative is burning the full gate+dedup before the error
    if recipe.shard_split is not None and (
        recipe.split_fractions is None
        or recipe.shard_split not in recipe.split_fractions
    ):
        declared = sorted(recipe.split_fractions or ())
        raise ValueError(
            f"shard_split {recipe.shard_split!r} is not one of the "
            f"declared splits {declared}"
        )
    counts: dict[str, int] = {}

    def layer(name: str) -> str:
        return f"{out_root}/{name}"

    def stage(name: str, build) -> DataFrame:
        path = layer(name)
        out = None if force else read_layer(spark, path)
        if out is None:
            build().write.mode("overwrite").parquet(path)
            out = spark.read.parquet(path)
        counts[name] = out.count()
        return out

    if recipe.clean_min_words is not None:

        def build_cleaned() -> DataFrame:
            extra = [
                c for c in docs.columns if c not in (id_col, text_col)
            ]
            return text.clean_lines(
                docs,
                id_col,
                text_col,
                min_words=recipe.clean_min_words,
                blocklist=recipe.clean_blocklist,
                require_terminal_punct=recipe.clean_terminal_punct,
                out_col=text_col,
                extra_cols=extra,
            )

        # the layer keeps EVERY doc's cleaning result (it IS the
        # audit — a doc whose lines all died still shows its counts);
        # downstream stages see only docs with a surviving line
        cleaned = stage("cleaned", build_cleaned)
        docs = cleaned.filter(F.col("n_lines_kept") > 0)
        # corpus line drop-rate, from the already-materialized layer
        # (columnar aggs over two int columns — no text read)
        tot = cleaned.agg(
            F.sum("n_lines_total").alias("t"),
            F.sum("n_lines_kept").alias("k"),
            F.count(F.when(F.col("n_lines_kept") > 0, 1)).alias("d"),
        ).first()
        counts["clean_lines_total"] = int(tot["t"] or 0)
        counts["clean_lines_kept"] = int(tot["k"] or 0)
        counts["clean_docs_kept"] = int(tot["d"] or 0)

    if recipe.line_dedup_min_df is not None:

        def build_line_deduped() -> DataFrame:
            extra = tuple(
                c
                for c in docs.columns
                if c not in (id_col, text_col, "n_lines_dropped")
            )
            return dedup.drop_common_lines(
                docs,
                id_col,
                text_col,
                min_df=recipe.line_dedup_min_df,
                min_len=recipe.line_dedup_min_len,
                out_col=text_col,
                extra_cols=extra,
            )

        docs = stage("line_deduped", build_line_deduped)
        counts["line_dedup_dropped_lines"] = int(
            docs.agg(F.sum("n_lines_dropped")).first()[0] or 0
        )

    prof = stage(
        "profiled",
        lambda: text.text_profile(docs, id_col, text_col, include_pii=True),
    )

    def build_gated() -> DataFrame:
        keep = prof.filter(
            (F.col("quality") >= recipe.min_quality)
            & (F.col("n_tokens") >= recipe.min_tokens)
            & (
                F.coalesce(F.col("n_emails"), F.lit(0))
                + F.coalesce(F.col("n_ips"), F.lit(0))
                + F.coalesce(F.col("n_long_nums"), F.lit(0))
                <= recipe.max_pii_hits
            )
        ).select(F.col(id_col))
        gated_docs = docs.join(keep, id_col, "left_semi")
        if (
            recipe.max_dup_bigram_frac is not None
            or recipe.max_top_bigram_frac is not None
        ):
            rep = text.repetition_profile(gated_docs, id_col, text_col)
            cond = F.lit(True)
            if recipe.max_dup_bigram_frac is not None:
                cond &= F.col("dup_bigram_frac") <= recipe.max_dup_bigram_frac
            if recipe.max_top_bigram_frac is not None:
                cond &= F.col("top_bigram_frac") <= recipe.max_top_bigram_frac
            gated_docs = gated_docs.join(
                rep.filter(cond).select(F.col(id_col)), id_col, "left_semi"
            )
        if recipe.max_top_ngram_frac or recipe.max_dup_ngram_frac:
            gated_docs = apply_ngram_caps(
                gated_docs, id_col, text_col,
                recipe.max_top_ngram_frac, recipe.max_dup_ngram_frac,
            )
        if recipe.gopher:
            gated_docs = apply_gopher_gate(
                gated_docs, id_col, text_col,
                min_words=recipe.gopher_min_words,
                min_stop_hits=recipe.gopher_min_stop_hits,
            )
        if recipe.max_ppl is not None:
            grams = lm.doc_ngrams(gated_docs, [id_col], text_col, n=2)
            # materialize the model-sized counts once: the vocab-size
            # driver job and the scoring join both read them, and
            # without the checkpoint each would re-run the corpus-
            # sized gram explode behind the aggregation
            counts_raw = lm.ngram_counts(
                None, grams=grams
            ).localCheckpoint()
            model = counts_raw.filter(F.col("c") >= recipe.lm_min_count)
            ctx = lm.context_totals(None, counts=counts_raw)
            gated_docs = lm.perplexity_filter(
                gated_docs, id_col, text_col, model, ctx,
                max_ppl=recipe.max_ppl,
                broadcast_model=recipe.lm_broadcast,
                grams=grams,
            )
        if recipe.quality_model_min_p is not None:
            # the learned quality gate: heuristic-taught TF-IDF
            # logistic classifier, trained on (and applied to) the
            # docs that survived the gates above. Training is MLlib's
            # distributed L-BFGS (treeAggregate gradients); scoring
            # broadcasts only the coefficient vector — a narrow map,
            # no shuffle on the corpus side. localCheckpoint first:
            # fit + split guards/counts + AUC + score consume the
            # gated frame ~5 times, and un-materialized each would
            # re-run the whole heuristic/repetition/ppl gate plan
            # (table-sized frame — the corpus_sample tradeoff, not
            # the explode-sized LM-gram one).
            from .ml.quality_model import train_quality_model

            gated_docs = gated_docs.localCheckpoint()
            qm = train_quality_model(gated_docs, id_col, text_col)
            keep_q = (
                qm.score(gated_docs, id_col, text_col)
                .filter(F.col("p_quality") >= recipe.quality_model_min_p)
                .select(F.col(id_col))
            )
            gated_docs = gated_docs.join(keep_q, id_col, "left_semi")
        if decontaminate_probes is not None:
            gated_docs = text.decontaminate(
                gated_docs, id_col, text_col,
                decontaminate_probes, id_col, text_col,
                n=decontam_ngram,
            )
        return gated_docs

    gated = stage("gated", build_gated)

    def build_deduped() -> DataFrame:
        # hash families per measurement, not dogma (SCALE.md r8 LSH
        # adjudication): exact_dedup and minhash_lsh_pairs take the
        # xxhash64 "fast" path because its hashing/aggregation stage
        # is measured faster at every volume (2.15x at 32x sf0.1) and
        # avoids md5's string-min SortAggregate buffers. NOTE the
        # end-to-end LSH time at high duplication is dominated by
        # CANDIDATE VOLUME, which differs between families only as
        # sampling variance of the hash draw (+30% for fast on the
        # sf0.1 probe corpus, the other direction is equally
        # possible) — candidate volume is governed by bands/rows and
        # the production hot-bucket cap, not the family. The span
        # stage below takes recipe.span_hash_family (default "fast"):
        # its count window gets no partial aggregation and the
        # families CROSS OVER — raw substring key faster below ~4x
        # sf0.1 per node, fast ~10% faster at 32x and trending
        # (SCALE.md span adjudication table).
        exact = dedup.exact_dedup(
            gated, id_col, text_col, hash_family="fast"
        )
        # cluster candidate pairs (connected components) and keep one
        # doc per cluster — dropping raw pair id_b's instead would keep
        # every LOCAL minimum, i.e. several docs of one duplicate
        # cluster whenever near-dups chain through a middle doc
        pairs = dedup.minhash_lsh_pairs(
            exact, id_col, text_col, scale_profile="production",
            hash_family="fast",
        )
        members = dedup.connected_components(pairs)
        out = dedup.drop_near_duplicates(exact, id_col, members)
        if recipe.cut_spans:
            # span detection + cut on the POST-dedup corpus (the
            # whole-doc duplicates are already gone; what remains is
            # cross-doc boilerplate). preserve_original: spans are
            # detected over the length-preserving normalized view but
            # cut from the RAW text, so text_col keeps its casing and
            # punctuation outside the removed ranges.
            cut = dedup.cut_duplicate_spans(
                out, id_col, text_col,
                min_len=recipe.cut_span_min_len,
                hash_family=recipe.span_hash_family,
                preserve_original=True,
            ).select(id_col, F.col("cut_text").alias(text_col))
            out = out.drop(text_col).join(cut, id_col)
        if recipe.c4_sentence_window is not None:
            c4 = dedup.c4_sentence_dedup(
                out, id_col, text_col,
                window=recipe.c4_sentence_window,
            ).select(id_col, F.col("cut_text").alias(text_col))
            out = out.drop(text_col).join(c4, id_col)
        return out

    deduped = stage("deduped", build_deduped)

    def build_recipe() -> DataFrame:
        out = deduped
        if recipe.cap_max_per_group is not None:
            out = corpus_prep.cap_per_group(
                out, id_col, recipe.cap_group_col,
                recipe.cap_max_per_group, seed=recipe.seed, prefilter=True,
            )
        if recipe.sample_fractions is not None:
            out = corpus_prep.stratified_sample(
                out, id_col, lang_col, recipe.sample_fractions,
                default_fraction=recipe.sample_default, seed=recipe.seed,
            )
        if recipe.mix_counts is not None:
            out = corpus_prep.domain_mix(
                out, id_col, lang_col, recipe.mix_counts, seed=recipe.seed
            )
        if recipe.split_fractions is not None:
            # members=None: every post-dedup survivor is its own
            # cluster representative (see the recipe field note)
            out = corpus_prep.leakage_safe_split(
                out, id_col, recipe.split_fractions, seed=recipe.seed
            )
        return out

    mixed = stage("recipe", build_recipe)

    to_chunk = mixed
    if recipe.shard_split is not None:
        to_chunk = mixed.filter(F.col("split") == recipe.shard_split)

    chunks = stage(
        "chunks",
        lambda: text.chunk_tokens(
            to_chunk, id_col, text_col,
            chunk_tokens=recipe.chunk_tokens, overlap=recipe.chunk_overlap,
        ).withColumn(
            "chunk_key",
            F.concat_ws(":", F.col(id_col), F.col("chunk_id")),
        ),
    )

    shards_path = layer("shards")
    shards = None if force else read_layer(spark, shards_path)
    if shards is None:
        corpus_prep.write_training_shards(
            chunks, "chunk_key", shards_path,
            seed=recipe.seed, n_shards=recipe.n_shards,
            manifest=True,
        )
        shards = spark.read.parquet(shards_path)
    counts["shards"] = shards.count()
    return counts


# The lake's fixed schema and recipe. Every lake layer keys its rows by
# _ID_COL and stores text under _TEXT_COL, so the ingest, the text
# index and the line census read what the others wrote. The near-dup
# guard's MinHash recipe (hashes, shingle size, hash family) is spelled
# into the ``_lake_mode`` marker with the caller's band count. The url
# Bloom filter grows past _URL_BLOOM_MAX_FILL, both when an ingest
# merges into it and when maintain_lake checks it. Rewrites aim at
# files of _TARGET_FILE_MB. Each media modality's within-batch pair
# finder and its history probe take one threshold, so batch and
# history admission agree: image Hamming bits, video frame-set
# Jaccard, audio offset votes. The line census keys lines of at least
# _LINE_CENSUS_MIN_LEN chars.
_ID_COL = "doc_id"
_TEXT_COL = "text"
_LSH_HASHES = 8
_LSH_SHINGLE_K = 8
_LSH_HASH_FAMILY = "fast"
_URL_BLOOM_MAX_FILL = 0.1
_TARGET_FILE_MB = 128
_MEDIA_MAX_HAMMING = 3
_VIDEO_MIN_JACCARD = 0.5
_AUDIO_MIN_VOTES = 4
_LINE_CENSUS_MIN_LEN = 15


def _check_ingest_knobs(
    bloom_rebuild_mode: str, url_bloom: bool, url_guard: bool
) -> None:
    """Refuse knob values no batch can run with. Both faces call it
    first, so a bad value fails the call itself — not the first
    micro-batch of an already-started stream."""
    if bloom_rebuild_mode not in ("sync", "defer"):
        raise ValueError(
            f"bloom_rebuild_mode must be 'sync' or 'defer', got "
            f"{bloom_rebuild_mode!r}"
        )
    if url_bloom and not url_guard:
        raise ValueError(
            "url_bloom=True is the url_guard's fastpath — it needs "
            "url_guard=True (the filter is a cache of the url_keys "
            "sidecar, which only a guarded lake maintains)"
        )


# Columns incremental_ingest adds to the batch: the content fingerprint,
# the quality gates' row key and the per-row flags of its two admission
# passes (and of the url keeper window). An input column of the same
# name would be overwritten or collide in a flag join, so it is refused.
_RESERVED_COLUMNS = (
    "fingerprint",
    # pass A: the exact keeper, the policy gates, an id's lead row
    "__exact", "__contam", "__row", "__qkeep", "__blocked", "__lead",
    "__curl", "__rn_url",  # the url keeper window
    # pass B: the within-batch keepers' losers (url, near-dup, raw-graph
    # near-dup, media), the fingerprint guard, the history hits (url,
    # near-dup, verify-rescued, media) and the id guard's prior ids
    "__uw", "__nw", "__nwr", "__mw", "__fp",
    "__ug", "__nd", "__ndr", "__md", "__prior",
)


def _with_flag(df: DataFrame, flag: str, ids: DataFrame) -> DataFrame:
    """``df`` with the column ``flag``: true on the rows whose id is in
    ``ids``, NULL elsewhere. ``ids`` is batch-bounded and distinct on
    the id (a repeated id would fan rows out), so it is broadcast."""
    return df.join(
        F.broadcast(ids.select(_ID_COL).withColumn(flag, F.lit(True))),
        _ID_COL,
        "left",
    )


def _non_keepers(members: DataFrame) -> DataFrame:
    """The ids a ``connected_components`` result refuses: every member
    that is not its component's keeper (the smallest id)."""
    return members.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(_ID_COL)
    )


def _first_fired(
    flags: list[tuple[str | None, Column]],
) -> tuple[dict[str, Column], Column]:
    """Bill each row to the first of ``flags`` that fired on it: the
    row predicate of each report key (a key may own several flags; a
    ``None`` key refuses without billing), and the predicate of the
    rows no flag refused."""
    billed: dict[str, Column] = {}
    earlier = F.lit(False)
    for key, fired in flags:
        if key is not None:
            first = ~earlier & fired
            billed[key] = billed[key] | first if key in billed else first
        earlier = earlier | fired
    return billed, ~earlier


def _rows(pred: Column) -> Column:
    return F.count(F.when(pred, 1))


def _tally(df: DataFrame, **aggs: Column) -> dict[str, int]:
    """The aggregates ``aggs`` over the checkpoint ``df``, in one
    query: each partition aggregates where it lives, so no task reads
    the batch's payloads."""
    row = df.agg(*(a.alias(k) for k, a in aggs.items())).first()
    return {key: int(v) for key, v in row.asDict().items()}


def incremental_ingest(
    spark: SparkSession,
    new_docs: DataFrame,
    out_root: str,
    catalog_prefix: str | None = None,
    near_dup: bool = False,
    lsh_bands: int = 4,
    lsh_max_bucket: int | None = None,
    near_dup_verify: float | None = None,
    verify_max_broadcast_chars: int | None = 20_000_000,
    line_census: bool = False,
    decontaminate_probes: DataFrame | None = None,
    gopher_gate: bool = False,
    max_top_ngram_frac: Mapping[int, float] | None = None,
    max_dup_ngram_frac: Mapping[int, float] | None = None,
    bloom_guard: bool = False,
    bloom_max_fill: float = 0.5,
    bloom_rebuild_mode: str = "sync",
    media_guard: bool = False,
    media_video_every_ms: int = 1000,
    media_max_bucket: int | None = None,
    url_guard: bool = False,
    url_blocklist: tuple[str, ...] = (),
    url_extra_suffixes: tuple[str, ...] = (),
    url_psl_rules: tuple[str, ...] | None = None,
    url_bloom: bool = False,
    compact_above_files: int | None = None,
) -> dict[str, int]:
    """Incremental corpus ingestion: admit only documents whose
    normalized-content fingerprint has never been seen, then append
    them (and their fingerprints) to the lake. The batch carries the
    lake's ``doc_id`` and ``text`` columns (``_ID_COL``,
    ``_TEXT_COL``), plus ``url`` for the url guard and blocklist and
    ``payload`` for the media guard.

    This is the corpus-side analog of the usage layer's watermark
    incremental read (streaming/watermark.py): state is the
    ``fingerprints`` layer itself — no driver state, no state store.
    Per batch: one broadcast-or-shuffle join of the new batch
    against the fingerprint table's keys (scan prunes to ONE column),
    plus a within-batch exact keeper so two copies arriving together
    admit one. Append-only writes keep the layer valid under
    concurrent readers; dedup decisions are a pure function of
    content, so replaying a batch admits nothing twice (idempotent
    at-least-once ingestion — exactly what a file-arrival or Kafka
    source needs).

    Replay safety across the two appends (docs, then fingerprints —
    not atomic): admission ALSO anti-joins the docs layer on the id
    (id-column-pruned scan), so a crash between the appends cannot
    re-admit the same batch on replay — the id guard catches what the
    missing fingerprint rows would have, AND the replay backfills the
    missing fingerprints into the sidecar (they are recomputed on the
    replayed batch, so the append costs no extra scan); the count is
    surfaced as ``healed_fingerprints``. Known residual: between the
    crash and the replay, identical content arriving under a NEW id
    would be admitted once more — bounded by the source's replay
    latency, not permanent. NULL
    text fingerprints to a reserved sentinel (never a hex digest), so
    NULL-content dedup works instead of NULL-propagating through the
    join and re-admitting every batch.

    At 100 TB the fingerprint layer is a ~2% sidecar of the corpus
    (32-char hex + id per doc). Pass ``catalog_prefix`` to maintain
    BOTH guard sidecars — ``<prefix>_fingerprints`` bucketed on
    ``fingerprint`` and ``<prefix>_ids`` bucketed on the id — as
    catalog tables (sources/bucketing.py): each per-batch guard join
    then reads its sidecar bucket-aligned with NO Exchange on the
    corpus-sized side; only the small batch shuffles into bucket
    layout. Without it (default, path-only lake) both guards are
    plain parquet scans whose shuffle grows with total corpus size —
    fine at test scale, the per-micro-batch bottleneck at 100 TB.
    The docs layer itself stays plain parquet either way; the replay
    guard reads the narrow id sidecar, never the full docs table.

    ``near_dup=True`` upgrades admission from exact-content to
    NEAR-duplicate blocking (the gap a trivially-perturbed re-crawl
    slips through): a ``band_buckets`` sidecar persists the MinHash-LSH
    band keys of every admitted doc, each batch drops (a) its own
    near-dup cluster non-keepers (``minhash_lsh_pairs`` → connected
    components on the batch — batch-sized work) and (b) docs sharing
    any band bucket with history (:func:`operators.dedup.lsh_seen_ids`
    — the batch's band rows broadcast against a two-column scan of the
    sidecar: history is never shuffled, sorted, or text-read per
    batch). Band collisions without true similarity make this an
    over-blocking gate by default (candidates are dropped, not
    verified); tune bands/rows for the intended threshold;
    ``lsh_max_bucket`` (r14) NARROWS the over-blocking with the media
    probes' hot-bucket guard — a band key held by more than that many
    history rows (near-empty shingle sets, boilerplate bands) is
    dropped from the probe, so a doc colliding only on a degenerate
    bucket admits instead of silently blocking, and the join
    explosion stays bounded (a tuning knob, not lake identity —
    capping only narrows the gate). ``near_dup_verify`` (r15, verdict
    #2) upgrades BOTH near-dup stages to VERIFY-BEFORE-BLOCK,
    aligning their precision with the media faces' exact-Hamming
    verify: history band candidates are rescored with exact
    char-shingle Jaccard over the real texts
    (:func:`operators.dedup.verify_candidates_jaccard`) and a doc is
    blocked only when some historical candidate clears the
    threshold; within-batch candidate pairs are rescored the same
    way (:func:`operators.dedup.verify_pairs_jaccard`) before
    connected components, so a bare band collision between unrelated
    batch docs no longer merges their clusters. This matters
    precisely because the ingest keeper contract is append-only, so
    an unverified band-collision false block is PERMANENT. Cost: one
    extra scan of the docs layer per candidate-carrying batch,
    pruned to (id, text) and semi-joined against the BROADCAST
    candidate ids (history text read for candidate rows only, never
    shuffled; the within-batch verify is pair-set-sized) — bound the
    candidate set with ``lsh_max_bucket`` when enabling this.
    ``verify_max_broadcast_chars`` (r18, verdict #2) forwards the
    verifier's broadcast guard
    (:func:`operators.dedup.verify_candidates_jaccard` —
    pre-flighted Σ candidate-text chars above which every broadcast
    hint drops and the same joins run shuffle-side): raise it on a
    big-driver cluster to keep the broadcast fastpath for larger
    candidate sets, lower it on a small driver, ``None`` disables
    the guard (always broadcast — the pre-r17 crash-by-OOM regime).
    Both verify knobs are tuning knobs, not lake identity:
    verification only narrows the gate and the sidecar layout is
    unchanged. The LSH recipe — ``lsh_bands`` bands over the 8
    MinHash values of 8-char shingles, ``"fast"`` hash family (the
    ``_LSH_*`` constants) — is stamped into the ``_lake_mode``
    marker, so every batch provably uses the
    same banding (mismatched keys would silently never collide) and a
    guarded lake refuses unguarded calls (docs skipping the guard
    would be invisible to it forever). Append order docs → ids →
    fingerprints → bands: a crash before the bands append leaves the
    batch invisible to the near-dup guard only until the replay heals
    it (``healed_bands``, same id-absence proof as the fingerprint
    heal).

    A lake carrying a TEXT INDEX (r16 — ``text_index_b{N}``, built
    once by :func:`build_text_index`) upgrades the verify stage's
    history read from that per-candidate-batch docs scan to a
    bucket-PRUNED read: candidate ids map to ≤ |candidates| of the
    index's N partitions, and only those directories are opened.
    Presence-driven like the filter-freshness rule — no knob; every
    admitting batch appends its (id, text) to a discovered index
    (whether or not verification is on, so the index stays complete
    across knob windows — the append goes to the layer's unpartitioned
    TAIL sidecar, r17, folded into the buckets by
    :func:`maintain_lake`; readers union base ∪ tail), a crash window
    is healed by the id-absence backfill (from the DOCS layer, so
    index content stays exactly equal to docs content), and any id
    the index is missing at probe time falls back to the docs scan
    for exactly those ids — a stale or torn index costs speed, never
    a wrong admission. Opt out = delete the layer.

    ``line_census=True`` maintains the lake's boilerplate census
    alongside the guard sidecars: each ADMITTED batch's qualifying
    lines land in ``<root>/line_census`` via
    :func:`update_line_census` (digest-idempotent per batch), BEFORE
    the docs append — a crash after the census lands replays into an
    identical admitted set whose identical id-set digest makes the
    retry a no-op, so at-least-once delivery neither double-counts
    nor loses a batch. Read the accumulated census with
    :func:`read_line_census` and cut with
    ``drop_common_lines(common=...)``.

    ``gopher_gate`` / ``max_top_ngram_frac`` / ``max_dup_ngram_frac``
    (r10) apply the batch pipeline's Gopher Table A1 verdict and
    n-gram repetition caps at ADMISSION (the decontamination
    precedent): spam-shaped docs are rejected before any sidecar sees
    them and leave no fingerprint, so loosening the gates later lets
    the same content in — identity stays owned by the content guard.
    Same helpers as the gate stage (:func:`apply_gopher_gate`,
    :func:`apply_ngram_caps`), so batch and streaming ingests gate
    identically to the offline pipeline.

    ``bloom_guard`` (r10) maintains a Bloom sidecar
    (``<out_root>/bloom`` — operators/bloom.py, sparse 64-bit words,
    ≤2^24 bits) in FRONT of the fingerprint join: the batch is
    probed map-side (k broadcast joins, zero batch exchanges) and
    only the "maybe seen" residue pays the exact join — the
    "definitely new" majority of a novel stream skips the
    corpus-sized guard entirely (no false negatives by
    construction). Write ordering is the census rule applied again:
    the filter is overwritten (merge = per-word bit_or,
    replay-idempotent) BEFORE the docs/fingerprint appends — bits for
    keys that never land are harmless false positives, while the
    reverse order could leave admitted fingerprints missing from the
    filter, a false negative that would let a later duplicate skip
    the exact join. The filter is a CACHE of the fingerprint layer:
    absent or unreadable (crash mid-overwrite), it is rebuilt from
    the layer on next use. Lifecycle (r12): the geometry lives in the
    layer name and is DISCOVERED per call (largest layer wins); when
    the post-merge fill crosses ``bloom_max_fill`` (default 0.5 —
    fpp ≈ fill^k) the sidecar is rebuilt one ``hex_chars`` step
    larger from the fingerprint layer (:func:`bloom_rebuild`, new
    layer written before the old is deleted), restoring the fastpath
    instead of silently degrading to all-"maybe".
    ``bloom_rebuild_mode="defer"`` (r13) keeps that rescan OFF the
    admission path: a saturated batch only reports
    ``bloom_rebuild_due`` and the operator runs :func:`maintain_lake`
    out-of-band — at 100 TB the fingerprint sidecar is ~2 TB, and a
    synchronous rebuild would stall one unlucky admission for the
    whole rescan, while a deferred one costs only extra exact-join
    traffic (correct either way) until maintenance runs. FRESHNESS
    RULE (r15): a filter layer present in the lake is merged into by
    EVERY admitting batch, whether or not its guard knob is on — the
    knob gates only the probe. Toggling the knob off and back on
    would otherwise leave the filter readable-but-stale, and a stale
    filter PROVES off-window keys new (false negatives → duplicate
    admission). Opt out of maintenance by deleting the filter layer;
    the next guarded batch rebuilds it from the authoritative key
    layer. Applies identically to the ``url_bloom`` lineage.

    ``media_guard`` (r12) upgrades admission with PERCEPTUAL media
    dedup for batches that carry a binary ``payload`` column: a
    ``media_bands`` sidecar persists the 64-bit perceptual hash
    (4×16-bit bands, :func:`operators.multimodal.perceptual_hash` —
    constant width per image regardless of payload size); each batch
    drops (a) its own perceptual-cluster non-keepers (banded Hamming
    pairs → connected components, batch-sized) and (b) images within
    3 bits of ANY admitted image
    (:func:`operators.multimodal.phash_seen_ids` — batch hash rows
    broadcast against the sidecar, exact Hamming verify in the probe,
    history never shuffled or payload-read). Unlike the text LSH gate
    this one is verify-exact (the sidecar carries the full hash), so
    at the default threshold the block is never a band-collision
    false positive. The kernel identity is stamped into the
    ``_lake_mode`` marker like the LSH recipe; append order
    docs → … → bands → media hashes, with the same id-absence heal on
    replay (``healed_media``). NULL/unreadable payloads hash to NULL
    bands: admitted (no perceptual evidence), kept out of the
    sidecar.

    KIND ROUTING (r13, verdict #2): when the batch carries a
    ``kind`` column, admission is
    per-modality — a re-encoded duplicate *video* or *audio* file is
    blocked, not just images. Images go through the pHash guard
    above; videos through a ``media_vframes`` sidecar (one row per
    distinct sampled-frame hash with the video's distinct-hash count
    stamped per row — :func:`operators.multimodal.vhash_seen_ids`
    probes it by frame-set Jaccard without ever aggregating history;
    a missing ``duration_ms`` column degrades the frame plan to one
    whole-stream frame); audio through a ``media_awins`` sidecar of
    sliding-window fingerprints probed by offset voting
    (:func:`operators.multimodal.audio_seen_ids` — shift-tolerant,
    so a trimmed/re-padded copy is still caught). Within-batch
    dedup unions all three modalities' pairs into ONE components
    pass; the three history probes union into ONE flag of pass B
    (below), so the payload-bearing batch is never re-materialized
    per modality.
    Each sidecar gets the docs→sidecar append order and its own
    id-absence heal (``healed_video`` / ``healed_audio``). The
    routing decision, the video frame cadence, AND the presence of
    the ``duration_ms`` column are stamped into the mode marker — a
    kind-less batch on a routed lake (or vice versa), a cadence
    change, or a batch flipping duration presence is refused loudly,
    since each would silently hash the same video into a different
    frame set and collapse the Jaccard guard. Kind-less batches keep
    the r12 legacy shape (every payload hashed as an image). Video
    rows with a NULL duration still run the one-whole-stream-frame
    degraded plan (per-row, documented); their count per batch is
    surfaced as ``video_no_duration``.

    ``media_max_bucket`` (r14, verdict #4) is the hot-bucket guard
    for degenerate media content — all-black frames, silence/zero
    padding, test patterns — whose shared hashes otherwise (a) blow
    up the banded joins quadratically and (b) for AUDIO can falsely
    block genuinely new recordings (``_audio_hash32_py`` maps every
    constant byte run to hash 0, so two unrelated recordings sharing
    ``min_votes`` hops of silence at aligned offsets vote past the
    threshold). One knob, three enforcement sites: within-batch pair
    generation (each kernel's own ``max_bucket``, internally
    conservative — set sizes stay full), the history probes
    (over-common SIDECAR hashes are dropped from the batch side
    before the join, so the explosion never materializes; always
    similarity-lowering since a batch∩history-common hash is by
    definition shared), and sidecar APPEND time (hashes over-common
    within the appended batch never enter ``media_vframes`` /
    ``media_awins``, so history buckets stay bounded; the per-row
    ``n_frames`` stamp is computed BEFORE the cap, so history set
    sizes stay full and a capped hash can only lower a future
    Jaccard). Capping is monotone under-blocking — never a false
    block — so it is a tuning knob, not lake identity.

    ``url_guard`` (r14) adds the RefinedWeb-order URL gate — the
    CHEAPEST guard, run before any content hashing: each batch keeps
    the min-id keeper per canonical url (operators/urls.py
    canonicalization; the window shuffles (id, canonical) only, never
    the payload-bearing frame) and drops docs whose canonical url is
    already admitted (``url_keys`` sidecar — one-column scan,
    equality join, the fingerprint-guard shape). NULL/unparseable
    urls carry no evidence: admitted, kept out of the sidecar. The
    guard is lake identity (``+url`` in the mode marker — docs
    admitted without url keys would be invisible to it forever);
    append order docs → … → url keys with the usual id-absence heal
    (``healed_urls``). ``url_blocklist`` is the C4-style domain gate
    (registered-domain match on the canonical host), applied with the
    quality-gate precedent: blocked docs leave NO fingerprint, so
    removing a domain from the blocklist later admits its content —
    independent of ``url_guard``, tunable per call, not lake
    identity. The default domain extract is the last-TWO-labels
    approximation, which cannot express ccTLD sites (blocking
    ``bbc.co.uk`` never matches — the extract yields ``co.uk`` — and
    listing ``co.uk`` would block the entire ccTLD); pass the
    two-label public suffixes your corpus touches in
    ``url_extra_suffixes`` (``("co.uk", "com.au")``) to shift those
    hosts to a three-label extract (r15 advisor) — or pass a real
    Public Suffix List through ``url_psl_rules`` (r16, verdict #6:
    ``urls.PSL_BUILTIN_MINI`` or ``urls.load_psl_rules(open(...))``)
    to run the full longest-match/wildcard/exception PSL algorithm in
    the blocklist's domain extract; still pure Column algebra (InSet
    probes), and like the blocklist itself it is policy, not lake
    identity. Counters:
    ``url_skipped`` (within-batch non-keepers + history hits),
    ``healed_urls``, ``domain_blocked``.

    ``url_bloom`` (r15) puts a Bloom filter in FRONT of the url
    history probe — the url analog of ``bloom_guard``, and the fix
    for the one guard whose per-batch cost grew with lake size
    unmitigated (the ``url_keys`` sidecar SCAN — measured exponent
    0.55 to 32M rows, SCALE.md §r15; the band/media probes read
    constant-width sidecars and the fingerprint guard already has its
    filter). The batch's canonical urls are probed map-side;
    "definitely new" urls skip the sidecar join (no false negatives
    by construction) and a batch with NO "maybe" urls — the
    novel-stream common case — never scans the sidecar at all.
    Write order is the census rule: the filter merges (per-word
    bit_or, replay-idempotent) BEFORE the docs/url_keys appends, so a
    crash degrades to harmless false positives, never to a url
    missing its bits. The filter is a CACHE of ``url_keys`` —
    absent/torn, it rebuilds from the layer; geometry lives in the
    ``url_bloom_k{k}h{hex}`` path and grows on saturation past a
    fill of 0.1 (``_URL_BLOOM_MAX_FILL`` — STRICTER than the
    fingerprint lineage's 0.5 on purpose: this filter's value is
    skipping the scan OUTRIGHT, which needs ``fpp·|batch| < 1``,
    i.e. fill^4·batch < 1 — at fill 0.5 a 5k-url batch always
    carries false positives and the scan always runs; measured,
    SCALE.md §r15 bloom) with ``bloom_rebuild_mode`` shared
    (``defer`` leaves the rescan to :func:`maintain_lake`, which
    maintains both lineages at their own targets). Honest regime
    statement (measured): at local-fs scan rates the filter scan is
    within ~2x of the one-column sidecar scan itself, so the
    fastpath pays on I/O-bound storage (object stores) and on the
    reliability of the SKIP, not on local wall-clock — leave it off
    for small lakes. Not lake identity (a cache can always be
    rebuilt); requires ``url_guard=True``. Counters:
    ``url_bloom_fastpath``, ``url_bloom_fill_pct``,
    ``url_bloom_rebuilt_hex``, ``url_bloom_rebuild_due``.

    ADMISSION IN TWO FLAG PASSES: every way a batch row is refused
    is a per-row flag, so the rows are materialized twice in all, not
    once per guard, and every refusal is billed from one aggregate
    over one of the two checkpoints to the first flag that fired on
    the row. Pass A flags the batch with the exact keeper (a row
    whose id is not the smallest id of its content), the policy gates
    — decontamination, the quality gates, the domain blocklist — and
    one row per id (of an id's rows the gates pass, the one with the
    smallest fingerprint), checkpoints it, and bills ``arrived``
    (every row), ``contaminated_skipped`` (distinct ids),
    ``quality_rejected`` and ``domain_blocked`` (rows), in that order.
    The within-batch keepers — url window, near-dup components, media
    components — each read the rows no earlier keeper refused and
    flag their losers, and the fingerprint guard flags the other rows
    whose content the lake holds (the losers bypass it). Pass B joins
    onto those rows the hit ids
    of the url, near-dup and media history probes, the
    verify-rescued ids and the id guard's prior ids (each broadcast,
    distinct on the id), checkpoints once, and bills in the order url
    window → near-dup window → media window → fingerprint guard → url
    history → near-dup history → media history → id guard:
    ``url_skipped``, ``near_dup_blocked`` and ``media_skipped`` each
    count their window's losers plus their history's hits; next to
    them ``near_dup_rescued``, ``video_no_duration`` and the count and
    id-set digest of the admitted rows — those with no flag. The
    fingerprint heal candidates are the prior rows no other flag
    marks. An input column named like the fingerprint or a flag is
    refused before anything is written.

    Returns counts, each refused row billed once, to the first flag in
    the order above: arrived (every input row), admitted (new +
    first-copy), healed_fingerprints (replay backfills), total_docs
    (from the ``_lake_stats`` running-total marker, one small JSON file —
    replay-idempotent via an admitted-id-set digest; the corpus-sized docs layer is
    never re-listed per batch, and :func:`recount_lake_docs` is the
    explicit re-sync entry point); with
    ``near_dup`` also near_dup_blocked (window non-keepers + history
    hits; verified when ``near_dup_verify`` is on),
    near_dup_rescued (candidates ADMITTED because verification
    cleared them — 0 with the knob off; the threshold-tuning
    signal) and healed_bands; with ``media_guard``
    also media_skipped and healed_media; with ``line_census``
    also census_lines (keys appended this call); with any quality
    gate on, also quality_rejected; with ``bloom_guard``, also
    bloom_fastpath (keys proven new without touching the exact
    sidecar), bloom_fill_pct, bloom_rebuilt_hex (0 unless this batch
    grew the filter synchronously) and bloom_rebuild_due (the target
    geometry when the filter is saturated and a
    :func:`maintain_lake` run is owed; 0 otherwise — reported on
    zero-admission batches too, since an all-duplicate stream on a
    saturated lake is exactly the traffic a deferred rebuild exists
    to relieve); with ``compact_above_files`` set, also
    ``compact_due`` (r16, verdict #1): the number of append layers
    whose files-appended-since-compaction accounting — carried in the
    same ``_lake_stats`` marker, incremented at write time with
    the planned write-task count, never a listing — exceeds the
    threshold, i.e. how many layers a
    ``maintain_lake(compact_above_files=...)`` run would sweep.
    Nonzero means that run is owed; admission stays correct either
    way (file growth taxes metadata, never decisions), which is why
    the signal is a counter, not an inline compaction.
    """
    from .functions.hashing import stable_fingerprint

    _check_ingest_knobs(bloom_rebuild_mode, url_bloom, url_guard)
    # checked on every batch, before anything is written: an input
    # column the passes would overwrite or join over is refused
    reserved = sorted(set(new_docs.columns) & set(_RESERVED_COLUMNS))
    if reserved:
        raise ValueError(
            f"incremental_ingest reserves the column name(s) {reserved} "
            "for the content fingerprint and its admission flags — "
            "rename them in the input"
        )
    for on, col, knobs in (
        (url_guard or bool(url_blocklist), "url", "url_guard/url_blocklist"),
        (media_guard, "payload", "media_guard"),
    ):
        if on and col not in new_docs.columns:
            raise ValueError(
                f"incremental_ingest({knobs}) needs a {col!r} column in "
                "the input batch"
            )
    fp_path = f"{out_root}/fingerprints"
    docs_path = f"{out_root}/docs"
    bands_path = f"{out_root}/band_buckets"
    # text index (r16): presence-driven, like the filter-freshness
    # rule — a discovered index is maintained by every admitting batch
    # and read by the verify stage; no knob, opt out = delete the
    # layer. One shallow listStatus of the lake root per batch.
    text_idx_n = _discover_text_index(spark, out_root)
    text_idx_path = (
        _text_index_path(out_root, text_idx_n)
        if text_idx_n is not None
        else None
    )
    text_idx_tail = (
        _text_index_tail_path(out_root, text_idx_n)
        if text_idx_n is not None
        else None
    )
    bucketed = catalog_prefix is not None
    fp_table = f"{catalog_prefix}_fingerprints" if bucketed else None
    id_table = f"{catalog_prefix}_ids" if bucketed else None

    # Mode marker: a 1-row `_lake_mode` layer stamped at lake
    # creation, BEFORE the first docs append. Each mode consults ONLY
    # its own guard sidecars, so flipping an existing lake between
    # path mode and catalog mode would silently re-admit the entire
    # corpus — the marker makes the mismatch loud. It also makes a
    # crashed FIRST batch (docs appended, fingerprints not)
    # distinguishable from a catalog-mode lake: with a matching
    # marker the call proceeds and the id guard absorbs the replay,
    # so a streaming checkpoint retrying that batch self-heals
    # instead of failing forever.
    mode = f"catalog:{catalog_prefix}" if bucketed else "path"
    if near_dup:
        # the LSH recipe is part of the lake's identity: band keys
        # from a different (hashes, bands, shingle, family) recipe
        # would never collide with the persisted layer, silently
        # disabling the guard — so it lives in the marker and every
        # batch must match it
        mode += (
            f"+lsh:{_LSH_HASHES}x{lsh_bands}x{_LSH_SHINGLE_K}"
            f":{_LSH_HASH_FAMILY}"
        )
    if url_guard:
        # the URL guard is lake identity like the LSH recipe: docs
        # admitted without url keys would be invisible to the guard
        # forever, so a guarded lake refuses unguarded calls (and
        # vice versa)
        mode += "+url"
    # kind routing (r13, verdict #2): a batch that carries the media
    # kind column gets per-modality admission — images through pHash
    # bands, videos through frame-hash Jaccard, audio through window
    # offset voting. A kind-less batch keeps the r12 legacy shape
    # (every payload hashed as an image). The routing decision is
    # part of the lake's identity like the kernels themselves: a
    # routed lake's video sidecar is invisible to a legacy call and
    # vice versa, so the marker makes a face mismatch loud.
    media_routed = media_guard and "kind" in new_docs.columns
    media_has_dur = "duration_ms" in new_docs.columns
    if media_guard:
        # the perceptual-hash kernel is part of the lake's identity
        # for the same reason as the LSH recipe: band keys from a
        # different kernel would never collide with the persisted
        # media sidecar, silently disabling the guard
        if media_routed:
            # duration presence is stamped like the frame cadence
            # (r13 advisor): a batch WITHOUT duration_ms hashes every
            # video into ONE whole-stream frame, so the same video
            # lands in a different frame set than a duration-carrying
            # batch would produce — frame-set Jaccard against the
            # sidecar silently collapses and duplicates re-admit.
            # Flipping presence on a routed lake is refused loudly by
            # the marker check below, exactly like a cadence change.
            mode += (
                f"+media:dhash+vframes:{media_video_every_ms}"
                f"{':dur' if media_has_dur else ':nodur'}"
                f"+awins:{multimodal.AUDIO_WINDOW}/{multimodal.AUDIO_HOP}"
            )
        else:
            mode += "+media:dhash"
    media_bands_path = f"{out_root}/media_bands"
    media_vframes_path = f"{out_root}/media_vframes"
    media_awins_path = f"{out_root}/media_awins"
    url_keys_path = f"{out_root}/url_keys"
    marker_path = f"{out_root}/_lake_mode"
    recorded = None
    marker = read_layer(spark, marker_path)
    if marker is not None:
        row = marker.head()
        if row is None:
            # schema-readable but zero rows: an interrupted marker
            # overwrite — refuse clearly instead of a None-subscript
            # TypeError (the marker is 1 row; rewriting it is trivial)
            raise ValueError(
                f"lake at {out_root} has an EMPTY _lake_mode marker "
                "(interrupted marker write?) — repair it by writing a "
                "1-row parquet with the lake's mode ('path' or "
                "'catalog:<prefix>') before ingesting"
            )
        recorded = row["mode"]
    if recorded is not None and recorded != mode and media_routed:
        # legacy-marker migration (r15 advisor): a routed lake stamped
        # by pre-r14 code lacks the ':dur'/':nodur' duration token —
        # without this check every such lake would refuse all further
        # ingest with the generic mode-mismatch error and no repair
        # path short of hand-rewriting the marker. A recorded mode
        # that matches this call's mode EXACTLY once the current
        # batch's duration token is removed is that legacy marker
        # (same kernels, cadence, LSH recipe, url stamp), so it is
        # auto-upgraded in place with the current batch's token: the
        # legacy recipe hashed with whatever duration presence its
        # batches carried, and the pipeline feeding a lake carries a
        # stable input schema — stamping the presence now makes any
        # FUTURE flip loud, which pre-r14 lakes never had. Residual
        # (documented): a legacy lake whose batches already flipped
        # presence was silently degraded before r14; the upgrade
        # cannot detect that retroactively, only stop it recurring.
        dur_token = ":dur" if media_has_dur else ":nodur"
        legacy = mode.replace(
            f"+vframes:{media_video_every_ms}{dur_token}",
            f"+vframes:{media_video_every_ms}",
            1,
        )
        if recorded == legacy:
            # tiny_df (r20): a cores-wide parallelized 1-row frame
            # under coalesce(1) drains every slice through ONE Python
            # worker serially — measured 5-6 s per marker write
            write_parquet(
                tiny_df(spark, [(mode,)], "mode string"), marker_path
            )
            recorded = mode
    if recorded is not None and recorded != mode:
        raise ValueError(
            f"lake at {out_root} was created in mode '{recorded}' but "
            f"this call runs in mode '{mode}' — each mode reads only "
            "its own dedup guards, so continuing would re-admit "
            "already-ingested content. Pass the original mode, or "
            "backfill the other mode's sidecars first."
        )
    if recorded is None:
        # no marker: a pre-marker (legacy) lake, or a brand-new one.
        # Legacy lakes keep the conservative heuristics; new lakes
        # stamp the marker before anything else is written.
        if (
            bucketed
            and not spark.catalog.tableExists(fp_table)
            and read_layer(spark, fp_path) is not None
        ):
            raise ValueError(
                f"lake at {out_root} has path-mode fingerprints but "
                f"catalog table {fp_table} does not exist — backfill "
                "the bucketed sidecars from the path layers before "
                "switching to catalog_prefix mode (or keep "
                "catalog_prefix=None)"
            )
        if (
            not bucketed
            and read_layer(spark, fp_path) is None
            and read_layer(spark, docs_path) is not None
        ):
            # an UNMARKED docs layer with no path-mode fingerprints is
            # either a catalog-mode lake (whose guards this call would
            # never read) or a pre-marker crashed first batch — can't
            # tell apart, so stop loudly rather than re-admit
            raise ValueError(
                f"lake at {out_root} has a docs layer but no path-mode "
                "fingerprint sidecar and no mode marker — if it was "
                "built with catalog_prefix, pass the same prefix; "
                "otherwise repair the fingerprints layer before "
                "ingesting"
            )
        write_parquet(tiny_df(spark, [(mode,)], "mode string"), marker_path)

    # Pass A. The exact keeper is exact_dedup's rule grouped on the
    # fingerprint (NULL text groups under the sentinel, and a NULL id
    # keeps nothing). The gates are decontamination
    # (text.ngram_contamination, probe grams broadcast), the quality
    # gates (the batch pipeline's Gopher and n-gram cap helpers) and
    # the domain blocklist (NULL/unparseable urls carry no evidence).
    # Rejected docs leave no fingerprint, so a loosened gate can admit
    # the same content later. Every verdict is per id
    # (decontamination) or per row, judged on the exact keepers, so
    # evaluating all gates on one frame decides what applying them one
    # after another would.
    batch = new_docs.withColumn(
        "fingerprint",
        F.coalesce(stable_fingerprint(_TEXT_COL), F.lit("<null-text>")),
    )
    # each content group's keeper id from the narrow (fingerprint, id)
    # projection, broadcast back, so only the id window below moves
    # the payload-bearing rows
    keeper = batch.groupBy("fingerprint").agg(
        F.min(_ID_COL).alias("__exact")
    )
    batch = batch.join(F.broadcast(keeper), "fingerprint", "left").withColumn(
        "__exact",
        F.coalesce(F.col(_ID_COL) != F.col("__exact"), F.lit(True)),
    )
    exact = F.col("__exact")
    keepers = batch.filter(~exact)
    # report key -> "gate fired" predicate, in billing order
    gates: dict[str, Column] = {}
    if decontaminate_probes is not None:
        contam_ids = text.ngram_contamination(
            keepers, _ID_COL, _TEXT_COL,
            decontaminate_probes, _ID_COL, _TEXT_COL,
        ).select(F.col(_ID_COL)).distinct()
        batch = _with_flag(batch, "__contam", contam_ids)
        gates["contaminated_skipped"] = F.col("__contam").isNotNull()
    if gopher_gate or max_top_ngram_frac or max_dup_ngram_frac:
        # a verdict per row, keyed by the id and the fingerprint (which
        # never holds a "/"); no keeper id is NULL
        row_key = F.concat_ws(
            "/", "fingerprint", F.col(_ID_COL).cast("string")
        )
        kept = keepers.withColumn("__row", row_key)
        if max_top_ngram_frac or max_dup_ngram_frac:
            kept = apply_ngram_caps(
                kept, "__row", _TEXT_COL,
                max_top_ngram_frac, max_dup_ngram_frac,
            )
        if gopher_gate:
            kept = apply_gopher_gate(kept, "__row", _TEXT_COL)
        batch = batch.withColumn("__row", row_key).join(
            kept.select("__row").distinct()
            .withColumn("__qkeep", F.lit(True)),
            "__row",
            "left",
        ).drop("__row")
        gates["quality_rejected"] = F.col("__qkeep").isNull()
    if url_blocklist:
        batch = batch.withColumn(
            "__blocked",
            F.coalesce(
                urls_ops.registered_domain(
                    F.col("url"), extra_suffixes=url_extra_suffixes,
                    psl_rules=url_psl_rules,
                ).isin([d.lower() for d in url_blocklist]),
                F.lit(False),
            ),
        )
        gates["domain_blocked"] = F.col("__blocked")
    # an id's lead row: its first row by fingerprint among those the
    # gates pass, else among its gated exact keepers, else among the
    # rest; a passing row other than the lead is refused
    gated = functools.reduce(Column.__or__, gates.values(), F.lit(False))
    batch = batch.withColumn(
        "__lead",
        F.row_number().over(
            Window.partitionBy(_ID_COL).orderBy(exact, gated, "fingerprint")
        ) == 1,
    )
    billed, passed = _first_fired(
        [(None, exact), *gates.items(), (None, ~F.col("__lead"))]
    )
    aggs = {key: _rows(pred) for key, pred in billed.items()}
    if "contaminated_skipped" in billed:
        # decontamination judges an id: its rows count once
        aggs["contaminated_skipped"] = F.count_distinct(
            F.when(billed["contaminated_skipped"], F.col(_ID_COL))
        )
    batch = batch.localCheckpoint()
    counts = _tally(batch, arrived=F.count(F.lit(1)), **aggs)
    arrived = counts["arrived"]
    gate_counts = {key: counts[key] for key in gates}
    batch = batch.filter(passed).drop(
        "__exact", "__contam", "__qkeep", "__blocked", "__lead"
    )
    # heal-coverage base (r17, ADVICE medium): the batch ids BEFORE
    # any within-batch keeper flag, so prior_batch_ids below covers
    # batch-composition-dependent LOSERS too — a prior id whose
    # sidecar append crashed can re-arrive with UNCHANGED content and
    # lose keeper selection to a different doc in THIS batch (keeper
    # choice depends on batch composition, not content); a heal base
    # taken after the keepers would leave it out of every sidecar heal
    # forever
    heal_base = batch.select(_ID_COL)
    columns = batch.columns

    # The within-batch keepers, in billing order: each stage reads the
    # rows no earlier keeper refused, and its losers become one more
    # flag column of the batch, billed by pass B's counters.
    wb_refused = F.lit(False)
    if url_guard:
        # RefinedWeb URL dedup at ADMISSION — the cheapest guard, run
        # before any content hashing: one canonical-url window over
        # the batch (id + canonical string only — the payload-bearing
        # frame never rides the shuffle) keeps the min-id keeper per
        # canonical url; the history probe below blocks urls already
        # admitted. NULL/unparseable urls carry no evidence: admitted,
        # kept out of the sidecar (the NULL-payload rule).
        uproj = batch.select(
            F.col(_ID_COL),
            urls_ops.canonicalize_url(F.col("url")).alias("__curl"),
        ).filter(F.col("__curl").isNotNull())
        ranked = uproj.withColumn(
            "__rn_url",
            F.row_number().over(
                Window.partitionBy("__curl").orderBy(F.col(_ID_COL).asc())
            ),
        ).localCheckpoint()
        batch = _with_flag(
            batch, "__uw", ranked.filter(F.col("__rn_url") > 1)
        )
        wb_refused = F.col("__uw").isNotNull()
        # keeper url keys: probe input, sidecar append, heal source
        batch_urls = ranked.filter(F.col("__rn_url") == 1).select(
            _ID_COL, F.col("__curl").alias("canonical_url")
        )
    if near_dup:
        live = batch.filter(~wb_refused)
        # band keys of the rows no keeper refused, computed ONCE
        # (checkpointed: the within-batch pair stage, the history
        # probe, and the sidecar append all read them) — batch-sized
        # × bands rows, never corpus-sized
        batch_bands = dedup.lsh_bands(
            dedup.minhash_signatures(
                live, _ID_COL, _TEXT_COL, _LSH_HASHES,
                _LSH_SHINGLE_K, _LSH_HASH_FAMILY,
            ),
            _LSH_HASHES, lsh_bands, _LSH_HASH_FAMILY,
        ).localCheckpoint()
        # two near copies in one batch admit one keeper: pairs →
        # components → the non-keepers' flag, all batch-sized
        pairs = dedup.minhash_lsh_pairs(
            live, _ID_COL, _TEXT_COL,
            scale_profile="production", hash_family=_LSH_HASH_FAMILY,
            bands_df=batch_bands,
        )
        wb_rejected = None
        raw_pairs = pairs
        if near_dup_verify is not None:
            # verify-before-block applies to the WITHIN-BATCH stage
            # too (r15 — the history gate alone would leave an
            # asymmetry): a bare band collision between two unrelated
            # batch docs would otherwise merge their components and
            # permanently drop one. Pair-set-sized work (two joins
            # against a shingle projection of the batch).
            # Both the verified set and its complement are needed for
            # the blocked/rescued split below (r16, verdict #2) —
            # checkpoint the raw pair set so the verify plan and the
            # anti-join read it instead of re-running the band join.
            raw_pairs = pairs.localCheckpoint()
            verified = dedup.verify_pairs_jaccard(
                live, _ID_COL, _TEXT_COL, raw_pairs,
                shingle_k=_LSH_SHINGLE_K, min_jaccard=near_dup_verify,
            ).localCheckpoint()
            wb_rejected = raw_pairs.join(
                verified, ["id_a", "id_b"], "left_anti"
            )
            pairs = verified
        batch = _with_flag(
            batch, "__nw", _non_keepers(dedup.connected_components(pairs))
        )
        if wb_rejected is not None and wb_rejected.first() is not None:
            # the docs verify rescued are the RAW graph's non-keepers
            # the verified graph keeps (verified components refine raw
            # ones); skipped when no pair was rejected
            batch = _with_flag(
                batch, "__nwr",
                _non_keepers(dedup.connected_components(raw_pairs)),
            )
        wb_refused = wb_refused | F.col("__nw").isNotNull()
    video_no_duration = F.lit(False)
    if media_guard:
        live = batch.filter(~wb_refused)
        # perceptual hashes of the rows no keeper refused, computed
        # ONCE (checkpointed: within-batch pairing, the history probe,
        # and the sidecar append all read them) — constant width per
        # row regardless of payload size, so payloads are read exactly
        # once per kernel on top of pass A's one batch checkpoint.
        if media_routed:
            # per-kind routing (r13): each modality's kernel sees
            # only its own rows — a video's bytes are never hashed as
            # an image. Other kinds / NULL payloads carry no
            # perceptual evidence and are admitted.
            duration = (
                F.col("duration_ms").cast("long")
                if "duration_ms" in batch.columns
                # no duration: the video kernel degrades to ONE
                # whole-stream frame (deterministic, documented)
                else F.lit(None).cast("long")
            )
            msrc = live.select(
                F.col(_ID_COL),
                F.col("kind"),
                F.col("payload"),
                duration.alias("duration_ms"),
            )
            # degraded-path visibility (r13 verdict note): a video with
            # no duration runs the one-frame plan, an effectively
            # exact-payload check (a re-encode admits): pass B counts
            # them so the operator sees how much runs degraded
            video_no_duration = (
                ~wb_refused
                & (F.col("kind") == "video")
                & F.col("payload").isNotNull()
                & duration.isNull()
            )
            batch_mhashes = multimodal.perceptual_hash(
                msrc,
                id_col=_ID_COL,
                payload_col="payload",
                kinds=("image",),
            ).localCheckpoint()
            batch_vfh = multimodal.video_frame_hashes(
                msrc,
                every_ms=media_video_every_ms,
                id_col=_ID_COL,
                payload_col="payload",
            )
            # the video sidecar shape: one row per DISTINCT frame
            # hash with the video's distinct-hash count stamped on
            # every row, so the history probe never aggregates the
            # corpus-sized layer (vhash_seen_ids plan notes).
            # Checkpoint the distinct set (payloads decode exactly
            # once, into it), then the count join is hash-sized.
            vdist = batch_vfh.select(_ID_COL, "hash64").distinct(
            ).localCheckpoint()
            batch_vside = vdist.join(
                vdist.groupBy(_ID_COL).agg(
                    F.count(F.lit(1)).alias("n_frames")
                ),
                _ID_COL,
            ).localCheckpoint()
            batch_awins = multimodal.audio_window_hashes(
                msrc, id_col=_ID_COL, payload_col="payload"
            ).localCheckpoint()
            # append-facing capped views (media_max_bucket): hashes
            # over-common WITHIN this batch never enter the sidecars,
            # so history buckets stay bounded even on a degenerate
            # corpus (all-black frames, silence). Applied ONLY to the
            # append/heal paths — the probe's batch side keeps the
            # full set (shrinking it would shrink n_a and INFLATE the
            # probe's Jaccard); n_frames was stamped above from the
            # full set, so a capped hash can only lower similarity.
            def _capped(df: DataFrame, key: str) -> DataFrame:
                if media_max_bucket is None:
                    return df
                hot = (
                    df.groupBy(key)
                    .agg(F.count(F.lit(1)).alias("__df"))
                    .filter(F.col("__df") > int(media_max_bucket))
                    .select(key)
                )
                return df.join(F.broadcast(hot), key, "left_anti")

            batch_vside_app = _capped(batch_vside, "hash64")
            batch_awins_app = _capped(batch_awins, "hash32")
        else:
            # legacy (r12) shape — kinds=(): every payload hashes as
            # an image; the caller owns kind routing
            batch_mhashes = multimodal.perceptual_hash(
                live.select(_ID_COL, "payload"),
                id_col=_ID_COL,
                payload_col="payload",
                kinds=(),
            ).localCheckpoint()
        # two near-identical media in one batch admit one keeper: each
        # modality's pairs union into ONE components pass (kind-disjoint
        # ids), then the non-keepers' flag
        mpairs = multimodal.phash_near_dup_pairs(
            batch_mhashes,
            id_col=_ID_COL,
            max_hamming=_MEDIA_MAX_HAMMING,
            max_bucket=media_max_bucket,
        ).select("id_a", "id_b")
        if media_routed:
            mpairs = mpairs.unionByName(
                multimodal.video_near_dup_pairs(
                    batch_vside,
                    id_col=_ID_COL,
                    min_jaccard=_VIDEO_MIN_JACCARD,
                    max_bucket=media_max_bucket,
                ).select("id_a", "id_b")
            ).unionByName(
                multimodal.audio_match_pairs(
                    batch_awins,
                    id_col=_ID_COL,
                    min_votes=_AUDIO_MIN_VOTES,
                    max_bucket=media_max_bucket,
                ).select("id_a", "id_b")
            )
        batch = _with_flag(
            batch, "__mw", _non_keepers(dedup.connected_components(mpairs))
        )
        wb_refused = wb_refused | F.col("__mw").isNotNull()
    live = batch.filter(~wb_refused)  # the rows no keeper refused
    # The guard sidecars in their crash-commit order — each appends
    # after docs → ids → fingerprints and before the text-index tail,
    # so a crash anywhere before a sidecar's append leaves that batch
    # invisible to its guard only until the replay's id-absence heal
    # below backfills it. Media rows append their capped views
    # (media_max_bucket) on both paths, so a heal cannot smuggle the
    # over-common hashes past the append-time cap; NULL-band image
    # rows (unreadable payloads) carry no evidence and stay out.
    sidecars: list[_Sidecar] = []
    if near_dup:
        sidecars.append(
            _Sidecar("band_buckets", batch_bands, "id", "healed_bands",
                     batch_bands)
        )
    if media_guard:
        sidecars.append(
            _Sidecar("media_bands",
                     batch_mhashes.filter(F.col("band0").isNotNull()),
                     _ID_COL, "healed_media", batch_mhashes)
        )
    if media_routed:
        sidecars += [
            _Sidecar("media_vframes", batch_vside_app, _ID_COL,
                     "healed_video", batch_vside),
            _Sidecar("media_awins", batch_awins_app, _ID_COL,
                     "healed_audio", batch_awins),
        ]
    if url_guard:
        sidecars.append(
            _Sidecar("url_keys", batch_urls, _ID_COL, "healed_urls",
                     batch_urls)
        )
    if bucketed and spark.catalog.tableExists(fp_table):
        seen = spark.table(fp_table).select("fingerprint")
    else:
        seen = None if bucketed else read_layer(spark, fp_path)
        if seen is not None:
            seen = seen.select("fingerprint")
    # the two Bloom lineages — each a cache of one key layer, probed
    # in front of its exact join when the knob is on, and maintained
    # by every admitting batch whenever the layer is present
    fp_filter = _BloomLineage(
        spark, out_root, "bloom", "fingerprint",
        keys=None if seen is None else (lambda: seen),
        guard=bloom_guard, max_fill=bloom_max_fill,
    )
    url_history = url_guard and read_layer(spark, url_keys_path) is not None

    def url_keys() -> DataFrame:
        return spark.read.parquet(url_keys_path).select("canonical_url")

    url_filter = _BloomLineage(
        spark, out_root, "url_bloom", "canonical_url",
        keys=url_keys if url_history else None,
        guard=url_bloom, max_fill=_URL_BLOOM_MAX_FILL,
    )
    if seen is not None:
        # the fingerprint guard's flag: the fingerprints of the rows no
        # keeper refused that the sidecar holds, by a semi-join (a key
        # stored twice cannot fan a row out, and the sidecar side costs
        # what an anti-join does), made distinct (batch-bounded) and
        # broadcast back onto the batch. With the Bloom pre-filter only
        # the "maybe seen" residue probes the sidecar
        fp_probe = live
        if bloom_guard:
            _, fp_probe = fp_filter.probe(live)
        fp_hits = fp_probe.select("fingerprint").join(
            seen, "fingerprint", "left_semi"
        ).distinct()
        batch = batch.join(
            F.broadcast(fp_hits.withColumn("__fp", F.lit(True))),
            "fingerprint",
            "left",
        )
    # the history guards' hit ids (url → near-dup → media, plus the
    # verify-rescued ids), each batch-bounded and distinct on the id;
    # a hit on a row a keeper refused bills to that keeper
    if url_history:
        # URL history probe: a ONE-column scan of the url_keys
        # sidecar probed by the BROADCAST batch keys — the
        # lsh_seen_ids/phash_seen_ids inversion (r15 advisor): a
        # left-semi with the corpus-sized sidecar on the right could
        # only broadcast-build on HISTORY, so it would shuffle the
        # sidecar every batch; inner-joining history against the
        # broadcast batch probes it map-side with no history shuffle
        # or sort.
        probe_urls = batch_urls
        if url_bloom:
            # Bloom front for the url guard (r15): of the five
            # guards, this probe was the only one whose per-batch
            # cost grows with lake size unmitigated (the sidecar SCAN
            # — measured exponent 0.55 to 32M rows, SCALE.md §r15;
            # the band/media probes read constant-width sidecars,
            # the fingerprint guard already has bloom_guard). Only
            # the "maybe" residue joins the sidecar scan — and a
            # batch with NO maybes (the novel-stream common case)
            # skips the corpus-sized scan entirely.
            _, probe_urls = url_filter.probe(batch_urls)
            if probe_urls.first() is None:
                probe_urls = None
        if probe_urls is not None:
            batch = _with_flag(batch, "__ug", url_keys().join(
                F.broadcast(probe_urls), "canonical_url"
            ).select(_ID_COL).distinct())
    seen_b = read_layer(spark, bands_path) if near_dup else None
    if seen_b is not None:
        # history probe: batch band rows BROADCAST against a
        # two-column scan of the persisted band layer — history is
        # never shuffled or text-read per batch (lsh_seen_ids plan
        # notes). batch_bands is already checkpointed and holds at
        # most lsh_bands rows per arrived doc: under the probe's
        # limit that bound proves no chunking is due, so the probe
        # skips its own checkpoint + count; above it the mega-batch
        # chunk guard stays.
        probe_limit = dedup.PROBE_MAX_BROADCAST_ROWS
        if lsh_bands * arrived <= probe_limit:
            probe_limit = None
        if near_dup_verify is None:
            near_hits = dedup.lsh_seen_ids(
                None, seen_b, _ID_COL, _TEXT_COL, bands_df=batch_bands,
                max_bucket=lsh_max_bucket, max_broadcast_rows=probe_limit,
            )
        else:
            # verify-before-block (r15, verdict #2): rescore the
            # bounded candidate pairs with exact char-shingle Jaccard
            # against the docs layer before blocking anything — the
            # text-gate analog of the media probes' Hamming verify.
            # Same shingle_k as the LSH recipe, so the threshold sits
            # on the banding curve the recipe was tuned for.
            # checkpoint the batch-bounded pair set: the verifier
            # reads it three times (candidate ids both sides + the
            # final join), and a CANDIDATE-FREE batch — the common
            # case on a novel stream — skips the docs-layer scan
            # entirely (one cheap first() on the materialized frame
            # instead of planning the corpus-sized verify job)
            cand_pairs = dedup.lsh_seen_ids(
                None, seen_b, _ID_COL, _TEXT_COL, bands_df=batch_bands,
                max_bucket=lsh_max_bucket, max_broadcast_rows=probe_limit,
                return_pairs=True,
            ).localCheckpoint()
            if cand_pairs.first() is None:
                near_hits = cand_pairs.select(F.col(_ID_COL))
            else:
                # history texts through the bucket-pruned text index
                # when the lake carries one (r16) — candidate buckets
                # only, with an exact per-id fallback to the docs scan
                # for anything the index is missing; an indexless lake
                # keeps the (id, text)-pruned full scan
                if text_idx_n is not None:
                    verify_hist = _indexed_verify_history(
                        spark, docs_path, text_idx_path, text_idx_n,
                        cand_pairs, _ID_COL, _TEXT_COL,
                    )
                else:
                    verify_hist = spark.read.parquet(docs_path).select(
                        _ID_COL, _TEXT_COL
                    )
                near_hits = dedup.verify_candidates_jaccard(
                    live,
                    verify_hist,
                    cand_pairs,
                    _ID_COL,
                    _TEXT_COL,
                    shingle_k=_LSH_SHINGLE_K,
                    min_jaccard=near_dup_verify,
                    max_broadcast_chars=verify_max_broadcast_chars,
                ).localCheckpoint()
                # rescued accounting (r16, verdict #2): band-collision
                # candidates that verify CLEARED — without the knob
                # every one of these would have been blocked, so the
                # count is the knob's measured value per batch (and
                # the tuning signal for the Jaccard threshold). Ids
                # only, batch-bounded; a flag of pass B that only
                # counts (rescued rows stay admitted).
                batch = _with_flag(batch, "__ndr", cand_pairs.select(
                    F.col(_ID_COL)
                ).join(near_hits, _ID_COL, "left_anti").distinct())
        batch = _with_flag(batch, "__nd", near_hits)
    if media_guard:
        # media history probes: batch hash rows BROADCAST against the
        # constant-width media sidecars (history never shuffled or
        # payload-read per batch) — image bands with exact Hamming
        # verify, video frame-set Jaccard, audio offset voting. The
        # per-modality hit sets UNION into ONE flag of pass B.
        media_hits = []
        seen_m = read_layer(spark, media_bands_path)
        if seen_m is not None:
            media_hits.append(multimodal.phash_seen_ids(
                batch_mhashes,
                seen_m,
                id_col=_ID_COL,
                max_hamming=_MEDIA_MAX_HAMMING,
                max_bucket=media_max_bucket,
            ))
        seen_v = (
            read_layer(spark, media_vframes_path) if media_routed else None
        )
        if seen_v is not None:
            media_hits.append(multimodal.vhash_seen_ids(
                batch_vside,
                seen_v,
                id_col=_ID_COL,
                min_jaccard=_VIDEO_MIN_JACCARD,
                max_bucket=media_max_bucket,
            ))
        seen_a = (
            read_layer(spark, media_awins_path) if media_routed else None
        )
        if seen_a is not None:
            media_hits.append(multimodal.audio_seen_ids(
                batch_awins,
                seen_a,
                id_col=_ID_COL,
                min_votes=_AUDIO_MIN_VOTES,
                max_bucket=media_max_bucket,
            ))
        if media_hits:
            batch = _with_flag(batch, "__md", functools.reduce(
                DataFrame.unionByName, media_hits
            ).distinct())
    # crash-replay guard: ids already admitted are never re-appended
    # even if their fingerprint append didn't land
    prior_ids = None
    prior_batch_ids = None
    if bucketed and spark.catalog.tableExists(id_table):
        prior_ids = spark.table(id_table).select(_ID_COL)
    elif not bucketed:
        prior_ids = read_layer(spark, docs_path)
        if prior_ids is not None:
            prior_ids = prior_ids.select(_ID_COL)
    if prior_ids is not None:
        # ONE corpus-id scan per batch (r16 review #7): the batch ids
        # (distinct: pass A keeps one row per id) that are prior,
        # checkpointed once for the id guard's flag and every sidecar
        # heal, instead of one corpus-id semi-join per heal site. The
        # base is heal_base, so keeper losers are covered; a replay
        # whose CHANGED content gates differently stays outside heal
        # coverage (the documented re-crawl residual).
        prior_batch_ids = (
            heal_base.join(prior_ids, _ID_COL, "left_semi").localCheckpoint()
        )
        batch = _with_flag(batch, "__prior", prior_batch_ids)
    # Pass B: the batch with every flag is checkpointed ONCE — the one
    # materialization the counters, the appends and the heal read, so
    # they agree on one row set even if an input file changes between
    # jobs — and one aggregate over it bills each row to the first flag
    # that fired; the admitted rows are those with no flag at all.
    flags = [c for c in batch.columns if c not in columns]

    def _hit(flag: str) -> Column:
        return F.col(flag).isNotNull() if flag in flags else F.lit(False)

    billed, kept = _first_fired([
        ("url_skipped", _hit("__uw")),
        ("near_dup_blocked", _hit("__nw")),
        ("media_skipped", _hit("__mw")),
        (None, _hit("__fp")),
        ("url_skipped", _hit("__ug")),
        ("near_dup_blocked", _hit("__nd")),
        ("media_skipped", _hit("__md")),
        (None, _hit("__prior")),
    ])
    # the rows the history probes judge: no within-batch or
    # fingerprint flag
    history_in = ~wb_refused & ~_hit("__fp")
    history = _hit("__ug") | _hit("__nd") | _hit("__md")
    flagged = batch.localCheckpoint()
    counts = _tally(
        flagged,
        **{key: _rows(pred) for key, pred in billed.items()},
        # the raw-graph non-keepers the verified graph keeps, plus the
        # history candidates verification cleared that reach the
        # near-dup history guard
        near_dup_rescued=_rows(_hit("__nwr") & ~_hit("__nw"))
        + _rows(history_in & ~_hit("__ug") & _hit("__ndr")),
        video_no_duration=_rows(video_no_duration),
        admitted=_rows(kept),
        digest=_id_set_digest(_ID_COL, where=kept),
    )
    n_admitted, adm_digest = counts["admitted"], counts["digest"]
    admitted = flagged.filter(kept).drop(*flags)
    # batch-bounded, so broadcast to the url-filter merge and the
    # sidecar appends: the planner's size estimate of a checkpoint with
    # flag joins is far too large and would shuffle those joins
    admitted_ids = F.broadcast(admitted.select(_ID_COL))
    healable = None
    if prior_batch_ids is not None:
        # BACKFILL candidates: doc row landed but its fingerprint
        # append did NOT. "fingerprint absent from the sidecar" alone
        # does not prove that — the SAME id can legitimately return
        # with CHANGED content (a re-crawl), whose fingerprint must
        # never enter the sidecar (the content was never admitted;
        # appending it would permanently block that content under any
        # future id). The proof is the id's ABSENCE from the
        # sidecar's own id column: a fully-landed doc always has its
        # (original) fingerprint row there. So heal = prior rows no
        # other flag marks, anti-joined against the sidecar ids —
        # empty on every healthy batch, and exact for partial
        # fingerprint appends.
        fp_ids = None
        if bucketed and spark.catalog.tableExists(fp_table):
            fp_ids = spark.table(fp_table).select(_ID_COL)
        elif not bucketed:
            fp_ids = read_layer(spark, fp_path)
            if fp_ids is not None:
                fp_ids = fp_ids.select(_ID_COL)
        healable = flagged.filter(
            history_in & ~history & _hit("__prior")
        ).select("fingerprint", _ID_COL)
        if fp_ids is not None:
            healable = healable.join(fp_ids, _ID_COL, "left_anti")
    # sidecar heals, one per guard sidecar in commit order: same proof
    # obligation as the fingerprint heal, one crash window later — a
    # doc row (and possibly its fingerprint) landed but the sidecar
    # append did not, leaving the doc invisible to that guard.
    # Candidates come from the PRE-guard batch rows, not from
    # `flagged`: a replay after a fingerprint-append crash is caught
    # by the fp guard and never reaches the id guard, but its sidecar
    # rows may still be missing. Proof = id present in the
    # admitted-id set AND absent from the sidecar's own id column;
    # the healed rows are the replayed batch's rows (shares the fp
    # heal's re-crawl-during-crash-window residual). A lake without
    # prior ids has nothing to heal.
    healed = {s.healed_key: 0 for s in sidecars}
    heal_frames: dict[str, DataFrame] = {}
    for s in sidecars if prior_batch_ids is not None else []:
        path = f"{out_root}/{s.layer}"
        h = s.rows.join(
            F.broadcast(prior_batch_ids.withColumnRenamed(_ID_COL, s.id_col)),
            s.id_col,
            "left_semi",
        )
        side = read_layer(spark, path)
        if side is not None:
            h = h.join(
                side.select(s.id_col).dropDuplicates(),
                s.id_col,
                "left_anti",
            )
        h = h.localCheckpoint()
        healed[s.healed_key] = h.select(s.id_col).distinct().count()
        if healed[s.healed_key]:
            write_parquet(h, path, mode="append")
            heal_frames[s.layer] = h
    # text-index heal (r16): same id-absence proof, one more sidecar —
    # a doc row landed but its index append did not, leaving the text
    # invisible to the verify stage's pruned read until backfilled.
    # Two refinements over the sibling heals, both enabled by the
    # index being a CACHE of the docs layer: (1) the absence check is
    # PRUNED to the heal candidates' buckets (bounded driver collect
    # of their bucket values; a healthy batch has zero candidates and
    # never touches the index here), and (2) the backfilled TEXT comes
    # from the authoritative docs layer, not the replayed batch — so
    # unlike the fingerprint heal's re-crawl residual, index content
    # stays exactly equal to docs content even when a replay carries
    # changed text for a crash-window id.
    # Known residual (r16 review #2, adjudicated): in the BUCKETED
    # lake's docs→ids crash window, a re-crawl replay with CHANGED
    # text re-admits under the same id — docs then physically holds
    # old+new rows while the index holds only the new one, and the
    # id-granular completeness check cannot see the ghost row. The
    # ghost's content is invisible to EVERY guard the same way (its
    # fingerprint and bands appends also never landed, so it can
    # never source a band candidate by itself); the only divergence
    # from the pre-index docs-scan plan is a candidate pair whose
    # NEW-text banding collides while only the OLD text clears the
    # Jaccard bar — the same at-least-once window the bucketed
    # append order already documents, healed downstream by
    # exact-dedup and re-synced by the next build_text_index.
    healable_text = None
    if text_idx_n is not None and prior_ids is not None:
        # candidates from the PRE-guard batch ids (like the bands
        # heal): a replay after a crash between the docs and index
        # appends is usually caught by the FINGERPRINT guard and
        # never reaches the id guard's flag-join, so sourcing from
        # `flagged` would miss exactly the rows this heal exists for
        ht_ids = prior_batch_ids.withColumn(
            "tb",
            F.pmod(F.xxhash64(F.col(_ID_COL)), F.lit(text_idx_n)),
        )
        # TAIL FIRST (r17): recent appends — exactly the rows a
        # crash-replay window re-arrives over — live in the small
        # unpartitioned tail until the next fold. Anti-joining it
        # first (a) makes the heal idempotent against its own
        # backfills and (b) usually empties the candidate set
        # entirely, so the common replay pays ONE small-tail read
        # instead of bucket existence probes or the quarter-coverage
        # root read; only ids the tail cannot answer proceed to the
        # base-layer check below.
        tail = read_layer(spark, text_idx_tail)
        if tail is not None:
            try:
                ht_ids = ht_ids.join(
                    tail.select(F.col(_ID_COL)), _ID_COL, "left_anti"
                ).localCheckpoint()
            except JVM_ERRORS:
                pass  # unreadable tail rows: the base check below answers
        hbks = [int(r["tb"]) for r in ht_ids.select("tb").distinct().collect()]
        if hbks:
            if len(hbks) * 4 >= int(text_idx_n):
                # adaptive fallback (r17, ADVICE low — the
                # _indexed_verify_history quarter threshold applied
                # to the heal): a corpus-wide replay (all batch ids
                # prior) covers most buckets, and the per-bucket
                # existence probes below would pay up to N sequential
                # driver round-trips (HEADs on object stores) before
                # concluding nothing is missing. Above quarter
                # coverage, the ID-PRESENCE sidecar (r18, verdict #2
                # — ids-only, ~1-2% of the index's bytes, regenerated
                # at build/full-compaction and appended at cheap
                # folds) answers the id-absence check for every
                # candidate in one small read; a lake without one
                # (pre-r18, or sidecar unreadable) pays the pre-r18
                # cost instead: ONE read of the text-bearing layer
                # root, id-column-pruned. Sidecar coverage is exact
                # for base-resident ids (tail-resident ids were
                # anti-joined above; crash windows leave the tail in
                # place, so its ids are never only-in-base), and a
                # stale-PRESENT row is impossible short of
                # out-of-band base gutting — where the verify
                # stage's per-id docs fallback still covers
                # correctness.
                id_sources = []
                ids_p = _text_index_ids_path(out_root, text_idx_n)
                # the sidecar is a cache of the BASE's id set, so it
                # over-states when the base was gutted out-of-band
                # AFTER the sidecar was written (the r17 full-gut
                # crash test) — sample ≤4 candidate bucket dirs (HEAD
                # probes): if NONE exists the base is treated as
                # gutted and the heal takes the authoritative root
                # read instead (which then answers "nothing present"
                # and the backfill restores everything). A PARTIAL
                # gut that keeps some sampled dirs leaves those ids
                # un-backfilled only until the NEXT CHEAP FOLD: its
                # sidecar↔base row-count cross-check (r19, verdict
                # #4 — ids rows > base rows can only mean base rows
                # left out-of-band) regenerates the sidecar from the
                # live base, with the verify stage's per-id docs
                # fallback covering correctness in the interim.
                sample = sorted(
                    {
                        hbks[0],
                        hbks[len(hbks) // 3],
                        hbks[(2 * len(hbks)) // 3],
                        hbks[-1],
                    }
                )
                base_alive = any(
                    path_exists(spark, f"{text_idx_path}/tb={b}")
                    for b in sample
                )
                # an unreadable sidecar falls through to the root
                # read — absence degrades, never lies
                _sdf = (
                    read_layer(spark, ids_p)
                    if base_alive and path_exists(spark, ids_p)
                    else None
                )
                if _sdf is not None:
                    id_sources.append(
                        _sdf.select(F.col(_sdf.columns[0]).alias(_ID_COL))
                    )
                else:
                    # an unreadable/absent base leaves id_sources
                    # empty: every remaining candidate (tail already
                    # consulted above) is missing and the backfill
                    # restores them
                    base = read_layer(spark, text_idx_path)
                    if base is not None:
                        id_sources.append(base.select(F.col(_ID_COL)))
            else:
                # explicit candidate-bucket paths, not an isin filter
                # on the layer root — the root read would LIST all N
                # partition dirs per batch (see
                # _indexed_verify_history)
                id_sources = []
                live_hb = _live_bucket_paths(spark, text_idx_path, hbks)
                # present-but-unreadable buckets fall through to the
                # all-missing handling below
                hb = read_layer(spark, *live_hb) if live_hb else None
                if hb is not None:
                    id_sources.append(hb.select(F.col(_ID_COL)))
            # (tail ids were already anti-joined out of ht_ids above,
            # so id_sources here carry only the bucketed base)
            if id_sources:
                idx_ids = id_sources[0]
                for extra_src in id_sources[1:]:
                    idx_ids = idx_ids.unionByName(extra_src)
                missing_ids = ht_ids.join(
                    idx_ids.dropDuplicates(), _ID_COL, "left_anti"
                ).localCheckpoint()
            else:
                # nothing readable anywhere (torn layer, index younger
                # than these docs): all candidates missing
                missing_ids = ht_ids
            # gate the docs scan on an actual gap: prior-id rows are
            # routine (every replay, every re-crawled id), missing
            # index rows are crash residue — without this first()
            # every such batch would plan the corpus-sized backfill
            # read just to semi-join it against an empty set
            if missing_ids.first() is not None:
                healable_text = (
                    spark.read.parquet(docs_path)
                    .select(_ID_COL, _TEXT_COL)
                    .join(
                        F.broadcast(missing_ids.select(_ID_COL)),
                        _ID_COL,
                        "left_semi",
                    )
                    .localCheckpoint()
                )
    n_healed_text = (
        healable_text.count() if healable_text is not None else 0
    )
    if n_healed_text:
        # heal rows take the same tail path as the batch append (r17)
        # — a backfill is just a late append, and the partitioned
        # write's one-file-per-bucket cost is exactly what the tail
        # exists to avoid
        write_parquet(
            healable_text.select(_ID_COL, _TEXT_COL).coalesce(8),
            text_idx_tail,
            mode="append",
        )
    n_healed = healable.count() if healable is not None else 0
    if n_healed:
        if bucketed:
            (
                healable.write.mode("append")
                .format("parquet")
                .bucketBy(32, "fingerprint")
                .saveAsTable(fp_table)
            )
        else:
            write_parquet(healable, fp_path, mode="append")
            heal_frames["fingerprints"] = healable
    # Running total (r14, verdict #3): the corpus-sized docs layer is
    # NEVER re-counted on the normal path — at 100 TB a per-batch
    # parquet count is a full-layer file listing, exactly the
    # driver-action cost the r8 ingest lesson says to avoid. The
    # ``_lake_stats`` marker carries the total; each admitting
    # batch increments it, stamped with the admitted id-set digest
    # (the line-census pattern) and written BEFORE the docs append:
    # a crash in the (stats, docs) window replays into the identical
    # admitted set, whose matching (digest, n) makes the increment a
    # no-op — no double count; a crash in (docs, …) needs no stats
    # action at all (the increment already landed). A missing or
    # unreadable marker (pre-r14 lake, torn overwrite) degrades to
    # ONE authoritative recount, persisted so the next batch skips
    # it; :func:`recount_lake_docs` is the explicit re-sync entry
    # point. Semantics: the total counts ADMITTED docs (r15 advisor
    # correction) — in the bucketed-lake (docs, ids) crash window a
    # replay admits the IDENTICAL id set, so the matching (digest, n)
    # SKIPS the increment while the docs append physically re-lands
    # the rows: the marker stays at admitted-once semantics and
    # diverges from the physical row count until the pipeline's
    # exact-dedup stage heals the duplicates (the same at-least-once
    # window the bucketed append order already documents).
    # recount_lake_docs run BEFORE that heal re-syncs total_docs to
    # the duplicated physical count — by design, since it is the
    # "trust the layer" entry point.
    stats_path = f"{out_root}/_lake_stats"
    stats = _read_lake_stats(spark, stats_path)
    if stats is not None:
        base_total, last_digest, last_n, files_acc = stats
    else:
        # missing/torn marker: ONE authoritative recount — of the
        # total AND of the per-layer file counts (restarting the
        # append accounting at {} would be an undercount in the
        # UNSAFE direction: a lake already past threshold would stop
        # signaling compact_due, and trust_marker would then skip the
        # very listing that could correct it). Rare path, priced like
        # the total recount it already shares.
        last_digest, last_n = None, None
        docs = read_layer(spark, docs_path)
        if docs is not None:
            base_total = docs.count()
            files_acc = {}
            # the discovered text index is an append layer too (r16
            # review #1): leaving it out would restart its accounting
            # at 0 — the undercount direction this recount exists to
            # prevent (trust_marker would then skip the listing that
            # could correct it)
            _recount_layers = list(_APPEND_LAYERS)
            if text_idx_n is not None:
                _recount_layers.append(f"text_index_b{text_idx_n}")
            for _layer in _recount_layers:
                _n = _data_file_count(spark, f"{out_root}/{_layer}")
                if _layer.startswith("text_index_b"):
                    # the append tail's files count under the base
                    # layer's key (r17) — the threshold check and the
                    # fold treat them as one layer
                    _n += _data_file_count(
                        spark, f"{out_root}/{_layer}_tail"
                    )
                if _n:
                    files_acc[_layer] = _n
        else:
            base_total = 0
            files_acc = {}
    n_total_docs = base_total
    if n_admitted:
        # Append accounting for the compaction trigger (r16, verdict
        # #1): per-layer files-appended-since-compaction rides the
        # SAME digest-guarded marker write as the running total
        # — known at write time, never a listing (the marker's whole
        # point). Each layer's increment is an UPPER bound on the
        # files its append can write, derived from ITS OWN source
        # frame (the writer launches one task per partition): narrow
        # writes (docs, fingerprints, the heal backfills) bound by
        # the checkpointed frame's partition count exactly; the
        # guard-sidecar semi-joins bound by max(stream-side
        # partitions, shuffle partitions) — the stream side if the
        # join broadcasts, the exchange width if it doesn't, so the
        # bound holds under either strategy. (The first cut used
        # admitted's partition count for every layer — on a dup-heavy
        # batch `admitted` coalesces to 1 partition while the
        # batch-sized band frame writes dozens of files, an UNDER
        # count in the unsafe direction.) AQE coalescing / empty
        # partitions write fewer — erring toward compacting EARLY,
        # the safe direction; :func:`maintain_lake` re-syncs to
        # measured counts. Replay semantics inherit the digest guard:
        # a replayed batch whose marker write landed before the crash
        # skips the increment while its appends land once — counted
        # once, appended once. Uncounted residual: heal backfills on
        # zero-admission replays (no marker write happens) — bounded
        # by crash count, not batch count. Bucketed catalog sidecars
        # are excluded, mirroring the ``maintain_lake`` sweep (a
        # repartition would destroy their bucketing).
        p_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))

        def _parts(df) -> int:
            # checkpointed frames only — .rdd is metadata there
            return df.rdd.getNumPartitions()

        adm_p = _parts(admitted)
        layer_inc = {"docs": adm_p}
        if not bucketed:
            layer_inc["fingerprints"] = adm_p
        for s in sidecars:
            layer_inc[s.layer] = max(_parts(s.bound), p_shuffle)
        if line_census:
            # the census append is an aggregate — exchange-width bound
            layer_inc["line_census"] = p_shuffle
        if text_idx_n is not None:
            # tail appends (r17): both the batch append and the heal
            # backfill are coalesce(8) writes to the unpartitioned
            # tail sidecar, so 8 is the exact upper bound per write —
            # the pre-r17 partitionBy append was bounded by
            # min(buckets, rows) ≈ thousands of files per batch,
            # which is precisely what the tail removes. The tail's
            # files count under the BASE layer's key: maintain_lake's
            # threshold check sums base+tail and the fold resets both.
            tkey = f"text_index_b{text_idx_n}"
            layer_inc[tkey] = min(8, max(n_admitted, 1))
            if n_healed_text:
                layer_inc[tkey] += min(8, n_healed_text)
        if adm_digest == last_digest and n_admitted == last_n:
            # replayed batch: its increment already landed
            pass
        else:
            files_acc = dict(files_acc)
            for layer, inc in layer_inc.items():
                files_acc[layer] = files_acc.get(layer, 0) + inc
            for layer, hframe in heal_frames.items():
                files_acc[layer] = files_acc.get(layer, 0) + _parts(hframe)
            n_total_docs = base_total + n_admitted
            _write_lake_stats(
                spark, stats_path, n_total_docs, adm_digest, n_admitted,
                files=files_acc,
            )
    elif stats is None and read_layer(spark, docs_path) is not None:
        # migration write for a pre-marker lake: persist the one-time
        # recount (total AND measured file counts) so the next batch
        # reads the marker instead of listing the corpus
        _write_lake_stats(
            spark, stats_path, base_total, None, None, files=files_acc
        )
    n_census_lines = 0
    if n_admitted:
        # FILTER FRESHNESS RULE (r15 — found by the url-bloom review,
        # applies to both lineages): a filter layer PRESENT in the
        # lake is maintained by EVERY admitting batch; the guard knob
        # gates only the probe. Without this, toggling the knob off
        # for a while and back on is a silent false-negative bug: the
        # off-window batches append their keys to the authoritative
        # layer but never merge their bits, so the stale (but
        # perfectly readable) filter later PROVES those keys new and
        # re-sends of their content ride the fastpath past the exact
        # join. Opting out of maintenance = delete the filter layer
        # (it is a cache; the next guarded batch rebuilds it).
        # Both merges run BEFORE the docs append (the census ordering
        # rule); the url filter folds exactly the keeper urls the
        # url_keys append writes below.
        fp_filter.merge(admitted)
        if url_guard:
            url_filter.merge(
                batch_urls.join(admitted_ids, _ID_COL, "left_semi")
            )
        if line_census:
            # census BEFORE the docs append: a crash after this lands
            # replays into an identical admitted set (the guards saw
            # nothing land), whose identical id-set digest makes the
            # census update a no-op — no double count and no lost
            # batch, closing the window a census-after-docs order
            # would leave open (docs landed → replay admits nothing →
            # that batch's lines never counted).
            cen = update_line_census(
                spark, f"{out_root}/line_census", admitted
            )
            n_census_lines = cen["batch_lines"]
        write_parquet(admitted.drop("fingerprint"), docs_path, mode="append")
        if bucketed:
            # append order docs → ids → fingerprints: a crash between
            # ids and fingerprints is caught by the id guard on replay
            # (as in path mode). The sidecar adds ONE new window — a
            # crash between the docs append and the id append lets a
            # replay re-append that batch's docs rows (duplicates, not
            # loss; healed by the pipeline's exact-dedup stage). That
            # commit-boundary-wide at-least-once window is the price
            # of never scanning the corpus-sized docs layer per batch.
            (
                admitted.select(_ID_COL)
                .write.mode("append")
                .format("parquet")
                .bucketBy(32, _ID_COL)
                .saveAsTable(id_table)
            )
            (
                admitted.select("fingerprint", _ID_COL)
                .write.mode("append")
                .format("parquet")
                .bucketBy(32, "fingerprint")
                .saveAsTable(fp_table)
            )
        else:
            write_parquet(
                admitted.select("fingerprint", _ID_COL), fp_path,
                mode="append",
            )
        # then the guard sidecars in list order (bands → media →
        # vframes → awins → url keys): a crash before any of these
        # lands is healed on replay by the guards above + that
        # sidecar's id-absence backfill
        for s in sidecars:
            write_parquet(
                s.rows.join(
                    admitted_ids.withColumnRenamed(_ID_COL, s.id_col),
                    s.id_col,
                    "left_semi",
                ),
                f"{out_root}/{s.layer}",
                mode="append",
            )
        if text_idx_n is not None:
            # maintain-if-present (the filter-freshness rule): a lake
            # that carries a text index gets this batch's (id, text)
            # appended whether or not near_dup_verify is on, so the
            # verify stage's pruned read stays complete. Crash before
            # this lands → the id-absence heal above backfills from
            # the docs layer on replay; in the interim the verify
            # fallback covers the gap exactly. The append goes to the
            # UNPARTITIONED TAIL sidecar (r17): the first cut's
            # partitionBy("tb") append wrote one file per touched
            # bucket — ~2.9k files and +20-50 s PER 5k-doc admitting
            # batch (SCALE.md §r17, guard_probe index_ingest) — while
            # the tail write is sidecar-shaped (≤8 files); readers
            # union base ∪ tail, maintain_lake folds the tail into
            # the bucketed base inside the layer's compaction.
            write_parquet(
                admitted.select(_ID_COL, _TEXT_COL).coalesce(8),
                text_idx_tail,
                mode="append",
            )
    # saturation check on each guarded filter (rebuild-on-fill, or
    # the owed rebuild reported under bloom_rebuild_mode="defer") —
    # after the appends, so a sync rebuild includes this batch's keys
    sync_rebuild = bloom_rebuild_mode == "sync"
    fp_report = fp_filter.report(n_admitted, sync_rebuild, catalog_prefix)
    url_report = url_filter.report(n_admitted, sync_rebuild, catalog_prefix)
    out = {
        "arrived": arrived,
        "admitted": n_admitted,
        "healed_fingerprints": n_healed,
        "total_docs": n_total_docs,
    }
    if near_dup:
        # blocked/rescued split (r16, verdict #2): ``near_dup_blocked``
        # is what the gate dropped (verified drops when the knob is
        # on, raw band-collision drops when off); ``near_dup_rescued``
        # counts candidates ADMITTED because ``near_dup_verify``
        # cleared them — the knob's measured value per batch and the
        # signal for tuning its Jaccard threshold (always 0 with the
        # knob off).
        out["near_dup_blocked"] = counts["near_dup_blocked"]
        out["near_dup_rescued"] = counts["near_dup_rescued"]
        out["healed_bands"] = healed["healed_bands"]
    if media_guard:
        out["media_skipped"] = counts["media_skipped"]
        out["healed_media"] = healed["healed_media"]
        if media_routed:
            out["healed_video"] = healed["healed_video"]
            out["healed_audio"] = healed["healed_audio"]
            out["video_no_duration"] = counts["video_no_duration"]
    if url_guard:
        out["url_skipped"] = counts["url_skipped"]
        out["healed_urls"] = healed["healed_urls"]
    out.update(url_report)
    if "domain_blocked" in gate_counts:
        out["domain_blocked"] = gate_counts["domain_blocked"]
    if compact_above_files is not None:
        # compaction-due signal (r16, verdict #1) — the
        # ``bloom_rebuild_due`` pattern for the one maintenance action
        # that previously had no trigger: the number of append layers
        # whose files-appended-since-compaction accounting (the
        # marker, no listing) exceeds the threshold. Nonzero means a
        # ``maintain_lake(compact_above_files=...)`` run is owed; the
        # lake stays correct either way (small files only tax
        # metadata, never admission decisions). Reported on
        # zero-admission batches too — an all-duplicate stream still
        # pays every guard's sidecar scan, which is exactly the cost
        # compaction relieves.
        out["compact_due"] = sum(
            1 for v in files_acc.values() if v > int(compact_above_files)
        )
    if line_census:
        out["census_lines"] = n_census_lines
    for key in ("contaminated_skipped", "quality_rejected"):
        if key in gate_counts:
            out[key] = gate_counts[key]
    out.update(fp_report)
    return out


@dataclass(frozen=True)
class _Sidecar:
    """One guard sidecar of :func:`incremental_ingest`'s commit list:
    a layer under the lake root that stores one batch-derived row set
    per admitted doc, keyed by ``id_col``. The ingest walks the list
    once to heal (id-absence backfill), once to append after the
    fingerprints, and once to account the append's files."""

    layer: str  # layer name under the lake root; also its file-count key
    rows: DataFrame  # the batch rows this sidecar appends (and heals)
    id_col: str  # the rows' doc-id column
    healed_key: str  # report counter for the id-absence backfill
    # checkpointed frame whose partition count (or the shuffle width)
    # bounds the files one append of ``rows`` can write
    bound: DataFrame


class _BloomLineage:
    """One lake Bloom filter inside :func:`incremental_ingest` — the
    fingerprint filter (layer ``bloom``, a cache of the fingerprint
    layer) or the url filter (``url_bloom``, a cache of ``url_keys``).
    Both run the same lifecycle; they differ only in key column, key
    layer and fill target.

    Geometry lives in the layer name: a filter's bit positions are only
    meaningful under the (k, hex_chars) that built it, and a PROBE
    against a filter of different geometry produces silent false
    negatives — the one failure mode Bloom admission must never have.
    Rebuild-on-fill grows the geometry, so a guarded call follows the
    largest layer present (:func:`_discover_bloom_geometry`), and a
    constant change is self-healing: the old layer is simply absent
    under the new name and the filter rebuilds from its key layer.

    ``keys`` returns the authoritative key layer (``None``: the lake
    has no history for this lineage yet); ``guard`` is the knob, which
    gates the probe and the fill report but never the merge (the
    freshness rule)."""

    def __init__(
        self,
        spark: SparkSession,
        out_root: str,
        layer: str,
        key_col: str,
        keys: Callable[[], DataFrame] | None,
        guard: bool,
        max_fill: float,
    ) -> None:
        self.spark = spark
        self.out_root = out_root
        self.layer = layer
        self.key_col = key_col
        self.keys = keys
        self.guard = guard
        self.max_fill = max_fill
        self.filter = None  # probe-time filter, reused by the merge
        self.fastpath = 0
        hex_chars = (
            _discover_bloom_geometry(spark, out_root, layer) if guard else None
        )
        self._at(hex_chars or bloom_ops.HEX_CHARS_DEFAULT)

    def _at(self, hex_chars: int) -> None:
        self.hex = hex_chars
        self.path = _bloom_layer_path(self.out_root, hex_chars, self.layer)

    def _build(self, df: DataFrame) -> DataFrame:
        return bloom_ops.bloom_build(df, self.key_col, hex_chars=self.hex)

    def probe(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Split ``df`` map-side (k broadcast joins, zero exchanges)
        into ("definitely new", "maybe seen") rows; only the second
        needs the exact join (no false negatives by construction).
        A missing or unreadable filter (crash during its overwrite)
        is rebuilt from the key layer — the filter is a cache, never
        the source of truth."""
        self.filter = _read_bloom_layer(self.spark, self.path)
        if self.filter is None:
            self.filter = self._build(self.keys()).localCheckpoint()
        probed = bloom_ops.bloom_probe(
            df, self.filter, self.key_col, hex_chars=self.hex
        ).localCheckpoint()
        definite = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        self.fastpath = definite.count()
        return definite, probed.filter(F.col("maybe_seen")).drop("maybe_seen")

    def merge(self, new_keys: DataFrame) -> None:
        """Fold ``new_keys`` into the filter, BEFORE the docs append:
        bits for keys that never land are harmless false positives,
        while merge-after-append could leave admitted keys missing from
        the filter — a false negative letting a later duplicate skip
        the exact join. Per-word bit_or, so a replay is a no-op. With
        the knob off, a PRESENT filter is still maintained at its
        discovered geometry; an absent one stays absent."""
        if not self.guard:
            hex_chars = _discover_bloom_geometry(
                self.spark, self.out_root, self.layer
            )
            if hex_chars is None:
                return
            self._at(hex_chars)
        # Reuse the probe-time filter: when the sidecar was missing or
        # unreadable the probe rebuilt it, and re-reading disk here
        # would return None and overwrite the sidecar with only THIS
        # batch's bits — historical keys would then probe new and ride
        # the fastpath past the exact join. A torn filter found only
        # now (knob off) is rebuilt from the key layer for the same
        # reason.
        old = self.filter
        if old is None:
            old = _read_bloom_layer(self.spark, self.path)
        if old is None and self.keys is not None:
            old = self._build(self.keys()).localCheckpoint()
        new_bits = self._build(new_keys)
        merged = (
            bloom_ops.bloom_merge(old, new_bits) if old is not None
            else new_bits
        ).localCheckpoint()  # materialize BEFORE overwriting its input
        # coalesced write (r16, verdict #4 follow-through): the filter
        # is MB-scale, but an uncoalesced write leaves one file per
        # shuffle partition — every later batch then pays that many
        # opens (requests, on object stores) just to read the filter
        write_parquet(merged.coalesce(8), self.path)

    def report(
        self, n_admitted: int, sync: bool, catalog_prefix: str | None
    ) -> dict[str, int]:
        """The guarded lineage's counters: ``<layer>_fastpath``,
        ``_fill_pct``, ``_rebuilt_hex`` and ``_rebuild_due`` (empty
        with the knob off). Saturation check, after the appends: fpp ≈
        fill^k, so past ``max_fill`` the fastpath stops proving keys
        new — grow the geometry one step and rebuild from the key
        layer (which now includes this batch) when ``sync``, or only
        report the owed rebuild (``rebuild_due``) and leave the rescan
        to :func:`maintain_lake` — a saturated filter answers "maybe"
        more often, never wrongly. The fill check runs on
        zero-admission batches too (r13 advisor: an all-duplicate
        stream on a saturated lake is exactly the traffic a deferred
        rebuild relieves); only the sync rebuild needs new keys."""
        if not self.guard:
            return {}
        fill_pct = rebuilt = due = 0
        cur = _read_bloom_layer(self.spark, self.path)
        if cur is not None:
            fill = _bloom_fill(cur, self.hex)
            if n_admitted and fill > self.max_fill and sync:
                rebuilt = self.hex + 1
                fill = bloom_rebuild(
                    self.spark, self.out_root, rebuilt,
                    catalog_prefix=catalog_prefix, layer=self.layer,
                )["fill_frac"]
            if fill > self.max_fill:
                due = (rebuilt or self.hex) + 1
            fill_pct = int(round(fill * 100))
        return {
            f"{self.layer}_fastpath": self.fastpath,
            f"{self.layer}_fill_pct": fill_pct,
            f"{self.layer}_rebuilt_hex": rebuilt,
            f"{self.layer}_rebuild_due": due,
        }


def _bloom_fill(blm: DataFrame, hex_chars: int) -> float:
    return float(
        bloom_ops.bloom_fill_stats(blm, hex_chars).first()["fill_frac"]
    )


def _id_set_digest(id_col: str, where: Column | None = None) -> Column:
    """Order-free id-set digest ``bit_xor(xxhash64(id))`` as an
    aggregate Column, 0 for an empty set — the line-census /
    shard-manifest digest, which makes the census append and the
    ``_lake_stats`` running-total increment replay-idempotent.
    ``where`` restricts it to the rows it holds for."""
    h = F.xxhash64(F.col(id_col))
    if where is not None:
        h = F.when(where, h)
    return F.coalesce(F.bit_xor(h), F.lit(0))


def _lake_docs_digest(df: DataFrame, id_col: str) -> int:
    """The id-set digest (:func:`_id_set_digest`) of ``df``."""
    return int(df.agg(_id_set_digest(id_col)).first()[0])


# the marker's one file inside ``_lake_stats/`` (kept a directory, so
# tearing it is still one rmtree)
_LAKE_STATS_FILE = "stats.json"


def _read_lake_stats(
    spark: SparkSession, path: str
) -> tuple[int, int | None, int | None, dict[str, int]] | None:
    """Read the ``_lake_stats`` marker — ``(total_docs, last_digest,
    last_n, files_appended)`` from the JSON file ``stats.json`` in the
    ``path`` directory, opened on the driver with Hadoop
    ``FileSystem.open`` (no Spark job) — or None if it is absent,
    torn or unparsable. A marker in the older 1-row Parquet format has
    no such file and reads as None too. Like the Bloom sidecar, the
    marker is a rebuildable cache of the docs layer: a None makes the
    next ``incremental_ingest`` (or :func:`recount_lake_docs`) run its
    one authoritative recount of ``total_docs`` and of the per-layer
    file counts, never an error.

    ``files_appended`` is the per-layer files-appended-since-compaction
    accounting ``compact_due`` reads (r16, verdict #1)."""
    p, fs = _fs_path(spark, f"{path}/{_LAKE_STATS_FILE}")
    try:
        stream = fs.open(p)
        try:
            raw = stream.readAllBytes()
        finally:
            stream.close()
    except JVM_ERRORS:  # absent, or failing its checksum
        return None
    try:
        d = json.loads(raw)
        return (
            int(d["total_docs"]),
            None if d["last_digest"] is None else int(d["last_digest"]),
            None if d["last_n"] is None else int(d["last_n"]),
            {str(k): int(v) for k, v in d["files_appended"].items()},
        )
    except (ValueError, KeyError, TypeError, AttributeError):
        return None  # torn or foreign bytes


def _write_lake_stats(
    spark: SparkSession,
    path: str,
    total: int,
    digest: int | None,
    n: int | None,
    files: dict[str, int] | None = None,
) -> None:
    """Replace the ``_lake_stats`` marker (see :func:`_read_lake_stats`)
    from the driver: the JSON is written with Hadoop
    ``FileSystem.create`` to a hidden temp file in the ``path``
    directory, then renamed over ``stats.json`` — no Spark job, and a
    crash mid-write leaves the old marker or none, both of which read
    back cleanly."""
    data = json.dumps({
        "total_docs": int(total),
        "last_digest": None if digest is None else int(digest),
        "last_n": None if n is None else int(n),
        "files_appended": {
            str(k): int(v) for k, v in (files or {}).items()
        },
    }).encode()
    tmp, fs = _fs_path(spark, f"{path}/.{_LAKE_STATS_FILE}.tmp")
    dst, _ = _fs_path(spark, f"{path}/{_LAKE_STATS_FILE}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if not fs.rename(tmp, dst):
        # HDFS and object stores refuse to rename onto an existing
        # file; a crash between these two calls reads as no marker
        fs.delete(dst, False)
        if not fs.rename(tmp, dst):
            raise OSError(f"cannot replace the lake marker {path}")


def recount_lake_docs(spark: SparkSession, out_root: str) -> int:
    """Authoritative docs-layer recount — the explicit maintenance
    entry point behind the ``_lake_stats`` running total (r14,
    verdict #3). Counts the physical docs layer (parquet footer
    metadata — no data read, but at 100 TB the per-batch FILE LISTING
    this entails is exactly the driver-action cost
    :func:`incremental_ingest` no longer pays per call) and
    overwrites the marker, clearing the replay digest. Run it after
    out-of-band surgery on the docs layer (manual deletes, external
    compaction that drops rows) or on suspicion of drift; the normal
    ingest path never needs it."""
    docs = read_layer(spark, f"{out_root}/docs")
    n = docs.count() if docs is not None else 0
    # the recount re-syncs total_docs; the files-appended accounting
    # is orthogonal (appends-since-compaction, not rows) and carries
    # over unchanged — except when the marker itself is gone/torn, in
    # which case it is re-measured rather than zeroed (restarting at
    # {} would silence compact_due on an already-overgrown lake)
    prior = _read_lake_stats(spark, f"{out_root}/_lake_stats")
    if prior is not None:
        files = prior[3]
    else:
        files = {}
        layers = list(_APPEND_LAYERS)
        tix = _discover_text_index(spark, out_root)
        if tix is not None:
            # the text index is an append layer too (r16 review #1)
            layers.append(f"text_index_b{tix}")
        for layer in layers:
            nf = _data_file_count(spark, f"{out_root}/{layer}")
            if layer.startswith("text_index_b"):
                # tail files count under the base layer's key (r17)
                nf += _data_file_count(spark, f"{out_root}/{layer}_tail")
            if nf:
                files[layer] = nf
    _write_lake_stats(
        spark, f"{out_root}/_lake_stats", n, None, None, files=files
    )
    return n


def _bloom_layer_path(
    out_root: str, hex_chars: int, layer: str = "bloom"
) -> str:
    return f"{out_root}/{layer}_k{bloom_ops.K_DEFAULT}h{hex_chars}"


def _text_index_tail_path(out_root: str, buckets: int) -> str:
    """The index's APPEND TAIL sidecar (r17): per-batch (id, text)
    appends land here as a handful of plain files instead of one file
    per touched ``tb=`` partition — measured (SCALE.md §r17): the
    partitioned append wrote ~2.9k files per 5k-doc batch and cost
    the admitting batch 20-50 s over the index-less baseline; the
    tail write is sidecar-shaped (≤8 files). Readers union
    base ∪ tail (the tail is small between maintenance runs);
    :func:`maintain_lake` folds the tail into the bucketed base
    inside the index layer's compaction rewrite. The ``_tail`` suffix
    never parses as an ``int`` so :func:`_discover_text_index`
    ignores it."""
    return f"{out_root}/text_index_b{int(buckets)}_tail"


def _text_index_ids_path(out_root: str, buckets: int) -> str:
    """The index's ID-PRESENCE sidecar (r18, verdict #2): an ids-only
    projection of the bucketed BASE, so the heal's quarter-coverage
    fallback (a corpus-wide cold-archive replay touching most
    buckets) answers "which candidate ids does the index already
    hold" at ~1-2% of the bytes of the text-bearing root read it
    replaces — measured ~10 s/batch at the 32x probe scale
    (SCALE.md §r17 replay5k arm). Lifecycle mirrors the base it
    shadows: :func:`build_text_index` and the full compaction
    rewrite regenerate it wholesale from the fresh base; the cheap
    tail fold (r18, verdict #1) APPENDS the folded tail's ids (≤8
    small files per fold, never a sidecar rewrite). It is a presence
    MULTISET, advisory in both directions: duplicate rows are
    tolerated (consumers dropDuplicates before their anti-join),
    absence or unreadability falls back to the root read, and a
    false PRESENT (only possible when the base is gutted out-of-band
    after the sidecar was written — :func:`build_text_index` deletes
    the sidecar BEFORE its in-place base overwrite, r19, so a torn
    build leaves it absent, not stale) merely skips a heal — the
    verify stage's per-id docs fallback still covers those ids, so
    it costs speed, never a wrong admission; the fold-time
    row-count cross-check (r19, verdict #4 — see
    :func:`_fold_tail_append`) regenerates an over-stating sidecar
    at the next cheap fold, bounding that window. The ``_ids``
    suffix never parses as an ``int`` so
    :func:`_discover_text_index` ignores it."""
    return f"{out_root}/text_index_b{int(buckets)}_ids"


def _write_ids_sidecar(
    base: DataFrame, ids_path: str, base_files: int
) -> None:
    """Regenerate the id-presence sidecar wholesale from the index
    ``base``: its id column (the first), one file per ~32 base files.
    The input is the base, never the sidecar, so a direct overwrite
    is safe; a crash mid-write leaves a partial sidecar that can only
    UNDER-state presence — extra heals, never a wrong admission."""
    write_parquet(
        base.select(base.columns[0]).coalesce(max(1, base_files // 32)),
        ids_path,
    )


def _fold_tail_append(
    spark: SparkSession, path: str, tail_path: str, ids_path: str,
    nb: int,
    base_files: int | None = None,
) -> dict[str, int]:
    """CHEAP tail fold (r18, verdict #1): partitioned-APPEND the
    index tail's rows into the live ``tb=`` bucket dirs instead of
    rewriting the corpus-sized base. The r17 fold handed
    :func:`compact_layer` the base ∪ tail union — a full rewrite of
    the lake's biggest layer (the index stores a complete (id, text)
    copy of corpus text) every time the tail's own ≤8-files-per-batch
    feed tripped the file threshold; at 100 TB that is a corpus-scale
    rewrite every ~N batches, caused by the tail itself. This fold's
    cost scales with the TAIL: one shuffle of tail rows into bucket
    layout plus ~one file per TOUCHED bucket — exactly the
    per-partition append cost the r17 measurement banned per-BATCH
    (~2.9k files, +20-54 s), acceptable once per FOLD because it
    amortizes over every batch since the last fold. The full rewrite
    remains :func:`maintain_lake`'s move when the BASE's own file
    count is genuinely over threshold (it also clears crash-residue
    duplicates via its full-row dropDuplicates).

    Crash order (same invariants as the r17 fold): (1) append tail
    rows to the base buckets; (2) append tail ids to the presence
    sidecar (:func:`_text_index_ids_path`); (3) delete the tail. A
    crash between any two steps leaves the un-deleted tail to re-fold
    — exact-duplicate rows in base and/or sidecar, which every
    consumer tolerates and the next FULL rewrite removes; never
    loss. A gutted base (dir present, data files lost) needs no
    special case here: the append itself re-creates readable bucket
    dirs holding the tail's rows, and older rows stay the
    heal/fallback paths' job (the cache contract).

    ``base_files`` (r19, advisor): the caller's pre-fold base file
    count, when it already holds one — :func:`maintain_lake` just
    listed the base to route here, so the fold lists it once (after
    the append), not twice. ``None`` (a direct caller) lists it
    before the append too.

    Sidecar↔base cross-check (r19, verdict #4 — the partial-gut
    staleness window): after the appends, one footer-only row count
    on each side. The sidecar legitimately carries >= ids than the
    base has rows only never — build and fold write them 1:1, crash
    re-folds inflate BOTH, and the per-bucket reclaim's dedup can
    only shrink the BASE — so ``ids_rows > base_rows`` proves rows
    left the base out-of-band (or reclaim removed residue the
    sidecar still carries): the sidecar OVER-states presence, the
    one staleness direction whose cost (verify's per-id docs
    fallback holds correctness) the r18 design deferred to the next
    full regen. Mismatch → regenerate wholesale from the base right
    here (ids-only bytes, direct overwrite is safe: the input is the
    base, never the sidecar); an unreadable base → delete the
    sidecar so heals take the root path. Under-statement
    (``base_rows > ids_rows``) stays untouched — extra heals, never
    a wrong admission.

    Returns ``{"files_before", "files_after", "rows"}`` with the same
    meaning as :func:`compact_layer` (before includes the tail's
    files; after is the live base post-append)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    files_before = (
        base_files
        if base_files is not None
        else _data_file_count(spark, path)
    ) + _data_file_count(spark, tail_path)
    tail_df = spark.read.parquet(tail_path)
    # the tail schema is exactly (id, text) in write order — the id
    # column is first whatever its name (the r17 fold's convention)
    idc = tail_df.columns[0]
    rows = tail_df.count()
    fold_df = tail_df.withColumn(
        "tb", F.pmod(F.xxhash64(F.col(idc)), F.lit(int(nb)))
    )
    # repartition BY tb before the partitioned write: each bucket
    # value lands whole in one task → ~one file per touched bucket
    # total, not one per (task, bucket) pair
    (
        fold_df.repartition(F.col("tb"))
        .write.mode("append")
        .partitionBy("tb")
        .parquet(path)
    )
    files_after = _data_file_count(spark, path)
    # presence sidecar: APPEND the folded ids (≤8 small files per
    # fold) — never a rewrite; the next build/full compaction
    # regenerates it wholesale and resets its file count. Appended
    # only when the sidecar exists: a lake that has never built one
    # keeps the root-read fallback until the next full regen creates
    # it (an absent sidecar must stay absent — a partial one seeded
    # here would claim completeness it doesn't have).
    if path_exists(spark, ids_path):
        write_parquet(
            tail_df.select(idc).coalesce(8), ids_path, mode="append"
        )
        # cross-check (r19, verdict #4; contract in the docstring):
        # two footer-only counts per fold; only the over-stating
        # direction triggers work, and the regen it triggers is the
        # same ids-only projection the full rewrite pays
        base_df = read_layer(spark, path)
        try:
            base_rows = None if base_df is None else base_df.count()
        except JVM_ERRORS:
            base_rows = None
        if base_rows is None:
            # base appended-to yet unreadable (torn beyond the fold's
            # repair): presence claims are unanchored — mark the
            # sidecar dead so heals take the root path
            fs.delete(hpath(ids_path), True)
        elif spark.read.parquet(ids_path).count() > base_rows:
            _write_ids_sidecar(base_df, ids_path, files_after)
    fs.delete(hpath(tail_path), True)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "rows": rows,
    }


def read_text_index(
    spark: SparkSession, out_root: str, buckets: int
) -> DataFrame:
    """The index's full (id, text) content: bucketed base ∪ append
    tail. Crash residue (a fold interrupted between swap and tail
    delete) can leave identical rows in both — tolerated by every
    consumer (verify dedups output ids; heals dedup id sets) and
    removed by the next fold's full-row dropDuplicates."""
    # a gutted/unreadable base (crash residue) is skipped: the tail
    # may still answer — consumers treat missing rows as heal work,
    # never as absence of content
    parts = [
        df.select(_ID_COL, _TEXT_COL)
        for df in (
            read_layer(spark, _text_index_path(out_root, buckets)),
            read_layer(spark, _text_index_tail_path(out_root, buckets)),
        )
        if df is not None
    ]
    if not parts:
        raise ValueError(
            f"text index b{buckets} under {out_root} has no readable "
            "content (base and tail both absent/unreadable)"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _text_index_path(out_root: str, buckets: int) -> str:
    # bucket count in the path, like the Bloom geometry: rows bucketed
    # under a different N are simply absent under this name, so an N
    # change can never silently mis-route a lookup
    return f"{out_root}/text_index_b{int(buckets)}"


def _discover_text_index(spark: SparkSession, out_root: str) -> int | None:
    """Largest ``buckets`` for which a ``text_index_b{N}`` layer exists
    under the lake root, or None. Presence of the layer IS the knob
    (the filter-freshness convention): every admitting batch maintains
    a discovered index and the verify stage reads through it; opting
    out = delete the layer. Unlike the Bloom geometry, a transient
    listing failure here may safely fall back to None — a missing
    index only routes the verify stage to the docs-layer scan (the
    indexless plan), never to a wrong admission — but we keep the
    loud re-raise discipline anyway so a flaky store shows up in the
    batch error rather than as a silent performance cliff."""
    prefix = "text_index_b"
    best = None
    for name in child_names(spark, out_root) or ():
        if not name.startswith(prefix):
            continue
        try:
            b = int(name[len(prefix):])
        except ValueError:
            continue
        if b < 1:
            continue  # a malformed/zero-bucket dir must never probe
        best = b if best is None else max(best, b)
    return best


def _bucket_sliced(
    df: DataFrame,
    partition_by: str,
    n_out: int,
    n_values: int | None = None,
) -> DataFrame:
    """Repartition ``df`` for a ``partitionBy(partition_by)`` write so
    the file count stays sane in BOTH directions: every partition
    value is held whole by as few tasks as possible (a naive
    ``repartition(n)`` before a partitioned write makes up to
    n × |values| files — every task opens one file per value it
    holds), while values larger than the target file size are split
    into ``ceil(n_out / n_values)`` content-hashed slices so one
    bucket never becomes one giant file. Pass ``n_values`` when the
    caller already knows the value count (the bucket count is in the
    layer name) — the distinct-count fallback is an extra full pass
    over the input, one corpus-sized read per build/compaction at
    lake scale (r16 review #6); an upper bound is fine (empty buckets
    only make the slice estimate conservative)."""
    nb = (
        max(int(n_values), 1)
        if n_values is not None
        else max(int(df.select(partition_by).distinct().count()), 1)
    )
    slices = max(1, (int(n_out) + nb - 1) // nb)
    if slices == 1:
        return df.repartition(F.col(partition_by))
    return df.repartition(
        nb * slices,
        F.col(partition_by),
        F.pmod(F.xxhash64(F.struct(*df.columns)), F.lit(slices)),
    )


def build_text_index(
    spark: SparkSession,
    out_root: str,
    buckets: int = 64,
) -> dict[str, int]:
    """Build (or rebuild) the lake's ``text_index_b{N}`` layer: a
    bucket-partitioned (id, text) CACHE of the docs layer, bucketed by
    ``pmod(xxhash64(id), N)`` and written with ``partitionBy`` so a
    reader filtering on the ``tb`` partition column prunes to the
    matching directories. The ``near_dup_verify`` stage of
    :func:`incremental_ingest` is the consumer: its exact-Jaccard
    rescore needs the TEXTS of the candidate history ids, and without
    an index that is a full (id, text)-pruned scan of the corpus per
    candidate-carrying batch — measured at ~18 s/batch at the 32M-row
    probe scale (SCALE.md §r16 verify) and growing with exponent
    ~0.74 of corpus size. With the index, the probe reads only the
    candidate ids' buckets: ~|candidates|/N of the corpus.

    Safety contract (why a cache is enough): index rows are only ever
    a SUBSET-or-equal copy of the docs layer's (id, text) — ids are
    unique post-admission and the heal path backfills from the docs
    layer itself, so the index can hold stale-MISSING rows but never
    wrong ones. Every consumer anti-joins for missing candidate ids
    and falls back to the docs scan for exactly those ids, so a torn
    build, a crash between the docs and index appends, or an index
    created mid-lake-life can only cost speed, never admit a
    duplicate. That is also why this build needs no rename swap (cf.
    :func:`compact_layer`): a reader racing the overwrite sees
    missing rows at worst.

    Storage: the index duplicates the text column (~the corpus's
    dominant column). That is the deliberate trade — at 100 TB,
    object storage for a second text copy is cheap next to a
    per-batch corpus scan; lakes that never enable
    ``near_dup_verify`` should simply not build one.

    Append tail (r17): between builds/folds, per-batch appends live
    in the sibling ``text_index_b{N}_tail`` sidecar
    (:func:`_text_index_tail_path` — the LSM pattern; a partitioned
    per-batch append measured ~one file per touched bucket, ~2.9k
    files and +20-50 s per 5k-doc batch). This build reads the
    AUTHORITATIVE docs layer, so it supersedes and deletes the tail;
    :func:`maintain_lake` folds a live tail into the base during the
    layer's compaction; :func:`read_text_index` is the union read.

    Returns ``{"rows": ..., "buckets": N, "files": ...}``."""
    if int(buckets) < 1:
        # pmod(x, 0) is NULL: a zero-bucket layer would write every
        # row under __HIVE_DEFAULT_PARTITION__ and then crash every
        # later candidate-carrying ingest on int(None)
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    docs_path = f"{out_root}/docs"
    docs = read_layer(spark, docs_path)
    if docs is None:
        raise ValueError(
            f"{out_root} has no readable docs layer to index"
        )
    path = _text_index_path(out_root, buckets)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(out_root).getFileSystem(spark._jsc.hadoopConfiguration())
    size = fs.getContentSummary(hpath(docs_path)).getLength()
    n_out = max(1, int(size // (_TARGET_FILE_MB * 1024 * 1024)) + 1)
    df = (
        docs.select(_ID_COL, _TEXT_COL)
        .withColumn(
            "tb", F.pmod(F.xxhash64(F.col(_ID_COL)), F.lit(int(buckets)))
        )
    )
    # delete any existing id-presence sidecar BEFORE the in-place
    # base overwrite (r19, advisor): a crash after the overwrite
    # starts but before the sidecar regen below would otherwise
    # leave the OLD sidecar over-stating presence against a
    # torn/partial base — an in-band path to stale-PRESENT. Absent
    # sidecar → heals take the root read: slower, never wrong.
    ids_pre = hpath(_text_index_ids_path(out_root, int(buckets)))
    if fs.exists(ids_pre):
        fs.delete(ids_pre, True)
    (
        _bucket_sliced(df, "tb", n_out, n_values=int(buckets))
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(path)
    )
    rows = spark.read.parquet(path).count()
    files = _data_file_count(spark, path)
    # the fresh build read the AUTHORITATIVE docs layer, so the append
    # tail's content (r17) is superseded — delete it after the base
    # landed (a crash in between leaves exact-duplicate rows, which
    # readers tolerate and the next fold removes; never loss)
    tail_p = hpath(_text_index_tail_path(out_root, buckets))
    if fs.exists(tail_p):
        fs.delete(tail_p, True)
    # sweep stale layers built at other bucket counts — discovery
    # follows the largest N, so a stale SMALLER layer is inert, but a
    # stale LARGER one would shadow this build (their _tail/_ids
    # sidecars sweep with them; this build's own are re-created below)
    for name in child_names(spark, out_root) or ():
        if (
            name.startswith("text_index_b")
            and name != f"text_index_b{int(buckets)}"
        ):
            fs.delete(hpath(f"{out_root}/{name}"), True)
    # id-presence sidecar (r18, verdict #2): ids-only projection of
    # the fresh base so the heal's quarter-coverage path never reads
    # the text-bearing root — regenerated wholesale here and at every
    # full compaction; cheap folds only APPEND to it
    _write_ids_sidecar(
        spark.read.parquet(path),
        _text_index_ids_path(out_root, int(buckets)),
        files,
    )
    # seed/reset the append accounting for the new layer (and drop
    # entries for swept stale layers) so compact_due starts clean.
    # Seeded at 0, not the base file count (r19, verdict #1): the
    # marker is files-appended-SINCE-COMPACTION and the build IS a
    # compaction event — seeding the total (the r16 choice) put a
    # bucketed layer's structural floor (≥ one file per non-empty
    # bucket) into an accounting compared against thresholds that
    # may sit below it, costing a guaranteed no-op maintenance
    # cycle after every build (and pinning compact_due outright
    # before the r19 reset semantics).
    stats = _read_lake_stats(spark, f"{out_root}/_lake_stats")
    if stats is not None:
        facc = {
            k: v
            for k, v in stats[3].items()
            if not k.startswith("text_index_b")
        }
        facc[f"text_index_b{int(buckets)}"] = 0
        _write_lake_stats(
            spark, f"{out_root}/_lake_stats",
            stats[0], stats[1], stats[2], files=facc,
        )
    return {"rows": rows, "buckets": int(buckets), "files": files}


def _live_bucket_paths(
    spark: SparkSession, idx_path: str, bucket_ids: list[int]
) -> list[str]:
    """Explicit ``tb=`` directory paths for the candidate buckets
    that EXIST, resolved by one ``fs.exists`` probe per candidate
    bucket (HEAD-shaped; |candidates| sequential driver round-trips,
    bounded to ≤ N/4 by the adaptive fallback upstream). A missing
    layer root returns [] — the torn-layer case callers degrade on.

    Shape note (r16 review #4, MEASURED BOTH WAYS — why NOT one
    shallow ``listStatus`` of the layer root): a single shallow list
    returns every live partition name in O(N/page) LIST calls and is
    the right call for a JVM driver, but in PySpark the FileStatus
    array marshals through py4j at ~3 driver round-trips per entry —
    at N=4096 that is ~12k calls, +1.8 s per probe, WORSE than this
    loop (246 exists probes ≈ 0.06 s locally); py4j also refuses the
    Object[] overloads (Arrays.deepToString, commons
    StringUtils.join) that would stringify the listing in one call.
    (Neither shape is the recursive InMemoryFileIndex listing the
    explicit-path READ avoids — that one enumerates the FILES inside
    every partition dir.) So the per-bucket exists loop stays; on
    request-priced stores that is ≤ min(|cands|, N/4) HEADs per
    candidate-carrying batch — the same order as the probe's GETs
    themselves."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    root = hpath(idx_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    return [
        p
        for p in (f"{idx_path}/tb={b}" for b in bucket_ids)
        if fs.exists(hpath(p))
    ]


def _indexed_verify_history(
    spark: SparkSession,
    docs_path: str,
    idx_path: str,
    n_buckets: int,
    cand_pairs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, text) history frame for
    :func:`operators.dedup.verify_candidates_jaccard`, read through
    the bucket-partitioned text index instead of scanning the docs
    layer. The candidate seen-ids (batch × ``lsh_max_bucket``
    bounded) map to ≤ |candidates| bucket values — a bounded driver
    collect, like the capped-histogram sites — and the read is built
    from the candidate buckets' EXPLICIT directory paths, gated by
    per-path existence probes (HEAD-shaped). The obvious alternative
    — one read of the layer root with an ``isin`` partition filter —
    prunes what is READ but still LISTS every one of the N partition
    directories on every probe (InMemoryFileIndex enumerates the
    table before pruning), which measured ~8 s/probe at N=4096 on a
    warm local fs and is per-request money on object stores; the
    explicit-paths shape pays |candidate-buckets| existence probes
    and lists only those directories. Exactness does not depend on
    the index being complete: ids the pruned read does not return
    (crash residue between the docs and index appends, an index
    built mid-lake-life before a backfill, a torn build, an empty
    never-written bucket) are detected by an anti-join and fetched
    from the authoritative docs layer — the pre-index plan,
    restricted to the missing ids."""
    hist_ids = cand_pairs.select("seen_id").distinct().localCheckpoint()
    buckets = [
        int(r["b"])
        for r in hist_ids.select(
            F.pmod(F.xxhash64(F.col("seen_id")), F.lit(int(n_buckets))).alias(
                "b"
            )
        )
        .distinct()
        .collect()
    ]
    if len(buckets) * 4 >= int(n_buckets):
        # adaptive fallback, decided BEFORE paying the per-bucket
        # existence probes: a degenerate candidate set (unbounded
        # lsh_seen_ids on a skewed corpus) can touch most buckets, and
        # reading ~the whole index through per-directory opens costs
        # MORE than the docs layer's sequential (id, text) scan —
        # measured 13.4 s indexed vs 2.1 s scanned at 1M rows with
        # 96% bucket coverage. The quarter threshold leaves margin
        # for the per-directory overhead; bounded candidate sets (the
        # lsh_max_bucket regime this knob documents) sit far below it.
        return spark.read.parquet(docs_path).select(id_col, text_col)
    live = _live_bucket_paths(spark, idx_path, buckets)
    if not live:
        # nothing indexed for any candidate bucket (torn layer, index
        # younger than these docs): the cache answers nothing — use
        # the pre-index docs-scan plan wholesale
        return spark.read.parquet(docs_path).select(id_col, text_col)
    idx = read_layer(spark, *live)
    if idx is None:
        # present-but-unreadable bucket dirs degrade the same way
        return spark.read.parquet(docs_path).select(id_col, text_col)
    idx = idx.select(id_col, text_col)
    # append TAIL (r17): per-batch index appends land in the sibling
    # unpartitioned tail until maintain_lake folds them into the
    # buckets — it is small between folds and read WHOLE, so
    # candidate texts appended since the last fold are found here
    # instead of each falling to the per-id docs fallback below.
    # (Crash-residue duplicate rows between base and tail are
    # tolerated: verify output ids are distinct-ed.)
    tail = read_layer(spark, idx_path + "_tail")
    if tail is not None:
        idx = idx.unionByName(tail.select(id_col, text_col))
    found = (
        idx.join(
            F.broadcast(hist_ids.withColumnRenamed("seen_id", id_col)),
            id_col,
            "left_semi",
        )
        .localCheckpoint()
    )
    missing = hist_ids.join(
        found.select(F.col(id_col).alias("seen_id")), "seen_id", "left_anti"
    )
    if missing.first() is None:
        return found
    fallback = (
        spark.read.parquet(docs_path)
        .select(id_col, text_col)
        .join(
            F.broadcast(missing.withColumnRenamed("seen_id", id_col)),
            id_col,
            "left_semi",
        )
    )
    return found.unionByName(fallback)


def _discover_bloom_geometry(
    spark: SparkSession, out_root: str, layer: str = "bloom"
) -> int | None:
    """Largest ``hex_chars`` for which a ``bloom_k{K}h{h}`` layer
    exists under the lake root. Rebuild-on-fill grows the geometry,
    and probe/build must follow the grown layer — probing a filter of
    a different geometry produces silent false negatives, the one
    failure mode Bloom admission must never have. Crash window
    (rebuilt layer written, old not yet deleted) resolves to the
    LARGER geometry; the stale layer is swept on the next rebuild.

    Failure discipline (r13, advisor): ``None`` is returned ONLY when
    the lake root genuinely does not exist (a brand-new lake). Any
    other listing failure RE-RAISES — after a rebuild has grown the
    layer (and deleted the old one), a transient listing error that
    silently fell back to ``HEX_CHARS_DEFAULT`` would make that batch
    rebuild/probe/merge at the default geometry while the next batch
    re-discovers the larger stale layer, which is missing the interim
    batch's bits → ``maybe_seen=false`` false negatives ride the
    fastpath past the exact join and admit duplicates — the exact
    silent failure mode the geometry-in-the-path design exists to
    prevent. A loud transient failure costs one retried batch; a
    silent one splits the filter lineage across geometries forever."""
    # note: the "bloom" prefix cannot match a "url_bloom_*" layer —
    # startswith on the full '<layer>_k{K}h' string keeps the two
    # filter lineages disjoint by construction
    prefix = f"{layer}_k{bloom_ops.K_DEFAULT}h"
    names = child_names(spark, out_root)
    if names is None:
        return None
    best = None
    for name in names:
        if not name.startswith(prefix):
            continue
        try:
            h = int(name[len(prefix):])
        except ValueError:
            continue
        best = h if best is None else max(best, h)
    return best


def bloom_rebuild(
    spark: SparkSession,
    out_root: str,
    hex_chars: int,
    catalog_prefix: str | None = None,
    drop_others: bool = True,
    layer: str = "bloom",
) -> dict[str, float | int]:
    """Rebuild a lake Bloom sidecar from its authoritative key layer
    at a NEW geometry — the saturation escape hatch
    :func:`operators.bloom.bloom_fill_stats` documents (fpp ≈ fill^k;
    past ~50% fill the fastpath stops proving anything and every key
    pays the exact join). :func:`incremental_ingest` calls this
    automatically when the post-merge fill crosses ``bloom_max_fill``
    (one geometry step per batch); it is also a standalone
    maintenance operation. ``layer`` selects the filter lineage:
    ``"bloom"`` (default) rebuilds from the fingerprint layer,
    ``"url_bloom"`` (r15) from the ``url_keys`` sidecar's canonical
    urls — each filter is a cache of exactly one key layer.

    Crash-safe order: the new layer (its geometry encoded in the
    path) is written BEFORE any old layer is deleted, and geometry
    discovery always resolves to the largest layer present — a crash
    between the two steps degrades to a stale extra directory, never
    to a probe against missing bits. Returns
    ``{"hex_chars", "bits_set", "fill_frac"}``."""
    if layer == "url_bloom":
        key_col, source = "canonical_url", "url_keys layer to rebuild the url"
        seen = read_layer(spark, f"{out_root}/url_keys")
    else:
        key_col, source = "fingerprint", "fingerprint layer to rebuild the"
        fp_table = (
            f"{catalog_prefix}_fingerprints" if catalog_prefix else None
        )
        if fp_table and spark.catalog.tableExists(fp_table):
            seen = spark.table(fp_table)
        else:
            seen = read_layer(spark, f"{out_root}/fingerprints")
    if seen is None:
        raise ValueError(
            f"lake at {out_root} has no {source} Bloom sidecar from"
        )
    seen = seen.select(key_col)
    blm = bloom_ops.bloom_build(
        seen, key_col, hex_chars=hex_chars
    ).localCheckpoint()
    path = _bloom_layer_path(out_root, hex_chars, layer=layer)
    # coalesced like the ingest-side merges: per-batch filter reads
    # pay one request per file, and the filter is MB-scale
    write_parquet(blm.coalesce(8), path)
    if drop_others:
        hpath = spark._jvm.org.apache.hadoop.fs.Path
        fs = hpath(out_root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        prefix = f"{layer}_k{bloom_ops.K_DEFAULT}h"
        for name in child_names(spark, out_root) or ():
            if name.startswith(prefix) and name != f"{prefix}{hex_chars}":
                fs.delete(hpath(f"{out_root}/{name}"), True)
    stats = bloom_ops.bloom_fill_stats(blm, hex_chars).first()
    return {
        "hex_chars": hex_chars,
        "bits_set": int(stats["bits_set"]),
        "fill_frac": float(stats["fill_frac"]),
    }


def _bloom_growth_steps(fill: float, target: float, max_steps: int = 8) -> int:
    """Smallest ``hex_chars`` growth (×16 bits per step) predicted to
    bring a filter at ``fill`` under ``target`` with a 25% margin.
    From the fill expectation ``fill = 1 - e^(-k·n/m)``, growing the
    bit space by ``16^s`` predicts ``fill' = 1 - (1-fill)^(1/16^s)``
    — so a long-deferred, deeply saturated filter is rebuilt in ONE
    rescan at the right size instead of one rescan per step."""
    import math

    fill = min(max(fill, 0.0), 0.999999)
    lam = -math.log1p(-fill)  # ≈ k·n/m, exact for the expectation
    s = 1
    while s < max_steps and 1.0 - math.exp(-lam / (16.0 ** s)) > target * 0.75:
        s += 1
    return s


# every per-batch APPEND layer a lake can carry — the compaction
# sweep's worklist. NOT here: the markers (`_lake_mode`,
# `_lake_stats` — single file by construction), the Bloom sidecar
# (rewritten wholesale by overwrite each merge, so its file count
# never grows with batch count), streaming `_checkpoints` (Spark owns
# that layout), and catalog-mode bucketed sidecars (a repartition
# would destroy the bucket layout the guards' exchange-free joins
# depend on; Spark's own `INSERT OVERWRITE` / bucketed compaction is
# the tool there).
_APPEND_LAYERS = (
    "docs",
    "fingerprints",
    "band_buckets",
    "media_bands",
    "media_vframes",
    "media_awins",
    "url_keys",
    "line_census",
)


def maintain_lake(
    spark: SparkSession,
    out_root: str,
    catalog_prefix: str | None = None,
    bloom_max_fill: float = 0.5,
    compact_above_files: int | None = None,
    trust_marker: bool = False,
    text_index_buckets: int | None = None,
    max_layers: int | None = None,
    index_compact_above_files: int | None = None,
) -> dict[str, int]:
    """Out-of-band lake maintenance (r13, verdict #5): the entry point
    a ``bloom_rebuild_mode="defer"`` ingest defers its saturation work
    to. Checks the Bloom sidecar's fill and, when it is past
    ``bloom_max_fill``, rebuilds it from the authoritative fingerprint
    layer at a geometry SIZED FROM THE MEASURED FILL
    (:func:`_bloom_growth_steps` — one rescan even after long
    deferral, not one per step), sweeping stale smaller layers. A
    missing/unreadable filter (crash mid-overwrite) is rebuilt at the
    current geometry. Admission stays correct whether or not this
    ever runs — a saturated filter only answers "maybe" more often,
    pushing keys to the exact join — so the scheduler contract is
    soft: run it when ``bloom_rebuild_due`` from ingest counts is
    nonzero, at whatever cadence amortizes the fingerprint rescan.

    ``compact_above_files`` (r15, verdict #1) adds the SMALL-FILE
    sweep: every per-batch append layer the lake carries (docs + every
    guard sidecar — ``_APPEND_LAYERS``) whose data-file count exceeds
    the threshold is rewritten to ~128 MB files (``_TARGET_FILE_MB``)
    via :func:`compact_layer` (crash-safe rename swap; content
    identical, so every guard's behavior is unchanged by
    construction). Per-batch appends grow file counts without bound —
    one file set per micro-batch — and the r14 measurement (SCALE.md)
    put the metadata cost of that at 4.7× on a LOCAL fs for a
    footer-only count at 2 000 files, paid by EVERY guard's sidecar
    scan on EVERY batch, worse on object stores. The sweep runs BEFORE
    the Bloom check so a rebuild's fingerprint rescan reads the
    compacted layer. A layer left live-less by a compaction crash
    (``__compact`` present, live missing) is swept regardless of the
    threshold so the entry repair in :func:`compact_layer` finishes
    the swap. Default ``None`` keeps the pre-r15 bloom-only behavior.
    The sweep is also the RE-SYNC point for the ``compact_due`` append
    accounting (r16): swept layers reset to 0 (via
    :func:`compact_layer`), examined-but-under-threshold layers are
    set to their MEASURED file count — the per-batch counter is a
    write-time upper bound (empty appends count 1, write 0), and
    without the re-sync an overcounted never-swept layer would keep
    ``compact_due`` nonzero forever. The listing is free here: this
    function just paid it to evaluate the threshold.

    ``trust_marker=True`` (r16) inverts that bargain for object-store
    lakes: layers whose marker accounting sits under the threshold are
    SKIPPED without any listing (two point existence probes replace
    the recursive LIST — the dominant cost of a no-op maintenance run
    at 100 TB), flagged layers are still listed before sweeping, and
    a lake or layer with no marker entry falls back to the listing
    path, so a legacy lake is never silently unmaintained.

    The url Bloom lineage (r15 — ``incremental_ingest(url_bloom=
    True)``) gets the same treatment when its layer exists: fill
    check, fill-sized rebuild from the ``url_keys`` sidecar, stale
    layer sweep.

    ``text_index_buckets`` (r16) provisions a verify text index when
    the lake has none (see :func:`build_text_index`) — the same
    out-of-band contract as the deferred Bloom rebuild: admission is
    correct without it, and once built the ingest faces discover and
    maintain it per batch. An existing index is never rebuilt here
    (resizing is an explicit build_text_index call).

    Text-index fold routing (r18, verdict #1; accounting r19): the
    index layer has TWO trip wires with different natural scales, so
    the one ``compact_above_files`` knob is split (r19, verdict #5):

    - **tail trip** — the tail's per-batch feed counts on the layer
      marker against ``compact_above_files``; a trip folds the tail
      by :func:`_fold_tail_append` (partitioned append of JUST the
      tail rows into the live bucket dirs; cost scales with the
      tail, ~one new file per touched bucket).
    - **base due** — the base's own listed file count against
      ``index_compact_above_files``, defaulting (floor-aware) to
      ``max(compact_above_files, 2 × buckets)``: one file per
      non-empty bucket is the layer's structural FLOOR, so a
      bucketed base can never list below ~``buckets`` files and a
      shared threshold under that would fire base maintenance on
      every fold; the ×2 slack lets every bucket absorb ~one fold's
      growth before reclaim, amortizing per-bucket rewrites over
      ~``buckets`` tail trips. A genuinely-due base is reclaimed in
      BUCKET units (:func:`compact_index_buckets`, worst-first,
      capped); the whole-layer :func:`compact_layer` rewrite
      survives only as the repair arm for file shapes the bucket
      view cannot account for (and for crashed whole-layer swaps) —
      it is gated on the measured floor (``buckets_total`` from the
      reclaim's own listing), so a layer merely AT its floor is
      never rewritten.

    Marker semantics on this layer (r19, verdict #1 — the r18
    regression): the marker is files-appended-SINCE-COMPACTION, and
    a COMPLETED fold+reclaim pass (no deferral, no
    ``buckets_remaining``) IS the compaction event — the marker
    resets to 0, exactly like :func:`compact_layer`'s reset. The r18
    code resynced it to the TOTAL base file count instead, which on
    any lake with ``compact_above_files`` < bucket count sits above
    the threshold forever (the structural floor again), pinning
    ``compact_due`` ≥ 1 → ``maintain_due`` streaming fired
    maintenance every micro-batch. An INCOMPLETE pass (unit budget
    exhausted, or overgrown buckets past the reclaim cap) leaves the
    marker standing untouched so the signal re-fires and the next
    call resumes the remainder — the deferred-units contract. Fold
    growth needs no marker carry: the reclaim's selection reads its
    own per-bucket counts from the listing each base-due pass.

    ``max_layers`` (r18, verdict #3): cap on maintenance UNITS this
    call performs — each swept/folded layer is one unit, each filter
    lineage's rebuild pass is one unit, the one-time index build is
    one unit. Work over the cap is DEFERRED, not dropped: the signals
    it acts on (append accounting, filter fill) only reset when the
    work completes, so the next call (or the next due micro-batch,
    via ``streaming_ingest(maintain_max_layers_per_batch=...)``)
    picks up exactly the remainder — bounding one invocation's
    latency on a lake where everything comes due at once. ``None``
    (default) = unbounded, the pre-r18 behavior. Deferred unit count
    is returned as ``deferred_units``.

    Returns ``{"bloom_rebuilt_hex": <new geometry or 0>,
    "bloom_fill_pct": <final>, "bloom_steps": <rebuilds paid>,
    "url_bloom_rebuilt_hex", "url_bloom_fill_pct", "url_bloom_steps",
    "compacted_layers": <layers swept, cheap folds included>,
    "folded_tails": <of those, cheap tail folds>,
    "files_before": <their data files before>, "files_after":
    <after>, "fold_files_before"/"fold_files_after" and
    "reclaim_files_before"/"reclaim_files_after" (r19, advisor: when
    a cheap fold AND the per-bucket reclaim run in one call, the
    aggregate before/after pair double-counts the fold-touched
    buckets — the fold's ``after`` includes files the reclaim then
    counts in its ``before``; the split keys are the
    non-overlapping per-arm numbers),
    "text_index_built": <buckets or 0>,
    "deferred_units": <work skipped under max_layers>}``."""
    compacted_layers = 0
    folded_tails = 0
    files_before = 0
    files_after = 0
    fold_files_before = 0
    fold_files_after = 0
    reclaim_files_before = 0
    reclaim_files_after = 0
    units_left = (
        float("inf") if max_layers is None else max(0, int(max_layers))
    )
    deferred_units = 0
    if compact_above_files is not None:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path
        resync: dict[str, int] = {}
        # trust_marker (r16): skip the recursive listing for layers
        # whose append accounting sits under the threshold — on an
        # object store the per-layer LIST is the dominant cost of a
        # no-op maintenance run (a 100 TB docs layer is ~10^6 keys),
        # and the marker is exactly the no-listing growth signal the
        # ingest faces maintain for this purpose. Semantics stay safe
        # in both directions: the counter is an UPPER bound on
        # appended files (skipping a layer it says is small is sound,
        # up to the heal-on-zero-admission undercount, which is
        # bounded by crash count), and a layer the marker flags is
        # still LISTED before sweeping, so an overcount costs one
        # listing, never a wrong rewrite. A lake with no marker (or a
        # marker with no entry for a layer that exists) falls back to
        # listing that layer — a legacy lake is never silently
        # unmaintained. The crashed-swap repair check degrades to two
        # point existence probes (HEAD-shaped), not listings.
        marker_files: dict[str, int] | None = None
        if trust_marker:
            st_m = _read_lake_stats(spark, f"{out_root}/_lake_stats")
            marker_files = st_m[3] if st_m is not None else None
        # the text index (r16) joins the sweep when the lake carries
        # one — discovered by name like its ingest-side maintenance,
        # compacted partition-preserving (a plain repartition would
        # strip the bucket layout its pruned reads depend on)
        sweep: list[tuple[str, str | None]] = [
            (layer, None) for layer in _APPEND_LAYERS
        ]
        tix = _discover_text_index(spark, out_root)
        if tix is not None:
            sweep.append((f"text_index_b{tix}", "tb"))
        else:
            # a compaction crash between the swap's renames leaves no
            # live index dir — only ``__compact`` — and name discovery
            # then returns None; find the orphan explicitly so the
            # entry repair in compact_layer can finish the swap (the
            # static layers get this for free from _APPEND_LAYERS)
            for nm in child_names(spark, out_root) or ():
                # the id sidecar's residue (text_index_b<N>_ids
                # __compact) is not an index layer
                if re.fullmatch(r"text_index_b[0-9]+__compact", nm):
                    sweep.append((nm[: -len("__compact")], "tb"))
        for layer, layer_pby in sweep:
            path = f"{out_root}/{layer}"
            # the text index's append tail (r17) counts toward ITS
            # layer's threshold and is folded into the base by the
            # same rewrite — resolved here so both the listing and
            # the trust_marker branch see one layer, not two
            tail_path = (
                _text_index_tail_path(
                    out_root, int(layer.rpartition("_b")[2])
                )
                if layer_pby
                else None
            )
            # per-bucket swap residue (r18) must force the layer into
            # the sweep the same way a crashed whole-layer swap does —
            # two more point probes on the trust_marker skip path
            bstage = layer_pby is not None and (
                path_exists(spark, path + "__bcompact")
                or path_exists(spark, path + "__bold")
            )
            if (
                marker_files is not None
                and layer in marker_files
                and marker_files[layer] <= int(compact_above_files)
                and path_exists(spark, path)
                and not path_exists(spark, path + "__compact")
                and not bstage
            ):
                continue
            n_files_base = _data_file_count(spark, path)
            tail_files = (
                _data_file_count(spark, tail_path)
                if tail_path is not None
                else 0
            )
            n_files = n_files_base + tail_files
            alive = read_layer(spark, path) is not None
            crashed = not alive and _data_file_count(
                spark, path + "__compact"
            )
            if (
                n_files <= int(compact_above_files)
                and not crashed
                and not bstage
            ):
                # layer examined, under threshold: RE-SYNC its append
                # accounting to the measured file count (r16). The
                # per-batch counter is a write-time upper bound —
                # empty appends (a media sidecar on a batch with no
                # media rows) count 1 but write 0 files — and without
                # this re-sync an overcounted never-swept layer keeps
                # `compact_due` nonzero forever. maintain_lake just
                # PAID the listing, so the measurement is free here;
                # the ingest path never lists (the marker's point).
                if alive:
                    resync[layer] = n_files
                # a crash after the swap's step 4 (live in place, old
                # copy not yet deleted) leaves a stale `__old` dir
                # that only a future recompaction of the SAME layer
                # would clear — sweep it here (single-writer
                # maintenance assumption, like every step of the swap)
                if n_files:
                    old = hpath(path + "__old")
                    fs = old.getFileSystem(
                        spark._jsc.hadoopConfiguration()
                    )
                    if fs.exists(old):
                        fs.delete(old, True)
                continue
            # work is due on this layer: one maintenance unit,
            # deferred (not dropped) past the max_layers budget —
            # the accounting that flagged it only resets when the
            # work completes, so the next call resumes here
            if units_left < 1:
                deferred_units += 1
                continue
            nb = int(layer.rpartition("_b")[2]) if layer_pby else None
            if layer_pby and not crashed:
                # threshold split (r19, verdict #5) — see the
                # docstring's routing section: the BASE-due decision
                # gets its own threshold, floor-aware by default
                base_thr = (
                    int(index_compact_above_files)
                    if index_compact_above_files is not None
                    else max(int(compact_above_files), 2 * int(nb))
                )
                # whether this call finishes every unit the layer
                # owes — only a COMPLETED pass is the compaction
                # event that resets the marker (r19, verdict #1)
                pass_done = True
                # CHEAP fold first (r18, verdict #1): whatever else
                # is due, the tail folds by partitioned-APPEND of
                # just its rows into the live bucket dirs — never by
                # rewriting the corpus-sized base. A gutted/missing
                # base needs no special case: the append re-creates
                # readable bucket dirs from the tail (the r17
                # rebuild outcome, without the rewrite).
                if tail_files:
                    res = _fold_tail_append(
                        spark, path, tail_path,
                        _text_index_ids_path(out_root, nb), nb,
                        base_files=n_files_base,
                    )
                    folded_tails += 1
                    compacted_layers += 1
                    files_before += res["files_before"]
                    files_after += res["files_after"]
                    fold_files_before += res["files_before"]
                    fold_files_after += res["files_after"]
                    n_files_base = res["files_after"]
                    units_left -= 1
                # then reclaim fold growth in BUCKET units (r18, the
                # stall-floor fix): rewrite only overgrown tb= dirs —
                # the largest single maintenance unit becomes
                # ~max_buckets × corpus/N instead of the corpus. Runs
                # when the base's own count is over ITS threshold or
                # a crashed per-bucket swap left repair residue.
                if bstage or n_files_base > base_thr:
                    if units_left < 1:
                        # marker left standing (no resync): the
                        # signal re-fires and the next call resumes
                        deferred_units += 1
                        continue
                    resb = compact_index_buckets(
                        spark, path, nb,
                        files_above=max(1, base_thr // int(nb)),
                    )
                    if resb["buckets_compacted"] or resb["repaired"]:
                        compacted_layers += 1
                        files_before += resb["files_before"]
                        files_after += resb["files_after"]
                        reclaim_files_before += resb["files_before"]
                        reclaim_files_after += resb["files_after"]
                        units_left -= 1
                        if resb["buckets_remaining"]:
                            # more overgrown buckets than the
                            # per-call cap: still due — defer, and
                            # leave the marker standing so the
                            # signal keeps firing until the
                            # remainder drains
                            deferred_units += 1
                            pass_done = False
                        # sidecar hygiene rides the same unit: its
                        # cheap-fold appends accumulate now that the
                        # whole-layer regen is off the common path
                        # (an unreadable sidecar waits for that regen)
                        ids_p = _text_index_ids_path(out_root, nb)
                        if (
                            _data_file_count(spark, ids_p)
                            > int(compact_above_files)
                            and read_layer(spark, ids_p) is not None
                        ):
                            compact_layer(spark, ids_p, dedup_rows=True)
                    elif n_files_base > max(
                        base_thr, resb["buckets_total"]
                    ):
                        # nothing individually overgrown yet the
                        # layer holds more files than BOTH its
                        # threshold and its structural floor
                        # (buckets_total = non-empty buckets from
                        # the reclaim's own listing): file shapes
                        # the bucket view cannot account for — the
                        # whole-layer rewrite is the repair arm.
                        # With files_above = base_thr // buckets the
                        # per-bucket arm absorbs every normal shape
                        # (buckets × allowance >= base_thr), so a
                        # layer merely AT its floor never lands
                        # here (r19, verdict #1 — the r18 fallback
                        # fired exactly there, re-introducing the
                        # corpus-scale rewrite every sweep).
                        res = compact_layer(
                            spark, path,
                            partition_by=layer_pby,
                            partition_values=nb,
                            dedup_rows=True,
                        )
                        compacted_layers += 1
                        files_before += res["files_before"]
                        files_after += res["files_after"]
                        reclaim_files_before += res["files_before"]
                        reclaim_files_after += res["files_after"]
                        units_left -= 1
                        _write_ids_sidecar(
                            spark.read.parquet(path),
                            _text_index_ids_path(out_root, nb),
                            res["files_after"],
                        )
                if pass_done:
                    # the completed pass IS the compaction event the
                    # marker measures distance from: reset to 0,
                    # exactly like compact_layer's reset (r19,
                    # verdict #1). Fold growth is NOT carried in the
                    # marker — the base-due listing above re-measures
                    # it on every trip, and carrying the base TOTAL
                    # (the r18 bug) pinned compact_due above any
                    # threshold under the bucket count, firing
                    # maintenance every micro-batch forever.
                    resync[layer] = 0
                continue
            fold_df = None
            fold_path = None
            # presence probes, not readability (read_layer): a GUTTED
            # base (dir present, data files lost to crash residue)
            # must still fold — compact_layer rebuilds it from the
            # tail (its read-failure handling covers unreadable-with-
            # fold); an unreadable TAIL surfaces loudly in the fold
            # read rather than being silently dropped
            if (
                tail_path is not None
                and path_exists(spark, tail_path)
                and path_exists(spark, path)
            ):
                # fold the tail into the bucketed base inside the
                # compaction rewrite (the r17 LSM-tail design):
                # recompute the partition column for tail rows — the
                # tail stores plain (id, text) so per-batch appends
                # stay a handful of files
                tail_df = spark.read.parquet(tail_path)
                # the tail schema is exactly (id, text) in write
                # order — the id column is first whatever its name
                fold_df = tail_df.withColumn(
                    "tb",
                    F.pmod(
                        F.xxhash64(F.col(tail_df.columns[0])), F.lit(nb)
                    ),
                )
                fold_path = tail_path
            res = compact_layer(
                spark, path,
                partition_by=layer_pby,
                partition_values=nb,
                fold_df=fold_df,
                fold_path=fold_path,
                dedup_rows=bool(layer_pby),
            )
            compacted_layers += 1
            files_before += res["files_before"]
            files_after += res["files_after"]
            units_left -= 1
            if layer_pby:
                # full rewrite of the index base: regenerate the
                # id-presence sidecar wholesale from the fresh base
                # (the cheap fold only ever APPENDS to it — this is
                # its compaction point, and the creation point for a
                # lake that predates the sidecar)
                _write_ids_sidecar(
                    spark.read.parquet(path),
                    _text_index_ids_path(out_root, nb),
                    res["files_after"],
                )
        if resync:
            st = _read_lake_stats(spark, f"{out_root}/_lake_stats")
            if st is not None and any(
                st[3].get(k) != v for k, v in resync.items()
            ):
                merged_files = dict(st[3])
                merged_files.update(resync)
                _write_lake_stats(
                    spark, f"{out_root}/_lake_stats",
                    st[0], st[1], st[2], files=merged_files,
                )

    def _maintain_filter(layer: str, max_fill: float) -> dict[str, int]:
        nonlocal units_left, deferred_units
        hex_cur = _discover_bloom_geometry(spark, out_root, layer=layer)
        if hex_cur is None:
            # no layer of this lineage: nothing to maintain (an
            # unguarded or brand-new lake); the first guarded ingest
            # builds one
            return {"rebuilt": 0, "fill_pct": 0, "steps": 0}
        steps = 0
        rebuilt = 0
        cur = _read_bloom_layer(
            spark, _bloom_layer_path(out_root, hex_cur, layer=layer)
        )
        if cur is not None:
            fill_probe = _bloom_fill(cur, hex_cur)
            if fill_probe <= max_fill:
                # fresh filter: the check was the only cost
                return {
                    "rebuilt": 0,
                    "fill_pct": int(round(fill_probe * 100)),
                    "steps": 0,
                }
        # a rebuild pass is owed (missing layer or saturated filter):
        # one maintenance unit — the fill CHECK above is always paid
        # (MB-scale sidecar read), only the fingerprint-rescan
        # rebuilds are budget-gated; deferral leaves the fill high so
        # bloom_rebuild_due keeps signaling
        if units_left < 1:
            deferred_units += 1
            return {
                "rebuilt": 0,
                "fill_pct": (
                    int(round(fill_probe * 100)) if cur is not None else 0
                ),
                "steps": 0,
            }
        units_left -= 1
        if cur is None:
            res = bloom_rebuild(
                spark, out_root, hex_cur,
                catalog_prefix=catalog_prefix, layer=layer,
            )
            fill = float(res["fill_frac"])
            rebuilt = hex_cur
            steps = 1
        else:
            fill = fill_probe
        while fill > max_fill and steps < 8:  # at most 8 rebuilds
            hex_cur += _bloom_growth_steps(fill, max_fill)
            res = bloom_rebuild(
                spark, out_root, hex_cur,
                catalog_prefix=catalog_prefix, layer=layer,
            )
            fill = float(res["fill_frac"])
            rebuilt = hex_cur
            steps += 1
        return {
            "rebuilt": rebuilt,
            "fill_pct": int(round(fill * 100)),
            "steps": steps,
        }

    fp = _maintain_filter("bloom", bloom_max_fill)
    ub = _maintain_filter("url_bloom", _URL_BLOOM_MAX_FILL)
    # text-index provisioning (r16): maintenance is the natural place
    # to pay the one-time corpus rewrite a verify index costs — the
    # same contract as the deferred Bloom rebuild (admission stays
    # correct without it; build it out-of-band, the ingest faces
    # discover and maintain it from then on). Only builds when NO
    # index exists: an existing one is already maintained per batch
    # and resized with an explicit build_text_index call (a resize is
    # a deliberate operator decision, not idle maintenance).
    text_index_built = 0
    if (
        text_index_buckets is not None
        and _discover_text_index(spark, out_root) is None
        and read_layer(spark, f"{out_root}/docs") is not None
    ):
        if units_left < 1:
            deferred_units += 1
        else:
            build_text_index(
                spark, out_root, buckets=text_index_buckets
            )
            text_index_built = int(text_index_buckets)
            units_left -= 1
    return {
        "bloom_rebuilt_hex": fp["rebuilt"],
        "bloom_fill_pct": fp["fill_pct"],
        "bloom_steps": fp["steps"],
        "url_bloom_rebuilt_hex": ub["rebuilt"],
        "url_bloom_fill_pct": ub["fill_pct"],
        "url_bloom_steps": ub["steps"],
        "compacted_layers": compacted_layers,
        "folded_tails": folded_tails,
        "files_before": files_before,
        "files_after": files_after,
        "fold_files_before": fold_files_before,
        "fold_files_after": fold_files_after,
        "reclaim_files_before": reclaim_files_before,
        "reclaim_files_after": reclaim_files_after,
        "text_index_built": text_index_built,
        "deferred_units": deferred_units,
    }


def _read_bloom_layer(spark: SparkSession, path: str) -> DataFrame | None:
    """Read the Bloom sidecar, or None if absent OR unreadable — a
    crash during its overwrite may leave a partial directory, and the
    filter is a rebuildable cache of the fingerprint layer, so any
    read failure degrades to a rebuild instead of an error."""
    df = read_layer(spark, path)
    # cheap structural sanity: both columns present
    if df is None or {"word_idx", "word"} - set(df.columns):
        return None
    return df


def compact_layer(
    spark: SparkSession,
    path: str,
    target_file_mb: int = _TARGET_FILE_MB,
    partition_by: str | None = None,
    partition_values: int | None = None,
    fold_df: DataFrame | None = None,
    fold_path: str | None = None,
    dedup_rows: bool = False,
) -> dict[str, int]:
    """Small-files maintenance for an append-mode lake layer: rewrite
    the layer into ~``target_file_mb`` files and swap it in with a
    resumable rename protocol. Per-micro-batch appends
    (:func:`incremental_ingest` docs/fingerprints/band_buckets) leave
    one file set per batch; at streaming rates that is millions of
    tiny files whose listing + open overhead eventually dominates
    every guard scan — periodic compaction is the standard antidote.
    NOT for the ordered ``shards`` layer (its writer owns file
    layout; rewriting would break within-shard order).

    Protocol (each step idempotently recoverable, checked on entry so
    a crashed compaction self-heals on the next call):

    1. write ``<path>__compact`` (Spark stamps ``_SUCCESS``);
    2. verify row count vs the live layer (refuse the swap on
       mismatch — a torn write never replaces good data);
    3. rename live → ``<path>__old``;
    4. rename ``__compact`` → live;
    5. delete ``__old``.

    ``partition_by`` (r16): for a directory-partitioned layer (the
    text index), rewrite bucket-aligned and re-stamp ``partitionBy``
    so the swapped-in layer prunes identically — the default plain
    ``repartition(n)`` would silently strip the partition layout.

    ``fold_df`` / ``fold_path`` (r17 — the LSM-tail fold): a sidecar
    of per-batch appends is UNIONED into the rewrite (``fold_df``,
    already carrying the partition column when ``partition_by`` is
    set) with a full-row ``dropDuplicates`` (crash residue from a
    prior fold interrupted between swap and tail delete is an exact
    duplicate row by construction — this is the one path where
    "content identical" means the deduplicated union, not the raw
    live bytes), and ``fold_path`` is deleted AFTER the swap lands —
    a crash between the two leaves duplicates, never loss. The row
    verification in step 2 checks against the unioned deduped count.

    ``dedup_rows`` (r18): full-row ``dropDuplicates`` on the rewrite
    even WITHOUT a fold — for layers whose exact-duplicate rows are
    semantically redundant (the text index: a cache of (id, text)
    where dupes are crash residue from an interrupted CHEAP fold,
    :func:`_fold_tail_append`). Never set for the append layers:
    their content contract is byte-identity, and their consumers own
    any set semantics.

    Crash between 3–4 leaves no live dir: the entry repair finishes
    the swap iff ``__compact`` carries ``_SUCCESS``. Crash after 4
    just re-deletes ``__old``. Readers see a missing dir for the
    duration of two renames — a maintenance-window operation on
    stores with O(1) rename (HDFS; object stores emulate rename by
    copy, so prefer their native compaction windows). Uses the Hadoop
    FileSystem API, so the same code runs on file://, hdfs://, s3a://.

    Returns {files_before, files_after, rows}.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    live, compacted, old = hpath(path), hpath(path + "__compact"), hpath(
        path + "__old"
    )
    def _rename(src, dst, what: str) -> None:
        # Hadoop FileSystem.rename reports failure as a False return,
        # not an exception — unchecked, a failed swap step would
        # cascade into the next one silently
        if not fs.rename(src, dst):
            raise IOError(
                f"compaction of {path}: rename {what} "
                f"({src} -> {dst}) failed — layer left as-is"
            )

    # entry repair of a crashed previous run
    if not fs.exists(live) and fs.exists(compacted):
        if fs.exists(hpath(path + "__compact/_SUCCESS")):
            _rename(compacted, live, "repair (compacted -> live)")
        else:
            raise ValueError(
                f"compaction of {path} crashed mid-write with no live "
                "layer left — restore from __old or upstream"
            )
    if fs.exists(old):
        fs.delete(old, True)
    if fs.exists(compacted):
        fs.delete(compacted, True)  # stale partial from a crashed run
    if fs.exists(hpath(path + "/_manifest")):
        # an ordered shard layer: repartition would scramble the
        # within-shard order its manifest certifies — refuse instead
        # of silently corrupting the delivery contract
        raise ValueError(
            f"{path} carries a shard _manifest — it is an ORDERED "
            "shard layer; compaction would break within-shard order. "
            "Re-run write_training_shards to re-layout it instead."
        )

    files_before = _data_file_count(spark, path)
    size = fs.getContentSummary(live).getLength()
    # a layer left data-less by out-of-band surgery or crash residue
    # (dir present, no readable files) only has content to rewrite
    # when a fold tail exists — without one, keep Spark's loud read
    # failure (a plain compaction of nothing is a caller bug); with
    # one, the fold REBUILDS a readable base from the tail so
    # unattended maintenance can't wedge in a failing loop (missing
    # older rows are the heal/fallback paths' responsibility — the
    # cache contract)
    df = (
        spark.read.parquet(path)
        if fold_df is None
        else read_layer(spark, path)
    )
    if fold_df is not None:
        files_before += (
            _data_file_count(spark, fold_path)
            if fold_path is not None
            else 0
        )
        size += (
            fs.getContentSummary(hpath(fold_path)).getLength()
            if fold_path is not None and fs.exists(hpath(fold_path))
            else 0
        )
        df = fold_df if df is None else df.unionByName(fold_df)
        df = df.dropDuplicates()
    elif dedup_rows and df is not None:
        # no tail to fold, but the layer tolerates (and wants rid of)
        # exact-duplicate rows — cheap-fold crash residue (r18)
        df = df.dropDuplicates()
    n_out = max(1, int(size // (target_file_mb * 1024 * 1024)) + 1)
    rows = df.count()
    if partition_by is None:
        df.repartition(n_out).write.mode("overwrite").parquet(
            path + "__compact"
        )
    else:
        # directory-partitioned layer (the text index): a plain
        # repartition(n) would strip the partition layout the pruned
        # reads depend on — rewrite bucket-aligned, split oversized
        # buckets toward the target file size, and re-stamp
        # partitionBy so the swapped-in layer prunes identically
        (
            _bucket_sliced(
                df, partition_by, n_out, n_values=partition_values
            )
            .write.mode("overwrite")
            .partitionBy(partition_by)
            .parquet(path + "__compact")
        )
    got = spark.read.parquet(path + "__compact").count()
    if got != rows:
        fs.delete(compacted, True)
        raise ValueError(
            f"compaction of {path} produced {got} rows, expected "
            f"{rows} — swap refused, live layer untouched"
        )
    _rename(live, old, "step 3 (live -> old)")
    try:
        _rename(compacted, live, "step 4 (compacted -> live)")
    except IOError:
        # roll the live layer back before surfacing: better a failed
        # compaction than a missing layer
        fs.rename(old, live)
        raise
    fs.delete(old, True)
    if partition_by is None:
        # the swapped-in files are one Spark write of ``df``, so its
        # schema is what the next open would infer: remember it, and
        # that open launches no inference job
        record_parquet_write(spark, path, df.schema)
    if fold_path is not None and fs.exists(hpath(fold_path)):
        # tail folded into the swapped-in layer: delete it LAST — a
        # crash before this line leaves exact-duplicate rows (readers
        # tolerate them; the next fold's dropDuplicates removes them),
        # never data loss
        fs.delete(hpath(fold_path), True)
    # reset the layer's files-appended-since-compaction accounting in
    # the sibling ``_lake_stats`` marker (r16, verdict #1) — the
    # compaction IS the event the counter measures distance from. A
    # layer outside a marker-carrying lake (or a pre-r16 lake) has no
    # entry to reset; the running total and replay digest are carried
    # over untouched. A crash before this write leaves a stale-high
    # counter, which only re-triggers an (idempotent, cheap on a
    # freshly compacted layer) sweep — the safe direction.
    root, _, layer_name = path.rstrip("/").rpartition("/")
    if root:
        stats = _read_lake_stats(spark, f"{root}/_lake_stats")
        if stats is not None and stats[3].get(layer_name):
            reset = dict(stats[3])
            reset[layer_name] = 0
            _write_lake_stats(
                spark, f"{root}/_lake_stats",
                stats[0], stats[1], stats[2], files=reset,
            )
    return {
        "files_before": files_before,
        "files_after": _data_file_count(spark, path),
        "rows": rows,
    }


def compact_index_buckets(
    spark: SparkSession,
    path: str,
    nb: int,
    files_above: int = 1,
    max_buckets: int | None = 256,
) -> dict[str, int]:
    """PER-BUCKET incremental compaction for the text index (r18 —
    the stall-floor fix the `guard_probe.py fold` measurement
    pointed at): rewrite only the ``tb=`` bucket dirs holding more
    than ``files_above`` data files, at most ``max_buckets`` per
    call, instead of :func:`compact_layer`'s whole-layer rewrite.
    Cheap folds (:func:`_fold_tail_append`) grow the base ~one file
    per touched bucket per fold; this reclaims exactly that growth in
    units of ONE BUCKET (~corpus/N bytes — at 100 TB and N=4096,
    ~25 GB per bucket instead of a 100 TB layer rewrite), so the
    largest single maintenance unit is bounded by
    ``max_buckets × corpus/N`` rather than the corpus. Buckets left
    over the allowance (more overgrown buckets than the cap) stay
    due — the caller's accounting re-fires and the next call
    continues.

    Duplicate-row hygiene rides along: exact duplicates of a row
    share its id and therefore its bucket (``tb = pmod(xxhash64(id),
    N)``), so a per-bucket ``dropDuplicates`` removes cheap-fold
    crash residue exactly like the whole-layer rewrite's did.

    Per-bucket swap protocol (all chosen buckets written and
    verified in ONE Spark job first, then swapped dir-by-dir):

    1. write all chosen buckets to ``<path>__bcompact/tb=X`` via one
       ``partitionBy`` job;
    2. verify per-bucket row counts vs the deduped expectation;
       stamp ``_VERIFIED`` at the staging root (Spark's ``_SUCCESS``
       is per-job, not per-bucket — the marker is what entry repair
       trusts);
    3. per bucket: rename live → ``<path>__bold/tb=X``, rename
       staged → live, delete old.

    A crash anywhere leaves at most one bucket in a torn state, and
    entry repair (run first on every call) resolves every residue
    shape: verified staged bucket with no live dir → finish the
    rename; un-verified staging → delete it (and restore any live
    bucket from ``__bold``); stale old copies → delete. Readers see
    a missing bucket dir for the duration of two renames — the
    index's cache contract (verify falls back to the docs layer for
    exactly the missing ids) makes that a slowdown, never a wrong
    admission.

    Returns ``{"buckets_compacted", "buckets_remaining",
    "files_before", "files_after", "rows", "repaired"}`` (counts for
    the CHOSEN buckets only), plus the selection listing's whole-layer
    view (r19): ``buckets_total`` = non-empty bucket dirs — the
    layer's structural FLOOR, which :func:`maintain_lake`'s
    nothing-overgrown fallback compares against so a layer merely at
    its floor is never whole-layer-rewritten — and ``files_total`` =
    data files the bucket view accounts for."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    stage_root = hpath(path + "__bcompact")
    old_root = hpath(path + "__bold")

    # ---- entry repair of a crashed previous run ----
    repaired = 0
    if fs.exists(stage_root):
        verified = fs.exists(hpath(path + "__bcompact/_VERIFIED"))
        if verified:
            for st in fs.listStatus(stage_root):
                nm = st.getPath().getName()
                if not nm.startswith("tb="):
                    continue
                live_b = hpath(f"{path}/{nm}")
                if not fs.exists(live_b):
                    # crash between rename-out and rename-in: the
                    # staged copy is verified — finish the swap
                    fs.rename(st.getPath(), live_b)
                    repaired += 1
        # whatever remains in staging is superseded or torn
        fs.delete(stage_root, True)
    if fs.exists(old_root):
        for st in fs.listStatus(old_root):
            nm = st.getPath().getName()
            live_b = hpath(f"{path}/{nm}")
            if not fs.exists(live_b):
                # un-verified staging was deleted above and the live
                # dir is gone: roll the old copy back
                fs.rename(st.getPath(), live_b)
                repaired += 1
            else:
                fs.delete(st.getPath(), True)
        fs.delete(old_root, True)

    # ---- selection: worst buckets first, bounded. ONE
    # ``inputFiles()`` pass instead of per-dir listings: py4j
    # marshals the whole path array in a single driver call, where
    # the listStatus/listFiles shape costs ~3 round trips PER
    # FILE/entry (the `_live_bucket_paths` measurement) — the first
    # `fold_unit` probe run showed exactly that chatter dominating
    # the reclaim call at probe scale (SCALE.md §r18). Object-store
    # translation: one LIST sweep of the layer, not one per dir.
    def _per_bucket_files() -> dict[str, int]:
        counts: dict[str, int] = {}
        # an unreadable/empty layer has nothing selectable (entry
        # repair above already resolved crash residue)
        df = read_layer(spark, path)
        for fpath in df.inputFiles() if df is not None else ():
            seg = fpath.rstrip("/").rsplit("/", 2)
            if len(seg) == 3 and seg[1].startswith("tb="):
                counts[seg[1]] = counts.get(seg[1], 0) + 1
        return counts

    per_bucket = _per_bucket_files()
    over = sorted(
        ((n_f, nm) for nm, n_f in per_bucket.items()
         if n_f > int(files_above)),
        reverse=True,
    )
    capped = over[: int(max_buckets)] if max_buckets else over
    # sizes only for the CHOSEN dirs (≤ max_buckets point calls),
    # never for every overgrown bucket
    chosen = [
        (n_f, nm, int(
            fs.getContentSummary(hpath(f"{path}/{nm}")).getLength()
        ))
        for n_f, nm in capped
    ]
    out = {
        "buckets_compacted": 0,
        "buckets_remaining": len(over) - len(chosen),
        "files_before": sum(n for n, _nm, _s in chosen),
        "files_after": 0,
        "rows": 0,
        "repaired": repaired,
        "buckets_total": len(per_bucket),
        "files_total": sum(per_bucket.values()),
    }
    if not chosen:
        return out

    # ---- one job: read chosen buckets (basePath keeps tb), dedup,
    # write staged ----
    live_dirs = [f"{path}/{nm}" for _n, nm, _s in chosen]
    ded = (
        spark.read.option("basePath", path)
        .parquet(*live_dirs)
        .dropDuplicates()
    )
    exp = {
        int(r["tb"]): int(r["n"])
        for r in ded.groupBy("tb").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    size = sum(s for _n, _nm, s in chosen)
    n_out = max(1, int(size // (_TARGET_FILE_MB * 1024 * 1024)) + 1)
    (
        _bucket_sliced(ded, "tb", n_out, n_values=len(chosen))
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(path + "__bcompact")
    )
    got = {
        int(r["tb"]): int(r["n"])
        for r in spark.read.parquet(path + "__bcompact")
        .groupBy("tb")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if got != exp:
        fs.delete(stage_root, True)
        raise ValueError(
            f"per-bucket compaction of {path} wrote mismatched "
            f"counts — swap refused, live layer untouched"
        )
    fs.create(hpath(path + "__bcompact/_VERIFIED")).close()

    # ---- per-bucket swaps ----
    fs.mkdirs(old_root)
    for _n, nm, _s in chosen:
        live_b = hpath(f"{path}/{nm}")
        stage_b = hpath(f"{path}__bcompact/{nm}")
        if not fs.exists(stage_b):
            # a chosen bucket whose files held zero rows writes no
            # staged dir; its live files are pure overhead — drop
            fs.rename(live_b, hpath(f"{path}__bold/{nm}"))
            continue
        if not fs.rename(live_b, hpath(f"{path}__bold/{nm}")):
            raise IOError(
                f"bucket compaction of {path}/{nm}: rename-out "
                "failed — bucket left as-is"
            )
        if not fs.rename(stage_b, live_b):
            # roll back before surfacing
            fs.rename(hpath(f"{path}__bold/{nm}"), live_b)
            raise IOError(
                f"bucket compaction of {path}/{nm}: rename-in "
                "failed — bucket rolled back"
            )
        out["buckets_compacted"] += 1
    fs.delete(old_root, True)
    fs.delete(stage_root, True)
    out["rows"] = sum(exp.values())
    after_counts = _per_bucket_files()
    out["files_after"] = sum(
        after_counts.get(nm, 0) for _n, nm, _s in chosen
    )
    return out


def update_line_census(
    spark: SparkSession, census_path: str, batch: DataFrame
) -> dict[str, int]:
    """Maintain a cross-batch LINE CENSUS sidecar — the incremental
    half of the RefinedWeb line dedup (:func:`operators.dedup.
    drop_common_lines`): per batch, append the md5 key of each line of
    at least ``_LINE_CENSUS_MIN_LEN`` (15) chars with its batch-local
    DISTINCT-doc count, so :func:`read_line_census` can answer "which
    exact lines has this LAKE seen in >= min_df docs" without ever
    re-reading historical text — the same lake-is-the-state design as
    the fingerprint and band sidecars.

    Crash/replay safety: every append is stamped with an order-free
    ID-SET digest of the batch (``bit_xor(xxhash64(id))`` — the
    shard-manifest digest); a replayed batch whose digest is already
    in the sidecar is SKIPPED (``new_batch = 0``), so at-least-once
    delivery cannot double-count a line's document frequency. The
    digest keys on ids, not text: a "replay" carrying the same ids
    with CHANGED text is a conflicting input the ingest layer's
    content guard owns — this sidecar deliberately treats it as the
    same batch. Precondition (ENFORCED, matching the ingest
    contract): batch ids are unique — a duplicate id would cancel
    itself out of the XOR pairwise, letting two materially different
    batches share a digest, so the uniqueness check rides the same
    digest aggregation and a violating batch is refused loudly. Feed
    ADMITTED batches, not raw arrivals.

    Scale: the append is batch-lines-sized (32-hex key + two ints);
    the replay probe reads ONE pruned column of the sidecar; history
    is never scanned beyond that. Census reads aggregate the sidecar
    (boilerplate-key-sized), never the corpus.

    Returns ``{"batch_lines": keys appended, "new_batch": 0|1,
    "batch_digest": the stamp}``."""
    digest_row = batch.agg(
        _id_set_digest(_ID_COL).alias("d"),
        # count(id), not count(1): a NULL id hashes to the seed
        # (xxhash64(NULL) = 42), so two of them cancel out of the XOR
        # digest, and count_distinct skips it — comparing against the
        # raw row count would report a single NULL id as a spurious
        # "duplicate ids" error, so NULLs get their own message.
        F.count(F.col(_ID_COL)).alias("n"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col(_ID_COL)).alias("nd"),
    ).first()
    if digest_row["n_rows"] != digest_row["n"]:
        raise ValueError(
            f"line-census batch has {digest_row['n_rows'] - digest_row['n']} "
            f"NULL {_ID_COL} value(s) — a NULL id is invisible to the "
            "XOR replay digest, so the skip decision would be "
            "unsound. Drop or key the NULL-id rows first."
        )
    if digest_row["n"] != digest_row["nd"]:
        raise ValueError(
            f"line-census batch has duplicate {_ID_COL} values "
            f"({digest_row['n']} rows, {digest_row['nd']} distinct) — "
            "duplicate ids cancel pairwise out of the XOR replay "
            "digest, so the skip decision would be unsound. Exact-"
            "dedup the batch first (the ingest contract feeds admitted "
            "batches)."
        )
    digest = int(digest_row["d"])
    census = read_layer(spark, census_path)
    if census is not None:
        seen = (
            census.filter(F.col("batch_digest") == digest)
            .limit(1)
            .count()
        )
        if seen:
            return {
                "batch_lines": 0, "new_batch": 0, "batch_digest": digest,
            }
    counts = (
        dedup.common_lines(
            batch, _ID_COL, _TEXT_COL,
            min_df=1, min_len=_LINE_CENSUS_MIN_LEN,
        )
        .withColumnRenamed("line_df", "n_docs")
        .withColumn("batch_digest", F.lit(digest))
    )
    write_parquet(counts, census_path, mode="append")
    n = spark.read.parquet(census_path).filter(
        F.col("batch_digest") == digest
    ).count()
    return {"batch_lines": n, "new_batch": 1, "batch_digest": digest}


def read_line_census(
    spark: SparkSession, census_path: str, min_df: int = 2
) -> DataFrame:
    """The census sidecar aggregated to (``line_key``, ``line_df``),
    filtered to lines seen in at least ``min_df`` distinct documents
    LAKE-WIDE — plug it straight into
    ``drop_common_lines(common=...)`` to cut boilerplate that only
    becomes visible across ingest batches. One groupBy over the
    sidecar (never the corpus); the result is boilerplate-sized."""
    census = read_layer(spark, census_path)
    if census is None:
        raise ValueError(
            f"no line census at {census_path} — build it with "
            "update_line_census / incremental_ingest(line_census=True)"
        )
    return (
        census.groupBy("line_key")
        .agg(F.sum("n_docs").alias("line_df"))
        .filter(F.col("line_df") >= int(min_df))
    )


def streaming_ingest(
    stream_df: DataFrame,
    out_root: str,
    checkpoint: str | None = None,
    catalog_prefix: str | None = None,
    near_dup: bool = False,
    lsh_bands: int = 4,
    lsh_max_bucket: int | None = None,
    near_dup_verify: float | None = None,
    verify_max_broadcast_chars: int | None = 20_000_000,
    line_census: bool = False,
    decontaminate_probes: DataFrame | None = None,
    gopher_gate: bool = False,
    max_top_ngram_frac: Mapping[int, float] | None = None,
    max_dup_ngram_frac: Mapping[int, float] | None = None,
    bloom_guard: bool = False,
    bloom_max_fill: float = 0.5,
    bloom_rebuild_mode: str = "sync",
    media_guard: bool = False,
    media_video_every_ms: int = 1000,
    media_max_bucket: int | None = None,
    url_guard: bool = False,
    url_blocklist: tuple[str, ...] = (),
    url_extra_suffixes: tuple[str, ...] = (),
    url_psl_rules: tuple[str, ...] | None = None,
    url_bloom: bool = False,
    compact_above_files: int | None = None,
    on_report=None,
    maintain_due: int | None = None,
    maintain_max_layers_per_batch: int | None = None,
    index_compact_above_files: int | None = None,
):
    """Continuous corpus ingestion: the Structured-Streaming face of
    :func:`incremental_ingest`. Each micro-batch runs the SAME
    content-fingerprint + id-guard admission against the lake, so the
    batch contract carries over to a file-arrival or Kafka source
    unchanged: at-least-once delivery is enough (a replayed batch
    admits nothing — decisions are a pure function of content), and no
    state store is needed because the lake's own fingerprint layer IS
    the state. ``foreachBatch`` is the right tool here, not a stateful
    operator: admission must consult (and append to) the whole
    historical lake, which per-key stream state cannot hold at 100 TB.

    Returns the started ``StreamingQuery`` (caller awaits/stops it).
    The default trigger processes whatever is available and keeps
    listening; wrap with ``.trigger(availableNow=True)`` semantics by
    stopping after ``processAllAvailable()`` in tests. Pass
    ``catalog_prefix`` to run the guards against the bucketed catalog
    sidecars (the 100 TB path — see :func:`incremental_ingest`);
    ``line_census`` forwards to the per-batch boilerplate census
    (digest-idempotent, so Structured Streaming's replay semantics
    compose with it unchanged); ``decontaminate_probes`` forwards the
    eval-leak admission gate (stateless per batch — the probe frame
    is re-planned each micro-batch); the Gopher / n-gram-cap knobs
    (r10) forward the quality admission gates the same way, so the
    streaming face carries the full gate set the batch pipeline
    has; ``bloom_guard`` forwards the Bloom pre-filter (the
    bit_or-idempotent sidecar composes with replay exactly like the
    census — see :func:`incremental_ingest`), and the full batch-face
    knob surface forwards with it (r13, advisor): ``lsh_bands`` (part
    of the lake's identity — a streaming face that couldn't pass it
    would be refused by the mode marker), ``bloom_max_fill`` and
    ``bloom_rebuild_mode`` — streaming lakes
    in particular want ``"defer"``, which keeps the saturation
    rebuild out of micro-batch latency and leaves it to an
    out-of-band :func:`maintain_lake` run; ``media_guard`` (r12)
    forwards the perceptual media admission guard (constant-width
    hash sidecar + id-absence heal, so at-least-once replay composes
    the same way).

    ``on_report`` (r16): optional ``(batch_id, report_dict)`` callback
    invoked after every micro-batch with the SAME counter dict the
    batch face returns. Without it the streaming face silently
    discards every report — including the maintenance TRIGGERS
    (``bloom_rebuild_due``, ``compact_due``) that a deferred-mode
    streaming lake exists to consume — leaving the operator blind on
    exactly the face that needs them. Runs inside ``foreachBatch`` on
    the driver: keep it cheap and non-throwing (an exception fails
    the micro-batch, which Structured Streaming then retries — safe,
    since a replayed batch admits nothing, but noisy). A delivery
    mechanism like ``checkpoint``, not a pipeline knob, so it is
    excluded from the two faces' knob-parity contract.

    ``maintain_due`` (r17, verdict #4) closes the maintenance loop
    the r16 signals opened: when the batch report's due counters
    (``compact_due`` + ``bloom_rebuild_due`` + ``url_bloom_rebuild_
    due``) sum to at least ``maintain_due``, the micro-batch invokes
    :func:`maintain_lake` itself (``trust_marker=True`` — under-
    threshold layers cost two point probes, never a listing),
    forwarding the stream's compaction/fill knobs — so an unattended
    streaming lake stays compacted and its filters fresh with zero
    external orchestration. The maintenance runs INSIDE
    ``foreachBatch``, so that one micro-batch absorbs the sweep
    latency; the signals it acts on reset on completion (compaction
    zeroes the append accounting, rebuilds restore fill), so the
    policy self-throttles to "when work is actually owed".
    ``maintain_due=1`` = act on any signal; higher values batch more
    debt per sweep. Operators that need true out-of-band maintenance
    (a separate cluster/queue) keep using ``on_report`` + their own
    scheduler instead. The maintenance result rides the report to
    ``on_report`` under ``maintain_*`` keys. A delivery-side policy
    like ``on_report``, excluded from knob parity the same way.

    ``maintain_max_layers_per_batch`` (r18, verdict #3) staggers that
    in-stream sweep: forwarded as :func:`maintain_lake`'s
    ``max_layers``, it caps how many maintenance UNITS (layer sweeps
    + filter rebuild passes) one micro-batch absorbs; deferred work
    stays due (the signals it acts on only reset on completion), so
    consecutive batches drain the backlog one slice at a time and
    converge to the same lake state as one big sweep — bounding the
    worst-case micro-batch stall on a lake where every layer comes
    due at once. Delivery-side like ``maintain_due``, excluded from
    knob parity the same way.

    ``index_compact_above_files`` (r19, verdict #5) forwards
    :func:`maintain_lake`'s base-due threshold for the text-index
    layer — the fold/reclaim threshold split; see that docstring.
    It tunes WHEN the in-stream sweep reclaims index buckets, never
    what any batch admits, so it is delivery-side maintenance POLICY
    like ``maintain_max_layers_per_batch`` and excluded from knob
    parity the same way."""
    _check_ingest_knobs(bloom_rebuild_mode, url_bloom, url_guard)
    # the batch-face knobs, forwarded by name from this face's own
    # arguments (the knob-parity test pins both signatures)
    args = locals()
    knobs = {
        name: args[name]
        for name in inspect.signature(incremental_ingest).parameters
        if name not in ("spark", "new_docs", "out_root")
    }
    maintain_knobs = {
        name: knobs[name]
        for name in ("catalog_prefix", "bloom_max_fill",
                     "compact_above_files")
    }

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        rep = incremental_ingest(
            batch_df.sparkSession, batch_df, out_root, **knobs
        )
        if maintain_due is not None:
            due = (
                rep.get("compact_due", 0)
                + rep.get("bloom_rebuild_due", 0)
                + rep.get("url_bloom_rebuild_due", 0)
            )
            if due >= int(maintain_due):
                mres = maintain_lake(
                    batch_df.sparkSession,
                    out_root,
                    trust_marker=True,
                    max_layers=maintain_max_layers_per_batch,
                    index_compact_above_files=index_compact_above_files,
                    **maintain_knobs,
                )
                for mk, mv in mres.items():
                    rep[f"maintain_{mk}"] = mv
        if on_report is not None:
            on_report(batch_id, rep)

    return (
        stream_df.writeStream.foreachBatch(_ingest)
        .option(
            "checkpointLocation",
            checkpoint or f"{out_root}/_checkpoints/ingest",
        )
        .start()
    )


def main() -> None:  # pragma: no cover - thin CLI wrapper
    import argparse

    from .session import get_spark
    from .sources.readers import load_table

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("sf_dir", help="testdata dir holding documents.parquet")
    p.add_argument("out_root", help="output lake root")
    p.add_argument("--force", action="store_true")
    args = p.parse_args()
    spark = get_spark("corpus_pipeline")
    docs = load_table(spark, args.sf_dir, "documents")
    counts = run_corpus_pipeline(
        spark, docs, args.out_root, force=args.force
    )
    for k, v in counts.items():
        print(f"{k}: {v}")


if __name__ == "__main__":
    main()
