"""Ingest admission counters: the reserved input columns, which
counter each refused row is billed to when several gates or guards
fire on it (pass A: the policy gates; pass B: the within-batch
keepers, the fingerprint guard, the history guards and the id guard of
``incremental_ingest``), and one admitted row per id."""

from __future__ import annotations

import random
import shutil

import pytest

STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _writer(seed: int):
    """Deterministic prose (Gopher-passing: 70 words, a stop word every
    sixth) from a fixed vocabulary, and that vocabulary."""
    rng = random.Random(seed)
    vocab = [
        "".join(rng.choice("abcdefghijklmnoprstuvw")
                for _ in range(rng.randint(4, 8)))
        for _ in range(300)
    ]

    def prose() -> str:
        return " ".join(
            rng.choice(STOPS) if i % 6 == 0 else rng.choice(vocab)
            for i in range(70)
        )

    return rng, vocab, prose


@pytest.mark.parametrize("column", ["fingerprint", "__prior"])
def test_ingest_refuses_reserved_columns_on_the_first_batch(
    spark, tmp_path, column
):
    """An input ``fingerprint`` column would be overwritten by the
    content fingerprint and dropped from the docs layer; a first batch
    carrying ``__prior`` would land in docs and make every later batch
    fail. Both are refused on the first batch, before the lake is
    stamped."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    root = tmp_path / "lake"
    b = spark.createDataFrame(
        [(1, "alpha content", "x")], f"doc_id long, text string, {column} string"
    )
    with pytest.raises(ValueError, match="reserves the column name"):
        incremental_ingest(spark, b, str(root))
    assert not root.exists()


def test_policy_gates_bill_each_row_to_the_first_gate(spark, tmp_path):
    """Decontamination → quality → blocklist: a row several gates
    reject counts once, under the first; contaminated docs count by
    id; an id arriving twice with different text is judged per row; a
    NULL-id row reaches no gate (exact dedup drops it) and is neither
    admitted nor billed."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    rng, vocab, prose = _writer(11)

    def spam() -> str:
        return " ".join(rng.sample(vocab, 3) * 20)

    prompt = "name the seven wonders of the ancient world in their order"
    probes = spark.createDataFrame([(900, prompt)], "doc_id long, text string")
    rows = [
        (1, prose(), "https://ok.ex/1"),                 # admitted
        (2, f"{prose()} {prompt}", "https://ok.ex/2"),   # contaminated
        (3, spam(), "https://blocked.ex/3"),             # quality + blocked
        (4, f"{spam()} {prompt}", "https://ok.ex/4"),    # contaminated + quality
        (5, prose(), "https://blocked.ex/5"),            # blocked
        (6, prose(), "https://ok.ex/6"),                 # one id, two texts:
        (6, spam(), "https://ok.ex/6b"),                 # each row judged,
        (7, spam(), "https://ok.ex/7"),                  # so the prose row
        (7, spam(), "https://ok.ex/7b"),                 # is admitted
        (None, prose(), "https://ok.ex/n"),              # NULL id: dropped
    ]
    rep = incremental_ingest(
        spark,
        spark.createDataFrame(rows, "doc_id long, text string, url string"),
        str(tmp_path / "lake"),
        decontaminate_probes=probes,
        gopher_gate=True,
        max_top_ngram_frac={3: 0.18},
        url_blocklist=("blocked.ex",),
    )
    assert rep == {
        "arrived": 10, "admitted": 2, "healed_fingerprints": 0,
        "total_docs": 2, "domain_blocked": 1,
        "contaminated_skipped": 2, "quality_rejected": 4,
    }
    assert list(rep) == [
        "arrived", "admitted", "healed_fingerprints", "total_docs",
        "domain_blocked", "contaminated_skipped", "quality_rejected",
    ]


def test_history_guards_bill_each_row_to_the_first_guard(spark, tmp_path):
    """On a url + verified near-dup lake: a doc both the url history
    and the near-dup history hit counts under url only; a band
    collision verify clears counts as rescued and is admitted; a
    replayed prior id whose band rows are missing heals them."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    rng, vocab, prose = _writer(5)
    b_text = prose()
    # a rewrite of b_text sharing a band bucket with it at Jaccard
    # 0.125: a candidate the 0.5 verify clears
    for _ in range(37):
        w = b_text.split()
        for i in rng.sample(range(len(w)), rng.randint(15, 45)):
            w[i] = rng.choice(vocab)
    collider = " ".join(w)
    a_text, c_text = prose(), prose()
    root = str(tmp_path / "lake")
    knobs = dict(url_guard=True, near_dup=True, near_dup_verify=0.5)
    schema = "doc_id long, text string, url string"

    def ingest(rows):
        return incremental_ingest(
            spark, spark.createDataFrame(rows, schema), root, **knobs
        )

    first = [
        (1, a_text, "https://a.ex/1"),
        (2, b_text, "https://b.ex/2"),
        (3, c_text, "https://c.ex/3"),
    ]
    ingest(first)
    # tear doc 3's band rows out of the sidecar (a crash mid-append)
    bands = f"{root}/band_buckets"
    spark.read.parquet(bands).filter("id != 3").write.parquet(f"{bands}.kept")
    shutil.rmtree(bands)
    shutil.move(f"{bands}.kept", bands)
    a_words = a_text.split()
    a_words[10] = "dup"
    rep = ingest([
        (10, " ".join(a_words), "https://a.ex/1"),  # url + near-dup hit
        (11, collider, "https://d.ex/11"),          # rescued
        first[2],                                   # replayed prior id
    ])
    assert rep == {
        "arrived": 3, "admitted": 1, "healed_fingerprints": 0,
        "total_docs": 4, "near_dup_blocked": 0, "near_dup_rescued": 1,
        "healed_bands": 1, "url_skipped": 1, "healed_urls": 0,
    }
    assert list(rep)[4:] == [
        "near_dup_blocked", "near_dup_rescued", "healed_bands",
        "url_skipped", "healed_urls",
    ]


def test_an_id_is_admitted_once_per_batch(spark, tmp_path):
    """Two rows of one id that both pass admit one doc; of an id's
    passing rows with different texts, the smallest fingerprint
    wins."""
    import hashlib

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    root = str(tmp_path / "lake")
    twice = [(1, "same words here"), (1, "same words here"),
             (2, "other text entirely")]
    rep = incremental_ingest(
        spark, spark.createDataFrame(twice, "doc_id long, text string"), root
    )
    assert (rep["arrived"], rep["admitted"], rep["total_docs"]) == (3, 2, 2)
    for layer in ("docs", "fingerprints"):
        assert spark.read.parquet(f"{root}/{layer}").count() == 2
    texts = ["alpha words", "beta words"]
    rows = [(3, t) for t in texts]
    rep = incremental_ingest(
        spark, spark.createDataFrame(rows, "doc_id long, text string"), root
    )
    assert (rep["arrived"], rep["admitted"]) == (2, 1)
    kept = min(texts, key=lambda t: hashlib.md5(t.encode()).hexdigest())
    assert [r["text"] for r in spark.read.parquet(f"{root}/docs")
            .filter("doc_id = 3").collect()] == [kept]


def test_keeper_losers_bill_before_the_fingerprint_guard(spark, tmp_path):
    """A url-window loser whose content the lake already holds counts
    under url_skipped: the within-batch keepers bill before the
    fingerprint guard."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    _, _, prose = _writer(7)
    a_text, b_text = prose(), prose()
    root = str(tmp_path / "lake")
    schema = "doc_id long, text string, url string"

    def ingest(rows):
        return incremental_ingest(
            spark, spark.createDataFrame(rows, schema), root,
            url_guard=True, near_dup=True,
        )

    ingest([(1, a_text, "https://a.ex/1")])
    rep = ingest([
        (4, b_text, "https://b.ex/4"),
        (5, a_text, "https://b.ex/4"),  # loses the url AND was seen
    ])
    assert (rep["admitted"], rep["url_skipped"], rep["near_dup_blocked"]) == (
        1, 1, 0
    )
