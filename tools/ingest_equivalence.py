"""Equivalence battery for ``incremental_ingest`` and ``maintain_lake``.

    python tools/ingest_equivalence.py [scenario ...] > out.jsonl

Run it from the repository root (it imports the package next to
``tools/``). It replays a fixed list of small lake scenarios in one
``local[4]`` session and prints one JSON line per ``incremental_ingest``
or ``maintain_lake`` call: the returned report as ordered ``[key,
value]`` pairs, the row count of every layer under the lake root (and of
the catalog sidecars in catalog mode), the ``_lake_mode`` string and the
``_lake_stats`` marker JSON. Inputs are built from a fixed seed, so two
checkouts of the engine are compared by running the tool from each and
``diff``-ing the outputs; any difference in a report (key order
included), a layer's row count or a marker shows.

With scenario names as arguments, only those run (see ``SCENARIOS``).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import zlib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from projet_big_data_boutin_danre_spark import corpus_pipeline as cp  # noqa: E402
from projet_big_data_boutin_danre_spark.session import get_spark  # noqa: E402

STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
TEXT_SCHEMA = "doc_id long, text string"
URL_SCHEMA = "doc_id long, text string, url string"
MEDIA_SCHEMA = (
    "doc_id long, text string, payload binary, kind string, duration_ms long"
)


class Corpus:
    """Deterministic documents: prose (passes the Gopher gate), spam
    (no stop words, one repeated trigram) and one-word perturbations."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.vocab = [
            "".join(self.rng.choice("abcdefghijklmnoprstuvw")
                    for _ in range(self.rng.randint(4, 8)))
            for _ in range(400)
        ]

    def prose(self, n: int = 70) -> str:
        return " ".join(
            self.rng.choice(STOPS) if i % 6 == 0 else self.rng.choice(self.vocab)
            for i in range(n)
        )

    def spam(self) -> str:
        a, b, c = self.rng.sample(self.vocab, 3)
        return " ".join([a, b, c] * 20)

    def near(self, text: str) -> str:
        w = text.split()
        w[self.rng.randrange(len(w))] = "dup"
        return " ".join(w)

    def bytes_(self, n: int) -> bytes:
        return bytes(self.rng.randrange(256) for _ in range(n))


def layer_rows(spark, root: str, catalog_prefix: str | None) -> dict:
    rows = {}
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if name.startswith(("_", ".")) or not os.path.isdir(path):
            continue
        rows[name] = spark.read.parquet(path).count()
    if catalog_prefix is not None:
        for side in ("fingerprints", "ids"):
            table = f"{catalog_prefix}_{side}"
            if spark.catalog.tableExists(table):
                rows[f"table:{table}"] = spark.table(table).count()
    return rows


def markers(spark, root: str) -> tuple[str | None, object]:
    mode = None
    if os.path.isdir(os.path.join(root, "_lake_mode")):
        mode = spark.read.parquet(os.path.join(root, "_lake_mode")).first()["mode"]
    stats = None
    stats_file = os.path.join(root, "_lake_stats", "stats.json")
    if os.path.exists(stats_file):
        with open(stats_file) as fh:
            stats = json.load(fh)
    return mode, stats


class Lake:
    """One scenario's lake; every call prints its canonical line."""

    def __init__(self, spark, tmp: str, scenario: str, **knobs) -> None:
        self.spark = spark
        self.scenario = scenario
        self.root = os.path.join(tmp, scenario)
        self.knobs = knobs
        self.step = 0

    def _emit(self, call: str, report: dict) -> None:
        self.step += 1
        prefix = self.knobs.get("catalog_prefix")
        mode, stats = markers(self.spark, self.root)
        print(json.dumps({
            "scenario": self.scenario,
            "step": self.step,
            "call": call,
            "report": [[k, v] for k, v in report.items()],
            "layers": layer_rows(self.spark, self.root, prefix),
            "mode": mode,
            "stats": stats,
        }), flush=True)

    def ingest(self, rows: list, schema: str = TEXT_SCHEMA) -> None:
        df = self.spark.createDataFrame(rows, schema)
        rep = cp.incremental_ingest(self.spark, df, self.root, **self.knobs)
        self._emit("incremental_ingest", rep)

    def maintain(self, **kw) -> None:
        rep = cp.maintain_lake(self.spark, self.root, **kw)
        self._emit("maintain_lake", rep)

    def tear(self, *layers: str) -> None:
        for layer in layers:
            shutil.rmtree(os.path.join(self.root, layer))


def text_batches(c: Corpus, n_batches: int = 3, size: int = 12) -> list:
    """Fresh prose per batch; later batches also carry exact replays
    (new id, old text) and one-word near copies of earlier docs."""
    batches, seen, next_id = [], [], 1
    for b in range(n_batches):
        rows = []
        for _ in range(size):
            rows.append((next_id, c.prose()))
            next_id += 1
        if b:
            for _, t in c.rng.sample(seen, 3):
                rows.append((next_id, t))
                next_id += 1
            for _, t in c.rng.sample(seen, 3):
                rows.append((next_id, c.near(t)))
                next_id += 1
        seen += rows[:size]
        batches.append(rows)
    return batches


def with_urls(rows: list) -> list:
    # the url follows the text's first and last words, so replays and
    # most near copies collide on it; every fifth doc lives on the
    # blocked domain
    def url(i: int, t: str) -> str:
        w = t.split()
        host = "blocked.ex" if i % 5 == 0 else f"s{len(w[0]) % 4}.ex"
        key = zlib.crc32(" ".join(w[:3] + w[-3:]).encode()) % 10_000
        return f"https://{host}/p/{key}"

    return [(i, t, url(i, t)) for i, t in rows]


def s_plain(spark, tmp, c):
    lake = Lake(spark, tmp, "plain", line_census=True)
    bs = text_batches(c)
    for b in bs:
        lake.ingest(b)
    lake.ingest(bs[1])  # replay


def s_catalog(spark, tmp, c):
    lake = Lake(spark, tmp, "catalog", catalog_prefix="eqv_cat")
    bs = text_batches(c)
    try:
        for b in bs:
            lake.ingest(b)
        lake.ingest(bs[0])
    finally:
        for side in ("fingerprints", "ids"):
            spark.sql(f"DROP TABLE IF EXISTS eqv_cat_{side}")


def s_near_dup(spark, tmp, c):
    lake = Lake(spark, tmp, "near_dup", near_dup=True)
    bs = text_batches(c, 4)
    for b in bs:
        lake.ingest(b)
    lake.ingest(bs[2])


def s_near_dup_verify(spark, tmp, c):
    lake = Lake(spark, tmp, "near_dup_verify", near_dup=True,
                near_dup_verify=0.5, lsh_max_bucket=50)
    for b in text_batches(c, 4):
        lake.ingest(b)


def s_bloom(spark, tmp, c):
    lake = Lake(spark, tmp, "bloom", bloom_guard=True, bloom_max_fill=0.01)
    bs = text_batches(c)
    for b in bs:
        lake.ingest(b)
    lake.ingest(bs[0])


def s_url(spark, tmp, c):
    lake = Lake(spark, tmp, "url", url_guard=True, url_bloom=True,
                url_blocklist=("blocked.ex",), near_dup=True)
    bs = [with_urls(b) for b in text_batches(c)]
    for b in bs:
        lake.ingest(b, URL_SCHEMA)
    lake.ingest(bs[1], URL_SCHEMA)


def s_gates(spark, tmp, c):
    prompt = "name the seven wonders of the ancient world in their order"
    probes = spark.createDataFrame([(900, prompt)], TEXT_SCHEMA)
    lake = Lake(spark, tmp, "gates", decontaminate_probes=probes,
                gopher_gate=True, max_top_ngram_frac={3: 0.18},
                max_dup_ngram_frac={3: 0.5}, url_blocklist=("blocked.ex",),
                near_dup=True)
    p = [c.prose() for _ in range(8)]
    b1 = [
        (1, p[0], "https://ok.ex/1"),
        (2, c.spam(), "https://ok.ex/2"),                 # quality
        (3, f"{p[1]} {prompt}", "https://ok.ex/3"),       # contaminated
        (4, f"{c.spam()} {prompt}", "https://ok.ex/4"),   # both
        (5, p[2], "https://blocked.ex/5"),                # blocked
        (6, c.spam(), "https://blocked.ex/6"),            # quality + blocked
        (7, p[3], None),
        (8, p[3], "https://ok.ex/8"),                     # exact dup of 7
    ]
    lake.ingest(b1, URL_SCHEMA)
    b2 = [  # one id twice with different text, plus gate mixes
        (20, p[4], "https://ok.ex/20"),
        (20, c.spam(), "https://ok.ex/20b"),
        (21, c.spam(), "https://ok.ex/21"),
        (21, c.spam(), "https://ok.ex/21b"),
        (22, p[5], "https://blocked.ex/22"),
        (22, p[6], "https://ok.ex/22"),
        (23, f"{p[7]} {prompt}", "https://ok.ex/23"),
        (23, p[7], "https://ok.ex/23b"),
        (24, c.near(p[0]), "https://ok.ex/24"),
    ]
    lake.ingest(b2, URL_SCHEMA)
    lake.ingest(b1, URL_SCHEMA)


def media_rows(c: Corpus):
    vid, aud, img = c.bytes_(1000), c.bytes_(600), c.bytes_(600)
    b1 = [
        (1, "video alpha", vid, "video", 5000),
        (2, "audio alpha", aud, "audio", None),
        (3, "image alpha", img, "image", None),
        (4, "image beta", img[:50] + b"~" + img[51:], "image", None),
        (5, "video nodur", c.bytes_(900), "video", None),
        (6, "plain text", None, None, None),
    ]
    b2 = [
        (10, "video omega", vid[:100] + b"~" + vid[101:], "video", 5000),
        (11, "audio omega", aud[64:], "audio", None),
        (12, "image omega", img, "image", None),
        (13, "fresh image", c.bytes_(600), "image", None),
        (14, "fresh video", c.bytes_(1000), "video", 3000),
    ]
    return b1, b2


def s_media(spark, tmp, c):
    b1, b2 = media_rows(c)
    lake = Lake(spark, tmp, "media", media_guard=True)
    lake.ingest(b1, MEDIA_SCHEMA)
    lake.ingest(b2, MEDIA_SCHEMA)
    lake.ingest(b1, MEDIA_SCHEMA)
    legacy = Lake(spark, tmp, "media_legacy", media_guard=True)
    schema = "doc_id long, text string, payload binary"
    legacy.ingest([r[:3] for r in b1], schema)
    legacy.ingest([r[:3] for r in b2], schema)


def s_heal(spark, tmp, c):
    bs = text_batches(c)
    fp = Lake(spark, tmp, "heal_fingerprints")
    fp.ingest(bs[0])
    fp.tear("fingerprints")
    fp.ingest(bs[0])
    nd = Lake(spark, tmp, "heal_bands", near_dup=True, near_dup_verify=0.5)
    nd.ingest(bs[0])
    nd.ingest(bs[1])
    nd.tear("band_buckets")
    # replay mixing prior ids with one near copy of a prior doc
    nd.ingest(bs[1] + [(500, c.near(bs[0][0][1]))])
    ub = [with_urls(b) for b in bs]
    url = Lake(spark, tmp, "heal_urls", url_guard=True)
    url.ingest(ub[0], URL_SCHEMA)
    url.tear("url_keys")
    url.ingest(ub[0], URL_SCHEMA)
    b1, _ = media_rows(c)
    media = Lake(spark, tmp, "heal_media", media_guard=True)
    media.ingest(b1, MEDIA_SCHEMA)
    media.tear("media_vframes", "media_awins", "media_bands")
    media.ingest(b1, MEDIA_SCHEMA)
    idx = Lake(spark, tmp, "heal_text_index", near_dup=True,
               near_dup_verify=0.5)
    idx.ingest(bs[0])
    cp.build_text_index(spark, idx.root, buckets=4)
    idx.ingest(bs[1])
    idx.tear("text_index_b4_tail")
    idx.ingest(bs[1])
    idx.ingest(bs[2])


def s_compaction(spark, tmp, c):
    lake = Lake(spark, tmp, "compaction", near_dup=True,
                compact_above_files=2)
    bs = text_batches(c, 4)
    for b in bs[:3]:
        lake.ingest(b)
    lake.maintain(compact_above_files=2)
    lake.ingest(bs[3])
    lake.maintain(compact_above_files=2, trust_marker=True)


def s_index_maintenance(spark, tmp, c):
    # one small bucket count and one with mostly empty buckets; every
    # maintain_lake call runs a cheap tail fold, then a per-bucket
    # reclaim (index threshold 4, one file allowed per bucket) with
    # the id-sidecar compaction it carries; the second is a
    # trust_marker pass
    bs = text_batches(c, 4)
    for buckets in (4, 48):
        lake = Lake(spark, tmp, f"index_maintenance_b{buckets}",
                    near_dup=True, near_dup_verify=0.5)
        lake.ingest(bs[0])
        lake.ingest(bs[1])
        cp.build_text_index(spark, lake.root, buckets=buckets)
        lake.ingest(bs[2])
        lake.maintain(compact_above_files=1, index_compact_above_files=4)
        lake.ingest(bs[3])
        lake.maintain(compact_above_files=1, index_compact_above_files=4,
                      trust_marker=True)


SCENARIOS = {
    "plain": s_plain,
    "catalog": s_catalog,
    "near_dup": s_near_dup,
    "near_dup_verify": s_near_dup_verify,
    "bloom": s_bloom,
    "url": s_url,
    "gates": s_gates,
    "media": s_media,
    "heal": s_heal,
    "compaction": s_compaction,
    "index_maintenance": s_index_maintenance,
}


def main(argv: list[str]) -> None:
    names = argv or list(SCENARIOS)
    unknown = sorted(set(names) - set(SCENARIOS))
    if unknown:
        sys.exit(f"unknown scenario(s): {', '.join(unknown)}")
    tmp = tempfile.mkdtemp(prefix="ingest_equivalence_")
    try:
        spark = get_spark(
            "ingest_equivalence", master="local[4]", shuffle_partitions=4,
            extra_conf={"spark.sql.warehouse.dir": os.path.join(tmp, "wh")},
        )
        spark.sparkContext.setLogLevel("ERROR")
        for name in names:
            # one seed per scenario, so a subset replays the same inputs
            SCENARIOS[name](spark, tmp, Corpus(sum(map(ord, name))))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
