"""Seeded input generator for the perfbench workloads.

Everything the engine reads during a benchmark run comes from here, as a
pure function of ``seed``:

- ``write_tables``: the ten TPC-H-ish tables the ``queries()`` slots read
  (``region`` .. ``embeddings``), as one Parquet file each, shaped like
  the engine's reference test data (same columns, types and value
  domains; ``scale`` = 0.1 gives 600k ``lineitem`` rows).
- ``write_dag_inputs``: the raw layer of the paper's DAG — one DVF
  ``csv.gz`` plus ``LBC_FILES`` LBC JSON-array files in which
  ``LBC_DUP_SHARE`` of the ads re-use an id from an earlier file (the
  keep-last dedup has real work) — and the per-index document counts a
  correct run must produce, derived here in plain Python.
- ``ingest_plan``: the batch plan of the incremental-ingest stream — each
  batch carries fresh documents plus ``REPLAY_SHARE`` exact replays
  (identical text under a new id) and ``NEAR_SHARE`` near copies (one
  word replaced) of documents admitted in earlier batches.

Same seed, same bytes: numpy's PCG64 stream is seeded per artefact, the
gzip header carries no timestamp and JSON is written with sorted keys.
"""

from __future__ import annotations

import csv
import gzip
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")

# dag_daily raw layer
LBC_FILES = 4
LBC_DUP_SHARE = 0.2  # share of ads whose id already appeared in an earlier file
DVF_TYPES = ("Appartement", "Maison", "Dépendance",
             "Local industriel. commercial ou assimilé", "")

# ingest_stream batch plan
REPLAY_SHARE = 0.1  # exact replays of admitted docs, per batch
NEAR_SHARE = 0.1    # one-word-perturbed copies of admitted docs, per batch


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per artefact: adding a table never shifts
    # the bytes of another
    key = sum(ord(c) * 131 ** i for i, c in enumerate(stream)) % (1 << 32)
    return np.random.default_rng([int(seed), key])


def _ts_us(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype("int64")
    return pa.array(base + offsets_us.astype("int64"), pa.timestamp("us"))


def _write(path: str, cols: dict) -> int:
    tbl = pa.table(cols)
    pq.write_table(tbl, path)
    return tbl.num_rows


def _words(rng: np.random.Generator, n_docs: int) -> list[str]:
    lens = rng.integers(10, 101, n_docs)
    idx = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for n in lens:
        out.append(" ".join(VOCAB[i] for i in idx[at:at + n]))
        at += n
    return out


def make_documents(
    seed: int, n: int, id_base: int = 0, plant: bool = True
) -> list[dict]:
    """``n`` synthetic documents. With ``plant``, ~5% are near copies of
    an earlier doc (an extra ``dup`` token) and ~0.2% exact copies, so
    the corpus slots' dedup operators find real clusters."""
    rng = _rng(seed, f"documents{id_base}")
    texts = _words(rng, n)
    for i in range(1, n if plant else 0):
        u = rng.random()
        if u < 0.002:
            texts[i] = texts[int(rng.integers(0, i))]
        elif u < 0.05:
            w = texts[int(rng.integers(0, i))].split()
            w.insert(int(rng.integers(0, len(w) + 1)), "dup")
            texts[i] = " ".join(w)
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    return [
        {
            "doc_id": id_base + i,
            "text": t,
            "lang": LANGS[langs[i]],
            "source": f"src{i % 20}",
            "n_chars": len(t),
        }
        for i, t in enumerate(texts)
    ]


def _docs_table(docs: list[dict]) -> dict:
    return {
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "text": pa.array([d["text"] for d in docs], pa.string()),
        "lang": pa.array([d["lang"] for d in docs], pa.string()),
        "source": pa.array([d["source"] for d in docs], pa.string()),
        "n_chars": pa.array([d["n_chars"] for d in docs], pa.int64()),
    }


def write_tables(seed: int, out_dir: str, scale: float = 0.1) -> dict[str, int]:
    """Write the ten query tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_docs = int(50_000 * scale)
    n_emb = int(20_000 * scale)
    rows: dict[str, int] = {}

    rows["region"] = _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    rows["nation"] = _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, "customer")
    rows["customer"] = _write(p("customer"), {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[r.integers(0, 5, n_cust)],
    })

    r = _rng(seed, "supplier")
    rows["supplier"] = _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })

    r = _rng(seed, "part")
    adj = ["red", "new", "hot", "small", "large", "old", "blue", "cheap"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
    rows["part"] = _write(p("part"), {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{adj[a]} {noun[b]}"
            for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
        )[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + r.integers(0, 1000, n_part) / 10.0, 1),
    })

    r = _rng(seed, "orders")
    day_us = 86_400_000_000
    o_days = r.integers(0, 2404, n_ord)
    rows["orders"] = _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts_us("1995-01-01", o_days * day_us),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[r.integers(0, 5, n_ord)],
    })

    r = _rng(seed, "lineitem")
    per = r.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord), per)
    n_li = len(okeys)
    starts = np.cumsum(per) - per
    lnum = np.arange(n_li) - np.repeat(starts, per) + 1
    rows["lineitem"] = _write(p("lineitem"), {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(r.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(
            "1995-01-01",
            (np.repeat(o_days, per) + r.integers(1, 122, n_li)) * day_us,
        ),
    })

    r = _rng(seed, "events")
    ts = np.sort(r.integers(0, 30 * day_us, n_ev))
    rows["events"] = _write(p("events"), {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts_us("2024-01-01", ts),
        "user_id": pa.array(r.integers(0, 1500, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    rows["documents"] = _write(
        p("documents"), _docs_table(make_documents(seed, n_docs))
    )

    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] * 0.5 + r.normal(0.0, 1.0, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    rows["embeddings"] = _write(p("embeddings"), {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return rows


DVF_HEADER = [
    "id_mutation", "date_mutation", "nature_mutation", "valeur_fonciere",
    "code_commune", "nom_commune", "code_postal", "type_local",
    "surface_reelle_bati", "nombre_pieces_principales", "latitude",
    "longitude",
]


def write_dag_inputs(
    seed: int, root: str, run_day: str, n_dvf: int = 20_000, n_ads: int = 4_000
) -> dict:
    """Write the DAG's raw layer under ``root`` and return
    ``{"input_rows", "input_bytes", "expected": {index: count}}``."""
    r = _rng(seed, "dvf")
    gov = os.path.join(root, "raw", "gov")
    os.makedirs(gov, exist_ok=True)
    communes = [f"751{i:02d}" for i in range(1, 21)] + [
        f"{c:05d}" for c in r.choice(np.arange(1001, 95999), 180, replace=False)
    ]
    code = r.integers(0, len(communes), n_dvf)
    value = np.round(np.exp(r.uniform(np.log(500), np.log(6e7), n_dvf)), 2)
    value_null = r.random(n_dvf) < 0.05
    surface = np.round(r.uniform(5, 12_000, n_dvf) ** 0.8, 1)
    surf_null = r.random(n_dvf) < 0.05
    geo_null = r.random(n_dvf) < 0.1
    typ = r.integers(0, len(DVF_TYPES), n_dvf)
    bad_date = r.random(n_dvf) < 0.01
    days = r.integers(0, 365, n_dvf)
    lat = np.round(r.uniform(41.0, 51.0, n_dvf), 5)
    lon = np.round(r.uniform(-5.0, 10.0, n_dvf), 5)
    rooms = r.integers(0, 9, n_dvf)

    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(DVF_HEADER)
    exp = {"gov-dvf": 0, "gov-dvf-paris": 0}
    market: set[str] = set()
    base = np.datetime64("2025-01-01")
    for i in range(n_dvf):
        c = communes[code[i]]
        v = None if value_null[i] else float(value[i])
        s = None if surf_null[i] else float(surface[i])
        t = DVF_TYPES[typ[i]]
        w.writerow([
            f"2025-{i:06d}",
            "not-a-date" if bad_date[i] else f"{base + days[i]} 12:00:00",
            "Vente",
            "" if v is None else repr(v),
            c, f"Commune {c}", c, t,
            "" if s is None else repr(s),
            int(rooms[i]),
            "" if geo_null[i] else repr(float(lat[i])),
            "" if geo_null[i] else repr(float(lon[i])),
        ])
        # usage.filter_valid_sales: prefix 75, strict > bounds
        if c.startswith("75") and v is not None and s is not None \
                and s > 9.0 and v > 1000.0:
            market.add(c)
        # documents.quality_filter: inclusive ranges, geo present
        if t in ("Appartement", "Maison") and v is not None \
                and s is not None and 5000.0 <= v <= 5e7 \
                and 9.0 <= s <= 10_000.0 and not geo_null[i]:
            exp["gov-dvf"] += 1
            exp["gov-dvf-paris"] += c.startswith("75")
    data = buf.getvalue().encode("utf-8")
    dvf_path = os.path.join(gov, "dvf_full.csv.gz")
    with open(dvf_path, "wb") as f:
        f.write(gzip.compress(data, mtime=0))
    exp["usage-market-stats"] = len(market)

    r = _rng(seed, "lbc")
    lbc = os.path.join(root, "raw", "leboncoin", "annonces", run_day)
    os.makedirs(lbc, exist_ok=True)
    per_file = n_ads // LBC_FILES
    ids: set[int] = set()
    next_id = 1
    for fi in range(LBC_FILES):
        ads = []
        for j in range(per_file):
            if fi and r.random() < LBC_DUP_SHARE:
                ad_id = int(r.choice(sorted(ids)))  # re-scrape of an earlier ad
            else:
                ad_id, next_id = next_id, next_id + 1
            ids.add(ad_id)
            zc = f"750{int(r.integers(1, 21)):02d}"
            ads.append({
                "list_id": ad_id,
                "subject": " ".join(
                    VOCAB[k] for k in r.integers(0, len(VOCAB), 4)
                ),
                "price_cents": [int(r.integers(1_000_000, 200_000_000))],
                "date": f"{run_day[:4]}-{run_day[4:6]}-{run_day[6:]} "
                        f"{fi + 8:02d}:{j % 60:02d}:00",
                "location": "N/A" if r.random() < 0.05 else {
                    "city": "Paris", "zipcode": zc,
                    "lat": float(np.round(r.uniform(48.8, 48.9), 5)),
                    "lng": float(np.round(r.uniform(2.25, 2.42), 5)),
                },
                "attributes": [{"key": "seg", "value": "pro"}]
                if j % 7 == 0 else [],
            })
        with open(os.path.join(lbc, f"annonces_{fi + 8:02d}0000.json"), "w") as f:
            json.dump(ads, f, sort_keys=True)
    exp["lbc-annonces"] = len(ids)
    exp["usage-opportunities"] = len(ids)
    return {
        "input_rows": n_dvf + per_file * LBC_FILES,
        "input_bytes": dir_bytes(os.path.join(root, "raw")),
        "expected": exp,
    }


def ingest_plan(
    seed: int, n_batches: int, batch_docs: int, id_base: int = 10_000_000
) -> list[dict]:
    """Batch plan of the ingest stream. Each batch is
    ``{"docs": [...], "replays": [(id, source_id)], "near_ids": [...]}``.
    Replays and near copies copy FRESH documents of earlier batches; a
    correct guard blocks every replay whose source was admitted."""
    r = _rng(seed, "ingest")
    pool = make_documents(seed, n_batches * batch_docs, id_base, plant=False)
    n_replay = int(batch_docs * REPLAY_SHARE)
    n_near = int(batch_docs * NEAR_SHARE)
    plan, fresh_seen, at = [], [], 0
    next_id = id_base + len(pool)
    for b in range(n_batches):
        k_fresh = batch_docs if b == 0 else batch_docs - n_replay - n_near
        fresh = pool[at:at + k_fresh]
        at += k_fresh
        docs, replays, near_ids = list(fresh), [], []
        if b:
            for src in r.choice(len(fresh_seen), n_replay, replace=False):
                d = dict(fresh_seen[src], doc_id=next_id)
                replays.append((next_id, fresh_seen[src]["doc_id"]))
                next_id += 1
                docs.append(d)
            for src in r.choice(len(fresh_seen), n_near, replace=False):
                w = fresh_seen[src]["text"].split()
                w[int(r.integers(0, len(w)))] = "dup"
                t = " ".join(w)
                docs.append(dict(fresh_seen[src], doc_id=next_id, text=t,
                                 n_chars=len(t)))
                near_ids.append(next_id)
                next_id += 1
        fresh_seen.extend(fresh)
        plan.append({"docs": docs, "replays": replays, "near_ids": near_ids})
    return plan


def write_batch(batch: dict, path: str) -> int:
    """One ingest batch as a Parquet file; returns its size in bytes."""
    pq.write_table(pa.table(_docs_table(batch["docs"])), path)
    return os.path.getsize(path)


def dir_bytes(root: str) -> int:
    total = 0
    for dp, _dirs, files in os.walk(root):
        for fn in files:
            total += os.path.getsize(os.path.join(dp, fn))
    return total


def file_sizes(root: str) -> dict[str, int]:
    """``{path: size}`` of every file under ``root`` (empty if absent)."""
    out = {}
    for dp, _dirs, files in os.walk(root):
        for fn in files:
            path = os.path.join(dp, fn)
            out[path] = os.path.getsize(path)
    return out


def new_bytes(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(bytes, files) of the files in ``after`` that are new or changed
    since ``before``: what a writer put on disk in between."""
    new = [s for p, s in after.items() if before.get(p) != s]
    return sum(new), len(new)
