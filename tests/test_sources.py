"""Reader/sink tests (SURVEY.md §2.1 S2/S3/K1/K2 + ST4): pinned-schema
scans round-trip the reference's raw formats, and the partitioned
Parquet sink only replaces touched partitions (dynamic overwrite — the
idempotent-re-run behavior the reference gets from exists-checks)."""

from __future__ import annotations

import gzip
import json
import shutil
from collections import Counter

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import functions as F

from projet_big_data_boutin_danre_spark.sources import readers
from projet_big_data_boutin_danre_spark.sources.readers import (
    load_table,
    read_csv_gz,
    read_json_ads,
    read_parquet_lake,
)
from projet_big_data_boutin_danre_spark.sources.sinks import (
    write_json,
    write_parquet,
)


def _copy_tables(sf_dir, tmp_path, *names):
    """Writable copies of testdata tables (the originals are read-only)."""
    for n in names:
        shutil.copy(f"{sf_dir}/{n}.parquet", tmp_path / f"{n}.parquet")
    return str(tmp_path)


def _jobs_launched(spark, fn):
    """(fn's result, Spark jobs submitted while it ran)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    out = fn()
    return out, dag.nextJobId() - before


def test_load_table_second_open_launches_no_job(spark, sf0001, tmp_path):
    sf = _copy_tables(sf0001, tmp_path, "customer")
    plain = spark.read.parquet(f"{sf}/customer.parquet")
    _, first_jobs = _jobs_launched(
        spark, lambda: load_table(spark, sf, "customer")
    )
    df, jobs = _jobs_launched(spark, lambda: load_table(spark, sf, "customer"))
    assert first_jobs >= 1  # the inference job the memo saves
    assert jobs == 0
    assert df.schema == plain.schema  # nullability included
    assert sorted(df.collect()) == sorted(plain.collect())


def test_load_table_sees_a_replaced_file(spark, sf0001, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = _copy_tables(sf0001, tmp_path, "region")
    before = load_table(spark, sf, "region")
    path = f"{sf}/region.parquet"
    t = pq.read_table(path)
    pq.write_table(
        t.append_column("r_code", pa.array(range(t.num_rows), pa.int64())),
        path,
    )
    after = load_table(spark, sf, "region")
    assert after.columns == [*before.columns, "r_code"]
    assert sorted(r["r_code"] for r in after.collect()) == list(
        range(t.num_rows)
    )


def test_schema_memo_keys_on_inference_confs(spark, sf0001, tmp_path):
    # load_table casts TIMESTAMP_NTZ away afterwards, so look at the
    # helper's own output
    path = f"{_copy_tables(sf0001, tmp_path, 'orders')}/orders.parquet"
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        ntz = readers._read_parquet(spark, path)
        spark.conf.set(key, "false")
        ltz, jobs = _jobs_launched(
            spark, lambda: readers._read_parquet(spark, path)
        )
    finally:
        spark.conf.set(key, old)
    assert dict(ntz.dtypes)["o_orderdate"] == "timestamp_ntz"
    assert dict(ltz.dtypes)["o_orderdate"] == "timestamp"
    assert jobs >= 1  # inferred again, not served from the memo


def test_load_table_twice_self_joins(spark, sf0001, tmp_path):
    sf = _copy_tables(sf0001, tmp_path, "customer")
    a = load_table(spark, sf, "customer")
    b = load_table(spark, sf, "customer")
    # customers whose key equals another customer's nation key: with one
    # shared relation both sides would resolve to the same attributes
    joined = a.join(b, a["c_custkey"] == b["c_nationkey"]).count()
    rows = a.collect()
    per_nation = Counter(r["c_nationkey"] for r in rows)
    assert joined == sum(per_nation[r["c_custkey"]] for r in rows) > 0


def test_ship_package_failure_warns(spark, sf0001, monkeypatch):
    load_table(spark, sf0001, "region")  # the real package ships first
    sc = spark.sparkContext

    def refuse(path):
        raise Py4JError("addPyFile refused")

    monkeypatch.setattr(sc, "addPyFile", refuse)
    # undone (flag restored) by monkeypatch after the test
    monkeypatch.delattr(sc, "_pbd_pkg_shipped")
    with pytest.warns(RuntimeWarning, match="Py4JError"):
        df = load_table(spark, sf0001, "region")
    assert df.count() > 0


def test_read_csv_gz_pinned_schema(spark, tmp_path):
    p = tmp_path / "dvf.csv.gz"
    with gzip.open(p, "wt") as f:
        f.write("code_commune,valeur\n01001,1000.5\n75101,2e6\n")
    df = read_csv_gz(
        spark, str(p), schema="code_commune string, valeur double"
    )
    rows = {r["code_commune"]: r["valeur"] for r in df.collect()}
    # the whole point of pinning: INSEE leading zeros survive
    assert rows == {"01001": 1000.5, "75101": 2e6}


def test_read_json_ads_multifile_array(spark, tmp_path):
    for i, batch in enumerate(([{"id": 1, "t": "a"}], [{"id": 2, "t": "b"}])):
        (tmp_path / f"ads_{i}.json").write_text(json.dumps(batch, indent=4))
    df = read_json_ads(
        spark, str(tmp_path / "*.json"), schema="id long, t string"
    )
    assert {(r["id"], r["t"]) for r in df.collect()} == {(1, "a"), (2, "b")}


def test_write_parquet_dynamic_partition_overwrite(spark, tmp_path):
    out = str(tmp_path / "lake")
    day1 = spark.createDataFrame([(1, "d1"), (2, "d1")], "id long, ds string")
    day2 = spark.createDataFrame([(3, "d2")], "id long, ds string")
    write_parquet(day1, out, partition_by=("ds",))
    write_parquet(day2, out, partition_by=("ds",))
    # static overwrite would have dropped d1; dynamic keeps it
    back = read_parquet_lake(spark, out)
    assert {(r["id"], r["ds"]) for r in back.collect()} == {
        (1, "d1"), (2, "d1"), (3, "d2"),
    }
    # idempotent re-run of day2 replaces, not duplicates (ST4)
    write_parquet(day2, out, partition_by=("ds",))
    assert read_parquet_lake(spark, out).count() == 3


def test_write_json_roundtrip(spark, tmp_path):
    out = str(tmp_path / "raw_json")
    df = spark.createDataFrame([(1, "x")], "id long, t string")
    write_json(df, out)
    back = spark.read.schema("id long, t string").json(out)
    assert back.collect()[0].asDict() == {"id": 1, "t": "x"}


def test_orc_roundtrip_and_partitioned(spark, tmp_path):
    """ORC source/sink: same contract as the Parquet pair, including
    dynamic partition overwrite."""
    from projet_big_data_boutin_danre_spark.sources.readers import read_orc
    from projet_big_data_boutin_danre_spark.sources.sinks import write_orc

    out = str(tmp_path / "orc_lake")
    day1 = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1")], "id int, v string, ds string"
    )
    day2 = spark.createDataFrame([(3, "c", "d2")], "id int, v string, ds string")
    write_orc(day1, out, partition_by=("ds",))
    write_orc(day2, out, partition_by=("ds",))
    assert read_orc(spark, out).count() == 3
    # dynamic overwrite: rewriting d2 must not touch d1
    write_orc(
        spark.createDataFrame([(4, "d", "d2")], "id int, v string, ds string"),
        out,
        partition_by=("ds",),
    )
    rows = {(r["id"], r["ds"]) for r in read_orc(spark, out).collect()}
    assert rows == {(1, "d1"), (2, "d1"), (4, "d2")}


def test_compact_layer_merges_small_files(spark, tmp_path):
    """Compaction rewrites a many-small-files layer into few files with
    identical rows (the per-run-append maintenance job)."""
    from projet_big_data_boutin_danre_spark.sources.sinks import (
        compact_layer,
        write_parquet,
    )

    out = str(tmp_path / "fragmented")
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    # simulate many tiny per-run files
    df.repartition(32).write.parquet(out)
    n_before = len(spark.read.parquet(out).inputFiles())
    assert n_before >= 32

    n_target = compact_layer(spark, out, target_file_bytes=10**9)
    assert n_target == 1
    compacted = spark.read.parquet(out)
    assert len(compacted.inputFiles()) == 1
    assert compacted.count() == 10_000
    assert compacted.agg(F.sum("v")).collect()[0][0] == 2 * sum(range(10_000))


def test_write_parquet_sort_within_clusters_rows(spark, tmp_path):
    """sort_within_by clusters each output file by the column, so
    row-group min/max stats are selective for pushed filters."""
    import pyarrow.parquet as pq

    from projet_big_data_boutin_danre_spark.sources.sinks import write_parquet

    out = tmp_path / "clustered"
    df = spark.range(50_000).withColumn(
        "k", (F.col("id") * 2654435761 % 100_000).cast("long")
    )
    write_parquet(df.repartition(2), str(out), sort_within_by=("k",))
    # every parquet file is internally sorted by k
    for f in out.glob("*.parquet"):
        ks = pq.read_table(str(f), columns=["k"])["k"].to_pylist()
        assert ks == sorted(ks)


def test_compact_layer_preserves_partitioning(spark, tmp_path):
    from projet_big_data_boutin_danre_spark.sources.sinks import (
        compact_layer,
        write_parquet,
    )

    out = str(tmp_path / "part_frag")
    df = spark.range(2_000).withColumn(
        "ds", F.when(F.col("id") % 2 == 0, "d1").otherwise("d2")
    )
    write_parquet(df.repartition(16), out, partition_by=("ds",))
    compact_layer(spark, out, target_file_bytes=10**9, partition_by=("ds",))
    back = spark.read.parquet(out)
    assert back.count() == 2_000
    # partition columns survive and prune
    assert back.filter(F.col("ds") == "d1").count() == 1_000
    assert "ds" in dict(back.dtypes)


def test_read_media_dir_binary_files(spark, tmp_path):
    """binaryFile multimodal ingestion: payload bytes land intact,
    kind/mime derive from extension, unknown extensions stay NULL."""
    import os

    media = tmp_path / "media"
    (media / "sub").mkdir(parents=True)
    payloads = {
        "a.jpg": b"\xff\xd8\xff fakejpeg",
        "b.wav": b"RIFF fakewav",
        "sub/c.mp4": b"\x00\x00\x00 fakemp4",
        "notes.txt": b"not media",
    }
    for rel, data in payloads.items():
        (media / rel).write_bytes(data)

    from projet_big_data_boutin_danre_spark.sources.readers import (
        read_media_dir,
    )

    df = read_media_dir(spark, str(media))
    rows = {os.path.basename(r["media_path"]): r for r in df.collect()}
    assert set(rows) == {"a.jpg", "b.wav", "c.mp4", "notes.txt"}
    assert bytes(rows["a.jpg"]["payload"]) == payloads["a.jpg"]
    assert (rows["a.jpg"]["kind"], rows["a.jpg"]["mime"]) == ("image", "image/jpeg")
    assert rows["b.wav"]["kind"] == "audio"
    assert rows["c.mp4"]["kind"] == "video"  # recursive lookup
    assert rows["notes.txt"]["kind"] is None  # unknown ext: kept, untyped
    assert rows["b.wav"]["n_bytes"] == len(payloads["b.wav"])

    # glob prunes at the listing; the media table chains into the
    # Arrow feature extractor once given a numeric id
    from pyspark.sql import functions as F

    from projet_big_data_boutin_danre_spark.operators.multimodal import (
        extract_features,
    )

    imgs = read_media_dir(spark, str(media), glob="*.jpg").withColumn(
        "media_id", F.abs(F.hash("media_path")).cast("long")
    )
    feats = extract_features(imgs.select("media_id", "kind", "payload"))
    from projet_big_data_boutin_danre_spark.operators.multimodal import (
        FEATURE_DIM,
    )

    out = feats.collect()
    assert len(out) == 1 and len(out[0]["feature"]) == FEATURE_DIM
