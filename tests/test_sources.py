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
    data_file_count,
    load_table,
    read_csv_gz,
    read_json_ads,
    read_layer,
    read_parquet_lake,
)
from projet_big_data_boutin_danre_spark.sources.sinks import (
    write_json,
    write_parquet,
)

from conftest import _jobs_launched


def _copy_tables(sf_dir, tmp_path, *names):
    """Writable copies of testdata tables (the originals are read-only)."""
    for n in names:
        shutil.copy(f"{sf_dir}/{n}.parquet", tmp_path / f"{n}.parquet")
    return str(tmp_path)


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
        ntz = readers.read_parquet(spark, path)
        spark.conf.set(key, "false")
        ltz, jobs = _jobs_launched(
            spark, lambda: readers.read_parquet(spark, path)
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


def _layer(spark, tmp_path, shape):
    """A layer directory in one of the shapes a lake can hold."""
    root = tmp_path / shape
    df = spark.range(4).withColumn("k", F.col("id") % 2)
    if shape == "ok":
        df.write.parquet(str(root))
    elif shape == "partitioned":
        df.write.partitionBy("k").parquet(str(root))
    elif shape == "zero_rows":
        df.limit(0).write.parquet(str(root))
    elif shape == "empty_dir":
        root.mkdir()
    elif shape == "success_only":
        root.mkdir()
        (root / "_SUCCESS").write_bytes(b"")
    elif shape == "temporary_only":
        # a crashed writer: real data files, all under _temporary
        df.write.parquet(str(tmp_path / "staged"))
        (root / "_temporary").mkdir(parents=True)
        shutil.move(str(tmp_path / "staged"), str(root / "_temporary" / "0"))
    elif shape == "garbage_footer":
        root.mkdir()
        (root / "part-00000.parquet").write_bytes(b"not parquet at all")
    return str(root)


@pytest.mark.parametrize(
    "shape, rows",
    [
        ("ok", 4),
        ("partitioned", 4),
        ("zero_rows", 0),
        ("missing", None),
        ("empty_dir", None),
        ("success_only", None),
        ("temporary_only", None),
        ("garbage_footer", None),
    ],
)
def test_read_layer_verdicts(spark, tmp_path, shape, rows):
    """read_layer opens a readable layer (zero rows included) and
    answers None for every absent or unreadable one — the garbage
    footer fails as a raw Py4JJavaError, the others as an
    AnalysisException."""
    df = read_layer(spark, _layer(spark, tmp_path, shape))
    if rows is None:
        assert df is None
    else:
        assert df is not None and df.count() == rows


def test_read_layer_opens_several_paths(spark, tmp_path):
    a = _layer(spark, tmp_path / "a", "ok")
    b = _layer(spark, tmp_path / "b", "ok")
    assert read_layer(spark, a, b).count() == 8
    # one missing path makes the whole open fail, like spark.read
    assert read_layer(spark, a, str(tmp_path / "nope")) is None


def test_read_layer_propagates_python_errors(spark, tmp_path, monkeypatch):
    """Only JVM-side failures read as "absent": a Python-side bug in
    the open must surface, not turn into a silently skipped layer."""
    from pyspark.sql.readwriter import DataFrameReader

    path = _layer(spark, tmp_path, "ok")

    def broken(self, *paths, **options):
        raise TypeError("broken reader")

    monkeypatch.setattr(DataFrameReader, "parquet", broken)
    with pytest.raises(TypeError, match="broken reader"):
        read_layer(spark, path)


@pytest.mark.parametrize(
    "shape", ["missing", "empty_dir", "success_only", "temporary_only"]
)
def test_read_layer_absent_verdict_launches_no_job(spark, tmp_path, shape):
    path = _layer(spark, tmp_path, shape)
    df, jobs = _jobs_launched(spark, lambda: read_layer(spark, path))
    assert df is None and jobs == 0


def test_read_layer_second_open_launches_no_job(spark, tmp_path):
    path = _layer(spark, tmp_path, "partitioned")
    first = read_layer(spark, path)
    df, jobs = _jobs_launched(spark, lambda: read_layer(spark, path))
    assert jobs == 0
    assert df.schema == first.schema
    assert sorted(df.collect()) == sorted(first.collect())


def test_read_layer_infers_again_after_an_append(spark, tmp_path):
    path = _layer(spark, tmp_path, "ok")
    assert read_layer(spark, path).count() == 4
    spark.range(10, 13).withColumn("k", F.col("id") % 2).write.mode(
        "append"
    ).parquet(path)
    df, jobs = _jobs_launched(spark, lambda: read_layer(spark, path))
    assert jobs >= 1  # a changed listing is a memo miss
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 2, 3, 10, 11, 12]


def test_read_layer_twice_self_joins(spark, tmp_path):
    path = _layer(spark, tmp_path, "ok")
    a, b = read_layer(spark, path), read_layer(spark, path)
    # ids whose value equals another row's k: both sides must resolve
    # to their own attributes
    assert a.join(b, a["id"] == b["k"]).count() == 4


def test_read_layer_reads_underscore_partition_column(spark, tmp_path):
    """``_k=0`` is a partition directory, not a hidden one."""
    path = str(tmp_path / "under")
    spark.range(4).withColumn("_k", F.col("id") % 2).write.partitionBy(
        "_k"
    ).parquet(path)
    df = read_layer(spark, path)
    assert df is not None and df.count() == 4 and "_k" in df.columns
    assert data_file_count(spark, path) == len(df.inputFiles()) >= 2


def test_data_file_count_skips_hidden_files(spark, tmp_path):
    """The driver-side counter and Spark's file index agree on a layer
    holding bookkeeping (``_SUCCESS``, a ``_temporary`` dir) and a
    stray dot-file that is not a checksum."""
    path = _layer(spark, tmp_path, "partitioned")
    (tmp_path / "partitioned" / ".stray").write_bytes(b"not data")
    leftover = tmp_path / "partitioned" / "_temporary" / "0"
    leftover.mkdir(parents=True)
    (leftover / "part-9.parquet").write_bytes(b"half written")
    n = len(spark.read.parquet(path).inputFiles())
    assert n >= 2
    assert data_file_count(spark, path) == n
    assert data_file_count(spark, str(tmp_path / "nope")) == 0


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
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        compact_layer,
    )

    out = str(tmp_path / "fragmented")
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    # simulate many tiny per-run files
    df.repartition(32).write.parquet(out)
    n_before = len(spark.read.parquet(out).inputFiles())
    assert n_before >= 32

    n_target = compact_layer(spark, out, target_file_mb=1000)["files_after"]
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
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        compact_layer,
    )

    out = str(tmp_path / "part_frag")
    df = spark.range(2_000).withColumn(
        "ds", F.when(F.col("id") % 2 == 0, "d1").otherwise("d2")
    )
    write_parquet(df.repartition(16), out, partition_by=("ds",))
    compact_layer(spark, out, target_file_mb=1000, partition_by="ds")
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


def test_media_ingest_ships_the_package_from_any_cwd(tmp_path):
    """A driver that has the engine only on its own ``sys.path`` (run
    from another directory, no ``PYTHONPATH``) and never called
    ``load_table`` still runs a media-guard ingest: the Python workers
    get the package too."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(f"""
        import random, sys
        sys.path.insert(0, {repo!r})
        from projet_big_data_boutin_danre_spark.session import get_spark
        from projet_big_data_boutin_danre_spark.corpus_pipeline import (
            incremental_ingest,
        )
        spark = get_spark("ship", master="local[2]", shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")
        rng = random.Random(5)
        p = bytes(rng.randrange(256) for _ in range(600))
        # a video row: its frame kernel calls package functions in
        # the workers
        docs = spark.createDataFrame(
            [(1, "video alpha", p, "video", 3000)],
            "doc_id long, text string, payload binary, kind string, "
            "duration_ms long",
        )
        r = incremental_ingest(spark, docs, "lake", media_guard=True)
        print("ADMITTED", r["admitted"])
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ADMITTED 1" in out.stdout, out.stderr[-3000:]


def _fresh_schema(spark, path):
    """The schema Spark's inference returns, bypassing the memo."""
    return spark.read.parquet(path).schema


def test_layer_opens_without_a_job_after_write_parquet(spark, tmp_path):
    path = str(tmp_path / "layer")
    write_parquet(spark.range(3).withColumn("k", F.col("id") % 2), path)
    for opener in (readers.read_parquet, read_layer):
        df, jobs = _jobs_launched(spark, lambda: opener(spark, path))
        assert jobs == 0 and df.count() == 3
    write_parquet(
        spark.range(10, 12).withColumn("k", F.col("id") % 2), path,
        mode="append",
    )
    for opener in (readers.read_parquet, read_layer):
        df, jobs = _jobs_launched(spark, lambda: opener(spark, path))
        assert jobs == 0
        assert sorted(r["id"] for r in df.collect()) == [0, 1, 2, 10, 11]
    assert df.schema == _fresh_schema(spark, path)


def test_append_to_an_absent_layer_is_recorded(spark, tmp_path):
    path = str(tmp_path / "new")
    write_parquet(spark.range(2), path, mode="append")
    df, jobs = _jobs_launched(spark, lambda: read_layer(spark, path))
    assert jobs == 0 and df.schema == _fresh_schema(spark, path)


def test_schema_changing_append_still_infers(spark, tmp_path):
    path = str(tmp_path / "grow")
    key = "spark.sql.parquet.mergeSchema"
    old = spark.conf.get(key)
    try:
        # merged inference sees the new column whichever footer sorts
        # first
        spark.conf.set(key, "true")
        write_parquet(spark.range(2), path)
        assert _jobs_launched(spark, lambda: read_layer(spark, path))[1] == 0
        write_parquet(
            spark.range(5, 7).withColumn("extra", F.lit("x")), path,
            mode="append",
        )
        df, jobs = _jobs_launched(spark, lambda: read_layer(spark, path))
    finally:
        spark.conf.set(key, old)
    assert jobs >= 1
    assert df.columns == ["id", "extra"]
    assert sorted((r["id"], r["extra"]) for r in df.collect()) == [
        (0, None), (1, None), (5, "x"), (6, "x"),
    ]


def test_partitioned_write_still_infers(spark, tmp_path):
    path = str(tmp_path / "parts")
    write_parquet(
        spark.range(4).withColumn("k", F.col("id") % 2), path,
        partition_by=("k",),
    )
    df, jobs = _jobs_launched(spark, lambda: read_layer(spark, path))
    assert jobs >= 1
    assert dict(df.dtypes)["k"] == "int"  # inferred from k=0 / k=1


def test_outside_rewrite_after_write_parquet_infers(spark, tmp_path):
    path = str(tmp_path / "outside")
    write_parquet(spark.range(2), path)
    spark.range(3).selectExpr("cast(id as string) as s").write.mode(
        "overwrite"
    ).parquet(path)
    df, jobs = _jobs_launched(spark, lambda: read_layer(spark, path))
    assert jobs >= 1
    assert df.columns == ["s"] and df.count() == 3


def test_recorded_schema_equals_inference_on_a_hostile_frame(spark, tmp_path):
    import datetime as dt
    from decimal import Decimal

    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql.types import (
        ArrayType, BinaryType, DateType, DecimalType, IntegerType, LongType,
        MapType, StringType, StructField, StructType, TimestampNTZType,
        TimestampType,
    )

    inner = StructType([StructField("x", IntegerType(), False, {"u": 1})])
    schema = StructType([
        StructField("id", LongType(), False, {"comment": "key"}),
        StructField(
            "m", MapType(StringType(), ArrayType(inner, False), False), False
        ),
        StructField("d", DecimalType(38, 18), True),
        StructField("day", DateType(), False),
        StructField("ts", TimestampType(), True),
        StructField("ntz", TimestampNTZType(), True),
        StructField("b", BinaryType(), False),
        StructField("v", VectorUDT(), True),
    ])
    t = dt.datetime(2024, 2, 29, 12, 30)
    df = spark.createDataFrame(
        [(1, {"a": [(7,)]}, Decimal("1.5"), t.date(), t, t, b"\x00",
          Vectors.dense([1.0, 2.0]))],
        schema,
    )
    path = str(tmp_path / "hostile")
    write_parquet(df, path)
    got, jobs = _jobs_launched(spark, lambda: readers.read_parquet(spark, path))
    assert jobs == 0 and got.schema == _fresh_schema(spark, path)
    write_parquet(df, path, mode="append")
    got, jobs = _jobs_launched(spark, lambda: read_layer(spark, path))
    assert jobs == 0 and got.schema == _fresh_schema(spark, path)
    assert got.count() == 2


def test_near_dup_ingest_layers_reopen_as_inferred(spark, tmp_path):
    """Every layer of a near-dup ingest lake reopens with no job after
    a second batch, with the schema inference would give."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from ingest_docs import _BASE, _near_docs

    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
    )

    root = str(tmp_path / "lake")
    incremental_ingest(spark, _near_docs(spark, [(1, _BASE)]), root,
                       near_dup=True)
    incremental_ingest(
        spark, _near_docs(spark, [(2, "a different text entirely here")]),
        root, near_dup=True,
    )
    layers = sorted(
        n for n in os.listdir(root) if n != "_lake_stats"
    )
    assert {"docs", "fingerprints", "band_buckets", "_lake_mode"} <= set(
        layers
    )
    for name in layers:
        path = f"{root}/{name}"
        df, jobs = _jobs_launched(spark, lambda: read_layer(spark, path))
        assert jobs == 0, name
        assert df.schema == _fresh_schema(spark, path), name


def test_compacted_layers_reopen_without_a_job(spark, tmp_path):
    """A layer ``maintain_lake`` just compacted reopens with no job,
    with the schema inference would give."""
    from projet_big_data_boutin_danre_spark.corpus_pipeline import (
        incremental_ingest,
        maintain_lake,
    )

    root = str(tmp_path / "lake")
    for b in range(3):
        incremental_ingest(spark, spark.createDataFrame(
            [(b * 10 + i, f"batch {b} document {i} text") for i in range(4)],
            "doc_id long, text string",
        ), root)
    res = maintain_lake(spark, root, compact_above_files=1)
    assert res["compacted_layers"] >= 2
    for name in ("docs", "fingerprints"):
        path = f"{root}/{name}"
        assert data_file_count(spark, path) == 1
        df, jobs = _jobs_launched(spark, lambda: read_layer(spark, path))
        assert jobs == 0, name
        assert df.schema == _fresh_schema(spark, path), name
        assert df.count() == 12
