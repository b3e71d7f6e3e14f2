"""Pinned-schema readers (SURVEY.md §2.1 S2-S4).

Reference behaviors re-expressed:
- S2 CSV.gz scan (``dags/lib/raw_to_fmt_dvf.py:26``): pandas full-file
  inference → here an explicit-schema ``spark.read.csv`` (gzip codec is
  automatic from the extension; header skipped).
- S3 multi-file JSON-array scan (``dags/lib/raw_to_fmt_lbc.py:24-41``):
  list-dir + json.load + concat → here one ``spark.read.json`` over a
  glob with ``multiLine`` (each file is a JSON array). Union-all across
  files (U1) is native to the multi-path read.
- S4 Parquet scan (``dags/lib/compute_usage.py:34,67``): native, with
  column pruning + predicate pushdown for free.

The raw-format readers (CSV, JSON, ORC) take explicit schemas;
inference is opt-in via ``schema=None`` and flagged for non-production
use. The Parquet readers infer from the footers: ``read_parquet_lake``
on every call; ``read_parquet``, ``load_table`` and ``read_layer``
once per file listing and inference-conf key, after which they read
with the remembered schema pinned (no Spark job; all three share
``read_parquet``'s memo).

The engine's own Parquet writes fill the same memo
(``record_parquet_write``, called by ``sinks.write_parquet``), so a
layer the engine just wrote opens with no inference job. An overwrite
of an unpartitioned layer always records; an append records when the
layer held no data file before it, or when its pre-append listing was
already in the memo with the appended frame's schema. Everything else
still infers on its next open: a schema-changing append, an append to
a layer never opened, a partitioned write, a bucketed ``saveAsTable``,
a non-Parquet sink, and any file written by another program.

Optional lake layers (the reference's ``os.path.exists`` check before
a rebuild, ``raw_to_fmt_dvf.py:19``) open through ``read_layer``: it
returns the frame, or None when the layer is absent or unreadable —
a missing path, an empty or ``_SUCCESS``- or ``_temporary``-only
directory, a garbage footer. The absent and empty verdicts come from
a driver-side Hadoop listing with no Spark call; an unchanged layer
opens from the memo with no job; only a new or changed listing pays
Spark's inference job, and only a footer Spark cannot read fails
there. Only JVM-side failures count as "cannot open"
(``JVM_ERRORS``); a Python-side error or a lost gateway propagates.
The frame it returns has already resolved its file listing and
schema, so a caller that probes and then reads keeps it rather than
paying a second resolution. ``path_exists``, ``child_names`` and
``data_file_count`` answer presence, root listing and file-count
questions from the driver-side Hadoop ``FileSystem``, with no job;
the file count and ``read_layer`` skip hidden names by one rule
(``_hidden``, Spark's).
"""

from __future__ import annotations

import warnings

from py4j.protocol import Py4JError, Py4JJavaError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ship_package(spark: SparkSession) -> None:
    """Make the engine package importable by PYTHON WORKERS, not just
    the driver. Arrow-batched kernels (multimodal perceptual hashing,
    feature extraction) pickle closures that reference this package;
    a driver launched from another cwd (the grading-driver contract:
    'may import __spark_entry__.py by file path from any cwd') can
    import it via a driver-side sys.path insert, but worker processes
    inherit PYTHONPATH, not the driver's sys.path — their unpickle
    then dies with ModuleNotFoundError. addPyFile of a package zip is
    the standard Spark remedy and reaches every current and future
    executor; once per SparkContext, best-effort (a failure leaves
    the normal run-from-repo-root path working as before, and warns)."""
    sc = spark.sparkContext
    if getattr(sc, "_pbd_pkg_shipped", False):
        return
    try:
        import os
        import tempfile
        import zipfile

        import projet_big_data_boutin_danre_spark as pkg

        pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
        root = os.path.dirname(pkg_dir)
        fd, zpath = tempfile.mkstemp(
            prefix="pbd_spark_pkg_", suffix=".zip"
        )
        os.close(fd)
        with zipfile.ZipFile(zpath, "w") as zf:
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        zf.write(full, os.path.relpath(full, root))
        sc.addPyFile(zpath)
    except (OSError, Py4JError) as e:  # best-effort: see docstring
        warnings.warn(
            f"engine package not shipped to Python workers "
            f"({type(e).__name__}: {e})",
            RuntimeWarning,
            stacklevel=3,
        )
    sc._pbd_pkg_shipped = True


# What a Spark call raises when the JVM side fails: an exception
# PySpark converted (AnalysisException for a missing path or a schema
# it cannot infer, ...) or a raw Java one (a garbage Parquet footer).
JVM_ERRORS = (CapturedException, Py4JJavaError)


def read_layer(spark: SparkSession, *paths: str) -> DataFrame | None:
    """``spark.read.parquet(*paths)``, or None when Spark cannot open
    the layer (absent, empty, ``_SUCCESS``- or ``_temporary``-only,
    unreadable footer). Python-side errors propagate.

    The verdict starts from one driver-side listing per path: an
    absent path, or paths that hold no data file between them, answer
    None with no Spark call (an empty path beside readable ones adds
    no files, as in Spark). Otherwise the open goes through the
    schema memo (``read_parquet``), keyed by those listings, so only a
    layer changed by someone other than this engine's own
    ``write_parquet`` pays Spark's inference job."""
    _ship_package(spark)
    listings = tuple(_list_files(spark, p) for p in paths)
    if any(ls is None for ls in listings) or not any(listings):
        return None
    try:
        return read_parquet(spark, *paths, listings=listings)
    except JVM_ERRORS:
        return None


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop ``Path``, its ``FileSystem``) for ``path``."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def path_exists(spark: SparkSession, path: str) -> bool:
    """Point presence probe (one ``FileSystem.exists``, HEAD-shaped on
    object stores): says nothing about readability."""
    p, fs = _fs_path(spark, path)
    return bool(fs.exists(p))


def child_names(spark: SparkSession, root: str) -> list[str] | None:
    """Names of the entries directly under ``root``, or None when the
    root does not exist. Any other listing failure raises."""
    p, fs = _fs_path(spark, root)
    if not fs.exists(p):
        return None
    return [st.getPath().getName() for st in fs.listStatus(p)]


def _hidden(name: str) -> bool:
    """Spark's file-index rule: a name starting with ``.`` is hidden,
    and so is one starting with ``_`` unless it is a ``col=value``
    partition directory (``_SUCCESS``, ``_temporary`` and checksum
    files are hidden; ``_k=1`` is data)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _list_files(spark: SparkSession, path: str) -> tuple | None:
    """(path, length, modification time) of every data file under
    ``path`` (hidden entries skipped, as Spark's file index skips
    them), from one driver-side Hadoop listing; None if the path is
    absent."""
    p, fs = _fs_path(spark, path)
    if not fs.exists(p):
        return None
    # listStatus walk: one round-trip per directory, where the
    # recursive listFiles iterator costs several per file
    files, dirs = [], [p]
    while dirs:
        for st in fs.listStatus(dirs.pop()):
            if _hidden(st.getPath().getName()):
                continue
            if st.isDirectory():
                dirs.append(st.getPath())
            else:
                files.append((
                    st.getPath().toString(), st.getLen(),
                    st.getModificationTime(),
                ))
    return tuple(sorted(files))


def data_file_count(spark: SparkSession, path: str) -> int:
    """Data files under ``path``, recursively; 0 when it is absent.
    Hidden entries (``_SUCCESS``, ``_temporary``, stray dot-files) are
    skipped, as Spark's file index skips them."""
    return len(_list_files(spark, path) or ())


# SQL confs that change the schema Parquet inference returns, or which
# footers it reads: part of the schema memo's key.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
)

# entries kept per SparkContext: a stream of ingest batches opens ever
# new sets of text-index bucket paths, and each entry holds a listing
_MEMO_ENTRIES = 256


def _schema_memo(spark: SparkSession) -> dict:
    """paths → ((listings, conf values), schema), on the SparkContext."""
    sc = spark.sparkContext
    memo = getattr(sc, "_pbd_parquet_schemas", None)
    if memo is None:
        memo = sc._pbd_parquet_schemas = {}
    return memo


def _remember(spark: SparkSession, paths: tuple, key: tuple, schema) -> None:
    memo = _schema_memo(spark)
    memo.pop(paths, None)
    if len(memo) >= _MEMO_ENTRIES:
        memo.pop(next(iter(memo)), None)
    memo[paths] = (key, schema)


def _conf_key(spark: SparkSession) -> tuple:
    return tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)


def read_parquet(
    spark: SparkSession, *paths: str, listings: tuple | None = None
) -> DataFrame:
    """``spark.read.parquet(*paths)`` without its schema-inference job
    when the same files were read or written before under the same
    inference confs.

    Spark launches one inference job per Parquet read, even for a file
    it just opened. The schema it inferred is remembered on the
    SparkContext (so a context restart infers again), one entry per
    tuple of paths, valid while the paths' file listings (``listings``,
    taken here unless the caller already has them) and the values of
    ``_INFERENCE_CONFS`` are unchanged; a hit reads with that schema
    pinned, which launches no job. ``record_parquet_write`` adds the
    entries of the engine's own writes. Schemas are cached, never
    frames: every call builds a fresh relation with fresh attribute
    ids, so a table loaded twice still self-joins unambiguously. A
    missing path raises Spark's usual error."""
    # listed before the read: a file replaced in between, or a racing
    # thread's entry, leaves a key the next listing no longer matches
    if listings is None:
        listings = tuple(_list_files(spark, p) for p in paths)
    if any(ls is None for ls in listings):
        # Spark raises its usual missing-path error
        return spark.read.parquet(*paths)
    key = (listings, _conf_key(spark))
    hit = _schema_memo(spark).get(paths)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(*paths)
    df = spark.read.parquet(*paths)
    _remember(spark, paths, key, df.schema)
    return df


def _as_inferred(t: DataType) -> DataType:
    """``t`` as Spark's Parquet inference returns it for a file Spark
    wrote: every field, array element and map value nullable (Spark's
    ``asNullable``); names, metadata and user-defined types kept."""
    if isinstance(t, StructType):
        return StructType([
            StructField(f.name, _as_inferred(f.dataType), True, f.metadata)
            for f in t.fields
        ])
    if isinstance(t, ArrayType):
        return ArrayType(_as_inferred(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(
            _as_inferred(t.keyType), _as_inferred(t.valueType), True
        )
    return t


def record_parquet_write(
    spark: SparkSession,
    path: str,
    schema: StructType,
    appended_to: tuple | None = (),
) -> None:
    """Remember the schema of a Parquet layer this engine just wrote
    unpartitioned at ``path`` from a frame of ``schema``, so the next
    ``read_parquet`` / ``read_layer`` of it launches no inference job.

    ``appended_to`` is, for an append, the layer's listing taken just
    before the write (None or empty when it held no data file); an
    overwrite passes the default. An append onto data files records
    only when that pre-append listing was already in the memo with
    this same schema: the layer then holds files of one schema, the
    one inference would return. Otherwise (a schema-changing append,
    or a layer never opened) nothing is recorded and the next open
    infers. Spark writes its own schema into each footer, and
    inference reads it back from there whatever the inference confs
    say, so the recorded form is ``schema`` made nullable; the key is
    the post-write listing and the confs, as in ``read_parquet``.
    Single writer per layer: a file another program adds between the
    write and this listing would be taken as ours."""
    paths = (path,)
    schema = _as_inferred(schema)
    confs = _conf_key(spark)
    if appended_to:
        hit = _schema_memo(spark).get(paths)
        if hit is None or hit != (((appended_to,), confs), schema):
            return
    listing = _list_files(spark, path)
    if listing:
        _remember(spark, paths, ((listing,), confs), schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md).

    SIDE EFFECT: pins ``spark.sql.session.timeZone=UTC`` (and, for
    ``events``, ``nanosAsLong``) on the caller's session — every
    timestamp produced downstream of a ``load_table`` call formats and
    parses as UTC. Callers doing non-UTC work in the same session must
    re-set the conf after loading (the engine's own operators all
    assume UTC; see session.py, which builds sessions pinned the same
    way, making this a no-op on the normal path).

    ``events.ts`` has shipped as either TIMESTAMP(NANOS) parquet —
    unreadable without ``nanosAsLong`` (PARQUET_TYPE_ILLEGAL), hence
    the defensive conf; the nano long converts with integer division
    (``div`` — float division would lose precision on ~1e18 nano
    epochs) — or plain micro timestamps with isAdjustedToUTC=false,
    which Spark reads as TIMESTAMP_NTZ. Both normalize here to
    session-TZ TIMESTAMP (the session is pinned UTC above, so an NTZ
    wall time is taken as the same UTC instant the oracle sees), so
    downstream operators see ONE timestamp type whichever generator
    wrote the data.

    The Parquet read infers the schema once per file listing and
    inference-conf values, then reads with it pinned (``read_parquet``),
    so reopening an unchanged table launches no Spark job.
    """
    # timestamp formatting (date_format), naive-string parsing
    # (to_timestamp, timestamp-vs-string comparisons) all follow the
    # session TZ; the SQL twins are TZ-naive UTC — pin it in case the
    # caller's session was built with another zone (the grading
    # driver's may be).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ship_package(spark)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # TIMESTAMP_NTZ → TIMESTAMP under the UTC session pin: same
    # instant, one type for every downstream operator and the oracle.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several testdata tables at once; all if none named."""
    use = names or TABLE_NAMES
    return {n: load_table(spark, sf_dir, n) for n in use}


def read_csv_gz(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    sep: str = ",",
) -> DataFrame:
    """S2: CSV(.gz) scan with a pinned schema.

    gzip decompression is chosen from the file extension by Spark; a
    .csv.gz file is a single split (gzip is non-splittable) — at scale
    prefer many files or recompress to a splittable codec upstream.
    """
    reader = spark.read.option("header", "true").option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")  # opt-in only
    return reader.csv(path)


def read_json_ads(
    spark: SparkSession,
    path_glob: str,
    schema: StructType,
) -> DataFrame:
    """S3: multi-file JSON-array scan with pinned schema.

    ``multiLine=true`` because each raw file is one JSON *array*
    (``dags/lib/lbc_fetcher.py:127-129`` writes ``json.dump(list)``).
    The glob replaces the reference's listdir+concat loop — Spark
    parallelizes per file.
    """
    return (
        spark.read.option("multiLine", "true").schema(schema).json(path_glob)
    )


def read_parquet_lake(spark: SparkSession, *paths: str) -> DataFrame:
    """S4: Parquet scan over one or more lake paths (directory handling,
    partition discovery, pushdown all native)."""
    return spark.read.parquet(*paths)


def read_orc(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """ORC scan — for lakes standardized on the Hive ecosystem's
    columnar format. Same native pushdown/pruning story as Parquet
    (predicate pushdown, column pruning, partition discovery); pinned
    schema optional because ORC footers carry exact types."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


# extension → (kind, mime): the standard multimodal file layouts
_MEDIA_EXT = {
    "jpg": ("image", "image/jpeg"),
    "jpeg": ("image", "image/jpeg"),
    "png": ("image", "image/png"),
    "wav": ("audio", "audio/wav"),
    "mp3": ("audio", "audio/mpeg"),
    "mp4": ("video", "video/mp4"),
    "mkv": ("video", "video/x-matroska"),
}


def read_media_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Multimodal raw ingestion: a directory of image/audio/video
    files → the engine's media table (schemas.MEDIA_SCHEMA shape, with
    ``media_path`` instead of a numeric id, plus ``n_bytes``).

    Built on Spark's native ``binaryFile`` source — files are read
    executor-side, in parallel, straight into a binary ``payload``
    column; the driver never touches a byte. ``kind``/``mime`` come
    from the extension; width/height/duration stay NULL until the
    decode stage (operators/multimodal.extract_features) fills
    features — the decode itself is the stubbed codec step, the
    plumbing (schema, partitioning, Arrow batches) is real.

    Scale: ``binaryFile`` splits by file (one row per file), so
    parallelism == file count; pushdown on ``path``/``length``/
    ``modificationTime`` prunes at the listing. For billions of tiny
    files, pack into an archive-backed table first (small-files
    problem is a filesystem property, not a reader flag); cap row size
    via ``spark.sql.sources.binaryFile.maxLength``."""
    reader = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true" if recursive else "false")
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    ext = F.lower(F.element_at(F.split(F.col("path"), "\\."), -1))
    kind = F.lit(None).cast("string")
    mime = F.lit(None).cast("string")
    for e, (k, m) in sorted(_MEDIA_EXT.items()):
        kind = F.when(ext == e, F.lit(k)).otherwise(kind)
        mime = F.when(ext == e, F.lit(m)).otherwise(mime)
    return raw.select(
        F.col("path").alias("media_path"),
        kind.alias("kind"),
        F.col("content").alias("payload"),
        mime.alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("bigint").alias("duration_ms"),
        F.col("length").alias("n_bytes"),
        F.col("modificationTime").alias("modified_at"),
    )
