"""Sinks (SURVEY.md §2.1 K1-K5).

- K1 Parquet sink: native, snappy default; partitioned layers use
  ``partitionBy`` + dynamic partition overwrite (the reference's
  manual ``<YYYYMMDD>`` directories become real partitions). An
  unpartitioned overwrite or append records the written schema in the
  readers' memo (``readers.record_parquet_write``), so the layer
  reopens with no inference job; partitioned writes record nothing and
  their next open infers, as do the bucketed ``saveAsTable`` sidecars
  and the JSON/ORC sinks, which do not go through ``write_parquet``.
- K2 JSON sink: native.
- K3 ES bulk sink: the reference row-iterates + ``helpers.bulk``
  (``dags/lib/index_to_es.py:81-341``). Here: ``foreachPartition``
  batching behind a pluggable transport so the engine has no hard ES
  dependency (import-gated); document *shape* correctness lives in
  operators/documents.py and is tested on DataFrames.
- K5 state checkpoint: streaming/watermark.py.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, Row

from .readers import _list_files, record_parquet_write


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    sort_within_by: tuple[str, ...] = (),
) -> None:
    """K1 (+X3/X6): snappy Parquet; with partitions, only touched
    partitions are replaced (dynamic overwrite).

    ``sort_within_by`` clusters rows inside each output file (no extra
    shuffle — ``sortWithinPartitions``) so parquet row-group min/max
    stats become selective for those columns: a pushed filter on a
    clustered column skips whole row groups instead of scanning them.
    The cheap half of Z-ordering, right whenever a layer has one
    dominant filter column (ts, commune, id).

    An unpartitioned ``overwrite`` or ``append`` records the written
    schema for the readers (``readers.record_parquet_write``; an
    append lists the layer once before the write for that)."""
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(*partition_by)
    record = not partition_by and mode in ("overwrite", "append")
    spark = df.sparkSession
    before = _list_files(spark, path) if record and mode == "append" else ()
    writer.parquet(path)
    if record:
        record_parquet_write(spark, path, df.schema, appended_to=before)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K2: newline-delimited JSON (the scalable form of the raw
    layer's array files)."""
    df.write.mode(mode).json(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> None:
    """ORC sink with the same dynamic-partition-overwrite contract as
    the Parquet sink (K1) — for Hive-ecosystem consumers."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(*partition_by)
    writer.orc(path)


def bulk_sink(
    df: DataFrame,
    send_batch: Callable[[list[dict]], None],
    batch_size: int = 1000,
) -> None:
    """K3 generalized: per-partition batched delivery to any bulk
    transport (ES, HTTP, queue). The reference's 1000/5000-doc flush
    thresholds (``index_to_es.py:128,184,271,331``) become the
    ``batch_size``. Executor-side batching — the driver never sees
    rows."""

    def _send(rows: Iterator[Row]) -> None:
        buf: list[dict] = []
        for r in rows:
            buf.append(r.asDict(recursive=True))
            if len(buf) >= batch_size:
                send_batch(buf)
                buf = []
        if buf:
            send_batch(buf)

    df.foreachPartition(_send)


def es_actions(
    batch: list[dict], index: str, id_key: str | None = None
) -> list[dict]:
    """K3: build the reference's exact bulk-action shape
    (``index_to_es.py:117-127,246-269,320-327``) from row dicts:

    - ``_index`` always set; ``_source`` is the document;
    - null fields are DROPPED from ``_source`` (``clean_doc``'s
      ``pd.isna`` skip, ``index_to_es.py:63-79``) — sparse documents;
    - ``_id`` comes from ``id_key`` when that field is present and
      TRUTHY, ``str()``-coerced (``str(doc_id)``,
      ``index_to_es.py:255,267,326``); rows without it — including
      falsy ids like ``0`` or ``""`` — get no ``_id`` (ES auto-ids),
      mirroring ``index_lbc_raw_to_es``'s ``if lbc_id:`` guard
      exactly so re-indexing assigns the same identities the
      reference would.

    Pure function — the wire shape is testable without any ES client.
    Timestamps serialize ISO-8601 (``clean_doc``'s
    ``datetime → isoformat``, ``index_to_es.py:74-75``), so every
    action is JSON-serializable as-is.
    """
    actions: list[dict] = []
    for doc in batch:
        src = {
            k: _clean_value(v) for k, v in doc.items() if v is not None
        }
        action: dict = {"_index": index, "_source": src}
        if id_key is not None:
            vid = src.get(id_key)
            if vid:  # reference truthiness: falsy ids -> ES auto-id
                action["_id"] = str(vid)
        actions.append(action)
    return actions


def _clean_value(v):
    """``clean_doc``'s type normalization (``index_to_es.py:63-79``)
    minus the numpy cases (Row dicts carry Python scalars already):
    datetimes → ISO-8601, nested structs/arrays cleaned recursively
    with null fields omitted."""
    if isinstance(v, dt.datetime) or isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return {k: _clean_value(x) for k, x in v.items() if x is not None}
    if isinstance(v, (list, tuple)):
        return [_clean_value(x) for x in v]
    return v


def index_documents(
    df: DataFrame,
    index: str,
    send_actions: Callable[[list[dict]], None],
    id_key: str | None = None,
    batch_size: int = 1000,
) -> None:
    """K3 with a pluggable action transport: executor-side batching of
    reference-shaped bulk actions. ``send_actions`` receives what the
    reference hands to ``helpers.bulk`` (``index_to_es.py:129,185``)."""
    bulk_sink(
        df,
        lambda batch: send_actions(es_actions(batch, index, id_key)),
        batch_size=batch_size,
    )


def es_bulk_sink(
    df: DataFrame,
    index: str,
    id_col: str | None = None,
    hosts: str = "http://localhost:9200",
    batch_size: int = 1000,
) -> None:
    """K3/K4: Elasticsearch adapter — import-gated; raises with a clear
    message when the client isn't installed (it isn't in this image).
    Action shape comes from ``es_actions`` (tested transport-free)."""
    try:
        from elasticsearch import Elasticsearch, helpers  # noqa: F401
    except ImportError as e:  # pragma: no cover - not installed here
        raise NotImplementedError(
            "elasticsearch client not available in this environment; "
            "bulk_sink() with a custom transport is the supported path"
        ) from e

    def _send(actions: list[dict]) -> None:  # pragma: no cover
        es = Elasticsearch(hosts)
        helpers.bulk(es, actions)

    index_documents(df, index, _send, id_key=id_col, batch_size=batch_size)
