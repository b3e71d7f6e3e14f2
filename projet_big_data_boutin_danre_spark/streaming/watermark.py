"""Incremental / watermark processing (SURVEY.md §2.9 ST1-ST4, §2.4 A3).

The reference hand-rolls a micro-batch stream: hourly cron + a JSON
high-watermark file (``dags/lib/lbc_fetcher.py:43-57,92-98,134-137``) —
fetch newest-first, drop events ≤ last watermark, advance watermark to
``max(event_date)``. Two re-expressions here:

1. **Batch-incremental** (this module): a one-row watermark state
   table + ``filter(ts > wm)`` — same semantics, works on any engine
   run, scales trivially (the filter pushes into the scan / partition
   pruning when the table is date-partitioned).
2. **Structured Streaming** (stream_dedup.py): ``readStream`` +
   ``withWatermark`` + ``dropDuplicates`` for the late/duplicate rules
   (ST3) with managed checkpointing.
"""

from __future__ import annotations

import datetime as dt
import re

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import JVM_ERRORS


TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

# Accepted wall-time string shapes for a watermark literal: what
# read_watermark emits, the second-precision short form, and the
# ISO-8601 'T'-separated twins (external callers hand those in and
# Spark's to_timestamp parses them fine).
_WM_PY_FMTS = (
    "%Y-%m-%d %H:%M:%S.%f",
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%d",
    "%Y-%m-%dT%H:%M:%S.%f",
    "%Y-%m-%dT%H:%M:%S",
)

# ISO-8601 zone suffix on a full timestamp: 'Z' or ±HH[:MM] — the
# colon/Z forms Spark's to_timestamp understands ('+0100' without a
# colon is NOT accepted: Spark would parse it to NULL). Offset ranges
# are checked separately: Java's ZoneOffset caps at ±18:00, so e.g.
# '+19:00' or '+01:99' would ALSO parse to NULL and silently drop
# every row — the validator must reject those, not strip them.
_WM_ZONE_RE = re.compile(r"(Z|[+-](\d{2})(:(\d{2}))?)$")


def _validate_watermark_literal(literal: str) -> None:
    """Fail loudly on a watermark string Spark could not parse.

    Guards the incremental path against silent data loss: with ANSI
    mode off, ``to_timestamp('garbage')`` is NULL, ``ts > NULL`` is
    never true, and every row is dropped as if the batch were empty.

    Accepted: the space- and 'T'-separated wall-time shapes above,
    optionally carrying an ISO-8601 zone suffix (``Z`` / ``±HH:MM``)
    when the literal is a full timestamp. The whitelist stays limited
    to shapes Spark's ``to_timestamp`` is known to parse — accepting
    more would re-open the silent-drop hole this guard closes."""
    s = literal
    if ("T" in s or " " in s):  # only strip a zone off a full timestamp
        m = _WM_ZONE_RE.search(s)
        if m:
            if m.group(1) != "Z":
                hh = int(m.group(2))
                mm = int(m.group(4) or 0)
                # Java ZoneOffset range: ±18:00 inclusive, minutes < 60
                if hh > 18 or mm > 59 or (hh == 18 and mm != 0):
                    raise ValueError(
                        f"watermark literal {literal!r} carries a zone "
                        f"offset outside Java's ±18:00 range; Spark would "
                        "parse it to NULL and silently drop every row"
                    )
            s = s[: m.start()]
    for fmt in _WM_PY_FMTS:
        try:
            dt.datetime.strptime(s, fmt)
            return
        except ValueError:
            continue
    raise ValueError(
        f"unparseable watermark literal {literal!r}; refusing to build an "
        "incremental filter that would silently drop every row — fix the "
        "state file or pass watermark=None to reprocess in full"
    )


def read_watermark(spark: SparkSession, state_path: str) -> str | None:
    """ST2: load the high watermark (None on first run — the
    reference's missing-state default, ``lbc_fetcher.py:48-57``).

    Returned as a SESSION-TZ wall-time string, not a datetime:
    ``collect()`` converts timestamps via the driver's OS timezone,
    so a datetime round trip silently shifts on a host whose OS TZ
    differs from the session TZ. The string form is formatted JVM-side
    under the session TZ and re-parsed the same way by
    ``incremental_batch`` — OS-TZ-independent end to end.

    A state path with nothing committed (missing, empty, or
    ``_SUCCESS``-only — Spark's AnalysisException) is the first-run
    case and returns None; a state file that EXISTS but yields no
    usable watermark (unreadable footer, wrong column, non-timestamp
    value → NULL after date_format) raises, because treating corrupt
    state as "no watermark" would silently reprocess — or worse, a
    NULL literal downstream would silently drop every row (see
    ``incremental_batch``)."""
    try:
        state = spark.read.parquet(state_path)
    except AnalysisException:
        return None  # first run: no state yet
    except JVM_ERRORS as exc:
        raise ValueError(
            f"watermark state at {state_path!r} exists but cannot be "
            "opened; fix or delete the state file"
        ) from exc
    try:
        rows = (
            state.select(F.date_format("last_fetched", TS_FMT).alias("wm"))
            .collect()
        )
    except JVM_ERRORS as exc:
        raise ValueError(
            f"watermark state at {state_path!r} exists but is corrupt: no "
            "readable 'last_fetched' timestamp; fix or delete the state file"
        ) from exc
    if not rows:
        return None  # state written from an empty batch: nothing fetched yet
    if rows[0]["wm"] is None:
        raise ValueError(
            f"watermark state at {state_path!r} holds a NULL/unparseable "
            "'last_fetched'; refusing to continue with corrupt state — fix "
            "or delete the state file"
        )
    return rows[0]["wm"]


def write_watermark(df_batch: DataFrame, ts_col: str, state_path: str) -> None:
    """A3+K5: advance the watermark to max(ts) of the processed batch
    and persist — a one-row aggregate, map-side combined.

    An EMPTY batch (max = NULL) writes a zero-row state rather than a
    NULL row, so that a NULL ``last_fetched`` in an existing state file
    can only mean corruption — which ``read_watermark`` rejects loudly."""
    (
        df_batch.agg(F.max(F.col(ts_col)).alias("last_fetched"))
        .where(F.col("last_fetched").isNotNull())
        .write.mode("overwrite")
        .parquet(state_path)
    )


def incremental_batch(
    df: DataFrame, ts_col: str, watermark: dt.datetime | str | Column | None
) -> DataFrame:
    """ST2/O3: keep only rows strictly newer than the watermark (the
    reference drops ``date <= last_fetched``, ``lbc_fetcher.py:92-94``).
    Set semantics replace the reference's ordered early-break scan —
    and the predicate prunes partitions/row-groups at scale.

    Watermark forms: a Column is used as-is; a string parses with
    ``to_timestamp`` under the SESSION timezone; a tz-aware datetime
    is exact. A NAIVE datetime is interpreted as SESSION-TZ wall time
    (via its string form) — NOT handed to ``F.lit``, which would
    convert it through the driver's OS timezone (``time.mktime``) and
    mean a different instant on a host with another OS TZ.

    A string watermark is validated driver-side BEFORE it enters the
    plan: with ANSI mode off, ``to_timestamp`` on an unparseable
    literal yields NULL and ``ts > NULL`` silently drops every row —
    a corrupt state file would masquerade as an empty batch. Raising
    ``ValueError`` here makes the failure loud; callers that prefer
    full reprocess can catch it and pass ``watermark=None``."""
    if watermark is None:
        return df
    if isinstance(watermark, Column):
        wm = watermark
    elif isinstance(watermark, str):
        _validate_watermark_literal(watermark)
        wm = F.to_timestamp(F.lit(watermark))
    elif watermark.tzinfo is None:
        wm = F.to_timestamp(F.lit(watermark.strftime("%Y-%m-%d %H:%M:%S.%f")))
    else:
        wm = F.lit(watermark)
    return df.filter(F.col(ts_col) > wm)
