"""Batch builders shared by the ingest test modules."""

from __future__ import annotations


def _near_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_BASE = (
    "the quick brown fox jumps over the lazy dog while the rain in "
    "spain falls mainly on the plain and a stitch in time saves nine "
    "for every good boy does fine across the wide river delta"
)


def _av_docs(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id long, text string, payload binary, kind string, "
        "duration_ms long",
    )


def _av_payloads():
    import random

    rng = random.Random(13)
    vid = bytes(rng.randrange(256) for _ in range(1000))
    aud = bytes(rng.randrange(256) for _ in range(600))
    img = bytes(rng.randrange(256) for _ in range(600))

    def fresh(n):
        return bytes(rng.randrange(256) for _ in range(n))

    return vid, aud, img, fresh
