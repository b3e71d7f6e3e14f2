"""Deterministic, cross-engine-stable hashing helpers.

Everything here is built on ``md5`` hex strings because MD5 is the one
hash with identical output in PySpark (``F.md5``) and DuckDB
(``md5``) — which lets every hashing-based operator (exact dedup,
MinHash-LSH, SimHash, fingerprinting) be checked against an ANSI-SQL
oracle bit-for-bit. Lexicographic MIN over fixed-width hex strings is
a valid min-hash (a uniform order induced by a uniform hash).

All expressions are JVM-side Column algebra — no Python UDFs — so they
stay inside whole-stage codegen at scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for fingerprinting/dedup: lowercase, strip
    non-alphanumerics to single spaces, trim. The same function as the
    SQL ``trim(regexp_replace(lower(x), '[^a-z0-9]+', ' '))`` the
    DuckDB twins use, without ``lower()``: Spark 4's ``lower()`` sets
    up ICU case mapping the first time a JVM calls it (2.1 s against
    0.4 s with it off, over 500 all-ASCII documents). Only two non-ASCII code points lowercase to
    anything holding ``[a-z0-9]`` — U+212A (Kelvin sign) to ``k`` and
    U+0130 (dotted capital I) to ``i`` + U+0307 — so an ASCII
    ``translate`` plus those two cases folds every string the regex
    can tell apart the same way. The regex leaves no two adjacent
    spaces, so no run collapsing follows it.
    """
    c = F.col(col) if isinstance(col, str) else col
    folded = F.replace(
        F.translate(c, _UPPER + "\u212a", _LOWER + "k"),
        F.lit("\u0130"),
        F.lit("i\u0307"),
    )
    return F.trim(F.regexp_replace(folded, "[^a-z0-9]+", " "))


def normalize_text_aligned(col: Column | str) -> Column:
    """LENGTH-PRESERVING variant of :func:`normalize_text`: ASCII
    casefold via ``translate`` (guaranteed 1 char → 1 char, unlike
    ``lower`` whose Unicode special cases can change length) and each
    non-alphanumeric char becomes exactly ONE space — no run
    collapsing, no trim. Character ``i`` of the output always
    corresponds to character ``i`` of the input, so offsets computed
    over this view (e.g. duplicated-span ranges) index the ORIGINAL
    text directly. Non-ASCII letters normalize to spaces in both
    variants."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.translate(c, _UPPER, _LOWER), "[^a-z0-9]", " ")


def stable_fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(col))


def md5_min_shingle(shingle_col: Column, seed: int) -> Column:
    """One MinHash component: md5 of a seed-prefixed shingle. MIN of
    this over a document's shingles = signature element ``seed``."""
    return F.md5(F.concat(F.lit(f"{seed}|"), shingle_col))


def minhash_component(shingle_col: Column, s: int) -> Column:
    """MinHash component ``s`` as an 8-hex-char slice of a seeded md5
    digest: component ``s`` = ``substr(md5(prefix_s || shingle),
    8*(s%4)+1, 8)`` where ``prefix_s`` = '' for the first digest and
    ``'{d}|'`` for digest ``d`` ≥ 1. Each 32-hex digest yields FOUR
    independent 32-bit hash projections, so ``n`` signature components
    cost ``ceil(n/4)`` md5 evaluations per shingle instead of ``n`` —
    the md5 is the dominant cost of signature computation at scale.
    Lexicographic MIN over fixed-width hex slices is a valid min-hash."""
    d = s // 4
    digest = (
        F.md5(shingle_col)
        if d == 0
        else F.md5(F.concat(F.lit(f"{d}|"), shingle_col))
    )
    return F.substring(digest, 8 * (s % 4) + 1, 8)


def hex_digit_value(hex_char: Column) -> Column:
    """Hex digit char → integer 0..15.

    Spark side uses ``conv(ch, 16, 10)``; the DuckDB oracle uses
    ``instr('0123456789abcdef', ch) - 1`` — same value, different
    spelling (DuckDB lacks ``conv``, PySpark's ``instr`` wants a
    literal needle).
    """
    return F.conv(hex_char, 16, 10).cast("int")
