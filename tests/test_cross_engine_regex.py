"""Cross-engine regex contract: the PII patterns and normalization
regexes must behave IDENTICALLY in Spark (Java regex) and DuckDB (RE2)
— they feed hash-compared oracle slots, so any divergence is a silent
correctness failure waiting for the right input. This test runs a
battery of adversarial strings through both engines and compares
results exactly. (Patterns are deliberately restricted to the
Java∩RE2 subset: no lookahead, ASCII classes, \\b.)"""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from projet_big_data_boutin_danre_spark.operators.text import (
    EMAIL_RE,
    IPV4_RE,
    LONG_NUM_RE,
    pii_scrub,
)

ADVERSARIAL = [
    "",
    " ",
    "plain text no pii",
    "a@b.co",
    "a@b.c",  # TLD too short: not an email
    "x..y@domain.org trailing",
    "MiXeD.CaSe+tag@Sub.Domain.ORG",
    "two a@b.com b@c.org emails",
    "@missing.local.org",
    "dot.at.end@dom.org.",
    "1.2.3.4",
    "255.255.255.255 and 999.999.999.999",  # both match the shape
    "1.2.3.4.5",          # overlapping dotted run
    "v1.2.3.4beta",       # \b boundaries: digits flanked by letters
    "ip:10.0.0.1;port:80",
    "123456789",
    "12345678",           # 8 digits: below threshold
    "1234567890123456789012345",
    "num123456789word",
    "email 123456789@x.io then 10.1.1.1 then 987654321",
    "unicode é@dom.org accented",
    "émail@dómain.org",   # accented domain: partial ASCII match only
    "tab\tand\nnewline a@b.org 1.2.3.4",
    "quote 'a@b.org' and \"1.2.3.4\"",
    "backslash \\ a@b.org",
    "percent % underscore _ a_b%c@d.org",
    "brackets [a@b.org] (1.2.3.4) {123456789}",
    "a@b.org1234567890",  # digit run glued to email TLD
    "12.34.56.78.90.12",
    "+33612345678 phone-like",
    "hex deadbeef 0x123456789",
    "a" * 500 + "@x.org",
    "9" * 200,
    ". . . . 1 . 2 . 3 . 4",
    "a@b.museum deep tld",
    "a@-weird-.org",
    "user@[1.2.3.4] bracket host",
]


def test_pii_regexes_agree_spark_vs_duckdb(spark):
    pdf = pd.DataFrame(
        {"doc_id": range(len(ADVERSARIAL)), "text": ADVERSARIAL}
    )
    sdf = spark.createDataFrame(pdf)
    got_spark = (
        pii_scrub(sdf, "doc_id", "text")
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )

    con = duckdb.connect()
    con.register("docs", pdf)
    got_duck = con.execute(
        f"""
        WITH s1 AS (
            SELECT doc_id, text,
                   regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g') AS ae
            FROM docs
        ), s2 AS (
            SELECT *, regexp_replace(ae, '{IPV4_RE}', '<IP>', 'g') AS ai
            FROM s1
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(ae, '{IPV4_RE}')) AS INT) AS n_ips,
               CAST(len(regexp_extract_all(ai, '{LONG_NUM_RE}')) AS INT) AS n_long_nums,
               CAST(length(regexp_replace(ai, '{LONG_NUM_RE}', '<NUM>', 'g')) AS INT)
                   AS scrubbed_len,
               md5(regexp_replace(ai, '{LONG_NUM_RE}', '<NUM>', 'g')) AS scrubbed_fp
        FROM s2 ORDER BY doc_id
        """
    ).df().set_index("doc_id")

    for col in ("n_emails", "n_ips", "n_long_nums", "scrubbed_len", "scrubbed_fp"):
        s, d = got_spark[col], got_duck[col]
        diffs = [
            (i, ADVERSARIAL[i], s[i], d[i])
            for i in got_spark.index
            if s[i] != d[i]
        ]
        assert not diffs, f"{col} diverges: {diffs[:5]}"


def test_normalize_regex_agrees(spark):
    """normalize_text's regex chain (the dedup/fingerprint substrate)
    under the same battery."""
    from projet_big_data_boutin_danre_spark.functions.hashing import (
        normalize_text,
    )

    pdf = pd.DataFrame(
        {"doc_id": range(len(ADVERSARIAL)), "text": ADVERSARIAL}
    )
    sdf = spark.createDataFrame(pdf)
    got_spark = {
        r["doc_id"]: r["nt"]
        for r in sdf.select(
            "doc_id", normalize_text("text").alias("nt")
        ).collect()
    }
    con = duckdb.connect()
    con.register("docs", pdf)
    got_duck = dict(
        con.execute(
            """
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))
            FROM docs
            """
        ).fetchall()
    )
    assert got_spark == got_duck


def test_normalize_text_matches_lower_on_every_code_point(spark):
    """normalize_text folds case without ``lower()``; over every code
    point but the surrogates, alone and between ASCII letters, and on
    a few mixed strings, it equals the ``lower()`` form it replaced."""
    from projet_big_data_boutin_danre_spark.functions.hashing import (
        normalize_text,
    )

    def by_lower(c):
        return F.trim(F.regexp_replace(
            F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "), " +", " "
        ))

    cps = (
        spark.range(0x110000)
        .filter(~F.col("id").between(0xD800, 0xDFFF))
        # big-endian UTF-32 after a leading "A", so that U+FEFF is not
        # taken for a byte-order mark
        .select(F.expr(
            "substr(decode(unhex(concat('00000041', lpad(hex(id), 8, '0'))),"
            " 'UTF-32'), 2)"
        ).alias("c"))
    )
    mixed = spark.createDataFrame(
        [("ΟΔΟΣ ΣΟΦΟΣ",), ("İstanbul",), ("Straße STRASSE",),
         ("\u212aelvin 42\u212a",), ("ǅemal",)],
        "c string",
    )
    texts = cps.select(
        "c", F.concat(F.lit("a"), "c", F.lit("B")).alias("acb")
    ).unionByName(mixed.select("c", F.col("c").alias("acb")))

    def differs(c):
        return ~normalize_text(F.col(c)).eqNullSafe(by_lower(F.col(c)))

    row = texts.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.length("c") == 0).alias("undecoded"),
        F.count_if(differs("c") | differs("acb")).alias("diff"),
    ).first()
    assert row["n"] == 0x110000 - 0x800 + 5
    assert row["undecoded"] == 0
    assert row["diff"] == 0


# r9 battery: line/sentence/word structure — tabs, VT/FF, bullets,
# unicode ellipsis, mixed terminators, unterminated tails
STRUCTURED = [
    "",
    " ",
    "plain words only",
    "tab\tseparated\twords here",
    "line one\nline two\nline three",
    "trailing spaces   \n   leading spaces",
    "- bullet\n* star\n  - indented bullet\nprose line",
    "ends with dots...\nends with unicode…\nclean end.",
    "Multi. Sentence! Text? And a tail without end",
    "double..dots and ...leading",
    "vertical\x0btab and form\x0cfeed",
    "empty\n\nline between\n\n\ntriples",
    "the quick of and that be to with have",
    "Thé unicode wörds café",
    "a.b.c.d",
    "!!!",
    "word " * 30,
    "x\n" * 10,
]


def test_clean_word_and_sentence_regexes_agree(spark):
    """The r9 structure regexes feed hash-compared slots: the word
    class (clean_lines/gopher), the exhaustive sentence pattern (C4),
    and the bullet/ellipsis line classes must count identically in
    Java regex and RE2."""
    from projet_big_data_boutin_danre_spark.operators.text import (
        CLEAN_WORD_RE,
    )
    from projet_big_data_boutin_danre_spark.operators.dedup import (
        SENTENCE_RE,
    )

    pdf = pd.DataFrame(
        {"doc_id": range(len(STRUCTURED)), "text": STRUCTURED}
    )
    sdf = spark.createDataFrame(pdf)
    got_spark = {
        r["doc_id"]: (r["nw"], r["ns"], r["sj"], r["nb"], r["ne"], r["pp"])
        for r in sdf.select(
            "doc_id",
            F.size(
                F.regexp_extract_all("text", F.lit(CLEAN_WORD_RE), F.lit(0))
            ).alias("nw"),
            F.size(
                F.regexp_extract_all("text", F.lit(SENTENCE_RE), F.lit(0))
            ).alias("ns"),
            F.md5(
                F.concat_ws(
                    "",
                    F.regexp_extract_all(
                        "text", F.lit(SENTENCE_RE), F.lit(0)
                    ),
                )
            ).alias("sj"),
            F.size(
                F.filter(
                    F.split("text", "\n"),
                    lambda x: x.rlike(r"^[ \t]*[-*•]"),
                )
            ).alias("nb"),
            F.size(
                F.filter(
                    F.split("text", "\n"),
                    lambda x: x.rlike(r"(\.\.\.|…)[ \t]*$"),
                )
            ).alias("ne"),
            # paragraph split (graded via g_dup_paras): Spark's regex
            # split on "\n\n" must partition exactly like DuckDB's
            # two-char literal separator, including \n\n\n runs
            F.md5(
                F.concat_ws("\x1f", F.split("text", "\n\n"))
            ).alias("pp"),
        ).collect()
    }
    con = duckdb.connect()
    con.register("docs", pdf)
    got_duck = {
        row[0]: tuple(row[1:])
        for row in con.execute(
            r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[^ \t\f\r\x0B\n]+')) AS INT),
                   CAST(len(regexp_extract_all(text,
                        '[^.!?]*[.!?]+|[^.!?]+$')) AS INT),
                   -- coalesce: an empty match list string_aggs to
                   -- NULL in DuckDB but concat_ws's '' in Spark —
                   -- the graded twins coalesce for the same reason
                   md5(coalesce(array_to_string(regexp_extract_all(
                        text, '[^.!?]*[.!?]+|[^.!?]+$'), ''), '')),
                   CAST(len(list_filter(string_split(text, chr(10)),
                        x -> regexp_matches(x, '^[ \t]*[-*•]')))
                        AS INT),
                   CAST(len(list_filter(string_split(text, chr(10)),
                        x -> regexp_matches(x, '(\.\.\.|…)[ \t]*$')))
                        AS INT),
                   md5(coalesce(array_to_string(string_split(text,
                        chr(10) || chr(10)), chr(31)), ''))
            FROM docs ORDER BY doc_id
            """
        ).fetchall()
    }
    assert got_spark == got_duck
