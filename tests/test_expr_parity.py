"""The r14 py4j-latency rewrite builds the BM25 scoring trees as SQL
strings (one F.expr parse) instead of per-term Column chains.  The broad
bit-identity pins live in test_profile_index.py / test_docstore.py
(index serving vs the Column-built scan-time operators); this file pins
the two new failure modes the string path introduces: literal escaping
and exact double round-trip through the SQL lexer."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from azuredatalakeindexer_spark.sources.profile_index import _sqld, _sqlstr

TRICKY_STRINGS = [
    "plain",
    "it's",
    "back\\slash",
    "both\\'mixed",
    "two''quotes",
    "tab\there",
    "per%cent_under",
]

TRICKY_DOUBLES = [
    0.5,
    1.2,
    0.75,
    2.2,
    1.0 / 3.0,
    1e-17,
    12345.678901234567,
    math.pi,
    2.0 - 0.75,  # the 1-b style derived constant
]


def test_sqlstr_roundtrips_through_the_lexer(spark):
    for s in TRICKY_STRINGS:
        got = spark.sql(f"SELECT '{_sqlstr(s)}' AS v").collect()[0]["v"]
        assert got == s, (s, got)


def test_sqld_is_bit_exact_through_the_parser(spark):
    for v in TRICKY_DOUBLES:
        row = spark.sql(f"SELECT {_sqld(v)} AS v").collect()[0]
        assert row["v"] == v
        # bit-identical, not merely ==-equal
        import struct

        assert struct.pack("<d", row["v"]) == struct.pack("<d", v)


def test_expr_contrib_tree_matches_column_tree(spark):
    """The per-term BM25 contribution parsed from SQL must produce values
    bit-identical to the Column-chain construction it replaced
    (query_text_index's contrib shape)."""
    k1, b = 1.2, 0.75
    rows = [
        ("d1", "apple", 3, 11, 100, 7, 9.5),
        ("d2", "apple", 1, 3, 100, 7, 9.5),
        ("d2", "pear", 2, 3, 100, 1, 9.5),
        ("d3", "pear", 5, 29, 100, 1, 9.5),
    ]
    df = spark.createDataFrame(
        rows, "id string, term string, tf long, dl long, n_docs long, df long, avgdl double"
    )
    column_built = (
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        )
        * F.col("tf").cast("double")
        * F.lit(k1 + 1.0)
    ) / (
        F.col("tf").cast("double")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    sql_built = F.expr(
        f"((ln({_sqld(1.0)} + (((n_docs - df) + {_sqld(0.5)}) / "
        f"(df + {_sqld(0.5)}))) * CAST(tf AS DOUBLE)) * {_sqld(k1 + 1.0)}) / "
        f"(CAST(tf AS DOUBLE) + ({_sqld(k1)} * ({_sqld(1.0 - b)} + "
        f"((({_sqld(b)} * dl)) / avgdl))))"
    )
    got = df.select("id", "term", column_built.alias("a"), sql_built.alias("s")).collect()
    import struct

    for r in got:
        assert struct.pack("<d", r["a"]) == struct.pack("<d", r["s"]), r
