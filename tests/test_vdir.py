"""The per-doc postings-bucket-set column on doclens — the victim
directory for text/profile in-place maintenance (r9 verdict wrong-#3 /
missing-#2): victim lookup must read only the batch ids' dbucket
partitions of the doclens relation plus the victim BUCKETS of the
postings — never a full postings projection — and the bucket sets must
track the postings' (id, bucket) pairs exactly through every lifecycle
op.  Stored as an array column rather than a separate relation so it
rides the doclens reads/writes every op already performs (and query-side
doclens scans column-prune it away)."""

from __future__ import annotations

import re
import shutil

import pyspark.sql.functions as F

from azuredatalakeindexer_spark.sources.fixtures import load_table
from azuredatalakeindexer_spark.sources.text_index import (
    build_text_index,
    delete_from_text_index,
    query_text_index,
    upsert_text_index,
)

SF = "/root/testdata/sf0.001"
TERMS = ["merge", "query", "stream"]


def _docs(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _bset_pairs(spark, path):
    return sorted(
        (r["doc_id"], int(r["b"]))
        for r in spark.read.parquet(f"{path}/doclens")
        .select("doc_id", F.explode("buckets").alias("b"))
        .collect()
    )


def _postings_pairs(spark, path):
    return sorted(
        (r["doc_id"], int(r["bucket"]))
        for r in spark.read.parquet(f"{path}/postings")
        .select("doc_id", "bucket")
        .distinct()
        .collect()
    )


def _strip_buckets(spark, path, schema_cols):
    """Rewrite doclens WITHOUT the buckets column — simulates an index
    built before the victim-directory column existed."""
    legacy = (
        spark.read.parquet(f"{path}/doclens").select(*schema_cols).collect()
    )
    shutil.rmtree(f"{path}/doclens")
    df = spark.createDataFrame(legacy)
    df.repartition("dbucket").write.partitionBy("dbucket").parquet(
        f"{path}/doclens"
    )


def test_bucket_sets_track_postings_through_lifecycle(spark, tmp_path):
    """exploded doclens.buckets == distinct postings (id, bucket) through
    build, upsert (moved/zero-token replacements included), delete,
    delete-all sentinel, and the post-sentinel upsert."""
    docs = _docs(spark)
    path = str(tmp_path / "ti")
    build_text_index(docs, path, n_buckets=16)
    assert _bset_pairs(spark, path) == _postings_pairs(spark, path)

    delta = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.lit("merge vdir rewrite").alias("text")
    ).unionByName(
        spark.createDataFrame(
            [(99999, "fresh vdir doc"), (99998, "")],  # insert + zero-token
            "doc_id long, text string",
        )
    )
    upsert_text_index(spark, path, delta, n_buckets=16)
    assert _bset_pairs(spark, path) == _postings_pairs(spark, path)
    # the zero-token doc has a doclens row with an EMPTY bucket set
    r = (
        spark.read.parquet(f"{path}/doclens")
        .where(F.col("doc_id") == 99998)
        .first()
    )
    assert r is not None and r["dl"] == 0 and list(r["buckets"]) == []

    dead = docs.select("doc_id").where(F.col("doc_id") % 3 == 0)
    delete_from_text_index(spark, path, dead, n_buckets=16)
    assert _bset_pairs(spark, path) == _postings_pairs(spark, path)

    # delete-all → sentinel; post-sentinel upsert routes back
    live = spark.read.parquet(f"{path}/doclens").select("doc_id")
    delete_from_text_index(spark, path, live, n_buckets=16)
    assert spark.read.parquet(f"{path}/doclens").count() == 0
    upsert_text_index(spark, path, docs.limit(20), n_buckets=16)
    assert _bset_pairs(spark, path) == _postings_pairs(spark, path)
    assert len(_bset_pairs(spark, path)) > 0


def test_victim_lookup_is_statically_pruned(spark, tmp_path):
    """Two static prunings: the bucket-set lookup reads only the batch
    ids' doclens dbucket partitions, and the postings victim scan reads
    only the buckets the lookup reported — PartitionFilters on both."""
    from azuredatalakeindexer_spark.sources.profile_index import _victim_buckets

    docs = _docs(spark)
    path = str(tmp_path / "ti")
    build_text_index(docs, path, n_buckets=16)

    dl = docs.where(F.col("doc_id").isin([4, 8])).select("doc_id")
    dkeys = F.broadcast(dl)
    dbs = [
        r["b"]
        for r in dl.select(
            F.pmod(F.hash(F.col("doc_id")), F.lit(16)).alias("b")
        ).distinct().collect()
    ]
    probe = (
        spark.read.parquet(f"{path}/doclens")
        .where(F.col("dbucket").isin(dbs))
        .join(dkeys, "doc_id", "left_semi")
        .select(F.explode("buckets").alias("b"))
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*dbucket[^\]]*(?:IN|=)", plan), plan

    vic = _victim_buckets(spark, path, dkeys, dbs, "doc_id")
    assert vic is not None and 0 < len(vic) <= 16
    vscan = spark.read.parquet(f"{path}/postings").where(
        F.col("bucket").isin(vic)
    )
    plan = vscan._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*bucket[^\]]*(?:IN|=)", plan), plan


def test_legacy_index_falls_back_and_compact_upgrades(spark, tmp_path):
    """An index whose doclens predates the buckets column maintains via
    the full-projection fallback with identical results — and compaction
    REBUILDS the doclens with the column, upgrading legacy indexes."""
    from azuredatalakeindexer_spark.sources.text_index import (
        compact_text_index,
        upsert_text_index_segmented,
    )

    docs = _docs(spark)
    modern, legacy = str(tmp_path / "m"), str(tmp_path / "l")
    for p in (modern, legacy):
        build_text_index(docs, p, n_buckets=16)
    _strip_buckets(spark, legacy, ["doc_id", "field", "dl", "dbucket"])
    assert "buckets" not in spark.read.parquet(f"{legacy}/doclens").columns

    delta = docs.where(F.col("doc_id") % 4 == 0).select(
        "doc_id", F.lit("legacy merge text").alias("text")
    )
    dead = docs.select("doc_id").where(F.col("doc_id") % 7 == 0)
    for p in (modern, legacy):
        upsert_text_index(spark, p, delta, n_buckets=16)
        delete_from_text_index(spark, p, dead, n_buckets=16)
    a = _rows(query_text_index(spark, modern, TERMS, k=20, n_buckets=16))
    b = _rows(query_text_index(spark, legacy, TERMS, k=20, n_buckets=16))
    assert a == b and len(a) == 20
    # legacy stays legacy through in-place maintenance
    assert "buckets" not in spark.read.parquet(f"{legacy}/doclens").columns

    # compaction resolves the postings anyway — it installs the column
    seg_delta = docs.where(F.col("doc_id") % 9 == 0).select(
        "doc_id", F.lit("segmented merge row").alias("text")
    )
    upsert_text_index_segmented(spark, legacy, seg_delta, n_buckets=16)
    compact_text_index(spark, legacy, n_buckets=16)
    assert "buckets" in spark.read.parquet(f"{legacy}/doclens").columns
    assert _bset_pairs(spark, legacy) == _postings_pairs(spark, legacy)
    # and in-place maintenance now takes the pruned path with equal results
    upsert_text_index(spark, legacy, delta, n_buckets=16)
    assert _bset_pairs(spark, legacy) == _postings_pairs(spark, legacy)


def test_profile_bucket_sets_track_postings_through_lifecycle(spark, tmp_path):
    """The multi-field index: exploded per-field bucket sets == distinct
    postings (id, bucket) through build, upsert, and delete — and served
    results equal the scan-time profile over the logical corpus."""
    from azuredatalakeindexer_spark.operators.search import scoring_profile_topk
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        delete_from_profile_index,
        query_profile_index,
        upsert_profile_index,
    )

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    path = str(tmp_path / "pidx")
    build_profile_index(
        docs, path, field_cols=["text", "source"], attr_cols=["n_chars"],
        n_buckets=16,
    )

    def bset_pairs():
        return sorted(
            set(
                (r["doc_id"], int(r["b"]))
                for r in spark.read.parquet(f"{path}/doclens")
                .select("doc_id", F.explode("buckets").alias("b"))
                .collect()
            )
        )

    assert bset_pairs() == _postings_pairs(spark, path)

    delta = docs.where(F.col("doc_id") % 4 == 0).select(
        "doc_id",
        F.concat(F.lit("merge profile "), F.col("text")).alias("text"),
        F.lit("src1").alias("source"),
        (F.col("n_chars") + 1).alias("n_chars"),
    )
    upsert_profile_index(spark, path, delta)
    assert bset_pairs() == _postings_pairs(spark, path)

    dead = docs.select("doc_id").where(F.col("doc_id") % 5 == 0)
    delete_from_profile_index(spark, path, dead)
    assert bset_pairs() == _postings_pairs(spark, path)

    logical = (
        docs.join(delta.select("doc_id"), "doc_id", "left_anti")
        .unionByName(delta)
        .join(dead, "doc_id", "left_anti")
    )
    prof = {"text": (["merge", "query", "stream"], 2.0)}
    assert _rows(query_profile_index(spark, path, prof, k=20)) == _rows(
        scoring_profile_topk(logical, prof, k=20)
    )
