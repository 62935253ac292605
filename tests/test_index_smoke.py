"""Default-suite round trips through the persisted indexes (the lifecycle
suites are ``slow``): the text index's build → upsert → delete → query
path against the scan-time BM25, and IVF / IVF-PQ maintenance fed by a
nondeterministic caller frame."""

from __future__ import annotations

import pyspark.sql.functions as F

from azuredatalakeindexer_spark.operators.search import bm25_topk
from azuredatalakeindexer_spark.sources.fixtures import load_table
from tests.conftest import SF_DIR

TERMS = ["merge", "query", "stream"]


def _rows(df, score="bm25"):
    return [(r["doc_id"], r[score]) for r in df.collect()]


def test_text_index_round_trip_matches_scan_bm25(spark, tmp_path):
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        delete_from_text_index,
        query_text_index,
        upsert_text_index,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    path = str(tmp_path / "ti")
    build_text_index(docs.where(F.col("doc_id") % 10 != 0), path, n_buckets=8)
    delta = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" merge stream")).alias("text")
    )
    st = {r["doc_id"]: r["status"] for r in upsert_text_index(spark, path, delta, n_buckets=8).collect()}
    assert {s for i, s in st.items() if i % 10 == 0} == {201}
    assert {s for i, s in st.items() if i % 10 != 0} == {200}
    dead = docs.select("doc_id").where(F.col("doc_id") % 7 == 0)
    removed = delete_from_text_index(spark, path, dead, n_buckets=8)

    logical = (
        docs.where(F.col("doc_id") % 10 != 0)
        .join(delta.select("doc_id"), "doc_id", "left_anti")
        .unionByName(delta)
        .join(dead, "doc_id", "left_anti")
    )
    indexed = docs.where(F.col("doc_id") % 10 != 0).select("doc_id").union(
        delta.select("doc_id")
    )
    assert removed == indexed.distinct().join(dead, "doc_id", "left_semi").count()
    got = _rows(query_text_index(spark, path, TERMS, k=20, n_buckets=8))
    assert got == _rows(bm25_topk(logical, TERMS, k=20)) and len(got) == 20


def test_ann_maintenance_with_nondeterministic_delta_leaves_no_stale_postings(
    spark, tmp_path
):
    """A delta built with rand() after a shuffle re-evaluates to a
    different row set each time it runs.  Upserts and deletes must
    derive every victim lookup from the ONE checkpointed evaluation:
    afterwards each surviving id has exactly one posting (and one PQ
    code), never a stale copy in its old cell."""
    from azuredatalakeindexer_spark.sources.ann_index import (
        build_ivf_index,
        build_pq_index,
        delete_from_ivf_index,
        delete_from_pq_index,
        upsert_ivf_index,
        upsert_pq_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    neg = F.transform(F.col("embedding"), lambda x: -x).alias("embedding")
    delta = emb.repartition(8, "vec_id").where(F.rand() < 0.5).select("vec_id", neg)
    dead = emb.select("vec_id").repartition(8, "vec_id").sample(fraction=0.2)

    def one_row_per_id(rel_path, key=("vec_id",)):
        """ids of a relation holding ONE row per ``key`` (postings: per id;
        PQ codes: per (id, subspace))"""
        keys = [tuple(r) for r in spark.read.parquet(rel_path).select(*key).collect()]
        assert len(keys) == len(set(keys)), rel_path
        return {k[0] for k in keys}

    ivf = str(tmp_path / "ivf")
    build_ivf_index(emb, ivf, n_centroids=8, n_dbuckets=16)
    upsert_ivf_index(spark, ivf, delta).collect()
    assert one_row_per_id(f"{ivf}/postings") == all_ids
    removed = delete_from_ivf_index(spark, ivf, dead)
    left = one_row_per_id(f"{ivf}/postings")
    assert len(all_ids) - len(left) == removed and left <= all_ids

    pq = str(tmp_path / "pq")
    build_pq_index(emb, pq, n_centroids=8, m=4, k_pq=16, n_dbuckets=16)
    upsert_pq_index(spark, pq, delta).collect()
    assert one_row_per_id(f"{pq}/postings") == all_ids
    assert one_row_per_id(f"{pq}/codes", ("vec_id", "sub")) == all_ids
    removed = delete_from_pq_index(spark, pq, dead)
    left = one_row_per_id(f"{pq}/postings")
    assert one_row_per_id(f"{pq}/codes", ("vec_id", "sub")) == left
    assert len(all_ids) - len(left) == removed
