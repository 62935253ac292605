"""Skew-resilience probe for the persisted text index (VERDICT r6 #9).

The postings bucket key is ``hash(term) % n_buckets``, so a Zipf head term
("the") puts its ENTIRE postings list — df ~= n_docs rows — into one bucket.
This tool measures whether that matters: it synthesizes a corpus with a
true Zipf(s=1) term distribution over a large vocabulary (the driver
fixtures' 31-word vocab is near-uniform and cannot show the effect), builds
the index, and reports

- per-bucket postings row counts and bytes (max / median / head-bucket);
- head-term vs tail-term query latency;
- the same corpus with per-doc-salted postings WRITES (repartition by
  (bucket, id-salt)) to show write-task balance, layout unchanged.

Usage::

    python tools/skew_probe.py [n_docs] [vocab] [out_json]

Deterministic (hash-derived, no RNG state).  Findings feed SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from azuredatalakeindexer_spark.session import get_spark


def zipf_docs(spark, n_docs: int, vocab: int):
    """``(doc_id, text)`` where each of the 20-60 words per doc is drawn
    log-uniformly over term ranks — P(rank r) ~ 1/r, true Zipf s=1.  Term
    rank 1 appears in ~every doc; median terms in a handful."""
    d = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    n_words = (F.pmod(F.hash("doc_id", F.lit("nw")), F.lit(41)) + 20).cast("int")
    # u in [0,1) -> rank = floor(exp(u * ln(vocab))) in [1, vocab)
    u = lambda i: (
        F.pmod(F.hash(F.col("doc_id"), i, F.lit("zu")), F.lit(1_000_003)) / 1_000_003.0
    )
    rank = lambda i: F.floor(F.exp(u(i) * float(__import__("math").log(vocab)))).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.concat(F.lit("t"), rank(i).cast("string")),
    )
    return d.select("doc_id", F.concat_ws(" ", words).alias("text"))


def bucket_stats(spark, path: str) -> dict:
    rows = (
        spark.read.parquet(f"{path}/postings")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = sorted(r["n"] for r in rows)
    import glob

    sizes = {}
    for d in glob.glob(f"{path}/postings/bucket=*"):
        b = int(d.rsplit("=", 1)[1])
        sizes[b] = sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
    bsizes = sorted(sizes.values())
    med = counts[len(counts) // 2]
    return {
        "n_buckets_occupied": len(counts),
        "rows_median": med,
        "rows_max": counts[-1],
        "rows_max_over_median": round(counts[-1] / max(med, 1), 2),
        "bytes_median": bsizes[len(bsizes) // 2],
        "bytes_max": bsizes[-1],
    }


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    vocab = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    out_json = sys.argv[3] if len(sys.argv) > 3 else None
    spark = get_spark("skew_probe")
    spark.sparkContext.setLogLevel("ERROR")

    from azuredatalakeindexer_spark.sources.profile_index import _py_bucket
    from azuredatalakeindexer_spark.sources.text_index import (
        build_text_index,
        query_text_index,
    )

    docs = zipf_docs(spark, n_docs, vocab).localCheckpoint()
    tmp = tempfile.mkdtemp(prefix="skew_probe_")
    out: dict = {"n_docs": n_docs, "vocab": vocab, "n_buckets": 64}
    try:
        t0 = time.time()
        build_text_index(docs, f"{tmp}/ti", n_buckets=64)
        out["build_sec"] = round(time.time() - t0, 2)
        out["postings_buckets"] = bucket_stats(spark, f"{tmp}/ti")
        out["head_term_bucket"] = _py_bucket("t1", 64)
        df_head = (
            spark.read.parquet(f"{tmp}/ti/postings")
            .where(F.col("term") == "t1")
            .count()
        )
        out["head_term_df"] = df_head
        out["head_term_df_frac_of_docs"] = round(df_head / n_docs, 3)

        def timed_query(terms):
            t0 = time.time()
            query_text_index(spark, f"{tmp}/ti", terms, k=10, n_buckets=64).count()
            return round(time.time() - t0, 2)

        timed_query(["t7"])  # warm the query path once
        out["query_head_term_sec"] = timed_query(["t1"])
        out["query_mid_term_sec"] = timed_query([f"t{vocab // 100}"])
        out["query_tail_term_sec"] = timed_query([f"t{vocab - 7}"])

        # salted write: same layout (partitionBy bucket), but the shuffle
        # key spreads each bucket's rows over 8 writer tasks so the head
        # bucket is not a single-task straggler
        base = docs.select(
            "doc_id",
            F.filter(
                F.split(F.lower("text"), r"\s+"), lambda t: t != ""
            ).alias("_toks"),
        )
        postings = (
            base.select("doc_id", F.explode("_toks").alias("term"))
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64(F.col("term"), F.lit(0)), F.lit(64)),
            )
        )
        t0 = time.time()
        postings.repartition(
            F.col("bucket"), F.pmod(F.hash("doc_id"), F.lit(8))
        ).write.mode("overwrite").partitionBy("bucket").parquet(f"{tmp}/salted")
        out["salted_write_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        postings.repartition(F.col("bucket")).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(f"{tmp}/unsalted")
        out["unsalted_write_sec"] = round(time.time() - t0, 2)
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out, indent=1))
    if out_json:
        with open(out_json, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
