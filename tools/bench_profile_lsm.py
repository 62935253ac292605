"""Measure profile-index maintenance at sf1: in-place vs segmented (LSM),
with the per-segment QUERY read-tax on the matrix.

Methodology identical to BENCH_profile_lsm_r10.json (committed 096c34a):
50k documents (the /tmp/bench_sf1 fixture built by tools/make_true_sf.py),
a 64-bucket two-field profile index, 8 sequential ~1% replacement batches
per mode; after every batch the scoring profile is served and timed.
Segmented mode ends with one compaction + a post-compact query.

The r10 run measured a ~0.9 s/segment query slope (5.5 -> 12.3 s over 8
segments) — the per-segment plan/listing fixed cost of assembling one
DataFrame per segment.  r11 consolidates every segment read into one
path-pruned multi-path scan (profile_segments._seg_union), so this tool is
the done-bar evidence for VERDICT r10 next-#3 (slope <= ~0.3 s/segment).

Usage: python tools/bench_profile_lsm.py [sf_dir] [n_batches]
Prints one JSON document; committed as BENCH_profile_lsm_r{N}.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark.sql.functions as F  # noqa: E402

N_BUCKETS = 64
PROFILE = {"text": (["query", "merge", "stream"], 2.0), "source": (["src1"], 1.0)}
BOOST = ("n_chars", 0.5, 200.0, 800.0)


def _query(spark, path):
    from azuredatalakeindexer_spark.sources.profile_index import (
        query_profile_index,
    )

    t0 = time.time()
    query_profile_index(spark, path, PROFILE, boost=BOOST, k=20).collect()
    return round(time.time() - t0, 2)


def run_mode(spark, docs, mode: str, n_batches: int) -> dict:
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        upsert_profile_index,
    )
    from azuredatalakeindexer_spark.sources.profile_segments import (
        compact_profile_index,
        upsert_profile_index_segmented,
    )

    root = tempfile.mkdtemp(prefix=f"plsm_{mode}_")
    out = {"mode": mode, "upsert_s_by_batch": [], "query_s_by_batch": []}
    try:
        t0 = time.time()
        build_profile_index(
            docs,
            root,
            field_cols=["text", "source"],
            attr_cols=["n_chars", "source"],
            n_buckets=N_BUCKETS,
        )
        out["build_s"] = round(time.time() - t0, 2)
        for i in range(n_batches):
            delta = (
                docs.where(F.col("doc_id") % 100 == i)
                .withColumn("text", F.concat(F.lit(f"rev{i} fresh "), F.col("text")))
                .localCheckpoint()
            )
            t0 = time.time()
            if mode == "inplace":
                upsert_profile_index(spark, root, delta).collect()
            else:
                upsert_profile_index_segmented(spark, root, delta).collect()
            out["upsert_s_by_batch"].append(round(time.time() - t0, 2))
            out["query_s_by_batch"].append(_query(spark, root))
        if mode == "segmented":
            t0 = time.time()
            out["segments_compacted"] = compact_profile_index(spark, root)
            out["compact_s"] = round(time.time() - t0, 2)
            out["query_post_compact_s"] = _query(spark, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    from azuredatalakeindexer_spark.session import get_spark
    from azuredatalakeindexer_spark.sources.fixtures import load_table

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bench_sf1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark("bench_profile_lsm")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    ).localCheckpoint()
    n_docs = docs.count()
    result = {
        "sf": sf_dir,
        "n_docs": n_docs,
        "n_buckets": N_BUCKETS,
        "batches": [
            run_mode(spark, docs, "inplace", n_batches),
            run_mode(spark, docs, "segmented", n_batches),
        ],
    }
    print(json.dumps(result, indent=1), flush=True)


if __name__ == "__main__":
    main()
