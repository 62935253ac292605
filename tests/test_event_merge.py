"""Event drains into a listing-seeded path index: the listing writers
(``listing_to_path_rows``, ``document_lake_path_index``) emit no ``_seq``
column, and the event merge must still union and resolve last-writer-wins
against those rows."""

from __future__ import annotations

import pyspark.sql.functions as F

from azuredatalakeindexer_spark.operators.mapper import listing_to_path_rows
from azuredatalakeindexer_spark.streaming.events import run_event_stream_upsert

T0, T1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"
LISTED = "2024-03-01 00:00:00"  # lastModified stamp of the listing rows
NOW = "2024-06-01 00:00:00"  # lastModified stamp of the event rows
HOST = "https://acct.dfs.core.windows.net/stuff-large"


def test_blob_created_events_merge_into_listing_seeded_index(spark, tmp_path):
    listing = spark.createDataFrame(
        [("a.json", False, T0), ("b.json", False, T1), ("c.json", False, T1)],
        "name string, isDirectory boolean, lastModified string",
    ).withColumn("lastModified", F.col("lastModified").cast("timestamp"))
    pi = str(tmp_path / "path_index")
    seeded = listing_to_path_rows(listing, now=F.lit(LISTED).cast("timestamp"))
    assert "_seq" not in seeded.columns
    seeded.write.parquet(pi)

    events = spark.createDataFrame(
        [
            (1, "Microsoft.Storage.BlobCreated", T1, f"{HOST}/a.json"),  # newer
            (2, "Microsoft.Storage.BlobCreated", T1, f"{HOST}/b.json"),  # tie
            (3, "Microsoft.Storage.BlobCreated", T0, f"{HOST}/c.json"),  # older
            (4, "Microsoft.Storage.BlobCreated", T0, f"{HOST}/d.json"),  # new path
        ],
        "event_id long, eventType string, eventTime string, url string",
    ).withColumn("eventTime", F.col("eventTime").cast("timestamp"))
    events_dir = str(tmp_path / "events")
    events.write.parquet(events_dir)
    run_event_stream_upsert(
        spark,
        events_dir,
        spark.read.parquet(events_dir).schema,
        pi,
        str(tmp_path / "deleted_index"),
        str(tmp_path / "ckpt"),
        now=NOW,
    )

    got = {
        r["pathUrlEncoded"]: (str(r["fileLastModified"]), str(r["lastModified"]), r["_seq"])
        for r in spark.read.parquet(pi).collect()
    }
    assert got == {
        "a.json": (T1, NOW, 1),  # the newer event replaces the listed row
        "b.json": (T1, NOW, 2),  # tie: the event row (non-null _seq) wins
        "c.json": (T1, LISTED, None),  # the older event loses
        "d.json": (T0, NOW, 4),  # a path the listing never saw is inserted
    }
