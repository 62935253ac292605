"""Segmented (LSM) maintenance for the multi-field index — the scale
ingest path.

WHY A SECOND MAINTENANCE PATH.  The in-place upsert rewrites every
postings bucket touched by the batch.  A text batch's DISTINCT TERMS
cover ~every term bucket of a Zipf-ish corpus (500 docs x ~40 words hit
all 64 — or all 4096 — buckets), so "affected buckets" degenerates to the
whole index: the true-sf1 bench measured the 1% in-place text upsert at
5.41 s vs a 3.28 s full rebuild (`BENCH_sf1_r07.json`).  No bucket count
fixes that; it is structural to term-partitioned in-place rewrites.  The
scalable design — the one Lucene/Elasticsearch actually use — is
segments, and the reference's continuous watch-lake → upsert-index loop
(`DatalakePathIndexerFunc/PathIndexerFunc.cs:18-36`) is exactly that
workload:

- `upsert_profile_index_segmented` — the batch lands as an immutable
  O(batch) segment ``segments/seg=K/{postings,doclens,docvals,docstore}``
  (same inner layout as the base, which acts as segment 0);
- `delete_from_profile_index_segmented` — a tombstone-only segment
  ``segments/seg=K/tombstones``;
- `compact_profile_index` — folds every segment back into the base
  (content-identical to a fresh ``build_profile_index`` of the logical
  corpus, test-pinned), terms rollup included;
- query-side liveness is resolved per DOCUMENT (an upsert replaces a
  doc's EVERY field, so the max-segment rule is doc-level): a document's
  authoritative rows are those of its highest doclens segment, alive iff
  that id exceeds the doc's highest tombstone segment (re-adding a
  deleted doc works because the new row outranks the old tombstone).
  Resolution is one map-side-combinable max aggregate over candidate
  doclens rows — no window shuffle — and postings join the alive set on
  ``(doc_id, seg)`` so stale postings drop out without ever being
  rewritten.  Every serve entry point auto-detects segments.

``fieldstats`` stays EXACT through every op (per-field n_docs/sum_dl
advanced by the batch's created/replaced deltas — exact bigints, avgdl =
sum/n is the same division ``avg`` performs), so scores remain
bit-identical to a fresh build of the logical corpus at every point.
The ``terms`` rollup is stale while segments are pending, so vocabulary
serves recount df from live postings until compaction.  Segment writes
stage and promote under the journaled commit and lease discipline of
`sources/staging.py`.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from azuredatalakeindexer_spark.sources.ann_index import (
    _hadoop_fs,
    hadoop_path_exists,
)

#: base layout acts as this segment id; real segments start at 1
BASE_SEG = 0


def list_segments(spark: SparkSession, path: str) -> list[int]:
    """Sorted ids of the extra segments under ``<path>/segments`` (the base
    layout is segment 0 and is not listed).  One FS list call."""
    seg_root = f"{path}/segments"
    fs, hroot = _hadoop_fs(spark, seg_root)
    if not fs.exists(hroot):
        return []
    out = []
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("seg="):
            out.append(int(name[4:]))
    return sorted(out)


def _seg_dir(path: str, seg: int) -> str:
    return f"{path}/segments/seg={seg}"


def _read_or_empty(spark: SparkSession, p: str, schema: str) -> DataFrame:
    """Read a maybe-absent parquet relation (tombstones / postings of a
    delete-only segment) as a typed frame."""
    if hadoop_path_exists(spark, p):
        return spark.read.parquet(p)
    return spark.createDataFrame([], schema)


def _seg_union(
    spark: SparkSession,
    path: str,
    segs: list[int],
    rel: str,
    schema,
    prune: dict[str, list] | None = None,
):
    """Every segment's ``rel`` relation in ONE multi-path parquet read,
    with segment provenance recovered from the path (``seg=K`` is already
    a directory component of the layout, so this is a pure read-side
    change — no format migration).  Replaces the one-DataFrame-per-segment
    union loops whose per-segment plan/listing fixed cost was the LSM
    read-tax (r10 verdict wrong-#3: ~0.9 s of per-QUERY overhead per
    segment on the profile surface): with a single relation the slope is
    one driver-side ``listStatus`` per segment plus one scan node, and
    every downstream filter (term pushdown, dbucket) prunes across ALL
    segments in one plan.

    Missing per-segment relations (tombstones of an upsert-only segment,
    docvals/docstore of a delete) are skipped by one driver-side existence
    probe each.  ``schema`` (DDL string or StructType) is the FILE schema
    including partition columns — passed explicitly so no footer
    inference runs; the returned frame adds ``seg int``.

    ``prune`` maps a path-partition column (``bucket``/``dbucket``) to the
    wanted value list; the segment's partition directories are then pruned
    STATICALLY at path-selection time (the driver lists each segment's
    ``col=v`` children once and only the wanted directories enter the
    scan's file index), preserving the "|segments| pruned scans, never
    |segments| full scans" guarantee the unsegmented reads have via
    PartitionFilters.

    Why not one read with real partition discovery: the ``seg=K``
    directory component ABOVE each relation dir makes Spark infer
    conflicting partition roots across the multi-path read
    (CONFLICTING_DIRECTORY_STRUCTURES).  With recursiveFileLookup the
    discovery is off, so the relations' own partition columns (postings
    are written ``partitionBy("bucket")``, doclens/docvals/docstore
    ``partitionBy("dbucket")``) are recovered from the file path exactly
    like ``seg`` — a regexp over the hidden ``_metadata.file_path``
    column, NOT ``input_file_name()``: the latter is classified
    non-deterministic, which blocks every downstream data filter (the
    term IN-list above all) from being pushed through the projection to
    the parquet reader; ``_metadata`` is a real deterministic column, so
    ``PushedFilters`` stay intact."""
    full = spark.createDataFrame([], schema).schema
    part_names = {f.name for f in full.fields if f.name in ("bucket", "dbucket")}
    prune = {k: {str(v) for v in vs} for k, vs in (prune or {}).items()}

    paths = []
    for s in segs:
        p = f"{_seg_dir(path, s)}/{rel}"
        fs, hpath = _hadoop_fs(spark, p)
        if not fs.exists(hpath):
            continue
        pruned_here = False
        for col, wanted in prune.items():
            if col not in part_names:
                continue
            # one listStatus per segment: keep only the wanted col=v dirs
            for st in fs.listStatus(hpath):
                name = st.getPath().getName()
                if (
                    st.isDirectory()
                    and name.startswith(f"{col}=")
                    and name[len(col) + 1 :] in wanted
                ):
                    paths.append(f"{p}/{name}")
            pruned_here = True
            break
        if not pruned_here:
            paths.append(p)
    if not paths:
        empty = spark.createDataFrame([], schema)
        return empty.withColumn("seg", F.lit(None).cast("int"))

    part_fields = [f for f in full.fields if f.name in part_names]
    file_schema = StructType([f for f in full.fields if f.name not in part_names])
    out = (
        spark.read.schema(file_schema)
        .option("recursiveFileLookup", "true")
        .parquet(*paths)
    )
    fpath = F.col("_metadata.file_path")
    for f in part_fields:
        out = out.withColumn(
            f.name,
            F.regexp_extract(fpath, f"/{f.name}=([^/]+)/", 1).cast(f.dataType),
        )
    out = out.withColumn(
        "seg", F.regexp_extract(fpath, "/seg=([0-9]+)/", 1).cast("int")
    )
    return out.select(*[f.name for f in full.fields], "seg")


def _with_segments(
    spark: SparkSession,
    path: str,
    segs: list[int],
    rel: str,
    schema,
    cols: list[str],
    *,
    where=None,
    prune: dict[str, list] | None = None,
) -> DataFrame:
    """``cols`` + ``seg`` of the base ``rel`` (segment 0) unioned with every
    segment's ``rel`` in one multi-path read (:func:`_seg_union`).
    ``where`` (a ``DataFrame -> DataFrame`` slice) applies to both sides
    so its predicates push into every scan; ``prune`` statically prunes
    the segments' partition directories."""

    def sl(df: DataFrame) -> DataFrame:
        return (where(df) if where is not None else df).select(*cols, "seg")

    base = spark.read.parquet(f"{path}/{rel}").withColumn("seg", F.lit(BASE_SEG))
    return sl(base).unionByName(
        sl(_seg_union(spark, path, segs, rel, schema, prune=prune))
    )


__all__ = [
    "upsert_profile_index_segmented",
    "delete_from_profile_index_segmented",
    "compact_profile_index",
    "live_profile_slices",
    "live_field_term_slice",
    "run_stream_profile_index",
]


def _all_plens(
    spark: SparkSession,
    path: str,
    segs: list[int],
    id_col: str,
    dbuckets: list[int] | None = None,
) -> DataFrame:
    """Union of every segment's (id, field, dl) doclens rows with segment
    provenance; ``dbuckets`` statically prunes each slice."""
    pruned = dbuckets is not None
    return _with_segments(
        spark,
        path,
        segs,
        "doclens",
        f"{id_col} long, field string, dl int, dbucket int",
        [id_col, "field", "dl"],
        where=(lambda df: df.where(F.col("dbucket").isin(dbuckets))) if pruned else None,
        prune={"dbucket": dbuckets} if pruned else None,
    )


def _all_tombs(
    spark: SparkSession, path: str, segs: list[int], id_col: str
) -> DataFrame:
    return _seg_union(spark, path, segs, "tombstones", f"{id_col} long")


def _alive(
    spark: SparkSession,
    path: str,
    segs: list[int],
    id_col: str,
    dbuckets: list[int] | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """``(id, seg)`` of every LIVE document and its winning segment —
    doc-level max-segment over the (optionally pruned / candidate-
    restricted) doclens slices, beaten by a newer tombstone."""
    dls = _all_plens(spark, path, segs, id_col, dbuckets)
    if candidates is not None:
        dls = dls.join(candidates, id_col, "left_semi")
    latest = dls.groupBy(id_col).agg(F.max("seg").alias("seg"))
    tombs = (
        _all_tombs(spark, path, segs, id_col)
        .groupBy(id_col)
        .agg(F.max("seg").alias("_tseg"))
    )
    return (
        latest.join(tombs, id_col, "left")
        .where(F.col("seg") > F.coalesce(F.col("_tseg"), F.lit(-1)))
        .select(id_col, "seg")
    )


def live_profile_slices(
    spark: SparkSession,
    path: str,
    segs: list[int],
    *,
    id_col: str,
    buckets: list[int],
    all_terms: list[str],
    cond,
    need_attrs,
    fields: list[str],
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """Query-side one-pass resolution for the segmented profile index:
    ``(matches, doclens, docvals)`` — each restricted to LIVE candidate
    documents (docs whose WINNING segment carries at least one profile
    term match).  Every slice is bucket/dbucket-pruned and term-pushed
    exactly like the unsegmented reads; liveness is one doc-level max
    aggregate over the candidates' doclens rows."""
    # positional profile indexes (r13) keep their pos lists through the
    # liveness resolution, so phrase / NEAR serve across segments
    has_pos = "pos" in spark.read.parquet(f"{path}/postings").columns
    mcols = [id_col, "field", "term", "tf"] + (["pos"] if has_pos else [])
    allm = _with_segments(
        spark,
        path,
        segs,
        "postings",
        _postings_schema(id_col, has_pos),
        mcols,
        where=lambda df: df.where(F.col("bucket").isin(buckets))
        .where(F.col("term").isin(all_terms))
        .where(cond),
        prune={"bucket": buckets},
    ).localCheckpoint()
    alive = _alive(
        spark, path, segs, id_col, candidates=allm.select(id_col).distinct()
    ).localCheckpoint()
    matches = allm.join(alive, [id_col, "seg"]).select(*mcols)
    dls = (
        _all_plens(spark, path, segs, id_col)
        .where(F.col("field").isin(fields))
        .join(alive, [id_col, "seg"])
        .select(id_col, "field", "dl")
    )

    vals = None
    if need_attrs:
        allv = _with_segments(
            spark,
            path,
            segs,
            "docvals",
            spark.read.parquet(f"{path}/docvals").schema,
            [id_col, *need_attrs],
        )
        vals = allv.join(alive, [id_col, "seg"]).select(id_col, *need_attrs)
    return matches, dls, vals


def _postings_schema(id_col: str, has_pos: bool) -> str:
    return (
        f"term string, {id_col} long, field string, tf bigint"
        + (", pos array<int>" if has_pos else "")
        + ", bucket bigint"
    )


def live_field_term_slice(
    spark: SparkSession,
    path: str,
    segs: list[int],
    term_pred,
    *,
    fields: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """``(field, term, id_col)`` rows of LIVE postings whose field is in
    ``fields`` and whose term satisfies ``term_pred`` (a ``Column ->
    Column`` factory) — the segmented-state vocabulary slice behind
    suggest, fuzzy and wildcard expansion (``profile_index._term_vocab``).

    The field IN-list and the term predicate are applied INSIDE every
    slice scan (base + each segment) so sargable conjuncts (prefix
    ranges, length bands via the column stats of term-sorted files) push
    to the parquet readers; doc-level last-writer-wins liveness then
    resolves only over docs that carry a matching term in a scoped field
    (candidate-sized, not corpus-sized), the same max-segment rule as
    :func:`live_profile_slices`."""
    has_pos = "pos" in spark.read.parquet(f"{path}/postings").columns
    allp = _with_segments(
        spark,
        path,
        segs,
        "postings",
        _postings_schema(id_col, has_pos),
        ["field", "term", id_col],
        where=lambda df: df.where(F.col("field").isin(fields)).where(
            term_pred(F.col("term"))
        ),
    ).localCheckpoint()
    alive = _alive(spark, path, segs, id_col, candidates=allp.select(id_col).distinct())
    return allp.join(alive, [id_col, "seg"]).select("field", "term", id_col)


def _read_fieldstats(spark: SparkSession, path: str) -> dict:
    """Per-field (n_docs, sum_dl) counters, read driver-side."""
    from azuredatalakeindexer_spark.sources.profile_index import _fieldstats_rows

    return {
        r["field"]: (int(r["n_docs"]), int(r["sum_dl"]))
        for r in _fieldstats_rows(spark, path)
    }


def _write_fieldstats_exact(
    spark: SparkSession, stats: dict, target: str
) -> None:
    """(field, n_docs, avgdl, sum_dl) from the exact running counters —
    avgdl = sum/n is the identical double division ``avg`` performs, so
    scores replayed from these stats stay bit-identical to a rebuild.
    Fields with zero live docs write NO row (the aggregate version yields
    none either; readers default absent fields to inert (0, 0.0))."""
    rows = [
        (f, n, s / n, s) for f, (n, s) in sorted(stats.items()) if n > 0
    ]
    from azuredatalakeindexer_spark.functions.localrel import write_meta_parquet

    # the rows are already driver-resident — write them driver-side (one
    # Hadoop FS call) instead of spending an executor write job on an
    # f-row relation (r14; see write_meta_parquet)
    write_meta_parquet(
        spark,
        rows,
        "field string, n_docs bigint, avgdl double, sum_dl bigint",
        target,
    )


def upsert_profile_index_segmented(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    *,
    id_col: str = "doc_id",
    _known: "dict | None" = None,
) -> DataFrame:
    """MergeOrUpload into the multi-field index as a NEW SEGMENT —
    O(batch) writes, nothing rewritten.  Returns ``(id_col, status)``
    with 201=created / 200=modified (same contract as the in-place
    ``upsert_profile_index``; queries answer identically after either —
    test-pinned).  One batch-sized alive-lookup (dbucket-pruned doclens
    slices + tombstones) yields statuses AND the exact per-field stats
    deltas; the segment postings/doclens/docvals and the refreshed
    fieldstats promote under one journal.

    ``_known`` (private contract of ``run_stream_profile_index``, r15 —
    VERDICT r14 next-#1): layout facts the streaming drain already
    established and owns for its duration — ``recovered``, ``meta``
    (the (n_buckets, fields, attrs) triple), ``has_pos``, ``has_store``,
    and the live ``segments`` list the drain advances in-process.
    Non-drain callers leave it None and every probe runs."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        _dbucket,
        _dedupe_profile_delta,
        _lens_from_postings,
        _postings_rows,
        _read_meta,
        _stack_fields,
    )
    from azuredatalakeindexer_spark.sources.staging import (
        StagedCommit,
        recover_for_maintenance,
    )

    known = _known or {}
    if not known.get("recovered"):
        recover_for_maintenance(spark, path)
    n_buckets, idx_fields, idx_attrs = (
        known["meta"] if "meta" in known else _read_meta(spark, path)
    )
    cols = list(dict.fromkeys(list(idx_fields) + list(idx_attrs)))

    from azuredatalakeindexer_spark.functions.parallel import run_concurrent

    # Layer 0 (r14, same shape as the in-place upsert): the batch
    # checkpoint, the positional-column schema probe (parquet footers,
    # driver-side — positional profile indexes version their pos lists
    # through the segments too, r13: the batch's postings regenerate
    # positions, the doc-level max-segment rule serves the live lists)
    # and the segment listing are mutually independent — overlap them.
    # A drain carrying ``_known`` (r15) resolved them once and skips the
    # re-probes.
    deduped, has_pos, segs = run_concurrent(
        lambda: _dedupe_profile_delta(delta, id_col, cols).localCheckpoint(),
        lambda: (
            known["has_pos"]
            if "has_pos" in known
            else "pos" in spark.read.parquet(f"{path}/postings").columns
        ),
        lambda: (
            known["segments"]
            if "segments" in known
            else list_segments(spark, path)
        ),
    )
    new_seg = (segs[-1] if segs else BASE_SEG) + 1

    # stacked is consumed only by new_postings, which is itself
    # checkpointed — re-deriving it from the checkpointed deduped batch
    # inside that job is cheaper than a second batch-sized
    # materialization (r10 fixed-overhead trim); new_lens then derives
    # from the CHECKPOINTED postings (dl = sum(tf), bucket set =
    # collect_set) so the batch is tokenized and hashed exactly once
    # (r10 verdict wrong-#1)
    stacked = _stack_fields(deduped, idx_fields, id_col)
    pairs = deduped.select(
        F.col(id_col),
        F.explode(F.array(*[F.lit(f) for f in idx_fields])).alias("field"),
    )
    # Layer 1 (r12, same layering as the in-place ops): the delta
    # postings checkpoint and the batch's id-hash partition list.  The
    # dbucket set is computed from the checkpointed batch directly — it
    # equals new_lens's (every batch id keeps a doclens row, zero-token
    # docs included via the pairs left join), without waiting for the
    # postings→lens chain.
    new_postings, dbuckets = run_concurrent(
        lambda: _postings_rows(
            stacked, id_col, n_buckets, positions=has_pos
        ).localCheckpoint(),
        lambda: [
            r["b"]
            for r in deduped.select(
                F.pmod(F.hash(F.col(id_col)), F.lit(n_buckets)).alias("b")
            )
            .distinct()
            .collect()
        ],
    )
    ids_b = F.broadcast(deduped.select(id_col))

    # Layer 2: the new-lens materialization and the predecessor-lookup →
    # statuses chain are independent given layer 1.
    def _chain_lens():
        return _lens_from_postings(new_postings, pairs, id_col, n_buckets).localCheckpoint()

    def _chain_statuses():
        # old per-field dl of the batch's LIVE predecessors — statuses and
        # the exact fieldstats deltas both derive from this one batch-sized
        # frame.  ONE dbucket-pruned doclens scan, restricted to the
        # batch's ids BEFORE any aggregation (the old shape evaluated
        # _all_plens twice — inside _alive and again for the winning-row
        # join — and aggregated every live doc in the pruned dbuckets, not
        # just the batch's predecessors; measured 1.6-2.2 s of the ~6 s
        # micro-batch upsert)
        dls = (
            _all_plens(spark, path, segs, id_col, dbuckets=dbuckets)
            .join(ids_b, id_col, "left_semi")
            .localCheckpoint()
        )
        tmax = (
            _all_tombs(spark, path, segs, id_col)
            .join(ids_b, id_col, "left_semi")
            .groupBy(id_col)
            .agg(F.max("seg").alias("_tseg"))
        )
        win = (
            dls.groupBy(id_col)
            .agg(F.max("seg").alias("_wseg"))
            .join(tmax, id_col, "left")
            .where(F.col("_wseg") > F.coalesce(F.col("_tseg"), F.lit(-1)))
            .select(id_col, "_wseg")
        )
        old = (
            dls.join(F.broadcast(win), id_col)
            .where(F.col("seg") == F.col("_wseg"))
            .select(id_col, "field", F.col("dl").alias("_old_dl"))
        )
        old_ids = old.select(id_col).distinct()
        statuses = deduped.select(id_col).join(
            F.broadcast(old_ids.withColumn("_old", F.lit(1))), id_col, "left"
        ).select(
            id_col,
            F.when(F.col("_old").isNotNull(), F.lit(200))
            .otherwise(F.lit(201))
            .alias("status"),
        ).localCheckpoint()
        return old, statuses

    new_lens, (old, statuses) = run_concurrent(_chain_lens, _chain_statuses)

    commit = StagedCommit(spark, path)
    # a docstore-backed (phrase-enabled) profile index versions its stored
    # field texts through the segments too: the batch's rows land in
    # seg=K/docstore and the max-segment rule serves the live version
    # until compaction folds them into the base
    from azuredatalakeindexer_spark.sources.ann_index import hadoop_path_exists

    has_store = (
        known["has_store"]
        if "has_store" in known
        else hadoop_path_exists(spark, f"{path}/docstore")
    )
    # the segment relations are independent checkpointed/batch-sized
    # frames writing to disjoint staged dirs — submit them concurrently so
    # the per-write scheduling + dynamic-partition commit latencies
    # overlap instead of stacking (run_concurrent).  The fieldstats
    # refresh derives from the same checkpointed frames (plus the live
    # 1-row fieldstats read) — independent of the segment writes, so it
    # rides the same submission (r12): its three batch-sized aggregates
    # overlap each other AND the data writes.
    from azuredatalakeindexer_spark.sources.profile_index import _stack_stored

    seg_dir = commit.stage("seg")

    def _w_fieldstats() -> None:
        # exact per-field stats: created docs add a row per field;
        # replaced docs swap their old per-field dl for the new one
        stats = _read_fieldstats(spark, path)
        n_created_rows, adds_rows, subs_rows = run_concurrent(
            lambda: statuses.where(F.col("status") == 201).count(),
            lambda: new_lens.groupBy("field")
            .agg(F.coalesce(F.sum("dl"), F.lit(0)).alias("s"))
            .collect(),
            lambda: old.groupBy("field")
            .agg(F.coalesce(F.sum("_old_dl"), F.lit(0)).alias("s"))
            .collect(),
        )
        n_created = int(n_created_rows)
        adds = {r["field"]: int(r["s"]) for r in adds_rows}
        subs = {r["field"]: int(r["s"]) for r in subs_rows}
        for fld in idx_fields:
            n, s = stats.get(fld, (0, 0))
            stats[fld] = (
                n + n_created,
                s + adds.get(fld, 0) - subs.get(fld, 0),
            )
        _write_fieldstats_exact(spark, stats, commit.stage("fieldstats"))
        commit.swap("fieldstats", "fieldstats")

    run_concurrent(
        lambda: new_postings.repartition("bucket")
        .sortWithinPartitions("term")
        .write.partitionBy("bucket")
        .parquet(f"{seg_dir}/postings"),
        lambda: new_lens.repartition("dbucket")
        .write.partitionBy("dbucket")
        .parquet(f"{seg_dir}/doclens"),
        (
            lambda: deduped.select(
                F.col(id_col), *idx_attrs, _dbucket(id_col, n_buckets)
            )
            .repartition("dbucket")
            .write.partitionBy("dbucket")
            .parquet(f"{seg_dir}/docvals")
        )
        if idx_attrs
        else None,
        (
            lambda: _stack_stored(deduped, idx_fields, id_col, n_buckets)
            .repartition("dbucket")
            .write.partitionBy("dbucket")
            .parquet(f"{seg_dir}/docstore")
        )
        if has_store
        else None,
        _w_fieldstats,
    )
    commit.swap("seg", f"segments/seg={new_seg}")
    commit.promote()
    return statuses


def delete_from_profile_index_segmented(
    spark: SparkSession,
    path: str,
    doc_ids: DataFrame,
    *,
    id_col: str = "doc_id",
    broadcast_ids: bool = True,
) -> int:
    """Delete as a TOMBSTONE-ONLY segment — O(batch) writes; idempotent
    (absent / already-dead ids write NO segment).  Returns the number of
    live documents removed; fieldstats advanced exactly from the victims'
    own per-field dl."""
    from azuredatalakeindexer_spark.sources.profile_index import _read_meta
    from azuredatalakeindexer_spark.sources.staging import (
        StagedCommit,
        recover_for_maintenance,
    )

    recover_for_maintenance(spark, path)
    n_buckets, idx_fields, _attrs = _read_meta(spark, path)
    segs = list_segments(spark, path)
    new_seg = (segs[-1] if segs else BASE_SEG) + 1

    ids = doc_ids.select(id_col).distinct().localCheckpoint()
    keys = F.broadcast(ids) if broadcast_ids else ids
    id_dbuckets = [
        r["b"]
        for r in ids.select(
            F.pmod(F.hash(F.col(id_col)), F.lit(n_buckets)).alias("b")
        )
        .distinct()
        .collect()
    ]
    alive = _alive(spark, path, segs, id_col, dbuckets=id_dbuckets)
    victims = (
        _all_plens(spark, path, segs, id_col, dbuckets=id_dbuckets)
        .join(alive.withColumnRenamed("seg", "_wseg"), id_col)
        .where(F.col("seg") == F.col("_wseg"))
        .join(keys, id_col, "left_semi")
        .select(id_col, "field", "dl")
        .localCheckpoint()
    )
    n_removed = victims.select(id_col).distinct().count()
    if n_removed == 0:
        return 0

    commit = StagedCommit(spark, path)

    # tombstone write and fieldstats refresh derive from the same
    # checkpointed victims frame — independent staged writes, submitted
    # concurrently (r12)
    def _w_seg() -> None:
        victims.select(id_col).distinct().write.parquet(
            f"{commit.stage('seg')}/tombstones"
        )
        commit.swap("seg", f"segments/seg={new_seg}")

    def _w_fieldstats() -> None:
        stats = _read_fieldstats(spark, path)
        subs = {
            r["field"]: int(r["s"])
            for r in victims.groupBy("field")
            .agg(F.coalesce(F.sum("dl"), F.lit(0)).alias("s"))
            .collect()
        }
        for fld in idx_fields:
            n, s = stats.get(fld, (0, 0))
            stats[fld] = (n - n_removed, s - subs.get(fld, 0))
        _write_fieldstats_exact(spark, stats, commit.stage("fieldstats"))
        commit.swap("fieldstats", "fieldstats")

    from azuredatalakeindexer_spark.functions.parallel import run_concurrent

    run_concurrent(_w_seg, _w_fieldstats)
    commit.promote()
    return int(n_removed)


def compact_profile_index(
    spark: SparkSession,
    path: str,
    *,
    id_col: str = "doc_id",
) -> int:
    """Fold every segment back into the base multi-field layout: resolve
    live postings/doclens/docvals/docstore per doc-level winning segment,
    rewrite the base relations (content-identical to a fresh
    ``build_profile_index`` of the logical corpus — test-pinned), refresh
    fieldstats and the terms rollup from the resolved relations, drop
    ``segments/``; queries take the segment-free fast paths again.  A
    fully-tombstoned corpus stages typed 0-row unpartitioned sentinels.  Everything
    stages and promotes under one journal.  Returns the number of
    segments folded."""
    from azuredatalakeindexer_spark.sources.profile_index import _read_meta
    from azuredatalakeindexer_spark.sources.staging import (
        StagedCommit,
        recover_for_maintenance,
    )

    recover_for_maintenance(spark, path)
    n_buckets, idx_fields, idx_attrs = _read_meta(spark, path)
    segs = list_segments(spark, path)
    if not segs:
        return 0

    alive = _alive(spark, path, segs, id_col).localCheckpoint()

    # positional indexes keep their pos lists through the fold (r13)
    has_pos = "pos" in spark.read.parquet(f"{path}/postings").columns
    pcols = ["term", id_col, "field", "tf"] + (["pos"] if has_pos else [])
    allp = _with_segments(
        spark, path, segs, "postings", _postings_schema(id_col, has_pos), pcols
    )
    from azuredatalakeindexer_spark.functions.text import portable_hash64

    merged = (
        allp.join(alive, [id_col, "seg"])
        .select(*pcols)
        .withColumn(
            "bucket", F.pmod(portable_hash64(F.col("term")), F.lit(n_buckets))
        )
        .localCheckpoint()
    )

    # per-(id, field) bucket sets from the RESOLVED postings, never from
    # carried columns: an r9-built (pre-bucket-set) index's rows would
    # otherwise land as empty sets and silently break later victim
    # lookups — deriving from merged also upgrades legacy indexes
    bsets = merged.groupBy(id_col, "field").agg(
        F.array_sort(F.collect_set("bucket")).alias("buckets")
    )
    lens = (
        _all_plens(spark, path, segs, id_col)
        .join(alive, [id_col, "seg"])
        .select(id_col, "field", "dl")
        .join(bsets, [id_col, "field"], "left")
        .withColumn(
            "buckets",
            F.coalesce(F.col("buckets"), F.array().cast("array<bigint>")),
        )
        .select(id_col, "field", "dl", "buckets")
        .withColumn(
            "dbucket", F.pmod(F.hash(F.col(id_col)), F.lit(n_buckets))
        )
        .localCheckpoint()
    )

    from azuredatalakeindexer_spark.functions.parallel import run_concurrent
    from azuredatalakeindexer_spark.sources.ann_index import hadoop_path_exists

    commit = StagedCommit(spark, path)
    merged_empty, lens_empty = run_concurrent(
        lambda: merged.isEmpty(), lambda: lens.isEmpty()
    )

    # the five staged tier writes below derive from the checkpointed
    # resolved relations (or their own LWW resolution of disjoint
    # relations) — mutually independent, submitted concurrently (r12,
    # same shape as the in-place ops); per-tier swaps record inside
    # each thunk, promote stays one sequential rename pass
    def _w_postings() -> None:
        if merged_empty:
            merged.select(*pcols, "bucket").write.parquet(
                commit.stage("postings")
            )
        else:
            merged.repartition("bucket").sortWithinPartitions(
                "term"
            ).write.partitionBy("bucket").parquet(commit.stage("postings"))
        commit.swap("postings", "postings")

    def _w_doclens() -> None:
        if lens_empty:
            lens.write.parquet(commit.stage("doclens"))
        else:
            lens.repartition("dbucket").write.partitionBy("dbucket").parquet(
                commit.stage("doclens")
            )
        commit.swap("doclens", "doclens")

    def _w_fieldstats() -> None:
        # fieldstats from the resolved doclens (exact, same avg division)
        from azuredatalakeindexer_spark.sources.profile_index import (
            _write_fieldstats_from,
        )

        _write_fieldstats_from(lens, path, target=commit.stage("fieldstats"))
        commit.swap("fieldstats", "fieldstats")

    def _w_terms() -> None:
        # refresh the vocabulary rollup from the resolved live postings
        # (already checkpointed): after compaction it is exact again and
        # vocabulary serves read only it
        from azuredatalakeindexer_spark.sources.profile_index import (
            _term_counts,
            _write_terms_rollup,
        )

        _write_terms_rollup(
            _term_counts(merged).withColumnRenamed("n", "df"), commit.stage("terms")
        )
        commit.swap("terms", "terms")

    def _w_docvals() -> None:
        allv = _with_segments(
            spark,
            path,
            segs,
            "docvals",
            spark.read.parquet(f"{path}/docvals").schema,
            [id_col, *idx_attrs],
        )
        vals = (
            allv.join(alive, [id_col, "seg"])
            .select(id_col, *idx_attrs)
            .withColumn(
                "dbucket", F.pmod(F.hash(F.col(id_col)), F.lit(n_buckets))
            )
        )
        # docvals rows mirror doclens docs id-for-id, so lens_empty
        # normally decides — but a partially-stored legacy index could
        # break the mirror, and a partitionBy write of a genuinely empty
        # frame leaves an unreadable zero-file partitioned dir (ADVICE
        # r12): guard with the relation's own cheap probe, short-
        # circuited on the common path
        if lens_empty or vals.isEmpty():
            # an emptied corpus drops to the typed 0-row unpartitioned
            # sentinel
            vals.write.parquet(commit.stage("docvals"))
        else:
            vals.repartition("dbucket").write.partitionBy("dbucket").parquet(
                commit.stage("docvals")
            )
        commit.swap("docvals", "docvals")

    def _w_docstore() -> None:
        # docstore-backed index: fold the segments' stored field texts
        # into the base store — the live text of every ALIVE (doc, field)
        # is its max-segment docstore row (deleted docs drop out via the
        # alive join)
        alls = _with_segments(
            spark,
            path,
            segs,
            "docstore",
            f"{id_col} long, field string, text string, dbucket int",
            [id_col, "field", "text"],
        )
        live_store = (
            alls.join(alive, [id_col, "seg"])
            .select(id_col, "field", "text")
            .withColumn(
                "dbucket", F.pmod(F.hash(F.col(id_col)), F.lit(n_buckets))
            )
        )
        # same mirror-invariant guard as docvals (ADVICE r12): never
        # partitionBy-write a genuinely empty frame
        if lens_empty or live_store.isEmpty():
            live_store.write.parquet(commit.stage("docstore"))
        else:
            live_store.repartition("dbucket").write.partitionBy(
                "dbucket"
            ).parquet(commit.stage("docstore"))
        commit.swap("docstore", "docstore")

    run_concurrent(
        _w_postings,
        _w_doclens,
        _w_fieldstats,
        _w_terms,
        _w_docvals if idx_attrs else None,
        _w_docstore if hadoop_path_exists(spark, f"{path}/docstore") else None,
    )
    commit.remove("segments")
    commit.promote()
    return len(segs)


def run_stream_profile_index(
    spark: SparkSession,
    docs_dir: str,
    schema,
    index_dir: str,
    checkpoint_dir: str,
    *,
    field_cols,
    attr_cols=(),
    id_col: str = "doc_id",
    n_buckets: int = 64,
    max_files_per_trigger: int = 1,
    compact_every: int | None = None,
) -> None:
    """Continuously maintain the multi-field profile index from a
    document arrival stream — the reference's watch-lake → upsert-index
    loop (§3.1 + T1) with the PROFILE-serving index in-engine: the first
    micro-batch builds the base layout, every later batch lands as an
    O(batch) LSM segment (`upsert_profile_index_segmented`), and
    ``compact_every=N`` folds segments whenever N have accumulated.
    ``availableNow`` drains the backlog and terminates (T7).  Doc-level
    last-writer-wins makes the drain batch-split-invariant: 1 or N
    micro-batches serve bit-identical profiles (test-pinned; the oracle
    is the scan-time profile replay)."""
    _run_stream(
        spark,
        docs_dir,
        schema,
        index_dir,
        checkpoint_dir,
        field_cols=field_cols,
        attr_cols=attr_cols,
        id_col=id_col,
        n_buckets=n_buckets,
        max_files_per_trigger=max_files_per_trigger,
        segmented=True,
        compact_every=compact_every,
        positions=False,
        store_fields=False,
    )


def _run_stream(
    spark: SparkSession,
    docs_dir: str,
    schema,
    index_dir: str,
    checkpoint_dir: str,
    *,
    field_cols,
    attr_cols,
    id_col: str,
    n_buckets: int,
    max_files_per_trigger: int,
    segmented: bool,
    compact_every: int | None,
    positions: bool,
    store_fields: bool,
) -> None:
    """The one streaming drain behind ``run_stream_profile_index`` and
    ``text_index.run_stream_text_index``: ``availableNow`` over the
    document directory; the first micro-batch builds the index (``meta``
    is written last, so its existence is the build-vs-upsert marker),
    every later batch is a MergeOrUpload delta — an O(batch) LSM segment
    (``segmented``, folded by ``compact_every``) or an in-place
    affected-bucket upsert.  Upserts are last-writer-wins per document,
    so 1 or N micro-batches yield the same served results."""
    from azuredatalakeindexer_spark.sources.profile_index import (
        build_profile_index,
        upsert_profile_index,
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )

    # Per-batch fixed work hoisted OUT of the landing (r15, VERDICT r14
    # next-#1): the drain owns the directory for its whole run (single-
    # writer lease; each promote completes in-process before the next
    # batch), so the segmented path's layout facts are resolved once — by
    # the build — and carried across batches instead of re-probed inside
    # every ``handle``.  ``known`` stays None for a resumed drain against
    # a pre-existing index (full per-batch probes).
    state: dict = {"built": False, "known": None}

    def handle(batch: DataFrame, _batch_id: int) -> None:
        # Hadoop FS probe, not os.path — the index may live on abfss/s3/hdfs
        # where a local-path check is always False and every micro-batch
        # would take the build path, keeping only the last batch
        if not state["built"] and not hadoop_path_exists(
            batch.sparkSession, f"{index_dir}/meta"
        ):
            build_profile_index(
                batch,
                index_dir,
                field_cols=field_cols,
                attr_cols=attr_cols,
                id_col=id_col,
                n_buckets=n_buckets,
                store_fields=store_fields,
                positions=positions,
            )
            state["built"] = True
            # this drain just built the layout with these exact arguments
            state["known"] = {
                "recovered": True,
                "meta": (n_buckets, list(field_cols), list(attr_cols)),
                "has_pos": positions,
                "has_store": store_fields,
                "segments": [],
            }
            return
        state["built"] = True
        if not segmented:
            upsert_profile_index(batch.sparkSession, index_dir, batch, id_col=id_col)
            return
        known = state["known"]
        upsert_profile_index_segmented(
            batch.sparkSession, index_dir, batch, id_col=id_col, _known=known
        ).count()
        if known is not None:
            segs = known["segments"]
            known["segments"] = segs + [(segs[-1] if segs else BASE_SEG) + 1]
            n_segs = len(known["segments"])
        else:
            n_segs = (
                len(list_segments(batch.sparkSession, index_dir))
                if compact_every
                else 0
            )
        if compact_every and n_segs >= compact_every:
            compact_profile_index(batch.sparkSession, index_dir, id_col=id_col)
            if known is not None:
                known["segments"] = []

    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
