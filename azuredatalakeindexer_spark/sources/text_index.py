"""Persisted single-field inverted text index — a one-field index of the
profile core (``profile_index.py``).

The reference's entire purpose is MAINTAINING a search index so queries
never rescan the lake ("querying this index ... is much faster than
listing paths", reference README.md:3-4).  ``operators.search.bm25_topk``
rescans the corpus per query; the functions here serve the same
contracts from a saved index, the BM25 analog of ``sources/ann_index.py``.

Every function is a thin wrapper.  The index IS
``build_profile_index(field_cols=[text_col])``: profile scoring
``Σ_f w_f·bm25_f`` with one field at weight 1 is plain BM25, so the
layout (bucket-partitioned term-sorted postings, doclens with the victim
bucket sets, fieldstats, the term-sorted ``terms`` rollup, optional
positional postings and docstore), the in-place and LSM maintenance
paths, the staged commits and every serve path are the profile core's,
and results stay bit-identical to the scan-time operators (test-pinned;
the DuckDB oracle replays the same scan-time operators).  The wrappers
add only the single-field contract: ``text_col``/``store_text`` naming,
BM25-named score columns (``bm25``), and the ``n_buckets`` argument,
which every op checks against the index's pinned bucket count — a
mismatch raises instead of silently missing buckets.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from azuredatalakeindexer_spark.sources.profile_index import (
    _empty_scored,
    _fuzzy_band,
    _near_tf,
    _pattern_match,
    _phrase_tf,
    _ranked_positional,
    _read_meta,
    _require_unsegmented_profile,
    _term_vocab,
    build_profile_index,
    delete_from_profile_index,
    highlight_profile_from_index,
    query_profile_index,
    simple_query_profile_from_index,
    suggest_profile_from_index,
    upsert_profile_index,
)
from azuredatalakeindexer_spark.sources.profile_segments import (
    _run_stream,
    compact_profile_index,
    delete_from_profile_index_segmented,
    list_segments,  # re-exported: part of the text API
    upsert_profile_index_segmented,
)


def _check_n_buckets(spark: SparkSession, path: str, n_buckets: int, op: str) -> str:
    """Refuse an ``n_buckets`` argument that differs from the one the
    index was built with (bucket lookups would silently miss partitions
    and every result would be quietly wrong); returns the index's one
    searchable field.  The layout meta is read driver-side — no Spark
    job ahead of every op."""
    pinned, fields, _attrs = _read_meta(spark, path)
    if pinned != n_buckets:
        raise ValueError(
            f"{op}: index at {path} was built with n_buckets={pinned}, "
            f"got n_buckets={n_buckets}"
        )
    return fields[0]


def _bm25(scored: DataFrame, id_col: str) -> DataFrame:
    """The profile core's ``(id, score)`` under the text contract's name."""
    return scored.select(F.col(id_col), F.col("score").alias("bm25"))


def _as_field(delta: DataFrame, id_col: str, text_col: str, field: str) -> DataFrame:
    return delta.select(F.col(id_col), F.col(text_col).alias(field))


def build_text_index(
    docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    positions: bool = False,
    store_text: bool = False,
) -> None:
    """Write the inverted index for ``docs`` under ``path`` — a one-field
    ``build_profile_index``.  ``positions=True`` stores positional
    postings so exact-phrase and NEAR queries are served from the index
    (``query_phrase_index`` / ``query_near_index``); ``store_text=True``
    writes the docstore ``highlight_from_index`` and simple-query phrase
    predicates fetch texts from by id."""
    build_profile_index(
        docs,
        path,
        field_cols=[text_col],
        id_col=id_col,
        n_buckets=n_buckets,
        store_fields=store_text,
        positions=positions,
    )


def upsert_text_index(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    broadcast_ids: bool = True,
) -> DataFrame:
    """MergeOrUpload into the saved index (``upsert_profile_index``):
    returns ``(id_col, status)`` with 201=created / 200=modified; queries
    afterwards answer bit-identically to a fresh build over (base ∖
    replaced) ∪ delta."""
    # the LSM refusal outranks the n_buckets pin (in-place ops would
    # silently ignore pending segments)
    _require_unsegmented_profile(spark, path, "upsert_text_index")
    field = _check_n_buckets(spark, path, n_buckets, "upsert_text_index")
    return upsert_profile_index(
        spark,
        path,
        _as_field(delta, id_col, text_col, field),
        id_col=id_col,
        broadcast_ids=broadcast_ids,
    )


def delete_from_text_index(
    spark: SparkSession,
    path: str,
    doc_ids: DataFrame,
    *,
    id_col: str = "doc_id",
    n_buckets: int = 64,
    broadcast_ids: bool = True,
) -> int:
    """Remove documents (``delete_from_profile_index``) — the reference's
    deleted-blob handling (J2) applied to the in-engine index; returns the
    number removed, absent ids are a no-op."""
    _require_unsegmented_profile(spark, path, "delete_from_text_index")
    _check_n_buckets(spark, path, n_buckets, "delete_from_text_index")
    return delete_from_profile_index(
        spark, path, doc_ids, id_col=id_col, broadcast_ids=broadcast_ids
    )


def query_text_index(
    spark: SparkSession,
    path: str,
    query_terms,
    *,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    n_buckets: int = 64,
    filter_ids: DataFrame | None = None,
    broadcast_filter: bool = True,
) -> DataFrame:
    """BM25 top-k ``(id, bm25)`` — bit-identical to ``bm25_topk`` on the
    indexed corpus; reads only the query terms' bucket partitions.
    ``filter_ids`` restricts which documents may be RETURNED while every
    statistic stays index-global (the service's ``$filter`` + search)."""
    if not query_terms:
        raise ValueError("query_text_index needs at least one query term")
    field = _check_n_buckets(spark, path, n_buckets, "query_text_index")
    return _bm25(
        query_profile_index(
            spark,
            path,
            {field: (list(query_terms), 1.0)},
            id_col=id_col,
            k1=k1,
            b=b,
            k=k,
            filter_ids=filter_ids,
            broadcast_filter=broadcast_filter,
        ),
        id_col,
    )


def synonyms_from_index(
    spark: SparkSession,
    path: str,
    query_terms,
    synonyms: DataFrame,
    *,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    n_buckets: int = 64,
) -> DataFrame:
    """Synonym-expanded search: the query's term set is widened through
    the ``(term, synonym)`` relation exactly like the scan-time
    ``operators.search.expand_query_terms``, then answered by
    :func:`query_text_index` — bit-identical to ``bm25_topk(corpus,
    expanded)``."""
    from azuredatalakeindexer_spark.operators.search import expand_query_terms

    return query_text_index(
        spark,
        path,
        expand_query_terms(query_terms, synonyms),
        id_col=id_col,
        k1=k1,
        b=b,
        k=k,
        n_buckets=n_buckets,
    )


def simple_query_from_index(
    spark: SparkSession,
    path: str,
    query: str,
    *,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    n_buckets: int = 64,
) -> DataFrame:
    """Simple-query syntax (``term``, ``+term``, ``-term``, ``"a
    phrase"``) served from the index — identical dialect and results to
    ``operators.search.simple_query_topk``; phrase predicates need
    ``build_text_index(store_text=True)``."""
    field = _check_n_buckets(spark, path, n_buckets, "simple_query_from_index")
    return _bm25(
        simple_query_profile_from_index(
            spark, path, query, {field: 1.0}, id_col=id_col, k1=k1, b=b, k=k
        ),
        id_col,
    )


def run_stream_text_index(
    spark: SparkSession,
    docs_dir: str,
    schema,
    index_dir: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    max_files_per_trigger: int = 1,
    segmented: bool = False,
    compact_every: int | None = None,
    positions: bool = False,
    store_text: bool = False,
) -> None:
    """Continuously maintain the index from a document arrival stream
    (``availableNow``): the first micro-batch builds, every later one
    upserts — in place, or as an O(batch) LSM segment with
    ``segmented=True`` (``compact_every=N`` folds segments whenever N
    have accumulated).  LWW per document keeps the drain
    batch-split-invariant."""
    _run_stream(
        spark,
        docs_dir,
        schema,
        index_dir,
        checkpoint_dir,
        field_cols=[text_col],
        attr_cols=(),
        id_col=id_col,
        n_buckets=n_buckets,
        max_files_per_trigger=max_files_per_trigger,
        segmented=segmented,
        compact_every=compact_every,
        positions=positions,
        store_fields=store_text,
    )


def query_phrase_index(
    spark: SparkSession,
    path: str,
    phrase,
    *,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    n_buckets: int = 64,
) -> DataFrame:
    """Exact-phrase top-k ``(id, phrase_tf, bm25)`` from a positional
    index — bit-identical to the scan-time ``phrase_topk``."""
    terms = phrase.split() if isinstance(phrase, str) else list(phrase)
    terms = [t.lower() for t in terms]
    if not terms:
        raise ValueError("query_phrase_index needs a non-empty phrase")
    field = _check_n_buckets(spark, path, n_buckets, "query_phrase_index")
    return _ranked_positional(
        spark, path, field, terms, _phrase_tf(len(terms)), "phrase_tf",
        id_col=id_col, k1=k1, b=b, k=k, op="query_phrase_index",
    )


def query_near_index(
    spark: SparkSession,
    path: str,
    term1: str,
    term2: str,
    *,
    slop: int = 2,
    ordered: bool = True,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    n_buckets: int = 64,
) -> DataFrame:
    """Proximity (NEAR / sloppy-phrase) top-k ``(id, near_tf, bm25)``
    from a positional index — bit-identical to the scan-time
    ``near_topk``."""
    field = _check_n_buckets(spark, path, n_buckets, "query_near_index")
    return _ranked_positional(
        spark, path, field, [term1.lower(), term2.lower()],
        _near_tf(slop, ordered), "near_tf",
        id_col=id_col, k1=k1, b=b, k=k, op="query_near_index",
    )


def suggest_from_index(
    spark: SparkSession,
    path: str,
    prefix: str,
    *,
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Autocomplete ``(term, df)`` from the term-sorted rollup — the
    output contract of ``operators.search.suggest_terms``."""
    if not prefix:
        raise ValueError("suggest_from_index needs a non-empty prefix")
    return suggest_profile_from_index(spark, path, prefix, k=k, id_col=id_col)


def fuzzy_from_index(
    spark: SparkSession,
    path: str,
    term: str,
    *,
    max_edits: int = 2,
    prefix_len: int = 1,
    k: int = 50,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuzzy term matching ``(term, df, dist)`` over the vocabulary
    rollup — the output contract of ``operators.search.fuzzy_match_terms``
    (the service's ``term~`` / "did you mean")."""
    from azuredatalakeindexer_spark.operators.search import fuzzy_candidates

    vocab = _term_vocab(
        spark, path, _fuzzy_band([term], max_edits, prefix_len),
        per_field=False, id_col=id_col,
    )
    return (
        fuzzy_candidates(vocab, [term], max_edits=max_edits, prefix_len=prefix_len)
        .select("term", "df", "dist")
        .orderBy("dist", F.col("df").desc(), "term")
        .limit(k)
    )


def query_fuzzy_index(
    spark: SparkSession,
    path: str,
    query_terms,
    *,
    max_edits: int = 2,
    prefix_len: int = 1,
    max_expansions: int = 50,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    n_buckets: int = 64,
) -> DataFrame:
    """Fuzzy BM25 search: expansions from the vocabulary rollup ranked
    exactly like the scan-time path, then scored by
    :func:`query_text_index` — bit-identical to ``fuzzy_topk``."""
    from azuredatalakeindexer_spark.operators.search import (
        fuzzy_candidates,
        rank_fuzzy_expansions,
    )

    _check_n_buckets(spark, path, n_buckets, "query_fuzzy_index")
    vocab = _term_vocab(
        spark, path, _fuzzy_band(query_terms, max_edits, prefix_len),
        per_field=False, id_col=id_col,
    )
    expanded = rank_fuzzy_expansions(
        fuzzy_candidates(
            vocab, query_terms, max_edits=max_edits, prefix_len=prefix_len
        ),
        max_expansions,
    )
    if not expanded:
        return _bm25(_empty_scored(spark, path, id_col), id_col)
    return query_text_index(
        spark, path, expanded, id_col=id_col, k1=k1, b=b, k=k, n_buckets=n_buckets
    )


def wildcard_from_index(
    spark: SparkSession,
    path: str,
    pattern: str,
    *,
    k: int = 50,
    id_col: str = "doc_id",
) -> DataFrame:
    """Wildcard term enumeration ``(term, df)`` over the vocabulary
    rollup — the output contract of
    ``operators.search.wildcard_match_terms``."""
    return (
        _term_vocab(
            spark, path, _pattern_match([pattern]), per_field=False, id_col=id_col
        )
        .orderBy(F.col("df").desc(), "term")
        .limit(k)
    )


def query_wildcard_index(
    spark: SparkSession,
    path: str,
    patterns,
    *,
    max_expansions: int = 50,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    n_buckets: int = 64,
) -> DataFrame:
    """Wildcard BM25 search: pattern expansion from the vocabulary rollup
    (same ranking as the scan-time path), scoring from bucket-pruned
    postings — bit-identical to ``wildcard_topk``."""
    from azuredatalakeindexer_spark.operators.search import (
        rank_fuzzy_expansions,
        wildcard_candidates,
    )

    _check_n_buckets(spark, path, n_buckets, "query_wildcard_index")
    vocab = _term_vocab(
        spark, path, _pattern_match(patterns), per_field=False, id_col=id_col
    )
    expanded = rank_fuzzy_expansions(
        wildcard_candidates(vocab, patterns), max_expansions
    )
    if not expanded:
        return _bm25(_empty_scored(spark, path, id_col), id_col)
    return query_text_index(
        spark, path, expanded, id_col=id_col, k1=k1, b=b, k=k, n_buckets=n_buckets
    )


def highlight_from_index(
    spark: SparkSession,
    path: str,
    query_terms,
    highlight_term: str | None = None,
    *,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    n_buckets: int = 64,
    radius: int = 20,
) -> DataFrame:
    """Hit-highlighted search ``(id, score, hit_pos, snippet)``: BM25
    top-``k`` whose texts are fetched BY ID from the docstore
    (``build_text_index(store_text=True)``) and highlighted with the
    scan-time ``keyword_snippets`` expressions for ``highlight_term``
    (default: the first query term)."""
    field = _check_n_buckets(spark, path, n_buckets, "highlight_from_index")
    return highlight_profile_from_index(
        spark,
        path,
        {field: (list(query_terms), 1.0)},
        highlight_term,
        id_col=id_col,
        k1=k1,
        b=b,
        k=k,
        radius=radius,
    )


def upsert_text_index_segmented(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """MergeOrUpload as a NEW LSM SEGMENT (O(batch) writes, nothing
    rewritten) — ``upsert_profile_index_segmented``; same statuses and
    served results as :func:`upsert_text_index`."""
    field = _check_n_buckets(spark, path, n_buckets, "upsert_text_index_segmented")
    return upsert_profile_index_segmented(
        spark, path, _as_field(delta, id_col, text_col, field), id_col=id_col
    )


def delete_from_text_index_segmented(
    spark: SparkSession,
    path: str,
    doc_ids: DataFrame,
    *,
    id_col: str = "doc_id",
    broadcast_ids: bool = True,
) -> int:
    """Delete as a tombstone-only segment (idempotent: absent ids write
    no segment) — ``delete_from_profile_index_segmented``."""
    return delete_from_profile_index_segmented(
        spark, path, doc_ids, id_col=id_col, broadcast_ids=broadcast_ids
    )


def compact_text_index(
    spark: SparkSession,
    path: str,
    *,
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> int:
    """Fold every LSM segment back into the base layout
    (``compact_profile_index``); returns the number of segments folded."""
    _check_n_buckets(spark, path, n_buckets, "compact_text_index")
    return compact_profile_index(spark, path, id_col=id_col)
