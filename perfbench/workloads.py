"""The benchmark's workloads: set-up, one closed-loop client, result checks.

Each workload drives the package only through its public functions and
hands it only files, directory paths and DataFrames read from them.  Inputs
come from :mod:`gen` (seeded, plain Python + pyarrow) and are written
outside the timed windows.  Expected results are computed independently of
Spark (lake workloads) or by the scan-time twin operators the repository's
tests pin as equal to the index-served ones (``search_mix``).
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

DATA_INDEX_DDL = (
    "pathbase64 string, stringvalue string, numbervalue int, booleanvalue boolean, "
    "eTag string, pathUrlEncoded string, lastModified timestamp"
)

#: untimed refresh cycles on the first set-up (cycle time falls by about a
#: third over the first five cycles of a fresh session on 4 cores)
WARM_CYCLES = 3

#: workload sizes; ``smoke`` runs every workload once at tiny sizes
SIZES = {
    "refresh_1pct": {"n_files": 1000, "n_archive": 4000, "n_changed": 10, "n_deleted": 2},
    "search_mix": {"n_docs": 2000, "n_vecs": 1000, "n_upsert": 50, "n_delete": 10,
                   "n_vec_upsert": 20, "n_buckets": 16, "n_checks": 2},
}
SMOKE_SIZES = {
    "refresh_1pct": {"n_files": 200, "n_archive": 800, "n_changed": 10, "n_deleted": 2},
    "search_mix": {"n_docs": 200, "n_vecs": 200, "n_upsert": 10, "n_delete": 4,
                   "n_vec_upsert": 6, "n_buckets": 4, "n_checks": 1000},
}


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _read_rows(path: str, cols: list[str], ts_cols=()) -> list[tuple]:
    """Rows of a Spark-written parquet directory, read with pyarrow;
    timestamps as epoch microseconds."""
    t = pq.read_table(path, columns=cols)
    arrays = []
    for c in cols:
        a = t.column(c)
        if c in ts_cols:
            a = pc.cast(pc.cast(a, pa.timestamp("us")), pa.int64())
        arrays.append(a.to_pylist())
    return list(zip(*arrays))


class Op:
    """One timed client operation."""

    def __init__(self, kind: str, wall: float, ok: bool = True, note: str = ""):
        self.kind, self.wall, self.ok, self.note = kind, wall, ok, note


class RefreshWorkload:
    """``refresh_1pct``: the paper's steady state.  A JSON lake, a path
    index seeded through BlobCreated events, and a data index from one
    initial indexer run; each cycle rewrites 1% of the lake, lands one
    event delivery, drains it and re-runs the indexer from the previous
    watermark, committing the merged data index as a new version."""

    name = "refresh_1pct"

    def __init__(self, spark, work: str, seed: int, sizes: dict, tracer):
        from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

        self.spark, self.work, self.seed, self.sizes, self.tracer = spark, work, seed, sizes, tracer
        self.schema = StructType([
            StructField("event_id", LongType()), StructField("eventType", StringType()),
            StructField("eventTime", TimestampType()), StructField("url", StringType()),
        ])
        self.reindex_s: list[float] = []
        self.failures: list[str] = []
        self.setup_checks = [0, 0]  # attempted, failed

    # -- set-up -----------------------------------------------------------
    def setup(self, k: int) -> float:
        from azuredatalakeindexer_spark.operators.paths import ListPathsOptions
        from azuredatalakeindexer_spark.plans.indexer import run_document_indexer
        from azuredatalakeindexer_spark.streaming.events import run_event_stream_upsert

        s = self.sizes
        base = os.path.join(self.work, f"setup{k}")
        t0 = time.perf_counter()
        self.lake = gen.Lake(self.seed, os.path.join(base, "lake"), s["n_files"], s["n_archive"])
        self.lake.write_all()
        self.events_dir = os.path.join(base, "events")
        os.makedirs(self.events_dir)
        events = self.lake.seed_delivery()
        gen.write_parquet(events, gen.EVENTS_SCHEMA, os.path.join(self.events_dir, "d00000.parquet"))
        self.pi_dir = os.path.join(base, "path_index")
        self.del_dir = os.path.join(base, "deleted_index")
        self.ck_dir = os.path.join(base, "checkpoint")
        run_event_stream_upsert(self.spark, self.events_dir, self.schema, self.pi_dir,
                                self.del_dir, self.ck_dir, now=self.lake.now(0))
        t1 = time.perf_counter()
        empty = self.spark.createDataFrame([], DATA_INDEX_DDL)
        res = run_document_indexer(self.spark, self.spark.read.parquet(self.pi_dir),
                                   self.lake.root, empty, ListPathsOptions(filesystem=gen.LAKE_FS))
        self.di_dir = os.path.join(base, "data_index")
        self.version = 0
        self.cycle = 0
        res.merged.write.parquet(self._di(0))
        res.batch.unpersist()
        t2 = time.perf_counter()
        self.reindex_s.append(t2 - t1)
        self.setup_checks[0] += 1
        self.setup_checks[1] += not self._check(res, list(range(s["n_files"])), "setup", created=True)
        return t2 - t0

    def _di(self, v: int) -> str:
        return os.path.join(self.di_dir, f"v{v:05d}")

    def discard(self, k: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"setup{k}"), ignore_errors=True)

    def warm_up(self) -> list[Op]:
        """Untimed cycles until the JIT-driven speed-up of the first cycles
        has flattened, so the window measures the warm steady state."""
        return [op for _ in range(WARM_CYCLES) for op in self.round()]

    # -- one cycle --------------------------------------------------------
    def round(self) -> list[Op]:
        from azuredatalakeindexer_spark.operators.paths import ListPathsOptions
        from azuredatalakeindexer_spark.plans.indexer import run_document_indexer
        from azuredatalakeindexer_spark.streaming.events import run_event_stream_upsert

        s = self.sizes
        self.cycle += 1
        cycle = self.cycle
        events, changed = self.lake.change(cycle, s["n_changed"], s["n_deleted"])
        gen.write_parquet(events, gen.EVENTS_SCHEMA,
                          os.path.join(self.events_dir, f"d{cycle:05d}.parquet"))
        # the previous run started just after the previous delivery was stamped
        watermark = (gen.T0 + dt.timedelta(hours=cycle - 1, seconds=1)).strftime("%Y-%m-%d %H:%M:%S")
        op = self.tracer.begin("bench.op", "refresh")
        t0 = time.perf_counter()
        try:
            run_event_stream_upsert(self.spark, self.events_dir, self.schema, self.pi_dir,
                                    self.del_dir, self.ck_dir, now=self.lake.now(cycle))
            res = run_document_indexer(
                self.spark, self.spark.read.parquet(self.pi_dir), self.lake.root,
                self.spark.read.parquet(self._di(self.version)),
                ListPathsOptions(from_last_modified=watermark, filesystem=gen.LAKE_FS),
            )
            commit = self.tracer.begin("plans.indexer", "commit")
            res.merged.write.parquet(self._di(self.version + 1))
            res.batch.unpersist()
            self.tracer.end(commit)
        except Exception as exc:  # a failed cycle is a failed operation
            self.failures.append(f"cycle {cycle}: {exc!r}")
            return [Op("refresh", time.perf_counter() - t0, ok=False, note=repr(exc))]
        finally:
            self.tracer.end(op)
        wall = time.perf_counter() - t0
        self.version += 1
        self.tracer.count("paths_selected", res.paths_count)
        self.tracer.count("events_delivered", len(events))
        if self.version >= 2:
            shutil.rmtree(self._di(self.version - 2), ignore_errors=True)
        ok = self._check(res, changed, f"cycle {cycle}", created=False)
        return [Op("refresh", wall, ok)]

    # -- checks -----------------------------------------------------------
    def _check(self, res, changed: list[int], where: str, created: bool) -> bool:
        lake = self.lake
        bad_changed = sum(1 for i in changed if lake.malformed(i))
        good = len(changed) - bad_changed
        all_bad = sum(1 for i in range(lake.n_files) if lake.malformed(i))
        problems = []
        if res.paths_count != len(changed):
            problems.append(f"paths_count {res.paths_count} != {len(changed)}")
        # documents read: the whole lake (the repo's oracle pins this) or
        # only the selected paths (the reference's per-file download)
        if (res.document_read_count, res.document_read_failed_count) not in (
            (lake.n_files, all_bad), (len(changed), bad_changed)
        ):
            problems.append(
                f"read/failed {res.document_read_count}/{res.document_read_failed_count}")
        want = (good, 0) if created else (0, good)
        if (res.created_count, res.modified_count) != want:
            problems.append(f"created/modified {res.created_count}/{res.modified_count} != {want}")
        di = _read_rows(self._di(self.version),
                        ["pathbase64", "stringvalue", "numbervalue", "booleanvalue", "eTag",
                         "pathUrlEncoded", "lastModified"], ts_cols=("lastModified",))
        if gen.table_digest(di) != gen.table_digest(lake.data_index_rows()):
            problems.append("data index content differs")
        cols = ["key", "pathUrlEncoded", "filesystem", "fileLastModified", "lastModified"]
        ts = ("fileLastModified", "lastModified")
        if gen.table_digest(_read_rows(self.pi_dir, cols, ts)) != gen.table_digest(lake.path_index_rows()):
            problems.append("path index content differs")
        if lake.deleted_index and gen.table_digest(_read_rows(self.del_dir, cols, ts)) != \
                gen.table_digest(lake.path_index_rows(deleted=True)):
            problems.append("deleted-path index content differs")
        if problems:
            self.failures.append(f"{where}: " + "; ".join(problems))
        return not problems

    def final_check(self) -> tuple[int, int]:
        """Cycles are checked as they run; the set-up runs are checked here."""
        return tuple(self.setup_checks)

    def scan_markers(self) -> dict:
        """How the traced run recognizes the lake and path-index scans."""
        return {"lake": "Format: JSON", "path_index": self.pi_dir}

    def index_bytes_per_corpus_byte(self) -> float:
        idx = _dir_bytes(self._di(self.version)) + _dir_bytes(self.pi_dir) + _dir_bytes(self.del_dir)
        return idx / _dir_bytes(self.lake.root)

    def report(self, ops: list[Op]) -> dict:
        """Workload metrics under their own names; the initial full index
        of each set-up doubles as a bulk reindex sample."""
        return {
            "refresh_s_p50": median([o.wall for o in ops]),
            "reindex_docs_per_s": self.sizes["n_files"] / median(self.reindex_s),
        }


class SearchMixWorkload:
    """``search_mix``: the persisted search indexes serving seeded queries
    (one of each family per round) beside one maintenance delivery per round
    (MergeOrUpload + delete into the text and profile indexes, vector upsert
    into the IVF-PQ index).  Served results are checked against their
    scan-time twins over the logical corpus at the time they were served."""

    name = "search_mix"
    QUERY_KINDS = ("bm25", "phrase", "fuzzy", "suggest", "highlight", "profile", "facets", "pq")

    def __init__(self, spark, work: str, seed: int, sizes: dict, tracer):
        self.spark, self.work, self.seed, self.sizes, self.tracer = spark, work, seed, sizes, tracer
        self.failures: list[str] = []
        self.served: list[tuple] = []  # (kind, args, rows, corpus version)

    def setup(self, k: int) -> float:
        from azuredatalakeindexer_spark.sources.ann_index import build_pq_index
        from azuredatalakeindexer_spark.sources.profile_index import build_profile_index
        from azuredatalakeindexer_spark.sources.text_index import build_text_index

        s = self.sizes
        base = os.path.join(self.work, f"setup{k}")
        os.makedirs(base)
        t0 = time.perf_counter()
        docs = gen.documents(self.seed, s["n_docs"])
        vecs = gen.embeddings(self.seed, s["n_vecs"])
        self.docs_path = os.path.join(base, "documents.parquet")
        self.emb_path = os.path.join(base, "embeddings.parquet")
        self.corpus_bytes = gen.write_parquet(docs, gen.DOCS_SCHEMA, self.docs_path) + \
            gen.write_parquet(vecs, gen.EMB_SCHEMA, self.emb_path)
        ddf = self.spark.read.parquet(self.docs_path)
        edf = self.spark.read.parquet(self.emb_path).select("vec_id", "embedding")
        self.ti = os.path.join(base, "text_index")
        self.pi = os.path.join(base, "profile_index")
        self.pq = os.path.join(base, "pq_index")
        nb = s["n_buckets"]
        build_text_index(ddf.select("doc_id", "text"), self.ti, n_buckets=nb,
                         positions=True, store_text=True)
        build_profile_index(ddf.select("doc_id", "text", "source", "n_chars"), self.pi,
                            field_cols=["text", "source"], attr_cols=["n_chars", "source"],
                            n_buckets=nb)
        build_pq_index(edf, self.pq, n_centroids=16, m=4, k_pq=16, n_dbuckets=nb)
        wall = time.perf_counter() - t0
        self.base = base
        self.rng = random.Random(f"search-{self.seed}")
        self.docs = {d["doc_id"]: d for d in docs}
        self.vecs = {v["vec_id"]: v for v in vecs}
        self.next_doc = s["n_docs"]
        self.next_vec = s["n_vecs"]
        self.corpus_version = 0
        self.rounds = 0
        self.served = []  # results served by a discarded set-up cannot be checked
        self.snapshots = {0: (self.docs_path, self.emb_path)}
        return wall

    def discard(self, k: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"setup{k}"), ignore_errors=True)

    # -- inputs -----------------------------------------------------------
    def _delivery(self, r: int) -> dict:
        """Seeded maintenance delivery ``r``: files for the doc upserts, the
        doc deletes and the vector upserts; advances the logical corpus and
        snapshots it for the result checks."""
        s, rng = self.sizes, self.rng
        ddir = os.path.join(self.base, f"delivery{r}")
        os.makedirs(ddir)
        upserts = []
        for _ in range(s["n_upsert"]):
            if rng.random() < 0.5:
                doc_id = rng.choice(sorted(self.docs))
            else:
                doc_id, self.next_doc = self.next_doc, self.next_doc + 1
            text = gen.random_text(rng)
            upserts.append({"doc_id": doc_id, "text": text, "lang": rng.choice(gen.LANGS),
                            "source": f"src{rng.randrange(20)}", "n_chars": len(text)})
        upserts = list({d["doc_id"]: d for d in upserts}.values())
        up_ids = {d["doc_id"] for d in upserts}
        deletes = rng.sample(sorted(set(self.docs) - up_ids), s["n_delete"])
        vrows = gen.embeddings(self.seed * 1000 + r + 1, s["n_vec_upsert"])
        vup = []
        for k, v in enumerate(vrows):
            if k % 2 == 0:
                vid = rng.choice(sorted(self.vecs))
            else:
                vid, self.next_vec = self.next_vec, self.next_vec + 1
            vup.append({"vec_id": vid, "embedding": v["embedding"], "label": v["label"]})
        vup = list({v["vec_id"]: v for v in vup}.values())
        paths = {
            "upserts": os.path.join(ddir, "upserts.parquet"),
            "deletes": os.path.join(ddir, "deletes.parquet"),
            "vectors": os.path.join(ddir, "vectors.parquet"),
        }
        gen.write_parquet(upserts, gen.DOCS_SCHEMA, paths["upserts"])
        gen.write_parquet([{"doc_id": i} for i in deletes],
                          pa.schema([("doc_id", pa.int64())]), paths["deletes"])
        gen.write_parquet(vup, gen.EMB_SCHEMA, paths["vectors"])
        for d in upserts:
            self.docs[d["doc_id"]] = d
        for i in deletes:
            del self.docs[i]
        for v in vup:
            self.vecs[v["vec_id"]] = v
        self.corpus_version += 1
        snap = (os.path.join(ddir, "corpus_docs.parquet"), os.path.join(ddir, "corpus_emb.parquet"))
        gen.write_parquet([self.docs[i] for i in sorted(self.docs)], gen.DOCS_SCHEMA, snap[0])
        gen.write_parquet([self.vecs[i] for i in sorted(self.vecs)], gen.EMB_SCHEMA, snap[1])
        self.snapshots[self.corpus_version] = snap
        return paths

    def _query_args(self, kind: str) -> dict:
        rng = self.rng
        terms = rng.sample(gen.VOCAB, 2)
        if kind == "fuzzy":
            t = rng.choice(gen.TAIL)
            return {"terms": [t[:2] + ("z" if t[2] != "z" else "y") + t[3:]]}
        if kind == "suggest":
            return {"prefix": rng.choice(gen.TAIL)[:3]}
        if kind == "facets":
            return {"terms": [rng.choice(gen.TAIL)]}
        if kind == "pq":
            return {"ids": sorted(rng.sample(sorted(self.vecs), 2))}
        return {"terms": terms}

    # -- ops ----------------------------------------------------------------
    def _serve(self, kind: str, a: dict) -> list[tuple]:
        from azuredatalakeindexer_spark.sources import ann_index, profile_index, text_index

        spark, nb = self.spark, self.sizes["n_buckets"]
        if kind == "bm25":
            df = text_index.query_text_index(spark, self.ti, a["terms"], k=10, n_buckets=nb)
        elif kind == "phrase":
            df = text_index.query_phrase_index(spark, self.ti, a["terms"], k=10, n_buckets=nb)
        elif kind == "fuzzy":
            df = text_index.query_fuzzy_index(spark, self.ti, a["terms"], k=10, n_buckets=nb)
        elif kind == "suggest":
            df = text_index.suggest_from_index(spark, self.ti, a["prefix"], k=10)
        elif kind == "highlight":
            df = text_index.highlight_from_index(spark, self.ti, a["terms"], k=10, n_buckets=nb)
        elif kind == "profile":
            df = profile_index.query_profile_index(
                spark, self.pi, {"text": (a["terms"], 2.0), "source": (["src1"], 1.0)}, k=10)
        elif kind == "facets":
            df = profile_index.facets_from_index(spark, self.pi, {"text": a["terms"]}, ["source"], top_n=5)
        else:
            q = spark.read.parquet(self.emb_path).select("vec_id", "embedding")
            q = q.where(q.vec_id.isin(a["ids"]))
            df = ann_index.query_pq_index(spark, self.pq, q, k=5, n_probe=16, shortlist=50)
        return [tuple(r) for r in df.collect()]

    def _maintain(self, paths: dict) -> None:
        from azuredatalakeindexer_spark.sources import ann_index, profile_index, text_index

        spark, nb = self.spark, self.sizes["n_buckets"]
        up = spark.read.parquet(paths["upserts"])
        dead = spark.read.parquet(paths["deletes"])
        vec = spark.read.parquet(paths["vectors"]).select("vec_id", "embedding")
        text_index.upsert_text_index(spark, self.ti, up.select("doc_id", "text"), n_buckets=nb).collect()
        profile_index.upsert_profile_index(spark, self.pi, up.select("doc_id", "text", "source", "n_chars")).collect()
        text_index.delete_from_text_index(spark, self.ti, dead, n_buckets=nb)
        profile_index.delete_from_profile_index(spark, self.pi, dead)
        ann_index.upsert_pq_index(spark, self.pq, vec).collect()

    def warm_up(self) -> list[Op]:
        """One untimed query of each family, so the window serves warm."""
        return self._queries()

    def round(self) -> list[Op]:
        self.rounds += 1
        paths = self._delivery(self.rounds)
        ops = []
        span = self.tracer.begin("bench.op", "maintain")
        t0 = time.perf_counter()
        try:
            self._maintain(paths)
            ops.append(Op("maintain", time.perf_counter() - t0))
        except Exception as exc:  # a failed delivery is a failed operation
            ops.append(Op("maintain", time.perf_counter() - t0, ok=False, note=repr(exc)))
        self.tracer.end(span)
        return ops + self._queries()

    def _queries(self) -> list[Op]:
        ops = []
        kinds = list(self.QUERY_KINDS)
        self.rng.shuffle(kinds)
        for kind in kinds:
            a = self._query_args(kind)
            span = self.tracer.begin("bench.op", kind)
            t0 = time.perf_counter()
            try:
                rows = self._serve(kind, a)
                ops.append(Op(kind, time.perf_counter() - t0))
                self.served.append((kind, a, rows, self.corpus_version))
            except Exception as exc:
                ops.append(Op(kind, time.perf_counter() - t0, ok=False, note=repr(exc)))
            self.tracer.end(span)
        return ops

    # -- checks -------------------------------------------------------------
    def _twin(self, kind: str, a: dict, version: int) -> list[tuple]:
        import pyspark.sql.functions as F

        from azuredatalakeindexer_spark.functions.text import tokens
        from azuredatalakeindexer_spark.operators import search, similarity

        docs_path, emb_path = self.snapshots[version]
        docs = self.spark.read.parquet(docs_path)
        if kind == "bm25":
            df = search.bm25_topk(docs, a["terms"], k=10)
        elif kind == "phrase":
            df = search.phrase_topk(docs, a["terms"], k=10)
        elif kind == "fuzzy":
            df = search.fuzzy_topk(docs, a["terms"], k=10)
        elif kind == "suggest":
            df = search.suggest_terms(docs, a["prefix"], k=10)
        elif kind == "highlight":
            top = {r["doc_id"]: r["bm25"] for r in search.bm25_topk(docs, a["terms"], k=10).collect()}
            snip = {
                r["doc_id"]: (r["hit_pos"], r["snippet"])
                for r in search.keyword_snippets(docs, a["terms"][0], radius=20)
                .where(F.col("doc_id").isin(list(top))).collect()
            }
            return sorted((i, s, *snip.get(i, (0, None))) for i, s in top.items())
        elif kind == "profile":
            df = search.scoring_profile_topk(
                docs, {"text": (a["terms"], 2.0), "source": (["src1"], 1.0)}, k=10)
        elif kind == "facets":
            hit = F.arrays_overlap(tokens(F.col("text")), F.array(*[F.lit(t) for t in a["terms"]]))
            return sorted(tuple(r) for r in search.facet_counts(docs.where(hit), ["source"], top_n=5).collect())
        else:
            emb = self.spark.read.parquet(emb_path).select("vec_id", "embedding")
            q = self.spark.read.parquet(self.emb_path).select("vec_id", "embedding")
            q = q.where(q.vec_id.isin(a["ids"]))
            cb = self.spark.read.parquet(os.path.join(self.pq, "codebooks"))
            df = similarity.pq_topk(emb, q, k=5, m=4, k_pq=16, shortlist=50, codebooks=cb)
        return [tuple(r) for r in df.collect()]

    def final_check(self) -> tuple[int, int]:
        """Compare a seeded sample of ``n_checks`` served results with their
        scan-time twins (every result at the smoke sizes).  Returns (checks
        attempted, checks failed); served results are already counted as
        operations, so a mismatch counts as a failure only."""
        failed = 0
        picked = random.Random(f"checks-{self.seed}").sample(
            self.served, min(self.sizes["n_checks"], len(self.served)))
        for kind, a, rows, version in picked:
            got = sorted(rows) if kind in ("highlight", "facets") else rows
            want = self._twin(kind, a, version)
            if got != want:
                failed += 1
                self.failures.append(f"{kind} {a} differs from its scan-time twin")
        return 0, failed

    def scan_markers(self) -> dict:
        return {}

    def index_bytes_per_corpus_byte(self) -> float:
        return sum(_dir_bytes(p) for p in (self.ti, self.pi, self.pq)) / self.corpus_bytes

    def report(self, ops: list[Op]) -> dict:
        q = [o.wall for o in ops if o.kind != "maintain"]
        out = {
            "query_s_p50": median(q),
            "query_samples": len(q),
            "vector_query_s_p50": median([o.wall for o in ops if o.kind == "pq"]),
            "maintain_s_p50": median([o.wall for o in ops if o.kind == "maintain"]),
            "index_bytes_per_corpus_byte": self.index_bytes_per_corpus_byte(),
        }
        # a p90 needs at least ten samples above it
        if len(q) >= 100:
            out["query_s_p90"] = sorted(q)[int(0.9 * len(q))]
        return out


def median(xs: list[float]) -> float:
    xs = sorted(xs)
    if not xs:
        return float("nan")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


WORKLOADS = {w.name: w for w in (RefreshWorkload, SearchMixWorkload)}
