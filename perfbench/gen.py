"""Seeded input generator for the benchmark: plain Python + pyarrow, no Spark.

Everything the program under test receives is produced here from ``seed``
and handed over as files, directory paths or (via the workloads) DataFrames
read from those files.  The generator also keeps the *expected* state of the
lake tables — the data index, the path index and the deleted-path index —
as plain Python dicts, so result checks never depend on Spark.

The corpus is shaped like the ``documents`` / ``embeddings`` fixture tables
(30-word vocabulary, 10-100 tokens per text, 20 sources, 5 languages,
64-dim unit embeddings in 10 clusters), plus a 1,000-word rare tail so the
vocabulary serves (suggest, fuzzy) have a realistic slice to walk.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
TAIL = [f"t{i:03d}x" for i in range(1000)]
LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 2 + ["en", "zh", "es", "fr"]

BLOB_CREATED = "Microsoft.Storage.BlobCreated"
BLOB_DELETED = "Microsoft.Storage.BlobDeleted"
URL_PREFIX = "https://acct.dfs.core.windows.net"
LAKE_FS = "stuff-large"
ARCHIVE_FS = "stuff-archive"
MALFORMED_BODY = '{"stringvalue": "truncated'
#: the seeding delivery's ``now`` stamp; cycle ``c`` stamps ``T0 + c hours``
T0 = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("eventType", pa.string()),
        ("eventTime", pa.timestamp("us", tz="UTC")),
        ("url", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EMB_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
)


def micros(t: dt.datetime) -> int:
    return int((t - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)).total_seconds()) * 1_000_000


def random_text(rng: random.Random) -> str:
    words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
    for _ in range(rng.randint(0, 3)):
        words.insert(rng.randrange(len(words) + 1), rng.choice(TAIL))
    if rng.random() < 0.05:
        words.append("dup")
    return " ".join(words)


def documents(seed: int, n: int) -> list[dict]:
    rng = random.Random(f"docs-{seed}")
    out = []
    for i in range(n):
        text = random_text(rng)
        out.append(
            {"doc_id": i, "text": text, "lang": rng.choice(LANGS),
             "source": f"src{i % 20}", "n_chars": len(text)}
        )
    return out


def embeddings(seed: int, n: int, dim: int = 64) -> list[dict]:
    rs = np.random.RandomState(seed % (2**32))
    centers = rs.normal(size=(10, dim))
    labels = rs.randint(0, 10, size=n)
    vecs = centers[labels] + 0.6 * rs.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return [
        {"vec_id": i, "embedding": vecs[i].tolist(), "label": int(labels[i])}
        for i in range(n)
    ]


def write_parquet(rows: list[dict], schema: pa.Schema, path: str) -> int:
    """Write ``rows`` as one parquet file, atomically (tmp name + rename) so a
    directory-watching reader never sees a partial file.  Returns bytes."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
    os.replace(tmp, path)
    return os.path.getsize(path)


def path_key(filesystem: str, path: str) -> str:
    enc = path.replace("/", "%2f")
    return base64.b64encode(f"{filesystem}%2f{enc}".encode()).decode()


def table_digest(rows) -> str:
    """Order-independent content hash of a table given as tuples."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


class Lake:
    """A JSON lake under filesystem ``stuff-large`` plus the archive path
    population, its event deliveries and the expected state of every table
    the lake workloads maintain.

    File ``i`` lives at ``partition_{i%10}/customer_{i%100}/document_{i}.json``;
    every 37th file holds a malformed body in every version.
    """

    def __init__(self, seed: int, root: str, n_files: int, n_archive: int):
        self.root = root
        self.n_files = n_files
        self.n_archive = n_archive
        self.rng = random.Random(f"lake-{seed}")
        #: one text per file, so that the lake's bytes and the index's bytes
        #: both sum over ``n_files`` independent draws
        self.texts = [d["text"] for d in documents(seed, n_files)]
        self.paths = [
            f"partition_{i % 10}/customer_{i % 100}/document_{i}.json"
            for i in range(n_files)
        ]
        self.archive = [
            f"archive_{j % 20}/batch_{j % 500}/blob_{j}.json" for j in range(n_archive)
        ]
        #: lake file index -> (stringvalue, numbervalue, booleanvalue, eventTime µs)
        self.content: dict[int, tuple] = {}
        #: path-index / deleted-index key -> (pathUrlEncoded, fs, fileLM µs,
        #: LM µs, event id)
        self.path_index: dict[str, tuple] = {}
        self.deleted_index: dict[str, tuple] = {}
        self.next_event_id = 0
        self.version = 0

    # -- lake files ---------------------------------------------------------
    def _write_file(self, i: int, event_us: int) -> None:
        text = f"{self.rng.choice(self.texts)} v{self.version}" if self.version else self.texts[i]
        full = os.path.join(self.root, self.paths[i])
        os.makedirs(os.path.dirname(full), exist_ok=True)
        value = (text, len(text), i % 2 == 0)
        body = (
            MALFORMED_BODY
            if self.malformed(i)
            else json.dumps(dict(zip(("stringvalue", "numbervalue", "booleanvalue"), value)))
        )
        with open(full, "w") as fh:
            fh.write(body)
        self.content[i] = value + (event_us,)

    def malformed(self, i: int) -> bool:
        return i % 37 == 0

    def write_all(self) -> None:
        base = micros(T0) - 86_400 * 1_000_000
        for i in range(self.n_files):
            self._write_file(i, base + i * 1_000_000)

    # -- event deliveries ---------------------------------------------------
    def _event(self, etype: str, fs: str, path: str, event_us: int) -> dict:
        self.next_event_id += 1
        return {
            "event_id": self.next_event_id,
            "eventType": etype,
            "eventTime": event_us,
            "url": f"{URL_PREFIX}/{fs}/{path}",
        }

    def _apply(self, events: list[dict], now_us: int) -> None:
        """Expected LWW outcome of draining ``events`` stamped ``now_us``."""
        for e in sorted(events, key=lambda e: (e["eventTime"], e["event_id"])):
            fs, path = e["url"][len(URL_PREFIX) + 1:].split("/", 1)
            target = self.path_index if e["eventType"] == BLOB_CREATED else self.deleted_index
            key = path_key(fs, path)
            old = target.get(key)
            if old is None or (e["eventTime"], e["event_id"]) > (old[2], old[4]):
                target[key] = (path.replace("/", "%2f"), fs, e["eventTime"], now_us, e["event_id"])

    def seed_delivery(self) -> list[dict]:
        """BlobCreated for every lake file and every archive path."""
        events = [
            self._event(BLOB_CREATED, LAKE_FS, self.paths[i], self.content[i][3])
            for i in range(self.n_files)
        ]
        base = micros(T0) - 2 * 86_400 * 1_000_000
        events += [
            self._event(BLOB_CREATED, ARCHIVE_FS, p, base + j * 1_000_000)
            for j, p in enumerate(self.archive)
        ]
        self.rng.shuffle(events)
        self._apply(events, micros(T0))
        return events

    def change(self, cycle: int, n_changed: int, n_deleted: int) -> tuple[list[dict], list[int]]:
        """Rewrite ``n_changed`` seeded lake files and return the delivery
        announcing them (with ~10% redeliveries and ``n_deleted`` archive
        BlobDeleted events) plus the changed file indexes."""
        self.version = cycle
        now_us = micros(T0) + cycle * 3_600_000_000
        changed = sorted(self.rng.sample(range(self.n_files), n_changed))
        events = []
        for k, i in enumerate(changed):
            self._write_file(i, now_us - 600_000_000 + k * 1_000_000)
            events.append(self._event(BLOB_CREATED, LAKE_FS, self.paths[i], self.content[i][3]))
        events += [dict(e) for e in self.rng.sample(events, max(1, n_changed // 10))]
        for j in self.rng.sample(range(self.n_archive), n_deleted):
            events.append(self._event(BLOB_DELETED, ARCHIVE_FS, self.archive[j], now_us - 1_000_000))
        self.rng.shuffle(events)
        self._apply(events, now_us)
        return events, changed

    def now(self, cycle: int) -> str:
        t = T0 + dt.timedelta(hours=cycle)
        return t.strftime("%Y-%m-%d %H:%M:%S")

    # -- expected tables ----------------------------------------------------
    def data_index_rows(self) -> list[tuple]:
        """Expected data-index rows (SomeOtherIndexModel columns), malformed
        files excluded."""
        rows = []
        for i in range(self.n_files):
            if self.malformed(i):
                continue
            sv, nv, bv, ev = self.content[i]
            path = self.paths[i]
            rows.append(
                (path_key(LAKE_FS, path), sv, nv, bv,
                 hashlib.md5(path.encode()).hexdigest(), path.replace("/", "%2f"), ev)
            )
        return rows

    def path_index_rows(self, deleted: bool = False) -> list[tuple]:
        table = self.deleted_index if deleted else self.path_index
        return [(k,) + v[:4] for k, v in table.items()]
