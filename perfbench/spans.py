"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's side only: :func:`install` wraps the
package's layer functions (module attributes, so internal calls between
modules are seen too) without editing program code.  Every span is kept in
memory; Spark SQL executions are read from the session's SQL status store
once the run ends and each is attributed to the innermost non-transparent
span open when it was submitted (latest start time among the spans that
contain the submission instant, across threads).

Lazy DataFrame builders (``operators.*``, ``sources.lake``) submit no
executions themselves: their spans measure driver-side plan construction,
and the Spark work they describe is attributed to the span that ran the
action (``plans.indexer``, ``streaming.events``).
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "azuredatalakeindexer_spark"

#: layer (the package module) -> wrapped attributes.  ``functions.parallel``
#: is transparent: it records scheduling width/overlap, and executions inside
#: its thunks belong to the layer that called it.
LAYERS = {
    # _merge_batch runs on the streaming query's thread: wrapping it keeps
    # the micro-batch merges' executions in this layer
    "streaming.events": ["run_event_stream_upsert", "_merge_batch"],
    "plans.indexer": ["run_document_indexer"],
    "sources.lake": ["read_json_documents", "list_lake_paths", "read_file_contents"],
    "operators.paths": ["list_paths"],
    "operators.mapper": ["join_paths_content", "map_to_data_index", "drop_unmapped",
                         "events_to_path_rows"],
    "operators.upsert": ["dedup_last_writer", "classify_upserts", "merge_upsert"],
    "operators.batching": ["oversize_filter"],
    "sources.text_index": [
        "build_text_index", "upsert_text_index", "delete_from_text_index", "query_text_index",
        "query_phrase_index", "suggest_from_index", "fuzzy_from_index", "query_fuzzy_index",
        "highlight_from_index"],
    "sources.profile_index": [
        "build_profile_index", "query_profile_index", "facets_from_index",
        "upsert_profile_index", "delete_from_profile_index"],
    "sources.ann_index": ["build_pq_index", "query_pq_index", "upsert_pq_index", "delete_from_pq_index"],
    "sources.staging": ["recover_for_maintenance", "recover_for_query",
                        "StagedCommit.__init__", "StagedCommit.promote"],
    "functions.parallel": ["run_concurrent"],
    "functions.localrel": ["read_meta_parquet", "write_meta_parquet", "tiny_df"],
}
TRANSPARENT = {"functions.parallel"}
#: the per-layer metric set every full layer reports
FULL = ("calls", "wall_s", "self_s", "spark_exec", "spark_exec_s", "driver_s",
        "bytes_read", "shuffle_bytes", "bytes_written")
QUERY_OPS = {
    "sources.text_index": {"query_text_index", "query_phrase_index", "suggest_from_index",
                           "fuzzy_from_index", "query_fuzzy_index", "highlight_from_index"},
    "sources.profile_index": {"query_profile_index", "facets_from_index"},
}


@dataclass
class Span:
    sid: int
    layer: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder.  ``active`` gates recording so a traced run
    can interleave untraced operations and measure the tracing overhead."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self.counters: dict[str, float] = {}
        self._open: dict[int, Span] = {}

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, layer: str, op: str, parent: int | None = None) -> Span | None:
        if not self.active:
            return None
        stack = self._stack()
        with self._lock:
            if parent is None and stack:
                parent = stack[-1].sid
            elif parent is None and self._open:
                # first span on a thread the package started (a streaming
                # query's batch thread): nest it under the newest open span
                parent = max(self._open)
            span = Span(len(self.spans), layer, op, time.time(), parent=parent)
            self.spans.append(span)
            self._open[span.sid] = span
        stack.append(span)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.time()
        with self._lock:
            self._open.pop(span.sid, None)
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.active:
            self.counters[name] = self.counters.get(name, 0) + value


def _wrap(tracer: Tracer, layer: str, op: str, fn):
    if layer == "functions.parallel":
        @functools.wraps(fn)
        def run_concurrent(*thunks):
            span = tracer.begin(layer, op)
            if span is None:
                return fn(*thunks)
            live = [t for t in thunks if t is not None]
            span.attrs["width"] = len(live)
            walls: list[float] = []

            def timed(t):
                def call():
                    inner = tracer.begin(layer, "thunk", parent=span.sid)
                    t0 = time.time()
                    try:
                        return t()
                    finally:
                        walls.append(time.time() - t0)
                        tracer.end(inner)
                return call

            try:
                return fn(*[timed(t) for t in live])
            finally:
                span.attrs["thunk_s"] = sum(walls)
                tracer.end(span)

        return run_concurrent

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        span = tracer.begin(layer, op)
        try:
            out = fn(*args, **kwargs)
            if span is not None and op == "read_meta_parquet":
                span.attrs["fallback"] = out is None
            return out
        finally:
            tracer.end(span)

    return wrapper


def install(tracer: Tracer) -> None:
    """Wrap every layer function listed in :data:`LAYERS`, rebinding each
    package module attribute that refers to the original function."""
    originals = []
    for layer, names in LAYERS.items():
        mod = importlib.import_module(f"{PKG}.{layer}")
        for name in names:
            if "." in name:
                cls_name, meth = name.split(".")
                cls = getattr(mod, cls_name)
                orig = getattr(cls, meth)
                setattr(cls, meth, _wrap(tracer, layer, meth, orig))
                continue
            orig = getattr(mod, name)
            originals.append((orig, _wrap(tracer, layer, name, orig)))
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            for orig, wrapped in originals:
                if value is orig:
                    setattr(mod, attr, wrapped)


# -- status-store collection ------------------------------------------------

@dataclass
class Execution:
    eid: int
    start: float
    end: float
    bytes_read: int = 0
    shuffle_bytes: int = 0
    bytes_written: int = 0
    span: Span | None = None
    scans: list = field(default_factory=list)  # (location desc, files read, rows)


def _num(text) -> int:
    if text is None:
        return 0
    head = str(text).split("\n")[-1].split(" (")[0]
    try:
        return int(head.replace(",", ""))
    except ValueError:
        return 0


def collect_executions(spark, since: int, spans: list[Span]) -> list[Execution]:
    """Read every SQL execution with id >= ``since`` from the status stores,
    attribute it to a span, and for ``plans.indexer``'s executions record
    the file-scan node metrics."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    core = sc.statusStore()
    index = _SpanIndex(spans)
    out = []
    for e in conv.asJava(store.executionsList()):
        eid = e.executionId()
        if eid < since or not e.completionTime().isDefined():
            continue
        ex = Execution(eid, e.submissionTime() / 1000.0, e.completionTime().get().getTime() / 1000.0)
        ex.span = index.innermost(ex.start)
        if ex.span is None:
            continue
        for job in dict(conv.asJava(e.jobs())).keys():
            for sid in conv.asJava(core.job(job).stageIds()):
                try:
                    sd = core.lastStageAttempt(sid)
                except Exception:  # stage evicted or never ran
                    continue
                ex.bytes_read += sd.inputBytes()
                ex.shuffle_bytes += sd.shuffleWriteBytes()
                ex.bytes_written += sd.outputBytes()
        if ex.span.layer == "plans.indexer":
            vals = conv.asJava(store.executionMetrics(eid))
            for node in conv.asJava(store.planGraph(eid).allNodes()):
                if not node.name().startswith("Scan"):
                    continue
                m = {x.name(): vals.get(x.accumulatorId()) for x in conv.asJava(node.metrics())}
                ex.scans.append((node.desc(), _num(m.get("number of files read")),
                                 _num(m.get("number of output rows"))))
        out.append(ex)
    return out


class _SpanIndex:
    def __init__(self, spans: list[Span]):
        self.spans = sorted(
            (s for s in spans if s.layer not in TRANSPARENT and s.end), key=lambda s: s.start
        )

    def innermost(self, t: float) -> Span | None:
        # the JVM stamps submission in whole milliseconds (truncated), so
        # the submission happened no later than the end of that millisecond
        t += 0.001
        best = None
        for s in self.spans:
            if s.start > t:
                break
            if s.end >= t and (best is None or s.start >= best.start):
                best = s
        return best


# -- metric computation -----------------------------------------------------

def _union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals) -> float:
    return sum(b - a for a, b in _union(intervals))


def _intersect(xs, ys) -> float:
    xs, ys = _union(xs), _union(ys)
    i = j = 0
    total = 0.0
    while i < len(xs) and j < len(ys):
        lo = max(xs[i][0], ys[j][0])
        hi = min(xs[i][1], ys[j][1])
        if hi > lo:
            total += hi - lo
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return total


def layer_stats(spans: list[Span], execs: list[Execution], layer: str, ops: set[str] | None = None) -> dict:
    """The :data:`FULL` metric set for one layer (optionally restricted to
    spans of the named ``ops``)."""
    by_id = {s.sid: s for s in spans}

    def ancestors(s: Span):
        p = s.parent
        while p is not None:
            yield by_id[p]
            p = by_id[p].parent

    mine = [s for s in spans if s.layer == layer and s.end and (ops is None or s.op in ops)]
    outer = [s for s in mine if not any(a.layer == layer for a in ancestors(s))]
    own = [s.sid for s in mine]
    own_set = set(own)
    children = [
        s for s in spans
        if s.end and s.layer != layer and s.layer not in TRANSPARENT
        and any(a.sid in own_set for a in ancestors(s))
    ]
    covered = [(s.start, s.end) for s in outer]
    wall = sum(s.end - s.start for s in outer)
    self_s = max(0.0, wall - _intersect(covered, [(c.start, c.end) for c in children]))
    mine_exec = [e for e in execs if e.span is not None and e.span.sid in own_set]
    exec_iv = [(e.start, e.end) for e in mine_exec]
    busy = [(c.start, c.end) for c in children] + exec_iv
    return {
        "calls": len(outer),
        "wall_s": wall,
        "self_s": self_s,
        "spark_exec": len(mine_exec),
        "spark_exec_s": _length(exec_iv),
        # time in the layer's own code: neither in a child layer's span
        # nor inside one of the layer's Spark executions
        "driver_s": max(0.0, wall - _intersect(covered, busy)),
        "bytes_read": sum(e.bytes_read for e in mine_exec),
        "shuffle_bytes": sum(e.shuffle_bytes for e in mine_exec),
        "bytes_written": sum(e.bytes_written for e in mine_exec),
    }


def per_layer_metrics(spans: list[Span], execs: list[Execution], counters: dict,
                      markers: dict) -> dict[str, float]:
    """Every per-layer metric, normalized per traced operation (a
    ``bench.op`` span).

    ``markers`` maps a role (``lake``, ``path_index``) to a substring of the
    description of that relation's scan nodes in ``plans.indexer``'s
    executions."""
    op_spans = [s for s in spans if s.layer == "bench.op" and s.end]
    per = max(1, len(op_spans))
    out: dict[str, float] = {}
    for layer in LAYERS:
        if layer in TRANSPARENT or layer == "functions.localrel":
            continue
        for k, v in layer_stats(spans, execs, layer).items():
            out[f"{layer}.{k}"] = v / per
    for layer, ops in QUERY_OPS.items():
        st = layer_stats(spans, execs, layer, ops)
        out[f"{layer}.query.driver_s"] = st["driver_s"] / per
        out[f"{layer}.query.spark_exec"] = st["spark_exec"] / per
    st = layer_stats(spans, execs, "sources.ann_index", {"query_pq_index"})
    out["sources.ann_index.query_pq_index.driver_s"] = st["driver_s"] / per
    out["sources.ann_index.query_pq_index.spark_exec_s"] = st["spark_exec_s"] / per

    calls = [s for s in spans if s.layer == "functions.parallel" and s.op == "run_concurrent" and s.end]
    out["functions.parallel.calls"] = len(calls) / per
    out["functions.parallel.wall_s"] = sum(s.end - s.start for s in calls) / per
    wall = sum(s.end - s.start for s in calls)
    out["functions.parallel.overlap"] = sum(s.attrs.get("thunk_s", 0) for s in calls) / wall if wall else 0.0
    out["functions.parallel.width_max"] = max((s.attrs.get("width", 0) for s in calls), default=0)

    lr = [s for s in spans if s.layer == "functions.localrel" and s.end]
    reads = [s for s in lr if s.op == "read_meta_parquet"]
    out["functions.localrel.calls"] = len(lr) / per
    out["functions.localrel.wall_s"] = sum(s.end - s.start for s in lr) / per
    out["functions.localrel.fallback_ratio"] = (
        sum(1 for s in reads if s.attrs.get("fallback")) / len(reads) if reads else 0.0
    )

    sess = [s for s in spans if s.layer == "session" and s.end]
    out["session.wall_s"] = sum(s.end - s.start for s in sess)

    scans = [sc for e in execs for sc in e.scans]
    changed = counters.get("paths_selected", 0)
    lake_files = sum(f for desc, f, _ in scans if markers.get("lake") and markers["lake"] in desc)
    pi_rows = sum(r for desc, _, r in scans if markers.get("path_index") and markers["path_index"] in desc)
    out["sources.lake.files_read_per_changed_path"] = lake_files / changed if changed else 0.0
    out["operators.paths.rows_scanned_per_path"] = pi_rows / changed if changed else 0.0
    ev = counters.get("events_delivered", 0)
    written = sum(e.bytes_written for e in execs if e.span and e.span.layer == "streaming.events")
    out["streaming.events.bytes_written_per_event"] = written / ev if ev else 0.0

    layer_cover = [(s.start, s.end) for s in spans
                   if s.end and s.layer not in ("bench.op", "session") and s.layer not in TRANSPARENT]
    op_cover = [(s.start, s.end) for s in op_spans]
    out["trace.unattributed_s"] = max(0.0, _length(op_cover) - _intersect(op_cover, layer_cover)) / per
    return out


def per_layer_names() -> list[str]:
    """Names of every per-layer metric, in report order."""
    names = []
    for layer in LAYERS:
        if layer in TRANSPARENT or layer == "functions.localrel":
            continue
        names += [f"{layer}.{k}" for k in FULL]
    for layer in QUERY_OPS:
        names += [f"{layer}.query.driver_s", f"{layer}.query.spark_exec"]
    names += [
        "sources.ann_index.query_pq_index.driver_s",
        "sources.ann_index.query_pq_index.spark_exec_s",
        "functions.parallel.calls", "functions.parallel.wall_s",
        "functions.parallel.overlap", "functions.parallel.width_max",
        "functions.localrel.calls", "functions.localrel.wall_s",
        "functions.localrel.fallback_ratio",
        "session.wall_s",
        "sources.lake.files_read_per_changed_path",
        "operators.paths.rows_scanned_per_path",
        "streaming.events.bytes_written_per_event",
        "trace.unattributed_s", "trace.overhead_s",
    ]
    return names
