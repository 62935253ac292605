"""Repository benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload refresh_1pct --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke            # every workload once, tiny sizes

Run from the repository root.  The package is imported from the source tree
next to this directory, on a ``local[nproc - 1]`` Spark session, and driven
by one closed-loop client.  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` wraps the package's layer functions with in-memory spans and
prints per-layer metrics.  The last line of standard output is one JSON
object; a full report (stamp, every metric, failures, spans) is written
under ``.perfbench/results/``.  All scratch data lives under ``.perfbench/``
and is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "azuredatalakeindexer_spark")
#: set-ups per run; ``setup_s`` reports session start + their median +
#: one warm-up pass (run on the first set-up, so that the JIT compiler has
#: the second set-up's time too before the window opens)
SETUPS = 2

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "maintain_s_p50": "s",
    "index_bytes_per_corpus_byte": "B/B",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(PKG_DIR)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def spark_cores() -> int:
    """Task threads for the local session: one core is left to the driver's
    own threads (Python client, planner, JIT compiler, GC).  With a task
    thread on every core, those threads contend with the tasks, and the
    median refresh cycle of the same code swung between about 3.0 s and
    4.3 s from one process to the next on 4 cores."""
    return max(1, nproc() - 1)


def configure_env(work: str) -> None:
    """Keep every file the JVM and Python write inside ``work``, and size
    the local session to this machine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(spark_cores()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    confs = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every execution back at the end of the run
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.maxMetadataStringLength": "1000",
    }
    args = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    args += [f"--conf {k}={v}" for k, v in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def run_window(wl, seconds: float) -> list:
    """Closed loop: whole rounds until ``seconds`` have passed (at least one)."""
    deadline = time.perf_counter() + seconds
    ops = wl.round()
    while time.perf_counter() < deadline:
        ops += wl.round()
    return ops


def run_workload(name: str, seed: int, seconds: float, trace: bool, smoke: bool, results: str) -> dict:
    import spans as tr
    import workloads
    from workloads import median

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work)
    tracer = tr.Tracer()
    if trace:
        tr.install(tracer)
    spark = None
    try:
        from azuredatalakeindexer_spark.session import get_spark

        tracer.active = trace
        sess = tracer.begin("session", "get_spark")
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{name}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer.end(sess)
        tracer.active = False

        sizes = (workloads.SMOKE_SIZES if smoke else workloads.SIZES)[name]
        wl = workloads.WORKLOADS[name](spark, work, seed, sizes, tracer)
        setups, warm, warm_s = [], [], 0.0
        for k in range(1 if smoke else SETUPS):
            if k:
                wl.discard(k - 1)
            setups.append(wl.setup(k))
            if k == 0:
                t0 = time.perf_counter()
                warm = wl.warm_up()
                warm_s = time.perf_counter() - t0
        setup_s = session_s + median(setups) + warm_s

        untraced = run_window(wl, seconds)
        traced = []
        if trace:
            store = spark._jsparkSession.sharedState().statusStore()
            since = store.executionsCount()
            tracer.active = True
            traced = run_window(wl, seconds)
            tracer.active = False
        ops = warm + untraced + traced
        check_attempted, check_failed = wl.final_check()

        attempted = len(ops) + check_attempted
        failed = sum(1 for o in ops if not o.ok) + check_failed
        measured = traced if trace else untraced
        e2e = {
            "setup_s": setup_s,
            "op_s_p50": median([o.wall for o in measured]),
            "maintain_s_p50": median([o.wall for o in measured if o.kind in ("refresh", "maintain")]),
            "index_bytes_per_corpus_byte": wl.index_bytes_per_corpus_byte(),
        }
        report = {
            "stamp": {
                "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
                "smoke": smoke, "nproc": nproc(), "spark_master": spark.sparkContext.master,
                "spark_cores": spark.sparkContext.defaultParallelism,
                "pyspark": __import__("pyspark").__version__, "commit": git_commit(),
                "source_sha256": source_digest(), "sizes": sizes, "setups": len(setups),
            },
            "end_to_end": e2e,
            "workload_metrics": wl.report(measured),
            "session_s": session_s,
            "setup_samples_s": setups,
            "ops": [(o.kind, o.wall, o.ok, o.note) for o in ops],
            "attempted": attempted,
            "failed": failed,
            "op_fail_ratio": failed / max(1, attempted),
            "failures": wl.failures,
        }
        if trace:
            execs = tr.collect_executions(spark, since, tracer.spans)
            per_layer = tr.per_layer_metrics(tracer.spans, execs, tracer.counters, wl.scan_markers())
            per_layer["trace.overhead_s"] = (
                median([o.wall for o in traced]) - median([o.wall for o in untraced]))
            report["per_layer"] = per_layer
            report["spans"] = [s.__dict__ for s in tracer.spans]
            report["executions"] = [
                (e.eid, e.start, e.end, e.span.layer, e.span.op, e.bytes_read,
                 e.shuffle_bytes, e.bytes_written) for e in execs
            ]
        os.makedirs(results, exist_ok=True)
        out = os.path.join(results, f"{name}-seed{seed}-trace{int(trace)}-{int(time.time())}.json")
        with open(out, "w") as fh:
            json.dump(report, fh, indent=1, default=str)
        report["path"] = out
        return report
    finally:
        if spark is not None:
            gateway = spark.sparkContext._gateway
            spark.stop()
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)


#: the workload-specific metrics by name and unit, and the workload that
#: measures each
NAMED = [
    ("setup_s", "s", None),
    ("refresh_s_p50", "s", "refresh_1pct"),
    ("reindex_docs_per_s", "docs/s", "refresh_1pct"),
    ("query_s_p50", "s", "search_mix"),
    ("query_s_p90", "s", "search_mix"),
    ("vector_query_s_p50", "s", "search_mix"),
    ("maintain_s_p50", "s", "search_mix"),
    ("index_bytes_per_corpus_byte", "B/B", "search_mix"),
    ("op_fail_ratio", "ratio", None),
]


def print_report(rep: dict) -> None:
    st = rep["stamp"]
    print(f"# perfbench {st['workload']} seed={st['seed']} trace={st['trace']} nproc={st['nproc']} "
          f"master={st['spark_master']} cores={st['spark_cores']} pyspark={st['pyspark']} "
          f"commit={st['commit']} source={st['source_sha256']} sizes={json.dumps(st['sizes'])}")
    print("# end-to-end (every workload)")
    for k, v in rep["end_to_end"].items():
        print(f"{k} = {v:.6g} {END_TO_END[k]}")
    print("# workload metrics")
    values = dict(rep["workload_metrics"], setup_s=rep["end_to_end"]["setup_s"],
                  op_fail_ratio=rep["op_fail_ratio"])
    for k, unit, owner in NAMED:
        if k in values:
            print(f"{k} = {values[k]:.6g} {unit}")
        elif owner and owner != st["workload"]:
            print(f"{k} = n/a {unit} (measured on {owner})")
        else:
            n = rep["workload_metrics"].get("query_samples", 0)
            print(f"{k} = n/a {unit} ({n} samples; a p90 needs 100)")
    if "per_layer" in rep:
        pl = rep["per_layer"]
        print(f"# tracing: overhead {pl['trace.overhead_s']:+.4g} s per op (traced - untraced median), "
              f"unattributed {pl['trace.unattributed_s']:.4g} s per op")
    for f in rep["failures"]:
        print(f"FAILED: {f}")
    print(f"# report: {rep['path']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload, untraced and traced, once at tiny sizes")
    ap.add_argument("--tiny", action="store_true", help="one run at the smoke sizes")
    args = ap.parse_args(argv)

    init = os.path.join(PKG_DIR, "__init__.py")
    if not os.path.isfile(init):
        print(f"perfbench: package source not found at {PKG_DIR}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    results = os.path.join(ROOT, ".perfbench", "results")
    if args.smoke:
        return smoke(args.seed)

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    rep = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny, results)
    import spans as tr

    if args.trace:
        metrics = {k: {"value": rep["per_layer"][k], "unit": unit_of(k)} for k in tr.per_layer_names()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in rep["end_to_end"].items()}
    print_report(rep)
    print(json.dumps({
        "correct": rep["failed"] == 0,
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": metrics,
    }))
    return 0


RATIO_UNITS = {
    "overlap": "ratio",
    "fallback_ratio": "ratio",
    "rows_scanned_per_path": "rows/path",
    "files_read_per_changed_path": "files/path",
    "bytes_written_per_event": "B/event",
}


def unit_of(metric: str) -> str:
    leaf = metric.rsplit(".", 1)[-1]
    if leaf in RATIO_UNITS:
        return RATIO_UNITS[leaf]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("bytes") or leaf.startswith("bytes"):
        return "B"
    return "count"


def smoke(seed: int) -> int:
    """Every workload, untraced and traced, once at tiny sizes with every
    check on; each run in its own process (one Spark session per process)."""
    import workloads

    bad = 0
    for name in workloads.WORKLOADS:
        for trace in ("0", "1"):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed",
                   str(seed), "--seconds", "0", "--trace", trace, "--tiny"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            ok = bool(result and result["correct"] and result["failed"] == 0)
            print("\n".join(lines[:-1]))
            print(f"smoke {name} trace={trace}: {'ok' if ok else 'FAILED'}")
            if not ok:
                print(proc.stderr[-4000:], file=sys.stderr)
                bad += 1
    print(json.dumps({"smoke": True, "failed": bad}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
