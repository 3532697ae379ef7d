"""Benchmark of tantivy4java_spark: seeded workloads, checked results.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Workloads (one client in a closed loop, zero think time, one driver process
on ``local[<cores>]``):

  search      one long-lived searcher warmed with ``preload()`` answers a
              seeded mix of selective queries (the driver fast path) and
              parsed broad queries whose candidate volume passes the fast
              path's budget, so Spark scores them
  update_mix  rounds of append, delete and compaction, each checked through
              a freshly opened searcher, which then runs selective queries

Every workload first generates its inputs from the seed and builds the index
with ``build_index(..., num_segments=4)`` from a Parquet corpus.  Every
result is checked after the timed loop against the golden scorer in
``tests/golden.py``.  The last line of stdout is one JSON object; with
``--trace 0`` it holds the end-to-end metrics, with ``--trace 1`` the
per-layer metrics read from spans around each call into the program and
from Spark's status store.  Lines before it are a readable report.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

WORKLOADS = ("search", "update_mix")
ROOT = os.getcwd()


def _session(workdir: str, cores: int):
    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("tantivy4java_spark-perfbench")
        # a fixed heap: G1 grows a heap that may grow as it sees fit, and
        # then the peak RSS of a run depends on when it collected
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions",
                f"-Xms2g -Djava.io.tmpdir={os.path.join(workdir, 'tmp')}")
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(8, cores)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the status store must keep every job of a run for attribution
        .config("spark.ui.retainedJobs", "1000000")
        .config("spark.ui.retainedStages", "1000000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit; closing its stdin is how PySpark tells the gateway JVM to quit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _median(xs) -> float:
    xs = [x for x in xs if not math.isnan(x)]
    return statistics.median(xs) if xs else 0.0


def peak_rss_mb() -> dict:
    """Peak resident set (VmHWM) in MB of the driver, by process: this
    Python process and the JVM it started.  Spark's Python workers are left
    out: they are forked from one daemon and share most pages, so their
    VmHWM would be counted several times over, and their number changes
    with idle timeouts."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
    mb = {"python": 0.0, "java": 0.0}
    for p in tree:
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            if p != os.getpid() and comm != "java":
                continue
            with open(f"/proc/{p}/status") as f:
                kb = next(int(line.split()[1]) for line in f
                          if line.startswith("VmHWM:"))
            mb["python" if p == os.getpid() else "java"] += kb / 1024.0
        except (OSError, StopIteration):
            pass
    return mb


def outcome(ops) -> tuple:
    """(correct, attempted, failed): an op fails by raising or by returning
    a wrong result; only a wrong result makes the run incorrect."""
    return (not any(op.wrong for op in ops), len(ops),
            sum(1 for op in ops if op.error))


def query_latencies(bench, loop_only: bool = False) -> list:
    """Latency of every query that returned (failed calls have none), or
    of those in the timed loop only."""
    ops = bench.ops[:bench.loop_end] if loop_only else bench.ops
    return [op.latency_ms for op in ops
            if op.kind == "query" and not math.isnan(op.latency_ms)]


def end_to_end(bench, rss_mb: dict) -> dict:
    lat = query_latencies(bench, loop_only=True)
    b = bench.build
    return {
        "setup_s": (_median(bench.setup_reps_s), "s"),
        "peak_rss_mb": (sum(rss_mb.values()), "MB"),
        "build_docs_per_s": (b["num_docs"] / b["wall_s"], "docs/s"),
        "index_bytes_per_input_byte": (b["output_bytes"] / bench.parquet_bytes,
                                       "ratio"),
        "query_p50_ms": (_median(lat), "ms"),
        "queries_per_s": (len(lat) / bench.loop_s, "1/s"),
    }


def report_only(bench) -> dict:
    """The end-to-end figures that are printed but not every workload has:
    the tail needs more than ten samples, the update times need rounds."""
    from perfbench.trace import tail_percentile
    lat = query_latencies(bench)
    out = {}
    tail = tail_percentile(lat)
    if tail:
        out[f"query_tail_ms (p{tail[0]}, n={len(lat)})"] = (tail[1], "ms")
    _, attempted, failed = outcome(bench.ops)
    out["failed_ratio"] = (failed / attempted, "ratio")
    for name, xs in bench.update_times.items():
        if xs:
            out[name] = (_median(xs), name.rsplit("_", 1)[1])
    return out


def per_layer(bench, by_span, cores: int) -> dict:
    """Per-layer metrics from the spans and the Spark jobs given to them."""
    from perfbench.inputs import BROAD_CLASSES
    from perfbench.trace import subtree
    tr = bench.tr
    spans = tr.spans

    def jobs_under(name):
        """Per span called ``name``: the jobs of its whole subtree."""
        return [[j for sid in subtree(spans, s.sid) for j in by_span.get(sid, [])]
                for s in tr.named(name)]

    def ms(name):
        return _median([s.duration * 1e3 for s in tr.named(name)])

    def sec(name):
        return _median([s.duration for s in tr.named(name)])

    def jobs_per_call(*names):
        per = [len(js) for n in names for js in jobs_under(n)]
        return statistics.mean(per) if per else 0.0

    build_jobs = [j for js in jobs_under("build_index") for j in js]
    run_s = sum(j.executor_run_s for j in build_jobs)
    searches = tr.named("searcher.search")
    queries = tr.named("query")
    q_jobs = dict(zip((s.sid for s in queries), jobs_under("query")))

    def split(spans):
        """(selective, broad) spans by the query class they ran."""
        def is_broad(s):
            return s.attrs.get("cls") in BROAD_CLASSES
        return ([s for s in spans if not is_broad(s)],
                [s for s in spans if is_broad(s)])

    def local_frac(spans):
        return (sum(1 for s in spans if s.attrs.get("local_path") == 1)
                / len(spans)) if spans else 0.0

    def per_query(spans, f):
        return sum(f(j) for s in spans for j in q_jobs[s.sid]) / len(spans) \
            if spans else 0.0

    sel_search, broad_search = split(searches)
    sel_q, broad_q = split(queries)
    wand = [s for s in searches if s.attrs.get("shards_total", 0) > 0]
    b = bench.build
    lat = query_latencies(bench, loop_only=True)
    n_spans = max(1, len(spans))
    m = {
        "build.segment_s": b["segment_s"],
        "build.merge_s": b["merge_s"],
        "build.spark_jobs": len(build_jobs),
        "build.tasks": sum(j.tasks for j in build_jobs),
        "build.driver_gap_s": b["wall_s"] - run_s / cores,
        "build.executor_run_s": run_s,
        "build.executor_cpu_s": sum(j.executor_cpu_s for j in build_jobs),
        "build.gc_s": sum(j.gc_s for j in build_jobs),
        "build.shuffle_write_mb": sum(j.shuffle_write_bytes for j in build_jobs) / 2**20,
        "build.output_mb": b["output_bytes"] / 2**20,
        "build.output_files": b["output_files"],
        "manifest.actions": bench.manifest_actions,
        "manifest.read_ms": ms("manifest.read_actions"),
        "searcher.open_ms": ms("searcher.open"),
        "searcher.preload_s": sec("searcher.preload"),
        "searcher.search_ms": ms("searcher.search"),
        "searcher.collect_ms": ms("searcher.collect"),
        "searcher.local_path_frac": local_frac(sel_search),
        "searcher.spark_jobs_per_query": per_query(sel_q, lambda j: 1),
        "searcher.broad_local_path_frac": local_frac(broad_search),
        "searcher.broad_spark_jobs_per_query": per_query(broad_q, lambda j: 1),
        "searcher.broad_executor_run_ms_per_query":
            per_query(broad_q, lambda j: j.executor_run_s * 1e3),
        "searcher.wand_shards_scored_frac":
            (sum(s.attrs["shards_scored"] for s in wand)
             / sum(s.attrs["shards_total"] for s in wand)) if wand else 0.0,
        "parser.parse_ms": ms("parser.parse_query"),
        "aggs.aggregate_ms": ms("aggs.aggregate"),
        "streaming.add_documents_s": sec("streaming.add_documents"),
        "streaming.spark_jobs": jobs_per_call("streaming.add_documents"),
        "maintenance.delete_by_query_s": sec("maintenance.delete_by_query"),
        "maintenance.apply_deletes_s": sec("maintenance.apply_deletes"),
        "maintenance.spark_jobs": jobs_per_call("maintenance.delete_by_query",
                                                "maintenance.apply_deletes"),
        "trace.query_p50_ms": _median(lat),
        "trace.overhead_us_per_span": tr.bookkeeping_s / n_spans * 1e6,
    }
    return {k: float(v) for k, v in m.items()}


UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_frac": "ratio",
         "_us_per_span": "us"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    if name.endswith("_per_query"):
        return "count" if "jobs" in name else "ms"
    return "count"


def write_trace(tr, by_span, path: str) -> list:
    """Write every span with its self time and Spark jobs to ``path``;
    return per span name: calls, total s, self s, Spark jobs."""
    from perfbench.trace import self_times
    st = self_times(tr.spans)
    with open(path, "w") as f:
        json.dump([{"id": s.sid, "name": s.name, "request": s.request,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self_s": st[s.sid], "attrs": s.attrs,
                    "jobs": [j.job_id for j in by_span.get(s.sid, [])]}
                   for s in tr.spans], f)
    rows = {}
    for s in tr.spans:
        r = rows.setdefault(s.name, [0, 0.0, 0.0, 0])
        r[0] += 1
        r[1] += s.duration
        r[2] += st[s.sid]
        r[3] += len(by_span.get(s.sid, []))
    return sorted(((n, *r) for n, r in rows.items()), key=lambda r: -r[2])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    golden = os.path.join(ROOT, "tests", "golden.py")
    if not (os.path.isfile(os.path.join(ROOT, "tantivy4java_spark", "__init__.py"))
            and os.path.isfile(golden)):
        print("perfbench: run from the root of a tantivy4java_spark checkout "
              "(tantivy4java_spark/ and tests/golden.py are missing)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.append(os.path.dirname(golden))
    from perfbench.sparkstats import read_jobs
    from perfbench.trace import Tracer, attribute_jobs
    from perfbench.workloads import Bench

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"))
    # temp files of this process, the JVM and Spark's Python workers all
    # stay inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(workdir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = None
    try:
        phases = [("start", time.perf_counter())]
        spark = _session(workdir, cores)
        phases.append(("session", time.perf_counter()))
        tracer = Tracer(args.trace == 1)
        bench = Bench(spark, args.workload, args.seed, args.seconds, workdir,
                      tracer)
        bench.setup()
        phases.append(("setup", time.perf_counter()))
        bench.warmup()
        phases.append(("warmup", time.perf_counter()))
        bench.run()
        phases.append(("loop", time.perf_counter()))
        rss = peak_rss_mb()
        bench.verify()
        phases.append(("verify", time.perf_counter()))

        correct, attempted, n_failed = outcome(bench.ops)
        failed = [op for op in bench.ops if op.error]
        print(f"# {args.workload} seed={args.seed} local[{cores}] "
              f"docs={bench.inputs.num_docs} ops={attempted} "
              f"failed={n_failed} inputs_sha256={bench.fingerprint[:16]}")
        print("# wall s: " + ", ".join(
            f"{name} {t - t0:.1f}" for (_, t0), (name, t) in zip(phases, phases[1:]))
            + f" (build {bench.build['wall_s']:.1f}); peak rss MB: "
            + ", ".join(f"{k} {v:.0f}" for k, v in rss.items()))
        for op in failed[:20]:
            print(f"#   FAILED {op.kind} {op.request} "
                  f"{op.spec.cls if op.spec else ''}: {op.error}")
        by_cls = {}
        for op in bench.ops:
            if op.kind == "query" and not math.isnan(op.latency_ms):
                by_cls.setdefault(op.spec.cls, []).append(op.latency_ms)
        print("# query ms by class (median, n): " + ", ".join(
            f"{c} {_median(v):.0f} {len(v)}" for c, v in sorted(by_cls.items())))
        e2e = end_to_end(bench, rss)
        for name, (v, unit) in {**e2e, **report_only(bench)}.items():
            print(f"#   {name:<40} {v:14.4f} {unit}")
        if args.trace:
            t0 = time.perf_counter()
            by_span = attribute_jobs(tracer.spans, read_jobs(spark))
            metrics = per_layer(bench, by_span, cores)
            metrics["trace.collect_s"] = time.perf_counter() - t0
            trace_dir = os.path.join(base, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            rows = write_trace(tracer, by_span, os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}.json"))
            print("# span self time:  name  calls  total_s  self_s  spark_jobs")
            for name, n, tot, self_s, nj in rows:
                print(f"#   {name:<30} {n:6d} {tot:9.3f} {self_s:9.3f} {nj:6d}")
            print("# per layer:")
            for k, v in metrics.items():
                print(f"#   {k:<40} {v:14.4f} {unit_of(k)}")
            out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
        else:
            out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": n_failed, "metrics": out}))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
