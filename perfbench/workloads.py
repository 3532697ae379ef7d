"""The workloads: set-up, the timed closed loop, and the result checks.

One client, zero think time: each call starts when the previous one has
returned.  Every call into the program is timed from here, through its
public API only; with tracing on, each call also gets a span.
"""

from __future__ import annotations

import dataclasses
import gc
import itertools
import os
import time
from typing import Callable, Dict, List, Optional

from perfbench import inputs as I
from perfbench import verify
from perfbench.trace import Tracer

SETUP_REPEATS = 3
# selective query cycles read through each round's new searcher: ~90
# queries, so that the median read of a round is well sampled
ROUND_READ_CYCLES = 3


@dataclasses.dataclass
class Op:
    """One attempted operation and what is needed to check it later."""
    kind: str
    request: str
    latency_ms: float = float("nan")
    spec: Optional[I.QuerySpec] = None
    result: object = None
    query: object = None  # the parsed query the result answers
    state: int = 0  # update round whose index state the result reflects
    error: str = ""  # exception or failed check
    wrong: bool = False  # the error is a failed check: a wrong result


def fail_check(op: Op, reason: str) -> None:
    """Mark ``op`` as having returned a wrong result."""
    op.error, op.wrong = f"wrong result: {reason}", True


class Bench:
    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 workdir: str, tracer: Tracer):
        from tantivy4java_spark.schema import code_corpus_config
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.workdir = workdir
        self.tr = tracer
        self.config = code_corpus_config()
        self.index_dir = os.path.join(workdir, "index")
        self.ops: List[Op] = []
        self.setup_reps_s: List[float] = []
        self.build: Dict[str, float] = {}
        self.loop_s = 0.0
        self.loop_end = 0  # number of ops when the timed loop ended
        self.manifest_actions = 0
        self.update_times: Dict[str, List[float]] = {
            "append_visible_ms": [], "delete_visible_ms": [], "compact_s": []}
        self.inputs: Optional[I.Inputs] = None
        self.searcher = None
        self.live_batches: List[List] = []  # per round: kept batch rows
        self.fresh = None  # the searcher opened last in an update round

    # -- helpers ------------------------------------------------------------
    def _attempt(self, kind: str, request: str, fn: Callable[[Op], None],
                 spec: Optional[I.QuerySpec] = None) -> Op:
        op = Op(kind, request, spec=spec, state=len(self.live_batches))
        self.ops.append(op)
        t0 = time.perf_counter()
        try:
            fn(op)
        except Exception as e:  # a failed call is a counted outcome
            lines = str(e).strip().splitlines()
            # a Py4JJavaError's first line names only the JVM call; the
            # Java exception follows it
            cause = next((ln.strip() for ln in lines[1:] if "Exception" in ln), "")
            msg = " | ".join(x[:200] for x in lines[:1] + [cause] if x)
            op.error = f"{type(e).__name__}: {msg}"
        if op.kind != "query":  # queries time themselves, without open
            op.latency_ms = (time.perf_counter() - t0) * 1e3
        return op

    def _open(self, request: str, preload: bool):
        from tantivy4java_spark.searcher import IndexSearcher
        with self.tr.span("searcher.open", request):
            s = IndexSearcher(self.spark, self.index_dir)
        if preload:
            with self.tr.span("searcher.preload", request):
                s.preload()
        return s

    def _collect_garbage(self) -> None:
        """Full collections in this process and in the JVM, untimed, so
        that a timed phase does not pay for the garbage of the one before
        it at a moment that differs from run to run."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def _read_manifest(self, request: str) -> list:
        from tantivy4java_spark import manifest
        with self.tr.span("manifest.read_actions", request):
            return manifest.read_actions(self.spark, self.index_dir)

    def _query(self, s, spec: I.QuerySpec, request: str, op: Op) -> None:
        """Run one query spec and keep its result on ``op``."""
        from tantivy4java_spark import aggs as A
        from tantivy4java_spark import parser
        t0 = time.perf_counter()
        with self.tr.span("query", request) as attrs:
            attrs["cls"] = spec.cls
            q = spec.query
            if isinstance(q, str):
                with self.tr.span("parser.parse_query", request):
                    q = parser.parse_query(q, ["content"])
            if spec.cls == "agg_terms":
                with self.tr.span("aggs.aggregate", request):
                    res = A.aggregate(s, q, {"by_lang": A.Terms("lang", size=10)})
                    op.result = [(r[0], r[1]) for r in res["by_lang"].collect()]
            elif spec.cls == "count":
                with self.tr.span("searcher.count", request):
                    op.result = s.count(q)
            else:
                with self.tr.span("searcher.search", request) as attrs:
                    df = s.search(q, limit=spec.limit)
                    attrs.update(getattr(s, "last_metrics", {}) or {},
                                 cls=spec.cls)
                with self.tr.span("searcher.collect", request):
                    op.result = [(int(r["doc_id"]), float(r["score"]))
                                 for r in df.collect()]
            op.query = q
        op.latency_ms = (time.perf_counter() - t0) * 1e3

    # -- set-up -------------------------------------------------------------
    def setup(self) -> None:
        """Generate the seeded inputs (twice: both must be byte-identical),
        build the index, and make the searcher ready.

        A first, untimed build of the same corpus pays for the cold JVM and
        Python workers and lets the JIT compile the per-document paths, so
        the timed build (build_docs_per_s) runs warm.
        Making a searcher ready -- open plus ``preload()``, after dropping
        every pinned table -- is repeated SETUP_REPEATS times; the median is
        setup_s.  Only these program calls are timed.
        """
        from tantivy4java_spark.build import build_index
        paths = [os.path.join(self.workdir, f"corpus-{i}.parquet")
                 for i in range(2)]
        runs = []
        for path in paths:
            inp = I.make_inputs(self.workload, self.seed)
            runs.append((inp, I.write_corpus(inp, path), I.fingerprint(inp, path)))
        self.inputs, self.parquet_bytes, self.fingerprint = runs[0]
        op = Op("input_repeat", "setup")
        self.ops.append(op)
        if runs[1][2] != self.fingerprint:
            fail_check(op, "a second generation from the seed differs")
        df = self.spark.read.parquet(paths[0])
        with self.tr.paused():
            build_index(self.spark, df, self.config,
                        os.path.join(self.workdir, "warmup-index"),
                        num_segments=I.NUM_SEGMENTS)
        self._collect_garbage()
        b0 = time.perf_counter()
        with self.tr.span("build_index", "build") as attrs:
            stats = build_index(self.spark, df, self.config, self.index_dir,
                                num_segments=I.NUM_SEGMENTS)
            attrs.update(segment_s=stats.segment_wall_sec,
                         merge_s=stats.merge_wall_sec)
        self.build = {"wall_s": time.perf_counter() - b0,
                      "num_docs": stats.num_docs,
                      "segment_s": stats.segment_wall_sec,
                      "merge_s": stats.merge_wall_sec}
        self.build.update(_dir_size(self.index_dir))
        self._check_build(stats)
        for _ in range(SETUP_REPEATS):
            self.spark.catalog.clearCache()
            self._collect_garbage()
            t0 = time.perf_counter()
            self.searcher = self._open("setup", preload=True)
            self.setup_reps_s.append(time.perf_counter() - t0)
        if self.workload == "update_mix":
            # every read of an update round goes to the index files, as the
            # reads of a freshly opened searcher do
            self.spark.catalog.clearCache()

    def warmup(self) -> None:
        """Untimed, untraced, checked like the timed queries: the warm-up
        queries of the inputs, so that the timed loop does not pay for the
        first query of each shape (see ``inputs.make_inputs``)."""
        with self.tr.paused():
            for i, spec in enumerate(self.inputs.warmup):
                self._attempt("warmup", f"w{i}", lambda op, spec=spec, i=i:
                              self._query(self.searcher, spec, f"w{i}", op),
                              spec)

    def _check_build(self, stats) -> None:
        from tantivy4java_spark import manifest
        op = Op("build", "build")
        self.ops.append(op)
        acts = self._read_manifest("build")
        n = self.inputs.num_docs
        adds = [a for a in acts if a.get("action") == "add"]
        if stats.num_docs != n:
            fail_check(op, f"num_docs {stats.num_docs} != {n}")
        elif len(adds) != I.NUM_SEGMENTS or manifest.uncommitted_adds(acts):
            fail_check(op, f"manifest: {len(adds)} adds, uncommitted "
                           f"{manifest.uncommitted_adds(acts)}")

    # -- timed loops -----------------------------------------------------------
    def run(self) -> None:
        """The timed closed loop.  A traced ``search`` run then runs the
        pasted code block once, timed but outside the loop's figures: it is
        the only query on the WAND path, and a single 4-6 s sample that no
        end-to-end figure uses, so untraced runs leave it out."""
        self._collect_garbage()
        t0 = time.perf_counter()
        if self.workload == "update_mix":
            self._update_loop(t0)
        else:
            self._search_loop(t0)
        self.loop_s = time.perf_counter() - t0
        self.loop_end = len(self.ops)
        for spec in self.inputs.broad if self.tr.enabled else []:
            self._read("broad", spec, self.searcher)
        self.manifest_actions = len(self._read_manifest("end"))

    def _search_loop(self, t0: float) -> None:
        """Whole rounds, for about ``seconds``: another round starts only if
        it would end, at the mean round time so far, less than half a round
        past them.  A round is one cycle of selective queries and one
        prefix wildcard, so every round holds the same mix of classes."""
        cycles, i = self.inputs.cycles, 0
        for r in itertools.count():
            elapsed = time.perf_counter() - t0
            if r and elapsed + elapsed / r / 2 >= self.seconds:
                return
            for spec in cycles[r % len(cycles)] + [
                    self.inputs.expansions[r % len(cycles)]]:
                self._read(f"q{i}", spec, self.searcher)
                i += 1

    def _update_loop(self, t0: float) -> None:
        for r in range(len(self.inputs.batches)):
            self._round(r)
            if time.perf_counter() - t0 >= self.seconds:
                return

    def _round(self, r: int) -> None:
        """One update round on batch ``r``; every step is an attempted op."""
        from tantivy4java_spark import queries as Q
        B, half = I.UPDATE_BATCH_DOCS, I.UPDATE_BATCH_DOCS // 2
        batch = self.inputs.batches[r]
        req = f"round{r}"
        fresh = Q.Term("content", f"fresh{r}")
        drop = Q.Term("content", f"drop{r}")
        times = {}
        with self.tr.span("round", req):
            # append -> a new searcher must return every new doc
            t = time.perf_counter()
            self._attempt("add_documents", req, lambda op: self._add(batch, req))
            self._read(req, I.QuerySpec("fresh", fresh, B), expect=B)
            times["append_visible_ms"] = (time.perf_counter() - t) * 1e3
            # delete half of it -> a new searcher must return none of those
            t = time.perf_counter()
            self._attempt("delete_by_query", req,
                          lambda op: self._delete(op, drop, half, req))
            self._read(req, I.QuerySpec("gone", drop, B), expect=0)
            times["delete_visible_ms"] = (time.perf_counter() - t) * 1e3
            self.live_batches.append(batch.iloc[half:])
            self._read(req, I.QuerySpec("kept", fresh, B), self.fresh,
                       expect=B - half)
            t = time.perf_counter()
            self._attempt("apply_deletes", req,
                          lambda op: self._compact(op, half, req))
            times["compact_s"] = time.perf_counter() - t
            self._read_manifest(req)
            # selective queries through a new searcher (opened by the first)
            cycles = self.inputs.cycles
            selective = [q for c in range(ROUND_READ_CYCLES)
                         for q in cycles[(ROUND_READ_CYCLES * r + c) % len(cycles)]
                         if q.cls not in ("agg_terms", "count")]
            self.fresh = None
            for spec in selective:
                self._read(req, spec, self.fresh)
            # the searcher opened at set-up must see the compacted index
            self._read(req, selective[0], self.searcher)
        for k, v in times.items():
            self.update_times[k].append(v)

    def _read(self, req: str, spec: I.QuerySpec, searcher=None,
              expect: Optional[int] = None) -> Op:
        """One query as one attempted op.  Without a searcher a new one is
        opened inside the attempt and kept as ``self.fresh``."""
        def fn(op):
            s = searcher
            if s is None:
                s = self.fresh = self._open(req, False)
            self._query(s, spec, req, op)
            if expect is not None and len(op.result) != expect:
                fail_check(op, f"{len(op.result)} hits, expected {expect}")
        return self._attempt("query", req, fn, spec)

    def _delete(self, op: Op, query, expect: int, req: str) -> None:
        from tantivy4java_spark import maintenance
        with self.tr.span("maintenance.delete_by_query", req):
            op.result = maintenance.delete_by_query(self.spark, self.index_dir,
                                                    query)
        if op.result != expect:
            fail_check(op, f"deleted {op.result} docs, expected {expect}")

    def _compact(self, op: Op, expect: int, req: str) -> None:
        from tantivy4java_spark import maintenance
        with self.tr.span("maintenance.apply_deletes", req):
            op.result = maintenance.apply_deletes(self.spark, self.index_dir)
        if op.result != expect:
            fail_check(op, f"compacted {op.result} tombstones, expected {expect}")

    def _add(self, batch, req: str) -> None:
        from tantivy4java_spark import streaming
        df = self.spark.createDataFrame(batch)
        with self.tr.span("streaming.add_documents", req):
            streaming.add_documents(self.spark, self.config, self.index_dir,
                                    df, commit=True)
        self._read_manifest(req)

    # -- checks (untimed) -----------------------------------------------------
    def verify(self) -> None:
        """Check every query result against the golden scorer for the index
        state it ran on; a mismatch marks the op failed."""
        import pandas as pd
        from tantivy4java_spark.searcher import IndexSearcher
        todo = [op for op in self.ops
                if op.kind in ("query", "warmup") and not op.error
                and op.spec is not None
                and op.spec.cls not in ("fresh", "gone", "kept")]
        if not todo:
            return
        ids = IndexSearcher(self.spark, self.index_dir).docs() \
            .select("doc_id", "path").toPandas()
        goldens = {}
        for op in todo:
            if op.state not in goldens:
                corpus = pd.concat([self.inputs.corpus] + self.live_batches[:op.state],
                                   ignore_index=True)
                g = verify.golden_index(corpus, ids)
                lang_of = dict(zip(g.doc_ids.tolist(), g.docs["lang"]))
                goldens[op.state] = (g, lang_of, {})
            g, lang_of, memo = goldens[op.state]
            key = repr(op.query)
            if key not in memo:
                memo[key] = g.score(op.query)
            gold = memo[key]
            if op.spec.cls == "agg_terms":
                reason = verify.check_terms_agg(op.result, gold, lang_of)
            elif op.spec.cls == "count":
                reason = verify.check_count(op.result, gold)
            else:
                reason = verify.check_topk(op.result, gold, op.spec.limit)
            if reason:
                fail_check(op, reason)


def _dir_size(path: str) -> Dict[str, float]:
    total, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return {"output_bytes": total, "output_files": files}
