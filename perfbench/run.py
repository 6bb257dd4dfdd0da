"""Layered, oracle-checked benchmark of the opensearch_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve-hot --seed 1 --seconds 8 --trace 0

One process, one client, closed loop: the next request is sent when the
previous one has returned.  The session is ``session.get_spark`` as it
ships (``local[nproc]``, adaptive execution on); the benchmark adds no
Spark settings of its own.  Each run:

1. set-up: starts the session, generates the seeded corpus
   (``transcripts.generate``), builds a fresh index in a new directory
   (``index.builder.build_index``) and pins it (``InvertedIndex.persist``);
2. sends one untimed warm-up search, then serves the workload's request
   stream for ``--seconds``, and for at least seven searches, through
   ``SearchEngine.search(...).collect()``; the loop's first request, and
   one in twenty after that, goes through ``restapi.search_request``
   (``track_total_hits`` plus a terms and a date_histogram aggregation),
   so a run of the benchmark's length holds one REST sample;
3. ingests: appends a micro-batch with new conv ids through
   ``streaming.incremental.append_batch``, reopens the index as a user
   would and searches it, then compacts it with
   ``index.merge.merge_index`` and searches the result;
4. checks every answer against the Spark-free oracle (``gate.py``).

Every workload reports every metric, so each run pays a session start,
a cold build and a merge; the serving loop is what ``--seconds`` sets.
A run takes about a minute on a 4-core box.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``.  ``failed / attempted`` is the failed-operation share
(exceptions plus answers the oracle rejects).  The line before it
describes the box: nproc, CPU probes and steal, versions and the
effective Spark conf.  The full record, spans included, goes to ``perfbench/results/``.
Scratch data lives under ``perfbench/.work/`` and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    # Most requests repeat one of ~50 queries, so fixed per-request work
    # dominates: plan build, py4j round-trips and per-job overhead.
    # Caches and plan templates show their effect here.
    "serve-hot": {"base_convs": 1000},
    # Nearly every request is unique and the corpus is larger: the
    # term-stats memo misses and execution (scan, decode, id join)
    # grows with the corpus.  Cache changes should show nothing here.
    "serve-tail": {"base_convs": 1250},
}
INGEST_BATCHES = 1
BATCH_CONVS = 150
SEARCHES_PER_STATE = 1  # after each append and after the merge
# The loop runs for --seconds and at least this many searches, so every
# run times the same stream positions and with them the same query mix
# (on serve-tail, one search of each of the seven shapes).
MIN_LOOP_SEARCHES = 7
TOP_K = 10


def _isolate(work: str) -> None:
    """Keep every file the run writes under ``work``, and make the
    package importable in Python workers whatever the cwd."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # JVM flags, not Spark settings: temp files under ``tmp`` and no
    # hsperfdata file in the system temp directory
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def _pct(values, q: int) -> float:
    """Interpolated percentile ``q`` of ``values``."""
    if len(values) < 2:
        return float(values[0]) if values else float("nan")
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _median(values) -> float:
    return float(statistics.median(values)) if values else float("nan")


class Bench:
    def __init__(self, args):
        self.args = args
        self.traced = bool(args.trace)
        self.base_convs = max(20, int(WORKLOADS[args.workload]["base_convs"] * args.scale))
        self.batch_convs = max(5, int(BATCH_CONVS * args.scale))
        self.work = os.path.join(
            HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        )
        self.ops = []  # every request, append and merge, in order
        self.spark = None

    # ------------------------------------------------------------ set-up

    def start(self) -> None:
        from opensearch_spark.session import get_spark
        from perfbench import trace as tr

        self.tracer = tr.Tracer(self.traced)
        t = time.perf_counter()
        with self.tracer.span("session.start", "setup"):
            self.spark = get_spark("perfbench")
        self.session_s = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm_pid = self.sc._gateway.proc.pid
        if self.traced:
            self.jobs = tr.JobGroups(self.sc)
            self.py4j = tr.Py4jCounter(self.sc)

    def _group(self, name: str) -> None:
        if self.traced:
            self.jobs.set(name)

    def _jobs(self, rid: str) -> list:
        return self.jobs.jobs(rid) if self.traced else []

    def setup(self) -> dict:
        from pyspark import StorageLevel

        from opensearch_spark.index.builder import IndexConfig, build_index
        from opensearch_spark.index.reader import InvertedIndex
        from opensearch_spark.transcripts import generate

        nproc = int(os.environ["SPARK_GRAFT_CPUS"])
        idx_dir = os.path.join(self.work, "index")
        cfg = IndexConfig(n_segments=nproc)  # one routing segment per core
        rid = "setup"
        self._group(rid)
        t0 = time.perf_counter()
        with self.tracer.span("setup", rid):
            # materialized first, so the build's two passes read the
            # same cached rows and the build time excludes generation
            with self.tracer.span("transcripts.generate"):
                docs = generate(self.spark, self.base_convs, seed=self.args.seed,
                                partitions=nproc).persist(StorageLevel.MEMORY_AND_DISK)
                docs.count()
            gen_jobs = set(self._jobs(rid))
            tb = time.perf_counter()
            with self.tracer.span("builder.build_index"):
                stats = build_index(self.spark, docs, idx_dir, cfg)
            build_s = time.perf_counter() - tb
            build_jobs = sorted(set(self._jobs(rid)) - gen_jobs)
            docs.unpersist()
            with self.tracer.span("reader.persist"):
                idx = self._instrument(InvertedIndex(self.spark, idx_dir)).persist()
        setup_s = self.session_s + time.perf_counter() - t0
        manifests = os.path.join(idx_dir, "manifests")
        seg_ms = []
        for f in sorted(os.listdir(manifests)):
            if f.startswith("seg-"):
                with open(os.path.join(manifests, f)) as fh:
                    seg_ms.append(json.load(fh)["wall_ms"])
        return {
            "dir": idx_dir, "cfg": cfg, "idx": idx, "stats": stats, "schema": docs.schema,
            "setup_s": setup_s, "build_s": build_s, "segment_ms": seg_ms,
            "build_counts": self.jobs.counts(build_jobs) if self.traced else None,
        }

    def _instrument(self, idx):
        """Time the reader calls the engine makes while planning."""
        if not self.traced:
            return idx
        idx.analyze = self.tracer.wrap("reader.analyze", idx.analyze)
        term_stats = idx.term_stats

        def traced_term_stats(terms):
            rid = self.tracer.current_rid()
            if rid is None:  # an untraced request of the traced run
                return term_stats(terms)
            before = len(self.jobs.jobs(rid))
            with self.tracer.span("reader.term_stats") as sp:
                out = term_stats(terms)
            sp["jobs"] = len(self.jobs.jobs(rid)) - before
            return out

        idx.term_stats = traced_term_stats
        return idx

    # ---------------------------------------------------------- requests

    def _new_op(self, kind: str, state: int, phase: str, **kw) -> dict:
        op = {"kind": kind, "state": state, "phase": phase,
              "rid": f"{kind}-{len(self.ops)}", **kw}
        self.ops.append(op)
        return op

    def _failed(self, op: dict) -> None:
        # a failed operation is counted and the run goes on
        op["error"] = traceback.format_exc(limit=3)
        print(op["error"], file=sys.stderr)

    def search(self, eng, q: dict, state: int, phase: str, traced: bool) -> dict:
        from opensearch_spark.query import dsl
        from perfbench import trace as tr

        op = self._new_op("search", state, phase, body=q, traced=traced)
        rid = op["rid"]
        try:
            if not traced:
                t = time.perf_counter()
                rows = eng.search(q, size=TOP_K).collect()
                op["lat_ms"] = (time.perf_counter() - t) * 1e3
            else:
                self.jobs.set(rid)
                with self.tracer.span("search", rid) as sp:
                    with self.tracer.span("dsl.parse"):
                        parsed = dsl.from_dict(q)
                    c0 = self.py4j.count
                    with self.tracer.span("executor.plan"):
                        df = eng.search(parsed, size=TOP_K)
                    op["plan_py4j_calls"] = self.py4j.count - c0
                    plan_jobs = self.jobs.jobs(rid)
                    with self.tracer.span("executor.exec"):
                        rows = df.collect()
                op["lat_ms"] = tr.span_ms(sp)
                op["plan_jobs"] = len(plan_jobs)
                op["exec"] = self.jobs.counts(
                    [j for j in self.jobs.jobs(rid) if j not in plan_jobs])
                op.update(tr.plan_counts(df))
            op["rows"] = [((r["conv_id"], int(r["turn_idx"])), float(r["score"])) for r in rows]
        except Exception:
            self._failed(op)
        return op

    def rest(self, eng, body: dict, state: int, phase: str) -> dict:
        from opensearch_spark import restapi

        op = self._new_op("rest", state, phase, body=body, traced=self.traced)
        self._group(op["rid"])
        try:
            t = time.perf_counter()
            with self.tracer.span("restapi.search_request", op["rid"]):
                resp = restapi.search_request(eng, body)
            op["lat_ms"] = (time.perf_counter() - t) * 1e3
            op["resp"] = {"hits": resp["hits"], "aggregations": resp["aggregations"]}
            op["jobs"] = len(self._jobs(op["rid"]))
        except Exception:
            self._failed(op)
        return op

    def timed(self, kind: str, fn, state: int) -> dict:
        """Run one append or merge as a counted operation."""
        op = self._new_op(kind, state, "ingest")
        self._group(op["rid"])
        try:
            t = time.perf_counter()
            with self.tracer.span(kind, op["rid"]):
                fn()
            op["lat_ms"] = (time.perf_counter() - t) * 1e3
            op["jobs"] = len(self._jobs(op["rid"]))
        except Exception:
            self._failed(op)
        return op

    # --------------------------------------------------------------- run

    def serve(self, eng, stream) -> tuple:
        """One warm-up search, then the timed closed loop.  Returns the
        loop's ops, its wall time and the next stream position."""

        def send(i):
            kind, body = stream[i]
            if kind == "rest":
                return self.rest(eng, body, 0, "loop")
            return self.search(eng, body, 0, "loop", self.traced)

        # the first engine request of a process pays one-off costs (first
        # job, code warm-up): taken out of the loop, checked like the rest
        assert stream[0][0] == "search"
        self.search(eng, stream[0][1], 0, "warmup", False)
        first = len(self.ops)
        i = 1
        n_search = 0
        t0 = time.perf_counter()
        t_end = t0 + self.args.seconds
        while time.perf_counter() < t_end or n_search < MIN_LOOP_SEARCHES:
            op = send(i)
            i += 1
            if op["kind"] == "search":
                n_search += 1
                if self.traced:
                    # the same query again, untraced: the two p50s differ
                    # by the tracing overhead (the repeat may reuse what
                    # the traced one cached, so this bounds it from above)
                    self.search(eng, op["body"], 0, "loop", False)
        return self.ops[first:], time.perf_counter() - t0, i

    def ingest(self, served, stream, i: int) -> dict:
        from opensearch_spark.index.merge import merge_index
        from opensearch_spark.index.reader import InvertedIndex
        from opensearch_spark.query.executor import SearchEngine
        from opensearch_spark.streaming.incremental import append_batch
        from perfbench import qgen
        from perfbench import trace as tr

        def searches(eng, state, phase):
            nonlocal i
            for _ in range(SEARCHES_PER_STATE):
                while stream[i][0] != "search":
                    i += 1
                self.search(eng, stream[i][1], state, phase, self.traced)
                i += 1

        served["idx"].unpersist()
        batches, reopen_ms = [], []
        lo = self.base_convs
        for b in range(INGEST_BATCHES):
            pdf = qgen.batch_rows(self.args.seed, lo, lo + self.batch_convs)
            lo += self.batch_convs
            batches.append(pdf)
            bdf = self.spark.createDataFrame(pdf, schema=served["schema"])
            self.timed("incremental.append_batch",
                       lambda: append_batch(self.spark, bdf, served["dir"], served["cfg"], b),
                       b + 1)
            t = time.perf_counter()
            with self.tracer.span("reader.reopen", f"reopen-{b}"):
                eng = SearchEngine(self._instrument(InvertedIndex(self.spark, served["dir"])))
            reopen_ms.append((time.perf_counter() - t) * 1e3)
            searches(eng, b + 1, "ingest")
        appended = _index_sizes(served["dir"])
        merged_dir = os.path.join(self.work, "merged")
        merge_op = self.timed("merge.merge_index",
                              lambda: merge_index(self.spark, served["dir"], merged_dir),
                              INGEST_BATCHES)
        if "error" not in merge_op:
            eng = SearchEngine(self._instrument(InvertedIndex(self.spark, merged_dir)))
            searches(eng, INGEST_BATCHES, "merged")
        return {
            "batches": batches, "reopen_ms": reopen_ms, "merge_op": merge_op,
            "appended": appended, "appended_bytes": tr.dir_bytes(served["dir"]),
            # the merged index references the source docmap: this is
            # what the merge wrote
            "merged_bytes": tr.dir_bytes(merged_dir) if os.path.isdir(merged_dir) else 0,
        }

    def run(self) -> dict:
        import numpy as np

        from opensearch_spark.query.executor import SearchEngine
        from opensearch_spark.transcripts import generate_pandas
        from perfbench import gate, qgen
        from perfbench import trace as tr

        args = self.args
        self.start()
        served = self.setup()
        base_pdf = generate_pandas(np.arange(self.base_convs), args.seed)
        sizes = {
            "input": _utf8_bytes(base_pdf),
            "index": tr.dir_bytes(served["dir"]),
            "base": _index_sizes(served["dir"]),
            # term -> posting blocks of the served index
            "n_blocks": _dictionary_blocks(served["dir"]) if self.traced else {},
        }
        stream = qgen.request_stream(args.workload, args.seed, self.base_convs)
        loop_ops, loop_s, i = self.serve(SearchEngine(served["idx"]), stream)
        ing = self.ingest(served, stream, i)
        rss = {"driver": tr.peak_rss_mb(os.getpid()), "jvm": tr.peak_rss_mb(self.jvm_pid)}

        # ---- correctness gate, outside every timed region
        failed = gate.run_gate(base_pdf, ing["batches"], [o for o in self.ops if "body" in o])
        failed += sum(1 for o in self.ops if "body" not in o and "error" in o)
        for o in self.ops:
            if o.get("why"):
                print(f"gate: {o['kind']} {json.dumps(o['body'])}: {o['why']}", file=sys.stderr)
        attempted = len(self.ops)

        untraced = [o["lat_ms"] for o in loop_ops
                    if o["kind"] == "search" and "lat_ms" in o and not o["traced"]]
        rest = [o["lat_ms"] for o in loop_ops if o["kind"] == "rest" and "lat_ms" in o]
        details = {
            "loop_searches": len(untraced), "loop_rest": len(rest), "loop_s": loop_s,
            "setup_s": served["setup_s"], "session_s": self.session_s,
            # reported, not gated: the JVM's peak follows G1's heap growth,
            # which depends on GC timing (1.6-2.3 GB between runs of one
            # workload on a 4-core box)
            "peak_rss_mb": rss["driver"] + rss["jvm"],
            "ops_failed_frac": failed / attempted,
            "ops": [{k: o.get(k) for k in ("kind", "phase", "state", "lat_ms", "why")}
                    | {"query": json.dumps(o.get("body"))} for o in self.ops],
        }
        if not self.traced:
            appends = [o["lat_ms"] for o in self.ops
                       if o["kind"] == "incremental.append_batch" and "lat_ms" in o]
            metrics = {
                "setup_s": (served["setup_s"], "s"),
                "search_p50_ms": (_pct(untraced, 50), "ms"),
                "search_p90_ms": (_pct(untraced, 90), "ms"),
                # completed searches per second of the timed loop
                "search_qps": (len(untraced) / loop_s, "1/s"),
                "rest_p50_ms": (_median(rest), "ms"),
                "build_turns_per_s": (len(base_pdf) / served["build_s"], "turns/s"),
                "append_p50_ms": (_median(appends), "ms"),
                "merge_s": (ing["merge_op"].get("lat_ms", math.nan) / 1e3, "s"),
                "index_bytes_per_input_byte": (sizes["index"] / sizes["input"], "ratio"),
            }
        else:
            details["spans"] = self.tracer.finish()
            # the requests the engine was sent up to the end of the loop
            shares = qgen.repeat_shares([b for _, b in stream[:i]])
            metrics = self._layers(details["spans"], served, loop_ops, untraced, ing, rss,
                                   sizes, shares, failed / attempted)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": _finite(v), "unit": u} for k, (v, u) in metrics.items()},
            "details": details,
        }

    def _layers(self, spans, served, loop_ops, untraced, ing, rss, sizes, shares,
                failed_frac) -> dict:
        """Per-layer metrics of the traced run, medians over its requests.

        Which end-to-end metric each should move, on which workload:
        session/generate/persist -> setup_s (both); builder.* ->
        build_turns_per_s and setup_s; builder/merge bytes ->
        index_bytes_per_input_byte; dsl.parse, reader.analyze ->
        search_p50_ms; executor.plan_ms, plan_py4j_calls -> search_p50_ms
        on serve-hot; reader.term_stats_*, executor.plan_jobs ->
        search_p50_ms on serve-tail (about 0 on serve-hot);
        executor.exec_* -> search_p50_ms and search_p90_ms (both);
        executor.exchanges, scan_rows(_per_hit) -> search_p90_ms on
        serve-tail; restapi.* -> rest_p50_ms; incremental.append_* ->
        append_p50_ms; reader.reopen_ms, incremental.segments,
        dict_deltas, incremental.search_ms -> searches of the appended
        index; merge.merge_ms -> merge_s; proc.* -> the peak RSS the
        result details report.  qgen.* describe the workload;
        wand.pruned_searches counts searches whose posting blocks reach
        the AUTO block-max WAND threshold (none at these corpus sizes,
        so WAND stays unmeasured)."""
        from opensearch_spark.query.executor import WAND_AUTO_MIN_BLOCKS
        from perfbench import qgen
        from perfbench import trace as tr

        by_name, by_rid = {}, {}
        for sp in spans:
            by_name.setdefault(sp["name"], []).append(sp)
            by_rid.setdefault(sp["rid"], []).append(sp)

        def med(name, key=tr.span_ms):
            return _median([key(s) for s in by_name.get(name, [])])

        traced = [o for o in loop_ops if o["kind"] == "search" and o["traced"] and "rows" in o]
        loop_rids = {o["rid"] for o in traced}
        coverage = [
            sum(tr.span_ms(p) for p in by_rid[s["rid"]]
                if p["name"] in ("dsl.parse", "executor.plan", "executor.exec")) / tr.span_ms(s)
            for s in by_name.get("search", [])
        ]
        traced_p50 = _median([tr.span_ms(s) for s in by_name.get("search", [])
                              if s["rid"] in loop_rids])
        manifests = os.path.join(served["dir"], "manifests")
        segments = set()
        for f in os.listdir(manifests):
            if f.startswith("seg-"):
                segments.add(int(f[4:9]))
            elif f.startswith("batch-"):
                with open(os.path.join(manifests, f)) as fh:
                    segments |= set(json.load(fh).get("segments", []))
        # AUTO block-max WAND engages only above this many posting blocks
        # per query; counted so its absence stays visible
        wand = sum(
            1 for o in self.ops if o["kind"] == "search"
            and sum(sizes["n_blocks"].get(t, 0) for t in qgen.query_terms(o["body"]))
            >= WAND_AUTO_MIN_BLOCKS
        )
        rest = [o for o in loop_ops if o["kind"] == "rest" and "jobs" in o]
        appends = [o for o in self.ops if o["kind"] == "incremental.append_batch" and "jobs" in o]
        after_append = [o["lat_ms"] for o in self.ops
                        if o["phase"] in ("ingest", "merged") and "lat_ms" in o
                        and o["kind"] == "search"]
        base, bc = sizes["base"], served["build_counts"]
        return {
            "session.start_ms": (self.session_s * 1e3, "ms"),
            "transcripts.generate_ms": (med("transcripts.generate"), "ms"),
            "reader.persist_ms": (med("reader.persist"), "ms"),
            "builder.build_ms": (served["build_s"] * 1e3, "ms"),
            "builder.invert_waves_ms": (served["stats"]["build_wall_sec"] * 1e3, "ms"),
            "builder.segment_ms_p50": (_median(served["segment_ms"]), "ms"),
            "builder.segment_ms_max": (max(served["segment_ms"]), "ms"),
            "builder.jobs": (bc["jobs"], "count"),
            "builder.tasks": (bc["tasks"], "count"),
            "builder.postings_bytes": (base["postings"], "bytes"),
            "builder.docmap_bytes": (base["docmap"], "bytes"),
            "builder.dictionary_bytes": (base["dictionary"], "bytes"),
            "merge.bytes_in": (ing["appended_bytes"], "bytes"),
            "merge.bytes_out": (ing["merged_bytes"], "bytes"),
            "dsl.parse_ms": (med("dsl.parse"), "ms"),
            "reader.analyze_ms": (med("reader.analyze"), "ms"),
            "executor.plan_ms": (med("executor.plan"), "ms"),
            "executor.plan_self_ms": (med("executor.plan", lambda s: s["self_ms"]), "ms"),
            "executor.plan_py4j_calls": (_median([o["plan_py4j_calls"] for o in traced]), "count"),
            "executor.plan_jobs": (_median([o["plan_jobs"] for o in traced]), "count"),
            "reader.term_stats_ms": (med("reader.term_stats"), "ms"),
            "reader.term_stats_jobs": (
                sum(s["jobs"] for s in by_name.get("reader.term_stats", [])), "count"),
            "executor.exec_ms": (med("executor.exec"), "ms"),
            "executor.exec_jobs": (_median([o["exec"]["jobs"] for o in traced]), "count"),
            "executor.exec_stages": (_median([o["exec"]["stages"] for o in traced]), "count"),
            "executor.exec_tasks": (_median([o["exec"]["tasks"] for o in traced]), "count"),
            "executor.exchanges": (_median([o["exchanges"] for o in traced]), "count"),
            "executor.scan_rows": (_median([o["scan_rows"] for o in traced]), "rows"),
            "executor.scan_rows_per_hit": (
                _median([o["scan_rows"] / max(1, len(o["rows"])) for o in traced]), "rows"),
            "restapi.request_ms": (med("restapi.search_request"), "ms"),
            "restapi.jobs": (_median([o["jobs"] for o in rest]), "count"),
            "incremental.append_ms": (med("incremental.append_batch"), "ms"),
            "incremental.append_jobs": (_median([o["jobs"] for o in appends]), "count"),
            "incremental.search_ms": (_median(after_append), "ms"),
            "reader.reopen_ms": (_median(ing["reopen_ms"]), "ms"),
            "incremental.segments": (len(segments), "count"),
            "incremental.dict_deltas": (
                ing["appended"]["dictionary_files"] - base["dictionary_files"], "count"),
            "merge.merge_ms": (ing["merge_op"].get("lat_ms", math.nan), "ms"),
            "proc.driver_rss_mb": (rss["driver"], "MB"),
            "proc.jvm_rss_mb": (rss["jvm"], "MB"),
            "qgen.repeat_query_frac": (shares["repeat_query_frac"], "ratio"),
            "qgen.repeat_term_frac": (shares["repeat_term_frac"], "ratio"),
            "qgen.hits_per_query_p50": (
                _median([o["hits_total"] for o in traced if "hits_total" in o]), "count"),
            "wand.pruned_searches": (wand, "count"),
            "trace.overhead_ms": (traced_p50 - _median(untraced), "ms"),
            "trace.search_coverage": (_median(coverage), "ratio"),
            "bench.loop_searches": (len(traced), "count"),
            "bench.ops_failed_frac": (failed_frac, "ratio"),
        }


def _finite(v):
    v = float(v)
    return v if math.isfinite(v) else None


def _utf8_bytes(pdf) -> int:
    """Input size: UTF-8 bytes of the string fields plus the fixed
    widths of ``turn_idx`` (int32) and ``ts`` (int64 micros)."""
    n = 0
    for col in ("conv_id", "role", "text", "tool"):
        n += int(pdf[col].dropna().map(lambda v: len(v.encode("utf-8"))).sum())
    return n + len(pdf) * (4 + 8)


def _index_sizes(index_dir: str) -> dict:
    from perfbench.trace import dir_bytes

    data = os.path.join(index_dir, "data")
    dictionary = os.path.join(index_dir, "dictionary")
    return {
        "postings": dir_bytes(os.path.join(data, "_row=p")),
        "docmap": dir_bytes(os.path.join(data, "_row=d")),
        "dictionary": dir_bytes(dictionary),
        "dictionary_files": sum(1 for f in os.listdir(dictionary) if f.endswith(".parquet")),
    }


def _dictionary_blocks(index_dir: str) -> dict:
    """term -> posting blocks, read from the dictionary files directly."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(index_dir, "dictionary"), columns=["term", "n_blocks"])
    return dict(zip(t.column("term").to_pylist(), t.column("n_blocks").to_pylist()))


def _cpu_probe_s() -> float:
    """Single-core speed probe: a fixed 2M-iteration add loop."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return time.perf_counter() - t


def _cpu_times() -> tuple:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return "unknown"


def _box(spark, args, probe_start_s: float, cpu_start: tuple) -> dict:
    import platform

    import pyspark

    steal, total = _cpu_times()
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "nproc": len(os.sched_getaffinity(0)),
        # taken before and after the run: the box's speed can change,
        # and CPU time stolen by the host slows every timed layer
        "cpu_probe_s": [probe_start_s, _cpu_probe_s()],
        "cpu_steal_frac": (steal - cpu_start[0]) / max(1, total - cpu_start[1]),
        "cpu_model": _cpu_model(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }


def _stop(bench: Bench) -> None:
    """Stop the session and wait for its JVM, and with it the Python
    workers, to exit."""
    if bench.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    bench.spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus and batch size multiplier (the smoke test runs tiny)")
    args = ap.parse_args(argv)
    try:
        import opensearch_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and deletes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args)
    _isolate(bench.work)
    probe_start_s, cpu_start = _cpu_probe_s(), _cpu_times()
    try:
        result = bench.run()
        box = _box(bench.spark, args, probe_start_s, cpu_start)
    finally:
        try:
            _stop(bench)
        finally:
            shutil.rmtree(bench.work, ignore_errors=True)
    details = result.pop("details")
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    out = os.path.join(HERE, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as f:
        json.dump({"box": box, "result": result, "details": details}, f, default=str)
    summary = {k: v for k, v in details.items() if k not in ("spans", "ops")}
    print(json.dumps({"box": box, "details": summary}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
