"""The benchmark's workloads: set-up, one closed-loop client, correctness
checks outside every timed region, and the metrics a run reports.

Every workload builds its index ``N_SETUPS`` times into fresh
directories (the first build is cold) and serves queries from the last
one. The client is one thread that sends its next request only after the
previous answer has been collected. The first requests warm the session
up and are not timed.
"""

from __future__ import annotations

import os
import pickle
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass

from pyspark.sql import functions as F

from engine import query as Q
from engine.build import build_index
from engine.fixtures import make_transcripts, spark_transcripts
from engine.manifest import Manifest
from engine.oracle import OracleIndex
from engine.quiet import wait_quiet_busy
from engine.wand import score_shard_wand

from perfbench import streams
from perfbench.sparkmetrics import SQL_METRICS, PlanMetricDeltas, job_counts
from perfbench.spans import Tracer, layer_self_times, self_times
from perfbench.stats import (cycle_rates, median, min_samples, percentile,
                             supported_quantile)

K = 10
N_SETUPS = 2
TRANSCRIPT_CONVS = 3000     # ~19.5k turns
KERNEL_QUERY = "hot0 hot1 w002 w003 w005"
BATCH_SIZE = 20
MIN_QUERIES = min_samples(0.5)
HARD_CAP_S = 60.0
QUIET_WAIT_S = 10
KERNEL_REPS = 5
SCORE_TOL = 1e-9
BUILD_STAGES = ("docids", "base_counts", "write_docmap", "pack", "merge",
                "lexicon", "stats")
SPAN_LAYERS = {"query.analyze": "query.analyze_s",
               "query.lexicon": "query.lexicon_s",
               "query.plan": "query.plan_s",
               "query.exec": "query.exec_s",
               "request": "query.client_s"}


def _span(tracer, name: str, rid):
    return tracer.span(name, rid) if tracer is not None else nullcontext()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def vm_hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of process ``pid``, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


@dataclass
class Build:
    wall: float       # corpus generation + build_index
    build_s: float    # build_index alone
    index: object
    group: str


@dataclass
class Reference:
    """What the index must hold and return, computed without Spark."""
    n_docs: int
    dfs: dict         # probe term -> document frequency
    text_bytes: int
    oracle: OracleIndex


class Bench:
    """State of one run: the session, its scratch directory, the seed,
    the timed length and, for a traced run, the tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer() if trace else None


class Workload:
    """The transcript corpus, its oracle, set-up and the timed loop; the
    subclasses define the client's requests and how answers are checked.
    ``warmup`` requests go untimed before the timed region, which then
    runs whole cycles of ``cycle`` requests."""
    name = ""
    cycle = 1
    warmup = 0

    # ---- per-workload pieces ----
    def requests(self, seed: int) -> list:
        raise NotImplementedError

    def queries_in(self, req) -> list[tuple[str, str]]:
        """(query, mode) of every query in one request."""
        raise NotImplementedError

    def call(self, b: Bench, idx, req, rid):
        """Send one request; returns (DataFrame, collected rows)."""
        raise NotImplementedError

    def check(self, answers, want: dict) -> int:
        """Number of queries whose answer differs from ``want``, the
        oracle's answer to each (query, mode)."""
        raise NotImplementedError

    # ---- shared ----
    def setup(self, b: Bench, i: int) -> Build:
        group = f"build{i}"
        if b.tracer is not None:
            b.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        corpus = spark_transcripts(b.spark, n_convs=TRANSCRIPT_CONVS,
                                   seed=b.seed)
        t1 = time.perf_counter()
        idx = build_index(b.spark, corpus, os.path.join(b.work, group))
        t2 = time.perf_counter()
        return Build(t2 - t0, t2 - t1, idx, group)

    def build_failures(self, builds: list[Build], ref: Reference) -> int:
        bad = 0
        for bd in builds:
            got = bd.index.lookup_terms(sorted(ref.dfs))
            dfs = {t: int(got[t]["df"]) if t in got else 0 for t in ref.dfs}
            bad += bd.index.n_docs != ref.n_docs or dfs != ref.dfs
        return bad

    def timed_loop(self, b: Bench, idx, reqs: list) -> dict:
        """Send the first ``self.warmup`` requests untimed, then whole
        cycles of ``self.cycle`` requests until ``b.seconds`` have passed.
        Every answer, warm-up included, is kept for the checks."""
        tr = b.tracer
        pm = PlanMetricDeltas(b.spark._jvm) if tr is not None else None
        seen: dict = {}
        walls, lat, answers, traced, sql, hits = [], [], [], [], [], 0
        t0 = time.perf_counter()
        for i, req in enumerate(reqs):
            timed = i >= self.warmup
            if i == self.warmup:
                t0 = time.perf_counter()
            elif timed and (i - self.warmup) % self.cycle == 0:
                el = time.perf_counter() - t0
                if el >= HARD_CAP_S or (el >= b.seconds
                                        and len(lat) >= MIN_QUERIES):
                    break
            rid = f"r{i}"
            on = tr is not None and timed and i % 2 == 1
            if tr is not None:
                b.sc.setJobGroup(rid, rid)
            df = rows = None
            ts = time.perf_counter()
            try:
                with _span(tr if on else None, "request", rid):
                    df, rows = self.call(b, idx, req, rid if on else None)
            except Exception as e:  # a failed call is a failed operation
                print(f"perfbench: request {rid} failed: {e!r}",
                      file=sys.stderr)
            w = time.perf_counter() - ts
            answers.append((req, rows))
            key = repr(req)
            if df is not None:
                hits += timed and seen.get(key) is df
                seen[key] = df
            # sampled in warm-up too: a timed repeat reads its delta
            sample = (pm.sample(df) if pm is not None and df is not None
                      else None)
            if not timed:
                continue
            walls.append(w)
            lat.extend([w] * len(self.queries_in(req)))
            traced.append(on)
            if sample is not None:
                sql.append(sample)
        elapsed = time.perf_counter() - t0
        # per cycle, so that one stalled request moves one sample of the
        # median, not the whole figure
        rates = cycle_rates(walls, [len(self.queries_in(r))
                                    for r, _ in answers[self.warmup:]],
                            self.cycle)
        return {"walls": walls, "lat": lat, "answers": answers,
                "traced": traced, "sql": sql, "hits": hits,
                "rates": rates, "elapsed": elapsed}

    def run(self, b: Bench, session_s: float) -> tuple[dict, dict]:
        builds = [self.setup(b, i) for i in range(N_SETUPS)]
        if b.tracer is not None:
            b.sc.setLocalProperty("spark.jobGroup.id", None)
        idx = builds[-1].index
        reqs = self.requests(b.seed)
        ambient = wait_quiet_busy(max_wait_s=QUIET_WAIT_S)
        t_loop = time.perf_counter()
        loop = self.timed_loop(b, idx, reqs)
        # read before the reference exists: its memory is the benchmark's
        rss = {"jvm": vm_hwm_mb(b.spark._jvm.java.lang.ProcessHandle
                                .current().pid()),
               "python": vm_hwm_mb("self")}
        t_check = time.perf_counter()
        ref = reference(b.seed)
        failed = self.build_failures(builds, ref)
        n_queries = len(loop["lat"])
        want = oracle_answers(ref.oracle, [
            qm for req, _ in loop["answers"] for qm in self.queries_in(req)])
        failed += self.check(loop["answers"], want)
        phases = {"session": session_s,
                  "setups": sum(bd.wall for bd in builds),
                  "warmup": t_check - t_loop - loop["elapsed"],
                  "timed": loop["elapsed"],
                  "checks": time.perf_counter() - t_check}
        attempted = N_SETUPS + sum(len(self.queries_in(req))
                                   for req, _ in loop["answers"])

        lat = loop["lat"]
        q = supported_quantile(n_queries)
        metrics = {
            "setup_s": (session_s + median([bd.wall for bd in builds]), "s"),
            "peak_rss_mb": (rss["jvm"] + rss["python"], "MB"),
            "build_turns_per_s": (ref.n_docs / median(
                [bd.build_s for bd in builds[1:]]), "turns/s"),
            "index_bytes_per_text_byte": (dir_bytes(idx.index_dir)
                                          / ref.text_bytes, "ratio"),
            "query_p50_s": (median(lat), "s"),
            "queries_per_s": (median(loop["rates"]), "q/s"),
        }
        info = {"ambient": ambient, "queries": n_queries,
                "requests": len(loop["walls"]),
                "setup_walls_s": [round(bd.wall, 4) for bd in builds],
                "phases_s": {k: round(v, 2) for k, v in phases.items()},
                "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
                "tail": {"q": q, "value_s": percentile(lat, q)
                         if q else None}}
        if b.tracer is not None:
            metrics = self.layer_metrics(b, builds, idx, loop, info)
        return {"attempted": attempted, "failed": failed,
                "metrics": metrics}, info

    # ---- traced run: per-layer metrics ----
    def layer_metrics(self, b: Bench, builds, idx, loop, info) -> dict:
        m: dict = {}
        stages = [Manifest.load(bd.index.index_dir).metrics["stage_wall_s"]
                  for bd in builds]
        for name in BUILD_STAGES:
            vals = [sum(v for k, v in st.items()
                        if k == name or (name == "merge"
                                         and k.startswith("merge_pass")))
                    for st in stages]
            m[f"build.{name}_s"] = (median(vals), "s")
        m["build.unattributed_s"] = (median(
            [bd.build_s - sum(st.values()) for bd, st in zip(builds, stages)]),
            "s")
        man = Manifest.load(idx.index_dir)
        seg = man.segment(man.final_segment)
        m["build.segment_bytes"] = (dir_bytes(seg.path), "bytes")
        m["build.postings_rows"] = (seg.rows, "count")
        m["build.lexicon_terms"] = (idx.lexicon().count(), "count")
        _, tasks, failed = job_counts(b.sc, builds[-1].group)
        m["build.tasks"] = (tasks, "count")
        m["build.failed_tasks"] = (failed, "count")

        spans = b.tracer.spans
        per_layer = layer_self_times(spans)
        for span_name, metric in SPAN_LAYERS.items():
            m[metric] = (median(per_layer.get(span_name, [0.0])), "s")
        info["top_layer"] = max(SPAN_LAYERS.values(), key=lambda k: m[k][0])
        n_req = len(loop["walls"])
        m["query.plan_cache_hit_ratio"] = (loop["hits"] / n_req, "ratio")
        counts = [job_counts(b.sc, f"r{i}")
                  for i in range(self.warmup, self.warmup + n_req)]
        for j, name in enumerate(("query.jobs", "query.tasks",
                                  "query.failed_tasks")):
            m[name] = (median([c[j] for c in counts]), "count")
        for name, unit in SQL_METRICS.values():
            m[name] = (median([s[name] for s in loop["sql"]] or [0.0]), unit)
        queries = [qm for req, _ in loop["answers"]
                   for qm in self.queries_in(req)]
        routed = sum(mode == "OR" and Q.wand_routes(idx, q)
                     for q, mode in queries)
        m["query.wand_route_ratio"] = (routed / len(queries), "ratio")
        wand_ms, exh_ms = kernel_ms(idx, KERNEL_QUERY)
        m["kernel.wand_ms"] = (wand_ms, "ms")
        m["kernel.exhaustive_ms"] = (exh_ms, "ms")

        on = [w for w, t in zip(loop["walls"], loop["traced"]) if t]
        off = [w for w, t in zip(loop["walls"], loop["traced"]) if not t]
        m["trace.overhead_ratio"] = (median(on) / median(off) - 1.0, "ratio")
        own = self_times(spans)
        m["trace.span_coverage"] = (median(
            [1.0 - own[i] / (s.end - s.start)
             for i, s in enumerate(spans) if s.parent is None]), "ratio")
        m["trace.spans"] = (len(spans), "count")
        return m


def kernel_ms(idx, query: str) -> tuple[float, float]:
    """In-process time (ms, median of KERNEL_REPS) of the WAND and the
    exhaustive scorer over every shard payload of ``query``: the scoring
    work the query's scorer tasks do, without the job around it."""
    qt = Q.query_terms(query, idx.cfg.analyzer)
    lex = idx.lookup_terms(sorted(qt))
    qtfs = {t: float(n) for t, n in qt.items() if t in lex}
    idfs = {t: float(lex[t]["idf"]) for t in lex}
    post = (idx.postings()
            .filter(F.col("bucket").isin(sorted({lex[t]["bucket"]
                                                 for t in lex}))
                    & F.col("term").isin(sorted(lex)))
            .select("term", "shard", "df", "doc_ids", "tfs", "dls",
                    "blocks", "max_tf").toPandas())
    shards = [p.reset_index(drop=True) for _, p in post.groupby("shard")]
    cfg = {"k1": idx.cfg.bm25.k1, "b": idx.cfg.bm25.b, "avgdl": idx.avgdl}

    def timed(score):
        out = []
        for _ in range(KERNEL_REPS):
            t0 = time.perf_counter()
            for p in shards:
                score(p)
            out.append((time.perf_counter() - t0) * 1000.0)
        return median(out)

    return (timed(lambda p: score_shard_wand(p, qtfs, idfs, cfg, K,
                                             idx.shard_width)),
            timed(lambda p: Q._score_shard_exhaustive(
                p, qtfs, idfs, cfg, K, "OR", idx.shard_width, len(qtfs))))


def reference(seed: int) -> Reference:
    pdf = make_transcripts(TRANSCRIPT_CONVS, seed)
    oracle = OracleIndex(list(zip(range(len(pdf)), pdf.text)))
    probes = Q.query_terms("hot0 hot1 w020 rare3 ghost0 MiXeD-Case7!")
    return Reference(
        n_docs=len(pdf),
        dfs={t: len(oracle.postings.get(t, ())) for t in probes},
        text_bytes=sum(len(t.encode("utf-8")) for t in pdf.text),
        oracle=oracle)


def oracle_answers(oracle: OracleIndex, queries) -> dict:
    """The oracle's top-k of every distinct (query, mode). The pure-Python
    oracle takes ~30 ms a query, so forked children, one per core, each
    answer a share and pickle it back through a pipe; every child has
    been waited for on return."""
    todo = sorted(set(queries))
    n = max(1, min(len(todo), len(os.sched_getaffinity(0))))
    kids = []  # (pid, read end of its pipe, its share)
    try:
        for share in (todo[i::n] for i in range(n)):
            r, w = os.pipe()
            pid = os.fork()
            if pid == 0:
                code = 1
                try:
                    os.close(r)
                    with os.fdopen(w, "wb") as f:
                        pickle.dump([oracle.search(q, K, m)
                                     for q, m in share], f)
                    code = 0
                finally:
                    os._exit(code)
            os.close(w)
            kids.append((pid, os.fdopen(r, "rb"), share))
        got = {}
        for _, f, share in kids:
            got.update(zip(share, pickle.load(f)))
        return got
    finally:
        # a closed read end stops a child still writing (broken pipe)
        for pid, f, _ in kids:
            f.close()
            os.waitpid(pid, 0)


def _same(got, want) -> bool:
    """Same doc_id sequence and every score within SCORE_TOL."""
    return (got is not None and [d for d, _ in got] == [d for d, _ in want]
            and all(abs(g - w) <= SCORE_TOL
                    for (_, g), (_, w) in zip(got, want)))


class Serve(Workload):
    name = "serve"
    cycle = streams.REPEAT_EVERY  # each cycle holds exactly one repeat
    warmup = streams.REPEAT_EVERY

    def requests(self, seed):
        return streams.serve_stream(seed)

    def queries_in(self, req):
        return [req]

    def call(self, b, idx, req, rid):
        q, mode = req
        tr = b.tracer if rid else None
        if tr is not None:
            with tr.span("query.analyze", rid):
                qt = Q.query_terms(q, idx.cfg.analyzer)
            with tr.span("query.lexicon", rid):
                idx.lookup_terms(sorted(qt))
        with _span(tr, "query.plan", rid):
            df = Q.search(idx, q, k=K, mode=mode)
        with _span(tr, "query.exec", rid):
            rows = df.collect()
        return df, rows

    def check(self, answers, want):
        bad = 0
        for (q, mode), rows in answers:
            got = None if rows is None else [(r.doc_id, r.score)
                                             for r in rows]
            bad += not _same(got, want[(q, mode)])
        return bad


class Batch(Workload):
    name = "batch"
    cycle = 1
    warmup = 2

    def requests(self, seed):
        return streams.batch_stream(seed, size=BATCH_SIZE)

    def queries_in(self, req):
        return [(d["query"], d["mode"]) for d in req]

    def call(self, b, idx, req, rid):
        tr = b.tracer if rid else None
        if tr is not None:
            with tr.span("query.analyze", rid):
                terms = set()
                for d in req:
                    terms |= set(Q.query_terms(d["query"],
                                               idx.cfg.analyzer))
            with tr.span("query.lexicon", rid):
                idx.lookup_terms(sorted(terms))
        with _span(tr, "query.plan", rid):
            df = Q.search_batch(idx, req, k=K)
        with _span(tr, "query.exec", rid):
            rows = df.collect()
        return df, rows

    def check(self, answers, want):
        bad = 0
        for block, rows in answers:
            by: dict = {}
            for r in rows or ():
                by.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
            for d in block:
                got = by.get(d["id"], []) if rows is not None else None
                bad += not _same(got, want[(d["query"], d["mode"])])
        return bad


WORKLOADS = {w.name: w for w in (Serve(), Batch())}
